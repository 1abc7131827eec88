"""Checks that need a Spark session: generator ground truth against the
engine's `build_receipts`, and the event-log parser on a known job."""

from __future__ import annotations

import datetime as dt
import glob
import math
import os

import pytest

import eventlog
from invoices import make_file

RUN_DATE = dt.date(2030, 1, 15)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from fintech_etl_spark.session import build_session

    logs = tmp_path_factory.mktemp("events")
    s = build_session("perfbench-tests", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{logs}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    s.bench_event_dir = str(logs)
    yield s
    s.stop()


def test_ground_truth_matches_build_receipts(spark, tmp_path):
    from fintech_etl_spark.operators.receipts import build_receipts
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    truth = {}
    for i in range(20):
        body, t = make_file(5, i)
        (tmp_path / f"f{i}.csv").write_text(body)
        truth.update(t["receipts"])
    # the sample covers the fallback date, orphan rows and unknown vendor
    assert any(t["month"] is None for t in truth.values())
    assert any(t["vendor"] == "Unknown Vendor" for t in truth.values())

    rows = build_receipts(
        read_invoice_csv(spark, str(tmp_path / "*.csv")),
        run_date=RUN_DATE, per_file=True,
    ).collect()
    assert sorted(r.receipt_id for r in rows) == sorted(truth)
    for r in rows:
        t = truth[r.receipt_id]
        assert r.transaction_date.strftime("%Y-%m") == (t["month"] or "2030-01")
        assert r.vendor == t["vendor"]
        assert r.total_amount == t["total_amount"]
        assert math.isclose(r.subtotal, t["subtotal"], abs_tol=1e-6)
        assert r.item_count == t["item_count"]
        assert sum(li.qty for li in r.line_items) == t["qty"]


def test_eventlog_counts_a_known_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("tiny", "tiny")
    assert sc.parallelize(range(8), 4).map(lambda x: x * 2).sum() == 56
    sc.setJobGroup("other", "other")
    sc.parallelize(range(4), 2).count()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    [log] = glob.glob(os.path.join(spark.bench_event_dir, "*"))
    stats = eventlog.parse_file(log)
    tiny = stats["tiny"]
    assert (tiny.jobs, tiny.stages, tiny.tasks, tiny.failed_tasks) == (1, 1, 4, 0)
    assert stats["other"].tasks == 2
    both = eventlog.totals(stats, lambda g: g in ("tiny", "other"))
    assert (both.jobs, both.tasks) == (2, 6)
