"""The single-file ingest path's fixed per-file cost and its contracts.

Pins what makes one small ingest cheap without changing its results:
parameter-free rule expressions built once per JVM gateway, and outbox
segments / delivery ledgers read with the schemas their writers use —
plus the cached receipts frame being released when a sink refuses a
write. Landing is pinned in ``test_streaming_sinks``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fintech_etl_spark.operators import receipts as ops_receipts
from fintech_etl_spark.operators.receipts import (
    OUTBOX_SCHEMA,
    build_receipts,
    to_webhook_payloads,
)
from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sinks.receipts import (
    _OUTBOX_DS,
    drain_webhook_outbox,
    outbox_batch_id,
)
from fintech_etl_spark.sinks.webhook import LEDGER_SCHEMA
from fintech_etl_spark.sources.invoice_csv import read_invoice_csv
from tests.test_receipts_pipeline import HEADER, ROWS, RUN_DATE, _write_fixture

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def _names_types(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


def _receipts(spark, tmp_path):
    return build_receipts(
        read_invoice_csv(spark, _write_fixture(tmp_path)),
        gcs_bucket="landing",
        gmail_id="g42",
        run_date=RUN_DATE,
        run_ts=1717200000,
        per_file=True,
    )


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# -- rule expressions built once per gateway ---------------------------------


def test_rule_expressions_are_memoized_per_gateway(spark, monkeypatch):
    item = ops_receipts.line_item_struct()
    assert ops_receipts.line_item_struct() is item
    # a different gateway object never receives the old Column, and the
    # memo lets go of the old gateway's Columns
    monkeypatch.setattr(SparkContext, "_gateway", object())
    other = ops_receipts.line_item_struct()
    assert other is not item
    assert ops_receipts.line_item_struct() is other
    monkeypatch.undo()
    assert ops_receipts.line_item_struct() is not item


def test_build_receipts_identical_across_calls_and_session_restart(tmp_path):
    """Two builds in one session and a third after ``spark.stop()`` and
    a new session in the same process collect identical rows. Runs in
    its own process: stopping the shared test session is not an
    option."""
    csv = _write_fixture(tmp_path)
    script = textwrap.dedent(
        f"""
        import datetime as dt, json
        from fintech_etl_spark.operators.receipts import (
            build_receipts, line_item_struct,
        )
        from fintech_etl_spark.session import build_session
        from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

        def rows(spark):
            df = build_receipts(
                read_invoice_csv(spark, {csv!r}), gmail_id="g42",
                run_date=dt.date(2024, 6, 1), run_ts=1717200000,
                per_file=True,
            )
            return [r.asDict(recursive=True) for r in df.collect()]

        spark = build_session("memo-a", shuffle_partitions=2)
        first, second = rows(spark), rows(spark)
        item = line_item_struct()
        spark.stop()
        spark = build_session("memo-b", shuffle_partitions=2)
        third = rows(spark)
        reused = line_item_struct() is item  # same gateway: memo hit
        spark.stop()
        print(json.dumps([first, second, third, reused], default=str))
        """
    )
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    first, second, third, reused = json.loads(out.strip().splitlines()[-1])
    assert reused
    assert [r["receipt_id"] for r in first] == ["INV1", "INV2"]
    assert first == second == third


# -- outbox and ledger read with known schemas --------------------------------


def test_wire_schemas_match_their_writers(spark, tmp_path):
    assert _names_types(to_webhook_payloads(_receipts(spark, tmp_path)).schema) == (
        _names_types(OUTBOX_SCHEMA)
    )
    ledger = str(tmp_path / "ledger")
    sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=lambda url, body, headers: 200,
        ledger_path=ledger,
    )
    batch_id = outbox_batch_id("segments/seg-a")
    res = sink.send_batch(to_webhook_payloads(_receipts(spark, tmp_path)), batch_id)
    assert res == {"sent": 2, "failed": 0, "skipped": 0}
    # what the append put on disk, as inference reads it back (an
    # outbox batch id is 60 bits, so inference types the partition long)
    assert _names_types(spark.read.parquet(ledger).schema) == (
        _names_types(LEDGER_SCHEMA)
    )


def test_ledger_of_previous_writer_reads_back_identically(spark, tmp_path):
    """A ledger laid out by the writer that predates LEDGER_SCHEMA
    (select order document_id, batch_id, delivered_at) reads the same
    through the explicit schema as through inference."""
    ledger = str(tmp_path / "ledger")
    b1, b2 = outbox_batch_id("segments/seg-a"), outbox_batch_id("segments/seg-b")
    (
        spark.createDataFrame(
            [("d1", b1), ("d2", b1), ("d2", b1), ("d3", b2), ("d4", 3)],
            "document_id string, batch_id long",
        )
        .select(
            "document_id",
            F.col("batch_id").cast("long").alias("batch_id"),
            F.current_timestamp().alias("delivered_at"),
        )
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(ledger)
    )
    inferred = spark.read.parquet(ledger)
    explicit = spark.read.schema(LEDGER_SCHEMA).parquet(ledger)
    assert explicit.schema == inferred.schema
    assert sorted(explicit.collect()) == sorted(inferred.collect())

    sink = WebhookSink(url="http://example.invalid/hook", ledger_path=ledger)
    got = sorted(sink._read_ledger_multi(spark, [b1, 3]).collect())
    assert got == sorted(
        inferred.filter(F.col("batch_id").isin([b1, 3]))
        .select("document_id", "batch_id")
        .distinct()
        .collect()
    )
    assert got == [("d1", b1), ("d2", b1), ("d4", 3)]

    missing = WebhookSink(
        url="http://example.invalid/hook", ledger_path=str(tmp_path / "none")
    )
    assert missing._read_ledger_multi(spark, [1]) is None


def test_empty_outbox_segment_drains_to_zero_sends(spark, tmp_path):
    lake = str(tmp_path / "lake")
    empty = _receipts(spark, tmp_path).filter(F.lit(False))
    res = write_receipts_parquet(
        empty, lake, transactional=True, batch_key="empty",
        outbox=to_webhook_payloads,
    )
    assert res["published"]
    assert len(mf.dataset_segments(lake, _OUTBOX_DS)) == 1
    posts = []
    sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=lambda url, body, headers: posts.append(body) or 200,
        ledger_path=str(tmp_path / "ledger"),
    )
    stats = drain_webhook_outbox(spark, lake, sink)
    assert (stats["batches"], stats["sent"], stats["failed"], stats["skipped"]) == (
        1, 0, 0, 0
    )
    assert len(stats["drained"]) == 1 and posts == []
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []


# -- the cached receipts frame is released when a sink refuses ---------------


def test_cli_refused_write_releases_cached_receipts(spark, tmp_path):
    from fintech_etl_spark import cli

    lake = str(tmp_path / "plain_lake")
    write_receipts_parquet(_receipts(spark, tmp_path), lake)  # a PLAIN lake
    before = _persistent_rdds(spark)
    with pytest.raises(ValueError, match="PLAIN"):
        cli._process(
            spark, _write_fixture(tmp_path), lake, None, transactional_lake=True
        )
    assert _persistent_rdds(spark) == before


def test_service_refused_write_releases_cached_receipts(spark, tmp_path):
    from fintech_etl_spark.service import EtlHttpService
    from fintech_etl_spark.sinks.receipts import SchemaEvolutionError

    lake = str(tmp_path / "tx_lake")
    # commit a lake whose item_count is a string: the service's int
    # item_count is then a refused type change
    write_receipts_parquet(
        _receipts(spark, tmp_path).withColumn(
            "item_count", F.col("item_count").cast("string")
        ),
        lake,
        transactional=True,
    )
    svc = EtlHttpService(spark, str(tmp_path / "landing"), lake_dir=lake)
    before = _persistent_rdds(spark)
    with pytest.raises(SchemaEvolutionError):
        svc._process(_write_fixture(tmp_path))
    assert _persistent_rdds(spark) == before


# -- the fixed cost itself ---------------------------------------------------

#: Spark jobs one warm single-file ``ingest --transactional-lake
#: --webhook`` runs under this suite's session
MAX_INGEST_JOBS = 19


def test_warm_cli_ingest_job_count(spark, tmp_path, monkeypatch):
    from fintech_etl_spark import cli

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    real_sink = cli.WebhookSink
    monkeypatch.setattr(
        cli,
        "WebhookSink",
        lambda url, **kw: real_sink(
            url=url, poster=lambda u, body, headers: 200, **kw
        ),
    )
    landing, lake = str(tmp_path / "landing"), str(tmp_path / "lake")
    sc = spark.sparkContext

    def ingest(i: int) -> int:
        csv = tmp_path / f"inv_{i}.csv"
        rows = [r.replace("INV", f"F{i}-INV", 1) for r in ROWS]
        csv.write_text(HEADER + "\n" + "\n".join(rows) + "\n")
        group = f"ingest-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job-count pin")
        try:
            assert cli.main(
                ["ingest", str(csv), "--landing", landing, "--lake", lake,
                 "--transactional-lake", "--webhook",
                 "http://example.invalid/hook"]
            ) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ingest(0)  # first file: creates the landing zone, lake and ledger
    jobs = ingest(1)
    assert jobs <= MAX_INGEST_JOBS, jobs
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    assert spark.read.parquet(os.path.join(landing, "_manifest")).count() == 2
