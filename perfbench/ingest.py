"""Workload ``invoice_ingest``: the reference's own dataflow, one file per op.

Each operation writes one seeded vendor-invoice CSV and runs the CLI's
``ingest`` command in process: land the raw file, build nested receipts,
commit them to a transactional lake with a webhook outbox, and drain the
outbox to a receiver in this process. Every third operation is followed
by a month-ranged lake read. Five ingests and one read warm up first and
are not timed.

Checks per operation: the receiver got exactly the file's receipts with
the ground-truth month, totals, item count and line quantities; a ranged
read counts what the ground truth says. At the end the lake's count and
amount total match and ``manifest.fsck`` is ok.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import random
import statistics
import sys
import time

from invoices import make_file
from receiver import Receiver

# ingest latency of a fresh JVM keeps falling for its first five files
WARMUP_INGESTS = 5
READ_EVERY = 3
# the median of five or more ingests keeps most of the per-file jitter
# (about ±10%) out of the run-to-run spread
MIN_OPS = 5


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _check_docs(docs: list[dict], truth: dict, run_months: set[str]) -> str:
    """'' when the delivered documents match the file's ground truth."""
    want = truth["receipts"]
    by_id = {d["receiptId"]: d for d in docs}
    if sorted(by_id) != sorted(want):
        return f"receipts {sorted(by_id)} != {sorted(want)}"
    if len({d["document_id"] for d in docs}) != len(want):
        return "document_ids not one per receipt"
    for rid, t in want.items():
        d = by_id[rid]
        months = {t["month"]} if t["month"] else run_months
        got = {
            "month": d["transactionDate"][:7],
            "vendor": d["vendor"],
            "total_amount": d["totalAmount"],
            "subtotal": d["subtotal"],
            "item_count": d["itemCount"],
            "qty": sum(li["qty"] for li in d["lineItems"]),
        }
        if (got["month"] not in months or got["vendor"] != t["vendor"]
                or not _close(got["total_amount"], t["total_amount"])
                or not _close(got["subtotal"], t["subtotal"])
                or got["item_count"] != t["item_count"]
                or got["qty"] != t["qty"]):
            return f"receipt {rid}: got {got}, want {t}"
    return ""


def _month_range(seed: int, i: int, run_month: str) -> tuple[str, str]:
    """Seeded inclusive month range; every other one reaches the run
    month, so receipts with a fallback date are counted too."""
    rng = random.Random(f"range-{seed}-{i}")
    lo = rng.randrange(24)
    hi = min(lo + rng.randrange(1, 13), 23)
    month = lambda k: f"{2024 + k // 12}-{k % 12 + 1:02d}"
    return month(lo), run_month if i % 2 else month(hi)


def _du(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run(r) -> None:
    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import manifest
    from fintech_etl_spark.sinks import receipts as sink_receipts

    inbox, lake, landing = r.path("inbox"), r.path("lake"), r.path("landing")
    spark = r.start_spark()
    tracer = r.tracer
    run_months = {dt.date.today().strftime("%Y-%m")}
    truth: dict[str, dict] = {}  # receipt_id -> ground truth, all ingested
    csv_bytes = 0
    reads: list[float] = []
    segments: list[int] = []

    with Receiver() as recv:

        def ingest(i: int, op: str) -> float:
            nonlocal csv_bytes
            body, t = make_file(r.seed, i)
            name = f"inv_{r.seed}_{i:05d}.csv"
            path = os.path.join(inbox, name)
            with open(path, "w") as f:
                f.write(body)
            seen = len(recv.docs)
            r.group(f"{op}:action")
            argv = ["ingest", path, "--landing", landing, "--lake", lake,
                    "--transactional-lake", "--webhook", recv.url]
            t0 = time.perf_counter()
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    cli.main(argv)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                r.record(False, f"{op} ingest {name}: {exc!r}")
                return time.perf_counter() - t0
            elapsed = time.perf_counter() - t0
            run_months.add(dt.date.today().strftime("%Y-%m"))
            csv_bytes += len(body.encode())
            truth.update(t["receipts"])
            docs = [d for d in recv.snapshot()[seen:]
                    if d["source_file"].endswith("/" + name)]
            try:
                err = _check_docs(docs, t, run_months)
            except (KeyError, TypeError) as exc:
                err = f"malformed receipt document: {exc!r}"
            r.record(not err, f"{op} {name}: {err}")
            return elapsed

        def lake_read(i: int, op: str) -> float:
            lo, hi = _month_range(r.seed, i, max(run_months))
            want = sum(
                lo <= m <= hi
                for t in truth.values()
                for m in [t["month"] or max(run_months)])
            segments.append(len(
                manifest.current(lake)["datasets"]["receipts"]))
            t0 = time.perf_counter()
            try:
                r.group(f"{op}.read:construct")
                df = sink_receipts.read_receipts(spark, lake, months=(lo, hi))
                r.group(f"{op}.read:action")
                with tracer.span("spark.action"):
                    got = df.count()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                r.record(False, f"{op} read {lo}..{hi}: {exc!r}")
                return time.perf_counter() - t0
            elapsed = time.perf_counter() - t0
            r.record(got == want, f"{op} read {lo}..{hi}: {got} != {want}")
            return elapsed

        for w in range(WARMUP_INGESTS):
            with tracer.span("op", op=f"w{w}"):
                ingest(w, f"w{w}")
        with tracer.span("op", op="w-read"):
            lake_read(0, "w-read")
        segments.clear()
        r.mark("warmup")

        def step(k: int) -> None:
            op = f"m{k}"
            with tracer.span("op", op=op):
                r.op_times.append(ingest(WARMUP_INGESTS + k, op))
                if k % READ_EVERY == READ_EVERY - 1:
                    reads.append(lake_read(k + 1, op))

        r.loop(step, min_ops=MIN_OPS)
        posts = recv.snapshot()

    # end-of-run checks, one counted operation
    r.group("final:action")
    want_amt = math.fsum(t["total_amount"] for t in truth.values())
    try:
        row = sink_receipts.read_receipts(spark, lake).selectExpr(
            "count(*) AS n", "sum(total_amount) AS amt").first()
        fsck = manifest.fsck(lake)
    except Exception as exc:  # noqa: BLE001 - a failed check is counted
        r.record(False, f"final: {exc!r}")
    else:
        ok = (row["n"] == len(truth) and _close(row["amt"] or 0.0, want_amt)
              and fsck["ok"])
        r.record(ok, f"final: count {row['n']} vs {len(truth)}, amount "
                     f"{row['amt']} vs {want_amt}, fsck {fsck.get('errors')}")

    n_ops = max(len(r.op_times), 1)
    r.layers.update({
        "sinks.webhook.posts": len(posts) / (n_ops + WARMUP_INGESTS),
        "sinks.webhook.delivered_ratio":
            len({d.get("document_id") for d in posts}) / max(len(posts), 1),
        "sinks.lake_segments": statistics.mean(segments) if segments else 0.0,
        "sinks.lake_read_p50_s": statistics.median(reads) if reads else 0.0,
        "sinks.lake_bytes_per_input_byte":
            _du(lake, landing) / max(csv_bytes, 1),
    })
    r.diag.update({
        "files_ingested": n_ops + WARMUP_INGESTS,
        "receipts": len(truth),
        "csv_bytes": csv_bytes,
        "lake_read_s": [round(x, 4) for x in reads],
        "lake_segments_at_read": segments,
        "lake_bytes_per_input_byte": r.layers["sinks.lake_bytes_per_input_byte"],
    })
