"""Workload ``corpus_dedup``: LLM-corpus registry queries, one pass per op.

Inputs are the star tables generated at ``SF`` by
``tools/gen_scale_data.generate`` with the run's seed (the queries read
``documents`` and ``embeddings``). One operation is one pass over the
three queries below, each built with ``queries()[name](spark, sf_dir)``
and run to a ``noop`` sink; the seed permutes the query order in every
pass. Most of a pass runs inside query construction: barrier
materialisations and an iterative k-means fit. A pass of three queries
takes about 3 s, so a run times at least four of them and their median
filters out a pass slowed by a burst of load on the host.

Four untimed passes warm up first. The first is also the output
check: every query is collected and compared with its
``registry.oracle_sql()`` run by DuckDB on the same parquet files,
using the normalisation of ``tools/check_correctness.py``.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
from collections import defaultdict

SF = 0.01
WARMUP_PASSES = 3
MIN_PASSES = 4
QUERIES = (
    "dedup_ngram_jaccard_capped",
    "dedup_semantic_semdedup",
    "corpus_dsir_select",
)
TABLES = ("documents", "embeddings")


def order(seed: int, p: int) -> list[str]:
    names = list(QUERIES)
    random.Random(f"order-{seed}-{p}").shuffle(names)
    return names


def _oracle_check(r, spark, fns, oracles, sf_dir) -> None:
    import duckdb

    from tools.check_correctness import _norm_rows

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{r.path('duckdb')}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for q in order(r.seed, -1):
        try:
            r.group(f"w.{q}:construct")
            df = fns[q](spark, sf_dir)
            r.group(f"w.{q}:action")
            cols, rows = df.columns, [tuple(x) for x in df.collect()]
            cur = con.execute(oracles[q])
            duck = _norm_rows([d[0] for d in cur.description], cur.fetchall())
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            r.record(False, f"check {q}: {exc!r}")
            continue
        mine = _norm_rows(cols, rows)
        r.record(mine == duck, f"check {q}: spark {len(mine[1])} rows, "
                               f"oracle {len(duck[1])} rows differ")
    con.close()


def run(r) -> None:
    import tools.gen_scale_data as gen
    from fintech_etl_spark import registry

    sf_dir = r.path("data")
    gen.SEED = r.seed
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(SF, sf_dir)
    r.mark("generate")
    fns, oracles = registry.queries(), registry.oracle_sql()
    spark = r.start_spark()
    tracer = r.tracer
    per_query: dict[str, list[float]] = defaultdict(list)

    with tracer.span("op", op="w"):
        _oracle_check(r, spark, fns, oracles, sf_dir)
    r.mark("check")

    def step(p: int, op: str) -> float:
        t0 = time.perf_counter()
        with tracer.span("op", op=op):
            for q in order(r.seed, p):
                tq = time.perf_counter()
                try:
                    r.group(f"{op}.{q}:construct")
                    with tracer.span("operators.construct"):
                        df = fns[q](spark, sf_dir)
                    r.group(f"{op}.{q}:action")
                    with tracer.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    r.record(False, f"{op} {q}: {exc!r}")
                    continue
                per_query[q].append(time.perf_counter() - tq)
                r.record(True)
        return time.perf_counter() - t0

    # untimed noop passes until the JVM's JIT has settled: pass times
    # keep dropping for the first four passes of a fresh JVM
    for w in range(WARMUP_PASSES):
        step(-1 - w, f"w{w + 1}")
    per_query.clear()
    r.mark("warmup")
    r.loop(lambda p: r.op_times.append(step(p, f"m{p}")), min_ops=MIN_PASSES)
    r.diag["per_query_median_s"] = {
        q: round(statistics.median(v), 4) for q, v in sorted(per_query.items())}
