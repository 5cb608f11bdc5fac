"""Batch half of the `pipeline` workload: registry keys built and written
to the noop sink, one after another, by one client (closed loop).

Every key is first built once and its collected result checked against
the key's DuckDB oracle (untimed; this also warms the JVM and the Python
workers). Then whole passes over the keys, in a fixed order, are timed
until the given seconds are spent, and at least ``MIN_PASSES``: the first
pass holds each key's first noop write, which runs about a fifth slower
than later ones, so a run that fitted only one pass would report a slower
figure than one that fitted two. The keys read the fixed testdata, so no
input here depends on the seed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import oracle
from perfbench.tracing import storage_bytes

# One key per engine path, few enough that a pass fits the run: JVM
# scan+agg (overhead-bound control), a six-way shuffle join under AQE, the
# applyInPandas Python boundary, and a dedup fold behind an eager
# checkpoint barrier (io.fan_out_barrier).
KEYS = (
    "q_agg_groupby",
    "q_tpch_q5",
    "q_knn_join",
    "q_dedup_simhash",
)
MIN_PASSES = 2


def run(bench, seconds: float) -> dict:
    from cellbase_spark import registry, schemas

    spark = bench.spark
    sc = spark.sparkContext
    builders = registry.queries()
    sqls = registry.oracle_sql()
    cache = oracle.OracleCache(
        bench.sf_dir, os.path.join(bench.cache_dir, "oracle"), sorted(schemas.TABLE_NAMES)
    )
    tr = bench.tracer
    try:
        for key in KEYS:  # verify pass: untimed
            want = cache.expected(key, sqls[key])
            with tr.op(f"verify:{key}", sc):
                pdf = bench.attempt(key, lambda: builders[key](spark, bench.sf_dir).toPandas())
            if pdf is not None:
                why = oracle.mismatch(oracle.digest(pdf), want)
                bench.check(why is None, f"{key} vs oracle", why or "")
            bench.log(f"verified {key}")
    finally:
        cache.close()

    def build_and_write(key: str) -> None:
        with tr.span(f"queries.build:{key}"):
            df = builders[key](spark, bench.sf_dir)
        if bench.traced:  # checkpoint blocks this build pinned
            pinned.append(storage_bytes(sc))
        with tr.span(f"queries.exec:{key}"):
            df.write.format("noop").mode("overwrite").save()

    pinned: list[int] = []
    passes: list[float] = []
    per_key: dict[str, list[float]] = {k: [] for k in KEYS}
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        total = 0.0
        for key in KEYS:
            t0 = time.perf_counter()
            with tr.op(f"query:{key}", sc):
                bench.attempt(key, build_and_write, key)
            dt = time.perf_counter() - t0
            total += dt
            per_key[key].append(dt)
        passes.append(total)
        bench.log(f"pass {len(passes)}: {total:.3f}s")

    return {
        "pass_s": passes,
        "key_ms": [dt * 1000 for v in per_key.values() for dt in v],
        "key_s": {k: statistics.median(v) for k, v in per_key.items()},
        "pinned": pinned,
    }
