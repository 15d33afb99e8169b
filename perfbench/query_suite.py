"""query_suite: registry queries over the shared test data at sf0.001.

The tables are the repository's shared test data at sf0.001
(TESTDATA.md), kept byte for byte under ``perfbench/data/sf0.001`` so
that a run reads only its checkout; ``SHA256SUMS`` there is checked
before every run. The seed sets only the order of the queries in each
pass. An untimed warm-up pass collects every query in QUERIES and
compares it with its ``oracle_sql()`` on DuckDB; the timed passes then
write each query to Spark's ``noop`` sink, which runs the full
computation without collecting. This workload never touches ``lake``
or ``cdc``.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

import check
import common

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
# The leaves the ROADMAP's open items target (q3, q5, semi-join, jdbc,
# avro, ngram, minhash LSH), one query each of the timeseries, text,
# arrow_ipc and multimodal modules. The whole registry (50 queries)
# does not fit one run's time budget on 4 vCPUs; kmeans_clusters and
# simhash_bucket_pairs (1-2 s a pass each) are left out for the same
# reason.
QUERIES = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "semi_join_parts_shipped",
    "pivot_event_type_counts",
    "jdbc_roundtrip_agg",
    "avro_roundtrip_agg",
    "arrow_ipc_roundtrip_agg",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "token_count_stats",
    "binary_payload_features",
)
PARAMS = {"data": "sf0.001", "lineitem_rows": 6000, "queries": list(QUERIES)}


def _module(fn) -> str:
    return fn.__module__.replace("ml_data_pipeline_spark.", "")


def verify_data(data: str = DATA) -> list[str]:
    """Files under ``data`` whose sha256 differs from its SHA256SUMS."""
    bad = []
    with open(os.path.join(data, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(data, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    bad.append(name)
    return bad


def run(ctx: common.Ctx) -> dict:
    import duckdb

    from ml_data_pipeline_spark import queries as registry
    from ml_data_pipeline_spark.sources.tables import TABLES

    tr = ctx.tracer
    t0 = time.monotonic()
    data = DATA
    bad = verify_data()
    errors = [f"test data differs from SHA256SUMS: {bad}"] if bad else []
    order = [QUERIES[i] for i in np.random.default_rng(ctx.seed).permutation(len(QUERIES))]
    spark, start_s = common.build(ctx)
    jvm = common.jvm_pid(spark)
    cpu = common.CpuClock(jvm)
    fns, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    for name in order:
        with tr.span("query.warmup", op=True, query=name):
            got = fns[name](spark, data).toPandas()
        err = check.diff_frames(got, con.sql(oracles[name]).df())
        if err:
            errors.append(f"{name} != oracle: {err}")
    con.close()
    setup_s = time.monotonic() - t0

    passes: list[dict[str, float]] = []
    cpu_passes: list[dict[str, float]] = []
    start = time.monotonic()
    with tr.span("measure") as phase:
        while common.more(start, len(passes), ctx.seconds):
            walls, cpus = {}, {}
            for name in order:
                fn = fns[name]
                q0, c0 = time.monotonic(), cpu()
                with tr.span("query.exec", op=True, query=name, module=_module(fn)):
                    fn(spark, data).write.format("noop").mode("overwrite").save()
                walls[name] = time.monotonic() - q0
                cpus[name] = cpu() - c0
            passes.append(walls)
            cpu_passes.append(cpus)
    rss = common.peak_rss_mb(jvm)
    spark.stop()

    suite = [sum(p.values()) for p in passes]
    per_query = {n: statistics.median(p[n] for p in passes) for n in QUERIES}
    median_ms = 1000.0 * statistics.median(per_query.values())
    # Each query counts alike, whatever its cost; unlike the median
    # query, the mean does not jump from one query to the next when
    # two of them swap ranks.
    gmean_ms = 1000.0 * statistics.geometric_mean(per_query.values())
    cpu_ms = 1000.0 * statistics.geometric_mean(
        statistics.median(p[n] for p in cpu_passes) for n in QUERIES
    )
    out = {
        "e2e": {
            "wall_s": statistics.median(suite),
            "op_cpu_ms": cpu_ms,
            "throughput_per_s": len(QUERIES) * len(passes) / sum(suite),
            "setup_s": setup_s,
            "peak_rss_mb": rss,
        },
        "named": {
            "suite_s": (statistics.median(suite), "s"),
            "query_p50_ms": (median_ms, "ms"),
            "query_gmean_ms": (gmean_ms, "ms"),
            "query_cpu_gmean_ms": (cpu_ms, "ms"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        },
        "samples": {"suite_s": suite, "query_s": passes, "query_cpu_s": cpu_passes},
        "setup": {"total_s": setup_s, "spark_start_s": start_s},
        "params": dict(PARAMS, order=order, passes=len(passes)),
        # every timed query, every warm-up oracle check, the data check
        "attempted": len(QUERIES) * (len(passes) + 1) + 1,
        "errors": errors,
        "op_span": "query.exec",
        "phases": [phase],
    }
    if ctx.trace:
        out["layers"] = lambda log: _layers(ctx, log, phase, len(passes))
    return out


def _layers(ctx: common.Ctx, log: dict, phase: dict, n_passes: int) -> dict:
    """Query-layer times per pass (the mean over the passes)."""
    import instrument
    from spans import union

    tr = ctx.tracer
    execs = tr.named("query.exec", phase)
    job_s = 0.0
    per_module: dict[str, float] = {}
    per_query: dict[str, float] = {}
    for s in execs:
        jobs = [j for j in log["jobs"] if s["start"] <= j["start"] <= s["end"]]
        job_s += union([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        m = s["attrs"]["module"]
        per_module[m] = per_module.get(m, 0.0) + s["end"] - s["start"]
        q = s["attrs"]["query"]
        per_query[q] = per_query.get(q, 0.0) + s["end"] - s["start"]
    wall = sum(s["end"] - s["start"] for s in execs)
    out = instrument.counts(tr, phase)
    out.update(
        {
            "query.driver_s": (wall - job_s) / n_passes,
            "query.job_s": job_s / n_passes,
        }
    )
    out.update({f"{m}.exec_s": v / n_passes for m, v in per_module.items()})
    out.update({f"query.{q}.exec_s": v / n_passes for q, v in per_query.items()})
    return out
