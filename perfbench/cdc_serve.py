"""cdc_serve: the ingest path, then a serving loop on a lake table.

Ingest: a seeded change stream, written as N_CHUNKS x FILES_PER_CHUNK
parquet files, is replayed with ``run_replay`` (foreachBatch,
availableNow, ``write_metrics=True``) into a fresh 64-bucket table at
local[4]. ``maxFilesPerTrigger`` = FILES_PER_TRIGGER fixes the
micro-batch count at N_BATCHES whatever the host's core count.

Serve: a patch-enabled SERVE_BUCKETS-bucket table gets a base load and
PILE_BATCHES batches piled as deltas, and a replica follows it through
``ChangesFeed``. Each round, from one client in a closed loop, runs a
small ``merge_batch`` of I/U/D/P events, ``lookup()`` calls over a
seeded mix of live, hot and absent keys (LOOKUP_MIX) that read the
piled deltas, ``SizeTieredPolicy`` compaction of up to COMPACT_BUDGET
of the buckets it selects, and ``ChangesFeed.pump_into`` the replica.
Set-up replays the first micro-batch's files once, builds the serve
table and runs WARM_ROUNDS rounds, all untimed, so the measured
replays and rounds are not the JVM's first; then ingest is measured,
then serving.

Single-core baseline, in the traced run only: the SparkContext is
restarted at local[1] in the same JVM and the first micro-batch's
files are replayed once.

Checks against ``cdc/oracle.py``: the replayed table equals the max-seq
reduce of the log and every replay applied the expected batches; every
lookup equals the ordered-replay (patch) reducer's row, absent keys
return nothing; after the last round the serve table equals that
reducer and the replica equals the serve table; the local[1] table
equals the reduce of its files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import check
import common
import gen
import instrument
from spans import jobs_in

N_DOCS = 10_000
N_EVENTS = 48_000
N_CHUNKS = 8
FILES_PER_CHUNK = 4
FILES_PER_TRIGGER = 8
N_BATCHES = N_CHUNKS * FILES_PER_CHUNK // FILES_PER_TRIGGER
N_BUCKETS = 64
# Share of --seconds for ingest; serving gets the rest.
INGEST_SHARE = 0.4
# The serve table: patch-enabled, a base load plus PILE_BATCHES batches
# piled as deltas before the first round.
SERVE_DOCS = 3_000
SERVE_BUCKETS = 8
PILE_BATCHES = 1
ROUND_EVENTS = 300
# Lookups per round by key kind: live keys, the hot key, absent keys.
LOOKUP_MIX = {"live": 2, "hot": 1, "absent": 1}
# A bucket is folded once the round's merge lands on its piled deltas;
# a round folds at most COMPACT_BUDGET of the selected buckets (the
# lowest-numbered ones), a bounded maintenance step.
COMPACT_AT = PILE_BATCHES + 1
COMPACT_BUDGET = 4
WARM_ROUNDS = 1
# Every run measures at least this many replays and rounds, however
# short --seconds is: a single one carries the whole of whatever slow
# moment the shared host has during it.
MIN_REPLAYS = 2
MIN_ROUNDS = 2
HOT_KEY = "doc-00000000"

PARAMS = {
    "docs": N_DOCS,
    "events": N_EVENTS,
    "delete_fraction": 0.05,
    "hot_key_fraction": 0.01,
    "dup_fraction": 0.02,
    "shuffle_window": N_EVENTS // 64,
    "files": N_CHUNKS * FILES_PER_CHUNK,
    "max_files_per_trigger": FILES_PER_TRIGGER,
    "micro_batches": N_BATCHES,
    "buckets": N_BUCKETS,
    "serve_docs": SERVE_DOCS,
    "serve_buckets": SERVE_BUCKETS,
    "pile_batches": PILE_BATCHES,
    "patch_fraction": 0.2,
    "round_events": ROUND_EVENTS,
    "lookup_mix": LOOKUP_MIX,
    "compact_max_delta_files": COMPACT_AT,
    "compact_buckets_per_round": COMPACT_BUDGET,
    "warm_rounds": WARM_ROUNDS,
    "min_replays": MIN_REPLAYS,
    "min_rounds": MIN_ROUNDS,
    "ingest_share_of_seconds": INGEST_SHARE,
}


def _write_log(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    events = gen.change_events(
        rng,
        n_docs=N_DOCS,
        n_events=N_EVENTS,
        delete_fraction=PARAMS["delete_fraction"],
        hot_fraction=PARAMS["hot_key_fraction"],
    )
    gen.write_change_log(
        out_dir,
        events,
        rng,
        n_chunks=N_CHUNKS,
        files_per_chunk=FILES_PER_CHUNK,
        dup_fraction=PARAMS["dup_fraction"],
        shuffle_window=PARAMS["shuffle_window"],
    )


def _rows(log_dir: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, _, names in os.walk(log_dir)
        for n in names
    )


class _Replayer:
    def __init__(self, ctx: common.Ctx, cpu: common.CpuClock):
        self.ctx = ctx
        self.cpu = cpu
        self.n = 0

    def __call__(self, spark, log_dir: str) -> dict:
        from ml_data_pipeline_spark.cdc.apply import create_docs_table
        from ml_data_pipeline_spark.cdc.stream import run_replay

        self.n += 1
        root = self.ctx.path(f"table-{self.n}")
        create_docs_table(spark, root, n_buckets=N_BUCKETS)
        t0, c0 = time.monotonic(), self.cpu()
        with self.ctx.tracer.span("cdc.stream.run_replay", op=True) as rec:
            stats = run_replay(
                spark,
                root,
                log_dir,
                root + "-checkpoint",
                max_files_per_trigger=FILES_PER_TRIGGER,
                write_metrics=True,
            )
        wall = time.monotonic() - t0
        cpu = self.cpu() - c0
        # apply_batch walls as seen by run_replay, timed from outside
        # (instrument.install_timers): the engine's own wall_ms stops
        # before the metrics/lineage append.
        applies = self.ctx.tracer.named("cdc.apply.apply_batch", rec)
        batch_s = [a["end"] - a["start"] for a in applies]
        return {
            "root": root,
            "wall_s": wall,
            "cpu_s": cpu,
            "apply_s": sum(batch_s),
            "batches": stats["batches"],
            "skipped": stats["skipped"],
            "timed_batches": len(batch_s),
            "batch_ms": [1000.0 * b for b in batch_s],
        }


def _keys(rng, live: list[str]) -> list[tuple[str, bool]]:
    """(key, absent) pairs in LOOKUP_MIX's counts, in seeded order."""
    out = [(live[int(i)], False) for i in rng.integers(0, len(live), LOOKUP_MIX["live"])]
    out += [(HOT_KEY, False)] * LOOKUP_MIX["hot"]
    out += [
        (f"doc-{int(i):08d}", True)
        for i in rng.integers(SERVE_DOCS, 10**8, LOOKUP_MIX["absent"])
    ]
    return [out[i] for i in rng.permutation(len(out))]


def run(ctx: common.Ctx) -> dict:
    from ml_data_pipeline_spark.cdc.events import CHANGE_SCHEMA, DOC_SCHEMA
    from ml_data_pipeline_spark.cdc.oracle import (
        expected_state,
        expected_state_with_patches,
        load_events_pandas,
    )
    from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy
    from ml_data_pipeline_spark.lake.feed import ChangesFeed
    from ml_data_pipeline_spark.lake.table import LakeTable

    tr = ctx.tracer
    t0 = time.monotonic()
    log_dir, one_dir = ctx.path("log"), ctx.path("log-1c")
    _write_log(log_dir, ctx.seed)
    # The single-core baseline replays the first micro-batch's files.
    for c in range(FILES_PER_TRIGGER // FILES_PER_CHUNK):
        shutil.copytree(os.path.join(log_dir, f"chunk={c}"), os.path.join(one_dir, f"chunk={c}"))
    n_log, n_one = _rows(log_dir), _rows(one_dir)
    setup = {"inputs_s": time.monotonic() - t0}
    errors: list[str] = []

    def batches_ok(r: dict, want: int, cores: int) -> None:
        if r["batches"] != want or r["skipped"] or r["timed_batches"] != want:
            errors.append(
                f"local[{cores}] replay applied {r['batches']} batches "
                f"({r['skipped']} skipped, {r['timed_batches']} timed), "
                f"expected {want}"
            )

    t1 = time.monotonic()
    spark, setup["spark_start_s"] = common.build(ctx, common.CORES)
    jvm = common.jvm_pid(spark)
    cpu = common.CpuClock(jvm)
    replay = _Replayer(ctx, cpu)
    # Untimed warm-up replay of the first micro-batch's files: JIT,
    # Python workers, codegen. Measured replays start from a fresh
    # table each.
    warm_root = replay(spark, one_dir)["root"]
    shutil.rmtree(warm_root, ignore_errors=True)
    setup["local4_s"] = time.monotonic() - t1

    # --- serve set-up --------------------------------------------------
    t2 = time.monotonic()
    props = {"patch.enabled": "true"}
    src = LakeTable.create(spark, ctx.path("serve"), DOC_SCHEMA, "doc_id", SERVE_BUCKETS, props)
    dst = LakeTable.create(spark, ctx.path("replica"), DOC_SCHEMA, "doc_id", SERVE_BUCKETS, props)
    # The replica follows the table from its first (empty) snapshot.
    feed = ChangesFeed(src, ctx.path("feed-cursor.json"))
    rng = np.random.default_rng(ctx.seed + 1)
    frames: list[pd.DataFrame] = []
    seq = 0

    def batch(n_events: int, base: bool = False):
        """The next seeded batch: written to parquet for the engine,
        kept in pandas for the oracle. Returns (batch id, DataFrame)."""
        nonlocal seq
        ev = gen.change_events(
            rng,
            n_docs=SERVE_DOCS,
            n_events=n_events,
            seq_start=seq,
            delete_fraction=0.0 if base else PARAMS["delete_fraction"],
            hot_fraction=0.0 if base else PARAMS["hot_key_fraction"],
            patch_fraction=0.0 if base else PARAMS["patch_fraction"],
        )
        seq += n_events
        path = ctx.path("serve-batches", f"batch-{seq}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(ev, path)
        frames.append(ev.to_pandas())
        return seq, spark.read.schema(CHANGE_SCHEMA).parquet(path)

    for n, base in [(SERVE_DOCS, True)] + [(ROUND_EVENTS, False)] * PILE_BATCHES:
        bid, df = batch(n, base)
        src.merge_batch(df, batch_id=bid, stream_id="serve")
    policy = SizeTieredPolicy(max_delta_files=COMPACT_AT)
    walls = {"merge": [], "lookup": [], "compact": [], "pump": [], "round": [], "round_cpu": []}

    def serve_round(walls: dict) -> pd.DataFrame:
        """One round; appends its walls and returns the oracle state."""
        bid, df = batch(ROUND_EVENTS)
        state = expected_state_with_patches(pd.concat(frames, ignore_index=True))
        truth = {r["doc_id"]: r for r in state.to_dict("records")}
        keys = _keys(rng, sorted(truth))
        r0, c0 = time.monotonic(), cpu()
        with tr.span("lake.table.merge", op=True) as rec:
            src.merge_batch(df, batch_id=bid, stream_id="serve")
        r1 = time.monotonic()
        rec["attrs"]["delta_files_per_bucket"] = instrument.delta_files_per_bucket(src.snapshot)
        for key, absent in keys:
            l0 = time.monotonic()
            with tr.span("lake.table.lookup", op=True, absent=absent):
                rows = src.lookup(key).collect()
            walls["lookup"].append(time.monotonic() - l0)
            err = check.diff_lookup(rows, truth.get(key), key)
            if err:
                errors.append(f"lookup {err}")
        r2 = time.monotonic()
        with tr.span("lake.compaction.round", op=True):
            victims = policy.select_buckets(src.refresh())[:COMPACT_BUDGET]
            if victims:
                src.compact(buckets=victims)
        r3 = time.monotonic()
        with tr.span("lake.feed.pump", op=True):
            pumped = feed.pump_into(dst)
        r4 = time.monotonic()
        walls["round_cpu"].append(cpu() - c0)
        if not pumped["advanced"]:
            errors.append(f"pump_into did not advance after batch {bid}")
        walls["merge"].append(r1 - r0)
        walls["compact"].append(r3 - r2)
        walls["pump"].append(r4 - r3)
        walls["round"].append(r4 - r0)
        return state

    # Untimed warm-up rounds: the first lookup, compaction and pump of
    # the JVM are cold.
    warm: dict = {k: [] for k in walls}
    for _ in range(WARM_ROUNDS):
        serve_round(warm)
    # Every run enters the measured phases with the JVM heap just
    # collected.
    spark.sparkContext._jvm.System.gc()
    setup["serve_s"] = time.monotonic() - t2

    # --- ingest --------------------------------------------------------
    # Measured after the serve set-up, whose merges, commits and writes
    # run the apply path's code too: measured before it, a replay met
    # a JVM still compiling that code, and its CPU time spread as much
    # as its wall.
    start = time.monotonic()
    runs: list[dict] = []
    with tr.span("measure.ingest") as ingest:
        while len(runs) < MIN_REPLAYS or common.more(
            start, len(runs), ctx.seconds * INGEST_SHARE
        ):
            if runs:
                shutil.rmtree(runs[-1]["root"], ignore_errors=True)
            runs.append(replay(spark, log_dir))
            batches_ok(runs[-1], N_BATCHES, common.CORES)

    # --- serve ---------------------------------------------------------
    start = time.monotonic()
    with tr.span("measure.serve") as serve:
        while len(walls["round"]) < MIN_ROUNDS or common.more(
            start, len(walls["round"]), ctx.seconds * (1 - INGEST_SHARE)
        ):
            state = serve_round(walls)

    # Checks, untimed. The last replay's table is read here rather than
    # right after ingest: by now the read path is warm.
    expected = expected_state(load_events_pandas(log_dir))
    err = check.diff_docs(LakeTable.load(spark, runs[-1]["root"]).read().toPandas(), expected)
    if err:
        errors.append(f"replayed table != oracle: {err}")
    src_df = src.read().toPandas()
    err = check.diff_docs(src_df, state)
    if err:
        errors.append(f"serve table != oracle: {err}")
    err = check.diff_docs(dst.read().toPandas(), src_df)
    if err:
        errors.append(f"replica != serve table: {err}")
    one = None
    if ctx.trace:
        # --- single-core baseline ---------------------------------------
        spark.stop()
        spark, _ = common.build(ctx, 1)
        with tr.span("measure.local1"):
            one = replay(spark, one_dir)
        batches_ok(one, 1, 1)
        actual = LakeTable.load(spark, one["root"]).read().toPandas()
        err = check.diff_docs(actual, expected_state(load_events_pandas(one_dir)))
        if err:
            errors.append(f"local[1] table != oracle: {err}")
    rss = common.peak_rss_mb(jvm)
    spark.stop()

    apply_eps = n_log * len(runs) / sum(r["apply_s"] for r in runs)
    batch_ms = [b for r in runs for b in r["batch_ms"]]
    lookup_ms = [w * 1000.0 for w in walls["lookup"]]
    replay_wall = statistics.median(r["wall_s"] for r in runs)
    setup_s = setup["inputs_s"] + setup["local4_s"] + setup["serve_s"]
    rounds = len(walls["round"])
    named = {
        "apply_eps": (apply_eps, "events/s"),
        "replay_wall_s": (replay_wall, "s"),
        "apply_batch_p50_ms": (statistics.median(batch_ms), "ms"),
        "lookup_p50_ms": (statistics.median(lookup_ms), "ms"),
        "merge_p50_s": (statistics.median(walls["merge"]), "s"),
        "pump_p50_s": (statistics.median(walls["pump"]), "s"),
        "compact_p50_s": (statistics.median(walls["compact"]), "s"),
        "round_p50_s": (statistics.median(walls["round"]), "s"),
        "round_p50_ms": (1000.0 * statistics.median(walls["round"]), "ms"),
        "round_cpu_p50_ms": (1000.0 * statistics.median(walls["round_cpu"]), "ms"),
        "replay_cpu_s": (statistics.median(r["cpu_s"] for r in runs), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if one is not None:
        apply_eps_1c = n_one / one["apply_s"]
        named["apply_eps_1c"] = (apply_eps_1c, "events/s")
        named["scaling_efficiency"] = (apply_eps / (common.CORES * apply_eps_1c), "ratio")
    tail = common.tail_percentile(len(lookup_ms))
    if tail:
        named[f"lookup_p{tail}_ms"] = (common.percentile(lookup_ms, tail), "ms")
    out = {
        # Ingest gates the replay wall and apply throughput; serving
        # gates the CPU time of a round (merge, lookups, compaction and
        # pump), which load from other guests on the VM inflates far
        # less than the round's wall.
        "e2e": {
            "wall_s": replay_wall,
            "op_cpu_ms": 1000.0 * statistics.median(walls["round_cpu"]),
            "throughput_per_s": apply_eps,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
        },
        "named": named,
        "samples": {
            "replay_wall_s": [r["wall_s"] for r in runs],
            "replay_cpu_s": [r["cpu_s"] for r in runs],
            "apply_s": [r["apply_s"] for r in runs],
            "apply_batch_ms": batch_ms,
            "apply_s_local1": one and one["apply_s"],
            **{f"{k}_s": v for k, v in walls.items()},
        },
        "setup": setup,
        "params": dict(PARAMS, log_rows=n_log, local1_rows=n_one, replays=len(runs), rounds=rounds),
        # micro-batches, serve calls (warm-up rounds included) and the
        # table checks
        "attempted": sum(r["batches"] for r in runs)
        + 3 * (rounds + WARM_ROUNDS)
        + len(lookup_ms)
        + len(warm["lookup"])
        + 2
        + (2 if one else 0),
        "errors": errors,
        "op_span": "lake.table.lookup",
        "phases": [ingest, serve],
    }
    if ctx.trace:
        out["layers"] = lambda log: _layers(ctx, log, ingest, serve)
    return out


def _layers(ctx: common.Ctx, log: dict, ingest: dict, serve: dict) -> dict:
    """Ingest-layer numbers from the replays, serve-layer numbers from
    the rounds."""
    tr = ctx.tracer
    apply_s = tr.total("cdc.apply.apply_batch", ingest)
    ingest_writes = tr.named("lake.table.write_files", ingest)
    lookups = tr.named("lake.table.lookup", serve)
    merges = tr.named("lake.table.merge", serve)
    pumps = tr.named("lake.feed.pump_into", serve)
    prune = tr.total("lake.table.lookup_files", serve)
    refresh_in_lookups = sum(tr.total("lake.table.refresh", s) for s in lookups)
    n = max(1, len(lookups))
    out = instrument.counts(tr, ingest)
    out.update(
        {
            "cdc.stream.trigger_overhead_s": tr.total("cdc.stream.run_replay", ingest) - apply_s,
            "cdc.apply.advisory_s": apply_s - tr.total("lake.table.merge_batch", ingest),
            "lake.table.refresh_s": tr.total("lake.table.refresh", ingest),
            "lake.table.write_job_s": tr.total("lake.table.write_files", ingest),
            "lake.table.commit_s": tr.total("lake.table.commit", ingest),
            "spark.jobs_per_apply": len(jobs_in(log, tr.named("cdc.apply.apply_batch", ingest)))
            / max(1, len(tr.named("cdc.apply.apply_batch", ingest))),
            "serve.lake.table.write_job_s": tr.total("lake.table.write_files", serve),
            "serve.lake.table.commit_s": tr.total("lake.table.commit", serve),
            "lake.table.lookup_prune_ms": 1000.0 * prune / n,
            "lake.table.lookup_exec_ms": 1000.0
            * (tr.total("lake.table.lookup", serve) - prune - refresh_in_lookups)
            / n,
            "lake.compaction.compact_s": tr.total("lake.compaction.compact", serve),
            "lake.feed.poll_s": tr.total("lake.feed.poll", serve),
            "lake.feed.dest_merge_s": sum(
                s["end"] - s["start"]
                for s in tr.named("lake.table.merge_batch", serve)
                if any(p["start"] <= s["start"] <= p["end"] for p in pumps)
            ),
            "spark.jobs_per_merge": len(jobs_in(log, merges)) / max(1, len(merges)),
        }
    )
    serve_counts = instrument.counts(tr, serve)
    for k in (
        "lake.table.delta_files_per_bucket_mean",
        "lake.table.delta_files_per_bucket_max",
        "lake.table.lookup_files_scanned",
        "lake.bloom.absent_key_files_scanned",
        "lake.compaction.runs",
        "lake.compaction.bytes_rewritten",
        "lake.feed.changed_rows",
    ):
        out[k] = serve_counts[k]
    out.update(instrument.write_stages(log, ingest_writes))
    return out
