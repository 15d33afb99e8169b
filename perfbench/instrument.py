"""The engine entry points a traced run wraps in spans.

Span names follow the engine's module paths, so a layer's self time is
reported under the module that owns it.
"""

from __future__ import annotations

from spans import Tracer, jobs_in


def _files_written(rec, out, args, kwargs):
    rec["attrs"]["kind"] = kwargs.get("kind", args[2] if len(args) > 2 else None)
    rec["attrs"]["files"] = len(out)
    rec["attrs"]["bytes"] = sum(f.bytes for f in out)
    rec["attrs"]["rows"] = sum(f.rows for f in out)


def _files_probed(rec, out, args, kwargs):
    rec["attrs"]["files"] = len(out)


def _merge_result(rec, out, args, kwargs):
    rec["attrs"]["events_in"] = out.get("events_in") or 0
    rec["attrs"]["upsert_rows"] = out.get("upsert_rows") or 0


def install_timers(tracer: Tracer) -> None:
    """The wraps every run has, traced or not: ``apply_batch`` as
    ``run_replay`` calls it (it resolves the name from its own module
    globals), so apply walls include the metrics/lineage append."""
    from ml_data_pipeline_spark.cdc import stream as cdc_stream

    tracer.wrap(cdc_stream, "apply_batch", "cdc.apply.apply_batch")


def install(tracer: Tracer) -> None:
    """The wraps of a traced run, on top of ``install_timers``."""
    from ml_data_pipeline_spark.cdc import apply as cdc_apply
    from ml_data_pipeline_spark.lake import feed as lake_feed
    from ml_data_pipeline_spark.lake import table as lake_table
    from ml_data_pipeline_spark.lake.compaction import SizeTieredPolicy

    T = lake_table.LakeTable
    tracer.wrap(cdc_apply, "_record", "cdc.apply.record")
    tracer.wrap(T, "merge_batch", "lake.table.merge_batch", _merge_result)
    tracer.wrap(T, "_write_files", "lake.table.write_files", _files_written)
    tracer.wrap(T, "_write_snapshot", "lake.table.commit")
    tracer.wrap(T, "refresh", "lake.table.refresh")
    tracer.wrap(T, "lookup_files", "lake.table.lookup_files", _files_probed)
    tracer.wrap(T, "compact", "lake.compaction.compact")
    tracer.wrap(SizeTieredPolicy, "select_buckets", "lake.compaction.select")
    tracer.wrap(lake_feed.ChangesFeed, "poll", "lake.feed.poll")
    tracer.wrap(lake_feed.ChangesFeed, "pump_into", "lake.feed.pump_into", _merge_result)


def counts(tracer: Tracer, phase: dict) -> dict:
    """The per-layer counts every workload reports, from the spans of
    its measured phase (0 for a layer the workload does not reach)."""
    merges = tracer.named("lake.table.merge_batch", phase)
    merge_ids = {s["id"] for s in merges}
    delta = [
        s for s in tracer.named("lake.table.write_files", phase)
        if s["parent"] in merge_ids
    ]
    base = [
        s for s in tracer.named("lake.table.write_files", phase)
        if s["attrs"].get("kind") == "base"
    ]
    probes = tracer.named("lake.table.lookup_files", phase)
    by_id = {s["id"]: s for s in tracer.spans}
    absent = [p for p in probes if by_id[p["op"]]["attrs"].get("absent")]
    bytes_w = sum(s["attrs"]["bytes"] for s in delta)
    events = sum(s["attrs"]["events_in"] for s in merges)
    # (mean, max) delta files per bucket after each serve merge
    piled = [
        s["attrs"]["delta_files_per_bucket"]
        for s in tracer.named("lake.table.merge", phase)
        if "delta_files_per_bucket" in s["attrs"]
    ]
    return {
        "cdc.stream.batches": len(tracer.named("cdc.apply.apply_batch", phase)),
        "lake.table.commit_attempts": len(tracer.named("lake.table.commit", phase)),
        "lake.table.files_written": sum(s["attrs"]["files"] for s in delta),
        "lake.table.bytes_written": bytes_w,
        "lake.table.rows_written": sum(s["attrs"]["rows"] for s in delta),
        "lake.table.bytes_per_event": bytes_w / events if events else 0.0,
        "lake.table.delta_files_per_bucket_mean": (
            sum(p[0] for p in piled) / len(piled) if piled else 0.0
        ),
        "lake.table.delta_files_per_bucket_max": max((p[1] for p in piled), default=0),
        "lake.table.lookup_files_scanned": (
            sum(p["attrs"]["files"] for p in probes) / len(probes) if probes else 0.0
        ),
        "lake.bloom.absent_key_files_scanned": sum(p["attrs"]["files"] for p in absent),
        "lake.compaction.runs": len(tracer.named("lake.compaction.compact", phase)),
        "lake.compaction.bytes_rewritten": sum(s["attrs"]["bytes"] for s in base),
        "lake.feed.changed_rows": sum(
            s["attrs"]["upsert_rows"] for s in tracer.named("lake.feed.pump_into", phase)
        ),
    }


def delta_files_per_bucket(snap) -> tuple[float, int]:
    """(mean, max) delta files per bucket that holds any file."""
    per: dict[int, int] = {}
    for f in snap.files:
        per.setdefault(f.bucket, 0)
        if f.kind == "delta":
            per[f.bucket] += 1
    if not per:
        return 0.0, 0
    return sum(per.values()) / len(per), max(per.values())


def write_stages(log: dict, write_spans: list[dict]) -> dict:
    """Stage walls of the jobs that ``_write_files`` ran, split into
    scan + partial resolve (reads input files), final resolve (reads
    and writes a shuffle) and the bucket write (reads a shuffle, writes
    files)."""
    out = {
        "spark.stage.scan_resolve_s": 0.0,
        "spark.stage.final_resolve_s": 0.0,
        "spark.stage.bucket_write_s": 0.0,
    }
    seen = set()
    for j in jobs_in(log, write_spans):
        for k in j["stages"]:
            st = log["stages"].get(k)
            if st is None or k in seen or not st["tasks"]:
                continue
            seen.add(k)
            if st["input_bytes"] > 0:
                out["spark.stage.scan_resolve_s"] += st["wall_s"]
            elif st["shuffle_write_bytes"] > 0:
                out["spark.stage.final_resolve_s"] += st["wall_s"]
            else:
                out["spark.stage.bucket_write_s"] += st["wall_s"]
    return out
