"""One workload in one Python process (and its one JVM).

Started by run.py, never by hand: ``worker.py <workload> <seed>
<seconds> <trace> <work_dir> <result_json>``. It writes its result as
JSON and exits; run.py prints it.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import cdc_serve  # noqa: E402
import common  # noqa: E402
import instrument  # noqa: E402
import query_suite  # noqa: E402
from spans import Tracer, read_event_logs, spark_metrics  # noqa: E402

WORKLOADS = {"cdc_serve": cdc_serve, "query_suite": query_suite}


def main(argv: list[str]) -> int:
    name, seed, seconds, trace, work, out_path = argv
    ticks = common.cpu_ticks()
    ctx = common.Ctx(
        work=work,
        seed=int(seed),
        seconds=float(seconds),
        trace=trace == "1",
        tracer=Tracer(),
    )
    for d in ("tmp", "spark-local"):
        os.makedirs(ctx.path(d), exist_ok=True)
    instrument.install_timers(ctx.tracer)
    if ctx.trace:
        instrument.install(ctx.tracer)
    try:
        res = WORKLOADS[name].run(ctx)
    except Exception:  # noqa: BLE001 — reported to run.py, which fails the run
        with open(out_path, "w") as f:
            json.dump({"crash": traceback.format_exc()}, f)
        return 1
    finally:
        ctx.tracer.restore()

    result = {k: res[k] for k in ("e2e", "named", "samples", "setup", "params", "attempted", "errors")}
    result["fingerprint"] = common.fingerprint(ctx.seed, ticks)
    if ctx.trace:
        log = read_event_logs(ctx.event_log_dir)
        layers = spark_metrics(log, ctx.tracer, res["phases"], res["op_span"])
        layers.update(res["layers"](log))
        layers["trace.spans"] = len(ctx.tracer.spans)
        result["layers"] = layers
        result["self_s"] = ctx.tracer.self_times()
        ctx.tracer.dump(ctx.path("spans.json"))
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
