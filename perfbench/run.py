"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload cdc_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in a child process
(worker.py) with its own JVM; this process starts no Spark itself.
It prints the host fingerprint, every metric by name and unit, and as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_serve", "query_suite")
WORKER_TIMEOUT_S = 170
HISTORY_KEEP = 50
# Fingerprint fields that must match for two runs to be compared.
HOST_KEYS = ("nproc", "cores_used", "pyspark", "java", "python", "driver_memory")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_worker(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Run worker.py in its own session; kill whatever it leaves."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        workload,
        str(seed),
        str(seconds),
        "1" if trace else "0",
        work,
        out,
    ]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        _reap(proc)
    if not os.path.exists(out):
        raise RuntimeError(f"{workload} worker exited {proc.returncode} without a result")
    with open(out) as f:
        res = json.load(f)
    if "crash" in res:
        raise RuntimeError(f"{workload} worker failed:\n{res['crash']}")
    return res


def _session(sid: int) -> list[int]:
    """Pids of the processes in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def _reap(proc: subprocess.Popen) -> None:
    """Kill everything in the worker's session (its JVM and the Spark
    Python daemon, which moves to a process group of its own) and wait
    until every member has exited."""
    deadline = time.monotonic() + 30
    while True:
        for pid in _session(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        if not _session(proc.pid) or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    proc.wait()


def code_hash() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so
    untraced runs of other code are never used as a reference."""
    h = hashlib.sha256()
    for top in ("ml_data_pipeline_spark", "perfbench"):
        for d, dirs, names in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _same_setup(a: dict, b: dict) -> bool:
    return a.get("code") == b.get("code") and all(a.get(k) == b.get(k) for k in HOST_KEYS)


def _history(workload: str, add: dict | None = None) -> list[dict]:
    """Results of earlier correct untraced runs in this checkout; with
    ``add``, append one (the newest HISTORY_KEEP are kept)."""
    path = os.path.join(HERE, "out", f"{workload}-untraced.jsonl")
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    if add is not None:
        rows = (rows + [add])[-HISTORY_KEEP:]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
    return rows


def _untraced_reference(workload: str, fp: dict) -> tuple[list[dict], str]:
    """End-to-end metrics of untraced runs of the same code on the
    same kind of host to measure the tracing overhead against: this
    checkout's history, else the committed baseline, else none."""
    rows = [r["e2e"] for r in _history(workload) if _same_setup(r["fingerprint"], fp)]
    if rows:
        return rows, f"{len(rows)} untraced runs in this checkout"
    with open(os.path.join(HERE, "baseline.json")) as f:
        runs = json.load(f)["workloads"][workload]["runs"]
    rows = [r["e2e"] for r in runs if _same_setup(r["fingerprint"], fp)]
    return rows, f"{len(rows)} untraced runs of baseline.json"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still reaps its worker and deletes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "ml_data_pipeline_spark")):
        print(
            f"perfbench: no engine next to {HERE} (expected "
            f"{ROOT}/ml_data_pipeline_spark); run from a full checkout",
            file=sys.stderr,
        )
        return 2
    spec = _spec()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = _run_worker(args.workload, args.seed, args.seconds, bool(args.trace), work)
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            shutil.copy(
                os.path.join(work, "spans.json"),
                os.path.join(HERE, "out", f"{args.workload}-spans.json"),
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    failed = len(res["errors"])
    res["fingerprint"]["code"] = code_hash()
    if args.trace:
        ref, source = _untraced_reference(args.workload, res["fingerprint"])
        res["layers"]["trace.overhead_reference"] = source
        for name, value in e2e.items():
            if ref:
                med = statistics.median(r[name] for r in ref)
                res["layers"][f"trace.overhead.{name}"] = value - med
                res["layers"][f"trace.overhead_pct.{name}"] = 100.0 * (value / med - 1.0)
    elif not failed:
        _history(
            args.workload,
            {k: res[k] for k in ("fingerprint", "e2e", "named", "samples", "attempted")},
        )

    attempted = int(res["attempted"])
    print("perfbench host " + json.dumps(res["fingerprint"], sort_keys=True))
    print(f"perfbench {args.workload} params " + json.dumps(res["params"], sort_keys=True))
    print("perfbench setup_s " + json.dumps(res["setup"], sort_keys=True))
    print("perfbench samples " + json.dumps(res["samples"], sort_keys=True))
    for err in res["errors"]:
        print(f"perfbench FAILED: {err}")
    named = dict(res["named"], error_rate=(failed / attempted, "ratio"))
    for name, (value, unit) in named.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    if args.trace:
        print("perfbench self time per span (s) " + json.dumps(res["self_s"], sort_keys=True))
        want = {m["name"]: m["unit"] for m in spec["per_layer"]}
        extra = {k: v for k, v in res["layers"].items() if k not in want}
        print("perfbench layers " + json.dumps(extra, sort_keys=True))
        metrics = {n: {"value": res["layers"][n], "unit": u} for n, u in want.items()}
    else:
        want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in want.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
