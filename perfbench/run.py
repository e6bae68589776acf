"""Outside-in benchmark of the engine.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The inputs are generated from
``--seed``; the workload is measured for ``--seconds``; the outputs
are checked. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it stamps the configuration that ran.
Traced runs also write their spans and the SQL executions each call
ran to ``.perfbench_out/{spans,executions}-<workload>-<seed>.jsonl``.

Everything the run writes stays inside the checkout, under
``.perfbench_work/`` (removed when the run ends) and
``.perfbench_out/``. The exit code is 0 when every check passed, 1
when a check failed, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback


def _stop_jvm() -> None:
    """Close the JVM the session launched and wait until it, and every
    process it started, has exited (the JVM exits when its standard
    input closes; its Python workers when the JVM is gone)."""
    from pyspark import SparkContext

    from memory import descendants, running

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants()
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while (alive := running(started)) and time.monotonic() < deadline + 5:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def end_to_end(res) -> tuple[dict, dict]:
    """The end-to-end metrics, and the sample counts behind them."""
    from statistics import median

    from spans import tail

    lat_tail, pct, n = tail(res.latencies)
    metrics = {
        "setup_s": (median(res.setup_s), "s"),
        "pass_s": (median(res.passes), "s"),
        "latency_p50_s": (median(res.latencies), "s"),
        "latency_tail_s": (lat_tail, "s"),
        "ops_per_s": (res.ops, "1/s"),
        "mem_mb": (res.mem_mb, "MB"),
    }
    samples = {"setup": len(res.setup_s), "passes": len(res.passes),
               "latencies": n, "tail_percentile": round(pct, 2)}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, samples


def per_layer(res, rss_bytes: int) -> dict[str, dict[str, float | str]]:
    from workloads import LAYER_UNITS

    layers = dict(res.layers)
    layers["bench.failed_ratio"] = res.failed / max(1, res.attempted)
    layers["bench.peak_rss_mb"] = rss_bytes / (1 << 20)
    return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "streaming_data_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("run from the root of a checkout of the engine "
              "(streaming_data_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tests")]

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file the engine writes inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the cores this process may use, not the host's
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Python workers unpickle closures that import the engine's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from memory import PeakRss
    from spans import Tracer
    from workloads import Context

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{int(time.time())}", enabled=bool(args.trace))
    ctx = Context(root=root, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    rss = PeakRss()
    rss.start()
    try:
        res = WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 — the run failed; no result line
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if tracer.enabled:
        out = os.path.join(root, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        with open(os.path.join(out, f"executions-{args.workload}-{args.seed}.jsonl"), "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in res.executions)
    for p in res.problems[:20]:
        print(f"FAILED: {p}", file=sys.stderr)
    if tracer.enabled:
        metrics, samples = per_layer(res, rss.peak_bytes), {}
    else:
        metrics, samples = end_to_end(res)
    print(json.dumps({"config": {"workload": args.workload, "trace": args.trace, **res.config},
                      "samples": samples}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
