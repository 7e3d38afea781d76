"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> \\
        --seconds <s> --trace <0|1> [--scale full|smoke]

Runs one workload against the public entry points of galaxy_spark,
checks every output, and prints as its LAST stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, and a
sidecar with the full layer record is written under ``.perfbench/``.
Workloads, metrics and the layer map are described in
``perfbench/README.md``.

The process started from the command line only supervises: it runs
the workload in a child process and, once the child has ended, stops
and reaps every process the run left behind (the Spark JVM outlives
its Python driver by about a second, and PySpark's worker daemon puts
itself in a process group of its own). It is made a child subreaper,
so processes orphaned during the run are re-parented to it and cannot
escape that sweep.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("cdc_backfill", "dedup_stream")
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "batch_latency_s": "s"}
#: the workload child is killed after this long; the contract allows 180 s
CHILD_TIMEOUT_S = 170
#: how long leftover processes get to end after the child, after
#: SIGTERM and after SIGKILL
GRACE_S = (5.0, 10.0, 10.0)
PR_SET_CHILD_SUBREAPER = 36


def run_workload(name: str, seed: int, seconds: float, scale: str):
    if name == "cdc_backfill":
        from cdc import run_backfill
        return run_backfill(seed, seconds, scale)
    from dedup import run_dedup
    return run_dedup(seed, seconds, scale)


def _descendants(root: int) -> list[int]:
    """Every live or zombie process below ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Let leftover processes end, then SIGTERM, then SIGKILL them;
    return once none is left and every one is reaped."""
    me = os.getpid()
    for sig, grace in zip((None, signal.SIGTERM, signal.SIGKILL), GRACE_S):
        if sig is not None:
            for pid in _descendants(me):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        t_end = time.monotonic() + grace
        while True:
            _reap()
            if not _descendants(me):
                return
            if time.monotonic() > t_end:
                break
            time.sleep(0.05)


def supervise() -> int:
    """Run this script's workload in a child; stop what it leaves."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a SIGTERM to the supervisor still runs the sweep below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                  *sys.argv[1:], "--worker"])
        return child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload child exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if child is not None and child.poll() is None:
            child.kill()
        stop_descendants()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not a.worker:
        return supervise()

    common.prepare_env()
    import galaxy_spark  # noqa: F401  (fail fast outside a checkout)

    canary = common.host_canary()
    if a.trace:
        from trace_run import run_traced
        res = run_traced(a.workload, a.seed, a.seconds, a.scale)
        res.layers.update({f"host.{k}": (v, "s") for k, v in canary.items()})
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in sorted(res.layers.items())}
    else:
        res = run_workload(a.workload, a.seed, a.seconds, a.scale)
        metrics = {k: {"value": res.e2e[k], "unit": E2E_UNITS[k]}
                   for k in E2E_UNITS}
    res.detail["host_canary"] = canary
    res.detail["error_rate"] = res.failed / max(res.attempted, 1)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "scale": a.scale, "e2e": res.e2e, "layers": res.layers,
              "detail": res.detail,
              "problems": res.problems}
    os.makedirs(os.path.join(common.WORK, "results"), exist_ok=True)
    with open(os.path.join(common.WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("detail " + json.dumps({k: record[k] for k in
                                  ("workload", "detail", "problems")},
                                 default=str))
    print(json.dumps({"correct": res.correct and not res.failed,
                      "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
