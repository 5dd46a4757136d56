"""Benchmark of the shipped glonassdatamining_spark program.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run starts a fresh worker process
(``worker.py``) that brings the session up, loads the registry and runs
the workload's registered queries in a closed loop with one client: a
builder call, then a JVM-side ``noop`` write, and the next query starts
when that write has finished. The first pass is the cold pass; warm
passes follow until ``--seconds`` have passed, and there are never fewer
than four, so that with a short ``--seconds`` the warm pass count stays
fixed (later passes run faster as the JIT warms, so a pass count that
varied with speed would bias ``pass_s``). Every
query's output is then checked, untimed, against its DuckDB oracle or
its recorded row count. ``setup_s`` is the worker's own set-up: one
sample per run, because a second fresh JVM would cost about a tenth of
a run.

Run conditions are pinned: ``SPARK_GRAFT_CPUS`` = the usable core
count, a 2g driver heap, every other ``SPARK_GRAFT_*`` knob unset (the
shipped defaults, no bench-only table caches), Spark and Python
temporary files under ``.perfbench/`` in the checkout.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (spans tagged with
``sc.setJobGroup`` and joined with Spark's status store; the span tree
is written to ``.perfbench/trace-<workload>-<seed>.json``; the raw
per-query times to ``.perfbench/result-<workload>-<seed>.json``). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 160
# The shipped default heap is 70% of the host's RAM, so peak memory would
# follow the host rather than the program; a fixed heap keeps runs
# comparable across hosts and small beside other processes.
DRIVER_MEM = "2g"
RSS_PERIOD_S = 0.1

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "query_geomean_s": "s", "peak_rss_mb": "MB",
}
# query_tail_s is printed but left out of the result line: a run holds
# only 16 warm samples, so the highest percentile with ten above it is
# about p38, and its run-to-run spread reached the regression bound.
RESULT_METRICS = ("setup_s", "first_pass_s", "pass_s", "query_p50_s",
                  "query_geomean_s", "peak_rss_mb")
LAYER_UNITS = {"s": "s", "mb": "MB", "busy": "ratio"}
# Layer times that are zero by construction on one workload (no Python
# UDF on iterative; no graphs or llm_ops query on spatial). They are
# printed, but a time that reads 0 on every run is left out of the
# result line.
ZERO_ON_ONE_WORKLOAD = frozenset({
    "python.worker_s", "python.boot_s",
    "graphs.build_s", "graphs.exec_s", "llm_ops.build_s", "llm_ops.exec_s",
})


def _layer_unit(name: str) -> str:
    return LAYER_UNITS.get(name.rsplit("_", 1)[-1], "count")


def pinned_env(work: str) -> dict[str, str]:
    """The environment every worker runs under."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _processes() -> list[tuple[int, str, int, int]]:
    """(pid, state, parent pid, process group) of every process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                state, ppid, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        out.append((int(name), state, int(ppid), int(pgrp)))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, _, ppid, _ in _processes():
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def _stop_group(pgid: int, wait_s: float = 10.0) -> None:
    """Kill what is left of the worker's process group (JVM, Python
    workers) and wait until none of it runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + wait_s
    # Zombies only wait to be reaped; they do not count as running.
    while any(pg == pgid and st != "Z" for _, st, _, pg in _processes()):
        if time.monotonic() > deadline:
            print(f"processes of group {pgid} still running after {wait_s:.0f}s", file=sys.stderr)
            return
        time.sleep(0.05)


class RssSampler(threading.Thread):
    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))


def run_worker(args_list: list[str], env: dict, timeout: float):
    """Start one fresh worker; return (result dict or None, set-up
    seconds, peak tree RSS bytes). The whole process group is stopped
    and waited for before returning."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args_list]
    t_spawn = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stdout = ""
        print(f"worker timed out after {timeout:.0f}s", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
        sampler.stop_event.set()
        sampler.join()
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return None, None, None
    result = json.loads(lines[-1])
    return result, result["ready_mono"] - t_spawn, sampler.peak


def end_to_end(result: dict, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    passes = result["passes"]
    warm = passes[1:]
    lat = [r["lat_s"] for p in warm for r in p["queries"].values() if r["ok"]]
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for q, r in p["queries"].items():
            if r["ok"]:
                per_query.setdefault(q, []).append(r["lat_s"])
    tail_v, tail_pct, n = stats.tail(lat)
    metrics = {
        "setup_s": setup_s,
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median([p["wall_s"] for p in warm]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "query_geomean_s": stats.geomean([statistics.median(v) for v in per_query.values()]),
        "peak_rss_mb": peak_rss / 1e6,
    }
    notes = {"query_tail_s": f"p{tail_pct:.0f} of {n} warm samples",
             "pass_s": f"median of {len(warm)} warm passes"}
    return metrics, notes


def account(result: dict) -> tuple[int, int]:
    """(queries attempted, failures). Every query run in every pass is
    attempted; a query that raised and an output that failed its check
    each count as a failure, and nothing leaves the denominator."""
    attempted = sum(len(p["queries"]) for p in result["passes"])
    raised = sum(1 for p in result["passes"] for r in p["queries"].values() if not r["ok"])
    return attempted, raised + len(result["check_failures"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA_DIR, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    for need in ("glonassdatamining_spark/registry.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found; run from a checkout of the repository",
                  file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench")
    env = pinned_env(work)
    common = ["--workload", args.workload, "--data", args.data]
    trace_out = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
    steal0, total0 = _cpu_ticks()
    result, setup_s, peak = run_worker(
        [*common, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--trace-out", trace_out if args.trace else ""],
        env, WORKER_TIMEOUT_S)
    if result is None or "passes" not in result:
        print("error: the benchmark worker failed", file=sys.stderr)
        return 1
    steal1, total1 = _cpu_ticks()
    result["setup_s"] = setup_s
    # Time the hypervisor gave this host's CPUs to other guests; a run
    # with a high share is slow for reasons outside the program.
    result["conditions"]["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    with open(os.path.join(work, f"result-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    attempted, failed = account(result)
    leaks = result["bench_only_caches_filled"]
    for p in result["passes"]:
        for q, r in p["queries"].items():
            if not r["ok"]:
                print(f"query raised: {q}\n{r['error']}", file=sys.stderr)
    for q, err in result["check_failures"].items():
        print(f"output check failed: {q}\n{err}", file=sys.stderr)
    if leaks:
        print(f"bench-only caches were filled: {leaks}", file=sys.stderr)

    print("run conditions: " + json.dumps(result["conditions"]))
    print(f"passes: cold {result['passes'][0]['wall_s']:.3f} s, warm "
          + ", ".join(f"{p['wall_s']:.3f}" for p in result["passes"][1:]) + " s")
    if args.trace:
        layers = result["layers"]
        for k, v in sorted(layers.items()):
            print(f"{k:>24} = {v:.4f} {_layer_unit(k)}")
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(layers.items())
                   if k not in ZERO_ON_ONE_WORKLOAD}
        print(f"trace file: {trace_out}")
    else:
        values, notes = end_to_end(result, setup_s, peak)
        metrics = {k: {"value": values[k], "unit": END_TO_END_UNITS[k]} for k in RESULT_METRICS}
        for k, v in values.items():
            note = f"  ({notes[k]})" if k in notes else ""
            print(f"{k:>16} = {v:.4f} {END_TO_END_UNITS[k]}{note}")
    print(f"{'failed_frac':>16} = {failed / attempted:.4f} ratio  ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0 and not leaks, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
