"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It prepares the workload's inputs from
the seed (untimed: the ETL inputs are generated; the catalog workloads
draw their query order over the fixed tables in ``perfbench/tables``),
starts a fresh worker process that runs the
workload against ``module8_movies_etl_spark`` as shipped, samples that
process tree's resident memory, checks the outputs, and prints a report
whose last line is one JSON object: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every file it writes lives under ``.perfbench_run/`` in
the checkout and is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
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

RUN_TIMEOUT_S = 170  # whole run, both workers of a traced run included
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1e6


def group_rss(pgid: int) -> int:
    """Resident bytes of every process in process group ``pgid``."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[2]) != pgid:
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            pass  # the process ended while we read it
    return total


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for the worker's process group (its JVM and Python workers)
    to end, killing it if it outlives ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        while group_alive(pgid):
            time.sleep(0.05)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_worker(args, run_dir: str, inputs_path: str, trace: int,
               deadline: float) -> tuple[dict | None, int]:
    """Run one worker process to its end; return its result (None if it
    failed) and exit code."""
    for d in ("scratch", "local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "PERFBENCH_RUN_DIR": run_dir,
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"{env.get('SPARK_SUBMIT_OPTS', '')} "
                             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    })
    out = os.path.join(run_dir, "result.json")
    spawned_at = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
         "--inputs", inputs_path, "--seconds", str(args.seconds), "--trace", str(trace),
         "--spawned-at", repr(spawned_at), "--out", out],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    peak = 0

    def sample():
        nonlocal peak
        while proc.poll() is None:
            peak = max(peak, group_rss(proc.pid))
            time.sleep(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        rc = None
    finally:  # also on SIGTERM: no worker, JVM or Python worker outlives the run
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        sampler.join()
        stop_group(proc.pid)
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
        os.remove(out)
    if result is not None:
        result["peak_rss_mb"] = peak / MB
    return result, rc


def main() -> int:
    from probe import dir_bytes
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups below

    missing = [p for p in ("module8_movies_etl_spark/__init__.py", "tests/oracle_check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the package (missing {missing})", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    result = None
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        wl = WORKLOADS[args.workload]()
        inputs = wl.prepare(os.path.join(run_dir, "data"), args.seed)
        inputs_path = os.path.join(run_dir, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        reference = None
        if args.trace:  # an untraced fresh session on the same inputs
            reference, rc = run_worker(args, run_dir, inputs_path, 0, deadline)
        if reference is not None or not args.trace:
            result, rc = run_worker(args, run_dir, inputs_path, args.trace, deadline)
        residue_mb = dir_bytes(os.path.join(run_dir, "scratch")) / MB
        if args.trace and result is not None:
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(result["spans"], f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(os.path.join(ROOT, ".perfbench_run")) and not os.listdir(
                os.path.join(ROOT, ".perfbench_run")):
            os.rmdir(os.path.join(ROOT, ".perfbench_run"))
    if result is None:
        print(f"perfbench: worker exited with code {rc} and no result", file=sys.stderr)
        return 1
    return report(args, inputs, result, reference, residue_mb)


def report(args, inputs: dict, result: dict, reference: dict | None, residue_mb: float) -> int:
    """Print the human-readable report, then the result line whose
    metric names and units are the ones BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    runs = [result] + ([reference] if reference else [])
    ops = [op for r in runs for op in r["ops"]]
    failed = [(name, err) for name, _, err in ops if err]
    failed += [item for r in runs for item in r["mismatches"].items()]
    untraced = reference or result  # end-to-end numbers come with tracing off
    times = [t for _, t, _ in untraced["ops"]]
    passes = untraced["passes"]
    pass_s = passes[0]  # the fresh session's pass; see workloads.py
    e2e = {
        "setup_s": (untraced["setup_s"], "s", 1),
        "pass_s": (pass_s, "s", 1),
    }
    n_ops = len(times) / len(passes)
    aliases = {
        "etl_movies": {"etl_rows_per_s": (inputs.get("input_rows", 0) / pass_s, "1/s")},
        "olap_mix": {"query_p50_s": (statistics.median(times), "s"),
                     "query_p90_s": (percentile(times, 0.9), "s"),
                     "queries_per_s": (n_ops / pass_s, "1/s")},
        "curation_batch": {"batch_wall_s": (pass_s, "s")},
    }[args.workload]
    aliases["failed_ratio"] = (len(failed) / max(len(ops), 1), "ratio")
    aliases["peak_rss_mb"] = (untraced["peak_rss_mb"], "MB")

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} ops_per_pass={n_ops:g} "
          f"passes_s=[{', '.join(f'{p:.3f}' for p in passes)}]")
    for name, (value, unit, n) in e2e.items():
        print(f"  {name:<16} {value:>12.4f} {unit:<5} n={n}")
    for name, (value, unit) in aliases.items():
        print(f"  {name:<16} {value:>12.4f} {unit}")
    by_op: dict[str, list[float]] = {}
    for name, t, _ in untraced["ops"]:
        by_op.setdefault(name, []).append(t)
    print("  per operation (median s, samples):")
    for name, ts in by_op.items():
        print(f"    {name:<32} {statistics.median(ts):>9.4f}  n={len(ts)}")
    print(f"correct={not failed} attempted={len(ops)} failed={len(failed)}")
    for name, err in failed:
        print(f"  FAILED {name}: {err}")

    if args.trace:
        layer = dict(result["layer"])
        layer["sources.scratch_residue_mb"] = residue_mb
        layer["trace.untraced_pass_s"] = pass_s
        layer["trace.overhead_share"] = layer["trace.pass_s"] / pass_s - 1.0
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer"]}
        for name, m in metrics.items():
            print(f"  {name:<34} {m['value']:>12.4f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
