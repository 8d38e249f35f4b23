"""jobspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run pins its environment, starts
``worker.py`` in a fresh process, records load on the box before and
after, removes its scratch directories, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics). Each workload does a fixed amount of work, so that
two commits are compared on the same work; ``--seconds`` is accepted for
the common benchmark interface, and the fixed work measures longer than
the 5 s that BENCHMARK.json names. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "etl_incremental")
TIMEOUT_S = 170
DRIVER_MEM = "3g"


def pinned_env(run_dir: str, traced: bool) -> dict[str, str]:
    """The parent environment without any JOBSPARK_* knob (so every
    commit runs its defaults), plus a fixed heap, core count, hash seed
    and fresh Spark scratch directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("JOBSPARK_")}
    env.update(
        JOBSPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if traced:
        events = os.path.join(run_dir, "events")
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    return env


def _group_pids(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[2]) == pgid:
                out.append(int(name))
    return out


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group (the JVM and its
    Python workers) and wait until none of it is alive."""
    deadline = time.monotonic() + 30
    while _group_pids(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "job_etl_spark", "__init__.py")):
        print(f"no job_etl_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(run_dir, "events"))
    env = pinned_env(run_dir, bool(args.trace))
    log_path = os.path.join(run_dir, "worker.log")
    before = procfs.load_sample()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--root", ROOT, "--run-dir", run_dir,
    ] + (["--tiny"] if args.tiny else [])
    try:
        with open(log_path, "w") as log:
            t0 = time.perf_counter()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            stop_group(proc.pid)
            proc.wait()
        after = procfs.load_sample()
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            why = "timed out" if code is None else f"exited {code}"
            print(f"worker {why}; log tail:\n{tail}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
        keep = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(
            os.path.join(run_dir, "spans.jsonl"),
            os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}-spans.jsonl"),
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    print(json.dumps({
        "env": {
            "cores": env["SPARK_GRAFT_CPUS"], "driver_mem": DRIVER_MEM,
            "python": sys.version.split()[0], "workload": args.workload,
            "seed": args.seed, "trace": args.trace,
        },
        "jvm": res["jvm"],
        "load_before": before, "load_after": after,
    }))
    for f in res["failures"]:
        print(f"FAILED: {f}")
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in section
    }
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
