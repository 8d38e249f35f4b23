"""One benchmark run in a fresh process: session set-up, one workload,
and, in a traced run, the per-layer metrics. ``run.py`` starts this
file with a pinned environment and reads the JSON it writes."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import procfs
from spans import Tracer, parse_event_log


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    run_dir: str
    seed: int
    tiny: bool
    traced: bool
    cores: int

    def cpu(self) -> float:
        """CPU seconds of this process and its tree: the driver, the JVM
        and the JVM's Python workers."""
        return procfs.cpu_seconds(procfs.tree(os.getpid()))


def jvm_times(spark) -> dict[str, float]:
    """Seconds the JVM has spent, since it started, in garbage collection
    (summed over its collectors) and in JIT compilation (summed over its
    compiler threads)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mx.getGarbageCollectorMXBeans())
    return {
        "jvm.gc_s": gc_ms / 1e3,
        "jvm.jit_s": mx.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    import job_etl_spark

    if not os.path.abspath(job_etl_spark.__file__).startswith(args.root + os.sep):
        raise SystemExit(f"job_etl_spark imported from outside {args.root}")
    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 10).selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t_session
    registry()
    setup_s = time.perf_counter() - args.t0

    ctx = Ctx(
        spark=spark,
        tracer=Tracer(spark.sparkContext, bool(args.trace)),
        run_dir=args.run_dir,
        seed=args.seed,
        tiny=args.tiny,
        traced=bool(args.trace),
        cores=spark.sparkContext.defaultParallelism,
    )
    if args.workload == "query_mix":
        import querymix as workload

        out = workload.run(ctx)
    elif args.workload == "etl_incremental":
        import etl as workload

        out = workload.run(ctx)
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")
    rss = procfs.rss_mb(procfs.tree(os.getpid()))
    jvm = jvm_times(spark)
    spark.stop()

    e2e = {
        "setup_s": setup_s,
        "cold_s": out["cold_s"],
        "warm_s": out["warm_s"],
        "cpu_s": out["cpu_s"],
    }
    layers = {
        "session.start_s": session_s,
        "session.rss_mb": rss,
        "error_rate": out["failed"] / out["attempted"],
        "trace.warm_s": out["warm_s"],
        **jvm,
    }
    if "warehouse_mb" in out:
        layers["store.warehouse_mb"] = out["warehouse_mb"]
        layers["store.files"] = out["files"]
    state = out.pop("trace_state", None)
    if state is not None:
        jobs = parse_event_log(os.path.join(args.run_dir, "events"))
        layers.update(workload.layers(ctx, jobs, **state))
        layers["trace.spans"] = len(ctx.tracer.spans)
    ctx.tracer.dump(os.path.join(args.run_dir, "spans.jsonl"))
    result = {
        "attempted": out["attempted"],
        "failed": out["failed"],
        "failures": out["failures"],
        "e2e": e2e,
        "layers": layers,
        "jvm": jvm,
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
