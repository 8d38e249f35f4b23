"""The ``query_mix`` workload: analytics queries in a fresh session.

A cold pass runs every query once and collects its result (each is at
most a few hundred rows); after the clock stops, each result's
fingerprint is compared with the one stored from the query's DuckDB
twin. A fixed number of warm passes follow, writing each query to the
noop sink as ``bench.py`` does. The seed fixes the
order of the queries in the warm passes; the cold pass always runs them
in the same order, because the first query of a session pays for the
session's own warm-up.
"""

from __future__ import annotations

import gc
import json
import os
import random
import statistics
import time

from spans import attribute, coverage

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# the cold pass runs them in this order in every run; the seed orders
# the warm passes
QUERIES = [
    "q159_image_neardup",
    "q148_pagerank",
    "q92_bloom_prejoin",
]
TINY = ["q92_bloom_prejoin"]
# a fixed number, whatever the speed, so that two commits are compared
# on the same work
WARM_PASSES = 2


def fingerprint(columns: list[str], rows) -> str:
    """Digest of a result under the oracle harness's canonical form:
    column names, then rows normalized by ``testing._norm`` and sorted."""
    import hashlib

    from job_etl_spark.testing import _key, _norm

    canon = sorted((tuple(_norm(v) for v in r) for r in rows), key=_key)
    h = hashlib.sha256(json.dumps(columns).encode())
    for r in canon:
        h.update(_key(r).encode() + b"\n")
    return f"{len(canon)}:{h.hexdigest()}"


def _settle(spark) -> None:
    """Untimed heap settle between queries, as in ``bench.py``."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _pass(ctx, reg, order, label, sink, failures) -> tuple[dict, dict]:
    """One pass over ``order``: each query's wall time, and what ``sink``
    returned for it. ``sink`` consumes the frame inside the timed region.
    A query that raises is recorded in ``failures`` and keeps its time."""
    times, kept = {}, {}
    with ctx.tracer.span(label):
        for q in order:
            with ctx.tracer.span(q):
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("build"):
                        df = reg[q].fn(ctx.spark, DATA)
                    with ctx.tracer.span("exec"):
                        kept[q] = (df.columns, sink(df))
                except Exception as e:  # noqa: BLE001 - a failed op is reported, not fatal to the report
                    failures.append(f"{label} {q}: {type(e).__name__}: {e}"[:400])
                times[q] = time.perf_counter() - t0
            with ctx.tracer.span("settle"):
                _settle(ctx.spark)
    return times, kept


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def run(ctx) -> dict:
    from job_etl_spark.queries import registry

    reg = registry()
    names = TINY if ctx.tiny else QUERIES
    warm_order = random.Random(ctx.seed).sample(names, len(names))
    with open(FINGERPRINTS) as fh:
        want = json.load(fh)
    failures: list[str] = []

    # cold pass: collects each result (at most a few hundred rows) so the
    # outputs can be checked after the clock stops
    cpu0 = ctx.cpu()
    cold, results = _pass(ctx, reg, names, "cold", lambda df: df.collect(), failures)
    cpu_s = ctx.cpu() - cpu0
    for q, (columns, rows) in results.items():
        got = fingerprint(columns, rows)
        if got != want.get(q):
            failures.append(f"{q}: fingerprint {got} != stored {want.get(q)}")
    del results

    warm: list[dict[str, float]] = []
    for i in range(WARM_PASSES):
        cpu0 = ctx.cpu()
        warm.append(_pass(ctx, reg, warm_order, f"warm{i}", _noop, failures)[0])
        cpu_s += ctx.cpu() - cpu0
    out = {
        "attempted": len(names) * (1 + len(warm)),
        "failed": len(failures),
        "failures": failures,
        "cold_s": sum(cold.values()),
        # per query, the best warm pass: a short stall on the shared box
        # in one pass does not move the figure
        "warm_s": sum(min(p[q] for p in warm) for q in names),
        "cpu_s": cpu_s,
    }
    if ctx.traced and not failures:
        out["trace_state"] = {"names": names, "cold": cold, "warm": warm}
    return out


def layers(ctx, jobs, names, cold, warm) -> dict:
    """Per-layer metrics of a traced run, from its spans and ``jobs``."""
    spans = ctx.tracer.spans
    work = attribute(spans, jobs)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    root = {s.name: s for s in spans if s.parent is None}

    def child(s, name):
        return next(k for k in kids[s.sid] if k.name == name)

    m: dict[str, float] = {}
    def queries(p):
        return [k for k in kids[p.sid] if k.name != "settle"]

    cold_q = queries(root["cold"])
    m["queries.build_s"] = sum(child(s, "build").wall for s in cold_q)
    m["queries.gap_s"] = sum(work[s.sid].gap_s for s in cold_q)
    passes = [root[f"warm{i}"] for i in range(len(warm))]
    m["queries.exec_s"] = statistics.fmean(
        sum(child(s, "exec").wall for s in queries(p)) for p in passes
    )
    for attr in ("jobs", "tasks", "task_s", "shuffle_mb", "spill_mb"):
        m[f"queries.{attr}"] = statistics.fmean(
            sum(getattr(work[s.sid], attr) for s in queries(p)) for p in passes
        )
    wall = statistics.fmean(sum(s.wall for s in queries(p)) for p in passes)
    m["queries.busy_ratio"] = m["queries.task_s"] / (wall * ctx.cores)
    m["trace.coverage"] = min(coverage(spans, p) for p in [root["cold"], *passes])
    for q in names:
        m[f"{q}.cold_s"] = cold[q]
        m[f"{q}.warm_s"] = min(p[q] for p in warm)
    return m
