"""The ``etl_incremental`` workload: the job-postings DAG over a seeded feed.

Batch 0 is an initial load into an empty warehouse; the incremental
batches follow. Each batch runs extract → normalize → enrich → marts →
dedupe report → rank → DQ → daily digest through the public stage
functions, with one ``TableStore`` per batch as ``run_pipeline`` builds
one per run. After each batch, untimed, the warehouse is checked against
the feed's ground truth; a failed check counts as a failed op.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

import feed
from spans import attribute, coverage

STAGES = ["extract", "normalize", "enrich", "marts", "dedupe", "rank", "dq", "digest"]

# a run does a fixed amount of work, whatever its speed, so that two
# commits are compared on the same work
FULL = feed.FeedSpec(initial=400, batch=200, batches=1, companies=40)
TINY = feed.FeedSpec(initial=40, batch=20, batches=2, companies=6)
PAGE_SIZE = 100


def _adapter(records):
    from job_etl_spark.sources.base import JobPostingRaw
    from job_etl_spark.sources.mock_adapter import MockAdapter

    class FeedAdapter(MockAdapter):
        """Serves pre-built pages; maps payloads as the mock source does."""

        def __init__(self, pages):
            super().__init__(num_jobs=sum(len(p) for p in pages))
            self.pages = pages

        def fetch(self, page_token=None):
            i = 0 if page_token is None else int(page_token)
            nxt = str(i + 1) if i + 1 < len(self.pages) else None
            return self.pages[i], nxt

    pages = [
        [
            JobPostingRaw(feed.SOURCE, r["payload"], r["payload"]["provider_job_id"], r["raw_id"])
            for r in records[i : i + PAGE_SIZE]
        ]
        for i in range(0, len(records), PAGE_SIZE)
    ]
    return FeedAdapter(pages)


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _written(before: dict, after: dict, prefix: str = "") -> int:
    return sum(
        v[0] for p, v in after.items() if before.get(p) != v and p.startswith(prefix)
    )


def _check(store, batch, stats) -> list[str]:
    """Ground-truth checks after one batch; returns what failed."""
    from pyspark.sql import functions as F

    bad = []

    def expect(what, got, want):
        if got != want:
            bad.append(f"batch {batch.index}: {what} = {got}, expected {want}")

    staging = store.read("staging_job_postings")
    n_fact, n_unranked = store.read("fact_jobs").agg(
        F.count(F.lit(1)), F.count(F.when(F.col("rank_score").isNull(), 1))
    ).first()
    expect("staging rows", staging.count(), batch.identities_seen)
    expect("fact rows", n_fact, batch.identities_seen)
    expect("unranked fact rows", n_unranked, 0)
    expect("dim rows", store.read("dim_companies").count(), batch.companies_seen)
    expect("normalize rejected", stats["normalize"]["rejected"], batch.rejects)
    expect(
        "normalize accepted",
        stats["normalize"]["normalized"],
        len(batch.new_keys) + len(batch.reseen_keys),
    )
    for name, v in stats["dq"].items():
        expect(f"dq {name} violations", v, 0)
    expect("digest unique jobs", stats["digest"], batch.identities_seen)
    if batch.reseen_keys:
        titles = [k[1] for k in batch.reseen_keys]
        rows = (
            staging.where(F.col("job_title").isin(titles))
            .select("company", "job_title", "location", "salary_min", "salary_max", "job_link")
            .collect()
        )
        got = {(r[0], r[1], r[2]): (r[3], r[4], r[5]) for r in rows}
        for key in batch.reseen_keys:
            p = batch.latest[key]
            want = (float(p["salary_min"]), float(p["salary_max"]), p["job_url"])
            if got.get(key) != want:
                bad.append(f"batch {batch.index}: re-seen {key} = {got.get(key)}, expected {want}")
                break
    return bad


def run(ctx) -> dict:
    from job_etl_spark.pipeline import runner as R
    from job_etl_spark.pipeline.report import daily_digest

    spec = TINY if ctx.tiny else FULL
    batches = feed.generate(spec, ctx.seed)
    adapters = [_adapter(b.records) for b in batches]
    wh = os.path.join(ctx.run_dir, "warehouse")
    tr = ctx.tracer
    failures: list[str] = []
    attempted = failed = 0
    walls: list[float] = []
    cpus: list[float] = []
    per_batch: list[dict] = []  # traced-run store readings
    for b, adapter in zip(batches, adapters):
        ts = _ts(b)
        store = R.TableStore(ctx.spark, wh)
        calls = {
            "extract": lambda: R.run_extract(store, adapter, run_ts=ts),
            "normalize": lambda: R.run_normalize(
                store, adapter, min_collected_at=ts, run_ts=ts
            ),
            "enrich": lambda: R.run_enrich(store, run_ts=ts),
            "marts": lambda: R.run_marts(store, run_ts=ts),
            "dedupe": lambda: R.run_dedupe_report(store),
            "rank": lambda: R.run_rank(store),
            "dq": lambda: {r.name: r.violations for r in R.run_dq(store)},
            "digest": lambda: daily_digest(
                store.read("fact_jobs"), store.read("dim_companies")
            )["unique_jobs"],
        }
        before = _files(wh) if ctx.traced else {}
        stats: dict = {}
        cpu0 = ctx.cpu()
        t0 = time.perf_counter()
        with tr.span(f"batch{b.index}"):
            for name in STAGES:
                attempted += 1
                try:
                    with tr.span(name):
                        stats[name] = calls[name]()
                except Exception as e:  # noqa: BLE001 - a failed op is reported, not fatal to the report
                    failed += 1
                    failures.append(f"batch {b.index} {name}: {type(e).__name__}: {e}"[:400])
                    break
        walls.append(time.perf_counter() - t0)
        cpus.append(ctx.cpu() - cpu0)
        if failures:
            break
        bad = _check(store, b, stats)
        attempted += 1
        if bad:
            failed += 1
            failures.extend(bad)
        if ctx.traced:
            after = _files(wh)
            per_batch.append({
                "written": _written(before, after),
                "landed": _written(before, after, os.path.join(wh, "raw_job_postings")),
                "stats": stats,
            })
    files = _files(wh)
    out = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "cold_s": walls[0],
        # a run whose batch 0 failed has no warm batch; it reports 0
        "warm_s": statistics.fmean(walls[1:]) if len(walls) > 1 else 0.0,
        "cpu_s": sum(cpus),
        "warehouse_mb": sum(v[0] for v in files.values()) / 1e6,
        "files": len(files),
    }
    if ctx.traced and not failures:
        mor = _mor_probe(ctx, R.TableStore(ctx.spark, wh), adapters[-1], batches[-1])
        out["attempted"] += 1
        if mor["bad"]:
            out["failed"] += 1
            failures.append(mor["bad"])
        out["trace_state"] = {"per_batch": per_batch, "mor": mor}
    return out


def _ts(batch) -> dt.datetime:
    return dt.datetime(2026, 2, 1) + dt.timedelta(days=batch.index)


def _mor_probe(ctx, store, adapter, batch) -> dict:
    """Traced runs only, after the timed batches: the merge-on-read side
    of ``TableStore``. The last batch is normalized again with
    ``mor=True``, twice. The first call, untimed, migrates staging to the
    merge-on-read layout (an O(table) rewrite) and lands the batch as
    delta 1. The second, timed, is the O(batch) delta write: delta 2.
    Then staging, folding both deltas, and ``fact_jobs`` are counted,
    timed; ``fact_jobs`` stays copy-on-write, since only normalize writes
    merge-on-read here. Re-normalizing a batch is idempotent, so neither
    row count may change."""
    from job_etl_spark.pipeline import runner as R

    ts = _ts(batch)

    def normalize():
        R.run_normalize(store, adapter, min_collected_at=ts, run_ts=ts, mor=True)

    with ctx.tracer.span("mor_init"):
        normalize()
    with ctx.tracer.span("mor_write"):
        t0 = time.perf_counter()
        normalize()
        write_s = time.perf_counter() - t0
    with ctx.tracer.span("mor_read"):
        t0 = time.perf_counter()
        rows = store.read("staging_job_postings").count()
        facts = store.read("fact_jobs").count()
        read_s = time.perf_counter() - t0
    bad = None
    if (rows, facts) != (batch.identities_seen,) * 2:
        bad = (
            f"merge-on-read staging rows = {rows}, fact rows = {facts}, "
            f"expected {batch.identities_seen}"
        )
    return {
        "write_s": write_s,
        "read_s": read_s,
        "deltas": len(store.mor_deltas("staging_job_postings")),
        "bad": bad,
    }


def layers(ctx, jobs, per_batch: list[dict], mor: dict) -> dict:
    """Per-layer metrics of a traced run, from its spans and ``jobs``."""
    spans = ctx.tracer.spans
    work = attribute(spans, jobs)
    batches = [s for s in spans if s.parent is None and s.name.startswith("batch")]
    m: dict[str, float] = {}
    for stage in STAGES:
        per = [
            next(s for s in spans if s.parent == b.sid and s.name == stage) for b in batches
        ]
        warm = [work[s.sid] for s in per[1:]]
        m[f"{stage}.cold_s"] = work[per[0].sid].wall
        m[f"{stage}.warm_s"] = statistics.fmean(w.wall for w in warm)
        m[f"{stage}.jobs"] = statistics.fmean(w.jobs for w in warm)
        m[f"{stage}.task_s"] = statistics.fmean(w.task_s for w in warm)
        m[f"{stage}.shuffle_mb"] = statistics.fmean(w.shuffle_mb for w in warm)
    inc = per_batch[1:]
    m["normalize.rejected"] = sum(r["stats"]["normalize"]["rejected"] for r in per_batch)
    docs = inc[-1]["stats"]["marts"]["fact_rows"]
    new = docs - per_batch[-2]["stats"]["marts"]["fact_rows"]
    m["dedupe.docs"] = docs
    m["dedupe.new_ratio"] = new / docs
    m["dedupe.pairs"] = inc[-1]["stats"]["dedupe"]["near_dup_pairs"]
    m["store.write_mb"] = statistics.fmean(r["written"] for r in inc) / 1e6
    m["store.write_amp"] = statistics.fmean(r["written"] / r["landed"] for r in inc)
    m["store.mor_write_s"] = mor["write_s"]
    m["store.deltas"] = mor["deltas"]
    m["store.read_s"] = mor["read_s"]
    m["trace.coverage"] = min(coverage(spans, b) for b in batches)
    return m
