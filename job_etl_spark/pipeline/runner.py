"""Pipeline runner + stage CLIs (reference parity: §3.1 DAG + §3.2 CLIs).

Replaces Airflow for single-process runs: extract → normalize → enrich →
marts → rank → dq → report, with tables persisted as parquet between
stages (``pipeline/store.py``; Delta MERGE drops in behind ``TableStore``
when available).

Each mutating stage builds one keyed merge statement per table it writes
and hands it to ``TableStore.merge``, which applies it by the table's
layout. A stage never branches on the layout: its ``mor=True`` only
migrates its target to merge-on-read, and from then on the layout
belongs to the table.

CLI contract mirrors the reference services: ``--limit --source --dry-run
--verbose``, stats dict printed as JSON, exit codes 0 (ok), 1 (partial —
some rows rejected), 2 (fatal).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from job_etl_spark.operators import dq
from job_etl_spark.pipeline import report as report_mod
from job_etl_spark.pipeline.enrich import (
    SkillsDictionary,
    enrich_seniority,
    enrich_skills,
    seed_company_records,
)
from job_etl_spark.pipeline.marts import (
    dim_increment,
    fact_increment,
    fact_merge_policy,
)
from job_etl_spark.pipeline.normalize import normalize_common, staging_merge_policy
from job_etl_spark.pipeline.rank import RankingConfig, rank_jobs
from job_etl_spark.pipeline.store import TableStore
from job_etl_spark.schema import (
    STAGING_SCHEMA,
    VALID_CONTRACT_TYPES,
    VALID_REMOTE_TYPES,
    VALID_SENIORITY_LEVELS,
)
from job_etl_spark.sources.base import SourceAdapter, common_from_raw, land_raw
from job_etl_spark.sources.mock_adapter import MockAdapter


def run_extract(
    store: TableStore, adapter: SourceAdapter, max_jobs: int | None = None, run_ts=None
) -> dict:
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    jobs = adapter.fetch_all(max_jobs=max_jobs)
    raw_df = land_raw(store.spark, jobs, run_ts)
    store.write("raw_job_postings", raw_df, mode="append")
    return {"extracted_count": len(jobs), "source": adapter.source_name}


def run_normalize(
    store: TableStore,
    adapter: SourceAdapter,
    min_collected_at=None,
    limit: int | None = None,
    dry_run: bool = False,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """S5 scan (+watermark) → U3/U2 → J3 merge. Exit-code semantics via
    'rejected' in the stats dict (main.py:289-354).

    The normalized batch is one keyed merge statement under
    ``staging_merge_policy`` (the reference's batch upsert,
    services/normalizer/db_operations.py:427-460), applied by
    ``TableStore.merge`` under staging's layout. ``mor=True`` first
    migrates staging to merge-on-read, into ``mor_buckets`` buckets."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    raw = store.read("raw_job_postings")
    if min_collected_at is not None:
        raw = raw.where(F.col("collected_at") >= F.lit(min_collected_at))
    if limit:
        raw = raw.orderBy(F.desc("collected_at"), F.asc("raw_id")).limit(limit)
    common = common_from_raw(raw, adapter)
    res = normalize_common(common, run_ts)
    # a dry run must not mutate ANYTHING, the layout included
    if mor and not dry_run:
        store.mor_migrate(
            "staging_job_postings", ["hash_key"], staging_merge_policy(), mor_buckets,
            STAGING_SCHEMA,
        )
    # the batch plan is executed twice (row count for the stats/exit-code
    # contract, then the write) — pin it so the raw scan + normalize
    # expressions run once, not per action
    normalized = res.normalized.persist()
    # try/finally: the merge can raise (duplicate/null keys) — the cached
    # blocks must not outlive the stage on the error path
    try:
        n_ok = normalized.count()
        n_bad = res.rejected.count()
        if not dry_run:
            store.merge(
                "staging_job_postings", normalized, ["hash_key"], staging_merge_policy()
            )
    finally:
        normalized.unpersist()
    return {"normalized": n_ok, "rejected": n_bad, "dry_run": dry_run}


#: the staging columns the enricher owns
ENRICHED_COLS = ["skills_raw", "seniority_level", "seniority_enrichment_status"]

#: staging_companies as the enrich stage seeds it (read before it exists)
COMPANIES_SCHEMA = (
    "company_id string, name string, source_first_seen string, "
    "enriched_at timestamp, created_at timestamp, updated_at timestamp"
)


def run_enrich(
    store: TableStore,
    dictionary_path: str | None = None,
    sources: list[str] | None = None,
    include_existing: bool = False,
    dry_run: bool = False,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """S6/S7 scans → U4/U5 → J6 write-back.

    Like the reference's enricher, a keyed point-UPDATE of the PENDING
    rows only (S6/S7 select the pending subset,
    services/enricher/db_operations.py:140-176,244-282): skills and
    seniority are computed for the pending subset, and the statement
    carries just (hash_key, ``ENRICHED_COLS``) with OVERWRITE
    per-statement classes — the staging policy keeps those columns
    keep-first for normalize statements. The columns it does not carry
    are left as they are, in either layout (``TableStore.merge``).
    ``mor=True`` first migrates staging to merge-on-read."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    # a dry run must not mutate ANYTHING, the layout included
    if mor and not dry_run:
        store.mor_migrate(
            "staging_job_postings", ["hash_key"], staging_merge_policy(), mor_buckets,
            STAGING_SCHEMA,
        )
    staging = store.read("staging_job_postings", STAGING_SCHEMA)
    dictionary = SkillsDictionary.load(dictionary_path)
    # the pending subset: exactly the rows either enrichment phase would
    # touch (S6 skills predicate ∪ S7 seniority-pending). Materialize it
    # ONCE — the before_pending stat, the enrich expressions, the
    # statement count and the write all run over the pinned subset
    # instead of re-scanning the table per action.
    skills_cond = F.col("description").isNotNull()
    if not include_existing:
        skills_cond = skills_cond & (
            F.col("skills_raw").isNull() | (F.size("skills_raw") == 0)
        )
    if sources:
        skills_cond = skills_cond & F.col("source").isin(sources)
    pending_rows = staging.where(
        skills_cond | (F.col("seniority_enrichment_status") == "not_tried")
    ).persist()
    # try/finally: the merge can raise (duplicate/null keys) — the cached
    # pending subset must not outlive the stage on the error path
    try:
        before_pending = pending_rows.where(
            F.col("seniority_enrichment_status") == "not_tried"
        ).count()
        enriched = enrich_skills(pending_rows, dictionary, sources, include_existing)
        statement = enrich_seniority(enriched).select("hash_key", *ENRICHED_COLS)
        companies = store.read("staging_companies", COMPANIES_SCHEMA)
        # company seeding scans ALL distinct staging companies (J4 over the
        # whole table), not just the pending rows
        companies2 = seed_company_records(companies, staging, run_ts)
        stats = {
            "seniority_pending_before": before_pending,
            "enriched_rows": statement.count(),
            "dry_run": dry_run,
        }
        # company enrichment sub-phase (U6/J5/S13): runs when a cached
        # candidates table exists (offline snapshot of per-name API results);
        # matched + unmatched pending rows both get enriched_at stamped
        if store.exists("company_candidates"):
            from job_etl_spark.pipeline.company_match import (
                apply_company_matches,
                match_companies,
            )

            candidates = store.read("company_candidates")
            matches = match_companies(companies2, candidates)
            n_matched = matches.where(F.col("candidate_name").isNotNull()).count()
            stats["companies_matched"] = n_matched
            companies2 = apply_company_matches(companies2, matches, run_ts)
        if not dry_run:
            # companies first: companies2's plan reads staging, which the
            # merge below rewrites (COW) or may compact (MOR)
            store.rewrite("staging_companies", companies2)
            stats["companies_total"] = store.read("staging_companies").count()
            store.merge(
                "staging_job_postings",
                statement,
                ["hash_key"],
                staging_merge_policy(),
                classes={"overwrite": ENRICHED_COLS},
            )
        return stats
    finally:
        pending_rows.unpersist()


def run_marts(
    store: TableStore,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """Marts stage: the two dbt models as INCREMENTAL merge statements
    (``fact_jobs.sql:23-31``, ``dim_companies.sql:38-44``), each applied
    by ``TableStore.merge`` under its table's layout:

    - fact_jobs: ``fact_increment`` rows (NULL rank columns) under
      ``fact_merge_policy`` — the COALESCE on the rank pair IS the J2
      rank carry;
    - dim_companies: latest-wins keyed on company_id, ``dim_increment``
      rows (the companies the dimension does not hold yet).

    ``mor=True`` first migrates both marts to merge-on-read: fact_jobs
    into ``mor_buckets`` buckets, dim_companies flat (dimension-sized).
    On a MOR table a run with nothing new lands no delta."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    if mor:
        store.mor_migrate("dim_companies", ["company_id"])
        store.mor_migrate("fact_jobs", ["hash_key"], fact_merge_policy(), mor_buckets)
    staging = store.read("staging_job_postings", STAGING_SCHEMA)
    companies = store.read("staging_companies", COMPANIES_SCHEMA)
    existing_dim = store.read("dim_companies") if store.exists("dim_companies") else None
    dim_new = dim_increment(companies, existing_dim)
    existing_fact = store.read("fact_jobs") if store.exists("fact_jobs") else None
    fact_new = fact_increment(staging, existing_fact, run_ts)

    def apply(name: str, statement, keys: list[str], policy: dict | None) -> int:
        statement = statement.persist()  # counted for the stats, then written
        try:
            n = statement.count()
            store.merge(name, statement, keys, policy)
            return n
        finally:
            statement.unpersist()

    return {
        "dim_new": apply("dim_companies", dim_new, ["company_id"], None),
        "fact_new": apply("fact_jobs", fact_new, ["hash_key"], fact_merge_policy()),
        "dim_rows": store.read("dim_companies").count(),
        "fact_rows": store.read("fact_jobs").count(),
    }


def run_rank(
    store: TableStore,
    config: RankingConfig | None = None,
    rank_all: bool = False,
    min_ingested_at=None,
    limit: int | None = None,
    dry_run: bool = False,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """Rank unranked fact rows and write the scores back: the ranked rows
    are one merge statement under ``fact_merge_policy``, applied by
    ``TableStore.merge`` under fact_jobs' layout. ``mor=True`` first
    migrates fact_jobs to merge-on-read, into ``mor_buckets`` buckets;
    ``streaming/pipeline.py::foreach_batch_mor`` is the streaming twin of
    the merge-on-read write."""
    cfg = config or RankingConfig()
    # a dry run must not mutate ANYTHING, the layout included
    if mor and not dry_run:
        store.mor_migrate("fact_jobs", ["hash_key"], fact_merge_policy(), mor_buckets)
    fact = store.read("fact_jobs")  # MOR-aware: merged view either way
    target = F.lit(True) if rank_all else F.col("rank_score").isNull()
    if min_ingested_at is not None and not rank_all:
        target = target & (F.col("ingested_at") >= F.lit(min_ingested_at))
    to_rank = fact.where(target)
    if limit:
        to_rank = to_rank.orderBy(F.desc("ingested_at"), F.asc("hash_key")).limit(limit)
    # count + write re-execute the scoring plan otherwise — pin it once
    ranked = rank_jobs(to_rank, None, cfg).persist()
    # try/finally: the merge can raise (duplicate/null keys) — the cached
    # ranked batch must not outlive the stage on the error path
    try:
        n = ranked.count()
        if dry_run:
            stats = {}
        else:
            store.merge(
                "fact_jobs", ranked.select(*fact.columns), ["hash_key"], fact_merge_policy()
            )
            stats = report_mod.ranking_stats(store.read("fact_jobs"))
        return {"ranked_now": n, "dry_run": dry_run, **stats}
    finally:
        ranked.unpersist()


def run_dq(store: TableStore) -> list[dq.DQResult]:
    """dbt-test equivalents over the marts (schema.yml parity)."""
    fact = store.read("fact_jobs")
    dim = store.read("dim_companies")
    checks = {
        "fact_jobs.hash_key.unique": dq.check_unique(fact, ["hash_key"]),
        "fact_jobs.hash_key.not_null": dq.check_not_null(fact, "hash_key"),
        "fact_jobs.remote_type.accepted": dq.check_accepted_values(
            fact, "remote_type", VALID_REMOTE_TYPES
        ),
        "fact_jobs.contract_type.accepted": dq.check_accepted_values(
            fact, "contract_type", VALID_CONTRACT_TYPES
        ),
        "fact_jobs.seniority_level.accepted": dq.check_accepted_values(
            fact, "seniority_level", VALID_SENIORITY_LEVELS
        ),
        "dim_companies.company_id.unique": dq.check_unique(dim, ["company_id"]),
        "fact_jobs.company_id.relationship": dq.check_relationships(
            fact, "company_id", dim, "company_id"
        ),
    }
    return dq.run_checks(checks)


def run_dedupe_report(store: TableStore) -> dict:
    """The reference's ``dedupe_consolidate`` DAG task is a placeholder
    echo (`airflow/dags/jobs_etl_daily.py:1624-1640` — exact dedup already
    happened in the hash-key merge). Here the stage earns its place:
    MinHash-LSH near-dup candidates over staging descriptions, clustered
    by connected components — surfacing postings that hash-key identity
    (company|title|location) treats as distinct but whose text is a
    near-copy (cross-company reposts, template spam)."""
    from job_etl_spark.ml.cluster import connected_components
    from job_etl_spark.ml.dedup import minhash_lsh_candidates

    staging = store.read("staging_job_postings").where(
        F.col("description").isNotNull()
    )
    pairs = minhash_lsh_candidates(staging, "hash_key", "description")
    n_pairs = pairs.count()
    if n_pairs == 0:
        return {"near_dup_pairs": 0, "near_dup_clusters": 0, "docs_in_clusters": 0}
    cc = connected_components(pairs)
    per_cluster = cc.groupBy("cluster_id").count()
    agg = per_cluster.agg(
        F.count(F.lit(1)).alias("clusters"), F.sum("count").alias("docs")
    ).first()
    return {
        "near_dup_pairs": n_pairs,
        "near_dup_clusters": agg["clusters"],
        "docs_in_clusters": agg["docs"],
    }


def run_pipeline(
    spark: SparkSession,
    warehouse: str | None = None,
    num_jobs: int = 100,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """The full DAG slice on the mock source — SURVEY.md §7.1's 'one real
    query' end-to-end. ``mor=True`` migrates every mutable table to the
    merge-on-read layout — the 100 TB configuration — with
    ``mor_buckets`` selecting the bucketed base; the marts, which do not
    exist before their first build, migrate on the next ``mor=True`` run
    (or at the rank stage, for fact_jobs)."""
    warehouse = warehouse or tempfile.mkdtemp(prefix="jobspark_wh_")
    run_ts = run_ts or dt.datetime(2026, 1, 1, 7, 0, 0)
    store = TableStore(spark, warehouse)
    adapter = MockAdapter(num_jobs=num_jobs)
    stats: dict = {"warehouse": warehouse}
    stats["extract"] = run_extract(store, adapter, run_ts=run_ts)
    stats["normalize"] = run_normalize(
        store, adapter, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets
    )
    stats["enrich"] = run_enrich(store, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets)
    stats["marts"] = run_marts(store, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets)
    stats["dedupe"] = run_dedupe_report(store)
    stats["rank"] = run_rank(store, RankingConfig(), mor=mor, mor_buckets=mor_buckets)
    stats["dq"] = {r.name: r.violations for r in run_dq(store)}
    digest = report_mod.daily_digest(store.read("fact_jobs"), store.read("dim_companies"))
    stats["digest_unique_jobs"] = digest["unique_jobs"]
    stats["digest_top"] = [r["hash_key"] for r in digest["top_jobs"][:5]]
    # S12 notify: dry-run by default (no SMTP in this environment); failures
    # never fail the pipeline, matching the reference's all_done semantics
    from job_etl_spark.pipeline.notifier import send_digest

    notify = send_digest(
        "jobspark daily digest",
        {k: v for k, v in stats.items() if isinstance(v, (int, str))},
        digest["top_jobs"],
        dry_run=True,
    )
    stats["notify"] = {k: notify[k] for k in ("sent", "n_top", "error")}
    return stats


def run_publish(store: TableStore, out_dir: str) -> dict:
    """S11 stage: capped export of both mart tables
    (reference CLI surface ``services/publisher_hyper/main.py:18-22``)."""
    from job_etl_spark.pipeline import report as report_mod

    fact = store.read("fact_jobs")
    dim = store.read("dim_companies")
    return report_mod.export_tables(fact, dim, out_dir)


def run_notify(
    subject: str, text: str, html: str | None = None, metadata: str | None = None,
    dry_run: bool = True,
) -> dict:
    """S12 stage: standalone message send (reference CLI surface
    ``services/notifier/main.py:32-55`` — --subject --text [--html
    --metadata]); metadata is appended to the text body."""
    from job_etl_spark.pipeline.notifier import send_message

    body = text
    if metadata:
        meta = json.loads(metadata)
        if not isinstance(meta, dict):
            raise ValueError("--metadata must be a JSON object")
        body += "\n\n" + "\n".join(f"- {k}: {v}" for k, v in meta.items())
    return send_message(subject, body, html, dry_run=dry_run)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="jobspark", description="jobspark pipeline CLI")
    parser.add_argument(
        "stage",
        choices=[
            "pipeline", "extract", "normalize", "enrich", "marts", "rank",
            "dq", "publish", "notify", "query",
        ],
    )
    parser.add_argument(
        "name", nargs="?", default=None,
        help="query stage: declared query name (or unique prefix, e.g. q29)",
    )
    parser.add_argument("--sf", default="/root/testdata/sf0.01", help="query stage: table dir")
    parser.add_argument("--explain", action="store_true", help="query stage: print the physical plan")
    parser.add_argument("--max-rows", type=int, default=100, help="query stage: output row cap")
    parser.add_argument("--warehouse", default=None)
    parser.add_argument("--limit", type=int, default=None)
    parser.add_argument("--num-jobs", type=int, default=100)
    parser.add_argument("--dictionary-path", default=None)
    parser.add_argument("--config", default=None, help="ranking.yml path")
    parser.add_argument("--source", action="append", default=None)
    parser.add_argument("--all", action="store_true", help="re-rank everything")
    parser.add_argument(
        "--mor",
        action="store_true",
        help="rank/normalize/enrich/marts stage: first migrate the stage's "
        "target table to merge-on-read (fact-sized tables; COVERAGE.md "
        "'Choosing COW vs MOR'). The layout is chosen once per table: a "
        "migrated table takes every later write-back as a delta, with or "
        "without this flag",
    )
    parser.add_argument(
        "--mor-buckets",
        type=int,
        default=None,
        help="with --mor: hash-bucket the base into N stable dirs when the "
        "table migrates, so compaction rewrites only delta-touched buckets "
        "(ignored for an already-migrated table: the layout is chosen once; "
        "pick N so a bucket is a few GB at scale)",
    )
    parser.add_argument("--include-existing", action="store_true")
    parser.add_argument("--dry-run", action="store_true")
    parser.add_argument("--verbose", action="store_true")
    parser.add_argument(
        "--min-collected-at",
        default=None,
        help="normalize watermark (ISO timestamp): only raw rows collected at/after",
    )
    parser.add_argument("--output-dir", default=None, help="publish export dir")
    parser.add_argument("--subject", default=None, help="notify subject")
    parser.add_argument("--text", default=None, help="notify text body")
    parser.add_argument("--html", default=None, help="notify html body")
    parser.add_argument("--metadata", default=None, help="notify metadata JSON")
    args = parser.parse_args(argv)

    if args.stage == "notify":
        # driver-side only — no SparkSession needed
        if not args.subject or args.text is None:
            print(json.dumps({"error": "--subject and --text required"}), file=sys.stderr)
            return 2
        try:
            stats = run_notify(
                args.subject, args.text, args.html, args.metadata,
                dry_run=True,  # no SMTP in this environment; flag-gated later
            )
        except KeyboardInterrupt:
            return 130
        except ValueError as e:
            print(json.dumps({"error": f"bad --metadata: {e}"}), file=sys.stderr)
            return 2
        print(json.dumps(stats, default=str))
        return 0

    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-cli")
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.stage == "query":
            # ad-hoc access to the declared inventory: run any query by
            # name (or unique prefix) against a table dir — the "switch
            # from the reference and run what you ran today" surface
            from job_etl_spark.queries import registry

            reg = registry()
            matches = (
                [args.name] if args.name in reg
                else [n for n in sorted(reg) if args.name and n.startswith(args.name)]
            )
            if len(matches) != 1:
                print(
                    json.dumps(
                        {
                            "error": f"{args.name!r} matches {len(matches)} queries",
                            "candidates": matches[:10],
                        }
                    ),
                    file=sys.stderr,
                )
                return 2
            df = reg[matches[0]].fn(spark, args.sf)
            if args.explain:
                print(df._jdf.queryExecution().executedPlan().toString())
            for row in df.limit(args.max_rows).collect():
                print(json.dumps(row.asDict(), default=str))
            return 0
        if args.stage == "pipeline":
            stats = run_pipeline(
                spark, args.warehouse, num_jobs=args.num_jobs,
                mor=args.mor, mor_buckets=args.mor_buckets,
            )
        else:
            if not args.warehouse:
                print(json.dumps({"error": "--warehouse required"}), file=sys.stderr)
                return 2
            store = TableStore(spark, args.warehouse)
            if args.stage == "extract":
                stats = run_extract(store, MockAdapter(num_jobs=args.num_jobs))
            elif args.stage == "marts":
                stats = run_marts(store, mor=args.mor, mor_buckets=args.mor_buckets)
            elif args.stage == "normalize":
                import datetime as _dt

                wm = (
                    _dt.datetime.fromisoformat(args.min_collected_at)
                    if args.min_collected_at
                    else None
                )
                stats = run_normalize(
                    store, MockAdapter(), limit=args.limit, dry_run=args.dry_run,
                    min_collected_at=wm, mor=args.mor, mor_buckets=args.mor_buckets,
                )
            elif args.stage == "enrich":
                stats = run_enrich(
                    store,
                    args.dictionary_path,
                    args.source,
                    args.include_existing,
                    args.dry_run,
                    mor=args.mor,
                    mor_buckets=args.mor_buckets,
                )
            elif args.stage == "rank":
                cfg = RankingConfig.load(args.config) if args.config else RankingConfig()
                stats = run_rank(store, cfg, rank_all=args.all, limit=args.limit,
                                 dry_run=args.dry_run, mor=args.mor,
                                 mor_buckets=args.mor_buckets)
            elif args.stage == "publish":
                if not args.output_dir:
                    print(json.dumps({"error": "--output-dir required"}), file=sys.stderr)
                    return 2
                stats = run_publish(store, args.output_dir)
            else:
                results = run_dq(store)
                stats = {r.name: r.violations for r in results}
                print(json.dumps(stats, default=str))
                return 0 if all(r.passed for r in results) else 1
        print(json.dumps(stats, default=str))
        rejected = stats.get("normalize", stats).get("rejected", 0) if isinstance(stats, dict) else 0
        return 1 if rejected else 0
    except FileNotFoundError as e:
        print(json.dumps({"error": f"missing table: {e}"}), file=sys.stderr)
        return 2
    except KeyboardInterrupt:
        # SIGINT exit contract (reference: services/normalizer/main.py:289-354)
        return 130
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
