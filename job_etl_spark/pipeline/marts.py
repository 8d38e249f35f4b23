"""Marts stage (reference parity: entry point C — the two dbt models as
PySpark transforms).

Both are incremental merge statements, applied by ``TableStore.merge``.

``dim_companies`` (``dbt/job_dbt/models/marts/dim_companies.sql:1-45``):
SCD1 incremental, the companies not in the dimension yet; company =
coalesce(name, 'unknown').

``fact_jobs`` (``dbt/job_dbt/models/marts/fact_jobs.sql:23-109``):
incremental on first_seen_at > MAX(ingested_at); company_id derived from
the company name (J1 company join is broadcast); the J2 rank carry keeps
existing rank_score/rank_explain through ``fact_merge_policy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_etl_spark.functions.identity import company_id_expr
from job_etl_spark.operators.watermark import high_watermark


def dim_increment(companies: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """The dim_companies merge statement: the companies ``existing`` does
    not hold yet (all of them when there is no dimension). Every dim
    attribute is immutable once seeded — company_id is a function of the
    name, and staging_companies only ever inserts — so the new keys are
    the whole change, and latest-wins applies them."""
    sel = companies.select(
        "company_id",
        F.coalesce(F.col("name"), F.lit("unknown")).alias("company"),
        *[
            F.col(c) if c in companies.columns else F.lit(None).cast("string").alias(c)
            for c in ["source_first_seen"]
        ],
        F.col("created_at"),
    )
    if existing is None:
        return sel
    return sel.join(existing.select("company_id"), "company_id", "left_anti")


#: fact_jobs column order (the dbt model's SELECT list,
#: ``fact_jobs.sql:46-95``). ``rank_score``/``rank_explain`` are the J2
#: rank-carry pair: the marts increment emits them NULL and the merge
#: keeps any previously-ranked value.
FACT_COLUMNS = [
    "hash_key",
    "job_title_std",
    "company_id",
    "location_std",
    "location_lat",
    "location_lon",
    "remote_type",
    "contract_type",
    "seniority_level",
    "salary_min_norm",
    "salary_max_norm",
    "salary_currency_norm",
    "skills",
    "posted_at",
    "source",
    "apply_url",
    "rank_score",
    "rank_explain",
    "ingested_at",
    "last_seen_at",
]

RANK_CARRY_COLS = ["rank_score", "rank_explain"]


def fact_merge_policy() -> dict:
    """The fact_jobs per-column merge classes, under which the marts
    increment and the rank write-back are applied (``TableStore.merge``,
    either layout):

    - every data column OVERWRITES (a re-seen hash_key takes the fresh
      staging projection — the dbt incremental's unique_key merge,
      ``fact_jobs.sql:23-31``);
    - ``rank_score``/``rank_explain`` COALESCE (the J2 rank carry,
      ``fact_jobs.sql:96-108``): a marts increment emits them NULL so an
      already-ranked row keeps its score, while a rank write-back emits
      them non-NULL and wins. Under this policy the rank stage's
      full-row deltas resolve identically to latest-wins (every column
      it writes is non-NULL-preserving), so one table spec serves both
      writers.
    """
    return {
        "overwrite": [
            c
            for c in FACT_COLUMNS
            if c != "hash_key" and c not in RANK_CARRY_COLS
        ],
        "coalesce": list(RANK_CARRY_COLS),
        "keep_first": [],
    }


def fact_projection(new_rows: DataFrame, run_ts) -> DataFrame:
    """Staging → fact column projection (``fact_jobs.sql:46-95``); rank
    columns NULL (they belong to the rank stage / the carry merge)."""
    return new_rows.select(
        "hash_key",
        F.col("job_title").alias("job_title_std"),
        company_id_expr("company").alias("company_id"),
        F.col("location").alias("location_std"),
        F.lit(None).cast("double").alias("location_lat"),  # fact_jobs.sql:71-72
        F.lit(None).cast("double").alias("location_lon"),
        "remote_type",
        "contract_type",
        "seniority_level",
        F.col("salary_min").alias("salary_min_norm"),
        F.col("salary_max").alias("salary_max_norm"),
        F.col("salary_currency").alias("salary_currency_norm"),
        F.col("skills_raw").alias("skills"),
        "posted_at",
        "source",
        "apply_url",
        F.lit(None).cast("double").alias("rank_score"),
        F.lit(None).cast("map<string,double>").alias("rank_explain"),
        F.lit(run_ts).alias("ingested_at"),
        "last_seen_at",
    )


def fact_increment(staging: DataFrame, existing_fact: DataFrame | None, run_ts) -> DataFrame:
    """The marts increment: staging rows past the fact watermark
    (``first_seen_at > MAX(ingested_at)``, ``fact_jobs.sql:23-31``),
    projected with NULL rank columns: the marts merge statement, whose
    COALESCE on the rank pair under ``fact_merge_policy`` performs the
    J2 rank carry."""
    new_rows = staging
    if existing_fact is not None and existing_fact.head(1):
        wm = high_watermark(existing_fact, "ingested_at")
        new_rows = staging.where(F.col("first_seen_at") > F.lit(wm))
    return fact_projection(new_rows, run_ts)

