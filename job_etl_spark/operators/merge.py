"""Merge-upsert — the workhorse write pattern (reference parity: J3/J4/J5).

The reference's ``INSERT … ON CONFLICT (hash_key) DO UPDATE`` (batch
variant, ``services/normalizer/db_operations.py:427-460``) merges duplicate
identities: keep ``first_seen_at``, bump ``last_seen_at``, overwrite the
identity-bearing columns, and ``COALESCE(new, old)`` for the remaining
nullable columns. On Spark this is a keyed full-outer join + per-column
coalesce producing a fully rewritten table (partition-overwrite at scale;
Delta ``MERGE INTO`` drops in behind the same signature when available).

Scale notes (100 TB):
- The join shuffles both sides on the key — unavoidable for a keyed merge;
  with bucketed tables on ``hash_key`` the shuffle disappears (bucket-local
  sort-merge join). AQE handles skewed keys.
- The updates side is usually a small daily delta → Spark auto-broadcasts
  it under the threshold; no collect, no driver materialization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    overwrite_cols: Sequence[str] = (),
    coalesce_cols: Sequence[str] | None = None,
    keep_first_cols: Sequence[str] = (),
) -> DataFrame:
    """Upsert ``updates`` into ``base`` by ``keys``.

    - ``overwrite_cols``: matched rows take the update's value outright
      (reference: title/company/location/source + last_seen_at bump).
    - ``coalesce_cols``: matched rows take ``coalesce(update, base)``
      (reference: the 11 nullable payload columns). Defaults to every
      shared non-key column not otherwise classified.
    - ``keep_first_cols``: matched rows keep the base value
      (reference: first_seen_at).
    Unmatched update rows are inserted; unmatched base rows pass through.
    """
    keys = list(keys)
    all_cols = base.columns
    classified = set(keys) | set(overwrite_cols) | set(keep_first_cols)
    if coalesce_cols is None:
        coalesce_cols = [c for c in all_cols if c not in classified and c in updates.columns]

    b = base.alias("b")
    u = updates.alias("u")
    # explicit join condition keeps both aliases' key columns addressable
    joined = b.join(u, [F.col(f"b.{k}") == F.col(f"u.{k}") for k in keys], "full_outer")
    matched = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"b.{keys[0]}").isNotNull()
    out = []
    for k in keys:
        out.append(F.coalesce(F.col(f"u.{k}"), F.col(f"b.{k}")).alias(k))
    for c in all_cols:
        if c in keys:
            continue
        bcol = F.col(f"b.{c}")
        ucol = F.col(f"u.{c}") if c in updates.columns else F.lit(None)
        if c in keep_first_cols:
            expr = F.coalesce(bcol, ucol)
        elif c in overwrite_cols:
            expr = F.when(matched, ucol).otherwise(F.coalesce(ucol, bcol))
        elif c in coalesce_cols:
            expr = F.coalesce(ucol, bcol)
        else:
            expr = F.coalesce(bcol, ucol)
        out.append(expr.alias(c))
    return joined.select(*out)


def merge_upsert_onto(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    overwrite_cols: Sequence[str] = (),
    coalesce_cols: Sequence[str] | None = None,
    keep_first_cols: Sequence[str] = (),
) -> DataFrame:
    """Result-identical to :func:`merge_upsert`, different physical shape:
    the base is never shuffled.

    ``merge_upsert``'s full-outer join cannot use a broadcast hash join
    (Spark builds hash tables for one side only; FULL OUTER needs both),
    so at 100 TB the read pays a full shuffle of the base. Here the merge
    decomposes into three broadcast-able pieces (updates ≪ base is the
    merge-on-read invariant):

      matched+survivors = base ⟕ broadcast(updates)   — one base scan,
          per-column class expressions; unmatched base rows fall out of
          the same projection (the when(matched) branches)
      matched_keys      = base ⋉ broadcast(update keys) — key-column-only
          second scan (parquet reads just the key pages)
      inserts           = updates ∖ matched_keys        — small × small

    Used by ``TableStore.mor_read`` for policy tables; parity with
    ``merge_upsert`` is pinned by randomized tests (test_merge_mor.py).
    """
    keys = list(keys)
    all_cols = base.columns
    classified = set(keys) | set(overwrite_cols) | set(keep_first_cols)
    if coalesce_cols is None:
        coalesce_cols = [c for c in all_cols if c not in classified and c in updates.columns]
    base_types = dict(base.dtypes)

    b = base.alias("b")
    u = updates.alias("u")
    joined = b.join(
        F.broadcast(u), [F.col(f"b.{k}") == F.col(f"u.{k}") for k in keys], "left"
    )
    # a null-keyed base row never equality-matches (same as the full-outer)
    matched = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"b.{keys[0]}").isNotNull()
    out = [F.col(f"b.{k}").alias(k) for k in keys]
    for c in all_cols:
        if c in keys:
            continue
        bcol = F.col(f"b.{c}")
        ucol = F.col(f"u.{c}") if c in updates.columns else F.lit(None)
        if c in keep_first_cols:
            expr = F.coalesce(bcol, ucol)
        elif c in overwrite_cols:
            expr = F.when(matched, ucol).otherwise(bcol)
        elif c in coalesce_cols:
            expr = F.coalesce(ucol, bcol)
        else:
            expr = F.coalesce(bcol, ucol)
        out.append(expr.alias(c))
    updated = joined.select(*out)

    # pure inserts: update keys absent from the base. A small-left vs
    # huge-right anti join would shuffle the base, so invert it: semi-join
    # the base against the broadcast key set (key columns only — column
    # pruning keeps the scan cheap), then anti-join small × small. For an
    # unmatched update row every column class reduces to "take the update
    # value" (coalesce/when against an all-null base row).
    matched_keys = base.select(*keys).join(
        F.broadcast(updates.select(*keys)), keys, "left_semi"
    )
    inserts = updates.join(matched_keys, keys, "left_anti").select(
        *[
            (F.col(c) if c in updates.columns else F.lit(None).cast(base_types[c])).alias(c)
            for c in all_cols
        ]
    )
    return updated.unionByName(inserts)


def fold_upsert_batches(
    batches: DataFrame,
    keys: Sequence[str],
    overwrite_cols: Sequence[str] = (),
    coalesce_cols: Sequence[str] = (),
    seq_col: str = "_seq",
    deleted_col: str = "_deleted",
) -> tuple[DataFrame, DataFrame]:
    """Fold a stack of upsert batches into ONE equivalent updates frame.

    ``batches`` is the union of delta batches, each row tagged with its
    batch sequence ``seq_col`` (at most one row per key per batch — the
    merge-on-read delta contract). The COALESCE-merge is associative:
    applying :func:`merge_upsert` batch-by-batch equals applying it once
    with the per-key fold

      overwrite  → the latest batch's value outright (nulls included)
      coalesce   → first non-null scanning latest → oldest
      everything else (keep-first + unclassified) → first non-null
                   scanning oldest → latest

    so a merge-on-read view costs one window over the DELTA rows (≪ base)
    plus a single base merge — never a per-delta join chain. Tombstones:
    rows at/before a key's latest ``deleted_col`` marker are dead history,
    and so is the key's BASE row — a sequential COW chain would have
    deleted it before any revive batch arrived. Every key with ANY
    tombstone is therefore returned in ``reset_keys`` for the caller to
    anti-join the base on: a key whose latest row is a tombstone then
    simply vanishes (no folded row), while a revived key re-inserts fresh
    from the folded frame with no pre-delete base values leaking in.

    Returns ``(folded_updates, reset_keys)``.
    """
    keys = list(keys)
    if deleted_col not in batches.columns:
        batches = batches.withColumn(deleted_col, F.lit(False))
    batches = batches.withColumn(
        deleted_col, F.coalesce(F.col(deleted_col), F.lit(False))
    )
    pk = Window.partitionBy(*keys)
    tomb = F.max(F.when(F.col(deleted_col), F.col(seq_col))).over(pk)
    live = batches.withColumn("_tomb", tomb).where(
        (~F.col(deleted_col))
        & (F.col("_tomb").isNull() | (F.col(seq_col) > F.col("_tomb")))
    )
    desc = pk.orderBy(F.desc(seq_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    asc = pk.orderBy(F.asc(seq_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    data_cols = [
        c for c in batches.columns if c not in keys and c not in (seq_col, deleted_col, "_tomb")
    ]
    folded = live
    for c in data_cols:
        if c in overwrite_cols:
            folded = folded.withColumn(c, F.first(c, ignorenulls=False).over(desc))
        elif c in coalesce_cols:
            folded = folded.withColumn(c, F.first(c, ignorenulls=True).over(desc))
        else:
            folded = folded.withColumn(c, F.first(c, ignorenulls=True).over(asc))
    folded = (
        folded.withColumn("_rn", F.row_number().over(pk.orderBy(F.desc(seq_col))))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_tomb", seq_col, deleted_col)
    )
    reset_keys = batches.where(F.col(deleted_col)).select(*keys).distinct()
    return folded, reset_keys


def insert_if_absent(base: DataFrame, new_rows: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``INSERT … ON CONFLICT DO NOTHING`` (J4): anti-join then append.
    Intra-batch duplicates are also suppressed (the reference's per-row
    inserts conflict against rows earlier in the same batch) — one
    deterministic winner per key via min-struct ordering over the
    remaining columns. The anti-join broadcasts whichever side is small;
    at scale this is a shuffle-free append when both are bucketed on the
    key."""
    keys = list(keys)
    # maps are not orderable; any remaining orderable column set gives a
    # deterministic winner
    dtypes = dict(new_rows.dtypes)
    others = [
        c for c in new_rows.columns if c not in keys and not dtypes[c].startswith("map")
    ]
    if others:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in others])
        new_rows = (
            new_rows.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        new_rows = new_rows.distinct()
    fresh = new_rows.join(base.select(*keys).distinct(), on=keys, how="left_anti")
    # base columns the new rows lack (added to the table after they were
    # shaped, e.g. company-match results) insert as NULL
    base_types = dict(base.dtypes)
    return base.unionByName(
        fresh.select(
            *[
                F.col(c) if c in fresh.columns else F.lit(None).cast(base_types[c]).alias(c)
                for c in base.columns
            ]
        )
    )


def fold_upsert_statements(
    batches: DataFrame,
    keys: Sequence[str],
    column_classes: dict[str, dict[int, str]],
    seq_col: str = "_seq",
    deleted_col: str = "_deleted",
) -> tuple[DataFrame, DataFrame]:
    """Fold a delta stack whose batches carry PER-STATEMENT column classes
    (the generalization of :func:`fold_upsert_batches`, which requires one
    table-wide policy).

    Why this exists: the staging table's normalize statements are
    keep-first on the enricher-owned columns (re-normalize must not reset
    enrichment), but an ENRICHER statement must overwrite those same
    columns — so one table accumulates deltas with different per-column
    classes (reference: the normalizer's ON CONFLICT column list vs the
    enricher's keyed UPDATE, services/normalizer/db_operations.py:427-460
    and services/enricher/db_operations.py:140-176).

    ``column_classes[c]`` maps a batch's ``seq`` to the class
    (``'overwrite' | 'coalesce' | 'keep_first'``) that batch applies to
    column ``c``; a seq absent from the map means the statement does not
    carry ``c`` at all (a no-op on that column — its rows are excluded
    from the fold, null or not).

    The fold stays ONE window pass because the three per-batch merge
    functions close under composition:

      overwrite(v)  = const(v)                (ignores prior state)
      coalesce(v)   = s -> coalesce(v, s)     (fill-left)
      keep_first(v) = s -> coalesce(s, v)     (fill-right)

    Any composition reduces to ``s -> coalesce(PRE, s, POST)`` or, once an
    overwrite appears, to ``const(coalesce(PRE', K, POST'))`` where K is
    the LATEST overwrite's value and PRE'/POST' aggregate only the
    fill-left/fill-right batches AFTER it:

      PRE  = first non-null fill-left value scanning latest -> oldest
      POST = first non-null fill-right value scanning oldest -> latest

    so the folded frame encodes each column as three fields —
    ``c__pre = coalesce(PRE, K)``, ``c__post = POST``, and
    ``c__skipbase = (an overwrite batch exists)`` — which
    :func:`merge_statements_onto` resolves against the base as
    ``when(skipbase, coalesce(pre, post))
       .otherwise(coalesce(pre, base, post))``.

    Tombstones reset exactly as in :func:`fold_upsert_batches`: rows
    at/before a key's latest tombstone are dead history and every key with
    ANY tombstone is returned in ``reset_keys`` for the caller to
    anti-join the base on.

    Returns ``(framed, reset_keys)`` — ``framed`` has the key columns plus
    the three ``__pre/__post/__skipbase`` fields per folded column.
    """
    keys = list(keys)
    if deleted_col not in batches.columns:
        batches = batches.withColumn(deleted_col, F.lit(False))
    batches = batches.withColumn(
        deleted_col, F.coalesce(F.col(deleted_col), F.lit(False))
    )
    pk = Window.partitionBy(*keys)
    tomb = F.max(F.when(F.col(deleted_col), F.col(seq_col))).over(pk)
    live = batches.withColumn("_tomb", tomb).where(
        (~F.col(deleted_col))
        & (F.col("_tomb").isNull() | (F.col(seq_col) > F.col("_tomb")))
    )
    desc = pk.orderBy(F.desc(seq_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    asc = pk.orderBy(F.asc(seq_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = F.col(seq_col)

    def _seqs(cmap: dict[int, str], cls: str) -> list[int]:
        return sorted(s for s, c in cmap.items() if c == cls)

    framed = live
    out_cols: list[str] = []
    for c, cmap in sorted(column_classes.items()):
        ow, co, kf = (_seqs(cmap, x) for x in ("overwrite", "coalesce", "keep_first"))
        bad = set(cmap.values()) - {"overwrite", "coalesce", "keep_first"}
        if bad:
            raise ValueError(f"unknown column class(es) {bad} for {c!r}")
        # latest overwrite, wrapped in a struct so "overwrite with null
        # value" stays distinguishable from "no overwrite batch"
        if ow:
            k_struct = F.first(
                F.when(seq.isin(ow), F.struct(F.col(c).alias("v"))), ignorenulls=True
            ).over(desc)
        else:
            k_struct = F.lit(None).cast(f"struct<v:{dict(batches.dtypes)[c]}>")
        j = F.max(F.when(seq.isin(ow), seq)).over(pk) if ow else F.lit(None)
        after_j = seq > F.coalesce(j, F.lit(-(2**31)))
        pre_fill = (
            F.first(F.when(seq.isin(co) & after_j, F.col(c)), ignorenulls=True).over(desc)
            if co
            else F.lit(None)
        )
        post_fill = (
            F.first(F.when(seq.isin(kf) & after_j, F.col(c)), ignorenulls=True).over(asc)
            if kf
            else F.lit(None)
        )
        framed = framed.withColumns(
            {
                f"{c}__pre": F.coalesce(pre_fill, k_struct["v"]),
                f"{c}__post": post_fill.cast(dict(batches.dtypes)[c]),
                f"{c}__skipbase": k_struct.isNotNull(),
            }
        )
        out_cols += [f"{c}__pre", f"{c}__post", f"{c}__skipbase"]
    framed = (
        framed.withColumn("_rn", F.row_number().over(pk.orderBy(F.desc(seq_col))))
        .where(F.col("_rn") == 1)
        .select(*keys, *out_cols)
    )
    reset_keys = batches.where(F.col(deleted_col)).select(*keys).distinct()
    return framed, reset_keys


def merge_statements_onto(
    base: DataFrame, framed: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Resolve a :func:`fold_upsert_statements` frame against the base —
    the per-statement twin of :func:`merge_upsert_onto`, same broadcast
    shape (the base is never shuffled): left join + key-semi + anti.

    Base columns with no ``__pre`` triple pass through untouched (no
    statement ever carried them); inserts take ``coalesce(pre, post)`` and
    null-fill the untouched columns."""
    keys = list(keys)
    base_types = dict(base.dtypes)
    folded_cols = [c for c in base.columns if f"{c}__pre" in framed.columns]
    extra = [
        c[: -len("__pre")]
        for c in framed.columns
        if c.endswith("__pre") and c[: -len("__pre")] not in base.columns
    ]
    if extra:
        raise ValueError(f"statement columns not in base schema: {sorted(extra)}")

    b = base.alias("b")
    u = framed.alias("u")
    joined = b.join(
        F.broadcast(u), [F.col(f"b.{k}") == F.col(f"u.{k}") for k in keys], "left"
    )
    matched = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"b.{keys[0]}").isNotNull()
    out = [F.col(f"b.{k}").alias(k) for k in keys]
    for c in base.columns:
        if c in keys:
            continue
        bcol = F.col(f"b.{c}")
        if c not in folded_cols:
            out.append(bcol.alias(c))
            continue
        pre, post, skip = (
            F.col(f"u.{c}__pre"),
            F.col(f"u.{c}__post"),
            F.col(f"u.{c}__skipbase"),
        )
        merged_val = F.when(skip, F.coalesce(pre, post)).otherwise(
            F.coalesce(pre, bcol, post)
        )
        out.append(F.when(matched, merged_val).otherwise(bcol).alias(c))
    updated = joined.select(*out)

    matched_keys = base.select(*keys).join(
        F.broadcast(framed.select(*keys)), keys, "left_semi"
    )
    inserts = framed.join(matched_keys, keys, "left_anti").select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"{c}__pre"), F.col(f"{c}__post"))
                if c in folded_cols
                else F.lit(None).cast(base_types[c])
            ).alias(c)
            for c in base.columns
            if c not in keys
        ],
    )
    return updated.unionByName(inserts.select(*base.columns))
