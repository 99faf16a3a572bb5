"""Snapshot diffing (engine extension: dataset versioning).

A training-data pipeline republishes its corpus repeatedly; the diff
between two snapshots — what was added, removed, or edited — is both
the audit artifact and the input to incremental downstream refresh
(the batch analog of the reference's retract/changelog stream,
SURVEY.md §2 K4: a changelog says how a LIVE result changed, a
snapshot diff says how a PUBLISHED dataset changed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Row-level diff of two snapshots keyed by ``doc_id``: one row per
    id present in either side with status ``added`` / ``removed`` /
    ``changed`` / ``unchanged``, comparing an md5 over the content
    columns instead of the payloads themselves. The digest input is the
    JSON of a struct of the columns: JSON quoting/field-dropping makes
    NULL, empty string, and the literal string 'null' three distinct
    digests (a coalesce-to-sentinel concat would collide them), so the
    comparison has IS DISTINCT FROM semantics — NULL is a value,
    matching the oracle's formulation.

    Scale: both sides shed everything but (id, 16-byte digest) BEFORE
    the full-outer join — the one shuffle moves fingerprints, never
    content. Joining on the id (not the digest) keeps the plan
    skew-free for the common republish case where most rows are
    unchanged."""
    fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])))
    o = old.select(F.col("doc_id").alias("_oid"), fp.alias("_ofp"))
    n = new.select(F.col("doc_id").alias("_nid"), fp.alias("_nfp"))
    return (
        o.join(n, F.col("_oid") == F.col("_nid"), "full_outer")
        .select(
            F.coalesce(F.col("_nid"), F.col("_oid")).alias("doc_id"),
            F.when(F.col("_oid").isNull(), "added")
            .when(F.col("_nid").isNull(), "removed")
            .when(F.col("_ofp") != F.col("_nfp"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )


def changes_from_diff(
    old: DataFrame,
    new: DataFrame,
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """The changelog a republish SHIPS: :func:`snapshot_diff` verdicts
    joined with payloads — ``(id, op, *content_cols)`` where op is
    ``upsert`` (added/changed rows carry the NEW payload) or
    ``delete`` (payload columns null). Unchanged rows don't appear:
    the changelog's size is the edit volume, not the corpus.

    Scale: the diff shuffles fingerprints only; the payload join
    touches just the added/changed ids (broadcast-friendly for the
    common small-edit republish)."""
    diff = snapshot_diff(old, new, content_cols)
    upserts = (
        diff.filter(F.col("status").isin("added", "changed"))
        .select("doc_id")
        .join(new, "doc_id")
        .select("doc_id", F.lit("upsert").alias("op"), *content_cols)
    )
    deletes = diff.filter(F.col("status") == "removed").select(
        "doc_id",
        F.lit("delete").alias("op"),
        *[F.lit(None).cast(dict(new.dtypes)[c]).alias(c) for c in content_cols],
    )
    return upserts.unionByName(deletes)


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """MERGE INTO without a table format: apply a
    :func:`changes_from_diff`-shaped changelog to a base snapshot —
    upserts replace-or-insert by id, deletes drop the id — yielding
    the next snapshot. ``apply_changes(old, changes_from_diff(old,
    new)) == new`` exactly (the roundtrip the registered
    ``changelog_roundtrip`` query pins against an oracle that computes
    ``new`` directly).

    Scale: one id-keyed anti-join (base rows whose id appears in the
    changelog at all — superseded or deleted) + a union with the
    upsert payloads. The changelog side is edit-volume-sized, so AQE
    broadcasts it for the common small-edit republish; the base is
    never shuffled."""
    keyed = changes.select(F.col("doc_id"), "op", *content_cols)
    survivors = base.select("doc_id", *content_cols).join(
        keyed.select("doc_id"), "doc_id", "left_anti"
    )
    upserts = keyed.filter(F.col("op") == "upsert").select("doc_id", *content_cols)
    return survivors.unionByName(upserts)


def incremental_agg_maintenance(
    old_facts: DataFrame,
    changes: DataFrame,
    id_col: str,
    group_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
    seq_col: str | None = None,
) -> DataFrame:
    """Incremental view maintenance for an additive aggregate: update
    ``old_facts``' per-group (count, sums) under an upsert/delete
    changelog WITHOUT re-aggregating the unchanged corpus, so that

        incremental_agg_maintenance(old, changes(old, new))
            == aggregate(new)      (rows with n_rows = 0 dropped)

    exactly — the closure the registered ``agg_incremental_update``
    query pins against a DuckDB oracle that aggregates ``new``
    directly.

    ``old_facts``: one row per id — ``(id, *group_cols, *sum_cols)``.
    ``changes``: :func:`changes_from_diff` shape — ``(id, op,
    *group_cols, *sum_cols)``, upserts carrying the NEW payload,
    deletes null payloads.

    Scale: the old aggregate is ONE corpus pass (in steady state it is
    the stored artifact and even that pass disappears); everything
    else is edit-volume-sized — subtracting the old contribution of
    every changed id needs their old rows, fetched by an id equi-join
    the changelog side of which AQE broadcasts for the common
    small-edit republish, and the delta merge is a groupBy over
    |touched groups| + |stored groups| rows. An upsert that MOVES an
    id between groups is handled naturally: its old row subtracts from
    the old group, its payload adds to the new one."""
    gcols = list(group_cols)
    n = F.count(F.lit(1)).cast("long")
    old_agg = old_facts.groupBy(*gcols).agg(
        n.alias("n_rows"), *[F.sum(c).cast("long").alias(c) for c in sum_cols]
    )
    # old contribution of every id the changelog touches (upsert of an
    # existing id supersedes it; delete removes it) — negated.
    # distinct() so a changelog carrying more than one op for the same
    # id (e.g. a delete immediately followed by an upsert) still
    # subtracts that id's old row exactly once; changes_from_diff
    # emits one op per id, but this operator is public and must not
    # assume that contract. The distinct's shuffle is edit-volume-
    # sized (changed ids only) — cheaper than the left-semi
    # alternative, whose static plan sort-merges the corpus-sized
    # old_facts on both sides.
    minus = (
        changes.select(id_col)
        .distinct()
        .join(old_facts, id_col)
        .groupBy(*gcols)
        .agg(
            (-n).alias("n_rows"),
            *[(-F.sum(c)).cast("long").alias(c) for c in sum_cols],
        )
    )
    # plus side mirrors the minus side's multi-op tolerance: each id
    # contributes AT MOST ONE final state to the new aggregate, so the
    # changelog is first resolved to one winning op per id. With
    # ``seq_col`` (an ordered log) the winner is the latest op —
    # delete-after-upsert removes the id, upsert-after-delete lands
    # the upsert payload. Without it, ties are arbitrated
    # deterministically (upserts beat deletes — the shape
    # changes_from_diff can emit is thereby unchanged — and
    # contradictory double-upserts collapse to the payload-max, a
    # documented malformed-input safety rather than a semantics: a
    # well-formed set changelog has one op per id). Previously every
    # upsert row was summed, so two upserts for one id double-added
    # and upsert-then-delete resurrected the id.
    # the no-seq arbitration keys also serve as the tiebreak BELOW
    # seq_col: two ops sharing one sequence number would otherwise
    # pick a partition-order-dependent winner
    arbitration = [F.col("op").desc()] + [
        F.col(c).desc_nulls_last() for c in (*gcols, *sum_cols)
    ]
    order = ([F.col(seq_col).desc()] if seq_col else []) + arbitration
    w = Window.partitionBy(id_col).orderBy(*order)
    final_ops = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    plus = (
        final_ops.filter(F.col("op") == "upsert")
        .groupBy(*gcols)
        .agg(n.alias("n_rows"), *[F.sum(c).cast("long").alias(c) for c in sum_cols])
    )
    return (
        old_agg.unionByName(minus)
        .unionByName(plus)
        .groupBy(*gcols)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            *[F.sum(c).cast("long").alias(c) for c in sum_cols],
        )
        .filter(F.col("n_rows") > 0)
    )
