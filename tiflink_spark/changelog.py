"""Changelog contract and the MERGE-by-PK operator.

The reference's unit of dataflow is a changelog row tagged with a
RowKind: the source declares INSERT / UPDATE_AFTER / DELETE (never
UPDATE_BEFORE) — an *upsert stream keyed by PK*
(TikvDynamicSource.java:47-53, TikvDynamicSink.java:34-40). Spark has
no native retraction kind, so the op travels as a data column:

    __op  ∈ {'+I', '+U', '-D'}
    __seq — monotonically increasing within a batch; orders multiple
            changes to the same key (last write wins).

A ``-D`` row only needs its PK columns populated (the reference
encodes deletes as an empty value for the row key,
FlinkTikvProducer.java:164-165); non-key columns may be NULL.

``merge_changes`` is the engine's upsert/delete MERGE re-expressed as
pure DataFrame algebra so Catalyst plans it (broadcast or shuffled
hash join on the PK — no row-at-a-time path):

    new = base ⟕anti changed_keys  ∪  last_change_per_key[op != -D]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

OP_COL = "__op"
SEQ_COL = "__seq"
OP_INSERT = "+I"
OP_UPDATE = "+U"
OP_DELETE = "-D"
VALID_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)


def assert_valid_ops(changes: DataFrame) -> DataFrame:
    """Embed a contract guard in the lineage: any op outside
    {+I, +U, -D} fails the job instead of being silently treated as an
    upsert. ``-U`` (UPDATE_BEFORE) in particular is explicitly NOT part
    of the contract (TikvDynamicSource.java:47-53) — a producer emitting
    it would double-count if merged as an upsert. Costs nothing: the
    check is a codegen'd conditional on a column the merge reads anyway.
    """
    guard = F.when(F.col(OP_COL).isin(*VALID_OPS), F.col(OP_COL)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"changelog op outside contract {VALID_OPS}: "), F.col(OP_COL)
            )
        )
    )
    return changes.withColumn(OP_COL, guard)


def with_insert_ops(df: DataFrame, start_seq: int = 0) -> DataFrame:
    """Tag a batch snapshot as an all-INSERT changelog (the bootstrap
    phase of the reference's snapshot-then-CDC source,
    FlinkTikvConsumer.java:133-159)."""
    return df.withColumn(OP_COL, F.lit(OP_INSERT)).withColumn(
        SEQ_COL, F.monotonically_increasing_id() + F.lit(start_seq)
    )


def apply_filter(changes: DataFrame, predicate_sql: str) -> DataFrame:
    """The stateless-filter rule over a changelog (SURVEY §2.2): a row
    leaving the predicate ⇒ emit -D.

    +I/+U rows failing (or null under) the predicate demote to -D —
    deleting by PK is always safe, even for rows the filtered view never
    held (downstream delta algebra ignores deletes of absent keys). -D
    rows pass through unchanged: their payload is the last-known value,
    which may fail a predicate their stored version passed.
    """
    pred = F.expr(predicate_sql)
    demoted = (F.col(OP_COL) != OP_DELETE) & ~F.coalesce(pred, F.lit(False))
    return changes.withColumn(
        OP_COL, F.when(demoted, F.lit(OP_DELETE)).otherwise(F.col(OP_COL))
    )


def last_change_per_key(changes: DataFrame, pk: list[str]) -> DataFrame:
    """Collapse a changelog batch to the final change per key.

    Within one micro-batch, only the last op per PK matters for an
    upsert stream (intermediate +I/+U are superseded; a trailing -D
    deletes). Ordering is by ``__seq`` descending.
    """
    w = Window.partitionBy(*pk).orderBy(F.desc(SEQ_COL))
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_changes(base: DataFrame, changes: DataFrame, pk: list[str]) -> DataFrame:
    """MERGE an upsert-changelog batch into a keyed table state.

    Equivalent SQL:
        MERGE INTO base USING last_change_per_key(changes) c ON base.pk = c.pk
        WHEN MATCHED AND c.__op = '-D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND c.__op != '-D' THEN INSERT *

    Expressed as anti-join + union so it runs on any DataFrame (the
    keyed store applies it per bucket, so the join side is only the
    changed buckets' data at scale).
    """
    value_cols = [c for c in base.columns]
    final = last_change_per_key(changes, pk)
    changed_keys = final.select(*pk)
    survivors = base.join(changed_keys, pk, "left_anti")
    upserts = final.filter(F.col(OP_COL) != OP_DELETE).select(*value_cols)
    return survivors.unionByName(upserts)


def diff_states(old: DataFrame, new: DataFrame, pk: list[str]) -> DataFrame:
    """Compute the changelog that transforms ``old`` into ``new``.

    Used by the recompute-mode MV to emit only the changed rows to the
    sink. ONE full-outer join on PK classifies every key with one CASE:
    absent in ``old`` → +I, absent in ``new`` → -D, present in both and
    different by the null-safe test → +U, equal → no row. Deletes carry
    the old payload, inserts and updates the new one. Output carries
    ``__op``/``__seq``.
    """
    value_cols = [c for c in old.columns if c not in pk]
    # PK-only relations: a TRUE literal is the presence marker (NULL would
    # make every row look absent and the diff permanently empty).
    o = old.select(*pk, F.struct(*value_cols).alias("__old")) if value_cols else old.select(
        *pk, F.lit(True).alias("__old")
    )
    n = new.select(*pk, F.struct(*value_cols).alias("__new")) if value_cols else new.select(
        *pk, F.lit(True).alias("__new")
    )
    # One join with the op decided per row. Filtering the join into
    # three branches instead plans three joins, each re-running both
    # inputs' lineage.
    old_v, new_v = F.col("__old"), F.col("__new")
    op = (
        F.when(old_v.isNull(), F.lit(OP_INSERT))
        .when(new_v.isNull(), F.lit(OP_DELETE))
        # NULL-SAFE inequality: plain `!=` on structs yields NULL (not
        # true) when a field transitions value<->NULL, silently dropping
        # exactly the updates outer-join views produce (a dim arrival
        # filling a NULL payload, or a retraction re-NULLing it).
        .when(~old_v.eqNullSafe(new_v), F.lit(OP_UPDATE))
    )
    j = o.join(n, pk, "full_outer").withColumn(OP_COL, op).filter(F.col(OP_COL).isNotNull())
    is_delete = F.col(OP_COL) == OP_DELETE
    payload = [
        F.when(is_delete, F.col(f"__old.{c}")).otherwise(F.col(f"__new.{c}")).alias(c)
        for c in value_cols
    ]
    out = j.select(*pk, *payload, OP_COL)
    return out.withColumn(SEQ_COL, F.monotonically_increasing_id())


# -- transaction-event resolution (SURVEY §2.1 op #3) -----------------------

TXN_PREWRITE = "prewrite"
TXN_COMMIT = "commit"
TXN_ROLLBACK = "rollback"


def resolve_transactions(log: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Resolve a raw transaction-event log into committed rows.

    The reference's source consumes Percolator-style events: a PREWRITE
    carries the row payload at ``start_ts``; a later COMMIT (matched by
    ``start_ts``) makes it visible at ``commit_ts``; a ROLLBACK (or a
    missing commit — the txn is still in flight or lost) discards it
    (FlinkTikvConsumer.java:161-199 buffers prewrites and flushes them
    on commit; GrpcService tracks the open-txn set).

    Input schema: ``start_ts long`` on every event, payload columns on
    PREWRITE rows, ``commit_ts long`` on COMMIT rows, ``kind string``.
    Output: one row per committed prewrite — payload + ``commit_ts`` —
    an insert-only changelog ordered by commit time.

    The match is an equi-join on start_ts (hash join, keyed by txn);
    at scale this is the same shuffle the commit-buffer flush performs,
    with the open-txn set bounded by the uncommitted window, not history.
    """
    pre = log.filter(F.col("kind") == TXN_PREWRITE).select(
        "start_ts", *payload_cols
    )
    commits = log.filter(F.col("kind") == TXN_COMMIT).select(
        "start_ts", "commit_ts"
    )
    rollbacks = log.filter(F.col("kind") == TXN_ROLLBACK).select("start_ts")
    return (
        pre.join(rollbacks, "start_ts", "left_anti")
        .join(commits, "start_ts")
        .select(*payload_cols, "commit_ts")
    )
