"""Unit tests for the changelog contract: MERGE-by-PK and state diff."""

import pytest
from pyspark.sql import functions as F

from tiflink_spark.changelog import (
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    SEQ_COL,
    diff_states,
    last_change_per_key,
    merge_changes,
    with_insert_ops,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _changes(spark, rows):
    return spark.createDataFrame(rows, f"k int, v string, {OP_COL} string, {SEQ_COL} long")


def test_merge_upsert_delete_insert(spark):
    base = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    changes = _changes(
        spark,
        [
            (2, "B", OP_UPDATE, 0),
            (3, None, OP_DELETE, 1),
            (4, "d", OP_INSERT, 2),
        ],
    )
    got = {(r.k, r.v) for r in merge_changes(base, changes, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}


def test_merge_last_write_wins_within_batch(spark):
    base = _df(spark, [(1, "a")])
    changes = _changes(
        spark,
        [
            (1, "x", OP_UPDATE, 0),
            (1, None, OP_DELETE, 1),
            (2, "y", OP_INSERT, 2),
            (2, "z", OP_UPDATE, 3),
        ],
    )
    got = {(r.k, r.v) for r in merge_changes(base, changes, ["k"]).collect()}
    assert got == {(2, "z")}


def test_last_change_per_key(spark):
    changes = _changes(spark, [(1, "a", OP_INSERT, 0), (1, "b", OP_UPDATE, 5), (2, "c", OP_INSERT, 1)])
    got = {(r.k, r.v) for r in last_change_per_key(changes, ["k"]).collect()}
    assert got == {(1, "b"), (2, "c")}


def test_diff_states_roundtrip(spark):
    """Applying diff_states(old, new) onto old must yield new."""
    old = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _df(spark, [(2, "B"), (3, "c"), (4, "d")])
    delta = diff_states(old, new, ["k"])
    ops = {(r.k, r[OP_COL]) for r in delta.collect()}
    assert ops == {(1, OP_DELETE), (2, OP_UPDATE), (4, OP_INSERT)}
    applied = {(r.k, r.v) for r in merge_changes(old, delta, ["k"]).collect()}
    assert applied == {(2, "B"), (3, "c"), (4, "d")}


def test_diff_states_null_transitions(spark):
    """value<->NULL transitions must emit updates: plain struct `!=`
    yields NULL (not true) when a field flips to/from NULL — the exact
    updates outer-join views produce (dim arrival filling a NULL
    payload, retraction re-NULLing it)."""
    old = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "s"), (4, None)], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "y"), (3, "s"), (4, None)], "k int, v string"
    )
    delta = diff_states(old, new, ["k"])
    got = {(r.k, r.v, r[OP_COL]) for r in delta.collect()}
    assert got == {(1, None, OP_UPDATE), (2, "y", OP_UPDATE)}


def _three_branch_diff(old, new, pk):
    """The earlier diff_states shape, kept as the reference: three
    filtered branches over one full-outer join, unioned."""
    value_cols = [c for c in old.columns if c not in pk]
    o = old.select(*pk, F.struct(*value_cols).alias("__old"))
    n = new.select(*pk, F.struct(*value_cols).alias("__new"))
    j = o.join(n, pk, "full_outer")
    old_v, new_v = F.col("__old"), F.col("__new")

    def unpack(df, src, op):
        cols = [*pk] + [F.col(f"{src}.{c}").alias(c) for c in value_cols]
        return df.select(*cols).withColumn(OP_COL, F.lit(op))

    return (
        unpack(j.filter(old_v.isNull() & new_v.isNotNull()), "__new", OP_INSERT)
        .unionByName(
            unpack(
                j.filter(old_v.isNotNull() & new_v.isNotNull() & ~old_v.eqNullSafe(new_v)),
                "__new",
                OP_UPDATE,
            )
        )
        .unionByName(unpack(j.filter(new_v.isNull() & old_v.isNotNull()), "__old", OP_DELETE))
    )


def test_diff_states_one_join_matches_three_branch_reference(spark):
    """The single-join diff emits exactly the rows, ops, payloads and
    columns of the three-branch form on a mixed pair: inserts, deletes,
    plain updates, value<->NULL transitions on either column, equal
    rows (including equal NULLs) and a composite PK — in one join."""
    schema = "a int, b string, v string, w double"
    old = spark.createDataFrame(
        [
            (1, "x", "keep", 1.0),  # equal -> no row
            (1, "y", "old", 2.0),  # plain update
            (2, "x", "gone", 3.0),  # delete
            (3, "x", None, 4.0),  # NULL -> value
            (4, "x", "set", None),  # value -> NULL (second column)
            (5, "x", None, None),  # equal NULLs -> no row
            (6, "x", "del", None),  # delete with a NULL payload
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, "x", "keep", 1.0),
            (1, "y", "new", 2.0),
            (3, "x", "filled", 4.0),
            (4, "x", "set", 9.0),
            (5, "x", None, None),
            (7, "x", "ins", 7.0),  # insert
            (8, "z", None, None),  # insert with a NULL payload
        ],
        schema,
    )
    pk = ["a", "b"]
    delta = diff_states(old, new, pk)
    ref = _three_branch_diff(old, new, pk)
    assert delta.columns == [*ref.columns, SEQ_COL]
    cols = ref.columns
    got = sorted(tuple(r[c] for c in cols) for r in delta.collect())
    want = sorted(tuple(r[c] for c in cols) for r in ref.collect())
    assert got == want
    assert {(r.a, r.b, r[OP_COL]) for r in delta.collect()} == {
        (1, "y", OP_UPDATE),
        (2, "x", OP_DELETE),
        (3, "x", OP_UPDATE),
        (4, "x", OP_UPDATE),
        (6, "x", OP_DELETE),
        (7, "x", OP_INSERT),
        (8, "z", OP_INSERT),
    }
    assert len({r[SEQ_COL] for r in delta.collect()}) == len(want)
    plan = delta._jdf.queryExecution().optimizedPlan().toString()
    assert sum(line.lstrip(" :+-").startswith("Join ") for line in plan.splitlines()) == 1


def test_diff_states_pk_only_relation(spark):
    """Tables whose every column is the PK still diff correctly (the
    presence marker must not be NULL)."""
    old = spark.createDataFrame([(1,), (2,)], "k int")
    new = spark.createDataFrame([(2,), (3,)], "k int")
    delta = diff_states(old, new, ["k"])
    ops = {(r.k, r[OP_COL]) for r in delta.collect()}
    assert ops == {(1, OP_DELETE), (3, OP_INSERT)}
    applied = {r.k for r in merge_changes(old, delta, ["k"]).collect()}
    assert applied == {2, 3}


def test_with_insert_ops_tags_snapshot(spark):
    df = with_insert_ops(_df(spark, [(1, "a")]))
    row = df.collect()[0]
    assert row[OP_COL] == OP_INSERT and row[SEQ_COL] is not None


def test_resolve_transactions_commit_rollback_inflight(spark):
    from tiflink_spark.changelog import (
        TXN_COMMIT,
        TXN_PREWRITE,
        TXN_ROLLBACK,
        resolve_transactions,
    )

    rows = [
        # committed txn
        (10, 1, "a", None, TXN_PREWRITE),
        (10, None, None, 11, TXN_COMMIT),
        # rolled back txn
        (20, 2, "b", None, TXN_PREWRITE),
        (20, None, None, None, TXN_ROLLBACK),
        # still in flight (no commit): invisible
        (30, 3, "c", None, TXN_PREWRITE),
        # commit without prewrite (lost payload): nothing to emit
        (40, None, None, 41, TXN_COMMIT),
    ]
    log = spark.createDataFrame(
        rows, "start_ts long, k long, v string, commit_ts long, kind string"
    )
    got = resolve_transactions(log, ["k", "v"]).collect()
    assert [(r.k, r.v, r.commit_ts) for r in got] == [(1, "a", 11)]


@pytest.mark.slow
def test_merge_changes_matches_dict_model_hypothesis(spark):
    """Property: merge_changes over any op sequence == a python dict
    replayed in __seq order (last write wins, -D removes)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tiflink_spark.changelog import OP_COL, SEQ_COL, merge_changes

    ops = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),        # key
            st.integers(min_value=0, max_value=99),       # value
            st.sampled_from(["+I", "+U", "-D"]),
        ),
        min_size=0,
        max_size=12,
    )
    base_rows = [(k, k * 10) for k in range(4)]

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(ops)
    def run(seq):
        model = dict(base_rows)
        for k, v, op in seq:
            if op == "-D":
                model.pop(k, None)
            else:
                model[k] = v
        base = spark.createDataFrame(base_rows, "k int, v int")
        if seq:
            changes = spark.createDataFrame(
                [(k, v, op, i) for i, (k, v, op) in enumerate(seq)],
                f"k int, v int, {OP_COL} string, {SEQ_COL} long",
            )
            got = merge_changes(base, changes, ["k"])
        else:
            got = base
        assert {(r.k, r.v) for r in got.collect()} == set(model.items())

    run()


@pytest.mark.slow
def test_op_contract_guard(spark, tmp_path):
    """An op outside {+I,+U,-D} must FAIL the merge, not silently
    upsert (-U / UPDATE_BEFORE would double-count): the guard rides the
    lineage through the keyed store."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from tiflink_spark.store import KeyedParquetStore

    store = KeyedParquetStore(spark, str(tmp_path / "guard"), ["k"], 2)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    store.bootstrap(base, batch_id=0)

    bad = spark.createDataFrame(
        [(1, "a", "-U", 0)], f"k long, v string, {OP_COL} string, {SEQ_COL} long"
    )
    with pytest.raises(Exception) as ei:
        store.merge(bad, batch_id=1)
    assert "outside contract" in str(ei.value)

    # missing contract columns fail fast, schema-side
    with pytest.raises(ValueError, match="missing columns"):
        store.merge(base, batch_id=2)

    # a valid batch still merges
    ok = spark.createDataFrame(
        [(2, "b2", "+U", 0)], f"k long, v string, {OP_COL} string, {SEQ_COL} long"
    )
    assert store.merge(ok, batch_id=3)
    assert {(r.k, r.v) for r in store.read().collect()} == {(1, "a"), (2, "b2")}
