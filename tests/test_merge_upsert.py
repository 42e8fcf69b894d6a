from __future__ import annotations

from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert, sync_columns


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_first_run_is_identity(spark):
    upd = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = merge_upsert(None, upd, ["id"])
    assert rows(out, "id", "v") == [(1, "a"), (2, "b")]


def test_update_wins_and_unmatched_retained(spark):
    tgt = spark.createDataFrame([(1, "old"), (2, "keep"), (3, "keep3")], "id long, v string")
    upd = spark.createDataFrame([(1, "new"), (4, "ins")], "id long, v string")
    out = merge_upsert(tgt, upd, ["id"])
    assert rows(out, "id", "v") == [(1, "new"), (2, "keep"), (3, "keep3"), (4, "ins")]


def test_composite_key(spark):
    tgt = spark.createDataFrame([(1, "a", 10.0), (1, "b", 20.0)], "id long, k string, v double")
    upd = spark.createDataFrame([(1, "b", 99.0), (2, "a", 1.0)], "id long, k string, v double")
    out = merge_upsert(tgt, upd, ["id", "k"])
    assert rows(out, "id", "k", "v") == [(1, "a", 10.0), (1, "b", 99.0), (2, "a", 1.0)]


def test_dedupe_updates_keeps_last(spark):
    tgt = spark.createDataFrame([(1, 0, "old")], "id long, seq long, v string")
    upd = spark.createDataFrame(
        [(1, 1, "mid"), (1, 2, "last")], "id long, seq long, v string"
    )
    out = merge_upsert(tgt, upd, ["id"], order_col="seq")
    assert rows(out, "id", "v") == [(1, "last")]


def test_sync_columns_schema_evolution(spark):
    # dbt on_schema_change='sync_all_columns': add missing as nulls, drop extras
    tgt = spark.createDataFrame([(1, "a", None)], "id long, v string, extra_new string")
    upd = spark.createDataFrame([(2, "b", 3.5)], "id long, v string, dropped double")
    out = merge_upsert(tgt, upd, ["id"])
    assert out.columns == ["id", "v", "extra_new"]
    assert rows(out, "id", "v", "extra_new") == [(1, "a", None), (2, "b", None)]


def test_merge_plan_broadcasts_updates(spark):
    tgt = spark.range(1000).withColumn("v", F.lit("x"))
    upd = spark.range(5).withColumn("v", F.lit("y"))
    out = merge_upsert(tgt, upd, ["id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_merge_duplicate_update_keys_plan_no_shuffle(spark):
    """Duplicate update keys need no distinct() before the anti-join
    (its build side ignores duplicates): the plan holds no
    hash-partitioning shuffle, the matched target rows (the null key
    included) go, and every update row lands once."""
    from lion_parcel_etl_spark.operators.bucketing import plan_string

    schema = "id long, v string"
    tgt = spark.createDataFrame([(1, "old"), (2, "keep"), (None, "null-old")], schema)
    upd = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "n1"), (None, "n2"), (3, "ins"), (3, "ins")], schema
    )
    out = merge_upsert(tgt, upd, ["id"])
    assert "hashpartitioning" not in plan_string(out)
    got = sorted(tuple(r) for r in out.fillna(-1, ["id"]).collect())
    assert got == [
        (-1, "n1"), (-1, "n2"), (1, "a"), (1, "b"), (2, "keep"), (3, "ins"), (3, "ins")
    ]


def test_union_evolve_widens_and_fills(spark):
    from lion_parcel_etl_spark.operators.merge_upsert import union_evolve

    a = spark.createDataFrame([(1, 10)], "id int, x int")
    b = spark.createDataFrame([(2, 3.5, "n")], "id bigint, x double, note string")
    out = union_evolve([a, b])
    assert dict(out.dtypes) == {"id": "bigint", "x": "double", "note": "string"}
    rows = {r.id: (r.x, r.note) for r in out.collect()}
    assert rows == {1: (10.0, None), 2: (3.5, "n")}


def test_union_evolve_case_insensitive_first_name_wins(spark):
    from lion_parcel_etl_spark.operators.merge_upsert import union_evolve

    a = spark.createDataFrame([(1,)], "Message string")
    b = spark.createDataFrame([(2,)], "message string")
    out = union_evolve([a, b])
    assert out.columns == ["Message"]
    assert out.count() == 2


def test_union_evolve_rejects_lossy_numeric_drift(spark):
    import pytest as _pytest

    from lion_parcel_etl_spark.operators.merge_upsert import union_evolve

    # bigint ∪ double would collapse distinct ids above 2^53
    a = spark.createDataFrame([(9007199254740993,)], "x bigint")
    b = spark.createDataFrame([(1.5,)], "x double")
    with _pytest.raises(TypeError):
        union_evolve([a, b])
    # int ∪ float would be lossy too (24-bit mantissa); widens to double
    c = spark.createDataFrame([(2147483647,)], "x int")
    d = spark.createDataFrame([(1.5,)], "x float")
    assert dict(union_evolve([c, d]).dtypes) == {"x": "double"}


def test_union_evolve_rejects_incompatible_drift(spark):
    import pytest as _pytest

    from lion_parcel_etl_spark.operators.merge_upsert import union_evolve

    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([("s",)], "x string")
    with _pytest.raises(TypeError):
        union_evolve([a, b])


def test_merge_null_key_replaces_not_duplicates(spark):
    tgt = spark.createDataFrame([(None, "old"), (1, "x")], "id long, v string")
    upd = spark.createDataFrame([(None, "new")], "id long, v string")
    out = sorted(map(tuple, merge_upsert(tgt, upd, ["id"]).collect()), key=str)
    assert out == sorted([(None, "new"), (1, "x")], key=str)


def test_schema_drift_replay_mart_continuity(spark, tmp_path):
    """Multi-run replay of the reference's on_schema_change=
    'sync_all_columns' contract (retail_transactions.sql:6): the
    staging schema gains a column, widens a column, then loses one
    mid-sequence; the mart must evolve in lockstep with no crash, no
    lost rows, and correct values for every surviving cell."""
    from lion_parcel_etl_spark.catalog import Warehouse
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_evolve

    wh = Warehouse(str(tmp_path / "wh"))

    def replay(batch):
        target = wh.read(spark, "mart") if wh.exists("mart") else None
        wh.overwrite(merge_upsert_evolve(target, batch, ["id"]), "mart")
        return wh.read(spark, "mart")

    # run 1: baseline (id int, v string, amount int)
    got = replay(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id int, v string, amount int"
        )
    )
    assert dict(got.dtypes) == {"id": "int", "v": "string", "amount": "int"}

    # run 2: GAINS extra, WIDENS amount int -> bigint
    got = replay(
        spark.createDataFrame(
            [(2, "b2", 2**40, "x2"), (3, "c", 30, "x3")],
            "id int, v string, amount bigint, extra string",
        )
    )
    assert dict(got.dtypes) == {
        "id": "int", "v": "string", "amount": "bigint", "extra": "string",
    }
    rows = {r.id: r for r in got.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].extra is None and rows[1].amount == 10  # old row kept, nulled gain
    assert rows[2].amount == 2**40 and rows[2].extra == "x2"

    # run 3: LOSES v (sync_all_columns removes departed columns)
    got = replay(
        spark.createDataFrame(
            [(3, 33, "x3b"), (4, 40, "x4")], "id int, amount bigint, extra string"
        )
    )
    assert dict(got.dtypes) == {"id": "int", "amount": "bigint", "extra": "string"}
    rows = {r.id: r for r in got.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[3].amount == 33 and rows[3].extra == "x3b"
    assert rows[1].amount == 10  # survivor intact through both evolutions


def test_schema_drift_replay_union_mode_retains_departed(spark):
    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_evolve

    t = spark.createDataFrame([(1, "a", 10)], "id int, v string, amount int")
    u = spark.createDataFrame([(1, 11), (2, 20)], "id int, amount int")
    got = merge_upsert_evolve(t, u, ["id"], mode="union")
    assert dict(got.dtypes) == {"id": "int", "v": "string", "amount": "int"}
    rows = {r.id: r for r in got.collect()}
    # the batch rewrote id 1, so its departed column is nulled; the
    # COLUMN survives for history
    assert rows[1].v is None and rows[1].amount == 11
    assert rows[2].v is None


def test_merge_upsert_evolve_refuses_dropped_key_and_lossy_widen(spark):
    import pytest

    from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert_evolve

    t = spark.createDataFrame([(1, 10)], "id int, amount bigint")
    no_key = spark.createDataFrame([(5,)], "amount int")
    with pytest.raises(ValueError, match="merge key"):
        merge_upsert_evolve(t, no_key, ["id"])
    lossy = spark.createDataFrame([(1, 1.5)], "id int, amount double")
    with pytest.raises(TypeError, match="lossy"):
        merge_upsert_evolve(t, lossy, ["id"])  # bigint ∪ double: > 2^53
