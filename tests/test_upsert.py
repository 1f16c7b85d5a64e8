"""MERGE upsert semantics (R17): conflict policy + idempotent replay."""

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_spark.operators.upsert import (
    merge_into_parquet,
    merge_upsert,
    recover_parquet,
    upsert_rows,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "transaction_id string, amount double, note string")


def test_merge_updates_and_inserts(spark):
    target = _df(spark, [("T1", 10.0, "old"), ("T2", 20.0, "keep")])
    source = _df(spark, [("T1", 99.0, "new"), ("T3", 30.0, "ins")])
    out = {r.transaction_id: r for r in merge_upsert(target, source, "transaction_id").collect()}
    assert out["T1"].amount == 99.0 and out["T1"].note == "new"  # matched -> update
    assert out["T2"].amount == 20.0  # unmatched target -> kept
    assert out["T3"].amount == 30.0  # unmatched source -> insert
    assert len(out) == 3


def test_merge_update_subset_of_columns(spark):
    # reference updates only amount + processed_timestamp on conflict
    # (`lambda_function.py:226-235`); other columns keep target values
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", 99.0, "should-not-apply")])
    row = merge_upsert(target, source, "transaction_id", update_cols=("amount",)).first()
    assert row.amount == 99.0
    assert row.note == "orig"


def test_merge_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "txn")
    batch = _df(spark, [("T1", 10.0, "a"), ("T2", 20.0, "b")])
    merge_into_parquet(batch, path, key="transaction_id")
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    # replaying the identical batch must not change the table
    merge_into_parquet(batch, path, key="transaction_id")
    second = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert first == second
    # an updated batch changes exactly the matched row
    merge_into_parquet(_df(spark, [("T2", 99.0, "b2")]), path, key="transaction_id")
    out = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert out == {"T1": 10.0, "T2": 99.0}


def test_merge_null_overwrites_on_match(spark):
    # MERGE semantics: a matched source row with an explicit NULL in an
    # update column overwrites the target value (ON CONFLICT DO UPDATE
    # SET c = EXCLUDED.c) — match is keyed on key presence, not value.
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", None, "new")])
    row = merge_upsert(target, source, "transaction_id").first()
    assert row.amount is None
    assert row.note == "new"


def test_merge_insert_fills_non_update_columns(spark):
    # with a restricted update policy, INSERTed rows still take the
    # whole source row (only matched rows restrict to update_cols)
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", 99.0, "skip"), ("T2", 20.0, "full")])
    out = {
        r.transaction_id: r
        for r in merge_upsert(
            target, source, "transaction_id", update_cols=("amount",)
        ).collect()
    }
    assert out["T1"].note == "orig"  # matched: note not in update_cols
    assert out["T2"].note == "full"  # inserted: whole row
    assert out["T2"].amount == 20.0


def test_merge_best_effort_drops_bad_rows(spark):
    # reference tolerance loop (`lambda_function.py:258-260`): rows the
    # insert would reject (NULL PK, duplicate PK in batch) are skipped,
    # the batch proceeds; last-writer-wins within the batch.
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(
        spark,
        [(None, 5.0, "nullkey"), ("T2", 1.0, "a"), ("T2", 2.0, "b"), ("T1", 99.0, "up")],
    )
    out = {
        r.transaction_id: r
        for r in merge_upsert(
            target, source, "transaction_id", best_effort=True
        ).collect()
    }
    assert set(out) == {"T1", "T2"}
    assert out["T1"].amount == 99.0
    assert out["T2"].amount in (1.0, 2.0)  # deterministic pick, one of the batch


def test_staging_merge_sql_reference_policy():
    from aws_etl_pipeline_spark.operators.upsert import staging_merge_sql

    sql = staging_merge_sql(
        "portfolio_transactions",
        "portfolio_transactions_staging",
        "transaction_id",
        ["transaction_id", "amount", "processed_timestamp"],
        update_cols=("amount", "processed_timestamp"),
    )
    assert "MERGE INTO portfolio_transactions t" in sql
    # staging-side references are quoted (Spark's JDBC writer quotes
    # the staging columns it creates); target-side stay unquoted.
    assert 'amount = s."amount"' in sql
    assert 'processed_timestamp = s."processed_timestamp"' in sql
    update_clause = sql.split("UPDATE SET")[1].split("WHEN NOT MATCHED")[0]
    assert "transaction_id" not in update_clause  # key never updated
    assert "WHEN NOT MATCHED THEN INSERT" in sql


# ------------------------------------------- merge_into_parquet's fast path
_SCHEMA = "transaction_id string, amount double, note string"


def _stored(spark, tmp_path, name, rows, schema=_SCHEMA):
    """``rows`` read back from parquet, so the planner sees their size
    as it sees a landed file or a stored target."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _part_files(path):
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


_GUARD_CASES = {
    "null_keys_both_sides": (
        [(None, 1.0, "t-null"), ("T1", 10.0, "a"), ("T2", 20.0, "b")],
        [(None, 5.0, "s-null"), ("T1", 11.0, "a2"), ("T3", 30.0, "c")],
    ),
    "explicit_null_update": (
        [("T1", 10.0, "a"), ("T2", 20.0, "b")],
        [("T1", None, None)],
    ),
    "empty_batch": ([("T1", 10.0, "a")], []),
    "empty_target": ([], [("T1", 10.0, "a"), (None, 2.0, "n")]),
    "all_keys_matched": (
        [("T1", 10.0, "a"), ("T2", 20.0, "b")],
        [("T2", 21.0, "b2"), ("T1", 11.0, "a2")],
    ),
}


@pytest.fixture(params=["default", "-1"], ids=["broadcast", "sort_merge"])
def broadcast_threshold(spark, request):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    if request.param != "default":
        spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


@pytest.mark.parametrize("case", sorted(_GUARD_CASES))
def test_anti_join_path_equals_general_merge(spark, tmp_path, case, broadcast_threshold):
    target_rows, source_rows = _GUARD_CASES[case]
    target = _stored(spark, tmp_path, "target", target_rows)
    source = _stored(spark, tmp_path, "source", source_rows)
    fast = upsert_rows(target, source, "transaction_id")
    plan = _plan(fast)
    assert "LeftAnti" in plan and "FullOuter" not in plan
    want_join = "SortMergeJoin" if broadcast_threshold == "-1" else "BroadcastHashJoin"
    assert want_join in plan
    general = merge_upsert(target, source, "transaction_id")
    assert _sorted_rows(fast) == _sorted_rows(general)


@pytest.mark.parametrize("update_cols", [None, ("amount",)])
def test_merge_keeps_values_of_null_key_target_rows(spark, update_cols):
    # a NULL key matches nothing, so its target row survives unchanged
    target = _df(spark, [(None, 1.0, "kept")])
    source = _df(spark, [("T1", 2.0, "new")])
    out = _sorted_rows(merge_upsert(target, source, "transaction_id", update_cols))
    assert out == sorted([(None, 1.0, "kept"), ("T1", 2.0, "new")], key=repr)


@pytest.mark.parametrize(
    "target, source_schema",
    [
        (([("T1", 10.0, "a", "x")], _SCHEMA + ", extra string"), _SCHEMA),
        (([("T1", 10.0, "a")], _SCHEMA), "transaction_id string, amount float, note string"),
    ],
    ids=["extra_target_column", "widened_type"],
)
def test_schema_mismatch_takes_general_merge(spark, target, source_schema):
    target = spark.createDataFrame(*target)
    source = spark.createDataFrame([("T1", 11.0, "a2"), ("T2", 20.0, "b")], source_schema)
    out = upsert_rows(target, source, "transaction_id")
    assert "FullOuter" in _plan(out) and "LeftAnti" not in _plan(out)
    assert _sorted_rows(out) == _sorted_rows(
        merge_upsert(target, source, "transaction_id")
    )


def _scan_ancestors(node, chain=()):
    """Node names from the root down to each parquet scan, per scan."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _scan_ancestors(node.executedPlan(), chain)
    # match on the relation's root path: the printed Location is cut at
    # spark.sql.maxMetadataStringLength, so a long tmp dir hides its tail
    if name.startswith("Scan parquet"):
        if node.relation().location().rootPaths().head().getName() == "target":
            return [list(chain)]
        return []
    kids = node.children()
    found = []
    for i in range(kids.size()):
        found += _scan_ancestors(kids.apply(i), chain + (name,))
    return found


def test_anti_join_plan_leaves_target_scan_unshuffled(spark, tmp_path):
    merged = upsert_rows(
        _stored(spark, tmp_path, "target", [("T1", 10.0, "a"), ("T2", 20.0, "b")]),
        _stored(spark, tmp_path, "source", [("T2", 21.0, "b2")]),
        "transaction_id",
    )
    plan = merged._jdf.queryExecution().executedPlan()
    assert "FullOuter" not in plan.toString()
    (chain,) = _scan_ancestors(plan)
    assert not [n for n in chain if "Exchange" in n], chain


def test_merge_into_parquet_keeps_file_count(spark, tmp_path):
    path = str(tmp_path / "txn")
    want = {f"T{i}": float(i) for i in range(30)}
    schema = merge_into_parquet(
        _df(spark, [(k, v, "h") for k, v in want.items()]).repartition(3),
        path,
        key="transaction_id",
    )
    files = _part_files(path)
    assert files == 3
    for i in range(20):
        batch = [(f"T{i}", -1.0 * i, "u"), (f"N{i}", float(i), "n")]
        schema = merge_into_parquet(_df(spark, batch), path, "transaction_id", schema)
        want.update({k: v for k, v, _ in batch})
        assert _part_files(path) == files
    got = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert got == want


def test_merge_into_parquet_empty_first_batch(spark, tmp_path):
    path = str(tmp_path / "txn")
    schema = merge_into_parquet(_df(spark, []), path, key="transaction_id")
    assert spark.read.parquet(path).count() == 0
    batch = _df(spark, [("T1", 1.0, "a"), (None, 2.0, "n")])
    merge_into_parquet(batch, path, "transaction_id", schema)
    assert _sorted_rows(spark.read.parquet(path)) == _sorted_rows(batch)


def test_merge_into_parquet_adopts_old_target_after_crash(spark, tmp_path):
    # a swap stopped between its renames: the target is gone and the
    # previous version sits in <path>.old; no history may be lost
    path = str(tmp_path / "txn")
    merge_into_parquet(_df(spark, [("T1", 1.0, "a"), ("T2", 2.0, "b")]), path, "transaction_id")
    os.rename(path, path + ".old")
    merge_into_parquet(_df(spark, [("T2", 20.0, "b2")]), path, "transaction_id")
    out = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert out == {"T1": 1.0, "T2": 20.0}
    assert not os.path.exists(path + ".old")
    recover_parquet(path)  # no-op when the target is present
    assert os.path.exists(path)


def test_failed_merge_write_leaves_target_intact(spark, tmp_path):
    path = str(tmp_path / "txn")
    merge_into_parquet(_df(spark, [("T1", 1.0, "a"), ("T2", 2.0, "b")]), path, "transaction_id")
    before = _sorted_rows(spark.read.parquet(path))
    # the key scan never evaluates `note`, so this raises only while
    # the merged rows are written
    bad = _df(spark, [("T2", 99.0, "x")]).withColumn(
        "note",
        F.when(F.col("amount") > 50, F.raise_error(F.lit("boom"))).otherwise(F.col("note")),
    )
    with pytest.raises(Exception, match="boom"):
        merge_into_parquet(bad, path, "transaction_id")
    assert _sorted_rows(spark.read.parquet(path)) == before
    # the next batch still merges over the intact target
    merge_into_parquet(_df(spark, [("T3", 3.0, "c")]), path, "transaction_id")
    assert spark.read.parquet(path).count() == 3
