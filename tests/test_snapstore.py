"""SnapshotTable contract tests — ported from the reference's DB trait tests
(/root/reference/db/db-core/src/tests.rs:22-170: add/get/exists life-cycle,
INSERT OR IGNORE idempotency) and tar retention
(federate/publiccodeyml/src/lib.rs:239-262)."""

import pytest
from pyspark.sql import types as T

from starchart_spark.snapstore import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), False),
    ]
)


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "t"), SCHEMA, ["k"])


def test_empty_read(spark, table):
    df = table.read(spark)
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_empty_read_prunes_at_plan_time(spark, table):
    """An empty table reads as a relation the optimizer can see is empty:
    an anti-join against it is its left side, planned with no shuffle and
    no Python RDD scan, and the read keeps the declared schema."""
    from pyspark.sql import functions as F

    empty = table.read(spark)
    assert empty.schema == SCHEMA
    left = spark.range(50).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("x")
    )
    joined = left.join(empty, "k", "left_anti")
    assert sorted(joined.collect()) == sorted(left.collect())
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_merge_insert_first_writer_wins(spark, table):
    snap1, ins1 = table.merge_insert(spark, spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    assert ins1.count() == 2
    # second writer with same key 'a': ignored (INSERT OR IGNORE semantics)
    snap2, ins2 = table.merge_insert(spark, spark.createDataFrame([("a", 99), ("c", 3)], SCHEMA))
    assert {r["k"] for r in ins2.collect()} == {"c"}
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}
    assert snap2.snapshot_id > snap1.snapshot_id


def test_merge_noop_commits_snapshot(spark, table):
    table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    snap, ins = table.merge_insert(spark, spark.createDataFrame([("a", 5)], SCHEMA))
    assert ins.count() == 0
    assert snap.summary["op"] == "merge-noop"


def test_time_travel_and_rollback(spark, table):
    s1, _ = table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    s2, _ = table.merge_insert(spark, spark.createDataFrame([("b", 2)], SCHEMA))
    assert table.read(spark, snapshot_id=s1.snapshot_id).count() == 1
    assert table.read(spark).count() == 2
    table.rollback(s1.snapshot_id)
    assert table.read(spark).count() == 1


def test_overwrite(spark, table):
    table.merge_insert(spark, spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    table.overwrite(spark.createDataFrame([("z", 9)], SCHEMA))
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert rows == {"z": 9}


def test_expire_snapshots_retention(spark, table):
    for i in range(8):
        table.append(spark.createDataFrame([(f"k{i}", i)], SCHEMA))
    assert len(table.snapshots()) == 8
    table.expire_snapshots(keep=5)  # reference keeps newest 5 tars
    assert len(table.snapshots()) == 5
    # newest snapshot still reads the full accumulated data
    assert table.read(spark).count() == 8


def test_multi_commit_one_action(spark, tmp_path):
    """multi_commit: N tables, one write job, per-table observed counts,
    commit in listed order, files readable through each table's schema."""
    from pyspark.sql import functions as F

    from starchart_spark.snapstore import multi_commit

    schema_b = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("w", T.StringType(), True),
        ]
    )
    ta = SnapshotTable(str(tmp_path / "ta"), SCHEMA, ["k"])
    tb = SnapshotTable(str(tmp_path / "tb"), schema_b, ["k"])
    df_a = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    df_b = spark.createDataFrame([("x", None)], schema_b)

    got = multi_commit(
        spark,
        str(tmp_path / "_staging"),
        [(ta, df_a, "merge-append"), (tb, df_b, "overwrite")],
        {"batch_id": 7},
        extra_metrics={
            "n_total": F.count(F.lit(1)),
        },
    )
    assert got["n_ta"] == 2 and got["n_tb"] == 1 and got["n_total"] == 3
    assert sorted(r["k"] for r in ta.read(spark).collect()) == ["a", "b"]
    rows_b = tb.read(spark).collect()
    assert len(rows_b) == 1 and rows_b[0]["w"] is None
    assert ta.current_snapshot().summary["op"] == "merge-insert"
    assert ta.current_snapshot().summary["inserted"] == 2
    assert tb.current_snapshot().summary["batch_id"] == 7

    # second round: empty merge-append → merge-noop; overwrite replaces
    got2 = multi_commit(
        spark,
        str(tmp_path / "_staging"),
        [
            (ta, spark.createDataFrame([], SCHEMA), "merge-append"),
            (tb, spark.createDataFrame([("y", "v"), ("z", None)], schema_b), "overwrite"),
        ],
    )
    assert got2["n_ta"] == 0 and got2["n_tb"] == 2
    assert ta.current_snapshot().summary["op"] == "merge-noop"
    assert ta.read(spark).count() == 2  # unchanged
    assert sorted(r["k"] for r in tb.read(spark).collect()) == ["y", "z"]


def test_multi_commit_rejects_type_conflict(spark, tmp_path):
    bad = T.StructType([T.StructField("v", T.StringType(), True)])  # v: long in SCHEMA
    ta = SnapshotTable(str(tmp_path / "ca"), SCHEMA, ["k"])
    tc = SnapshotTable(str(tmp_path / "cc"), bad, [])
    from starchart_spark.snapstore import multi_commit

    with pytest.raises(TypeError):
        multi_commit(
            spark,
            str(tmp_path / "_st2"),
            [
                (ta, spark.createDataFrame([], SCHEMA), "append"),
                (tc, spark.createDataFrame([], bad), "append"),
            ],
        )


BUCKETED = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
    ]
)


def test_partition_aware_merge_update(spark, tmp_path):
    """bucket_by tables: merge_update rewrites ONLY touched buckets —
    untouched bucket-pure files are carried into the new snapshot verbatim
    (same rel path ⇒ same bytes, files are immutable)."""
    from pyspark.sql import functions as F

    from starchart_spark.functions.urls import host_bucket

    tbl = SnapshotTable(str(tmp_path / "bt"), BUCKETED, ["k"], bucket_by=("host_bucket", 4))
    rows = spark.range(0, 40).select(
        F.concat(F.lit("key"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        host_bucket(F.concat(F.lit("key"), F.col("id")), 4).alias("host_bucket"),
    )
    tbl.merge_update(spark, rows)  # seeds bucket-pure files
    snap1 = tbl.current_snapshot()
    assert all(tbl._file_bucket(f) is not None for f in snap1.data_files)

    # touch exactly one bucket
    one = rows.filter(F.col("host_bucket") == 2).limit(1).withColumn(
        "v", F.lit(999).cast("long")
    )
    tbl.merge_update(spark, one)
    snap2 = tbl.current_snapshot()
    untouched_before = {f for f in snap1.data_files if tbl._file_bucket(f) != 2}
    # every untouched bucket file carried over byte-identical (same path)
    assert untouched_before <= set(snap2.data_files)
    assert snap2.summary["touched_buckets"] == 1
    # and the update took
    got = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    key = one.collect()[0]["k"]
    assert got[key] == 999 and len(got) == 40


def test_partition_aware_merge_delete(spark, tmp_path):
    from pyspark.sql import functions as F

    from starchart_spark.functions.urls import host_bucket

    tbl = SnapshotTable(str(tmp_path / "bd"), BUCKETED, ["k"], bucket_by=("host_bucket", 4))
    rows = spark.range(0, 40).select(
        F.concat(F.lit("key"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        host_bucket(F.concat(F.lit("key"), F.col("id")), 4).alias("host_bucket"),
    )
    tbl.merge_update(spark, rows)
    snap1 = tbl.current_snapshot()
    victims = rows.filter(F.col("host_bucket") == 1).limit(2)
    n_victims = victims.count()
    _, deleted = tbl.merge_delete(spark, victims)
    assert deleted.count() == n_victims
    snap2 = tbl.current_snapshot()
    untouched_before = {f for f in snap1.data_files if tbl._file_bucket(f) != 1}
    assert untouched_before <= set(snap2.data_files)
    assert tbl.read(spark).count() == 40 - n_victims
    # legacy mixed file (plain append) gets split on the next merge
    extra = spark.createDataFrame([("zz1", 1, 0), ("zz2", 2, 3)], BUCKETED)
    tbl.append(extra)
    assert any(tbl._file_bucket(f) is None for f in tbl.current_snapshot().data_files)
    tbl.merge_update(spark, spark.createDataFrame([("zz1", 5, 0)], BUCKETED))
    assert all(
        tbl._file_bucket(f) is not None for f in tbl.current_snapshot().data_files
    )
    got = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert got["zz1"] == 5 and got["zz2"] == 2


def test_multi_commit_rejects_missing_own_column(spark, tmp_path):
    """A part missing one of its OWN table's schema columns must raise —
    never commit null-filled rows into the table (ADVICE r3 #5)."""
    from starchart_spark.snapstore import multi_commit

    ta = SnapshotTable(str(tmp_path / "va"), SCHEMA, ["k"])
    bad_rows = spark.createDataFrame([("a",)], "k string")  # no 'v'
    with pytest.raises(ValueError, match="missing its own schema"):
        multi_commit(
            spark, str(tmp_path / "_st3"), [(ta, bad_rows, "append")]
        )


def test_multi_commit_bucket_pure_files(spark, tmp_path):
    """multi_commit output for bucket_by tables is bucket-pure (<uuid>.b<k>
    names), so later matched-files-only MERGE/DELETE never reclassifies
    commit output as mixed/rewrite-everything (ADVICE r3 #1)."""
    from pyspark.sql import functions as F

    from starchart_spark.functions.urls import host_bucket
    from starchart_spark.snapstore import multi_commit

    tbl = SnapshotTable(
        str(tmp_path / "mb"), BUCKETED, ["k"], bucket_by=("host_bucket", 4)
    )
    rows = spark.range(0, 40).select(
        F.concat(F.lit("key"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        host_bucket(F.concat(F.lit("key"), F.col("id")), 4).alias("host_bucket"),
    )
    multi_commit(spark, str(tmp_path / "_st4"), [(tbl, rows, "merge-append")])
    snap = tbl.current_snapshot()
    assert snap.data_files, "commit produced no files"
    assert all(tbl._file_bucket(f) is not None for f in snap.data_files)
    assert tbl.read(spark).count() == 40
    # touching one bucket keeps every other commit file verbatim
    one = rows.filter(F.col("host_bucket") == 2).limit(1).withColumn(
        "v", F.lit(123).cast("long")
    )
    tbl.merge_update(spark, one)
    untouched = {f for f in snap.data_files if tbl._file_bucket(f) != 2}
    assert untouched <= set(tbl.current_snapshot().data_files)


def test_multi_commit_writes_at_shuffle_width(spark, tmp_path):
    """A wide union with more partitions than spark.sql.shuffle.partitions
    commits the same rows and observed counts, with at most that many
    part files in each committed data dir (one per __tbl/__pb group)."""
    import os

    from pyspark.sql import functions as F

    from starchart_spark.snapstore import multi_commit

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts, expect = [], {}
    for i in range(3):
        bucketed = i == 0
        tbl = SnapshotTable(
            str(tmp_path / f"w{i}"),
            BUCKETED if bucketed else SCHEMA,
            ["k"],
            bucket_by=("host_bucket", 4) if bucketed else None,
        )
        rows = spark.range(i * 1000, i * 1000 + 60).select(
            F.concat(F.lit("key"), F.col("id")).alias("k"),
            F.col("id").alias("v"),
            (F.col("id") % 4).cast("int").alias("host_bucket"),
        )
        # more partitions per part than the session's shuffle width
        rows = rows.repartition(width + 4)
        if not bucketed:
            rows = rows.drop("host_bucket")
        parts.append((tbl, rows, "merge-append"))
        expect[f"w{i}"] = sorted((r["k"], r["v"]) for r in rows.collect())
    assert sum(r.rdd.getNumPartitions() for _t, r, _op in parts) > width

    got = multi_commit(spark, str(tmp_path / "_stw"), parts)
    for tbl, _rows, _op in parts:
        name = os.path.basename(tbl.path)
        assert got[f"n_{name}"] == 60
        assert sorted((r["k"], r["v"]) for r in tbl.read(spark).collect()) == expect[name]
        snap = tbl.current_snapshot()
        assert snap.summary["inserted"] == 60
        for rel in snap.data_files:
            files = [
                f
                for f in os.listdir(os.path.join(tbl._data_dir, rel))
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            assert 0 < len(files) <= width, (rel, files)


def test_merge_delete_returns_durable_rows(spark, tmp_path):
    """merge_delete's returned rows are file-backed: reading them after the
    table moved on replays nothing and still shows the deleted keys."""
    tbl = SnapshotTable(str(tmp_path / "md"), SCHEMA, ["k"])
    tbl.merge_insert(spark, spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    _, deleted = tbl.merge_delete(
        spark, spark.createDataFrame([("a", 0)], SCHEMA)
    )
    # mutate the table after the delete; the handle must still read 'a'
    tbl.merge_insert(spark, spark.createDataFrame([("c", 3)], SCHEMA))
    got = [r["k"] for r in deleted.collect()]
    assert got == ["a"]


def test_incremental_read_fast_path(spark, table):
    """Append-only snapshot range: the file diff IS the added rows (no old
    data touched — the downstream-consumer primitive)."""
    s1, _ = table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    table.merge_insert(spark, spark.createDataFrame([("b", 2)], SCHEMA))
    s3, _ = table.merge_insert(spark, spark.createDataFrame([("c", 3)], SCHEMA))
    inc = table.incremental_read(spark, s1.snapshot_id)
    assert {(r["k"], r["v"]) for r in inc.collect()} == {("b", 2), ("c", 3)}
    # bounded range
    inc13 = table.incremental_read(spark, s1.snapshot_id, s3.snapshot_id)
    assert {r["k"] for r in inc13.collect()} == {"b", "c"}
    # same-snapshot range → empty
    assert table.incremental_read(spark, s3.snapshot_id, s3.snapshot_id).count() == 0


def test_incremental_read_falls_back_across_rewrite(spark, table):
    """An overwrite in the range invalidates the file diff: the key-level
    anti-join still answers exactly."""
    s1, _ = table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    table.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    inc = table.incremental_read(spark, s1.snapshot_id)
    assert {(r["k"], r["v"]) for r in inc.collect()} == {("b", 2)}


def test_incremental_read_keyless_rewrite_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "log"), SCHEMA, [])
    s1 = t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    t.overwrite(spark.createDataFrame([("b", 2)], SCHEMA))
    with pytest.raises(ValueError, match="rewrite"):
        t.incremental_read(spark, s1.snapshot_id)


def test_incremental_read_expired_from_raises(spark, table):
    s1, _ = table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    for i in range(6):
        table.merge_insert(
            spark, spark.createDataFrame([(f"k{i}", i)], SCHEMA)
        )
    table.expire_snapshots(keep=2)
    with pytest.raises(ValueError, match="expired"):
        table.incremental_read(spark, s1.snapshot_id)


def test_compact_preserves_rows_and_bucket_purity(spark, tmp_path):
    bt = SnapshotTable(
        str(tmp_path / "bt"),
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("hb", T.IntegerType(), False),
            ]
        ),
        ["k"],
        bucket_by=("hb", 4),
    )
    for i in range(8):
        bt.merge_insert(
            spark,
            spark.createDataFrame([(f"k{i}", i, i % 4)], bt.schema),
        )
    before = {(r["k"], r["v"], r["hb"]) for r in bt.read(spark).collect()}
    pre = bt.current_snapshot()
    assert len(pre.data_files) == 8
    snap = bt.compact(spark)
    assert snap.summary["op"] == "compact"
    assert len(snap.data_files) <= 4  # one per touched bucket
    after = {(r["k"], r["v"], r["hb"]) for r in bt.read(spark).collect()}
    assert after == before
    # bucket purity survives: every compacted file is .b<k>-suffixed
    assert all(".b" in f for f in snap.data_files)
    # incremental across the compact falls back to the key diff (exact)
    s_more, _ = bt.merge_insert(
        spark, spark.createDataFrame([("z", 99, 1)], bt.schema)
    )
    inc = bt.incremental_read(spark, pre.snapshot_id)
    assert {r["k"] for r in inc.collect()} == {"z"}
    # matched-files-only merge still holds post-compact
    s_upd = bt.merge_update(
        spark, spark.createDataFrame([("k0", 100, 0)], bt.schema)
    )
    assert s_upd.summary["touched_buckets"] == 1


def test_compact_noop_on_single_file(spark, table):
    table.merge_insert(spark, spark.createDataFrame([("a", 1)], SCHEMA))
    cur = table.current_snapshot()
    assert table.compact(spark).snapshot_id == cur.snapshot_id
