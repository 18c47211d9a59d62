"""Table-layer tests (parquet fallback path; Iceberg branch is gated on
the runtime jar, absent in this sandbox)."""

from __future__ import annotations

from juniper_syslog_filter_spark.tables import have_iceberg, read_table, write_table


def test_write_read_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("CRITICAL", "en", 1), ("WARNING", "de", 2), ("CRITICAL", "de", 3)],
        "Severity string, lang string, v int",
    )
    path = str(tmp_path / "t")
    write_table(df, path, ["Severity", "lang"], mode="replace")
    back = read_table(spark, path)
    assert back.count() == 3
    assert {tuple(r) for r in back.select("Severity", "lang", "v").collect()} == {
        ("CRITICAL", "en", 1), ("WARNING", "de", 2), ("CRITICAL", "de", 3),
    }


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    path = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [("CRITICAL", 1), ("WARNING", 2)], "Severity string, v int"
    )
    write_table(base, path, ["Severity"], mode="replace")
    # re-write only the CRITICAL partition with a new value
    delta = spark.createDataFrame([("CRITICAL", 9)], "Severity string, v int")
    write_table(delta, path, ["Severity"], mode="overwrite_partitions")
    got = {tuple(r) for r in read_table(spark, path).select("Severity", "v").collect()}
    assert got == {("CRITICAL", 9), ("WARNING", 2)}
    # The dynamic mode belongs to that one write: the session is untouched,
    # so a later 'replace' elsewhere still drops every old partition.
    assert spark.conf.get(conf_key) == conf_before
    other = str(tmp_path / "t3")
    first = spark.createDataFrame([("INFO", 1), ("CRITICAL", 2)], "Severity string, v int")
    write_table(first, other, ["Severity"], mode="replace")
    second = spark.createDataFrame([("DEBUG", 3)], "Severity string, v int")
    write_table(second, other, ["Severity"], mode="replace")
    got = {tuple(r) for r in read_table(spark, other).select("Severity", "v").collect()}
    assert got == {("DEBUG", 3)}


def test_have_iceberg_is_false_in_sandbox(spark):
    assert have_iceberg(spark) is False


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key must equi-join (and groupBy)
    with ZERO Exchange — the write-once/join-many layout contract the
    100-TB design leans on (tables.write_bucketed)."""
    from pyspark.sql import functions as F

    from juniper_syslog_filter_spark.tables import write_bucketed

    # fact and dim both bucketed x4 on the join key, too big to broadcast
    # one writer task -> one file per bucket (tidiest layout; the
    # Exchange elision under test holds at any file count)
    fact = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") + 1000).alias("w")
    ).coalesce(1)
    spark.sql("DROP TABLE IF EXISTS bt_fact")
    spark.sql("DROP TABLE IF EXISTS bt_dim")
    write_bucketed(fact, "bt_fact", "k", 4, sort_cols="k", path=str(tmp_path / "bt_fact"))
    write_bucketed(dim, "bt_dim", "k", 4, sort_cols="k", path=str(tmp_path / "bt_dim"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bt_fact").join(spark.table("bt_dim"), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not shuffle"
            assert j.count() == 5000
            # groupBy on the bucket key is shuffle-free too
            g = spark.table("bt_fact").groupBy("k").agg(F.sum("v").alias("s"))
            gplan = g._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in gplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_fact")
        spark.sql("DROP TABLE IF EXISTS bt_dim")


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from juniper_syslog_filter_spark.tables import compact_table

    path = str(tmp_path / "frag")
    # 40 tiny files (one per partition)
    spark.range(0, 4000).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).repartition(40).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 40
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    n = compact_table(spark, path, target_bytes=1 << 30)
    assert n == 1
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after == 1
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == want


def test_compact_table_on_file_uri(spark, tmp_path):
    """A ``file:`` URI is sized, swapped and cleaned up through the
    Hadoop FileSystem like any other scheme; no sibling is left."""
    import glob
    import os

    from juniper_syslog_filter_spark.tables import compact_table

    path = tmp_path / "frag"
    spark.range(0, 1000).repartition(8).write.parquet(str(path))
    want = sorted(r.id for r in spark.read.parquet(str(path)).collect())
    assert compact_table(spark, "file://" + str(path), target_bytes=1 << 30) == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    assert sorted(r.id for r in spark.read.parquet(str(path)).collect()) == want
    assert os.listdir(tmp_path) == ["frag"]


def test_iceberg_overwrite_partitions_roundtrip(spark, tmp_path):
    """GATED Iceberg integration (punch-list: 'best-effort runtime').

    Staging attempt, so the skip is documented and reproducible: no
    iceberg-spark-runtime jar exists anywhere offline (searched
    $SPARK_HOME/jars, the pyspark site-packages jars dir, and the full
    filesystem) and the sandbox forbids pip/apt/network, so the jar
    cannot be fetched. On any cluster where
    ``org.apache.iceberg.spark.SparkCatalog`` is on the classpath this
    test RUNS and exercises the exact ``tables.write_table`` branches
    the parquet fallback never reaches: ``writeTo().partitionedBy()``
    create, ``append()``, and ``overwritePartitions()`` (the idempotent
    batch replace the checkpoint protocol depends on). The catalog is
    configured at runtime — DSv2 catalogs are instantiated lazily on
    first reference, so no session restart is needed.
    """
    import pytest

    from juniper_syslog_filter_spark.tables import write_table

    if not have_iceberg(spark):
        pytest.skip(
            "iceberg-spark-runtime jar not on classpath (none available "
            "offline in this sandbox; no network to stage one) — runs "
            "green on an Iceberg-enabled cluster"
        )

    spark.conf.set(
        "spark.sql.catalog.it_local", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.it_local.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.it_local.warehouse", str(tmp_path / "wh")
    )
    ident = "it_local.db.routed"

    base = spark.createDataFrame(
        [("CRITICAL", 1), ("WARNING", 2)], "Severity string, v int"
    )
    write_table(base, ident, ["Severity"], mode="replace")
    assert read_table(spark, ident).count() == 2

    write_table(
        spark.createDataFrame([("INFO", 3)], "Severity string, v int"),
        ident,
        ["Severity"],
        mode="append",
    )
    assert read_table(spark, ident).count() == 3

    # idempotent batch replace: only the CRITICAL partition is touched
    write_table(
        spark.createDataFrame([("CRITICAL", 9)], "Severity string, v int"),
        ident,
        ["Severity"],
        mode="overwrite_partitions",
    )
    got = {
        tuple(r)
        for r in read_table(spark, ident).select("Severity", "v").collect()
    }
    assert got == {("CRITICAL", 9), ("WARNING", 2), ("INFO", 3)}
    # snapshot history exists (time travel is the Iceberg contract)
    snaps = spark.sql(f"SELECT count(*) FROM {ident}.snapshots").collect()[0][0]
    assert snaps >= 3


def test_write_table_iceberg_branch_logic_without_jar(spark, monkeypatch):
    """Round-4 ask #6: the Iceberg integration test stays jar-gated
    (no runtime stageable offline), but write_table/read_table's BRANCH
    SELECTION is pure Python and testable ungated. With have_iceberg
    forced True: catalog identifiers must route to the DSv2 writeTo
    path with the right partitioning and mode verb; slash paths must
    still take the parquet branch regardless."""
    from juniper_syslog_filter_spark import tables as T

    calls: list[tuple] = []

    class FakeWriter:
        def __init__(self, ident):
            self.ident = ident

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", self.ident, len(cols)))
            return self

        def append(self):
            calls.append(("append", self.ident))

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident))

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.ident))

    monkeypatch.setattr(T, "have_iceberg", lambda s: True)
    df = spark.createDataFrame([(1, "a")], "id long, sev string")
    # patch the concrete class (pyspark 4 splits classic/connect
    # DataFrame; the base-class method is overridden)
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, ident: FakeWriter(ident)
    )

    T.write_table(df, "cat.db.routed", partition_cols=["sev"])
    T.write_table(df, "cat.db.routed", mode="append")
    T.write_table(df, "cat.db.routed", mode="replace")
    assert calls == [
        ("partitionedBy", "cat.db.routed", 1),
        ("overwritePartitions", "cat.db.routed"),
        ("append", "cat.db.routed"),
        ("createOrReplace", "cat.db.routed"),
    ]

    # a slash path must bypass the Iceberg branch even with the jar
    # "present" — it's a filesystem location, not a catalog identifier
    import tempfile

    d = tempfile.mkdtemp(prefix="tbl_branch_")
    try:
        T.write_table(df, f"{d}/t", mode="replace")
        assert spark.read.parquet(f"{d}/t").count() == 1
        assert not [c for c in calls if c[1] == f"{d}/t"]
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_read_table_routes_catalog_identifier(spark, monkeypatch):
    """read_table: catalog identifier → spark.read.table; path →
    spark.read.parquet (checked by the real roundtrip above)."""
    from juniper_syslog_filter_spark import tables as T

    monkeypatch.setattr(T, "have_iceberg", lambda s: True)
    seen = {}

    class FakeReader:
        def table(self, ident):
            seen["table"] = ident
            return "sentinel"

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: FakeReader())
    )
    assert T.read_table(spark, "cat.db.t") == "sentinel"
    assert seen["table"] == "cat.db.t"
