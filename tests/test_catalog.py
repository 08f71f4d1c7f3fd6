"""Catalog commit semantics: atomic write+manifest, lineage accounting
and the row digest, overwrite, and the metrics surface."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from el.catalog import KEEP_VERSIONS, HadoopParquetCatalog


@pytest.fixture()
def cat(tmp_path):
    return HadoopParquetCatalog(str(tmp_path / "cat"))


def test_write_read_roundtrip_with_lineage(spark, cat):
    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("k")
    ).repartition(4)
    m = cat.write(df, "t1", run_id="r1", stage="stage_one")
    assert m["total_rows"] == 1000
    assert m["n_files"] >= 1
    assert sum(f["rows"] for f in m["files"]) == 1000
    assert m["digest"]["rows"] == 1000
    assert isinstance(m["digest"]["xor"], int)
    assert m["digest"]["sum"].lstrip("-").isdigit()
    assert all(
        f["bytes"]
        == os.path.getsize(os.path.join(cat._dir("t1", m["version"]), f["path"]))
        for f in m["files"]
    )
    back = cat.read(spark, "t1")
    assert back.count() == 1000
    assert cat.committed("t1", "r1") and not cat.committed("t1", "r2")


def _recomputed(spark, cat, table):
    """The digest recomputed over the read-back table, independently of
    the observed one (same definition, a separate aggregation)."""
    from el.catalog import _digest, _digest_value

    df = cat.read(spark, table)
    return _digest_value(df.agg(*_digest(df)).first())


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_digest_equals_recompute_at_any_partitioning(spark, cat, kind):
    """The observed digest equals a recompute over the committed files,
    and does not depend on how many files the same rows were written
    to."""
    df = spark.range(300).select(
        "id", (F.col("id") % 3).alias("p"), F.col("id").cast("string").alias("s")
    )
    if kind == "empty":
        df = df.where("id < 0")
    partition_by = ["p"] if kind == "partitioned" else None
    digests = []
    for n in (1, 4, 7):
        m = cat.write(df.repartition(n), f"t{n}", run_id="r1",
                      partition_by=partition_by)
        assert m["digest"] == _recomputed(spark, cat, f"t{n}")
        assert cat.verify(spark, f"t{n}")
        digests.append(m["digest"])
    assert digests[0] == digests[1] == digests[2]
    assert digests[0]["rows"] == (0 if kind == "empty" else 300)
    if kind == "empty":
        assert digests[0] == {"rows": 0, "xor": 0, "sum": "0"}
    if kind == "partitioned":
        # partition columns read back last; the digest is name-ordered
        plain = cat.write(df, "flat", run_id="r1")
        assert plain["digest"] == digests[0]


def test_digest_sees_a_duplicated_row(spark, cat):
    """Appending a duplicate row changes the digest. XOR alone cancels
    a row appended twice: row 7 or row 8 appended twice gives the same
    count and XOR, and only the sum term tells them apart."""
    df = spark.range(50).select("id", (F.col("id") * 2).alias("v"))
    one = cat.write(df, "a", run_id="r1")["digest"]
    dup = cat.write(df.union(df.where("id = 7")), "b", run_id="r1")["digest"]
    assert dup["rows"] == 51 and dup != one

    def appended_twice(i, table):
        extra = df.where(F.col("id") == i)
        return cat.write(df.union(extra).union(extra), table, run_id="r1")[
            "digest"
        ]

    seven, eight = appended_twice(7, "c"), appended_twice(8, "d")
    assert (seven["rows"], seven["xor"]) == (eight["rows"], eight["xor"]) == (
        52, one["xor"]
    )
    assert seven["sum"] != eight["sum"]


def test_verify_detects_a_rewritten_part_file(spark, cat, tmp_path):
    """A committed part file replaced by a valid parquet file of the
    same schema and row count but other rows fails ``verify``."""
    df = spark.range(200).select("id", (F.col("id") % 5).alias("k"))
    m = cat.write(df.repartition(3), "t", run_id="r1")
    assert cat.verify(spark, "t")

    victim = max(m["files"], key=lambda f: f["rows"])
    other = str(tmp_path / "other")
    spark.range(1000, 1000 + victim["rows"]).select(
        "id", (F.col("id") % 5).alias("k")
    ).coalesce(1).write.parquet(other)
    (part,) = [n for n in os.listdir(other) if n.endswith(".parquet")]
    # the part file and its Hadoop checksum, so the scan reads it
    dst = os.path.join(cat._dir("t", m["version"]), victim["path"])
    shutil.copyfile(os.path.join(other, part), dst)
    shutil.copyfile(os.path.join(other, f".{part}.crc"),
                    os.path.join(os.path.dirname(dst),
                                 f".{os.path.basename(dst)}.crc"))

    assert cat.read(spark, "t").count() == 200
    assert not cat.verify(spark, "t")


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_write_runs_one_job(spark, cat, kind):
    """A commit is the parquet write alone: the digest is observed on
    it, and files' rows and bytes come from footers and the file
    system."""
    df = spark.range(40).select("id", (F.col("id") % 3).alias("p"))
    if kind == "empty":
        df = df.where("id < 0")
    partition_by = ["p"] if kind == "partitioned" else None
    cat.write(df, "warm", run_id="r1", partition_by=partition_by)
    m, jobs = _jobs_run_by(
        spark, lambda: cat.write(df, "t", run_id="r1", partition_by=partition_by)
    )
    assert jobs == 1
    assert m["digest"]["rows"] == (0 if kind == "empty" else 40)


def test_empty_table_commit(spark, cat):
    df = spark.range(10).where("id < 0")
    m = cat.write(df, "empty_t", run_id="r1")
    assert m["total_rows"] == 0
    assert cat.read(spark, "empty_t").count() == 0


def test_uncommitted_table_unreadable(spark, cat):
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "nope")
    assert not cat.exists("nope")


def test_overwrite_replaces_atomically(spark, cat):
    cat.write(spark.range(10), "t", run_id="r1")
    cat.write(spark.range(5), "t", run_id="r2")
    assert cat.read(spark, "t").count() == 5
    assert cat.manifest("t")["run_id"] == "r2"
    # two version dirs beside the live manifest, nothing else
    assert sorted(os.listdir(cat._dir("t"))) == [
        "_MANIFEST.json", "v0000", "v0001"
    ]
    assert sorted(os.listdir(cat.root)) == ["t"]


def test_read_frame_survives_a_later_write(spark, cat):
    """A commit moves no file: a frame read before a later write of
    the same table still scans the rows it was read with."""
    cat.write(spark.range(10), "t", run_id="r1")
    old = cat.read(spark, "t")
    cat.write(spark.range(5), "t", run_id="r2")
    assert sorted(r.id for r in old.collect()) == list(range(10))
    assert cat.read(spark, "t").count() == 5


def test_partitioned_write_prunes(spark, cat):
    df = spark.range(100).select("id", (F.col("id") % 3).alias("p"))
    cat.write(df, "part_t", run_id="r1", partition_by=["p"])
    back = cat.read(spark, "part_t").where("p = 1")
    assert back.count() == 33
    # partition dirs exist on disk -> scan-level pruning is available
    assert os.path.isdir(os.path.join(cat._dir("part_t", 0), "p=1"))


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"catalog-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_read_uses_manifest_schema_without_jobs(spark, cat, kind):
    """A committed table reads with the schema its manifest recorded:
    no footer job, and the same names, order, types and nullability
    as inference over the files would give."""
    df = spark.range(40).select(
        "id",
        F.when(F.col("id") % 2 == 0, "lsh").otherwise("name").alias("strategy"),
        F.array("id").alias("ids"),
        F.struct(F.col("id").alias("a"), F.lit(0.5).alias("b")).alias("s"),
    )
    if kind == "empty":
        df = df.where("id < 0")
    partition_by = ["strategy"] if kind == "partitioned" else None
    cat.write(df, "t", run_id="r1", partition_by=partition_by)
    cat.write(df, "t", run_id="r2", partition_by=partition_by)

    back, jobs = _jobs_run_by(spark, lambda: cat.read(spark, "t"))
    old, old_jobs = _jobs_run_by(spark, lambda: cat.read(spark, "t", version=0))
    assert (jobs, old_jobs) == (0, 0)

    def fields(schema):
        return [(f.name, f.dataType, f.nullable) for f in schema]

    inferred = spark.read.parquet(cat._dir("t", 1)).schema
    assert fields(back.schema) == fields(inferred)
    assert fields(old.schema) == fields(inferred)
    assert back.count() == old.count() == (0 if kind == "empty" else 40)


def test_metrics_table(spark, cat):
    cat.write(spark.range(10), "a", run_id="r1", stage="extract")
    cat.write(spark.range(20), "b", run_id="r1", stage="block")
    m = cat.metrics(spark)
    agg = {
        r.stage: r.total
        for r in m.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert agg == {"extract": 10, "block": 20}


def test_tables_lists_each_committed_table_once(spark, cat):
    cat.write(spark.range(10), "t", run_id="r1")
    cat.write(spark.range(5), "t", run_id="r2")  # t/v0000 retained
    cat.write(spark.range(3), "u", run_id="r1")
    # a writer of u killed before its live manifest, version manifest
    # and data included; a table whose only writer died before either
    spark.range(2).write.parquet(cat._dir("u", 1))
    with open(os.path.join(cat._dir("u", 1), "_MANIFEST.json"), "w") as f:
        json.dump({**cat.manifest("u"), "version": 1}, f)
    spark.range(2).write.parquet(cat._dir("w", 0))
    assert cat.versions("t") == [0, 1]

    assert cat.tables() == ["t", "u"]
    assert cat.tables("t") == ["t"]
    assert cat.tables("nope") == []
    rows = cat.metrics(spark).collect()
    assert sorted({(r.stage, r.run_id) for r in rows}) == [
        ("t", "r2"), ("u", "r1")
    ]
    assert sum(r.rows for r in rows) == 8


def test_read_all_missing_table_raises(spark, cat):
    cat.write(spark.range(3), "t", run_id="r1")
    with pytest.raises(FileNotFoundError):
        cat.read_all(spark, ["t", "nope"])


def test_read_all_of_no_tables_raises(spark, cat):
    with pytest.raises(FileNotFoundError):
        cat.read_all(spark, [])


def test_overwrite_crash_window_keeps_old_version(spark, cat, monkeypatch):
    """A writer killed before the live-manifest commit (after its
    parquet files, or after its version's manifest too) leaves the
    previous version live and readable, and the next write succeeds,
    numbered past the dead writer's version dir."""
    import el.catalog as C

    real_commit = C.commit_json
    for table, dies_at in (("t", "version"), ("u", "table")):
        cat.write(spark.range(10), table, run_id="r1")
        m1, old = cat.manifest(table), cat.read(spark, table)

        def dying_commit(path, obj):
            if dies_at == "table":
                real_commit(path, obj)
            if path == os.path.join(cat._dir(table, 1), "_MANIFEST.json"):
                raise RuntimeError("simulated crash before the commit")

        monkeypatch.setattr(C, "commit_json", dying_commit)
        with pytest.raises(RuntimeError, match="simulated crash"):
            cat.write(spark.range(5), table, run_id="r2")
        monkeypatch.setattr(C, "commit_json", real_commit)

        assert os.path.isdir(cat._dir(table, 1))
        assert cat.exists(table) and cat.manifest(table) == m1
        assert cat.read(spark, table).count() == old.count() == 10

        cat.write(spark.range(3), table, run_id="r3")
        assert cat.manifest(table)["version"] == 2
        assert cat.read(spark, table).count() == 3
        # the dead writer's dir is pruned unless its version committed
        committed = dies_at == "table"
        assert cat.versions(table) == ([0, 1, 2] if committed else [0, 2])
        assert os.path.isdir(cat._dir(table, 1)) == committed


def test_snapshot_time_travel_and_rollback(spark, cat):
    """Iceberg-style snapshot semantics on the parquet catalog:
    overwrites retain the displaced version (bounded retention),
    read(version=k) time-travels, rollback(k) is one manifest commit."""
    cat.write(spark.range(10), "t", run_id="r1")
    cat.write(spark.range(20), "t", run_id="r2")
    cat.write(spark.range(30), "t", run_id="r3")
    assert cat.manifest("t")["version"] == 2
    assert cat.versions("t") == [0, 1, 2]  # KEEP_VERSIONS=2 + live
    assert cat.read(spark, "t").count() == 30
    assert cat.read(spark, "t", version=1).count() == 20
    assert cat.read(spark, "t", version=0).count() == 10
    with pytest.raises(FileNotFoundError, match="no retained snapshot"):
        cat.read(spark, "t", version=7)

    m = cat.rollback("t", 1)
    assert m["version"] == 1 and m["run_id"] == "r2"
    assert cat.read(spark, "t").count() == 20
    # the displaced live version stays retained -> reversible
    assert 2 in cat.versions("t")
    cat.rollback("t", 2)
    assert cat.read(spark, "t").count() == 30

    # versions stay strictly increasing after a rollback
    cat.rollback("t", 1)
    cat.write(spark.range(40), "t", run_id="r4")
    assert cat.manifest("t")["version"] == 3
    assert cat.read(spark, "t").count() == 40

    # retention: the live version and KEEP_VERSIONS others survive
    assert cat.versions("t") == [1, 2, 3]
    vdirs = [d for d in os.listdir(cat._dir("t")) if d.startswith("v")]
    assert len(vdirs) == KEEP_VERSIONS + 1
