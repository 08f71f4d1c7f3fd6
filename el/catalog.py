"""Table catalog with atomic commits, per-partition lineage, and
resumability (SURVEY.md §1.4, BASELINE.json north_rule "checkpoints
... with per-partition lineage and metrics for resumability").

``HadoopParquetCatalog``: plain parquet directories plus an explicit
JSON manifest per commit. A table commit is: write to
``<table>.__tmp_<run_id>`` -> fsync the manifest (per-file rows +
sha256 + bytes) -> atomic ``os.rename`` into place, archiving the
displaced version as a SNAPSHOT (``<table>.__vNNNN``, bounded by
``keep_versions``). Readers only ever see fully-committed tables; a
crashed writer leaves a ``__tmp`` dir that the next run clears, and a
crash mid-swap falls back to the newest snapshot. ``read(version=k)``
time-travels; ``rollback(k)`` is a pointer move. This *implements*
Iceberg's commit/snapshot/lineage semantics with public filesystem
primitives.

The manifest IS the lineage record: one row per output partition file
(rows, bytes, sha256), plus stage wall-clock and total rows — queried
back as the ``_metrics`` table for observability and used by the
runner's resume logic (el.runner). It also records the table's Spark
schema, so ``read`` scans with it instead of running a footer job to
infer it (manifests without one still read by inference).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _local_path(uri: str) -> str:
    """'file:/a/b' or 'file:///a/b' (possibly URL-encoded) -> '/a/b'."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    return unquote(p.path) if p.scheme else uri


# binaryFile materializes each file's content as a single byte array and
# rejects files over 2 GiB; anything near that limit is hashed with the
# streamed fallback instead. (Well-configured writes never produce such
# parts — spark.sql.files.maxPartitionBytes bounds read splits and the
# writer targets ~128 MB parts — but a commit must not abort if one
# appears.)
_BINARYFILE_MAX_BYTES = (2 << 30) - (64 << 20)


def _stream_sha256(path: str, chunk: int = 1 << 22) -> str:
    """Driver-side chunked sha256 — the no-size-limit fallback for
    files the executor-side binaryFile scan cannot or did not cover."""
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


@dataclass
class HadoopParquetCatalog:
    root: str
    # snapshot retention: how many PREVIOUS committed versions to keep
    # as time-travel targets (Iceberg keeps snapshots until expired;
    # here a bounded archive — version k readable via read(version=k))
    keep_versions: int = 2

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _version_dir(self, table: str, version: int) -> str:
        return os.path.join(self.root, f"{table}.__v{version:04d}")

    def _archives(self, table: str) -> list[tuple[int, str]]:
        """Archived (version, dir) snapshots for ``table``, ascending."""
        if not os.path.isdir(self.root):
            return []
        out = []
        prefix = f"{table}.__v"
        for name in os.listdir(self.root):
            if name.startswith(prefix) and name[len(prefix) :].isdigit():
                d = os.path.join(self.root, name)
                if os.path.exists(os.path.join(d, "_MANIFEST.json")):
                    out.append((int(name[len(prefix) :]), d))
        return sorted(out)

    def _resolved_dir(self, table: str) -> str | None:
        """Committed directory for ``table``: the live dir, else the
        newest archived snapshot if a crash mid-swap left only it."""
        d = self._dir(table)
        if os.path.exists(os.path.join(d, "_MANIFEST.json")):
            return d
        arch = self._archives(table)
        return arch[-1][1] if arch else None

    def _manifest_path(self, table: str) -> str:
        d = self._resolved_dir(table)
        return os.path.join(d or self._dir(table), "_MANIFEST.json")

    # -- commits ---------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        table: str,
        run_id: str = "run0",
        stage: str | None = None,
        partition_by: list[str] | None = None,
        extra: dict | None = None,
    ) -> dict:
        """Atomic commit of ``df`` as ``table``; returns the manifest.

        Write-to-temp + manifest + rename: the table either exists
        fully committed (manifest present, every file hashed) or not
        at all. ``extra`` entries land inside the manifest and commit
        atomically WITH the data — Iceberg snapshot-property shape,
        used by delta compaction to carry its watermark (a separate
        marker file would reintroduce the torn-state window the
        manifest rename exists to close)."""
        os.makedirs(self.root, exist_ok=True)
        final = self._dir(table)
        tmp = os.path.join(self.root, f"{table}.__tmp_{run_id}")
        for name in os.listdir(self.root):
            # stale in-flight dirs from ANY run (incl. crashed ones)
            if name.startswith(f"{table}.__tmp_"):
                shutil.rmtree(os.path.join(self.root, name))
        # a previous writer died between the two swap renames: restore
        # the newest snapshot as live before anything else can prune it
        if not os.path.exists(os.path.join(final, "_MANIFEST.json")):
            arch = self._archives(table)
            if arch:
                os.rename(arch[-1][1], final)

        prev = self.manifest(table)
        # strictly increasing across rollbacks: a rolled-back live dir
        # can carry an older version than an archived snapshot
        version = (
            max([prev.get("version", 0)] + [n for n, _ in self._archives(table)])
            + 1
            if prev
            else 0
        )

        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        wall_ms = int((time.time() - t0) * 1000)

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        paths = []
        for dirpath, _, names in os.walk(tmp):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    paths.append(os.path.join(dirpath, name))

        # Per-file content hashing runs EXECUTOR-side (binaryFile scan
        # + JVM sha2): the commit never funnels the table's bytes back
        # through the driver — at 100 TB that re-read would be a
        # single-node bottleneck (r1 hashed on the driver). Row counts
        # come from the parquet FOOTERS only (pyarrow metadata reads,
        # O(n_files) tiny reads — the same information an Iceberg
        # manifest records at write time).
        #
        # Two failure modes of the executor path are guarded:
        # binaryFile materializes each file as ONE byte array and
        # hard-fails past 2 GiB, so oversized parts are excluded from
        # the scan and hashed with a streamed driver-side fallback; and
        # the returned file URI is matched via os.path.realpath with a
        # .get() (symlinked TMPDIRs make string equality unreliable),
        # falling back to the same streamed hash on any lookup miss.
        t1 = time.time()
        files: list[dict] = []
        small = [
            fp for fp in paths if os.path.getsize(fp) <= _BINARYFILE_MAX_BYTES
        ]
        by_path: dict[str, dict] = {}
        if small:
            sha_rows = (
                df.sparkSession.read.format("binaryFile")
                .option("pathGlobFilter", "*.parquet")
                .option("recursiveFileLookup", "true")
                .load([f"file://{fp}" for fp in small])
                .select(
                    "path",
                    F.col("length").alias("bytes"),
                    F.sha2(F.col("content"), 256).alias("sha256"),
                )
                .collect()
            )
            by_path = {
                os.path.realpath(_local_path(r["path"])): r for r in sha_rows
            }
        for fp in paths:
            r = by_path.get(os.path.realpath(fp))
            if r is not None:
                size, sha = r["bytes"], r["sha256"]
            else:
                size, sha = os.path.getsize(fp), _stream_sha256(fp)
            files.append(
                {
                    "path": os.path.relpath(fp, tmp),
                    "rows": pq.ParquetFile(fp).metadata.num_rows,
                    "bytes": size,
                    "sha256": sha,
                }
            )
        lineage_ms = int((time.time() - t1) * 1000)
        total_rows = sum(f["rows"] for f in files)
        manifest = {
            "table": table,
            "stage": stage or table,
            "version": version,
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_ms": wall_ms,
            "lineage_ms": lineage_ms,
            "n_files": len(files),
            "total_rows": total_rows,
            "schema": df.schema.jsonValue(),
            "files": files,
            **(extra or {}),
        }
        mpath = os.path.join(tmp, "_MANIFEST.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())

        # Snapshot swap with no destroy-before-commit window
        # (Iceberg-style snapshots): the
        # previous committed version is renamed to its ARCHIVE slot
        # <table>.__vNNNN (not deleted) before the new one renames in;
        # snapshots beyond keep_versions are pruned only afterwards. A
        # writer dying between the two renames leaves the newest
        # archive intact, exists()/read()/manifest() fall back to it,
        # and the next write() restores it — a reader never observes
        # "no committed version where one existed". Archived snapshots
        # are time-travel targets: read(version=k) / rollback(k).
        if prev is not None:
            os.rename(final, self._version_dir(table, prev.get("version", 0)))
        os.rename(tmp, final)
        for n, d in self._archives(table)[: -self.keep_versions or None]:
            shutil.rmtree(d)
        return manifest

    # -- reads -----------------------------------------------------------

    def exists(self, table: str) -> bool:
        return os.path.exists(self._manifest_path(table))

    def manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Committed table scan; ``version=k`` time-travels to an
        archived snapshot (Iceberg ``VERSION AS OF`` equivalent —
        bounded by ``keep_versions``)."""
        if version is not None:
            cur = self.manifest(table)
            if cur is not None and cur.get("version", 0) == version:
                return self._scan(spark, [self._resolved_dir(table)])
            for n, d in self._archives(table):
                if n == version:
                    return self._scan(spark, [d])
            raise FileNotFoundError(
                f"table {table!r} has no retained snapshot v{version} "
                f"(keep_versions={self.keep_versions}; retained: "
                f"{self.versions(table)})"
            )
        d = self._resolved_dir(table)
        if d is None:
            raise FileNotFoundError(
                f"table {table!r} has no committed manifest under {self.root}"
            )
        return self._scan(spark, [d])

    def read_all(self, spark: SparkSession, tables: list[str]) -> DataFrame:
        """One scan over several committed tables of one schema (the
        runner's score chunks)."""
        return self._scan(spark, [self._resolved_dir(t) for t in tables])

    @staticmethod
    def _scan(spark: SparkSession, dirs: list[str]) -> DataFrame:
        """Parquet scan of committed dirs with the schema their first
        manifest recorded, so no footer job infers it; a manifest
        without one reads by inference."""
        with open(os.path.join(dirs[0], "_MANIFEST.json")) as f:
            schema = json.load(f).get("schema")
        reader = spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*dirs)

    def versions(self, table: str) -> list[int]:
        """Readable snapshot versions, ascending (archives + live)."""
        out = [n for n, _ in self._archives(table)]
        m = self.manifest(table)
        if m is not None:
            out.append(m.get("version", 0))
        return sorted(set(out))

    def rollback(self, table: str, version: int) -> dict:
        """Restore an archived snapshot as the live table (Iceberg
        rollback-to-snapshot equivalent: a pointer move, no data
        copy). The displaced live version is archived in its own slot,
        so rollback is itself reversible within keep_versions."""
        cur = self.manifest(table)
        if cur is not None and cur.get("version", 0) == version:
            return cur
        target = None
        for n, d in self._archives(table):
            if n == version:
                target = d
        if target is None:
            raise FileNotFoundError(
                f"table {table!r} has no retained snapshot v{version} "
                f"(retained: {self.versions(table)})"
            )
        final = self._dir(table)
        if cur is not None:
            os.rename(final, self._version_dir(table, cur.get("version", 0)))
        os.rename(target, final)
        return self.manifest(table)

    def committed(self, table: str, run_id: str | None = None) -> bool:
        m = self.manifest(table)
        if m is None:
            return False
        return run_id is None or m["run_id"] == run_id

    def drop(self, table: str) -> None:
        """Remove ``table`` and all of its snapshots/tmp dirs. Used by
        delta compaction to garbage-collect folded delta tables; safe
        to re-run (missing dirs are fine) and safe to crash mid-way —
        callers only drop tables a committed watermark already made
        invisible, so a partial drop is just unreclaimed space."""
        if not os.path.isdir(self.root):
            return
        for name in os.listdir(self.root):
            if name == table or name.startswith(f"{table}.__"):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    # -- metrics surface -------------------------------------------------

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage across every committed table, as a
        DataFrame (stage, run_id, file, rows, bytes, sha256, wall_ms,
        committed_at)."""
        rows = []
        if os.path.isdir(self.root):
            for table in sorted(os.listdir(self.root)):
                if ".__" in table:
                    continue  # in-flight tmp / snapshot-archive dirs
                m = self.manifest(table)
                if not m:
                    continue
                for f in m["files"]:
                    rows.append(
                        (
                            m["stage"], m["run_id"], f["path"], f["rows"],
                            f["bytes"], f["sha256"], m["wall_ms"],
                            m["committed_at"],
                        )
                    )
        return spark.createDataFrame(
            rows,
            "stage string, run_id string, file string, rows long, "
            "bytes long, sha256 string, wall_ms long, committed_at string",
        )
