"""Table catalog with atomic commits, per-partition lineage, and
resumability (SURVEY.md §1.4, BASELINE.json north_rule "checkpoints
... with per-partition lineage and metrics for resumability").

``HadoopParquetCatalog``: plain parquet directories plus an explicit
JSON manifest per commit. A table commit is ONE Spark job: write to
``<table>.__tmp_<run_id>`` while ``DataFrame.observe`` gathers the
table's row digest -> fsync the manifest (digest, per-file rows +
bytes) -> atomic ``os.rename`` into place, archiving the displaced
version as a SNAPSHOT (``<table>.__vNNNN``, bounded by
``keep_versions``). Readers only ever see fully-committed tables; a
crashed writer leaves a ``__tmp`` dir that the next run clears, and a
crash mid-swap falls back to the newest snapshot. ``read(version=k)``
time-travels; ``rollback(k)`` is a pointer move. This *implements*
Iceberg's commit/snapshot/lineage semantics with public filesystem
primitives.

The manifest IS the lineage record: one row per output partition file
(rows, bytes), plus stage wall-clock, total rows and the row digest
(``_digest``: count, XOR and sum of a per-row xxhash64; it does not
depend on partitioning, so equal content gives an equal digest at any
parallelism) — queried back as the ``_metrics`` table for
observability and used by the runner's resume logic (el.runner);
``verify`` recomputes the digest over the committed files. It also
records the table's Spark schema, so ``read`` scans with it instead of
running a footer job to infer it (manifests without one still read by
inference).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def commit_json(path: str, obj) -> None:
    """Atomic JSON file commit: write ``<path>.tmp``, fsync, rename
    over ``path``. A reader sees the old file or the whole new one,
    never a torn write (batch markers, model artifacts' meta.json)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


# Fit-once model artifacts (TF-IDF, LDA, IVF, bigram counts; SURVEY.md
# §4.4): a dir of payload files plus this file. The dir is committed
# iff its meta.json exists, and only the functions below touch it.
ARTIFACT_META = "meta.json"


def artifact_meta(path: str | None) -> dict | None:
    """The meta of the committed artifact dir ``path``; None when
    there is no dir or it is not committed."""
    if not path:
        return None
    try:
        with open(os.path.join(path, ARTIFACT_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def commit_artifact(path: str, write_payload, meta: dict) -> None:
    """Save an artifact dir: uncommit it, ``write_payload()``, then
    land meta.json last through ``commit_json``. A save killed
    anywhere leaves no meta.json, so no reader loads a torn payload."""
    meta_path = os.path.join(path, ARTIFACT_META)
    os.makedirs(path, exist_ok=True)
    if os.path.exists(meta_path):
        os.remove(meta_path)
    write_payload()
    commit_json(meta_path, meta)


def load_or_fit(path: str | None, load, fit, params: dict | None = None):
    """The one fit-once gate: ``load(path)`` when ``path`` holds a
    committed artifact, else ``fit()``, saved to ``path`` when there
    is one (a fit returning None saves nothing; a ``save`` that
    returns a model, re-bound to its committed payload, is served
    instead). A committed artifact whose meta disagrees with a
    requested fit param raises ValueError: serving a model fit with
    other params would change results with no error."""
    meta = artifact_meta(path)
    if meta is None:
        model = fit()
        if not path or model is None:
            return model
        return model.save(path) or model
    for k, v in (params or {}).items():
        if k in meta and meta[k] != v:
            raise ValueError(
                f"artifact at {path} was fit with {k}={meta[k]}, but "
                f"{k}={v} was requested — refusing to serve a mismatched "
                "model; delete or re-path it to refit"
            )
    return load(path)


def _digest(df: DataFrame) -> list:
    """Aggregate columns defining a table's row digest: row count, XOR
    and decimal sum of xxhash64 over the columns in sorted-name order
    (a partitioned table reads back with its partition columns moved,
    and XOR alone cancels duplicate rows). For detecting corruption
    and drift, not an adversary."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("xor"),
        F.coalesce(F.sum(h.cast("decimal(20,0)")), F.lit(0)).alias("sum"),
    ]


def _digest_value(r) -> dict:
    """Manifest form of an observed or recomputed digest row."""
    return {"rows": int(r["rows"]), "xor": int(r["xor"]), "sum": str(r["sum"])}


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
        fully committed (manifest present, with the row digest
        observed during the write) or not at all. ``extra`` entries
        land inside the manifest and commit atomically WITH the data —
        Iceberg snapshot-property shape, used by delta compaction to
        carry its watermark (a separate marker file would reintroduce
        the torn-state window the manifest rename exists to close)."""
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

        # the digest is observed on the write itself: one Spark job.
        # Per-file rows come from the parquet FOOTERS and bytes from
        # os.path.getsize, so neither needs a job.
        t0 = time.time()
        obs = Observation()
        writer = df.observe(obs, *_digest(df)).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        digest = _digest_value(obs.get)
        wall_ms = int((time.time() - t0) * 1000)

        import pyarrow.parquet as pq

        files = []
        for dirpath, _, names in os.walk(tmp):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    fp = os.path.join(dirpath, name)
                    files.append(
                        {
                            "path": os.path.relpath(fp, tmp),
                            "rows": pq.ParquetFile(fp).metadata.num_rows,
                            "bytes": os.path.getsize(fp),
                        }
                    )
        total_rows = sum(f["rows"] for f in files)
        manifest = {
            "table": table,
            "stage": stage or table,
            "version": version,
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_ms": wall_ms,
            "n_files": len(files),
            "total_rows": total_rows,
            "digest": digest,
            "schema": df.schema.jsonValue(),
            "files": files,
            **(extra or {}),
        }
        commit_json(os.path.join(tmp, "_MANIFEST.json"), manifest)

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

    def tables(self, prefix: str = "") -> list[str]:
        """Sorted names of the live committed tables starting with
        ``prefix``: a directory with a manifest, never an in-flight
        ``.__tmp_*`` or archived ``.__v*`` one."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            name
            for name in os.listdir(self.root)
            if name.startswith(prefix)
            and ".__" not in name
            and os.path.exists(os.path.join(self._dir(name), "_MANIFEST.json"))
        )

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
        return self.read_all(spark, [table])

    def read_all(self, spark: SparkSession, tables: list[str]) -> DataFrame:
        """One scan over several committed tables of one schema (the
        runner's score chunks, a merge-on-read view's base and
        deltas)."""
        if not tables:
            raise FileNotFoundError(f"no tables to read under {self.root}")
        dirs = []
        for t in tables:
            d = self._resolved_dir(t)
            if d is None:
                raise FileNotFoundError(
                    f"table {t!r} has no committed manifest under {self.root}"
                )
            dirs.append(d)
        return self._scan(spark, dirs)

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

    def verify(self, spark: SparkSession, table: str) -> bool:
        """Whether the committed files of ``table`` still hold the rows
        its manifest's digest recorded (one scan); ``False`` for a
        manifest written before digests were recorded."""
        df = self.read(spark, table)
        return _digest_value(df.agg(*_digest(df)).first()) == (
            self.manifest(table).get("digest")
        )

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
        DataFrame (stage, run_id, file, rows, bytes, wall_ms,
        committed_at)."""
        rows = []
        for table in self.tables():
            m = self.manifest(table)
            for f in m["files"]:
                rows.append(
                    (
                        m["stage"], m["run_id"], f["path"], f["rows"],
                        f["bytes"], m["wall_ms"], m["committed_at"],
                    )
                )
        return spark.createDataFrame(
            rows,
            "stage string, run_id string, file string, rows long, "
            "bytes long, wall_ms long, committed_at string",
        )
