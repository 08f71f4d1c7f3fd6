"""Table catalog with atomic commits, per-partition lineage, and
resumability (SURVEY.md §1.4, BASELINE.json north_rule "checkpoints
... with per-partition lineage and metrics for resumability").

``HadoopParquetCatalog``: plain parquet files plus explicit JSON
manifests, committed the way Iceberg commits: new files first, then
one atomic metadata swap. Each table is a directory of immutable
version dirs ``vNNNN``, each holding one version's parquet files and
its manifest, beside the table's live manifest. A table commit is ONE
Spark job: the parquet write into a fresh version dir while
``DataFrame.observe`` gathers the table's row digest, then the
version's manifest and last the live manifest, each through
``commit_json``. A writer killed before that last commit leaves the
previous version live; its half-written dir is pruned by the next
write, which keeps the live version plus the newest ``KEEP_VERSIONS``
other committed ones. No file is ever moved, so a DataFrame read from
a version keeps working while that version is retained.
``read(version=k)`` time-travels; ``rollback(k)`` is one manifest
commit. This *implements* Iceberg's commit/snapshot/lineage semantics
with public filesystem primitives.

The manifest IS the lineage record: one row per output partition file
(rows, bytes), plus stage wall-clock, total rows and the row digest
(``_digest``: count, XOR and sum of a per-row xxhash64; it does not
depend on partitioning, so equal content gives an equal digest at any
parallelism) — queried back as the ``_metrics`` table for
observability and used by the runner's resume logic (el.runner);
``verify`` recomputes the digest over the committed files. It also
records the table's Spark schema, so ``read`` scans with it instead of
running a footer job to infer it.
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


# Each table is a dir of immutable version dirs ``vNNNN`` (parquet
# files plus that version's manifest) and one live manifest, the
# table's only commit point. Only this module knows the layout.
MANIFEST = "_MANIFEST.json"
# previous committed versions kept as time-travel targets besides the
# live one (Iceberg keeps snapshots until expired; here a bounded set)
KEEP_VERSIONS = 2


def _load(d: str) -> dict | None:
    """The manifest committed in dir ``d``, or None."""
    try:
        with open(os.path.join(d, MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


@dataclass
class HadoopParquetCatalog:
    root: str

    def _dir(self, table: str, version: int | None = None) -> str:
        d = os.path.join(self.root, table)
        return d if version is None else os.path.join(d, f"v{version:04d}")

    def _all_versions(self, table: str) -> list[int]:
        """Every version dir of ``table``, crashed ones included."""
        d = self._dir(table)
        names = os.listdir(d) if os.path.isdir(d) else []
        return sorted(
            int(n[1:]) for n in names if n[:1] == "v" and n[1:].isdigit()
        )

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

        The parquet files land in a fresh version dir, numbered past
        every existing one, with the row digest observed during the
        write; then the version's manifest commits, then the table's
        live manifest, the one commit point. Earlier versions are never
        moved, so a plan reading one keeps working. ``extra`` entries
        land inside the manifest and commit atomically WITH the data
        (Iceberg snapshot-property shape, used by delta compaction to
        carry its watermark)."""
        version = max(self._all_versions(table), default=-1) + 1
        vdir = self._dir(table, version)

        # the digest is observed on the write itself: one Spark job.
        # Per-file rows come from the parquet FOOTERS and bytes from
        # os.path.getsize, so neither needs a job.
        t0 = time.time()
        obs = Observation()
        writer = df.observe(obs, *_digest(df)).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        digest = _digest_value(obs.get)
        wall_ms = int((time.time() - t0) * 1000)

        import pyarrow.parquet as pq

        files = []
        for dirpath, _, names in os.walk(vdir):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    fp = os.path.join(dirpath, name)
                    files.append(
                        {
                            "path": os.path.relpath(fp, vdir),
                            "rows": pq.ParquetFile(fp).metadata.num_rows,
                            "bytes": os.path.getsize(fp),
                        }
                    )
        manifest = {
            "table": table,
            "stage": stage or table,
            "version": version,
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_ms": wall_ms,
            "n_files": len(files),
            "total_rows": sum(f["rows"] for f in files),
            "digest": digest,
            "schema": df.schema.jsonValue(),
            "files": files,
            **(extra or {}),
        }
        commit_json(os.path.join(vdir, MANIFEST), manifest)
        commit_json(os.path.join(self._dir(table), MANIFEST), manifest)

        # prune after the commit: keep the live version and the newest
        # KEEP_VERSIONS other committed ones; crashed dirs go too
        others = [n for n in self.versions(table) if n != version]
        keep = others[-KEEP_VERSIONS:]
        for n in self._all_versions(table):
            if n != version and n not in keep:
                shutil.rmtree(self._dir(table, n), ignore_errors=True)
        return manifest

    # -- reads -----------------------------------------------------------

    def tables(self, prefix: str = "") -> list[str]:
        """Sorted names of the tables starting with ``prefix`` that
        have a live manifest."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            name
            for name in os.listdir(self.root)
            if name.startswith(prefix) and self.exists(name)
        )

    def exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self._dir(table), MANIFEST))

    def manifest(self, table: str) -> dict | None:
        return _load(self._dir(table))

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Committed table scan; ``version=k`` time-travels to a
        retained version (Iceberg ``VERSION AS OF`` equivalent)."""
        if version is None:
            return self.read_all(spark, [table])
        return self._scan(spark, [(table, self._retained(table, version))])

    def read_all(self, spark: SparkSession, tables: list[str]) -> DataFrame:
        """One scan over the live versions of several committed tables
        of one schema (the runner's score chunks, a merge-on-read
        view's base and deltas)."""
        if not tables:
            raise FileNotFoundError(f"no tables to read under {self.root}")
        live = []
        for t in tables:
            m = self.manifest(t)
            if m is None:
                raise FileNotFoundError(
                    f"table {t!r} has no committed manifest under {self.root}"
                )
            live.append((t, m))
        return self._scan(spark, live)

    def _scan(
        self, spark: SparkSession, live: list[tuple[str, dict]]
    ) -> DataFrame:
        """Parquet scan of (table, manifest) versions with the schema
        the first manifest recorded, so no footer job infers it."""
        schema = StructType.fromJson(live[0][1]["schema"])
        dirs = [self._dir(t, m["version"]) for t, m in live]
        return spark.read.schema(schema).parquet(*dirs)

    def verify(self, spark: SparkSession, table: str) -> bool:
        """Whether the committed files of ``table`` still hold the rows
        its manifest's digest recorded (one scan)."""
        df = self.read(spark, table)
        return _digest_value(df.agg(*_digest(df)).first()) == (
            self.manifest(table)["digest"]
        )

    def versions(self, table: str) -> list[int]:
        """Committed version dirs of ``table``, ascending."""
        return [
            n for n in self._all_versions(table)
            if os.path.exists(os.path.join(self._dir(table, n), MANIFEST))
        ]

    def _retained(self, table: str, version: int) -> dict:
        """The manifest of ``table``'s retained version ``version``."""
        m = _load(self._dir(table, version))
        if m is None:
            raise FileNotFoundError(
                f"table {table!r} has no retained snapshot v{version} "
                f"(retained: {self.versions(table)})"
            )
        return m

    def rollback(self, table: str, version: int) -> dict:
        """Make a retained version live again (Iceberg
        rollback-to-snapshot equivalent: one manifest commit, no data
        moved). The displaced version stays retained, so rollback is
        itself reversible."""
        m = self._retained(table, version)
        commit_json(os.path.join(self._dir(table), MANIFEST), m)
        return m

    def committed(self, table: str, run_id: str | None = None) -> bool:
        m = self.manifest(table)
        if m is None:
            return False
        return run_id is None or m["run_id"] == run_id

    def drop(self, table: str) -> None:
        """Remove ``table`` with all of its versions. Used by delta
        compaction to garbage-collect folded delta tables; safe to
        re-run and safe to crash mid-way — callers only drop tables a
        committed watermark already made invisible, so a partial drop
        is just unreclaimed space. The live manifest goes first, so a
        partial drop is never read as a table."""
        if self.exists(table):
            os.remove(os.path.join(self._dir(table), MANIFEST))
        shutil.rmtree(self._dir(table), ignore_errors=True)

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
