"""Per-layer tracing for the traced benchmark run, from the benchmark's
own files: nothing under ``el/`` knows it is traced.

``Tracer.install`` replaces the module attributes el's entry points
look up at call time (``el.runner.*``, ``el.incremental.*``,
``HadoopParquetCatalog.write``, ``el.linking.*``, ...) with wrappers.
Each wrapper records a span (name, layer, start, end, parent) and runs
the call under its own Spark job group, so every Spark job is charged
to the innermost open span.

Spark plans are lazy: a layer function returns a plan and the work
runs later, at the action that materializes it. A DataFrame returned
by a layer function is therefore tagged with its layer, and an action
on a tagged DataFrame (``localCheckpoint``, ``count``, ``collect``,
``DataFrameWriter.parquet`` ...) opens a span of that layer. Work is
charged to the layer whose function built the plan that ran, including
the upstream plan it reads; CC's eager ``localCheckpoint`` inside
``clusters_of`` stays with ``cluster``. That is the store's
attribution and is reported as given.

``Tracer.harvest`` reads, per job group, the stage metrics of Spark's
status store and the SQL plan metric "time to run Python workers".
Spans stay in memory until the harvest.
"""

from __future__ import annotations

import functools
import importlib
import re
import time

RUNNER = "runner"  # run_checkpointed's own span: orchestration, not a layer

# (module, attribute, layer): what the entry points call by name
TARGETS = [
    ("el.runner", "run_checkpointed", RUNNER),
    ("el.incremental", "incremental_update", "incremental"),
    ("el.incremental", "forget_urls", "incremental"),
    ("el.incremental", "compact_deltas", "incremental"),
    ("el.incremental", "ingest_new_mentions", "incremental"),
    ("el.catalog", "HadoopParquetCatalog.write", "catalog"),
    ("el.tfidf", "TfidfModel.transform", "vectorize"),
    ("el.blocking", "candidate_pairs", "block"),
    ("el.extract", "extract_anchor_texts", "extract"),
    ("el.extract", "anchor_alias_stats", "extract"),
    ("el.linking", "alias_prior", "linking"),
    ("el.linking", "resolve_links", "linking"),
] + [
    (mod, name, layer)
    for mod in ("el.runner", "el.incremental")
    for name, layer in (
        ("mentions_stage", "extract"),
        ("_fit_or_load_models", "vectorize"),
        ("raw_block_keys", "block"),
        ("skew_capped_keys", "block"),
        ("score_pairs", "score"),
        ("matched_edges", "score"),
        ("clusters_of", "cluster"),
    )
]
# DataFrame actions that run a plan; DataFrameWriter.parquet is added
# separately (its plan is the writer's ``_df``)
ACTIONS = ("localCheckpoint", "checkpoint", "count", "collect", "isEmpty",
           "first", "take", "head", "toPandas")
PY_METRIC = "time to run Python workers"
TAG = "_perfbench_layer"
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _tag(result, layer: str):
    from pyspark.sql import DataFrame

    items = result if isinstance(result, tuple) else (result,)
    for df in items:
        if isinstance(df, DataFrame):
            df.__dict__[TAG] = layer
    return result


def parse_duration_s(text: str) -> float:
    """Total of a Spark timing metric string: ``"1.2 s"`` or
    ``"total (min, med, max ...)\\n9.4 s (204 ms, ...)"``."""
    m = _DURATION.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.writes: list[dict] = []
        self.cc_rounds = 0
        self._restore: list[tuple] = []

    # -- spans --------------------------------------------------------------

    def _enter(self, name: str, layer: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"perfbench-{len(self.spans)}",
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _patch(self, owner, attr: str, wrapper) -> None:
        # None: the attribute was inherited, so restoring deletes it
        self._restore.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def _wrap_layer(self, owner, attr: str, name: str, layer: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._enter(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._exit(span)
            if name.endswith("HadoopParquetCatalog.write"):
                table = args[2] if len(args) > 2 else kwargs["table"]
                tracer.writes.append({
                    "table": table,
                    "bytes": sum(f["bytes"] for f in result["files"]),
                })
            return _tag(result, layer)

        self._patch(owner, attr, wrapper)

    def _wrap_action(self, cls, attr: str, plan_of) -> None:
        fn = getattr(cls, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            layer = plan_of(obj).__dict__.get(TAG)
            if layer is None or (tracer.stack and tracer.stack[-1]["layer"] == layer):
                return fn(obj, *args, **kwargs)
            span = tracer._enter(f"{layer}:{attr}", layer)
            try:
                return fn(obj, *args, **kwargs)
            finally:
                tracer._exit(span)

        self._patch(cls, attr, wrapper)

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
                name = f"{mod_name}.{cls_name}.{attr}"
            else:
                name = f"{mod_name}.{attr}"
            self._wrap_layer(owner, attr, name, layer)

        df = self.spark.range(1)
        for attr in ACTIONS:
            self._wrap_action(type(df), attr, lambda d: d)
        self._wrap_action(type(df.write), "parquet", lambda w: w._df)

        clustering = importlib.import_module("el.clustering")
        signature = clustering._signature
        tracer = self

        @functools.wraps(signature)
        def counted(*args, **kwargs):  # one call per CC round
            tracer.cc_rounds += 1
            return signature(*args, **kwargs)

        self._patch(clustering, "_signature", counted)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- harvest -------------------------------------------------------------

    def harvest(self) -> dict:
        """Per-layer metrics for every span's job group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0

        by_group = {s["group"]: s for s in self.spans}
        jobs = store.jobsList(None)
        job_span: dict[int, dict] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() in by_group:
                job_span[j.jobId()] = (by_group[g.get()], j.stageIds())
        # a stage reused by a later job belongs to the job that ran it
        stage_span: dict[int, dict] = {}
        for jid in sorted(job_span):
            span, ids = job_span[jid]
            for k in range(ids.size()):
                stage_span.setdefault(ids.apply(k), span)

        acc: dict[str, dict] = {}

        def bucket(layer: str) -> dict:
            return acc.setdefault(layer, {
                "s": 0.0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
                "python_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                "jobs": 0, "_max": 0.0, "_med": 0.0,
            })

        for span, _ in job_span.values():
            bucket(span["layer"])["jobs"] += 1

        root_of = {}
        for s in self.spans:  # parents precede children
            root_of[s["id"]] = s["id"] if s["parent"] is None else root_of[s["parent"]]
        root_input = {}
        total_input = 0.0
        for sid, span in stage_span.items():
            b = bucket(span["layer"])
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                b["exec_run_s"] += st.executorRunTime() / 1e3
                b["exec_cpu_s"] += st.executorCpuTime() / 1e9
                b["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                b["spill_mb"] += st.diskBytesSpilled() / 1e6
                mb_in = st.inputBytes() / 1e6
                total_input += mb_in
                r = root_of[span["id"]]
                root_input[r] = root_input.get(r, 0.0) + mb_in
                if st.numCompleteTasks() >= 2:
                    summary = store.taskSummary(sid, st.attemptId(), quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        b["_med"] += run.apply(0)
                        b["_max"] += run.apply(1)

        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keysIterator()
            span = None
            while keys.hasNext() and span is None:
                span = job_span.get(keys.next(), (None,))[0]
            if span is None:
                continue
            metrics = e.metrics()
            ids = [metrics.apply(k).accumulatorId() for k in range(metrics.size())
                   if metrics.apply(k).name() == PY_METRIC]
            if not ids:
                continue
            values = sql.executionMetrics(e.executionId())
            for aid in ids:
                v = values.get(aid)
                if v.isDefined():
                    bucket(span["layer"])["python_s"] += parse_duration_s(v.get())

        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            bucket(s["layer"])["s"] += s["end"] - s["start"] - children.get(s["id"], 0.0)

        layers = {}
        for layer, b in acc.items():
            # base: summed median task run time of the layer's stages
            top, med = b.pop("_max"), b.pop("_med")
            b["task_skew"] = top / med if med else 0.0
            layers[layer] = b
        roots = [
            {"name": s["name"], "s": s["end"] - s["start"],
             "input_mb": root_input.get(s["id"], 0.0)}
            for s in self.spans if s["parent"] is None
        ]
        return {
            "layers": layers,
            "roots": roots,
            "writes": self.writes,
            "cc_rounds": self.cc_rounds,
            "input_mb": total_input,
            "n_spans": len(self.spans),
            "unattributed": layers.get(RUNNER),
        }
