"""Benchmark-side tracing: spans around the package's public functions
plus Spark's own job, stage and streaming counters.

A traced run traces every request of its measured pass; its wall-clock
overhead is its ``trace.latency_p50_ms`` minus an untraced run's median
request latency (``steady.py --trace`` prints it), and
``trace.overhead_pct`` is the part spent in this module's own
bookkeeping.

Nothing here goes inside the package. :meth:`Tracer.install` wraps the
public functions of each layer and rebinds every name that points at
them — module attributes in the package (including names callers bound
with ``from .x import f``), registry dict values, and class attributes.
Spans carry name, layer, start, end, parent and the request they belong
to; they stay in memory and are written out when the run ends.

Spark counters come from the application status store, which Spark
fills with the UI disabled. The benchmark is one closed-loop client, so
every job started between two request boundaries belongs to that
request; :meth:`Tracer.poll_jobs` reads them by job id.
"""

from __future__ import annotations

import functools
from datetime import datetime
import statistics
import sys
import time

PKG = "customer_revenue_analysis_sql_tableau_spark"

#: (module, attribute, layer) — the public functions each layer's span wraps.
TARGETS = [
    ("catalog", "load_tables", "catalog.load"),
    ("operators.queries", "materialized_view", "queries.view"),
    ("operators.queries", "evict_view", "queries.evict"),
    ("operators.warehouse", "customer_value_summary", "warehouse.view_build"),
    ("app_layer", "any_column_contains", "app_layer.call"),
    ("app_layer", "range_filter", "app_layer.call"),
    ("app_layer", "top_n_filter", "app_layer.call"),
    ("app_layer", "preview", "app_layer.call"),
    ("app_layer", "csv_bytes", "app_layer.call"),
    ("operators.pipeline", "training_data_pipeline", "pipeline.build"),
    ("operators.text", "text_quality_score", "text.build"),
    ("operators.text", "quality_scored", "text.build"),
    ("operators.dedup", "dedup_components_distributed", "dedup.build"),
    ("operators.dedup", "dedup_minhash_lsh", "dedup.build"),
    ("operators.dedup", "dedup_edit_distance", "dedup.build"),
    ("operators.decontamination", "decontaminate_ngram_overlap", "decontamination.build"),
    ("operators.decontamination", "doc_kgrams", "decontamination.build"),
    ("operators.decontamination", "containment_vs_eval", "decontamination.build"),
    ("operators.similarity", "sim_persisted_ivf_topk", "similarity.topk"),
    ("operators.segment_store", "sim_persisted_read_asof", "segment_store.asof"),
    ("sources.manifest_table", "commit_transaction", "manifest_table.commit"),
    ("sources.manifest_table", "resolve_manifest", "manifest_table.resolve"),
    ("streaming.dedup_ingest", "run_streaming_ingest_pipeline", "streaming.drain"),
    ("streaming.dedup_ingest", "_ingest_batch", "streaming.batch"),
]
TABLE_VERBS = ["insert_into", "upsert", "delete_where", "read", "optimize", "vacuum"]
#: layers whose spans also count the Spark jobs run while the call builds
#: its DataFrame (before any action the caller takes)
EAGER = ("pipeline", "text", "dedup", "decontamination")
STREAM_PHASES = {"trigger": "triggerExecution", "add_batch": "addBatch",
                 "planning": "queryPlanning", "wal_commit": "walCommit"}

#: every per-layer metric a traced run reports, with its unit; a layer
#: the workload does not exercise reads 0
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_pct": "%",
    "catalog.memo_hit_ratio": "ratio",
    "queries.view_fill_pct": "%",
    "queries.view_hit_ratio": "ratio",
    "warehouse.view_build_pct": "%",
    "app_layer.call_pct": "%",
    "app_layer.driver_bytes": "B",
    **{f"{m}.build_pct": "%" for m in EAGER},
    **{f"{m}.eager_jobs": "count" for m in EAGER},
    "dedup.pairs_out": "count",
    **{f"table_api.{v}_pct": "%" for v in TABLE_VERBS},
    "table_api.jobs_per_commit": "count",
    "table_api.files_rewritten": "count",
    "manifest_table.commit_pct": "%",
    "manifest_table.rebases": "count",
    "manifest_table.live_files": "count",
    "manifest_table.bytes_written": "B",
    "manifest_table.resolve_pct": "%",
    "manifest_table.write_amplification": "ratio",
    "manifest_table.space_amplification": "ratio",
    "similarity.topk_pct": "%",
    "segment_store.asof_pct": "%",
    **{f"streaming.{p}_pct": "%" for p in STREAM_PHASES},
    "streaming.rows_per_batch": "count",
    "streaming.state_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.plan_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.sched_overhead_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.output_bytes": "B",
    "trace.latency_p50_ms": "ms",
    "trace.overhead_pct": "%",
}


def _rebind(original, replacement) -> int:
    """Point every package name bound to ``original`` at ``replacement``."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name.startswith(PKG) or name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
            elif isinstance(val, dict) and attr.isupper():
                for k, v in list(val.items()):
                    if v is original:
                        val[k] = replacement
                        n += 1
    return n


class Tracer:
    """Spans and Spark counters for one run. ``active`` gates recording
    to the measured requests: set-up, warm-up and checks stay untraced."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self.request: dict | None = None
        self.requests: list[dict] = []
        self.spark = None
        self.next_job = 0
        self.job_info: dict[int, dict] = {}
        self.progress: list[dict] = []
        self.bookkeeping_s = 0.0
        self.extra: dict[str, float] = {}

    # -- spans ----------------------------------------------------------

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._open(layer, name, args, kwargs)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(span)
            tracer._observe(span, out)
            return out

        return wrapper

    def _open(self, layer: str, name: str, args, kwargs) -> dict:
        t = time.perf_counter()
        span = {"name": name, "layer": layer, "id": len(self.spans),
                "parent": self.stack[-1]["id"] if self.stack else None,
                "req": self.request["id"] if self.request else None}
        if layer == "catalog.load":
            from customer_revenue_analysis_sql_tableau_spark import catalog
            spark, sf_dir = args[0], args[1]
            names = args[2] if len(args) > 2 else kwargs.get("names", catalog.TABLES)
            app = spark.sparkContext.applicationId
            span["hits"] = sum((app, sf_dir, n) in catalog._TABLE_CACHE for n in names)
            span["lookups"] = len(names)
        elif layer == "queries.view":
            from customer_revenue_analysis_sql_tableau_spark.operators import queries
            key = (args[0].sparkContext.applicationId, args[1])
            span["hit"] = key in queries._VIEW_CACHE
            if not span["hit"] and self.request is not None:
                self.request["view_fill"] = True
        if layer.split(".")[0] in EAGER:
            span["jobs0"] = self.poll_jobs()
        self.bookkeeping_s += time.perf_counter() - t
        span["start"] = time.perf_counter()
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self.stack.pop()
        if "jobs0" in span:
            t = time.perf_counter()
            span["eager_jobs"] = self.poll_jobs() - span.pop("jobs0")
            self.bookkeeping_s += time.perf_counter() - t

    def _observe(self, span: dict, out) -> None:
        if span["name"] == "csv_bytes":
            span["bytes"] = len(out)
        elif span["layer"] == "manifest_table.commit":
            span["rebases"] = out[1]

    def install(self) -> None:
        import importlib

        for mod, attr, layer in TARGETS:
            m = importlib.import_module(f"{PKG}.{mod}")
            fn = getattr(m, attr)
            if _rebind(fn, self._wrap(fn, layer, attr)) == 0:
                raise RuntimeError(f"trace target {mod}.{attr} not bound anywhere")
        from customer_revenue_analysis_sql_tableau_spark.sources.table_api import ManifestTable

        for verb in TABLE_VERBS:
            setattr(ManifestTable, verb, self._wrap(getattr(ManifestTable, verb),
                                                    f"table_api.{verb}", verb))

    # -- Spark status store ---------------------------------------------

    def attach(self, spark) -> None:
        """Bind to the measured session: skip past the set-up's jobs and
        listen for streaming progress."""
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._drain_bus()
        jobs = spark._jsc.sc().statusStore().jobsList(None)
        self.next_job = max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1) + 1
        self.poll_jobs()
        self.bookkeeping_s = 0.0
        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                tracer.progress.append({"ts": ts, "rows": p.numInputRows, **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        spark.streams.addListener(self.listener)

    def _drain_bus(self) -> None:
        self.spark._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def poll_jobs(self) -> int:
        """Record every job started since the last poll; returns the
        number of jobs seen so far in the window."""
        from py4j.protocol import Py4JJavaError

        self._drain_bus()
        store = self.spark._jsc.sc().statusStore()
        while True:
            try:
                jd = store.job(self.next_job)
            except Py4JJavaError:
                break
            stages = jd.stageIds()
            sub, done = jd.submissionTime(), jd.completionTime()
            self.job_info[self.next_job] = {
                "stages": [stages.apply(i) for i in range(stages.size())],
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "req": self.request["id"] if self.request else None,
            }
            self.next_job += 1
        return len(self.job_info)

    def _stage_totals(self, job_ids: list[int]) -> dict:
        from py4j.protocol import Py4JJavaError

        store = self.spark._jsc.sc().statusStore()
        tot = dict.fromkeys(("stages", "tasks", "run_s", "cpu_s", "input", "shuffle_read",
                             "shuffle_write", "spill", "output"), 0)
        seen = set()
        for j in job_ids:
            for sid in self.job_info[j]["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["run_s"] += sd.executorRunTime() / 1e3
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["input"] += sd.inputBytes()
                tot["shuffle_read"] += sd.shuffleReadBytes()
                tot["shuffle_write"] += sd.shuffleWriteBytes()
                tot["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["output"] += sd.outputBytes()
        return tot

    # -- requests -------------------------------------------------------

    def begin(self, rid: int, kind: str) -> None:
        self.request = {"id": rid, "kind": kind, "view_fill": False, "t0": time.time()}

    def end(self, wall_s: float) -> None:
        req, self.request = self.request, None
        if not self.active:
            return
        t = time.perf_counter()
        self.request = req
        self.poll_jobs()
        self.request = None
        jobs = [j for j, info in self.job_info.items() if info["req"] == req["id"]]
        intervals = sorted((i["start"], i["end"]) for j in jobs
                           if (i := self.job_info[j])["start"] and i["end"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        req.update(self._stage_totals(jobs), jobs=len(jobs), wall_s=wall_s, t1=req["t0"] + wall_s,
                   plan_s=max(0.0, wall_s - covered))
        self.requests.append(req)
        self.bookkeeping_s += time.perf_counter() - t

    # -- summary --------------------------------------------------------

    def metrics(self) -> dict:
        """Every per-layer metric (see :data:`LAYER_METRICS`) over the
        traced requests of the measured window."""
        spans = [s for s in self.spans if s["req"] is not None]
        by_id = {s["id"]: s for s in spans}
        child = {}
        for s in spans:
            if s["parent"] in by_id:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        traced_wall = sum(r["wall_s"] for r in self.requests) or 1e-9

        def pct(layer: str, self_time: bool = True) -> float:
            busy = sum(s["end"] - s["start"] - (child.get(s["id"], 0.0) if self_time else 0.0)
                       for s in spans if s["layer"] == layer)
            return 100.0 * busy / traced_wall

        def of(layer):
            return [s for s in spans if s["layer"] == layer]

        out = {k: 0.0 for k in LAYER_METRICS}
        out.update(self.extra)
        n_req = max(1, len(self.requests))
        loads = of("catalog.load")
        out["catalog.load_calls"] = len(loads) / n_req
        out["catalog.load_pct"] = pct("catalog.load")
        out["catalog.memo_hit_ratio"] = (sum(s["hits"] for s in loads)
                                         / max(1, sum(s["lookups"] for s in loads)))
        views = of("queries.view")
        out["queries.view_hit_ratio"] = sum(s["hit"] for s in views) / max(1, len(views))
        out["queries.view_fill_pct"] = 100.0 * sum(
            r["wall_s"] for r in self.requests if r["view_fill"]) / traced_wall
        out["warehouse.view_build_pct"] = pct("warehouse.view_build")
        out["app_layer.call_pct"] = pct("app_layer.call")
        csv = [s["bytes"] for s in of("app_layer.call") if "bytes" in s]
        out["app_layer.driver_bytes"] = sum(csv) / max(1, len(csv))
        for m in EAGER:
            top = [s for s in of(f"{m}.build")
                   if by_id.get(s["parent"], {}).get("layer") != f"{m}.build"]
            out[f"{m}.build_pct"] = pct(f"{m}.build")
            out[f"{m}.eager_jobs"] = sum(s["eager_jobs"] for s in top) / max(1, len(top))
        for v in TABLE_VERBS:
            out[f"table_api.{v}_pct"] = pct(f"table_api.{v}")
        commits = of("manifest_table.commit")
        writes = [r for r in self.requests
                  if r["kind"] in ("insert_into", "upsert", "delete_where", "optimize")]
        out["table_api.jobs_per_commit"] = sum(r["jobs"] for r in writes) / max(1, len(commits))
        out["manifest_table.commit_pct"] = pct("manifest_table.commit")
        out["manifest_table.resolve_pct"] = pct("manifest_table.resolve")
        out["manifest_table.rebases"] = float(sum(s["rebases"] for s in commits))
        out["similarity.topk_pct"] = pct("similarity.topk")
        out["segment_store.asof_pct"] = pct("segment_store.asof")
        # micro-batches that triggered inside a traced request
        progress = [p for p in self.progress
                    if any(r["t0"] <= p["ts"] <= r["t1"] for r in self.requests)]
        if progress:
            out["streaming.rows_per_batch"] = statistics.median(p["rows"] for p in progress)
            for k, field in STREAM_PHASES.items():
                busy_s = sum(p.get(field, 0) for p in progress) / 1e3
                out[f"streaming.{k}_pct"] = 100.0 * busy_s / traced_wall
        for key, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                           ("plan_s", "plan_s"), ("executor_run_s", "run_s"),
                           ("executor_cpu_s", "cpu_s"), ("input_bytes", "input"),
                           ("shuffle_read_bytes", "shuffle_read"),
                           ("shuffle_write_bytes", "shuffle_write"),
                           ("spill_bytes", "spill"), ("output_bytes", "output")):
            out[f"spark.{key}"] = sum(r[field] for r in self.requests) / n_req
        out["spark.sched_overhead_s"] = sum(
            r["wall_s"] - r["run_s"] / self.cores for r in self.requests) / n_req
        # the tracer's own work inside the requests: span bookkeeping, job polls
        out["trace.overhead_pct"] = 100.0 * self.bookkeeping_s / traced_wall
        return out

    def dump(self) -> dict:
        return {"spans": self.spans, "requests": self.requests,
                "jobs": len(self.job_info), "streaming_progress": self.progress,
                "bookkeeping_s": self.bookkeeping_s}
