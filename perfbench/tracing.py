"""Outside-in per-layer trace of one build or commit.

Spans are recorded around the calls ``build_graph`` and
``IncrementalGraphSink.process_batch`` make into each layer module. The
wrappers are installed from here by rebinding module attributes for the
length of one traced operation; nothing in ``graphrag_rs_spark`` changes.

Spark plans are lazy, so a span around a call only covers plan building
unless the call's output is computed inside it. A wrapper therefore
forces its output -- but only an output the untraced program goes on to
consume, and only by persisting it so the program's own later use reads
the forced copy instead of recomputing it:

* layer functions whose result the program caches, checkpoints or writes
  next (documents, chunks, extraction tables, candidate and scored pairs,
  components, clusters) are persisted and counted inside their span;
* ``materialize_graph`` is never forced: its tables are computed by the
  writes that follow (a checkpoint stage or the sink's publish), and its context-array ``edges`` table is never
  memory-cached;
* a checkpoint stage whose computation is not itself a traced call
  (``edges_raw``, ``nodes``, ``edges``, ``node_stats``) is forced with a
  local checkpoint in a span of its layer, only when the stage actually
  computes -- a resumed stage forces nothing.

Every span sets its own Spark job group, so the status REST API's
per-job task metrics are attributed to the innermost span that ran them.
CPU comes from ``/proc`` at span boundaries. All per-span figures are
*self* figures: a span's own interval minus the parts its children cover,
so the self values of all spans plus the root's (``other``) add up to the
traced total.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from proctree import Usage, usage

LAYERS = (
    "assembly",
    "chunking",
    "extraction",
    "canonicalize",
    "canonicalize.candidate_pairs",
    "canonicalize.score_pairs",
    "graph",
    "materialize",
    "checkpoint",
    "ingest",
)
LAYER_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jvm_cpu_s", "s"),
    ("py_cpu_s", "s"),
    ("core_util", "ratio"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("rows_out", "count"),
)
EXTRA_METRICS = (
    ("canonicalize.match_ratio", "ratio"),
    ("canonicalize.scored_pairs", "count"),
    ("canonicalize.matches", "count"),
    ("materialize.edges_per_triple", "ratio"),
    ("checkpoint.bytes_written_mb", "MB"),
    ("ingest.bytes_written_mb", "MB"),
    ("other.self_s", "s"),
    ("trace.overhead_s", "s"),
)

# (module, function) -> layer; these outputs are persisted and counted
FORCED = {
    ("graphrag_rs_spark.operators.assembly", "assemble_documents"): "assembly",
    ("graphrag_rs_spark.operators.chunking", "chunk_documents"): "chunking",
    ("graphrag_rs_spark.operators.extraction", "extract_chunks"): "extraction",
    ("graphrag_rs_spark.operators.extraction", "extract_gleaning"): "extraction",
    ("graphrag_rs_spark.operators.extraction", "entities_raw_table"): "extraction",
    ("graphrag_rs_spark.operators.extraction", "edges_partial_table"): "extraction",
    ("graphrag_rs_spark.operators.canonicalize", "canonicalize_entities"): "canonicalize",
    ("graphrag_rs_spark.operators.canonicalize", "candidate_pairs"):
        "canonicalize.candidate_pairs",
    ("graphrag_rs_spark.operators.canonicalize", "score_pairs"):
        "canonicalize.score_pairs",
    ("graphrag_rs_spark.operators.graph", "connected_components"): "graph",
}
# (module, function) -> layer; spanned, never forced
LAZY = {
    ("graphrag_rs_spark.operators.materialize", "materialize_graph"): "materialize",
}
# checkpoint stages whose compute is not a traced call -> layer to force in
STAGE_LAYER = {
    "edges_raw": "extraction",
    "nodes": "materialize",
    "edges": "materialize",
    "node_stats": "materialize",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    use0: Usage
    end: float = 0.0
    use1: Usage = field(default_factory=Usage)
    rows: int = 0
    child_wall: float = 0.0
    child_use: Usage = field(default_factory=Usage)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for the operations run inside :meth:`traced`."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), usage())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.use1 = usage()
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_wall += sp.wall
                parent.child_use = parent.child_use + (sp.use1 - sp.use0)
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _persist(self, df, sp: Span):
        df.persist()
        sp.rows += df.count()
        self._persisted.append(df)
        return df

    # -- wrappers --------------------------------------------------------
    def _forced(self, fn, layer: str):
        def wrapper(*args, **kwargs):
            with self.span(layer) as sp:
                return self._persist(fn(*args, **kwargs), sp)

        return wrapper

    def _lazy(self, fn, layer: str):
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    def _stage(self, fn):
        tracer = self

        def stage(ckpt, name, compute, *args, **kwargs):
            layer = STAGE_LAYER.get(name)

            def forced_compute():
                with tracer.span(layer) as sp:
                    df = compute().localCheckpoint(eager=True)
                    sp.rows += df.count()
                    return df

            with tracer.span("checkpoint"):
                return fn(ckpt, name, forced_compute if layer else compute,
                          *args, **kwargs)

        return stage

    def _process_batch(self, fn):
        tracer = self

        def process_batch(sink, batch_df, batch_id):
            with tracer.span("ingest"):
                return fn(sink, batch_df, batch_id)

        return process_batch

    @contextmanager
    def traced(self):
        """Install the wrappers and open the root span for one operation."""
        patches = []  # (owner, attr, original)

        def rebind(module_name: str, attr: str, wrapper_for):
            original = getattr(importlib.import_module(module_name), attr)
            wrapped = wrapper_for(original)
            # the function is also bound, by `from ... import`, in every
            # module that calls it; rebind those names too
            for name, mod in list(sys.modules.items()):
                if name.startswith("graphrag_rs_spark") and getattr(
                    mod, attr, None
                ) is original:
                    patches.append((mod, attr, original))
                    setattr(mod, attr, wrapped)

        for (module_name, attr), layer in FORCED.items():
            rebind(module_name, attr, lambda f, l=layer: self._forced(f, l))
        for (module_name, attr), layer in LAZY.items():
            rebind(module_name, attr, lambda f, l=layer: self._lazy(f, l))

        from graphrag_rs_spark.plans.checkpoint import CheckpointManager
        from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

        for owner, attr, wrap in (
            (CheckpointManager, "stage", self._stage),
            (IncrementalGraphSink, "process_batch", self._process_batch),
        ):
            original = owner.__dict__[attr]
            patches.append((owner, attr, original))
            setattr(owner, attr, wrap(original))
        try:
            with self.span("other") as root:
                yield root
        finally:
            for owner, attr, original in reversed(patches):
                setattr(owner, attr, original)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- job-group metrics (status REST API) -----------------------------
    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def _stage_metrics_by_group(self) -> dict[str, dict[str, float]]:
        from py4j.protocol import Py4JError

        # the status store is fed asynchronously by the listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        except Py4JError:  # internal API; fall back to a pause
            time.sleep(2.0)
        app = self._get("/applications")[0]["id"]
        jobs = self._get(f"/applications/{app}/jobs")
        stages = self._get(f"/applications/{app}/stages")
        # a stage runs under the first job that lists it; later jobs skip it
        owner: dict[int, int] = {}
        group_of: dict[int, str] = {}
        per_group: dict[str, dict[str, float]] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if not group.startswith("perfbench-"):
                continue
            group_of[job["jobId"]] = group
            per_group.setdefault(group, _zero())["jobs"] += 1
            for sid in job["stageIds"]:
                owner.setdefault(sid, job["jobId"])
        for st in stages:
            job_id = owner.get(st["stageId"])
            if job_id is None or st.get("status") == "SKIPPED":
                continue
            acc = per_group[group_of[job_id]]
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            acc["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
            acc["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
            acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["output_records"] += st.get("outputRecords", 0)
            acc["output_mb"] += st.get("outputBytes", 0) / 1e6
        return per_group

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer self metrics summed over every recorded span."""
        by_group = self._stage_metrics_by_group()
        out: dict[str, dict[str, float]] = {
            name: dict.fromkeys([m for m, _ in LAYER_METRICS], 0.0)
            for name in LAYERS + ("other",)
        }
        written: dict[str, float] = {}
        for sp in self.spans:
            acc = out[sp.name]
            own = (sp.use1 - sp.use0) - sp.child_use
            self_s = sp.wall - sp.child_wall
            acc["wall_s"] += sp.wall
            acc["self_s"] += self_s
            acc["jvm_cpu_s"] += own.jvm_cpu_s
            acc["py_cpu_s"] += own.py_cpu_s
            jm = by_group.get(sp.group, _zero())
            for key in ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                        "spill_mb", "gc_s"):
                acc[key] += jm[key]
            # forced spans count their output; writing spans report the
            # records their writes committed
            acc["rows_out"] += sp.rows or jm["output_records"]
            written[sp.name] = written.get(sp.name, 0.0) + jm["output_mb"]
        flat: dict[str, float] = {}
        for name in LAYERS:
            acc = out[name]
            busy = acc["self_s"] * self.cores
            acc["core_util"] = (
                (acc["jvm_cpu_s"] + acc["py_cpu_s"]) / busy if busy > 0 else 0.0
            )
            for metric, _ in LAYER_METRICS:
                flat[f"{name}.{metric}"] = acc[metric]
        scored = out["canonicalize.candidate_pairs"]["rows_out"]
        matches = out["canonicalize.score_pairs"]["rows_out"]
        flat["canonicalize.scored_pairs"] = scored
        flat["canonicalize.matches"] = matches
        flat["canonicalize.match_ratio"] = matches / scored if scored else 0.0
        flat["checkpoint.bytes_written_mb"] = written.get("checkpoint", 0.0)
        flat["ingest.bytes_written_mb"] = written.get("ingest", 0.0)
        flat["other.self_s"] = out["other"]["self_s"]
        return flat


def _zero() -> dict[str, float]:
    return {
        "jobs": 0, "tasks": 0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
        "spill_mb": 0.0, "gc_s": 0.0, "output_records": 0, "output_mb": 0.0,
    }
