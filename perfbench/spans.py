"""Spans around the pipeline's public calls, with Spark stage metrics
attached through job groups.

Only the traced run installs these wrappers; the timed run calls the
program unpatched. Each wrapper records a span (name, layer, start,
end, parent, op id) in memory and sets a Spark job group for its
duration, restoring the caller's group on exit. After an op the
status store is read once: every job the op started is attributed to
the span whose group it carries (a job in no span group goes to the
op's root span), and every stage is counted once, under the first job
that ran it.

Lazy operators (``extract``, ``mentions_tokens``, ``link``, the enrich
functions) only build a plan, so a span around the call would time
nothing. ``staircase`` measures them instead: each cumulative step of
the chain is forced to a ``noop`` sink, and a layer's share is the
difference between successive steps.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = [
    "sources", "extract", "mention", "link", "canonicalize",
    "materialize", "enrich", "lineage", "ingest",
]
LAZY_LAYERS = ["sources", "extract", "mention", "link", "enrich"]
SPARK_FIELDS = [
    "jobs", "busy_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "tasks_failed",
]
LAYER_FIELDS = ["wall_s", *SPARK_FIELDS, "rows_out"]
# pseudo-layer of the op's own spans: run_staged's remainder outside its
# children, and build_graph's plan assembly outside canonical_mapping
OP_LAYER = "op"
GROUP_PREFIX = "perfbench-span-"
PROBE_GROUP = "perfbench-probe"
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_MB = float(1 << 20)


def layer_metric_names() -> list[str]:
    """Every per-layer metric the traced run reports, in output order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [f"{layer}.self_s" for layer in LAZY_LAYERS]
    names += ["materialize.write_amp", "lineage.resume_hit_ratio"]
    names += ["op.plan_s", "op.unexplained_s", "op.trace_overhead_s",
              "op.drift_ratio", "op.samples"]
    return names


def metric_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field in ("write_amp", "resume_hit_ratio", "drift_ratio"):
        return "ratio"
    return "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    probe_s: float = 0.0  # time inside the span spent on benchmark probes


@dataclass
class OpTrace:
    """Per-layer totals of one traced op."""
    wall: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    spark: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op_s: float = 0.0  # the op's wall time less the probes inside it
    plan_s: float = 0.0  # build_graph outside canonical_mapping
    unexplained_s: float = 0.0  # run_staged outside its children


def stage_fields(sd) -> dict[str, float]:
    """The per-layer Spark fields of one status-store StageData."""
    return {
        "busy_s": sd.executorRunTime() / 1000.0,
        "gc_s": sd.jvmGcTime() / 1000.0,
        "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
        "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
        "spill_mb": sd.diskBytesSpilled() / _MB,
        "tasks_failed": float(sd.numFailedTasks()),
    }


class JobLedger:
    """Reads finished jobs and their stages from the status store,
    counting each stage once per process."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Mark every job and stage so far as not the next op's work."""
        for _, _, sids in self.new_jobs():
            self.seen_stages.update(sids)

    def new_jobs(self) -> list[tuple[int, str | None, list[int]]]:
        """(job id, job group, stage ids) of jobs not returned before,
        ascending by id."""
        self.drain()
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = jd.jobId()
            if jid in self.seen_jobs:
                continue
            self.seen_jobs.add(jid)
            g = jd.jobGroup()
            sids = jd.stageIds()
            out.append((jid, g.get() if g.isDefined() else None,
                        [sids.apply(k) for k in range(sids.size())]))
        return sorted(out)

    def stage_totals(self, stage_ids) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(float)
        for sid in stage_ids:
            if sid in self.seen_stages:
                continue
            self.seen_stages.add(sid)
            for k, v in stage_fields(self.store.lastStageAttempt(sid)).items():
                tot[k] += v
        return tot


class Tracer:
    """Records spans in memory and sets a Spark job group per span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ledger = JobLedger(spark)
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = -1
        self._root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- span recording -------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _job_group(self, group: str, desc: str):
        saved = [self.sc.getLocalProperty(k) for k in _JOB_PROPS]
        self.sc.setJobGroup(group, desc)
        try:
            yield
        finally:
            for k, v in zip(_JOB_PROPS, saved):
                self.sc.setLocalProperty(k, v)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        stack = self._stack()
        # a span opened on another thread (foreachBatch runs on the
        # stream's callback thread) hangs under the op's root span
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = Span(len(self.spans), name, layer, self.op, parent, 0.0)
            self.spans.append(span)
            if self._root is None:
                self._root = span.id
        stack.append(span.id)
        try:
            with self._job_group(f"{GROUP_PREFIX}{span.id}", name):
                span.start = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    span.end = time.perf_counter()
        finally:
            stack.pop()

    @contextmanager
    def probe(self):
        """Benchmark bookkeeping inside a span (row counts): its jobs
        join no layer and its time is taken off the enclosing span."""
        stack = self._stack()
        owner = self.spans[stack[-1] if stack else self._root]
        t0 = time.perf_counter()
        with self._job_group(PROBE_GROUP, "probe"):
            yield
        owner.probe_s += time.perf_counter() - t0

    # -- per-op accounting ----------------------------------------------

    def begin_op(self, op: int) -> None:
        self.ledger.skip()
        self.op = op
        self._root = None
        self.counts = defaultdict(float)

    def end_op(self) -> OpTrace:
        spans = [s for s in self.spans if s.op == self.op]
        by_id = {s.id: s for s in spans}
        child_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        tr = OpTrace(counts=dict(self.counts))
        root = by_id[self._root]
        tr.op_s = root.end - root.start - sum(s.probe_s for s in spans)
        for s in spans:
            self_s = s.end - s.start - child_s[s.id] - s.probe_s
            if s.layer != OP_LAYER:
                tr.wall[s.layer] += self_s
            elif s is root:
                tr.unexplained_s += self_s
            else:
                tr.plan_s += self_s
        for _, group, sids in self.ledger.new_jobs():
            if group == PROBE_GROUP:
                self.ledger.seen_stages.update(sids)
                continue
            span = root
            if group and group.startswith(GROUP_PREFIX):
                span = by_id.get(int(group[len(GROUP_PREFIX):]), root)
            tr.spark[f"{span.layer}.jobs"] += 1
            for k, v in self.ledger.stage_totals(sids).items():
                tr.spark[f"{span.layer}.{k}"] += v
        return tr


# -- patching the public calls ------------------------------------------

# (module, attribute, span name, layer). Each name is patched where it is
# looked up: run_staged looks up build_graph and canonical_mapping in
# plans.pipeline, StagedRunner looks up merge_into, content_checksum and
# lineage_rows in plans.lineage, and the streaming sink imports merge_into
# from operators.materialize when the query is built.
def _targets():
    from multiomics_biocypher_kg_spark.operators import materialize
    from multiomics_biocypher_kg_spark.plans import lineage, pipeline
    from multiomics_biocypher_kg_spark.streaming import ingest

    return [
        (pipeline, "run_staged", "run_staged", OP_LAYER),
        (pipeline, "build_graph", "build_graph", OP_LAYER),
        (pipeline, "canonical_mapping", "canonical_mapping", "canonicalize"),
        (lineage.StagedRunner, "run_stage", "run_stage", "materialize"),
        (lineage.StagedRunner, "is_complete", "is_complete", "lineage"),
        (lineage, "merge_into", "merge_into", "materialize"),
        (materialize, "merge_into", "merge_into", "materialize"),
        (lineage, "content_checksum", "content_checksum", "lineage"),
        (lineage, "lineage_rows", "lineage_rows", "lineage"),
        (ingest, "run_streaming_triples", "run_streaming_triples", "ingest"),
    ]


def _wrapper(tracer: Tracer, name: str, layer: str, fn):
    spark = tracer.spark

    def plain(*a, **kw):
        return tracer.call(name, layer, fn, *a, **kw)

    if name == "canonical_mapping":
        def wrapped(*a, **kw):
            out = plain(*a, **kw)
            with tracer.probe():
                tracer.counts["canonicalize.rows_out"] += out.count()
            return out
    elif name == "merge_into":
        def wrapped(spark_, target_path, updates, keys, *a, **kw):
            existed = os.path.isdir(target_path)
            if existed:
                with tracer.probe():
                    n_upd = updates.dropDuplicates(keys).count()
            out = plain(spark_, target_path, updates, keys, *a, **kw)
            with tracer.probe():
                written = spark.read.parquet(target_path).count()
            tracer.counts["materialize.rows_out"] += written
            tracer.counts["merge.update_rows"] += n_upd if existed else written
            return out
    elif name == "is_complete":
        def wrapped(*a, **kw):
            hit = plain(*a, **kw)
            tracer.counts["lineage.stages_checked"] += 1
            tracer.counts["lineage.stages_skipped"] += int(bool(hit))
            return hit
    elif name == "content_checksum":
        def wrapped(*a, **kw):
            out = plain(*a, **kw)
            tracer.counts["lineage.rows_out"] += out[1]
            return out
    elif name == "lineage_rows":
        def wrapped(*a, **kw):
            df = plain(*a, **kw)
            # run_stage collects these rows itself; give that job the span
            collect = df.collect
            df.collect = lambda: tracer.call("lineage_rows.collect", "lineage", collect)
            return df
    elif name == "run_streaming_triples":
        def wrapped(*a, **kw):
            before = tracer.counts["merge.update_rows"]
            out = plain(*a, **kw)
            tracer.counts["ingest.rows_out"] += tracer.counts["merge.update_rows"] - before
            return out
    else:
        wrapped = plain
    return wrapped


@contextmanager
def installed(tracer: Tracer):
    """Patch every traced call for the duration of the block."""
    saved = []
    try:
        for owner, attr, name, layer in _targets():
            fn = owner.__dict__[attr]
            saved.append((owner, attr, fn))
            setattr(owner, attr, _wrapper(tracer, name, layer, fn))
        yield tracer
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


# -- reducing traced ops to per-layer metrics ---------------------------

def op_layer_metrics(tr: OpTrace) -> dict[str, float]:
    """Eager-layer metrics of one traced op (lazy layers come from the
    staircase)."""
    m: dict[str, float] = {}
    for layer in LAYERS:
        if layer in LAZY_LAYERS:
            continue
        m[f"{layer}.wall_s"] = tr.wall.get(layer, 0.0)
        for f in SPARK_FIELDS:
            m[f"{layer}.{f}"] = tr.spark.get(f"{layer}.{f}", 0.0)
        m[f"{layer}.rows_out"] = tr.counts.get(f"{layer}.rows_out", 0.0)
    upd = tr.counts.get("merge.update_rows", 0.0)
    m["materialize.write_amp"] = tr.counts.get("materialize.rows_out", 0.0) / upd if upd else 0.0
    checked = tr.counts.get("lineage.stages_checked", 0.0)
    m["lineage.resume_hit_ratio"] = (
        tr.counts.get("lineage.stages_skipped", 0.0) / checked if checked else 0.0
    )
    m["op.plan_s"] = tr.plan_s
    m["op.unexplained_s"] = tr.unexplained_s
    return m


def median_metrics(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


# -- staircase over the lazy operators -----------------------------------

def staircase(spark, steps) -> dict[str, float]:
    """``steps``: [(layer, DataFrame)], each step's plan extending the
    previous one. Forces each to a noop sink and returns the lazy layers'
    metrics: ``wall_s`` is the cumulative step's time, ``self_s`` and the
    Spark fields are the difference from the step before."""
    ledger = JobLedger(spark)
    ledger.skip()
    sc = spark.sparkContext
    out: dict[str, float] = {}
    prev = {f: 0.0 for f in ["wall_s", *SPARK_FIELDS]}
    for layer, df in steps:
        sc.setJobGroup(f"perfbench-stair-{layer}", f"staircase {layer}")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        cur = {"wall_s": time.perf_counter() - t0, **{f: 0.0 for f in SPARK_FIELDS}}
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for _, _, sids in ledger.new_jobs():
            cur["jobs"] += 1
            for f, v in ledger.stage_totals(sids).items():
                cur[f] += v
        out[f"{layer}.wall_s"] = cur["wall_s"]
        out[f"{layer}.self_s"] = cur["wall_s"] - prev["wall_s"]
        for f in SPARK_FIELDS:
            out[f"{layer}.{f}"] = cur[f] - prev[f]
        out[f"{layer}.rows_out"] = float(df.count())
        prev = cur
    return out
