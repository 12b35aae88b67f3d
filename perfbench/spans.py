"""Spans around calls into the engine's layers, attributed Spark work.

The tracer wraps public functions of the engine's layers (and
``DataFrame.toPandas``) from outside the program: ``install`` rebinds each
attribute to a wrapper and ``uninstall`` restores it. Every span sets its
own Spark job group, so after a pass the jobs in the status store
(``sc._jsc.sc().statusStore()``, live with the UI disabled) map back to the
span that launched them, and each stage's task metrics to the layer.

Spans live in memory; ``pass_metrics`` turns one pass's spans into the
per-layer figures.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

QUERIES = ("ingest", "triangle_count", "pagerank", "components", "labelprop")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Task metrics summed over a set of stages."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class Tracer:
    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _group(self, sp: Span) -> str:
        return f"{self.tag}-{sp.sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self._group(parent), parent.name)

    # ------------------------------------------------------------ wrappers

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if sp is not None and after is not None:
                    after(sp, args, out)
                return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points the four queries go through."""
        from pyspark.sql.classic.dataframe import DataFrame

        from triangle_counting_spark.operators import components, labelprop, pagerank, triangles
        from triangle_counting_spark.plans import blocked, planner

        def strategy(sp, _a, out):
            sp.counts["strategy"] = getattr(out, "strategy", out)

        def rows(sp, _a, out):
            sp.counts["rows"] = len(out)

        def ship(sp, args, _out):
            sp.counts["bytes"] = sum(a.nbytes for a in args[1].values())

        def rounds(sp, _a, out):
            sp.counts["rounds"] = out[1]
            sp.counts["round_s"] = [m["sec"] for m in out[3] if "sec" in m]

        def lp_rounds(sp, _a, out):
            sp.counts["rounds"] = out.iterations

        def loop_iters(sp, _a, out):
            sp.counts["iterations"] = out.iterations - out.resumed_from
            sp.counts["iter_s"] = [m["sec"] for m in out.metrics if "sec" in m]

        self._wrap(planner, "choose_triangle_strategy", "plans.planner", strategy)
        self._wrap(planner, "choose_iterative_tier", "plans.planner", strategy)
        self._wrap(triangles.BroadcastCSRTriangles, "__init__", "operators.triangles.csr_build")
        self._wrap(triangles.BroadcastCSRTriangles, "count", "operators.triangles.kernel")
        self._wrap(blocked, "build_blocked", "plans.blocked.build")
        self._wrap(blocked, "_ship_arrays", "plans.blocked.ship", ship)
        self._wrap(blocked, "blocked_rounds", "plans.blocked.rounds", rounds)
        self._wrap(labelprop, "label_propagation_blocked", "plans.blocked.lp", lp_rounds)
        for mod in (pagerank, components, labelprop):
            self._wrap(mod, "loop", "plans.iterate.loop", loop_iters)
        self._wrap(DataFrame, "toPandas", "driver.collect", rows)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ metrics

    def stage_totals(self) -> dict[int, StageTotals]:
        """Task metrics per span (its own jobs only) from the status store."""
        store = self.sc._jsc.sc().statusStore()
        prefix = self.tag + "-"
        jobs = store.jobsList(None)
        owner: dict[int, tuple[int, int]] = {}  # stage id -> (job id, span id) of its first job
        per_span: dict[int, StageTotals] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(prefix):
                continue
            sid = int(group.get()[len(prefix):])
            per_span.setdefault(sid, StageTotals()).jobs += 1
            job_id = job.jobId()
            stage_ids = job.stageIds().mkString(",")
            for st in (int(x) for x in stage_ids.split(",") if x):
                if st not in owner or job_id < owner[st][0]:
                    owner[st] = (job_id, sid)
        gw = self.sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            hit = owner.get(st.stageId())
            if hit is None:
                continue
            t = per_span[hit[1]]
            t.tasks += st.numCompleteTasks()
            t.run_s += st.executorRunTime() / 1e3
            t.cpu_s += st.executorCpuTime() / 1e9
            t.gc_s += st.jvmGcTime() / 1e3
            t.shuffle_write_mb += st.shuffleWriteBytes() / MB
            t.spill_mb += st.diskBytesSpilled() / MB
        return per_span

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.sid, []))
        return out


def _sum(per_span: dict[int, StageTotals], spans: list[Span]) -> StageTotals:
    out = StageTotals()
    for sp in spans:
        t = per_span.get(sp.sid)
        if t is None:
            continue
        for k in vars(out):
            setattr(out, k, getattr(out, k) + getattr(t, k))
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_metrics(tracer: Tracer, spans: list[Span], cores: int, wedge_probes: int,
                 triangles: int, checkpoint_mb: float) -> dict[str, float]:
    """Per-layer figures of one traced pass (``spans`` are that pass's)."""
    per_span = tracer.stage_totals()

    def named(name, within=spans):
        return [sp for sp in within if sp.name == name]

    def inclusive(sps):
        return [x for sp in sps for x in tracer.subtree(sp)]

    out: dict[str, float] = {}
    for q in QUERIES:
        qs = named(q)
        t = _sum(per_span, inclusive(qs))
        wall = sum(sp.seconds for sp in qs)
        out[f"{q}.spark_jobs"] = t.jobs
        out[f"{q}.tasks"] = t.tasks
        out[f"{q}.task_cpu_s"] = t.cpu_s
        out[f"{q}.gc_s"] = t.gc_s
        out[f"{q}.shuffle_write_mb"] = t.shuffle_write_mb
        out[f"{q}.spill_mb"] = t.spill_mb
        out[f"{q}.core_busy_frac"] = t.run_s / (wall * cores) if wall else 0.0

    read = named("sources.iceberg.read")
    derive = named("sources.edges.derive")
    t = _sum(per_span, inclusive(derive))
    out["sources.iceberg.read_s"] = sum(sp.seconds for sp in read)
    out["sources.edges.derive_s"] = sum(sp.seconds for sp in derive)
    out["sources.edges.shuffle_write_mb"] = t.shuffle_write_mb
    out["sources.edges.task_cpu_s"] = t.cpu_s

    plan = named("plans.planner")
    out["plans.planner.calls"] = len(plan)
    out["plans.planner.s"] = sum(sp.seconds for sp in plan)
    out["plans.planner.spark_jobs"] = _sum(per_span, inclusive(plan)).jobs

    kernel_s = sum(sp.seconds for sp in named("operators.triangles.kernel"))
    out["operators.triangles.csr_build_s"] = sum(
        sp.seconds for sp in named("operators.triangles.csr_build"))
    out["operators.triangles.kernel_s"] = kernel_s
    out["operators.triangles.wedge_probes"] = wedge_probes
    out["operators.triangles.triangles_per_probe"] = triangles / wedge_probes if wedge_probes else 0.0
    out["operators.triangles.probes_per_s"] = wedge_probes / kernel_s if kernel_s else 0.0

    # the "part" tier runs inside triangle_count; its share is the query's
    # Spark work minus that of the planner call which chose it
    tc = named("triangle_count")
    tc_plan = named("plans.planner", inclusive(tc))
    part = StageTotals()
    if any(sp.counts.get("strategy") == "part" for sp in tc_plan):
        whole, chooser = _sum(per_span, inclusive(tc)), _sum(per_span, inclusive(tc_plan))
        for k in vars(part):
            setattr(part, k, getattr(whole, k) - getattr(chooser, k))
    out["operators.triangles.part_shuffle_write_mb"] = part.shuffle_write_mb
    out["operators.triangles.part_spill_mb"] = part.spill_mb
    out["operators.triangles.part_task_cpu_s"] = part.cpu_s

    rounds = named("plans.blocked.rounds") + named("plans.blocked.lp")
    out["plans.blocked.build_s"] = sum(sp.seconds for sp in named("plans.blocked.build"))
    out["plans.blocked.rounds"] = sum(sp.counts.get("rounds", 0) for sp in rounds)
    out["plans.blocked.round_s"] = _median([s for sp in rounds for s in sp.counts.get("round_s", [])])
    out["plans.blocked.ship_mb"] = sum(
        sp.counts.get("bytes", 0) for sp in named("plans.blocked.ship")
        if not any(p.name == "operators.triangles.csr_build" for p in _ancestors(spans, sp))
    ) / MB

    loops = named("plans.iterate.loop")
    t = _sum(per_span, inclusive(loops))
    out["plans.iterate.iterations"] = sum(sp.counts.get("iterations", 0) for sp in loops)
    out["plans.iterate.iter_s"] = _median([s for sp in loops for s in sp.counts.get("iter_s", [])])
    out["plans.iterate.checkpoint_mb"] = checkpoint_mb
    out["plans.iterate.shuffle_write_mb"] = t.shuffle_write_mb
    out["plans.iterate.spill_mb"] = t.spill_mb

    collects = named("driver.collect")
    out["driver.collect_rows"] = sum(sp.counts.get("rows", 0) for sp in collects)
    out["driver.collect_s"] = sum(sp.seconds for sp in collects)
    return out


def _ancestors(spans: list[Span], sp: Span) -> list[Span]:
    by_id = {x.sid: x for x in spans}
    out = []
    while sp.parent is not None and sp.parent in by_id:
        sp = by_id[sp.parent]
        out.append(sp)
    return out
