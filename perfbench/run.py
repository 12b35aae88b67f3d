"""Benchmark of the four north-star graph queries.

    python3 perfbench/run.py --workload rmat_inmem --seed 1 --seconds 20 --trace 0

A pass is ingest followed by triangle count, PageRank, connected
components and label propagation, all through the public API. Each run
sets up five times (session plus input), computes the oracle while a
warm-up pass runs, then makes rounds while the next would end within
``--seconds`` (at least one): a pass, followed on ``rmat_inmem`` by a
probe round of the short queries, checking every output against the
oracle.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer metrics. The last
stdout line is the JSON result; the line before it holds the input
statistics and every sample. Every process the run starts is stopped
and reaped before it exits. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 5
RUN_BUDGET_S = 140.0  # start no pass that would end past this, so a run ends inside 180 s
LP_ROUNDS = 3
WARM_ITERATIONS = 1
RMAT_SCALE, RMAT_EDGE_FACTOR = 14, 16
REPOS, TOP_REPO_FILES, MAX_REPO_FILES = 200, 800, 270
# between the planner's small-graph base (100k) and both graphs' m
SHUFFLE_BCAST_MAX_EDGES = 110_000


T_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _pin_environment(work: Path) -> int:
    """Pin cores, temp and spill directories before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(1, str(ROOT))
    return cores


def _become_subreaper() -> None:
    """Adopt orphaned descendants: a process whose parent ends first (a
    Spark Python daemon's worker, say) is re-parented to this one rather
    than to init, so ``_stop_children`` finds it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the field after the parenthesised command name is the state, then ppid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def _stop_children(grace_s: float = 10.0) -> None:
    """Terminate every process still parented to this one (SIGKILL after
    ``grace_s``) and reap each, so none outlives the run."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


# ---------------------------------------------------------------- workloads


def _cap(max_iter):
    return {} if max_iter is None else {"max_iter": max_iter}


class Workload:
    """Inputs, session confs and query calls of one workload."""

    extra_conf: dict[str, str] = {}
    # queries rerun in each probe round: those that take a few seconds at
    # most, where one stall moves a single sample by a large share
    probed: tuple[str, ...] = ("ingest", "triangle_count")
    # queries that still speed up (JIT) on their second and third call,
    # by up to 40 %: the warm-up calls each once more
    warm_repeated: tuple[str, ...] = ("ingest", "triangle_count")

    def __init__(self, seed: int, work: Path, cores: int):
        self.seed, self.work, self.cores = seed, work, cores

    def materialize(self, spark, where: Path) -> None:
        raise NotImplementedError

    def oracle(self, spark):
        raise NotImplementedError

    def ingest(self, spark, tracer):
        """Return the persisted ``Graph`` and its edge count."""
        raise NotImplementedError

    # iterative queries take ``max_iter`` (None: the operator's default)
    # so the warm-up pass can stop after a few rounds
    def pagerank(self, g, ckpt, max_iter):
        return g.pagerank(tol=1e-6, **_cap(max_iter))

    def components(self, g, ckpt, max_iter):
        return g.connected_components(**_cap(max_iter))

    def labelprop(self, g, ckpt, max_iter):
        return g.label_propagation(iterations=max_iter or LP_ROUNDS)


class RepoCliques(Workload):
    """Files table written as an Iceberg table; ingest reads it and derives
    file co-occurrence edges under a files-per-repo cap."""

    def materialize(self, spark, where):
        from inputs import files_table, repo_sizes
        from triangle_counting_spark.sources.iceberg_format import create_table

        self.files = files_table(self.seed, repo_sizes(REPOS, TOP_REPO_FILES))
        self.table = str(where / "files")
        create_table(spark, spark.createDataFrame(self.files), self.table)

    def oracle(self, spark):
        from pyspark.sql import functions as F

        from inputs import clique_oracle

        # vertex ids are Spark's xxhash64(repo, path), as the engine defines them
        ids = spark.createDataFrame(self.files[["repo", "path"]]).select(
            F.xxhash64("repo", "path").alias("v")
        ).toPandas()["v"]
        return clique_oracle(self.files, ids, MAX_REPO_FILES)

    def ingest(self, spark, tracer):
        from triangle_counting_spark.graph import Graph
        from triangle_counting_spark.sources.edges import file_cooccurrence_edges
        from triangle_counting_spark.sources.iceberg import read_iceberg_table

        with tracer.span("sources.iceberg.read"):
            files = read_iceberg_table(spark, self.table)
        with tracer.span("sources.edges.derive"):
            edges = file_cooccurrence_edges(files, max_repo_files=MAX_REPO_FILES)
            g = Graph(edges, assume_canonical=True).persist()
            m = g.edges.count()
        return g, m


class RmatInMem(Workload):
    """Seeded R-MAT edges written as parquet; default confs, so every query
    takes its in-memory tier."""

    probed = ("ingest", "triangle_count", "components", "labelprop")
    warm_repeated = ("ingest",)  # the broadcast kernel is warm after one call

    def materialize(self, spark, where):
        from inputs import rmat_edge_arrays, write_edge_parquet

        self.src, self.dst = rmat_edge_arrays(RMAT_SCALE, RMAT_EDGE_FACTOR, self.seed)
        self.path = str(where / "edges")
        write_edge_parquet(self.src, self.dst, self.path, self.cores)

    def oracle(self, spark):
        import pickle
        import subprocess

        import numpy as np

        # in a process of its own: networkx's object graph would otherwise
        # stay in the driver's heap and skew driver_peak_rss_mb. A plain
        # child process, not multiprocessing, whose resource tracker would
        # outlive the run.
        where = self.work / "oracle"
        where.mkdir(parents=True, exist_ok=True)
        np.savez(where / "edges.npz", src=self.src, dst=self.dst)
        code = ("import sys, pickle, numpy as np, inputs; e = np.load(sys.argv[1]); "
                "pickle.dump(inputs.rmat_oracle(e['src'], e['dst'], int(sys.argv[3])), "
                "open(sys.argv[2], 'wb'))")
        proc = subprocess.Popen([sys.executable, "-c", code, str(where / "edges.npz"),
                                 str(where / "oracle.pkl"), str(LP_ROUNDS)],
                                cwd=Path(__file__).resolve().parent)
        try:
            if proc.wait() != 0:
                raise RuntimeError(f"R-MAT oracle exited with code {proc.returncode}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        with open(where / "oracle.pkl", "rb") as f:
            return pickle.load(f)

    def ingest(self, spark, tracer):
        from triangle_counting_spark.graph import Graph

        g = Graph(spark.read.parquet(self.path)).persist()
        return g, g.edges.count()


class ShuffleTier:
    """Mixin: the broadcast cutoff below m, so triangle ``auto`` takes
    ``part`` and PageRank/CC/LP the checkpointed shuffle loop, each call
    with a fresh checkpoint run id."""

    extra_conf = {"spark.tcs.bcastMaxEdges": str(SHUFFLE_BCAST_MAX_EDGES)}
    # no probe round: every query takes 1-5 s here, and a round more
    # would not fit the time budget of a full measurement
    probed = ()
    warm_repeated = ("ingest", "triangle_count")  # `part` warms slowly

    def pagerank(self, g, ckpt, max_iter):
        return g.pagerank(tol=1e-6, checkpoint_dir=ckpt, run_id=uuid.uuid4().hex,
                          **_cap(max_iter))

    def components(self, g, ckpt, max_iter):
        return g.connected_components(checkpoint_dir=ckpt, run_id=uuid.uuid4().hex,
                                      **_cap(max_iter))

    def labelprop(self, g, ckpt, max_iter):
        # the facade takes no checkpoint_dir, so call the operator
        from triangle_counting_spark.operators.labelprop import label_propagation

        return label_propagation(g.edges, max_iter=max_iter or LP_ROUNDS, checkpoint_dir=ckpt,
                                 run_id=uuid.uuid4().hex)


class RepoShuffle(ShuffleTier, RepoCliques):
    pass


class RmatShuffle(ShuffleTier, RmatInMem):
    pass


WORKLOADS = {
    "repo_cliques": RepoCliques,
    "repo_shuffle": RepoShuffle,
    "rmat_inmem": RmatInMem,
    "rmat_shuffle": RmatShuffle,
}


# ---------------------------------------------------------------- passes


def _reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / (1024.0 * 1024.0)


def _expect(what: str, got: int, want: int) -> None:
    if int(got) != want:
        raise AssertionError(f"{what}: got {got}, expected {want}")


class PassResult:
    def __init__(self):
        self.times: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.stats: dict[str, int] = {}
        self.checkpoint_mb = 0.0


def run_pass(wl: Workload, spark, tracer, oracle, warm: bool = False,
             only: tuple[str, ...] | None = None) -> PassResult:
    """One timed pass; outputs are checked after the pipeline interval.

    ``oracle()`` returns the expected outputs. A warm-up pass (``warm``)
    caps each iterative query at ``WARM_ITERATIONS`` rounds and checks
    only ingest and the triangle count; ``only`` limits the queries run."""
    res = PassResult()
    outputs: dict[str, object] = {}
    cap = WARM_ITERATIONS if warm else None
    ckpt = wl.work / "ckpt"
    g = None

    def ingest():
        nonlocal g
        g, m = wl.ingest(spark, tracer)
        return m

    def iterative(query):
        def fn():
            out = getattr(wl, query)(g, str(ckpt), cap)
            if hasattr(out, "state"):  # a LoopResult
                res.stats[f"{query}_iterations"] = out.iterations
                # with a checkpoint_dir, a resumed run could return an
                # earlier run's fixpoint without doing any work
                if out.resumed_from != 0 or out.iterations <= 0:
                    raise AssertionError(
                        f"{query}: resumed_from={out.resumed_from} iterations={out.iterations}"
                    )
                out = out.state
            return out.toPandas()

        return fn

    queries = [
        ("ingest", ingest),
        ("triangle_count", lambda: g.triangle_count()),
        ("pagerank", iterative("pagerank")),
        ("components", iterative("components")),
        ("labelprop", iterative("labelprop")),
    ]
    queries = [q for q in queries if only is None or q[0] in only]
    _reset_peak_rss()
    t_pass = time.perf_counter()
    for name, fn in queries:
        res.attempted += 1
        if g is None and name != "ingest":
            res.failed += 1
            continue
        t0 = time.perf_counter()
        try:
            with tracer.span(name):
                outputs[name] = fn()
        except Exception:  # noqa: BLE001 — a failed query is counted, the run goes on
            traceback.print_exc()
            res.failed += 1
        # timed whatever the outcome; failures show in `failed`, not as gaps
        res.times[f"{name}_s"] = time.perf_counter() - t0
    if only is None:  # pipeline and peak RSS describe whole passes only
        res.times["pipeline_s"] = time.perf_counter() - t_pass
        res.times["driver_peak_rss_mb"] = _peak_rss_mb()
    label = "warm-up" if warm else "probe" if only else "pass"
    _log(label + " " + " ".join(f"{k}={v:.2f}" for k, v in res.times.items()))

    want = oracle()
    checks = {
        "ingest": lambda m: _expect("edges", m, want.m),
        "triangle_count": lambda t: _expect("triangles", t, want.triangles),
    }
    if not warm:
        checks.update(
            pagerank=lambda pdf: want.check_pagerank(pdf, res.stats["pagerank_iterations"]),
            components=want.check_components,
            labelprop=want.check_labels,
        )
    for name, out in outputs.items():
        if name not in checks:
            continue
        try:
            checks[name](out)
        except AssertionError as e:
            print(f"oracle: {name} failed: {e}", file=sys.stderr)
            res.failed += 1
    if "triangle_count_s" in res.times:
        res.times["tc_edges_per_s"] = want.m / res.times["triangle_count_s"]
    if ckpt.exists():
        res.checkpoint_mb = _dir_mb(ckpt)
        shutil.rmtree(ckpt)
    if g is not None:
        g.unpersist()
    # drop what the operators left cached and let the JVM clean dead
    # shuffles and broadcasts, so every pass starts from the same state
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return res


# ---------------------------------------------------------------- run


def _session(wl: Workload, cores: int, work: Path):
    from triangle_counting_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap (-Xms = -Xmx) so heap growth does not vary run to run
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work / 'tmp'} "
                                          f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"),
        **wl.extra_conf,
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


E2E_UNITS = {
    "setup_s": "s", "ingest_s": "s", "triangle_count_s": "s", "pagerank_s": "s",
    "components_s": "s", "labelprop_s": "s", "pipeline_s": "s", "tc_edges_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if leaf.endswith("_frac") or leaf == "triangles_per_probe":
        return "ratio"
    return "count"


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _measure(args, wl, spark, oracle, cores: int, t_run: float):
    """Warm-up pass, then rounds (a pass and its probe round) while the
    next one, taking as long as the last, would end within
    ``args.seconds``; at least one. With tracing, traced and untraced
    passes alternate; the tracer's wrappers are installed only around
    traced passes."""
    from spans import Tracer, pass_metrics

    tracer = Tracer(spark, f"perfbench-{uuid.uuid4().hex[:8]}")
    warm = run_pass(wl, spark, tracer, oracle, warm=True)
    extra = run_pass(wl, spark, tracer, oracle, warm=True, only=wl.warm_repeated)
    warm.attempted += extra.attempted
    warm.failed += extra.failed
    oracle()  # no oracle work may overlap a measured pass
    passes, probes, traced, layer = [], [], [], []
    t_measure = time.perf_counter()
    last = warm.times["pipeline_s"]
    while True:
        now = time.perf_counter()
        enough = passes and (traced or not args.trace)
        if enough and (now - t_measure + last > args.seconds or now - t_run + last > RUN_BUDGET_S):
            break
        t_round = now
        # with tracing, traced passes go first: leftover warm-up then
        # counts against tracing, so the overhead is not understated
        if not (args.trace and len(traced) <= len(passes)):
            passes.append(run_pass(wl, spark, tracer, oracle))
            if wl.probed and not args.trace:
                # a second sample of each short query steadies its median
                probes.append(run_pass(wl, spark, tracer, oracle, only=wl.probed))
            last = time.perf_counter() - t_round
            continue
        first = len(tracer.spans)
        tracer.install()
        tracer.enabled = True
        try:
            p = run_pass(wl, spark, tracer, oracle)
        finally:
            tracer.enabled = False
            tracer.uninstall()
        traced.append(p)
        last = time.perf_counter() - t_round
        layer.append(pass_metrics(tracer, tracer.spans[first:], cores, oracle().wedge_probes,
                                  oracle().triangles, p.checkpoint_mb))
    return warm, passes, probes, traced, layer


def run(args, work: Path, cores: int) -> tuple[dict, dict]:
    t_run = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work, cores)
    spark, setup_s = None, []
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session(wl, cores, work)
            wl.materialize(spark, work / f"input-{i}")
            setup_s.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(work / f"input-{i - 1}")
        _log("setup " + " ".join(f"{x:.2f}" for x in setup_s))
        # the oracle is computed while the (unmeasured) warm-up passes run
        with ThreadPoolExecutor(1) as pool:
            future = pool.submit(wl.oracle, spark)
            warm, passes, probes, traced, layer = _measure(args, wl, spark, future.result,
                                                           cores, t_run)
        oracle = future.result()
    finally:
        if spark is not None:
            _stop_jvm(spark)

    measured = [warm, *passes, *probes, *traced]
    attempted = sum(p.attempted for p in measured)
    failed = sum(p.failed for p in measured)
    samples = {k: [p.times[k] for p in passes + probes if k in p.times] for k in E2E_UNITS}
    samples["setup_s"] = setup_s
    if args.trace:
        metrics = {k: _metric(statistics.median(x[k] for x in layer), layer_unit(k))
                   for k in layer[0]}
        traced_s = statistics.median(p.times["pipeline_s"] for p in traced)
        untraced_s = statistics.median(p.times["pipeline_s"] for p in passes)
        metrics["trace.pipeline_s"] = _metric(traced_s, "s")
        metrics["trace.overhead_s"] = _metric(traced_s - untraced_s, "s")
    else:
        missing = [k for k, v in samples.items() if not v]
        if missing:
            raise RuntimeError(f"no sample of {missing}")
        metrics = {k: _metric(statistics.median(v), E2E_UNITS[k]) for k, v in samples.items()}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "inputs": {**oracle.summary(), **passes[0].stats},
        "passes": len(passes),
        "probe_rounds": len(probes),
        "traced_passes": len(traced),
        "samples": samples,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return info, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = Path.cwd() / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    cores = _pin_environment(work)
    _become_subreaper()
    # on SIGTERM, unwind through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import triangle_counting_spark  # noqa: F401 — fail fast when the program is absent

        info, result = run(args, work, cores)
    finally:
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)
        if base.is_dir() and not any(base.iterdir()):
            base.rmdir()
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
