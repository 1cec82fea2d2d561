"""One benchmark run: session, set-up, warm-up, timed closed loop, checks.

A run is one client in one driver process against one ``local[4]`` Spark
session; the next operation starts only after the previous one finished.
Untraced runs report the end-to-end metrics; traced runs (``--trace 1``)
make the workload's ``baseline_ops`` untraced operations and one traced
operation and report the per-layer metrics, the tracing overhead (where
there is a baseline) and the accounting check.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

from . import arith
from .metrics import END_TO_END, PER_LAYER

SLOTS = 4
DRIVER_HEAP = "2g"
YOUNG_GEN = "512m"
#: workload name -> (module under perfbench, class)
WORKLOADS = {
    "crawl_epochs": ("crawl", "CrawlEpochs"),
    "extract_bulk": ("extract", "ExtractBulk"),
}


@dataclass
class OpResult:
    items: int                 # work units delivered (URLs fetched, pages extracted)
    item_s: float              # wall the throughput is taken over
    out: object = None         # what the output check reads
    wall: float = 0.0          # whole operation wall, set by the harness
    traced: bool = False
    failures: list = field(default_factory=list)
    note: str = ""             # printed with the operation's timing


class Context:
    def __init__(self, root: str, work: str, seed: int, spark, tracer):
        self.root = root
        self.work = work
        self.seed = seed
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---- process-tree memory -----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of a process tree: pages shared between the
    forked Python workers count once overall, where summed RSS would count
    them once per worker."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory (PSS) of this process, its JVM and the Python
    workers, sampled from /proc while the timed loop runs.  One sample reads
    every process's smaps and takes ~65 ms of a core, so sampling more often
    than once a second takes CPU from the four task slots being measured."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# ---- session -------------------------------------------------------------------

def start_session(work: str):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in `work`
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None
    from pcrawler_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            # a fixed heap and young generation: the heap is committed but
            # not touched, so resident memory grows with what the program
            # keeps (the old generation) and not with G1's choice of sizes
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced report
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---- the run ---------------------------------------------------------------------

def _workload_class(name: str):
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(f"perfbench.{module}"), cls)


def run(workload_name: str, seed: int, seconds: int, trace: bool, root: str) -> int:
    if workload_name not in WORKLOADS:
        print(f"unknown workload {workload_name!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload_cls = _workload_class(workload_name)

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        from .tracing import Tracer

        ctx = Context(root, work, seed, spark, Tracer(spark.sparkContext))
        return _run(ctx, workload_cls(ctx), workload_name, seconds,
                    trace, session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _run(ctx: Context, wl, name: str, seconds: int, trace: bool,
         session_s: float) -> int:
    import pyspark

    build_walls = []
    # a traced run builds once: it reports no setup_s, and its extra layers
    # must fit in the run's time limit
    for rep in range(1 if trace else wl.setup_reps):
        t = time.perf_counter()
        inputs = wl.build(rep)
        build_walls.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warmup(inputs)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + arith.median(build_walls) + warmup_s

    print(f"# workload={name} seed={ctx.seed} seconds={seconds} trace={int(trace)} "
          f"nproc={os.cpu_count()} slots={SLOTS} spark={pyspark.__version__} "
          f"driver_heap={DRIVER_HEAP}")
    print(f"# input: {json.dumps(wl.describe(inputs), sort_keys=True)}")
    print(f"# setup: session_s={session_s:.3f} build_s="
          f"{','.join(f'{b:.3f}' for b in build_walls)} warmup_s={warmup_s:.3f}")

    if trace:
        wl.install_trace(ctx.tracer)
    ops: list[OpResult] = []
    with RssSampler() as rss:
        t_loop = time.perf_counter()
        # a traced run makes `wl.baseline_ops` untraced operations and then
        # one traced one, so the run itself yields the tracing overhead
        while (len(ops) <= wl.baseline_ops if trace else
               not ops or time.perf_counter() - t_loop < seconds):
            traced = trace and len(ops) == wl.baseline_ops
            ctx.tracer.enabled = traced
            ctx.tracer.op = len(ops)
            t = time.perf_counter()
            try:
                with ctx.tracer.span("op"):
                    res = wl.op(inputs)
            except Exception as e:  # a failed operation counts; the loop goes on
                res = OpResult(0, 0.0, failures=[f"operation raised {e!r}"])
            res.wall = time.perf_counter() - t
            res.item_s = res.item_s or res.wall
            res.traced = traced
            print(f"# op {len(ops)}: wall={res.wall:.3f}s items={res.items} "
                  f"item_s={res.item_s:.3f} traced={int(traced)} {res.note}")
            ctx.tracer.enabled = False
            ops.append(res)
    for i, res in enumerate(ops):
        if not res.failures:
            try:
                res.failures = wl.check(inputs, res.out)
            except Exception as e:
                res.failures = [f"check raised {e!r}"]
        for f in res.failures:
            print(f"# check failed (op {i}): {f}", file=sys.stderr)

    attempted = len(ops)
    failed = sum(1 for r in ops if r.failures)
    if not trace:
        good = [r for r in ops if not r.failures] or ops
        metrics = {
            "items_per_s": arith.median([arith.throughput(r.items, r.item_s) for r in good]),
            "op_s": arith.median([r.wall for r in good]),
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup_s,
        }
        assert metrics.keys() == END_TO_END.keys(), "BENCHMARK.json lists other metrics"
        units = END_TO_END
    else:
        layer, x_attempted, x_failed = _traced_metrics(ctx, wl, inputs, ops)
        attempted += x_attempted
        failed += x_failed
        layer.update({
            "session.start_s": session_s,
            "sources.generate_s": arith.median(build_walls),
            "setup.warmup_s": warmup_s,
        })
        metrics = {n: float(layer.get(n, 0.0)) for n in PER_LAYER}
        units = PER_LAYER
        os.makedirs(os.path.join(ctx.root, ".perfbench", "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(ctx.root, ".perfbench", "traces",
                                     f"{name}-seed{ctx.seed}.json"))

    for n, v in metrics.items():
        print(f"{n} = {v:.6g} {units[n]}")
    print(f"# error_rate = {arith.error_rate(failed, attempted):.6g} "
          f"({failed} failed of {attempted} attempted)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


def _traced_metrics(ctx: Context, wl, inputs,
                    ops: list[OpResult]) -> tuple[dict, int, int]:
    from .tracing import SPARK_FIELDS, SPARK_GROUPS, Attribution, read_status_store

    layer: dict[str, float] = {}
    own = [(r, i) for i, r in enumerate(ops) if r.traced and not r.failures]
    untraced = [r.wall for r in ops if not r.traced and not r.failures]
    if untraced and own:
        layer["trace.overhead_s"] = (arith.median([r.wall for r, _i in own])
                                     - arith.median(untraced))
    # the layers this workload's operations do not reach (see extras.py)
    attempted = failed = 0
    for part in wl.extras(inputs):
        t = time.perf_counter()
        x_layer, x_attempted, x_failed = part()
        print(f"# extra layer: {sorted(x_layer)[0].split('.')[0]} "
              f"wall={time.perf_counter() - t:.3f}s")
        layer.update(x_layer)
        attempted += x_attempted
        failed += x_failed
    layer["trace.wrapper_s"] = ctx.tracer.self_s
    ctx.tracer.unwrap_all()

    jobs, stages = read_status_store(ctx.sc)
    att = Attribution(ctx.tracer.spans, jobs, stages)
    layer["trace.spans"] = len(ctx.tracer.spans)
    layer["trace.unattributed_jobs"] = att.unattributed
    for g in SPARK_GROUPS:
        tot = att.group_totals(g)  # each group's spans come from one traced operation
        for f in SPARK_FIELDS:
            layer[f"spark.{g}.{f}"] = tot[f]
    layer.update(wl.layer_metrics(att, layer, [r for r, _i in own], [i for _r, i in own]))
    for s in ctx.tracer.spans:
        if s.name == "ann.query":
            layer[f"knn.{s.attrs['query']}_jobs"] = att.span_totals(s.id)["jobs"]
        elif s.name == "train.concomp":
            layer["training.concomp_jobs"] = (layer.get("training.concomp_jobs", 0)
                                              + att.span_totals(s.id)["jobs"])
    checked, bad, worst = att.accounting(SLOTS)
    layer["accounting.spans_checked"] = checked
    layer["accounting.spans_failed"] = bad
    layer["accounting.worst_residual_share"] = worst
    if bad:
        print(f"# accounting check failed for {bad} of {checked} spans "
              f"(worst residual {worst:.3f} of wall)", file=sys.stderr)
    # the accounting check counts as one more checked operation
    return layer, attempted + 1, failed + (1 if bad else 0)
