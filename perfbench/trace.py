"""Tracing for the per-layer run: spans recorded by the benchmark around
calls into the engine's layers, plus Spark's executed-plan SQL metrics,
job/stage/task counts, JVM GC time and session-conf snapshots.

Nothing here edits the engine. ``Tracer.instrument`` rebinds a public
function of a layer module to a wrapper that records a span and calls
the original; ``Tracer.close`` restores every binding. Query plans arrive
through a JVM ``QueryExecutionListener`` implemented over py4j, so plans
of actions the engine runs internally (collects, counts, writes) are
walked too, not only the benchmark's own sink.
"""

from __future__ import annotations

import functools
import time
from collections import Counter

JOIN_NODES = (
    "BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
)


# per-layer metric -> unit, in report order
LAYER_UNITS = {
    "index.decompose_ms": "ms",
    "index.ranges_per_query": "ratio",
    "index.decompose_cache_hit_ratio": "ratio",
    "index.keys_per_geom": "ratio",
    "plans.parse_ms": "ms",
    "plans.build_ms": "ms",
    "plans.catalyst_ms": "ms",
    "icetable.files_total": "count",
    "icetable.files_read": "count",
    "icetable.prune_ratio": "ratio",
    "icetable.rows_skipped": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_ms": "ms",
    "sources.rows_examined_per_result": "ratio",
    "operators.candidate_pairs": "count",
    "operators.refined_pairs": "count",
    "operators.refine_ratio": "ratio",
    "operators.dup_dropped": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.shuffle_write_ms": "ms",
    "operators.broadcast_build_ms": "ms",
    "operators.broadcast_bytes": "bytes",
    "operators.task_skew": "ratio",
    "geom.python_ms": "ms",
    "geom.python_boot_ms": "ms",
    "geom.arrow_bytes_sent": "bytes",
    "geom.arrow_bytes_received": "bytes",
    "tiling.python_ms": "ms",
    "tiling.arrow_bytes": "bytes",
    "tiling.tiles_cut": "count",
    "tiling.tiles_out": "count",
    "engine.tasks_per_op": "count",
    "engine.jobs_per_op": "count",
    "engine.gc_ms": "ms",
    "engine.conf_changes": "count",
    "unattributed_ms": "ms",
}


def _is_python_node(cls: str) -> bool:
    return "Python" in cls or "InPandas" in cls or "InArrow" in cls


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_plan(plan) -> list[tuple[str, dict, list[int], object]]:
    """Flatten an executed plan into (class, metrics, child indexes, node),
    unwrapping AdaptiveSparkPlanExec and query stages. A reused exchange
    is a leaf: its metrics belong to the exchange it reuses."""
    nodes: list = []

    def visit(p) -> int:
        cls = p.getClass().getSimpleName()
        while cls == "AdaptiveSparkPlanExec" or cls.endswith("QueryStageExec"):
            p = p.executedPlan() if cls == "AdaptiveSparkPlanExec" else p.plan()
            cls = p.getClass().getSimpleName()
        idx = len(nodes)
        nodes.append(None)
        kids = []
        if cls != "ReusedExchangeExec":
            it = p.children().iterator()
            while it.hasNext():
                kids.append(visit(it.next()))
        nodes[idx] = (cls, _metrics(p), kids, p)
        return idx

    visit(plan)
    return nodes


def plan_counters(nodes, python_layer: str) -> Counter:
    """Sum one action's plan metrics by layer. ``python_layer`` names the
    layer ('geom' or 'tiling') that owns the Python nodes of this op."""
    c: Counter = Counter()

    def rows_out(i: int) -> int:
        cls, m, kids, _ = nodes[i]
        if "numOutputRows" in m:
            return m["numOutputRows"]
        return sum(rows_out(k) for k in kids)

    for cls, m, kids, node in nodes:
        if cls == "ShuffleExchangeExec":
            c["operators.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            c["operators.shuffle_write_ns"] += m.get("shuffleWriteTime", 0)
        elif cls == "BroadcastExchangeExec":
            c["operators.broadcast_build_ms"] += m.get("buildTime", 0)
            c["operators.broadcast_bytes"] += m.get("dataSize", 0)
        elif cls in JOIN_NODES:
            if cls == "CartesianProductExec" or node.joinType().toString() == "Inner":
                c["operators.candidate_pairs"] += m.get("numOutputRows", 0)
        elif cls == "GenerateExec" and python_layer == "tiling":
            # (image, tile) pairs from the footprint explode
            c["tiling.tiles_cut"] = max(c["tiling.tiles_cut"], m.get("numOutputRows", 0))
        elif cls == "GenerateExec":
            c["index.generate_out"] += m.get("numOutputRows", 0)
            c["index.generate_in"] += sum(rows_out(k) for k in kids)
        elif cls == "HashAggregateExec" and node.aggregateExpressions().isEmpty():
            # a distinct aggregate (dropDuplicates / distinct): the map
            # side reads the raw rows, the reduce side (fed by a shuffle)
            # emits the survivors
            fed_by_shuffle = any(_reads_shuffle(nodes, k) for k in kids)
            if fed_by_shuffle:
                c["operators.dedupe_out"] += m.get("numOutputRows", 0)
            else:
                c["operators.dedupe_in"] += sum(rows_out(k) for k in kids)
        elif cls in ("FileSourceScanExec", "BatchScanExec"):
            c["sources.scan_bytes"] += m.get("filesSize", 0)
            c["sources.scan_ms"] += m.get("scanTime", 0) + m.get("metadataTime", 0)
            c["sources.rows_examined"] += m.get("numOutputRows", 0)
        if _is_python_node(cls):
            c[f"{python_layer}.python_ms"] += m.get("pythonTotalTime", 0)
            c[f"{python_layer}.python_boot_ms"] += m.get("pythonBootTime", 0)
            c[f"{python_layer}.arrow_bytes_sent"] += m.get("pythonDataSent", 0)
            c[f"{python_layer}.arrow_bytes_received"] += m.get("pythonDataReceived", 0)
    return c


def _reads_shuffle(nodes, i: int) -> bool:
    cls, _, kids, _ = nodes[i]
    if cls in ("ShuffleExchangeExec", "AQEShuffleReadExec", "ReusedExchangeExec"):
        return True
    if cls in ("WholeStageCodegenExec", "InputAdapter", "ProjectExec"):
        return any(_reads_shuffle(nodes, k) for k in kids)
    return False


class _Listener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self):
        self.captured: list = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.captured.append(qe)

    def onFailure(self, func_name, qe, exception):
        self.captured.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Per-op spans and counters for one traced loop.

    Usage per op: ``begin(kind, python_layer)``, run the op with
    ``span(name)`` blocks, then ``end()``. ``ops`` holds each op's
    counters; ``summarize(ops)`` turns them into per-layer metrics."""

    def __init__(self, spark, conf0: dict):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _Listener()
        self.spark._jsparkSession.listenerManager().register(self.listener)
        self.patches: list[tuple[object, str, object]] = []
        self.conf0 = conf0  # the session conf right after it started
        self.ops: list[dict] = []
        self.cur: dict | None = None
        self.n = 0
        mx = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mx.getGarbageCollectorMXBeans())
        from geowave_spark.index import polyfill, zorder

        # the LRU decomposition caches, read through cache_info()
        self._caches = [zorder.bbox_ranges, polyfill.cells_for_wkb_cached]

    def _cache_info(self) -> tuple[int, int]:
        infos = [f.cache_info() for f in self._caches]
        return sum(i.hits for i in infos), sum(i.misses for i in infos)

    # ------------------------------------------------------------- spans

    def instrument(self, module, attr: str, span_name: str, report=None):
        """Wrap ``module.attr`` so every call records ``span_name``;
        ``report(result, counters)`` may add counts from the return value."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                out = orig(*a, **kw)
            finally:
                tracer._record(span_name, t0, time.perf_counter())
            if report is not None and tracer.cur is not None:
                report(out, tracer.cur["counts"])
            return out

        setattr(module, attr, wrapper)
        self.patches.append((module, attr, orig))

    def _record(self, name: str, t0: float, t1: float) -> None:
        if self.cur is not None:
            self.cur["spans"].append((name, t0, t1))

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                tracer._record(name, self.t0, time.perf_counter())
                return False

        return _Span()

    # ------------------------------------------------------------ per op

    def _gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def begin(self, kind: str, python_layer: str) -> None:
        self.n += 1
        self.cur = {
            "kind": kind, "python_layer": python_layer, "spans": [],
            "counts": Counter(), "group": f"perfbench-op-{self.n}",
            "gc0": self._gc_ms(), "cache0": self._cache_info(),
            "t0": time.perf_counter(),
        }
        self.listener.captured.clear()
        self.sc.setJobGroup(self.cur["group"], kind)

    def end(self) -> None:
        op = self.cur
        op["t1"] = time.perf_counter()
        self.cur = None
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        c = op["counts"]
        c["engine.gc_ms"] += self._gc_ms() - op["gc0"]
        hits, misses = self._cache_info()
        c["index.cache_hits"] += hits - op["cache0"][0]
        c["index.cache_misses"] += misses - op["cache0"][1]
        for qe in self.listener.captured:
            c.update(plan_counters(walk_plan(qe.executedPlan()), op["python_layer"]))
            phases = qe.tracker().phases().iterator()
            while phases.hasNext():
                c["plans.catalyst_ms"] += int(phases.next()._2().durationMs())
        self.listener.captured.clear()
        self._stage_counters(op["group"], c)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if dict(self.spark.conf.getAll) != self.conf0:
            c["engine.conf_changes"] += 1
        wall = (op["t1"] - op["t0"]) * 1e3
        c["op_ms"] += wall
        c["unattributed_ms"] += wall - _union_ms(op["spans"], op["t0"], op["t1"])
        for name, t0, t1 in op["spans"]:
            c[f"{name}_ms"] += (t1 - t0) * 1e3
            c[f"{name}_calls"] += 1
        self.ops.append({"kind": op["kind"], "counts": c})

    def _stage_counters(self, group: str, c: Counter) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for job in st.getJobIdsForGroup(group):
            c["engine.jobs"] += 1
            info = st.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue
                c["engine.tasks"] += si.numCompletedTasks
                summ = store.taskSummary(sid, si.currentAttemptId, q)
                if summ.isDefined() and si.numCompletedTasks > 1:
                    rt = summ.get().executorRunTime()
                    med, mx = float(rt.apply(0)), float(rt.apply(1))
                    c["engine.skew_max_ms"] += mx
                    c["engine.skew_med_ms"] += max(med, 1.0)

    def close(self) -> None:
        for module, attr, orig in reversed(self.patches):
            setattr(module, attr, orig)
        self.patches.clear()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


def _union_ms(spans, t0: float, t1: float) -> float:
    """Milliseconds of [t0, t1] covered by at least one span."""
    iv = sorted((max(a, t0), min(b, t1)) for _, a, b in spans if b > t0 and a < t1)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered * 1e3


def summarize(ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics over a traced loop: times and counts are means per
    op, except the icetable ones, which are means per scan() call; ratios are ratios of totals. Every name is always
    present."""
    n = max(len(ops), 1)
    t: Counter = Counter()
    for op in ops:
        t.update(op["counts"])

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    per = lambda k: t[k] / n  # noqa: E731
    dec_calls = t["index.decompose_calls"]
    scans = t["icetable.scan_calls"]
    return {
        "index.decompose_ms": per("index.decompose_ms"),
        "index.ranges_per_query": ratio(t["index.ranges"], dec_calls),
        "index.decompose_cache_hit_ratio": ratio(t["index.cache_hits"], t["index.cache_hits"] + t["index.cache_misses"]),
        "index.keys_per_geom": ratio(t["index.generate_out"], t["index.generate_in"]),
        "plans.parse_ms": per("plans.parse_ms"),
        "plans.build_ms": per("plans.build_ms"),
        "plans.catalyst_ms": per("plans.catalyst_ms"),
        "icetable.files_total": ratio(t["icetable.files_total"], scans),
        "icetable.files_read": ratio(t["icetable.files_read"], scans),
        "icetable.prune_ratio": ratio(t["icetable.files_total"] - t["icetable.files_read"], t["icetable.files_total"]),
        "icetable.rows_skipped": ratio(t["icetable.rows_skipped"], scans),
        "sources.scan_bytes": per("sources.scan_bytes"),
        "sources.scan_ms": per("sources.scan_ms"),
        "sources.rows_examined_per_result": ratio(t["sources.rows_examined"], t["result_rows"]),
        "operators.candidate_pairs": per("operators.candidate_pairs"),
        "operators.refined_pairs": per("operators.refined_pairs"),
        "operators.refine_ratio": ratio(t["operators.refined_pairs"], t["operators.candidate_pairs"]),
        "operators.dup_dropped": per("operators.dedupe_in") - per("operators.dedupe_out"),
        "operators.shuffle_bytes": per("operators.shuffle_bytes"),
        "operators.shuffle_write_ms": per("operators.shuffle_write_ns") / 1e6,
        "operators.broadcast_build_ms": per("operators.broadcast_build_ms"),
        "operators.broadcast_bytes": per("operators.broadcast_bytes"),
        "operators.task_skew": ratio(t["engine.skew_max_ms"], t["engine.skew_med_ms"]),
        "geom.python_ms": per("geom.python_ms"),
        "geom.python_boot_ms": per("geom.python_boot_ms"),
        "geom.arrow_bytes_sent": per("geom.arrow_bytes_sent"),
        "geom.arrow_bytes_received": per("geom.arrow_bytes_received"),
        "tiling.python_ms": per("tiling.python_ms"),
        "tiling.arrow_bytes": per("tiling.arrow_bytes_sent") + per("tiling.arrow_bytes_received"),
        "tiling.tiles_cut": per("tiling.tiles_cut"),
        "tiling.tiles_out": per("tiling.tiles_out"),
        "engine.tasks_per_op": per("engine.tasks"),
        "engine.jobs_per_op": per("engine.jobs"),
        "engine.gc_ms": per("engine.gc_ms"),
        "engine.conf_changes": float(t["engine.conf_changes"]),
        "unattributed_ms": per("unattributed_ms"),
    }
