"""Benchmark entry point.

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0

Runs one workload in its own process and Spark session at local[nproc]:
set-up (repeated, median reported), a closed loop of seeded ops for
``--seconds``, then the DuckDB correctness gate outside the timed window.
The last line of stdout is one JSON object; with ``--trace 0`` its
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
the per-layer ones (plus the tracing overhead per end-to-end metric).
``--smoke`` runs every op kind of every workload once on small inputs.
See perfbench/README.md for the workload rationale and metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# a fixed, pre-touched heap: the JVM's resident size is then the same on
# every run and peak_rss_mb moves with Python-side and off-heap memory
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- session


def configure_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``. Must run before
    the engine is imported: its stored-index cache root is read at import."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["GEOWAVE_SPARK_CACHE"] = os.path.join(run_dir, "cache")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(run_dir: str):
    from pyspark.sql import SparkSession

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                # no hsperfdata file: the JVM would write it under /tmp
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- loop


class NullTracer:
    """The untraced run: spans cost one attribute lookup."""

    class _Noop:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    _noop = _Noop()

    def span(self, name: str):
        return self._noop

    def begin(self, kind, layer):
        pass

    def end(self):
        pass


def closed_loop(workload, ops, seconds: float, tracer) -> tuple[list, float]:
    """Issue ops one after another and stop at the end of the cycle of the
    workload's op sequence that ends nearest to ``seconds`` (at least one)."""
    recs = []
    t_start = t_cycle = time.perf_counter()
    for op in ops:
        # the layer that owns the op's Python (Arrow UDF) plan nodes
        tracer.begin(op.kind, "tiling" if op.family == "tile" else "geom")
        t0 = time.perf_counter()
        try:
            res, err = workload.run(op, tracer), None
        except Exception:
            res, err = None, traceback.format_exc(limit=3)
            log(f"op {op.kind} failed:\n{err}")
        dt = time.perf_counter() - t0
        tracer.end()
        recs.append({"op": op, "s": dt, "res": res, "err": err})
        if op.cycle_end:
            now = time.perf_counter()
            # the next cycle is taken to last as long as this one
            if now + (now - t_cycle) / 2 - t_start >= seconds:
                break
            t_cycle = now
    return recs, time.perf_counter() - t_start


def gate(workload, oracle, recs: list, cache: dict) -> int:
    """Outside the timed window, compare the digest Spark observed over
    each op's output with DuckDB's over the same inputs. Returns the number
    of failed ops (an error or a mismatch); stores each op's row count."""
    failed = 0
    for r in recs:
        op = r["op"]
        r["rows"] = 0
        if r["err"] is not None:
            failed += 1
            continue
        key = (op.kind, op.spec) if workload.repeatable else None
        try:
            got = workload.spark_digest(op, r["res"])
            want = cache.get(key) if key else None
            if want is None:
                want = workload.oracle_digest(oracle, op, r["res"])
                if key:
                    cache[key] = want
        except Exception:
            log(f"gate of {op.kind} {op.spec} failed:\n{traceback.format_exc(limit=3)}")
            got, want = None, ()
        r["rows"] = got[0] if got else 0
        r["digest"] = got
        if got != want:
            failed += 1
            log(f"MISMATCH {op.kind} {op.spec}: spark={got} duckdb={want}")
    return failed


# ------------------------------------------------------------- metrics


def pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def mix_seconds(recs: list) -> float:
    """Mean seconds per op of the workload's op mix, taking each op kind
    at its median latency. The loop holds whole cycles, so each kind's
    share of ``recs`` is its share of the mix. Unlike the plain mean, a
    short burst of host noise moves it little."""
    by_kind: dict = {}
    for r in recs:
        by_kind.setdefault(r["op"].kind, []).append(r["s"])
    return sum(len(v) * statistics.median(v) for v in by_kind.values()) / len(recs)


def e2e_metrics(recs: list) -> dict:
    lat = [r["s"] * 1e3 for r in recs]
    return {
        "ops_per_s": 1.0 / mix_seconds(recs),
        "op_p50_ms": pct(lat, 50),
        "op_p90_ms": pct(lat, 90),
    }


def workload_metrics(workload, recs: list) -> dict:
    """The workload's own end-to-end metrics, by their ROADMAP names."""
    if workload.name == "scan_mix":
        ms = [r["s"] * 1e3 for r in recs]
        return {"scan_qps": (1.0 / mix_seconds(recs), "ops/s"), "scan_p50_ms": (pct(ms, 50), "ms"),
                "scan_p90_ms": (pct(ms, 90), "ms")}
    joins = [r for r in recs if r["op"].family == "join"]
    tiles = [r for r in recs if r["op"].kind == "tile"]
    return {
        "join_rows_per_s": (sum(r["op"].rows_in for r in joins) / sum(r["s"] for r in joins), "rows/s"),
        "join_p50_s": (pct([r["s"] for r in joins], 50), "s"),
        "tile_images_per_s": (sum(r["op"].rows_in for r in tiles) / sum(r["s"] for r in tiles), "images/s"),
    }


UNITS = {"ops_per_s": "1/s", "op_p50_ms": "ms", "op_p90_ms": "ms", "peak_rss_mb": "MB", "setup_s": "s"}
PROBE_UNITS = {"membw_gbps": "GB/s", "jvm_probe_s": "s", "disk_probe_s": "s"}


# ---------------------------------------------------------- instrument


def instrument(tracer) -> None:
    """Spans around the engine's layer entry points for the traced loop."""
    from geowave_spark.index import polyfill, zorder
    from geowave_spark.operators import spatial_query
    from geowave_spark.plans import cql, gwql
    from geowave_spark.sources.icetable import IceTable

    def ranges(out, c):
        c["index.ranges"] += len(out)

    def scan_report(out, c):
        rep = out[1]
        c["icetable.files_total"] += rep["files_total"]
        c["icetable.files_read"] += rep["files_read"]
        c["icetable.rows_skipped"] += rep["rows_skipped"]

    for mod in (zorder, spatial_query):
        tracer.instrument(mod, "bbox_ranges", "index.decompose", ranges)
    tracer.instrument(polyfill, "cells_for_wkb_cached", "index.decompose")
    tracer.instrument(cql, "parse_cql", "plans.parse")
    tracer.instrument(gwql, "parse_statement", "plans.parse")
    tracer.instrument(IceTable, "scan", "icetable.scan", scan_report)


def layer_metrics(tracer, recs: list) -> dict:
    from perfbench.trace import summarize

    for op, r in zip(tracer.ops, recs):
        c = op["counts"]
        rows = max(r.get("rows", 0), 0)
        c["result_rows"] += rows
        if r["op"].family == "join":
            c["operators.refined_pairs"] += rows
        if r["op"].kind == "tile":
            c["tiling.tiles_out"] += rows
    return summarize(tracer.ops)


# ---------------------------------------------------------------- main


def bench(args, run_dir: str) -> dict:
    from perfbench.host import RssSampler, disk_probe, jvm_probe, membw_probe
    from perfbench.oracle import Oracle
    from perfbench.workloads import WORKLOADS

    probes = {"membw_gbps": membw_probe()}
    sampler = RssSampler().start()
    try:
        w = WORKLOADS[args.workload]()
        if args.smoke:
            w = w.smoke()
        # set-up = session start + input generation and store build
        # (repeated, median taken) + one warm-up pass over every op kind
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        conf0 = dict(spark.conf.getAll)
        session_s = time.perf_counter() - t0
        build_s = []
        for rep in range(1 if args.smoke else SETUP_REPS):
            rep_dir = os.path.join(run_dir, f"rep{rep}")
            t0 = time.perf_counter()
            paths = w.inputs(args.seed, os.path.join(rep_dir, "inputs"))
            w.setup(spark, paths, rep_dir)
            build_s.append(time.perf_counter() - t0)
            if rep > 0:
                shutil.rmtree(os.path.join(run_dir, f"rep{rep - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        for op in w.warm_ops(args.seed):
            w.run(op, NullTracer())
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(build_s) + warm_s
        log(f"setup: session {session_s:.2f}s, build {', '.join(f'{b:.2f}' for b in build_s)}s, warm {warm_s:.2f}s")
        probes["jvm_probe_s"] = jvm_probe(spark)
        probes["disk_probe_s"] = disk_probe(os.path.join(run_dir, "tmp"))
        setup_rss = sampler.take_peak()

        loops = [("u", None)] + ([("t", "traced")] if args.trace else [])
        out = {}
        oracle = Oracle(os.path.join(run_dir, "tmp"))
        w.load_oracle(oracle, paths)
        cache: dict = {}
        attempted = failed = 0
        for tag, traced in loops:
            _clear_decomposition_caches()
            tracer, tracer_s = NullTracer(), 0.0
            if traced:
                from perfbench.trace import Tracer

                t0 = time.perf_counter()
                tracer = Tracer(spark, conf0)
                instrument(tracer)
                tracer_s = time.perf_counter() - t0  # what tracing adds to set-up
            try:
                ops = iter(w.warm_ops(args.seed)) if args.smoke else w.ops(args.seed)
                # a traced run splits its time between the two loops
                seconds = float("inf") if args.smoke else args.seconds / len(loops)
                recs, wall = closed_loop(w, ops, seconds, tracer)
            finally:
                if traced:
                    tracer.close()
            rss = max(setup_rss, sampler.take_peak())
            t0 = time.perf_counter()
            f = gate(w, oracle, recs, cache)
            by_kind: dict = {}
            for r in recs:
                by_kind.setdefault(r["op"].kind, []).append(f"{r['s']:.2f}")
            log(f"loop {tag}: {len(recs)} ops in {wall:.2f}s, gate {time.perf_counter() - t0:.2f}s, "
                f"latency by kind (s): {by_kind}")
            attempted += len(recs)
            failed += f
            m = e2e_metrics(recs)
            m["setup_s"] = setup_s + tracer_s
            m["peak_rss_mb"] = rss / 2**20
            out[tag] = {"metrics": m, "own": workload_metrics(w, recs), "n": len(recs), "wall": wall,
                        "digests": [[r["op"].kind, *(r.get("digest") or ())] for r in recs]}
            if traced:
                out["layers"] = layer_metrics(tracer, recs)
        oracle.close()
        out["attempted"], out["failed"], out["probes"] = attempted, failed, probes
        return out
    finally:
        sampler.stop()


def _clear_decomposition_caches() -> None:
    from geowave_spark.index import polyfill, zorder

    zorder.bbox_ranges.cache_clear()
    polyfill.cells_for_wkb_cached.cache_clear()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["scan_mix", "join_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="one op of each kind on small inputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geowave_spark")):
        log(f"no engine package next to {HERE}; run from a checkout of the repository")
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    configure_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        res = bench(args, run_dir)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    u = res["u"]
    if args.smoke:
        print("digests " + json.dumps(u["digests"] + res.get("t", {}).get("digests", [])))
    print(f"workload={args.workload} seed={args.seed} ops={u['n']} wall={u['wall']:.2f}s "
          f"attempted={res['attempted']} failed={res['failed']}")
    print("host " + json.dumps({k: round(v, 4) for k, v in res["probes"].items()}))
    own = dict(u["own"])
    own["failed_ratio"] = (res["failed"] / max(res["attempted"], 1), "ratio")
    for k, (v, unit) in own.items():
        print(f"  {k:<30} {v:>14.4f} {unit}")
    if args.trace:
        from perfbench.trace import LAYER_UNITS

        t = res["t"]["metrics"]
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
        for k, unit in UNITS.items():
            metrics[f"overhead.{k}"] = {"value": t[k] - u["metrics"][k], "unit": unit}
        for k, unit in PROBE_UNITS.items():
            metrics[f"host.{k}"] = {"value": res["probes"][k], "unit": unit}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in u["metrics"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
