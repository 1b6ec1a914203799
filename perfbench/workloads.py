"""The two workloads: seeded inputs, the op sequence, how each op runs
against the engine's public API, and its DuckDB twin for the gate.

Each workload is a single client in a closed loop. ``ops()`` yields an
endless seeded op sequence of whole cycles; the loop in ``run.py`` takes
ops from it and stops at the cycle end nearest to the run's time.
Every op carries a digest of its output, observed by Spark in the op's
own sink and checked afterwards against DuckDB (see ``oracle.py``).
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench.oracle import (
    bbox_sql,
    convex_covers_sql,
    line_hits_lshape_sql,
    lshape_sql,
    observe,
    observed,
)


@dataclass(frozen=True)
class Op:
    kind: str
    spec: tuple  # everything the op's output depends on; the gate key
    family: str  # "read" | "join" | "tile"
    rows_in: int = 0
    # the loop stops only after an op that ends a cycle, so every run
    # holds whole cycles and the same mix of op kinds
    cycle_end: bool = True


@dataclass
class Result:
    obs: object  # the Observation carrying the digest of the op's output


def noop_sink(df) -> None:
    """Full materialization of every output column, nothing kept."""
    df.write.format("noop").mode("overwrite").save()


def _ts(us: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# ================================================================ scan_mix


@dataclass
class ScanMix:
    """Read path over a cell-sorted, many-file snapshot table."""

    name = "scan_mix"
    repeatable = True  # an op's output depends only on its spec
    n_points: int = 250_000
    n_files: int = 16
    # 4 windows per kind, fewer than the 500-entry decomposition LRUs; a
    # run goes through each about twice
    hot_pool: int = 24
    KINDS = ("bbox", "poly_convex", "poly_concave", "bbox_time", "ecql", "gwql")
    # one cycle of the mix: bbox 3/8, every other kind 1/8
    DECK = ("bbox", "bbox", "bbox", "poly_convex", "poly_concave", "bbox_time", "ecql", "gwql")

    def inputs(self, seed: int, d: str) -> dict:
        rng = np.random.default_rng([seed, 1])
        self.hs = gen.Hotspots.draw(rng)
        pts = gen.points_table(rng, self.hs, self.n_points)
        self.xs = pts.column("x_u").to_numpy()
        self.ys = pts.column("y_u").to_numpy()
        return {"points": gen.write(pts, os.path.join(d, "points.parquet"), 1 << 17)}

    def setup(self, spark, paths: dict, d: str):
        from geowave_spark.api import DataStore
        from geowave_spark.operators.spatial_query import with_cell
        from geowave_spark.sources.icetable import IceTable

        pts = with_cell(spark.read.parquet(paths["points"]), 16)
        self.table = IceTable(os.path.join(d, "pts_table"))
        self.table.commit_write(
            pts.repartitionByRange(self.n_files, "cell").sortWithinPartitions("cell"),
            mode="overwrite",
            stats_cols=["cell"],
        )
        self.store = DataStore(spark)
        self.store.add_snapshot_type("pts", self.table)
        self.spark = spark

    def smoke(self):
        return ScanMix(n_points=20_000, n_files=4, hot_pool=4)

    def _spec(self, rng, kind: str, u: float) -> tuple:
        """A window of kind ``kind`` at quantile ``u`` of the size range,
        centred on a random point of the table."""
        i = int(rng.integers(0, len(self.xs)))
        h = int(gen.log_half_size(u, 4.3, 6.3))  # 0.02°..2°: four decades of area
        cx, cy = gen.vertex_center(self.xs[i], self.ys[i])
        cx = int(np.clip(cx, -gen.X_MAX + h, gen.X_MAX - h))
        cy = int(np.clip(cy, -gen.Y_MAX + h, gen.Y_MAX - h))
        cx, cy = (int(v) for v in gen.vertex_center(cx, cy))
        box = (cx - h, cy - h, cx + h, cy + h)
        if kind == "bbox_time":
            t0 = gen.T0_US + int(rng.integers(0, gen.T_SPAN_US // 2))
            return kind, box, (t0, t0 + int(rng.integers(1, 30)) * 86_400_000_000)
        if kind in ("ecql", "gwql"):
            return kind, box, int(rng.integers(100, 900))
        if kind == "poly_convex":
            return kind, tuple(gen.octagon(cx, cy, h))
        if kind == "poly_concave":
            return kind, (cx, cy, h)
        return kind, box

    def ops(self, seed: int):
        """Cycles of one shuffled deck of kinds (a fixed mix in every run);
        half of each deck's ops take a window from their kind's hot pool,
        half a fresh one. Window sizes are stratified over the size range
        (in the pool, and in every ``per_kind`` fresh windows of a kind),
        and the pool is used round-robin in shuffled order, so the work in
        a run varies little from seed to seed."""
        rng = np.random.default_rng([seed, 2])
        per_kind = max(1, self.hot_pool // len(self.KINDS))
        pool = {k: [self._spec(rng, k, u) for u in stratified(rng, per_kind, 1)] for k in self.KINDS}
        hot = {k: itertools.cycle(stratified(rng, per_kind, 8)) for k in self.KINDS}
        fresh = {k: stratified(rng, per_kind) for k in self.KINDS}
        half = [True, False] * (len(self.DECK) // 2)
        while True:
            deck = list(rng.permutation(self.DECK))
            for j, (kind, is_hot) in enumerate(zip(deck, rng.permutation(half))):
                if is_hot:
                    spec = pool[kind][int(next(hot[kind]) * per_kind)]
                else:
                    spec = self._spec(rng, kind, next(fresh[kind]))
                yield Op(kind, spec, "read", cycle_end=j == len(deck) - 1)

    def warm_ops(self, seed: int):
        """Three decks of fresh windows: most of the JIT's warm-up is done
        before timing (latencies still drift down a few % after it)."""
        rng = np.random.default_rng([seed, 3])
        deck = self.DECK * 3
        return [Op(k, self._spec(rng, k, u), "read") for k, u in zip(deck, stratified(rng, len(deck), 1))]

    def build(self, op: Op):
        """The entry-point call; returns the DataFrame it builds."""
        from geowave_spark.geom.wkb import polygon
        from geowave_spark.operators.spatial_query import polygon_query
        from geowave_spark.plans.store import ice_bbox_query

        s = op.spec
        if op.kind == "bbox":
            return ice_bbox_query(self.spark, self.table, *s[1])
        if op.kind == "poly_convex":
            return polygon_query(self.store.type("pts"), polygon(list(s[1])), cell_col_name="cell", res=16)
        if op.kind == "poly_concave":
            return polygon_query(self.store.type("pts"), polygon(gen.lshape(*s[1])), cell_col_name="cell", res=16)
        if op.kind == "bbox_time":
            return self.store.query("pts", bbox=s[1], time=(_ts(s[2][0]), _ts(s[2][1])))
        x0, y0, x1, y1 = s[1]
        if op.kind == "ecql":
            return self.store.cql("pts", f"BBOX(geom, {x0}, {y0}, {x1}, {y1}) AND val < {s[2]}")
        return self.store.gwql(
            f"SELECT event_id, x_u, y_u, ts, val, cat FROM pts "
            f"WHERE BBOX(geom, {x0}, {y0}, {x1}, {y1}) AND val >= {s[2]}"
        )

    def run(self, op: Op, tracer) -> Result:
        with tracer.span("plans.build"):
            df = self.build(op)
        df, obs = observe(df, "event_id")
        with tracer.span("sink"):
            noop_sink(df)
        return Result(obs)

    def spark_digest(self, op: Op, res: Result):
        return observed(res.obs)

    def oracle_where(self, op: Op) -> str:
        s = op.spec
        if op.kind == "poly_convex":
            return convex_covers_sql(list(s[1]))
        if op.kind == "poly_concave":
            return lshape_sql(*s[1])
        where = bbox_sql(*s[1])
        if op.kind == "bbox_time":
            where += (f" AND ts >= '{_ts(s[2][0])}+00'::TIMESTAMPTZ"
                      f" AND ts < '{_ts(s[2][1])}+00'::TIMESTAMPTZ")
        elif op.kind == "ecql":
            where += f" AND val < {s[2]}"
        elif op.kind == "gwql":
            where += f" AND val >= {s[2]}"
        return where

    def load_oracle(self, oracle, paths: dict) -> None:
        oracle.load("pts", [paths["points"]])

    def oracle_digest(self, oracle, op: Op, res: Result):
        return oracle.digest(f"pts WHERE {self.oracle_where(op)}", "event_id")


# ============================================================== join_batch


@dataclass
class JoinBatch:
    """Spatial joins over points with hotspots and geometry sets whose
    sizes straddle the 4096-entry worker geometry cache, plus the raster
    tiling operator: the shuffle-and-Arrow-heavy operators."""

    name = "join_batch"
    repeatable = True
    KINDS = ("box_point_join", "geom_point_join", "geom_geom_join", "point_distance_join", "tile", "knn_join")
    n_points: int = 100_000
    n_boxes: int = 1_000
    n_lines: int = 2_000
    lshape_sizes: tuple = (2_048, 6_144)
    n_near: int = 1_000
    n_queries: int = 64
    knn_k: int = 8
    radius: int = 50_000
    n_images: int = 48
    image_px: int = 32
    half_span: int = 600_000  # µdeg, half the side of an image's footprint

    def smoke(self):
        return JoinBatch(n_points=5_000, n_boxes=50, n_lines=50, lshape_sizes=(40, 60), n_near=50, n_queries=8,
                         n_images=6)

    def inputs(self, seed: int, d: str) -> dict:
        rng = np.random.default_rng([seed, 11])
        hs = gen.Hotspots.draw(rng)
        out = {
            "points": gen.write(gen.points_table(rng, hs, self.n_points), os.path.join(d, "points.parquet")),
            "boxes": gen.write(gen.boxes_table(rng, hs, self.n_boxes, 0.2, 3.5, 5.0), os.path.join(d, "boxes.parquet")),
            "lines": gen.write(gen.lines_table(rng, hs, self.n_lines, 0.2, 4.0, 5.3), os.path.join(d, "lines.parquet")),
        }
        for n in self.lshape_sizes:
            t = gen.lshapes_table(rng, hs, n, 0, 0.2, 3.5, 4.8)
            out[f"lshapes{n}"] = gen.write(t, os.path.join(d, f"lshapes{n}.parquet"))
        near = gen.points_table(rng, hs, self.n_near, hot_frac=0.2).select(["event_id", "x_u", "y_u"])
        out["near"] = gen.write(near.rename_columns(["q_id", "x_u", "y_u"]), os.path.join(d, "near.parquet"))
        q = gen.points_table(rng, hs, self.n_queries, hot_frac=0.3).select(["event_id", "x_u", "y_u"])
        out["queries"] = gen.write(q.rename_columns(["query_id", "qx", "qy"]), os.path.join(d, "queries.parquet"))
        imgs = gen.images_table(rng, hs, self.n_images, self.image_px)
        out["images"] = gen.write(imgs, os.path.join(d, "images.parquet"))
        return out

    def setup(self, spark, paths: dict, d: str):
        import pyarrow.parquet as pq

        self.spark = spark
        self.df = {k: spark.read.parquet(v) for k, v in paths.items()}
        self.rows = {k: pq.ParquetFile(v).metadata.num_rows for k, v in paths.items()}

    def ops(self, seed: int):
        small, big = self.lshape_sizes
        rows = self.rows
        cycle = [
            Op("box_point_join", ("box_point_join",), "join", rows["points"] + rows["boxes"], cycle_end=False),
            Op("geom_point_join", ("geom_point_join", small), "join", rows["points"] + small, cycle_end=False),
            Op("geom_geom_join", ("geom_geom_join", big), "join", rows["lines"] + big, cycle_end=False),
            Op("point_distance_join", ("point_distance_join",), "join", rows["points"] + rows["near"],
               cycle_end=False),
            Op("tile", ("tile",), "tile", rows["images"], cycle_end=False),
            Op("knn_join", ("knn_join",), "join", rows["points"] + rows["queries"]),
        ]
        yield from itertools.cycle(cycle)

    def warm_ops(self, seed: int):
        """Two cycles: latencies still fall through the second one."""
        return list(itertools.islice(self.ops(seed), 2 * len(self.KINDS)))

    def build(self, op: Op):
        from geowave_spark.operators.distance_join import point_distance_join
        from geowave_spark.operators.geom_join import geom_geom_join, geom_point_join
        from geowave_spark.operators.knn import knn_join
        from geowave_spark.operators.spatial_join import box_point_join
        from geowave_spark.operators.tiling import tile_cut_and_merge

        df = self.df
        pts = df["points"].select("event_id", "x_u", "y_u")
        if op.kind == "box_point_join":
            return box_point_join(pts, df["boxes"], point_key="event_id", box_key="box_id")
        if op.kind == "geom_point_join":
            shapes = df[f"lshapes{op.spec[1]}"].select("s_id", "geom")
            return geom_point_join(pts, shapes, "intersects", point_key="event_id", geom_key="s_id")
        if op.kind == "geom_geom_join":
            shapes = df[f"lshapes{op.spec[1]}"].select("s_id", "geom")
            return geom_geom_join(df["lines"].select("l_id", "geom"), shapes, "intersects",
                                  left_key="l_id", right_key="s_id")
        if op.kind == "point_distance_join":
            return point_distance_join(pts, df["near"], self.radius, left_key="event_id", right_key="q_id")
        if op.kind == "tile":
            return tile_cut_and_merge(df["images"], self.half_span, tile_size=self.image_px)
        return knn_join(pts, df["queries"], self.knn_k)

    KEYS = {
        "box_point_join": "event_id * 100000 + box_id",
        "geom_point_join": "event_id * 100000 + s_id",
        "geom_geom_join": "l_id * 100000 + s_id",
        "point_distance_join": "(event_id * 100000 + q_id) * 7 + dist2 % 7",
        "tile": "(tx * 1048576 + ty) * 4096 + n_contrib",
        "knn_join": "(query_id * 10000000 + event_id) * 16 + rank",
    }

    def run(self, op: Op, tracer) -> Result:
        with tracer.span("plans.build"):
            df = self.build(op)
        df, obs = observe(df, self.KEYS[op.kind])
        with tracer.span("sink"):
            noop_sink(df)
        return Result(obs)

    def spark_digest(self, op: Op, res: Result):
        return observed(res.obs)

    def load_oracle(self, oracle, paths: dict) -> None:
        for k, v in paths.items():
            oracle.load(k, [v])

    def oracle_digest(self, oracle, op: Op, res: Result):
        key = self.KEYS[op.kind]
        if op.kind == "box_point_join":
            q = grid_join("boxes", "b", "b.x_lo", "b.y_lo", "b.x_hi", "b.y_hi", "p.event_id, b.box_id",
                          bbox_sql("b.x_lo", "b.y_lo", "b.x_hi", "b.y_hi", "p.x_u", "p.y_u"))
        elif op.kind == "geom_point_join":
            q = grid_join(f"lshapes{op.spec[1]}", "s", "s.cx - s.r", "s.cy - s.r", "s.cx + s.r", "s.cy + s.r",
                          "p.event_id, s.s_id", lshape_sql("s.cx", "s.cy", "s.r", "p.x_u", "p.y_u"))
        elif op.kind == "geom_geom_join":
            q = (f"(SELECT DISTINCT l.l_id, s.s_id FROM {cells('lines', 'l', 'x0', 'y0', 'x0 + d1 + d3', 'y0 + d2')} l "
                 f"JOIN {cells(f'lshapes{op.spec[1]}', 's', 'cx - r', 'cy - r', 'cx + r', 'cy + r')} s "
                 f"USING (gx, gy) WHERE {line_hits_lshape_sql()})")
        elif op.kind == "point_distance_join":
            r = self.radius
            d2 = "(p.x_u - n.x_u) * (p.x_u - n.x_u) + (p.y_u - n.y_u) * (p.y_u - n.y_u)"
            q = grid_join("near", "n", f"n.x_u - {r}", f"n.y_u - {r}", f"n.x_u + {r}", f"n.y_u + {r}",
                          f"p.event_id, n.q_id, {d2} AS dist2", f"{d2} <= {r * r}")
        elif op.kind == "tile":
            q = self._tile_sql()
        else:
            q = ("(SELECT * FROM (SELECT query_id, event_id, "
                 "row_number() OVER (PARTITION BY query_id ORDER BY dist2, event_id) AS rank FROM "
                 "(SELECT q.query_id, p.event_id, (p.x_u - q.qx) * (p.x_u - q.qx) + (p.y_u - q.qy) * (p.y_u - q.qy) AS dist2 "
                 f"FROM queries q, points p)) WHERE rank <= {self.knn_k})")
        return oracle.digest(q, key)

    def _level(self) -> int:
        """The pyramid level whose tiles keep the images' native resolution."""
        native = 2 * self.half_span / self.image_px
        return max(lv for lv in range(25) if (360_000_000 / (1 << lv)) / self.image_px >= native)

    def _tile_sql(self) -> str:
        """(tile, number of images merged into it) for every tile some
        image's footprint touches."""
        lv, h = self._level(), self.half_span
        n = 1 << lv

        def g(e):
            return f"least(greatest(({e} + 180000000) * {n} // 360000000, 0), {n - 1})"

        return (f"(SELECT tx, ty, count(*) AS n_contrib FROM images, "
                f"unnest(generate_series({g(f'x_u - {h}')}, {g(f'x_u + {h}')})) AS a(tx), "
                f"unnest(generate_series({g(f'y_u - {h}')}, {g(f'y_u + {h}')})) AS b(ty) GROUP BY tx, ty)")


def stratified(rng, n: int, blocks: int | None = None):
    """Values in [0, 1), ``n`` per block: each block holds one value from
    every n-th of the range, in shuffled order. Endless if ``blocks`` is None."""
    for _ in itertools.count() if blocks is None else range(blocks):
        yield from (rng.permutation(n) + rng.random(n)) / n


GRID = 1 << 17  # µdeg; the DuckDB twins' own equi-join grid


def cells(table: str, alias: str, x0: str, y0: str, x1: str, y1: str) -> str:
    """Rows of ``table`` repeated once per GRID cell their bounds touch."""
    g = lambda e: f"(({e}) + 180000000) // {GRID}"  # noqa: E731
    return (f"(SELECT {alias}.*, gx, gy FROM {table} {alias}, "
            f"unnest(generate_series({g(x0)}, {g(x1)})) AS ux(gx), "
            f"unnest(generate_series({g(y0)}, {g(y1)})) AS uy(gy))")


def grid_join(table: str, alias: str, x0, y0, x1, y1, select: str, where: str) -> str:
    """Points × extents: each point sits in one GRID cell, so every pair
    is produced once; ``where`` is the exact predicate."""
    g = lambda e: f"(({e}) + 180000000) // {GRID}"  # noqa: E731
    return (f"(SELECT {select} FROM (SELECT *, {g('x_u')} AS gx, {g('y_u')} AS gy FROM points) p "
            f"JOIN {cells(table, alias, *(e.replace(alias + '.', '') for e in (x0, y0, x1, y1)))} {alias} "
            f"USING (gx, gy) WHERE {where})")


WORKLOADS = {w.name: w for w in (ScanMix, JoinBatch)}
