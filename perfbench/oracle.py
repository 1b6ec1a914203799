"""Correctness gate: an order-independent digest of an op's key columns,
computed by Spark over the op's output and by DuckDB over the same
generated parquet with independent SQL.

The digest is (row count, Σ key mod P1, Σ (key mod P2)·31 mod P3), where
``key`` is one BIGINT per output row built from the op's key columns.
The same SQL text runs on both engines, so the arithmetic is identical
and stays inside BIGINT (Spark's ANSI mode raises on overflow).
"""

from __future__ import annotations

import itertools

import duckdb

from geowave_spark.sources.testgeo import (
    lshape_covers_sql,
    lshape_sql_parts,
    seg_box_intersects_sql,
    track_segments_sql,
)

P1, P2, P3 = 1_000_000_007, 999_999_937, 1_000_000_009
_obs_ids = itertools.count()


def digest_exprs(key: str) -> list[str]:
    return [
        "count(*) AS n",
        f"coalesce(sum(({key}) % {P1}), 0) AS h1",
        f"coalesce(sum(((({key}) % {P2}) * 31) % {P3}), 0) AS h2",
    ]


def observe(df, key: str):
    """Attach the digest to ``df`` as observed metrics: Spark computes it
    over exactly the rows the op's sink consumes, in the same pass, so the
    gate never re-runs the op. Returns (observed frame, observation)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"perfbench_digest_{next(_obs_ids)}")
    k = F.expr(f"CAST({key} AS BIGINT)")
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(k % P1), F.lit(0)).alias("h1"),
        F.coalesce(F.sum(((k % P2) * 31) % P3), F.lit(0)).alias("h2"),
    ), obs


def observed(obs) -> tuple[int, int, int]:
    m = obs.get  # blocks until the action that carried it has finished
    return int(m["n"]), int(m["h1"]), int(m["h2"])


class Oracle:
    """One in-memory DuckDB connection with the run's inputs loaded."""

    def __init__(self, temp_directory: str, threads: int = 2):
        self.con = duckdb.connect(config={"threads": threads, "temp_directory": temp_directory})

    def load(self, name: str, paths: list[str]) -> None:
        files = ", ".join(f"'{p}'" for p in paths)
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_parquet([{files}])")

    def digest(self, from_where: str, key: str) -> tuple[int, int, int]:
        sql = f"SELECT {', '.join(digest_exprs(key))} FROM {from_where}"
        n, h1, h2 = self.con.execute(sql).fetchone()
        return int(n), int(h1), int(h2)

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------------ SQL twins


def bbox_sql(x0, y0, x1, y1, px="x_u", py="y_u") -> str:
    return f"({px} BETWEEN {x0} AND {x1} AND {py} BETWEEN {y0} AND {y1})"


def convex_covers_sql(verts, px="x_u", py="y_u") -> str:
    """Closed convex CCW polygon: the point is left of (or on) every edge."""
    terms = []
    for (ax, ay), (bx, by) in zip(verts, verts[1:] + verts[:1]):
        terms.append(f"(({bx - ax}) * ({py} - {ay}) - ({by - ay}) * ({px} - {ax}) >= 0)")
    return "(" + " AND ".join(terms) + ")"


def lshape_sql(cx, cy, r, px="x_u", py="y_u") -> str:
    return lshape_covers_sql(str(cx), str(cy), str(r), px, py)


def line_hits_lshape_sql() -> str:
    """Staircase line l × L-shape s intersect: some segment meets one of
    the L's two closed rectangles."""
    r1, r2 = lshape_sql_parts("s.cx", "s.cy", "s.r")
    segs = track_segments_sql("l.x0", "l.y0", "l.d1", "l.d2", "l.d3")
    return "(" + " OR ".join(
        seg_box_intersects_sql(seg, *rect) for seg in segs for rect in (r1, r2)
    ) + ")"
