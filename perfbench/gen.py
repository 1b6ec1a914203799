"""Seeded input generation for the workloads (numpy + pyarrow only).

Everything the engine receives is written here, before timing starts, as
parquet files under the run directory. The same seed gives byte-identical
files; nothing in this module imports the engine.

Coordinates are integer micro-degrees. Every point lies on the lattice
x ≡ y ≡ 0 (mod 4), and every polygon vertex on x ≡ 1, y ≡ 2 (mod 4), with
only axis-aligned and 45° edges. No point can then lie on a polygon edge,
so boundary-inclusive and boundary-exclusive predicates agree and the
DuckDB twins in ``oracle.py`` need no tie-breaking rules.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

X_MAX = 179_000_000
Y_MAX = 84_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
T_SPAN_US = 90 * 86_400 * 1_000_000
N_CATS = 16
CATS = np.array([f"c{c:02d}" for c in range(N_CATS)])


def lattice(v: np.ndarray, mod: int = 4, res: int = 0) -> np.ndarray:
    """Snap to the residue class ``res`` modulo ``mod``."""
    v = np.asarray(v, dtype=np.int64)
    return (v - np.mod(v - res, mod)).astype(np.int64)


@dataclass(frozen=True)
class Hotspots:
    """Zipf-weighted clusters shared by every point set of one run."""

    cx: np.ndarray
    cy: np.ndarray
    radius: np.ndarray
    weight: np.ndarray

    @classmethod
    def draw(cls, rng: np.random.Generator, n: int = 8, zipf_s: float = 1.2):
        w = 1.0 / np.arange(1, n + 1) ** zipf_s
        return cls(
            cx=rng.uniform(-170e6, 170e6, n),
            cy=rng.uniform(-75e6, 75e6, n),
            radius=np.full(n, 0.6e6),  # fixed: hotspot density does not vary by seed
            weight=w / w.sum(),
        )

    def sample(self, rng: np.random.Generator, n: int, hot_frac: float):
        """(x, y) float arrays: uniform background plus hotspot discs.
        How many rows land in each hotspot is fixed by ``n``, ``hot_frac``
        and the weights, not drawn, so the work a seed implies varies
        little from seed to seed; which rows they are is drawn."""
        n_hot = int(n * hot_frac) + int(rng.random() < (n * hot_frac) % 1)
        quota = np.floor(n_hot * self.weight).astype(np.int64)
        extra = rng.choice(len(self.cx), n_hot - int(quota.sum()), p=self.weight)
        quota += np.bincount(extra, minlength=len(self.cx))
        k = np.repeat(np.arange(len(self.cx) + 1), np.append(quota, n - quota.sum()))
        k = rng.permutation(k)
        hot = k < len(self.cx)
        kc = np.minimum(k, len(self.cx) - 1)
        ang = rng.uniform(0.0, 2 * np.pi, n)
        dist = self.radius[kc] * np.sqrt(rng.random(n))
        x = np.where(hot, self.cx[kc] + dist * np.cos(ang), rng.uniform(-X_MAX, X_MAX, n))
        y = np.where(hot, self.cy[kc] + dist * np.sin(ang), rng.uniform(-Y_MAX, Y_MAX, n))
        return np.clip(x, -X_MAX, X_MAX), np.clip(y, -Y_MAX, Y_MAX)


def write(table: pa.Table, path: str, row_group_size: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")
    return path


def points_table(rng, hs: Hotspots, n: int, hot_frac: float = 0.3) -> pa.Table:
    """Event points: id, lattice coordinates, timestamp, value, category."""
    x, y = hs.sample(rng, n, hot_frac)
    ts = T0_US + rng.integers(0, T_SPAN_US, n)
    cat = np.minimum(rng.zipf(1.5, n) - 1, N_CATS - 1)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "x_u": pa.array(lattice(x)),
            "y_u": pa.array(lattice(y)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "val": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
            "cat": pa.array(CATS[cat]),
        }
    )


def wkb_polygon(verts) -> bytes:
    ring = list(verts) + [verts[0]]
    out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
    return out + b"".join(struct.pack("<dd", float(x), float(y)) for x, y in ring)


def wkb_line(verts) -> bytes:
    out = struct.pack("<BII", 1, 2, len(verts))
    return out + b"".join(struct.pack("<dd", float(x), float(y)) for x, y in verts)


def octagon(cx: int, cy: int, h: int):
    """Convex CCW octagon with axis-aligned and 45° edges."""
    q = h // 2
    return [
        (cx - q, cy - h), (cx + q, cy - h), (cx + h, cy - q), (cx + h, cy + q),
        (cx + q, cy + h), (cx - q, cy + h), (cx - h, cy + q), (cx - h, cy - q),
    ]


def lshape(cx: int, cy: int, r: int):
    """Concave CCW L: [cx-r, cx+r]x[cy-r, cy] ∪ [cx-r, cx]x[cy, cy+r]."""
    return [
        (cx - r, cy - r), (cx + r, cy - r), (cx + r, cy),
        (cx, cy), (cx, cy + r), (cx - r, cy + r),
    ]


def vertex_center(x, y):
    """Snap a polygon anchor to x ≡ 1, y ≡ 2 (mod 4)."""
    return lattice(x, 4, 1), lattice(y, 4, 2)


def half_size(rng, n, lo_exp: float, hi_exp: float) -> np.ndarray:
    """Log-uniform half-sizes in µdeg, multiples of 8 (so h/2 is a
    multiple of 4 and octagon vertices keep their residues)."""
    return np.maximum(lattice(10 ** rng.uniform(lo_exp, hi_exp, n), 8), 8)


def log_half_size(u: float, lo_exp: float, hi_exp: float) -> int:
    """The half-size at quantile ``u`` of the log-uniform range of
    ``half_size``, a multiple of 8 like it."""
    return max(int(lattice(10 ** (lo_exp + u * (hi_exp - lo_exp)), 8)), 8)


def lshapes_table(rng, hs: Hotspots, n: int, start_id: int, hot_frac: float,
                  lo_exp: float, hi_exp: float) -> pa.Table:
    x, y = hs.sample(rng, n, hot_frac)
    cx, cy = vertex_center(x, y)
    r = half_size(rng, n, lo_exp, hi_exp)
    geoms = [wkb_polygon(lshape(int(a), int(b), int(c))) for a, b, c in zip(cx, cy, r)]
    return pa.table(
        {
            "s_id": pa.array(np.arange(start_id, start_id + n, dtype=np.int64)),
            "cx": pa.array(cx), "cy": pa.array(cy), "r": pa.array(r),
            "geom": pa.array(geoms, type=pa.binary()),
        }
    )


def lines_table(rng, hs: Hotspots, n: int, hot_frac: float, lo_exp: float,
                hi_exp: float) -> pa.Table:
    """Staircase polylines (east d1, north d2, east d3) on the point lattice."""
    x, y = hs.sample(rng, n, hot_frac)
    x0, y0 = lattice(x), lattice(y)
    d = [lattice(10 ** rng.uniform(lo_exp, hi_exp, n)) + 4 for _ in range(3)]
    geoms = [
        wkb_line([(a, b), (a + p, b), (a + p, b + q), (a + p + s, b + q)])
        for a, b, p, q, s in zip(x0, y0, *d)
    ]
    return pa.table(
        {
            "l_id": pa.array(np.arange(n, dtype=np.int64)),
            "x0": pa.array(x0), "y0": pa.array(y0),
            "d1": pa.array(d[0]), "d2": pa.array(d[1]), "d3": pa.array(d[2]),
            "geom": pa.array(geoms, type=pa.binary()),
        }
    )


def boxes_table(rng, hs: Hotspots, n: int, hot_frac: float, lo_exp: float,
                hi_exp: float) -> pa.Table:
    x, y = hs.sample(rng, n, hot_frac)
    cx, cy = lattice(x, 4, 2), lattice(y, 4, 2)
    hx = half_size(rng, n, lo_exp, hi_exp)
    hy = half_size(rng, n, lo_exp, hi_exp)
    return pa.table(
        {
            "box_id": pa.array(np.arange(n, dtype=np.int64)),
            "x_lo": pa.array(cx - hx), "y_lo": pa.array(cy - hy),
            "x_hi": pa.array(cx + hx), "y_hi": pa.array(cy + hy),
        }
    )


RAW_MAGIC = b"RAW1"


def images_table(rng, hs: Hotspots, n: int, size: int) -> pa.Table:
    """Geo-located grayscale images in the engine's documented RAW1
    container (magic, then h, w, c as little-endian u32, then pixels)."""
    x, y = hs.sample(rng, n, 0.5)
    rows = []
    for i in range(n):
        yy, xx = np.mgrid[0:size, 0:size]
        px = ((xx + yy) * 4 + rng.integers(0, 64, (size, size))) % 256
        # a no-data (0) corner so overlapping images actually merge
        px[: size // 4, : size // 4] = 0
        rows.append(RAW_MAGIC + struct.pack("<III", size, size, 1) + px.astype(np.uint8).tobytes())
    return pa.table(
        {
            "image_id": pa.array([f"img{i:09d}" for i in range(n)]),
            "bytes": pa.array(rows, type=pa.binary()),
            "w": pa.array(np.full(n, size, dtype=np.int32)),
            "h": pa.array(np.full(n, size, dtype=np.int32)),
            "fmt": pa.array(["raw"] * n),
            "x_u": pa.array(lattice(x)),
            "y_u": pa.array(lattice(y)),
        }
    )
