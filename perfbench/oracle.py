"""Expected outputs, computed from the generated inputs alone.

Nothing here calls the package: tile math, Spark's ``xxhash64`` (for the
per-tile cap order and the boundary-hole rule) and great-circle distance
are re-derived in numpy, so a check compares the program against an
independent model of what it should produce.

Outputs that stay on the cluster are compared through a *digest*: a few
modular sums over every output row, computed by Spark at the sink and by
numpy here. A wrong tile, coordinate, property or flag on any row changes
a sum.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EXTENT = 4096
P = (1 << 31) - 1  # digest modulus (prime)

# ---------- web-mercator tiles ----------


def tile_coords(lon: np.ndarray, lat: np.ndarray, z: int, extent: int = EXTENT):
    """(x, y, local_x, local_y) of each point at zoom ``z``."""
    n = float(1 << z)
    mx = (lon + 180.0) / 360.0
    my = 0.5 - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0)) / (2.0 * math.pi)
    x = np.clip(np.floor(mx * n), 0, (1 << z) - 1)
    y = np.clip(np.floor(my * n), 0, (1 << z) - 1)
    lx = np.floor((mx * n - x) * float(extent))
    ly = np.floor((my * n - y) * float(extent))
    return x.astype(np.int64), y.astype(np.int64), lx.astype(np.int64), ly.astype(np.int64)


# ---------- Spark's xxhash64 (XXH64, seed 42) ----------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(h: np.ndarray, r: int) -> np.ndarray:
    return (h << np.uint64(r)) | (h >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h = h ^ ((v.astype(np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v.astype(np.int64).astype(np.uint64) * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def xxhash64(*cols: tuple[str, np.ndarray]) -> np.ndarray:
    """``F.xxhash64(c1, c2, ...)`` over ("int"|"long", values) columns,
    as signed int64."""
    n = len(cols[0][1])
    h = np.full(n, 42, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for kind, v in cols:
            h = _hash_int(v, h) if kind == "int" else _hash_long(v, h)
    return h.view(np.int64)


# ---------- tile pyramid ----------


def tile_rows(pts: pd.DataFrame, zooms: list[int], cap: int) -> pd.DataFrame:
    """One row per (kept feature, zoom): the rows a decoded tileset must
    hold. Per tile, the ``cap`` rows first in (xxhash64(image_id, z),
    image_id) order are kept."""
    ids = pts["image_id"].to_numpy(np.int64)
    parts = []
    for z in zooms:
        x, y, lx, ly = tile_coords(pts["lon"].to_numpy(), pts["lat"].to_numpy(), z)
        parts.append(pd.DataFrame({
            "z": z, "x": x, "y": y, "id": ids, "lx": lx, "ly": ly,
            "sk": xxhash64(("long", ids), ("int", np.full(len(ids), z))),
        }))
    rows = pd.concat(parts, ignore_index=True)
    rows = rows.sort_values(["z", "x", "y", "sk", "id"], ignore_index=True)
    rows = rows[rows.groupby(["z", "x", "y"]).cumcount().to_numpy() < cap]
    props = pts.set_index("image_id")[["caption", "fmt", "w", "h", "phash"]]
    return rows.drop(columns="sk").join(props, on="id").reset_index(drop=True)


def tile_counts(rows: pd.DataFrame) -> pd.DataFrame:
    """(z, x, y, n) per expected tile, sorted."""
    return rows.groupby(["z", "x", "y"]).size().rename("n").reset_index()


# ---------- digests (Spark expression + numpy twin) ----------


def _mix(*terms) -> Column:
    return F.pmod(sum(terms[1:], terms[0]), F.lit(P))


def feature_digest_cols() -> list[Column]:
    """Aggregates over decoded feature rows (``decode_tiles`` schema)."""
    fid = F.col("feature_id")
    return [
        F.count("*").alias("n"),
        F.sum(_mix(fid * 1000003, F.col("z") * 7919, F.col("x") * 131, F.col("y"))).alias("tile"),
        F.sum(_mix(fid * 999983, F.col("local_x") * 4099, F.col("local_y"))).alias("xy"),
        F.sum(_mix(fid * 1000033, F.col("w") * 257, F.col("h"))).alias("wh"),
        F.sum(_mix(fid * 3, F.col("phash"))).alias("phash"),
        F.sum(_mix(fid * 1000037, F.crc32(F.col("caption")) * 7,
                   F.crc32(F.col("fmt")))).alias("text"),
    ]


def _crc(values: np.ndarray) -> np.ndarray:
    import zlib

    uniq, inv = np.unique(values.astype(str), return_inverse=True)
    table = np.array([zlib.crc32(u.encode("utf-8")) for u in uniq], dtype=np.int64)
    return table[inv]


def feature_digest(rows: pd.DataFrame) -> dict[str, int]:
    fid = rows["id"].to_numpy(np.int64)

    def s(v):
        return int(np.mod(v, P).sum())

    return {
        "n": len(rows),
        "tile": s(fid * 1000003 + rows["z"].to_numpy(np.int64) * 7919
                  + rows["x"].to_numpy(np.int64) * 131 + rows["y"].to_numpy(np.int64)),
        "xy": s(fid * 999983 + rows["lx"].to_numpy(np.int64) * 4099
                + rows["ly"].to_numpy(np.int64)),
        "wh": s(fid * 1000033 + rows["w"].to_numpy(np.int64) * 257
                + rows["h"].to_numpy(np.int64)),
        "phash": s(fid * 3 + rows["phash"].to_numpy(np.int64)),
        "text": s(fid * 1000037 + _crc(rows["caption"].to_numpy()) * 7
                  + _crc(rows["fmt"].to_numpy())),
    }


def pip_digest_cols() -> list[Column]:
    pid = F.col("image_id")
    inside = F.col("inside").cast("long")
    return [
        F.count("*").alias("n"),
        F.sum(inside).alias("inside"),
        F.sum(_mix(pid * 1000003, F.col("z") * 7919, F.col("x") * 131, F.col("y"))).alias("tile"),
        F.sum(_mix(pid * 999983, F.col("local_x") * 4099, F.col("local_y") * 2, inside)).alias("flag"),
    ]


def pip_expected(pts: pd.DataFrame, z: int) -> dict[str, int]:
    """Even-odd rule against ``tile_boundaries_df``: every point lies in
    its own tile's square; a tile with ``pmod(xxhash64(z, x, y), 20) ==
    0`` has a hole over [7/16, 9/16) of the extent on both axes."""
    ids = pts["image_id"].to_numpy(np.int64)
    x, y, lx, ly = tile_coords(pts["lon"].to_numpy(), pts["lat"].to_numpy(), z)
    zz = np.full(len(ids), z, dtype=np.int64)
    hole = xxhash64(("int", zz), ("int", x), ("int", y)) % 20 == 0
    lo, hi = EXTENT * 7 // 16, EXTENT * 9 // 16
    in_hole = hole & (lx >= lo) & (lx < hi) & (ly >= lo) & (ly < hi)
    inside = (~in_hole).astype(np.int64)
    return {
        "n": len(ids),
        "inside": int(inside.sum()),
        "tile": int(np.mod(ids * 1000003 + zz * 7919 + x * 131 + y, P).sum()),
        "flag": int(np.mod(ids * 999983 + lx * 4099 + ly * 2 + inside, P).sum()),
    }


# ---------- kNN ----------

EARTH_RADIUS_M = 6_371_008.8


def haversine_m(lon1, lat1, lon2, lat2):
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = (np.sin(dlat / 2) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def knn_mismatches(pts: pd.DataFrame, qs: pd.DataFrame, k: int, got: pd.DataFrame) -> int:
    """Queries whose returned neighbours differ from a brute-force top-k
    by (distance, id). A returned id counts as right at rank r when its
    true distance equals the r-th true distance to within 1 mm (ties)."""
    plon = pts["lon"].to_numpy()
    plat = pts["lat"].to_numpy()
    pid = pts["image_id"].to_numpy(np.int64)
    by_q = {q: g.sort_values("rank") for q, g in got.groupby("query_id")}
    bad = 0
    for q, qlon, qlat in qs[["query_id", "lon", "lat"]].itertuples(index=False):
        d = haversine_m(qlon, qlat, plon, plat)
        order = np.lexsort((pid, d))[:k]
        g = by_q.get(q)
        if g is None or len(g) != k or g["point_id"].nunique() != k:
            bad += 1
            continue
        true_d = dict(zip(pid.tolist(), d.tolist()))
        got_d = np.array([true_d.get(p, np.inf) for p in g["point_id"].tolist()])
        if (np.abs(got_d - d[order]) > 1e-3).any():
            bad += 1
    return bad
