"""Single-thread kernel timings with no Spark: the ``covt`` codec on a
seeded sample of the workload's own tiles, and the point-in-polygon
kernel. Set against the Arrow-stage times in the event log, they split
numpy work from the cost of the Python/Arrow boundary."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from cov_tiles_spark.covt.decoder import GeometryColumn, decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.covt.mvt import mvt_point_layer_size
from cov_tiles_spark.spatial.pip import point_in_rings_np

SAMPLE_TILES = 1000


def _layer(g: pd.DataFrame) -> tuple[LayerInput, dict]:
    """The encoder input for one tile's rows (ids ascending), built the
    way the tile pipeline builds it; plus the MVT sizing arguments."""
    g = g.sort_values("id", kind="stable")
    n = len(g)
    vb = np.empty(2 * n, dtype=np.int32)
    vb[0::2] = g["lx"].to_numpy()
    vb[1::2] = g["ly"].to_numpy()
    ids = g["id"].to_numpy(np.int64)
    cols = {
        "caption": g["caption"].to_numpy(dtype=object),
        "fmt": g["fmt"].to_numpy(dtype=object),
        "w": g["w"].to_numpy(np.int64),
        "h": g["h"].to_numpy(np.int64),
        "phash": g["phash"].to_numpy(np.int64),
    }
    types = {"caption": ColumnDataType.STRING, "fmt": ColumnDataType.STRING,
             "w": ColumnDataType.UINT_64, "h": ColumnDataType.UINT_64,
             "phash": ColumnDataType.INT_64}
    layer = LayerInput(
        name="images",
        geometry=GeometryColumn(np.full(n, GeometryType.POINT, np.uint8), vb),
        ids=ids,
        properties={k: PropertyInput(types[k], v) for k, v in cols.items()},
    )
    mvt_args = ("images", ids, vb[0::2].astype(np.int64), vb[1::2].astype(np.int64), cols)
    return layer, mvt_args


def _us(fn, *args) -> float:
    t = time.perf_counter_ns()
    fn(*args)
    return (time.perf_counter_ns() - t) / 1e3


def covt_metrics(rows: pd.DataFrame, tiles: pd.DataFrame, seed: int) -> dict:
    """``rows``: expected feature rows (``oracle.tile_rows``); ``tiles``:
    the workload's output (z, x, y, num_features, payload). Returns
    per-tile µs samples and totals for a seeded sample of tiles."""
    rng = np.random.default_rng([seed, 99])
    pick = tiles.iloc[np.sort(rng.choice(len(tiles), min(SAMPLE_TILES, len(tiles)),
                                         replace=False))]
    by_tile = rows.groupby(["z", "x", "y"])
    enc, mvt, dec, feats = [], [], [], []
    for z, x, y, n, payload in pick[["z", "x", "y", "num_features", "payload"]].itertuples(
            index=False):
        layer, mvt_args = _layer(by_tile.get_group((z, x, y)))
        enc.append(_us(encode_tile, [layer]))
        mvt.append(_us(mvt_point_layer_size, *mvt_args))
        dec.append(_us(decode_covt, bytes(payload)))
        feats.append(n)
    enc, mvt, dec, feats = map(np.asarray, (enc, mvt, dec, feats))
    return {
        "covt.encode_us_per_tile.p50": float(np.percentile(enc, 50)),
        "covt.encode_us_per_tile.p99": float(np.percentile(enc, 99)),
        "covt.encode_ns_per_feature": float(enc.sum() * 1e3 / feats.sum()),
        "covt.mvt_size_us_per_tile.p50": float(np.percentile(mvt, 50)),
        "covt.decode_us_per_tile.p50": float(np.percentile(dec, 50)),
        "covt.decode_us_per_tile.p99": float(np.percentile(dec, 99)),
        "covt.decode_ns_per_feature": float(dec.sum() * 1e3 / feats.sum()),
        # means over the uniform tile sample, to scale up to a whole op
        "_encode_us_mean": float(enc.mean()),
        "_mvt_us_mean": float(mvt.mean()),
    }


def pip_kernel_ns_per_point_edge(seed: int, extent: int = 4096) -> float:
    """``point_in_rings_np`` on a tile square with a hole (8 edges)."""
    rng = np.random.default_rng([seed, 98])
    n = 4096
    px = rng.integers(0, extent, n).astype(np.float64)
    py = rng.integers(0, extent, n).astype(np.float64)
    lo, hi = extent * 7 // 16, extent * 9 // 16
    vb = np.array([0, 0, extent, 0, extent, extent, 0, extent,
                   lo, lo, hi, lo, hi, hi, lo, hi], dtype=np.int64)
    rings = np.array([4, 4])
    samples = []
    for _ in range(21):
        t = time.perf_counter_ns()
        point_in_rings_np(px, py, rings, vb)
        samples.append(time.perf_counter_ns() - t)
    return float(np.median(samples)) / (n * 8)
