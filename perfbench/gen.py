"""Seeded input generators for every workload.

Everything here is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical inputs. Points mix five Gaussian hot spots (the
centres and widths of the hot spots in ``cov_tiles_spark/io/synth.py``)
with a uniform tail, so low zooms get a few hot tiles and high zooms a
long tail of 1-3-feature tiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

HOT_SPOTS = np.array([  # (lon, lat, sigma_deg)
    (-74.0, 40.7, 0.5),
    (2.35, 48.85, 0.4),
    (139.7, 35.7, 0.5),
    (-46.6, -23.5, 0.6),
    (77.2, 28.6, 0.5),
])
HOT_SHARE = 0.6

_ADJECTIVES = np.array(["quiet", "vivid", "rainy", "golden", "späte", "misty",
                        "šumivá", "neon", "windy", "ancient"], dtype=object)
_NOUNS = np.array(["harbor", "market", "straße", "bridge", "café", "forest",
                   "plaza", "河流", "lighthouse"], dtype=object)
_FMTS = np.array(["raw", "rle", "dct40"], dtype=object)

# stream ids keep the draws of different inputs independent of each other
_POINTS, _QUERIES, _CHANGES = 1, 2, 3


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


def _positions(rng: np.random.Generator, n: int, hot_share: float):
    # an exact hot/uniform split: a drawn split would make the sparse
    # share, and with it the kNN fallback work, vary from seed to seed
    hot = rng.permutation(n) < round(hot_share * n)
    pick = rng.integers(0, len(HOT_SPOTS), n)
    g = rng.standard_normal((n, 2))
    lon = np.where(hot, HOT_SPOTS[pick, 0] + HOT_SPOTS[pick, 2] * g[:, 0],
                   rng.uniform(-180.0, 180.0, n))
    lat = np.where(hot, HOT_SPOTS[pick, 1] + HOT_SPOTS[pick, 2] * g[:, 1],
                   rng.uniform(-85.0, 85.0, n))
    return np.clip(lon, -179.999, 179.999), np.clip(lat, -85.0, 85.0)


def points(seed: int, n: int) -> pd.DataFrame:
    """``n`` image records with the columns ``materialize_tiles`` reads.

    Ids are distinct but not dense or ordered, so the encoder's id sort
    and delta coding see realistic input."""
    rng = _rng(seed, _POINTS)
    ids = np.sort(rng.choice(50 * n, size=n, replace=False)).astype(np.int64)
    ids = ids[rng.permutation(n)]
    lon, lat = _positions(rng, n, HOT_SHARE)
    return pd.DataFrame({
        "image_id": ids,
        "caption": _captions(rng, n),
        "fmt": _FMTS[rng.integers(0, 3, n)],
        "w": rng.choice([16, 32, 64], n).astype(np.int32),
        "h": rng.choice([16, 32, 48], n).astype(np.int32),
        "phash": rng.integers(-(1 << 62), 1 << 62, n, dtype=np.int64),
        "lon": lon,
        "lat": lat,
    })


def _captions(rng: np.random.Generator, n: int) -> np.ndarray:
    a = _ADJECTIVES[rng.integers(0, len(_ADJECTIVES), n)]
    b = _NOUNS[rng.integers(0, len(_NOUNS), n)]
    return np.array([f"{x} {y}" for x, y in zip(a, b)], dtype=object)


def queries(seed: int, n: int) -> pd.DataFrame:
    """kNN query points: half near the hot spots, half uniform (the
    uniform half lands in sparse cells and drives the exactness
    fallback)."""
    rng = _rng(seed, _QUERIES)
    lon, lat = _positions(rng, n, 0.5)
    return pd.DataFrame({
        "query_id": np.arange(n, dtype=np.int64),
        "lon": lon,
        "lat": lat,
    })


def change_set(base: pd.DataFrame, seed: int, op: int, frac: float) -> pd.DataFrame:
    """A copy of ``base`` with ``round(frac * len(base))`` points edited,
    all of them the points nearest hot spot ``op mod 5``: each gets a new
    caption and moves by up to 0.05 degrees. Every op edits the same
    number of points; the seed picks the edits."""
    rng = _rng(seed, _CHANGES, op)
    m = max(1, round(frac * len(base)))
    lon0, lat0 = HOT_SPOTS[op % len(HOT_SPOTS), :2]
    d2 = (base["lon"].to_numpy() - lon0) ** 2 + (base["lat"].to_numpy() - lat0) ** 2
    rows = np.argsort(d2, kind="stable")[:m]
    out = base.copy()
    out.loc[rows, "caption"] = _captions(rng, m)
    out.loc[rows, "lon"] = np.clip(out.loc[rows, "lon"] + rng.uniform(-0.05, 0.05, m),
                                   -179.999, 179.999)
    out.loc[rows, "lat"] = np.clip(out.loc[rows, "lat"] + rng.uniform(-0.05, 0.05, m),
                                   -85.0, 85.0)
    return out
