"""Incremental materialization: only changed tiles re-encode; the
latest-wins read always equals a full recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.delta import delta_materialize
from cov_tiles_spark.pipeline.lineage import IcebergLite
from cov_tiles_spark.pipeline.materialize import assign_tiles, encode_assigned

ZOOMS = [2, 3]
COLS = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]


@pytest.fixture()
def lake(spark, tmp_path):
    return IcebergLite(spark, str(tmp_path / "lake"))


def _corpus(spark, mutate: bool = False, extra: bool = False):
    rows = []
    for i in range(200):
        lon = -170.0 + (i * 37 % 340)
        lat = -75.0 + (i * 53 % 150)
        cap = "edited" if (mutate and i == 7) else f"cap{i}"
        rows.append((f"img{i:05d}", cap, "raw", 8, 8, i * 31 + 7, lon, lat))
    if extra:
        rows.append(("imgX0001", "new", "raw", 8, 8, 99, 12.3, 45.6))
    return spark.createDataFrame(
        rows,
        "image_id string, caption string, fmt string, w int, h int, "
        "phash long, lon double, lat double",
    )


def _full(spark, corpus):
    return {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in encode_assigned(
            assign_tiles(corpus.select(*COLS), ZOOMS),
            with_mvt_baseline=False,
        ).collect()
    }


def _latest(lake):
    return {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table("tiles", latest_only=True).collect()
    }


def test_delta_runs(spark, lake):
    v1 = _corpus(spark)
    s1 = delta_materialize(lake, v1, ZOOMS)
    assert s1["changed"] == s1["total"] > 0 and s1["unchanged"] == 0
    assert _latest(lake) == _full(spark, v1)

    # identical input: nothing re-encodes
    s2 = delta_materialize(lake, v1, ZOOMS)
    assert s2["changed"] == 0 and s2["unchanged"] == s1["total"]

    # one record's caption edited + one new record in a fresh area:
    # only the touched tiles (per zoom) re-encode
    v2 = _corpus(spark, mutate=True, extra=True)
    s3 = delta_materialize(lake, v2, ZOOMS)
    assert 0 < s3["changed"] <= 2 * len(ZOOMS)
    assert s3["total"] >= s1["total"]
    # and the latest-wins view equals a from-scratch recompute of v2
    assert _latest(lake) == _full(spark, v2)

    # time travel still shows the v1 payloads before the second commit
    import pyspark.sql.functions as F  # noqa: F811

    snaps = lake.snapshots("tiles").collect()
    t_v1 = snaps[0].committed_at_ns
    old = {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table(
            "tiles", as_of_ns=t_v1, latest_only=True
        ).collect()
    }
    assert old == _full(spark, v1)


def _corpus_rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "image_id string, caption string, fmt string, w int, h int, "
        "phash long, lon double, lat double",
    )


@pytest.mark.parametrize("buckets", [None, 16])
def test_delta_removes_vanished_tiles(spark, lake, buckets):
    """A tile whose input rows all disappear must drop out of the
    latest-wins view (per-tile: tombstone snapshot; bucketed: bucket
    rewrite / bucket tombstone), and time travel keeps the old payload."""
    v1 = _corpus(spark)
    delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)
    t_v1 = lake.snapshots("tiles").collect()[0].committed_at_ns

    # keep only a lone record in one corner of the world: every other
    # tile's inputs vanish entirely
    v2 = _corpus_rows(
        spark, [("img00000", "cap0", "raw", 8, 8, 7, -170.0, -75.0)]
    )
    s2 = delta_materialize(lake, v2, ZOOMS, partition_buckets=buckets)
    assert s2["removed"] > 0
    assert _latest(lake) == _full(spark, v2)
    # time travel before the deletion still shows v1
    old = {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table(
            "tiles", as_of_ns=t_v1, latest_only=True
        ).collect()
    }
    assert old == _full(spark, v1)

    # resurrection: the same corpus returns — inputs were tombstoned,
    # so the tiles read as NEW and re-encode (not wrongly "unchanged")
    s3 = delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)
    assert s3["removed"] == 0
    assert _latest(lake) == _full(spark, v1)


@pytest.mark.parametrize("buckets", [None, 16])
def test_delta_detects_even_duplicate_edit(spark, lake, buckets):
    """Adding an EVEN number of identical rows bit_xor-cancels to the
    same input checksum; the n_rows comparison must still flag the
    tile as changed."""
    v1 = _corpus(spark)
    delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)

    dup = _corpus_rows(
        spark,
        [("img00000", "cap0", "raw", 8, 8, 7, -170.0, -75.0)] * 2,
    )
    v2 = v1.union(dup)
    s2 = delta_materialize(lake, v2, ZOOMS, partition_buckets=buckets)
    assert s2["changed"] > 0
    assert _latest(lake) == _full(spark, v2)


def test_delta_bucketed(spark, lake):
    """Bucket-granularity overwrite: fewer partitions, whole changed
    buckets re-encode, latest-wins view still equals full recompute."""
    v1 = _corpus(spark)
    s1 = delta_materialize(lake, v1, ZOOMS, partition_buckets=16)
    assert s1["changed"] == s1["total"]
    assert _latest(lake) == _full(spark, v1)

    s2 = delta_materialize(lake, v1, ZOOMS, partition_buckets=16)
    assert s2["changed"] == 0

    v2 = _corpus(spark, mutate=True, extra=True)
    s3 = delta_materialize(lake, v2, ZOOMS, partition_buckets=16)
    # widened to whole buckets, but still far below a full rebuild
    assert 0 < s3["changed"] < s3["total"] // 2
    assert _latest(lake) == _full(spark, v2)


def _input_rows(corpus) -> dict:
    """tile key -> sorted input rows, recomputed in pandas from the
    assignment (a multiset compare, independent of the checksum)."""
    a = assign_tiles(corpus.select(*COLS), ZOOMS).toPandas()
    keys = a.z.astype(str) + "_" + a.x.astype(str) + "_" + a.y.astype(str)
    return {
        k: sorted(g.itertuples(index=False, name=None))
        for k, g in a.groupby(keys)
    }


def _expected_stats(spark, old: dict, new: dict, buckets) -> tuple[dict, int]:
    """delta_materialize's stats for moving a lake from ``old`` to
    ``new`` input rows, plus the number of buckets left with no tile."""
    diff = {k for k in new if old.get(k) != new[k]}
    gone = old.keys() - new.keys()
    n_empty = 0
    if buckets is not None:
        bucket = {
            r.k: r.b
            for r in spark.createDataFrame(
                [(k,) for k in old.keys() | new.keys()], "k string"
            ).select("k", F.pmod(F.xxhash64("k"), F.lit(buckets)).alias("b"))
            .collect()
        }
        touched = {bucket[k] for k in diff | gone}
        n_empty = len(touched - {bucket[k] for k in new})
        diff = {k for k in new if bucket[k] in touched}
    stats = {
        "changed": len(diff),
        "unchanged": len(new) - len(diff),
        "removed": len(gone),
        "total": len(new),
    }
    return stats, n_empty


@pytest.mark.parametrize("buckets", [None, 64])
def test_delta_stats_exact(spark, lake, buckets):
    """The returned counts equal a pandas recomputation from the two
    corpora, on a change set that edits, adds and removes tiles — and,
    at 64 buckets, empties whole buckets (the bucket-tombstone branch)."""
    v1 = _corpus(spark)
    v2 = _corpus(spark, mutate=True).filter(F.col("lat") > -60).union(
        _corpus_rows(spark, [("imgX0002", "new", "raw", 8, 8, 5, 170.0, 80.0)])
    )
    old, new = _input_rows(v1), _input_rows(v2)
    assert old.keys() - new.keys(), "some tiles must vanish"
    assert new.keys() - old.keys(), "some tiles must be new"
    assert any(old[k] != new[k] for k in old.keys() & new.keys())

    s1 = delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)
    assert s1 == _expected_stats(spark, {}, old, buckets)[0]

    s2 = delta_materialize(lake, v2, ZOOMS, partition_buckets=buckets)
    want, n_empty = _expected_stats(spark, old, new, buckets)
    if buckets is not None:
        assert n_empty > 0, "a bucket must lose all its tiles"
    assert s2 == want
    assert _latest(lake) == _full(spark, v2)


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_delta_releases_caches(spark, lake, monkeypatch):
    """Every frame delta_materialize persists is released on return —
    also when a commit raises midway. (Compared with the caches held
    before the call, which are none when this module runs alone: other
    tests share the session.)"""
    before = _persisted(spark)
    delta_materialize(lake, _corpus(spark), ZOOMS, partition_buckets=16)
    assert _persisted(spark) == before

    def boom(*args, **kwargs):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(lake, "commit_partitions", boom)
    with pytest.raises(RuntimeError, match="commit failed"):
        delta_materialize(
            lake, _corpus(spark, mutate=True, extra=True), ZOOMS,
            partition_buckets=16,
        )
    assert _persisted(spark) == before
