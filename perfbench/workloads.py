"""The workloads: set-up, one timed operation, and its output check.

Each op runs its layer calls inside tracer spans; the check runs after
the op, outside its timed region, against ``oracle`` expectations built
from the generated inputs.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import oracle

ZOOMS = [2, 6, 10, 14]
CAP = 20_000  # materialize_tiles' default per-tile feature cap, passed explicitly


def _decoded_rows(tiles: pd.DataFrame) -> pd.DataFrame:
    """Decode every payload on the driver into oracle-shaped rows."""
    from cov_tiles_spark.covt.decoder import decode_covt

    parts = []
    for z, x, y, payload in tiles[["z", "x", "y", "payload"]].itertuples(index=False):
        lay = decode_covt(bytes(payload))["images"]
        vb = lay.geometry.vertex_buffer
        p = lay.properties
        parts.append(pd.DataFrame({
            "z": z, "x": x, "y": y, "id": lay.ids.astype(np.int64),
            "lx": vb[0::2].astype(np.int64), "ly": vb[1::2].astype(np.int64),
            "caption": np.asarray(p["caption"].dictionary, dtype=object)[p["caption"].data],
            "fmt": np.asarray(p["fmt"].dictionary, dtype=object)[p["fmt"].data],
            "w": p["w"].data.astype(np.int64), "h": p["h"].data.astype(np.int64),
            "phash": p["phash"].data.astype(np.int64),
        }))
    return pd.concat(parts, ignore_index=True)


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


class TileBuild:
    """materialize_tiles over z2..z14 -> global orderBy -> parquet sink."""

    name = "tile-build"
    kinds = ("build",)
    warm_ops = 0  # a build job pays its first op cold; so does this one
    n_points = 600

    def __init__(self, ctx):
        self.ctx = ctx

    def make_inputs(self):
        self.pts = gen.points(self.ctx.seed, self.n_points)
        self.images = self.ctx.spark.createDataFrame(self.pts)

    def build_state(self):
        pass

    def prepare(self, i: int):
        return None

    def expect(self):
        self.rows = oracle.tile_rows(self.pts, ZOOMS, CAP)
        self.counts = oracle.tile_counts(self.rows)
        self.digest = oracle.feature_digest(self.rows)

    def stated_size(self) -> dict:
        per_zoom = self.counts.groupby("z")["n"].agg(["size", "sum"])
        return {"points": self.n_points, "zooms": ZOOMS, "cap": CAP,
                "tiles_per_zoom": {int(z): int(r["size"]) for z, r in per_zoom.iterrows()},
                "features_per_zoom": {int(z): int(r["sum"]) for z, r in per_zoom.iterrows()}}

    def op(self, i: int, tracer, _):
        from cov_tiles_spark.pipeline.materialize import materialize_tiles

        out = os.path.join(self.ctx.work, f"build_op{i}")
        with tracer.span("build"):
            (materialize_tiles(self.images, ZOOMS, max_features_per_tile=CAP,
                               with_mvt_baseline=True)
             .orderBy("z", "x", "y")
             .write.parquet(out))
        return out

    def check(self, i: int, out: str) -> tuple[bool, dict]:
        files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        tiles = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
        keys = tiles[["z", "x", "y"]].to_numpy(np.int64)
        ordered = bool((np.diff(keys[:, 0] * (1 << 40) + keys[:, 1] * (1 << 20) + keys[:, 2])
                        > 0).all())
        got = tiles[["z", "x", "y", "num_features"]].sort_values(["z", "x", "y"],
                                                               ignore_index=True)
        counts_ok = (len(got) == len(self.counts)
                     and (got.to_numpy() == self.counts.to_numpy()).all())
        sizes_ok = bool((tiles["payload_bytes"] == tiles["payload"].map(len)).all()
                        and (tiles["mvt_bytes"] > 0).all())
        digest_ok = oracle.feature_digest(_decoded_rows(tiles)) == self.digest
        info = {"tiles": len(tiles), "payload_bytes": int(tiles["payload_bytes"].sum()),
                "mvt_bytes": int(tiles["mvt_bytes"].sum()),
                "features": int(tiles["num_features"].sum())}
        self.last_tiles = tiles
        shutil.rmtree(out, ignore_errors=True)
        return ordered and counts_ok and sizes_ok and digest_ok, info



class SpatialJoin:
    """pip_join_broadcast against holed tile squares + knn_exact; no
    tile encode or decode runs here."""

    name = "spatial-join"
    kinds = ("pip", "knn")
    # untimed ops in set-up: the first op after session start runs ~2x
    # slower (JIT, worker imports of the join code) and the next two still
    # speed up; timed from there, the median no longer depends on how many
    # ops fit in a run
    warm_ops = 3
    n_points = 4000
    n_queries = 100
    k = 10
    pip_zoom = 9

    def __init__(self, ctx):
        self.ctx = ctx

    def make_inputs(self):
        spark = self.ctx.spark
        self.pts = gen.points(self.ctx.seed, self.n_points)
        self.qs = gen.queries(self.ctx.seed, self.n_queries)
        self.images = spark.createDataFrame(self.pts[["image_id", "lon", "lat"]])
        self.queries = spark.createDataFrame(self.qs)

    def build_state(self):
        """The boundary table is an input on disk, written once."""
        from cov_tiles_spark.io.synth import tile_boundaries_df
        from cov_tiles_spark.pipeline.materialize import assign_tiles

        self.bnd_path = os.path.join(self.ctx.work, "boundaries")
        tile_boundaries_df(self.ctx.spark, assign_tiles(self.images, [self.pip_zoom])) \
            .write.mode("overwrite").parquet(self.bnd_path)

    def expect(self):
        self.pip_digest = oracle.pip_expected(self.pts, self.pip_zoom)

    def stated_size(self) -> dict:
        return {"points": self.n_points, "pip_zoom": self.pip_zoom,
                "queries": self.n_queries, "k": self.k}

    def prepare(self, i: int):
        return None

    def op(self, i: int, tracer, _):
        from cov_tiles_spark.pipeline.materialize import assign_tiles
        from cov_tiles_spark.spatial.knn import knn_exact
        from cov_tiles_spark.spatial.pip import pip_join_broadcast

        spark = self.ctx.spark
        with tracer.span("pip"):
            pts = assign_tiles(self.images, [self.pip_zoom])
            pip = pip_join_broadcast(pts, spark.read.parquet(self.bnd_path))
            digest = pip.agg(*oracle.pip_digest_cols()).collect()[0].asDict()
        with tracer.span("knn"):
            knn = knn_exact(self.images, self.queries, k=self.k).toPandas()
        return digest, knn

    def check(self, i: int, out) -> tuple[bool, dict]:
        digest, knn = out
        pip_ok = {k: int(v) for k, v in digest.items()} == self.pip_digest
        bad = oracle.knn_mismatches(self.pts, self.qs, self.k, knn)
        return pip_ok and bad == 0, {"knn_rows": len(knn), "knn_bad_queries": bad}



class TileUpdate:
    """delta_materialize of a regional change set into a copy of a base
    IcebergLite lake, then decode of the latest view."""

    name = "tile-update"
    kinds = ("delta", "read")
    warm_ops = 0  # building the base lake already runs the delta code paths
    n_points = 400
    change_frac = 0.03
    buckets = 32

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.work, "lake_base")

    def make_inputs(self):
        self.pts = gen.points(self.ctx.seed, self.n_points)
        self.images = self.ctx.spark.createDataFrame(self.pts)

    def build_state(self):
        from cov_tiles_spark.pipeline.delta import delta_materialize
        from cov_tiles_spark.pipeline.lineage import IcebergLite

        shutil.rmtree(self.base, ignore_errors=True)
        delta_materialize(IcebergLite(self.ctx.spark, self.base), self.images, ZOOMS,
                          max_features_per_tile=CAP, partition_buckets=self.buckets)

    def expect(self):
        self.base_tiles = len(oracle.tile_counts(oracle.tile_rows(self.pts, ZOOMS, CAP)))

    def stated_size(self) -> dict:
        return {"points": self.n_points, "zooms": ZOOMS, "base_tiles": self.base_tiles,
                "changed_points_per_op": max(1, round(self.change_frac * self.n_points)),
                "partition_buckets": self.buckets}

    def prepare(self, i: int):
        """Untimed: a fresh copy of the base lake and op i's change set."""
        from cov_tiles_spark.pipeline.lineage import IcebergLite

        lake_dir = os.path.join(self.ctx.work, f"lake_op{i}")
        shutil.copytree(self.base, lake_dir)
        self.changed = gen.change_set(self.pts, self.ctx.seed, i, self.change_frac)
        self.changed_df = self.ctx.spark.createDataFrame(self.changed)
        self.files_before = _count_files(lake_dir)
        return IcebergLite(self.ctx.spark, lake_dir)

    def op(self, i: int, tracer, lake):
        from cov_tiles_spark.pipeline.delta import delta_materialize
        from cov_tiles_spark.pipeline.materialize import decode_tiles

        with tracer.span("delta"):
            stats = delta_materialize(lake, self.changed_df, ZOOMS,
                                      max_features_per_tile=CAP,
                                      partition_buckets=self.buckets)
        with tracer.span("read"):
            view = lake.read_table("tiles", latest_only=True)
            digest = decode_tiles(view).agg(*oracle.feature_digest_cols()).collect()[0]
        return lake, stats, digest.asDict()

    def check(self, i: int, out) -> tuple[bool, dict]:
        lake, stats, digest = out
        rows = oracle.tile_rows(self.changed, ZOOMS, CAP)
        n_tiles = len(oracle.tile_counts(rows))
        ok = ({k: int(v) for k, v in digest.items()} == oracle.feature_digest(rows)
              and stats["total"] == n_tiles
              and stats["changed"] + stats["unchanged"] == n_tiles
              and stats["changed"] > 0)
        info = {"stats": stats, "tiles": n_tiles,
                "files_written": _count_files(lake.root) - self.files_before}
        if self.ctx.trace:  # the kernel harness samples the latest view
            self.rows = rows
            self.last_tiles = lake.read_table("tiles", latest_only=True).select(
                "z", "x", "y", "num_features", "payload", "payload_bytes").toPandas()
        shutil.rmtree(lake.root, ignore_errors=True)
        return ok, info



WORKLOADS = {w.name: w for w in (TileBuild, SpatialJoin, TileUpdate)}
