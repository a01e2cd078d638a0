"""Incremental-materialization economics at scale: first run vs
no-change re-run vs small-change run, into BENCH/BASELINE.md.

Usage: python scripts/delta_smoke.py [n_records] [buckets|tile]

The session comes from ``get_spark()``: ``SPARK_GRAFT_CPUS`` sets the
local core count and the shuffle width (e.g. ``SPARK_GRAFT_CPUS=4`` on
a 4-core machine).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cov_tiles_spark.session import get_spark  # noqa: E402
from cov_tiles_spark.io.synth import images_df  # noqa: E402
from cov_tiles_spark.pipeline.delta import delta_materialize  # noqa: E402
from cov_tiles_spark.pipeline.lineage import IcebergLite  # noqa: E402
from _sections import replace_section  # noqa: E402

ZOOMS = [2, 3, 4, 5, 6, 7, 8]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    spark = get_spark(app_name="delta-smoke")
    lake = IcebergLite(spark, tempfile.mkdtemp(prefix="delta_smoke_"))
    imgs = images_df(spark, n).persist()
    imgs.count()

    arg = sys.argv[2] if len(sys.argv) > 2 else "256"
    buckets = None if arg == "tile" else int(arg)
    t = time.time()
    s1 = delta_materialize(lake, imgs, ZOOMS, partition_buckets=buckets)
    t1 = time.time() - t
    assert s1["unchanged"] == 0

    t = time.time()
    s2 = delta_materialize(lake, imgs, ZOOMS, partition_buckets=buckets)
    t2 = time.time() - t
    assert s2["changed"] == 0, s2

    # mutate 0.1% of captions (deterministic subset) -> small change run
    mutated = imgs.withColumn(
        "caption",
        F.when(F.xxhash64("image_id") % 1000 == 0,
               F.concat(F.col("caption"), F.lit(" v2")))
        .otherwise(F.col("caption")),
    )
    t = time.time()
    s3 = delta_materialize(lake, mutated, ZOOMS, partition_buckets=buckets)
    t3 = time.time() - t
    assert 0 < s3["changed"] < s3["total"]

    lines = [
        "## Incremental-materialization economics (pipeline/delta.py)",
        "",
        f"N={n:,} records, z{ZOOMS[0]}-z{ZOOMS[-1]} "
        f"({s1['total']:,} tiles, {buckets} overwrite buckets), "
        f"{spark.sparkContext.master}; "
        "correctness of the incremental==full equivalence is gated "
        "(q_delta_tiles) and pytest-pinned — this table measures the "
        "ECONOMICS.",
        "",
        "| run | wall | tiles re-encoded |",
        "|---|---|---|",
        f"| first (everything new) | {t1:.1f}s | {s1['changed']:,} |",
        f"| identical input re-run | {t2:.1f}s | 0 |",
        f"| 0.1% of captions edited | {t3:.1f}s | {s3['changed']:,} "
        f"({s3['changed'] / s3['total'] * 100:.1f}% of tiles — bucket "
        "granularity widens the minimal set) |",
        "",
        f"A no-change re-run costs {t2 / t1 * 100:.0f}% of the first run "
        "(assignment + JVM checksum aggregation only — no Python encode, "
        "no payload writes); a 0.1%-record edit re-encodes only the "
        "touched tiles. At 100 TB this is the difference between a "
        "daily full rebuild and a manifest diff.",
        "",
    ]
    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "BASELINE.md",
    )
    replace_section(
        md, "## Incremental-materialization economics", "\n".join(lines) + "\n"
    )
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
