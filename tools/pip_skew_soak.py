"""Adversarial-skew soak for the fully-distributed point-in-region
join: ONE hot cap region covers ~50% of all points, so its <= 64
covering cells hold half the candidate rows — the classic hot-tile
regime the north rule's "explicit salting for skewed hot tiles"
clause names.

Protocol (AQE and auto-broadcast DISABLED so the candidate equi-join
is a genuine hash-partitioned shuffle join — on a real cluster this is
the AQE-off worst case; with AQE on, skew-join splitting is the
backstop):

1. build the candidate frame unsalted; record the per-partition
   row-count histogram of the shuffle output (max / p50 / mean).
2. build it again with ``n_salts=32`` (hot cells auto-detected via the
   sampled ``plans.salting.hot_keys`` pass); record the histogram.
3. assert the two candidate sets are IDENTICAL (salting is a pure
   repartitioning — zero semantic effect), then run the full
   refine join both ways and assert equal (doc_id, region_id) sets.

Usage: python tools/pip_skew_soak.py [n_points] [n_small_regions] [cpus]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from s2_geometry_rust_spark.fixtures import REGIONS_SCHEMA  # noqa: E402
from s2_geometry_rust_spark.functions.udfs import (  # noqa: E402
    cell_id_from_latlng_deg,
)
from s2_geometry_rust_spark.operators.coverings import cover_regions  # noqa: E402
from s2_geometry_rust_spark.operators.spatial_join import (  # noqa: E402
    _ancestor_candidates,
    point_in_region_join_distributed,
)
from s2_geometry_rust_spark.session import get_spark  # noqa: E402

HOT_LAT, HOT_LNG, HOT_R = 20.0, 30.0, 20.0


def synth_points(spark, n: int) -> DataFrame:
    """Deterministic points: even ids cluster inside the hot cap's
    bounding box (≈50% of rows on one region), odd ids uniform."""
    base = spark.range(n).withColumnRenamed("id", "doc_id")

    def u(tag: str):
        return (
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(tag)), F.lit(1_000_000))
            / 1e6
        )

    hot = F.col("doc_id") % 2 == 0
    lat = F.when(hot, HOT_LAT - 14.0 + 28.0 * u("lat")).otherwise(
        -80.0 + 160.0 * u("lat")
    )
    lng = F.when(hot, HOT_LNG - 14.0 + 28.0 * u("lng")).otherwise(
        -180.0 + 360.0 * u("lng")
    )
    pts = base.select(
        "doc_id", lat.alias("lat"), lng.alias("lng")
    ).withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    return pts


def synth_regions(spark, n_small: int, seed: int = 11) -> DataFrame:
    rng = np.random.default_rng(seed)
    rows = [
        ("hot-cap", "cap", HOT_LAT, HOT_LNG, HOT_R, None, None, None, None)
    ]
    lat = rng.uniform(-75, 75, n_small)
    lng = rng.uniform(-180, 180, n_small)
    r = rng.uniform(0.3, 2.0, n_small)
    rows += [
        (f"cap-{i:05d}", "cap", float(lat[i]), float(lng[i]), float(r[i]),
         None, None, None, None)
        for i in range(n_small)
    ]
    return spark.createDataFrame(rows, REGIONS_SCHEMA).repartition(32)


def partition_histogram(df: DataFrame) -> dict:
    pdf = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .toPandas()
    )
    c = pdf["count"].to_numpy()
    return {
        "partitions": int(len(c)),
        "rows": int(c.sum()),
        "max": int(c.max()),
        "p50": int(np.median(c)),
        "mean": float(c.mean()),
        "max_over_mean": float(c.max() / c.mean()),
    }


def main(n_points: int = 2_000_000, n_small: int = 2000,
         cpus: int = 16) -> int:
    os.environ.setdefault("SPARK_SUBMIT_OPTS",
                          "-Dspark.ui.showConsoleProgress=false")
    spark = get_spark("pip-skew-soak", cpus=cpus)
    # Force the worst case: no AQE skew splitting, no broadcast.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    pts = synth_points(spark, n_points)
    pts.persist().count()
    regions = synth_regions(spark, n_small)
    covs = cover_regions(regions, max_cells=64, conservative=True)
    covs.persist()
    levels = sorted(r["level"] for r in covs.select("level").distinct().collect())
    cov_sel = covs.select("region_id", "cell_id")

    t0 = time.time()
    cand_plain = _ancestor_candidates(pts, cov_sel, levels, "cell_id")
    h_plain = partition_histogram(cand_plain)
    t_plain = time.time() - t0
    print(f"UNSALTED candidates: {h_plain}  wall={t_plain:.1f}s")

    t0 = time.time()
    cand_salt = _ancestor_candidates(pts, cov_sel, levels, "cell_id",
                                     n_salts=32)
    h_salt = partition_histogram(cand_salt)
    t_salt = time.time() - t0
    print(f"SALTED   candidates: {h_salt}  wall={t_salt:.1f}s")

    # Semantic identity of the candidate sets (cheap checksum compare).
    def checksum(df: DataFrame):
        return df.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id, region_id))").alias("h"),
        ).collect()[0]

    cs_p, cs_s = checksum(cand_plain), checksum(cand_salt)
    same_cand = (cs_p["n"] == cs_s["n"]) and (cs_p["h"] == cs_s["h"])
    print(f"candidate sets identical: {same_cand} "
          f"(n={cs_p['n']} vs {cs_s['n']})")

    # Full refine join both ways.
    t0 = time.time()
    full_p = checksum(point_in_region_join_distributed(pts, regions))
    t_fp = time.time() - t0
    t0 = time.time()
    full_s = checksum(
        point_in_region_join_distributed(pts, regions, n_salts=32))
    t_fs = time.time() - t0
    same_full = (full_p["n"] == full_s["n"]) and (full_p["h"] == full_s["h"])
    print(f"refined join identical: {same_full} (n={full_p['n']}), "
          f"wall unsalted={t_fp:.1f}s salted={t_fs:.1f}s")

    skew_reduced = h_salt["max_over_mean"] < h_plain["max_over_mean"] / 2
    print(f"skew max/mean: {h_plain['max_over_mean']:.2f} -> "
          f"{h_salt['max_over_mean']:.2f}  (reduced>=2x: {skew_reduced})")
    ok = same_cand and same_full and skew_reduced
    print("PASS" if ok else "FAIL")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    c = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    raise SystemExit(main(n, m, c))
