"""Tests of the benchmark's own code: input generators, the output
check, the Spark-compatible digest and the plan walker.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from perfbench import inputs, oracle
from perfbench.trace import PlanRecorder, parse_metrics, plan_metrics, walk_plan


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_rust_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_generators_are_pure_functions_of_the_seed():
    a = inputs.many_points(500, seed=3)
    b = inputs.many_points(500, seed=3)
    c = inputs.many_points(500, seed=4)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert not np.array_equal(a[1], c[1])
    assert inputs.many_regions(50) == inputs.many_regions(50)
    assert inputs.many_regions(50, 3) != inputs.many_regions(50, 4)
    lat1, lng1 = inputs.synth_geo_points(300, seed=9)
    lat2, lng2 = inputs.synth_geo_points(300, seed=9)
    assert np.array_equal(lat1, lat2) and np.array_equal(lng1, lng2)
    assert not np.array_equal(lat1, inputs.synth_geo_points(300, seed=10)[0])


def test_half_the_many_points_fall_in_the_hot_cap():
    _, lat, lng = inputs.many_points(2000, seed=5)
    hot = inputs.many_regions(0)[0]
    idx, _ = oracle.containment_pairs(
        lat, lng, [{"region_id": hot[0], "kind": "cap", "p0": hot[2],
                    "p1": hot[3], "p2": hot[4]}])
    assert set(range(0, 2000, 2)) <= set(idx.tolist())
    assert len(idx) <= 1100


def _pair_summary(ids, lat, lng, regions) -> dict:
    idx, rids = oracle.containment_pairs(lat, lng, regions)
    return {"rows": len(idx), "digest": oracle.digest(ids[idx], rids)}


def test_output_check_flags_a_perturbed_result():
    ids, lat, lng = inputs.many_points(400, seed=1)
    cols = ("region_id", "kind", "p0", "p1", "p2")
    regions = [dict(zip(cols, r)) for r in inputs.many_regions(40)]
    exp = _pair_summary(ids, lat, lng, regions)
    assert oracle.matches(dict(exp), exp)
    assert not oracle.matches({**exp, "rows": exp["rows"] + 1}, exp)
    assert not oracle.matches({**exp, "digest": exp["digest"] ^ 1}, exp)
    assert not oracle.matches({"error": True}, exp)
    # moving one point to the other hemisphere changes the matched pairs
    moved = lat.copy()
    moved[0] = -lat[0]
    assert not oracle.matches(_pair_summary(ids, moved, lng, regions), exp)
    # and the tile summary
    tiles = oracle.expected_tiles(lat, lng, 10)
    assert not oracle.matches(oracle.expected_tiles(moved, lng, 10), tiles)


def test_digest_matches_spark_xxhash64(spark):
    strs = ["", "a", "hot", "doc-00000001", "x" * 31, "y" * 32, "z" * 77,
            "été"]
    longs = np.array([0, 1, -1, 2**62, -(2**63), 123456789], np.int64)
    df = spark.createDataFrame(
        [(s, t, int(a), int(b)) for s, t in zip(strs, reversed(strs))
         for a, b in zip(longs, longs[::-1])],
        "s string, t string, a long, b long")
    rows = df.collect()
    want = [r[0] for r in df.select(F.expr("xxhash64(s, t)")).collect()]
    got = oracle.xxhash64([r["s"] for r in rows], [r["t"] for r in rows])
    assert [int(v) for v in got] == want
    want = df.select(F.expr("bit_xor(xxhash64(a, b))")).collect()[0][0]
    a = np.array([r["a"] for r in rows], np.int64)
    b = np.array([r["b"] for r in rows], np.int64)
    assert oracle.digest(a, b) == want


def test_synth_geo_points_match_the_synthesised_documents(spark):
    from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents

    pts = extract_geo_points(synth_documents(spark, 200, seed=7, partitions=2))
    got = pts.orderBy("doc_id").select("doc_id", "lat", "lng").collect()
    lat, lng = inputs.synth_geo_points(200, seed=7)
    assert [r["doc_id"] for r in got] == list(inputs.doc_ids(200))
    assert np.array_equal([r["lat"] for r in got], lat)
    assert np.array_equal([r["lng"] for r in got], lng)


def test_plan_walker_finds_python_node_init_and_compute(spark):
    from s2_geometry_rust_spark.functions import cell_id_from_latlng_deg

    df = (spark.range(0, 2000, 1, 2)
          .select((F.col("id") % 80).cast("double").alias("lat"),
                  (F.col("id") % 170).cast("double").alias("lng"))
          .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng")))
    agg = df.agg(F.expr("bit_xor(cell_id)"))
    agg.collect()
    nodes = walk_plan(spark._jvm, agg._jdf.queryExecution().executedPlan())
    py = [n for n in nodes if n["cls"] == "ArrowEvalPythonExec"]
    assert py and py[0]["udfs"] == ["fn"]
    m = plan_metrics([nodes])
    assert m["arrow.encode.rows"] == 2000
    assert m["arrow.encode.init_ms"] + m["arrow.encode.compute_ms"] > 0
    assert m["arrow.encode.bytes_sent"] > 0


def test_parse_metrics_reads_scala_map_text():
    text = ("HashMap(numOutputRows -> SQLMetric(id: 7, name: Some(number of "
            "output rows), value: 12), dataSize -> SQLMetric(id: 8, name: "
            "Some(data size (bytes)), value: -1), x -> SQLMetric(id: 9, "
            "name: None, value: 0))")
    assert parse_metrics(text) == {"numOutputRows": 12, "dataSize": -1, "x": 0}


def test_plan_recorder_sees_every_query(spark, tmp_path):
    rec = PlanRecorder(spark)
    rec.take()
    spark.range(100).groupBy((F.col("id") % 3).alias("k")).count() \
        .write.parquet(str(tmp_path / "out"))
    execs = rec.take()
    m = plan_metrics(execs)
    assert m["plans.checkpoints.rows_written"] == 3
    assert m["plans.checkpoints.files_written"] >= 1
    assert m["shuffle.records"] > 0
    assert not rec.errors


def _benchmark_json() -> dict:
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_what_the_run_prints():
    from perfbench.run import END_TO_END, per_layer_names, unit
    from perfbench.workloads import WORKLOADS

    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, unit(n)) for n in per_layer_names()]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_run_refuses_a_directory_without_the_package(tmp_path):
    import os
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", "results",
                                                  "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pip_many_regions",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
