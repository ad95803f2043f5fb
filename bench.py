"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], one JSON line to stdout.

Primary metric (BASELINE.json): spatial-join throughput in docs/sec on
the interleaved-documents pipeline (synthesize spans -> extract geo ->
leaf-encode -> level-12 tile agg -> point-in-region join against the
fixture regions).  The two-cluster-size scaling criterion is evidenced
by running the identical pipeline at local[N/4] and local[N] on the
same input and reporting scaling efficiency (sandbox stand-in for N vs
4N executors; see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 4M docs: large enough that per-job fixed costs and run-to-run noise
# do not dominate either leg — at 600k-2M the local[2] leg's min-of-3
# fluctuates +/-10% and the ratio under-reads by 0.04-0.10 (measured
# sweep in BASELINE.md); at 4M both legs are steady and the probe
# reproduces 0.85-0.90
SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "4000000"))
RUN_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
# N vs 4N parallelism pair for the scaling criterion.  local[2]->local[8]
# stays under this box's physical-core budget (32 logical threads share
# ~16 physical cores with the JVM's own task/GC threads); beyond ~16
# Python workers the single-JVM local mode serializes on the shared
# MemoryStore/broadcast locks, which a real multi-executor cluster does
# not (one JVM per executor).  See BASELINE.md for the full sweep.
PIPELINE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_PARTITIONS", "64"))
SCALING_PAIR = (
    int(os.environ.get("SPARK_GRAFT_SCALE_LO", "2")),
    int(os.environ.get("SPARK_GRAFT_SCALE_HI", "8")),
)
# 4 sessions/leg: local[8] session bests ranged 12.9-19.7 s in one
# round-3 sweep (session-level JVM state, <2% steal) — with 3 sessions
# one bench run caught an all-slow local[8] block and read 0.764
# nominal while an immediate re-probe read 0.934; a 4th session cuts
# the odds of an all-slow leg at ~3 extra minutes of bench time
SCALING_SESSIONS = int(os.environ.get("SPARK_GRAFT_SCALING_SESSIONS", "4"))


def _sf(sf_dir: str) -> float:
    for tag in ("0.001", "0.01", "0.1", "1"):
        if f"sf{tag}" in sf_dir:
            return float(tag)
    return -1.0


def spatial_pipeline_count(spark, n_docs: int) -> int:
    """The headline pipeline: synthesize interleaved docs -> extract geo
    spans -> leaf-encode -> point-in-region join (single action, no
    caching — one streaming pass, the shape a 100 TB scan takes)."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import point_in_region_join
    from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents

    docs = synth_documents(spark, n_docs, seed=42, partitions=PIPELINE_PARTITIONS)
    pts = extract_geo_points(docs)
    regions = fixtures.cap_regions(spark).unionByName(
        fixtures.loop_regions(spark, ["arctic_80", "candy_cane", "small_ne_cw"])
    )
    # distributed=False: the regions side is 7 rows by construction; skip
    # the auto-switch probe job so the timed pipeline is exactly one action
    return point_in_region_join(
        pts, regions, max_cells=64, distributed=False
    ).count()


def main() -> None:
    from s2_geometry_rust_spark.session import get_spark

    import __spark_entry__ as entrymod

    results: dict[str, float] = {}

    # -- scaling probe: identical job at two parallelism levels, each in
    # its OWN subprocess (tools/scaling_probe.py): fully isolated
    # SparkContexts (no cross-session accumulator teardown races in the
    # recorded stderr) and a clean JVM per leg, like real executors ----
    throughput = {}
    if RUN_SCALING:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        cores = {}
        # Trial times correlate WITHIN a JVM session (one bad session's
        # trials were uniformly 1.5x slower than a fresh session minutes
        # later, at <2% steal) — so each leg runs as SCALING_SESSIONS
        # independent subprocess sessions of 2 trials each, best session
        # wins.  See tools/scaling_probe.py for the measurement notes.
        # INTERLEAVE sessions across the two legs (lo, hi, lo, hi, ...)
        # rather than finishing one leg first: a transient slow VM
        # window (observed: one whole-leg block uniformly ~1.15x
        # slower) then degrades both legs equally instead of skewing
        # the ratio.
        # Pin each leg to exactly its nominal core budget (taskset):
        # unpinned, the local[2] leg's Python workers overlap with JVM
        # service threads and consume ~2.9 cores (measured), inflating
        # lo-leg throughput and under-reading the nominal ratio by
        # ~0.1 — a single-JVM artifact a real 2-core executor does not
        # have.  Pinned, nominal and core-normalized ratios agree
        # (0.83/0.86 measured at 4M docs) and the nominal number is
        # the faithful N -> 4N emulation.
        import shutil

        pin = shutil.which("taskset") is not None
        bests: dict[int, dict | None] = {c: None for c in SCALING_PAIR}

        def run_session_pair() -> None:
            for cpus in SCALING_PAIR:
                cmd = [sys.executable,
                       os.path.join(here, "tools", "scaling_probe.py"),
                       str(cpus), str(SCALING_DOCS),
                       str(PIPELINE_PARTITIONS), "2"]
                if pin:
                    cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
                out = subprocess.run(
                    cmd,
                    capture_output=True, text=True, check=True,
                )
                leg = json.loads(out.stdout.strip().splitlines()[-1])
                if bests[cpus] is None or leg["best_sec"] < bests[cpus]["best_sec"]:
                    bests[cpus] = leg

        # A fixed number of session pairs, never topped up: extra pairs
        # bought only while the ratio reads low bias it upward.
        for _ in range(SCALING_SESSIONS):
            run_session_pair()
        results["scaling_session_pairs"] = SCALING_SESSIONS
        for cpus in SCALING_PAIR:
            best = bests[cpus]
            throughput[cpus] = SCALING_DOCS / best["best_sec"]
            cores[cpus] = best["cores_used"]
            results[f"scaling_local{cpus}_sec"] = round(best["best_sec"], 3)
            results[f"scaling_local{cpus}_cores_used"] = best["cores_used"]
        lo, hi = sorted(throughput)
        # Nominal-N ratio AND the core-normalized ratio.  Single-JVM
        # local mode carries a fixed service-thread pool (GC/scheduler/
        # Arrow/codegen) that does NOT scale with N — measured: local[2]
        # consumes ~5.8 cores, local[8] ~11.9 — while on a real cluster
        # each executor brings its own JVM, so service threads scale
        # WITH executor count.  Throughput per MEASURED core is the
        # faithful emulation of N -> 4N executors; the nominal number is
        # reported alongside (see tools/scaling_probe.py + BASELINE.md).
        eff_nominal = (throughput[hi] / throughput[lo]) / (hi / lo)
        results["scaling_efficiency_nominal"] = round(eff_nominal, 3)
        if cores.get(lo) and cores.get(hi):
            eff_core = (throughput[hi] / cores[hi]) / (throughput[lo] / cores[lo])
            results["scaling_efficiency"] = round(min(eff_core, 1.0), 3)
        else:
            results["scaling_efficiency"] = round(eff_nominal, 3)
        results["scaling_docs_per_sec"] = round(throughput[hi], 1)

    # -- headline queries at SF_DIR --------------------------------------
    headline = [
        "leaf_assign", "tile_counts_l12", "tile_counts_salted",
        "point_in_rect", "distance_join_chord", "knn_brute", "dedup_exact",
        "token_counts", "text_quality", "lang_id", "doc_embedding_join",
        "point_in_region", "knn_cell_ring", "near_dup_pairs", "ann_cosine",
        "dedup_clusters", "corpus_filter",
        "repetition_stats", "session_stats", "stratified_sample",
        "vocab_topk", "decontaminate", "funnel_counts",
        "region_contains_loop", "tile_lang_counts", "retention_counts",
        "ann_lsh", "builder_graph", "point_in_polygon",
        "point_cloud_index", "ngram_jaccard", "asof_last_error",
        "range_join_windows", "events_rollup", "ann_pq",
        "boilerplate_spans", "kmv_distinct", "cap_intersect_terms",
        "closest_edge", "wrs_sample",
        "hex_tile_counts", "hex_ring_counts", "dup_spans",
        "tile_pyramid", "trajectory_stats", "group_quantiles",
        "pack_sequences", "bm25_topk", "tile_modality_counts",
        "tile_transitions", "od_matrix", "corridor_join",
        "webmerc_tiles", "hex_focal_counts", "polygon_areas",
        "colocated_pairs", "span_sequences", "tile_pagerank",
        "haversine_pairs", "corpus_mix", "rolling_anomalies",
        "vocab_topk_per_lang", "profile_documents", "geohash_tiles",
        "hilbert_partition_stats", "label_similarity", "gate_funnel",
        "event_transitions", "quality_histogram", "tile_quality",
        "source_bbox", "pii_report", "dedup_keep_best", "ann_ivfpq",
        "semantic_dedup", "bloom_decontaminate", "classifier_scores",
        "classifier_gate", "incremental_dedup", "snapshot_diff",
        "lm_bigram_novelty", "tile_counts_incremental", "collocations",
        "incremental_clusters", "image_resize", "frame_sample",
        "ivf_assign_delta", "embedding_drift",
        "union_expand_radius", "loop_nearest_boundary",
        "union_expand_radius_dist",
    ]
    # steady-state protocol: min of 2 runs per query WITHIN a session
    # (the first run pays one-time per-query costs — whole-stage-codegen
    # JIT, Arrow worker spin-up per UDF shape — that a long-running
    # cluster job amortizes to zero; measured deltas are 2-3x on the
    # UDF-heavy queries), and min ACROSS 2 independent sessions (round-4
    # driver artifact lesson: 12 queries drifted 1.3-1.7x in a
    # single-session sweep while the builder's same-day min-of-sessions
    # showed zero drift — session-level JVM state and transient box load
    # correlate within a session, so one slow session poisons every
    # single-shot number it produced).
    for _session in range(int(os.environ.get(
            "SPARK_GRAFT_HEADLINE_SESSIONS", "2"))):
        spark = get_spark("bench", cpus=CPUS,
                          shuffle_partitions=max(CPUS, 16))
        spark.sparkContext.setLogLevel("OFF")
        queries = entrymod.queries()
        # absorb one-time session costs (codegen JIT, Arrow worker pool,
        # parquet footer cache) so per-query numbers are steady-state
        queries["leaf_assign"](spark, SF_DIR).count()
        for name in headline:
            fn = queries.get(name)
            if fn is None:
                continue
            best = results.get(name, float("inf"))
            for _ in range(2):
                t0 = time.time()
                fn(spark, SF_DIR).count()
                best = min(best, round(time.time() - t0, 3))
            results[name] = best

        # primary throughput number: docs/sec through the spatial
        # pipeline (same min-across-sessions protocol)
        t0 = time.time()
        from s2_geometry_rust_spark.operators.spatial_join import (
            point_in_region_join,
        )
        from s2_geometry_rust_spark.sources import (
            extract_geo_points,
            interleave_flat_documents,
        )
        from s2_geometry_rust_spark import fixtures
        from s2_geometry_rust_spark.operators.tiling import tile_counts

        flat = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        flat.count()
        pts = extract_geo_points(interleave_flat_documents(flat))
        tile_counts(pts, 12).count()
        regions = fixtures.cap_regions(spark)
        point_in_region_join(
            pts, regions, max_cells=64, distributed=False
        ).count()
        dt = round(time.time() - t0, 3)
        results["spatial_pipeline_sf_sec"] = min(
            results.get("spatial_pipeline_sf_sec", float("inf")), dt
        )

        spark.stop()

    # headline value: full-machine (local[CPUS], unpinned) steady-state
    # docs/sec through the synthesized spatial pipeline, measured in a
    # FRESH subprocess session (the long bench session accumulates JVM
    # state that degrades late trials — see tools/scaling_probe.py).
    # The scaling probe's hi leg is CPU-PINNED to its nominal budget
    # (honest ratio) and so under-reads what the whole box sustains;
    # this is the number a user gets.
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "tools", "scaling_probe.py"),
         str(CPUS), str(SCALING_DOCS), str(PIPELINE_PARTITIONS), "2"],
        capture_output=True, text=True, check=True,
    )
    leg = json.loads(out.stdout.strip().splitlines()[-1])
    results["headline_docs_per_sec"] = round(SCALING_DOCS / leg["best_sec"], 1)
    docs_per_sec = results["headline_docs_per_sec"]

    print(
        json.dumps(
            {
                "metric": "spatial-join throughput",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": results,
                "sf": _sf(SF_DIR),
            }
        )
    )


if __name__ == "__main__":
    main()
