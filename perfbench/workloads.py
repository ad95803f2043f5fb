"""The two workloads.  Each one drives the package's public API on a
SparkSession and summarises every trial's output for comparison with
``oracle.py``.

A trial is one closed-loop pipeline run.  Its traced variant runs one
action per cumulative prefix of the pipeline, each in a span named
after the layer it adds (``chain``), so a layer's self time is its
prefix's duration minus the previous prefix's.  The eager call of the
join (``CALL_SPAN``) is timed on its own; it plus the last prefix is
exactly what an untraced trial runs.  Spans in ``standalone`` time one
public call by itself and are not part of the chain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.functions import cell_id_from_latlng_deg
from s2_geometry_rust_spark.operators.coverings import cover_regions
from s2_geometry_rust_spark.operators.spatial_join import point_in_region_join
from s2_geometry_rust_spark.operators.tiling import with_tile
from s2_geometry_rust_spark.plans.checkpoints import write_stage_checkpoint
from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents

from . import inputs, oracle

CALL_SPAN = "operators.spatial_join.call"


def summarize(df: DataFrame, *exprs: str) -> tuple[int, int]:
    """One action: (row count, bit_xor(xxhash64(exprs))) of ``df``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(exprs)}))").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Workload:
    name = ""
    rows = 0              # input rows per trial (docs or points)
    # share of --seconds one trial is counted as: the run measures a fixed
    # seconds // trial_seconds trials, whatever they actually take
    trial_seconds = 1.0
    chain: tuple[str, ...] = ()
    standalone: tuple[str, ...] = ()

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir

    def sizes(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.spark = spark

    def trial(self, i: int) -> dict:
        raise NotImplementedError

    def observe(self, result: dict) -> dict:
        """The summary of a trial's output to compare with expected()."""
        return result

    def traced_trial(self, i: int, tracer) -> dict:
        raise NotImplementedError

    def expected(self) -> dict:
        raise NotImplementedError

    def size_key(self) -> str:
        return "-".join(f"{k}{v}" for k, v in sorted(self.sizes().items()))


def _fixture_regions() -> list[dict]:
    """The 7 join regions as plain rows: the 4 fixture caps plus 3 loops."""
    return (
        [{"region_id": k, "kind": "cap", "p0": c[0], "p1": c[1], "p2": c[2]}
         for k, c in fixtures.CAPS.items()]
        + [{"region_id": k, "kind": "loop",
            "vertices": [{"lat": a, "lng": b} for a, b in fixtures.LOOPS[k]]}
           for k in inputs.JOIN_LOOPS])


class PipTileCheckpoint(Workload):
    """Documents -> geo points -> leaf encode -> point-in-region join
    against the 7 fixture regions (literal-InSet path) -> level-10 tiles
    of the matches -> checkpoint aggregate + parquet write, over a
    parquet corpus synthesised in set-up."""

    name = "pip_tile_checkpoint"
    n_docs = 500_000
    partitions = 16
    max_cells = 64
    level = 10
    rows = n_docs
    trial_seconds = 6.0
    chain = ("sources.read_parquet", "sources.extract_geo_points",
             "operators.spatial_join.candidates",
             "operators.spatial_join.refine",
             "plans.checkpoints.write_stage_checkpoint")
    standalone = ("sources.synth_documents",)

    def sizes(self) -> dict:
        return {"docs": self.n_docs, "partitions": self.partitions,
                "max_cells": self.max_cells, "level": self.level}

    def setup(self, spark) -> None:
        super().setup(spark)
        self.regions = fixtures.cap_regions(spark).unionByName(
            fixtures.loop_regions(spark, list(inputs.JOIN_LOOPS)))
        self.corpus = os.path.join(self.workdir, "corpus")
        self._docs().write.parquet(self.corpus)
        self._n_written = 0

    def _docs(self) -> DataFrame:
        return synth_documents(self.spark, self.n_docs, seed=self.seed,
                               partitions=self.partitions)

    def _join(self, points: DataFrame, refine: bool = True) -> DataFrame:
        return point_in_region_join(points, self.regions,
                                    max_cells=self.max_cells,
                                    distributed=False, refine=refine)

    def _write(self, matches: DataFrame) -> str:
        # a fresh table per trial, so no trial appends to a grown one
        self._n_written += 1
        path = os.path.join(self.workdir, f"checkpoint-{self._n_written}")
        write_stage_checkpoint(with_tile(matches, self.level), "tile",
                               "tile_id", "cell_id", path)
        return path

    def trial(self, i: int) -> dict:
        points = extract_geo_points(self.spark.read.parquet(self.corpus))
        return {"path": self._write(self._join(points))}

    def observe(self, result: dict) -> dict:
        # read the trial's checkpoint table back, outside the timed region
        row = self.spark.read.parquet(result["path"]).agg(
            F.expr("count_if(unit_id != -1)").alias("tiles"),
            F.expr("sum(if(unit_id != -1, row_count, 0))").alias("rows"),
            F.expr("bit_xor(if(unit_id != -1, xxhash64(unit_id, row_count), 0))")
            .alias("digest"),
            F.expr("count_if(unit_id = -1)").alias("sentinels"),
        ).collect()[0]
        return {k: int(row[k] or 0) for k in ("rows", "tiles", "digest",
                                              "sentinels")}

    def traced_trial(self, i: int, tracer) -> dict:
        with tracer.span("sources.synth_documents", i):
            summarize(self._docs(), "doc_id")
        docs = self.spark.read.parquet(self.corpus)
        with tracer.span("sources.read_parquet", i):
            summarize(docs, "doc_id", "size(spans)")
        points = extract_geo_points(docs)
        with tracer.span("sources.extract_geo_points", i):
            summarize(points, "doc_id", "cell_id")
        cand = self._join(points, refine=False)
        with tracer.span("operators.spatial_join.candidates", i):
            n_cand, _ = summarize(cand, "doc_id", "region_id")
        with tracer.span(CALL_SPAN, i):
            matches = self._join(points)
        with tracer.span("operators.spatial_join.refine", i):
            n, _ = summarize(matches, "doc_id", "region_id")
        with tracer.span("plans.checkpoints.write_stage_checkpoint", i):
            path = self._write(matches)
        return {"path": path, "candidate_rows": n_cand, "match_rows": n}

    def expected(self) -> dict:
        lat, lng = inputs.synth_geo_points(self.n_docs, self.seed)
        point_idx, _ = oracle.containment_pairs(lat, lng, _fixture_regions())
        exp = oracle.expected_tiles(lat[point_idx], lng[point_idx], self.level)
        exp["sentinels"] = 1
        return exp


class PipManyRegions(Workload):
    """Cached points joined against 6,000 small caps plus one 20-degree
    cap holding half the points, with the route left to the operator
    (``distributed=None``)."""

    name = "pip_many_regions"
    n_points = 40_000
    n_small = 6_000
    rows = n_points
    trial_seconds = 6.5
    chain = ("sources.cached_points", "operators.spatial_join.candidates",
             "operators.spatial_join.refine")
    standalone = ("operators.coverings.cover_regions",)

    def sizes(self) -> dict:
        return {"points": self.n_points, "caps": self.n_small + 1,
                "regions_seed": inputs.MANY_REGIONS_SEED}

    def setup(self, spark) -> None:
        import pandas as pd

        super().setup(spark)
        self.regions = spark.createDataFrame(
            inputs.many_regions(self.n_small), fixtures.REGIONS_SCHEMA)
        ids, lat, lng = inputs.many_points(self.n_points, self.seed)
        pdf = pd.DataFrame({"doc_id": ids, "lat": lat, "lng": lng})
        self.points = (spark.createDataFrame(pdf)
                       .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
                       .cache())
        self.points.count()

    def _join(self, refine: bool = True) -> DataFrame:
        return point_in_region_join(self.points, self.regions,
                                    distributed=None, refine=refine)

    def trial(self, i: int) -> dict:
        n, h = summarize(self._join(), "doc_id", "region_id")
        return {"rows": n, "digest": h}

    def traced_trial(self, i: int, tracer) -> dict:
        with tracer.span("operators.coverings.cover_regions", i):
            covs = cover_regions(self.regions, max_cells=64, conservative=True)
            row = covs.agg(F.count(F.lit(1)).alias("cells"),
                           F.countDistinct("level").alias("levels")).collect()[0]
        with tracer.span("sources.cached_points", i):
            summarize(self.points, "doc_id", "cell_id")
        cand = self._join(refine=False)  # eager: count probe + coverings
        with tracer.span("operators.spatial_join.candidates", i):
            n_cand, _ = summarize(cand, "doc_id", "region_id")
        with tracer.span(CALL_SPAN, i):
            joined = self._join()
        with tracer.span("operators.spatial_join.refine", i):
            n, h = summarize(joined, "doc_id", "region_id")
        return {"rows": n, "digest": h, "candidate_rows": n_cand,
                "match_rows": n, "covering_cells": int(row["cells"]),
                "covering_levels": int(row["levels"])}

    def expected(self) -> dict:
        ids, lat, lng = inputs.many_points(self.n_points, self.seed)
        cols = [f.name for f in fixtures.REGIONS_SCHEMA.fields]
        regions = [dict(zip(cols, r))
                   for r in inputs.many_regions(self.n_small)]
        point_idx, region_ids = oracle.containment_pairs(lat, lng, regions)
        return {"rows": int(len(point_idx)),
                "digest": oracle.digest(ids[point_idx], region_ids)}


WORKLOADS = {w.name: w for w in (PipTileCheckpoint, PipManyRegions)}
