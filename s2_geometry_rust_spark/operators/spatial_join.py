"""Point-in-region spatial join: filter-and-refine over cell coverings.

Filter stage — the scale-critical part.  A covering cell C contains a
point p iff ``parent(p.cell_id, level(C)) == C`` (cell_id.rs:355-357
range containment, re-expressed as ancestor equality), so candidate
generation never needs a range/theta join (which Spark executes as a
nested loop).  Every route builds sound coverings with the same
``coverings.conservative_coverings``; they differ in how candidates are
produced:

1. literal InSet (small covering sets, the common case): each region's
   covering compiles to ``parent(cell, L) IN (...)`` codegen filters —
   no join at all;
2. driver ancestor join (past ~1k covering cells): each point explodes
   into one ancestor per distinct covering level (a pure codegen bit
   expression, fan-out = #levels) and hash-joins
   ``broadcast(coverings)`` on exact cell-id equality;
3. distributed ancestor join (large region tables): the coverings come
   from the distributed ``cover_regions`` operator, and AQE picks
   broadcast vs shuffle (optionally with explicit hot-cell salting).

Refine stage — one Arrow boolean pandas_udf filter for every route
(``_refine``): exact containment per region kind, caps in one
vectorized chord pass over the batch (cap.rs:227-237), loops (winding-
number PIP, loop.rs:372-394), polygons (shell-minus-holes) and rects
(latlng_rect.rs interval algebra) per (batch x region) group.  The
routes differ only in where the region geometry comes from: a
broadcast of the collected rows on the driver routes, columns joined
inline on region_id on the distributed route.  There the list-typed
geometry (``vertices``, ``loops``) crosses the Arrow boundary as JSON
strings, encoded once per region row before the join and decoded only
when a loop or polygon adapter is built: the JVM's cost to assemble an
Arrow batch with list columns grows faster than linearly in its rows,
even when every value is null (as it is for caps), while a string
column costs about as much as a scalar one.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import cell_parent
from ..kernels import cellid as ck
from ..kernels import chord
from ..kernels import latlng as lk
from ..kernels import predicates as pred
from ..plans.salting import salted_join
from .coverings import conservative_coverings, cover_regions, region_from_row

# Region columns the distributed refine reads: kind and p0-p2 for the
# cap pass, the rest to build loop/rect/polygon adapters.  ``cell_ids``
# is left out on purpose: only union rows carry it, and unions have no
# exact test.  The list-typed columns travel as ``to_json`` strings (see
# _region_geometry), so every column of the refine's Arrow batch is a
# scalar.
_SCALAR_GEOMETRY_COLS = ("kind", "p0", "p1", "p2", "p3")
_LIST_GEOMETRY_COLS = ("vertices", "loops")

# Conservative coverings are deterministic per (region, max_cells);
# repeated joins against the same region set (interactive use, the
# bench loop, incremental batches) skip recomputation entirely.
_COVERING_CACHE: dict = {}

# One (total, exact) accumulator pair per SparkContext, keyed by the
# context's applicationId: registering a fresh pair per join call leaks
# accumulators, and pairs from a stopped context must never be read
# (bench.py-style create/stop cycles made PythonAccumulatorV2.merge
# throw against dead sockets).  See last_fallback_rate().
FALLBACK_ACCUMULATORS: dict = {}


def _session_accumulators(spark):
    sc = spark.sparkContext
    app_id = sc.applicationId
    entry = FALLBACK_ACCUMULATORS.get("entry")
    if entry is None or entry[0] != app_id:
        FALLBACK_ACCUMULATORS["entry"] = (
            app_id, sc.accumulator(0), sc.accumulator(0), sc
        )
    return FALLBACK_ACCUMULATORS["entry"][1:3]


def _region_cache_key(row: dict) -> tuple:
    def _freeze(v):
        if isinstance(v, list):
            return tuple(_freeze(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
        if hasattr(v, "asDict"):
            return tuple(sorted((k, _freeze(x)) for k, x in v.asDict().items()))
        return v

    return tuple(sorted((k, _freeze(v)) for k, v in row.items()))


def _driver_coverings(region_rows: dict,
                      max_cells: int) -> dict[str, dict[int, list[int]]]:
    """region_id -> {level: [cell ids]} of each region's conservative
    covering, memoized in ``_COVERING_CACHE``; regions whose covering is
    empty are left out."""
    keys = {rid: (_region_cache_key(row), max_cells)
            for rid, row in region_rows.items()}
    covs = {rid: _COVERING_CACHE.get(key) for rid, key in keys.items()}
    missing = [rid for rid, by_level in covs.items() if by_level is None]
    if missing:
        if len(_COVERING_CACHE) + len(missing) > 4096:
            _COVERING_CACHE.clear()
        fresh = conservative_coverings(
            [region_rows[rid] for rid in missing], max_cells=max_cells
        )
        for rid, ids in zip(missing, fresh):
            by_level: dict[int, list[int]] = {}
            for cid, lv in zip(ids.view(np.int64).tolist(),
                               ck.level(ids).tolist()):
                by_level.setdefault(lv, []).append(cid)
            covs[rid] = _COVERING_CACHE[keys[rid]] = by_level
    return {rid: by_level for rid, by_level in covs.items() if by_level}


def _no_matches(points: DataFrame) -> DataFrame:
    # filter(False), not limit(0): limit is unsupported on streaming
    # DataFrames, and the streaming wrapper (streaming/spatial.py) joins
    # through here when the static region table is empty or uncoverable.
    return points.filter(F.lit(False)).withColumn(
        "region_id", F.lit(None).cast("string")
    )


def _ancestor_candidates(points: DataFrame, coverings: DataFrame,
                         levels: list[int], cell_col: str,
                         broadcast: bool = False,
                         n_salts: int = 0) -> DataFrame:
    """Join-based candidate generation for covering tables too large to
    inline as literals: explode each point into one ancestor per
    distinct covering level and hash-join on exact cell equality.

    Skew: when one region covers a large share of the points, its (at
    most ``max_cells``) covering cells become hot join keys — with a
    shuffle (sort-merge) join, 50% of rows can land on <= 64 reducer
    keys.  AQE skew-join splitting is the default backstop; ``n_salts >
    0`` is the explicit deterministic variant that also holds on
    AQE-disabled clusters: the hot cells are detected by a sampled pass
    (``plans.salting.hot_keys``), hot fact rows take salt =
    pmod(xxhash64(row), n_salts) — a pure row function, so
    retries/resume repartition identically — and the covering side
    replicates hot cells n_salts times.  Output is provably identical
    to the unsalted join (tools/pip_skew_soak.py measures the
    per-partition histogram before/after on a 50%-hot-region corpus).
    """
    anc = F.explode(
        F.array(*[cell_parent(cell_col, lv) for lv in sorted(levels)])
    ).alias("_anc")
    pts = points.select("*", anc)
    cov = coverings.select(F.col("cell_id").alias("_anc"), "region_id")
    # A normalized covering has non-overlapping cells, so a point matches
    # at most one cell per region — no dedup needed per region.
    if n_salts > 0:
        return salted_join(pts, cov, "_anc", n_salts=n_salts).drop("_anc")
    if broadcast:
        cov = F.broadcast(cov)
    return pts.join(cov, "_anc").drop("_anc")


def _literal_candidates(points: DataFrame,
                        region_covs: dict[str, dict[int, list[int]]],
                        cell_col: str) -> DataFrame:
    """Pure-codegen candidate generation: the coverings are compiled
    into InSet literals — one `parent(cell, L) IN (...)` per (region,
    level), OR-ed per region, then a filtered explode emits (point,
    region_id) pairs.  No broadcast machinery at all: in local[N] and
    on real clusters alike this stays inside whole-stage codegen (the
    per-task broadcast-value access in BroadcastHashJoin serializes
    badly at high task counts — measured 4x wall-time inflation at
    local[32] vs this approach scaling near-linearly)."""
    region_exprs = []
    for rid, by_level in region_covs.items():
        match = None
        for lv, cells in sorted(by_level.items()):
            e = cell_parent(cell_col, lv).isin(cells)
            match = e if match is None else (match | e)
        region_exprs.append(
            F.when(match, F.lit(rid)).otherwise(F.lit(None))
        )
    # Explode the raw when-array and filter nulls AFTER: F.filter is a
    # higher-order function and HOFs are CodegenFallback — the lambda
    # forces the ENTIRE when/InSet array to evaluate interpreted per
    # row.  Explode+IsNotNull keeps every probe inside whole-stage
    # codegen at the cost of #regions null rows through Generate —
    # measured 1.53x faster (6.26 s -> 4.08 s candidates at 4M points x
    # 7 regions, local[32]), output hash-identical.
    arr = F.array(*region_exprs)
    return points.select(
        "*", F.explode(arr).alias("region_id")
    ).filter(F.col("region_id").isNotNull())


def _cap_params(p0, p1, p2):
    """(cx, cy, cz, radius_l2) of cap rows from their (lat, lng, radius)
    degree columns: the vectorized twin of ``region_from_row(row).cap``
    (S2Cap.from_center_degrees), bit for bit.  ``np.fmin`` is Rust's
    f64::min: a NaN radius saturates to PI, a full cap."""
    cx, cy, cz = lk.latlng_to_xyz(
        lk.degrees_to_radians(p0), lk.degrees_to_radians(p1)
    )
    radius = np.fmin(lk.degrees_to_radians(p2), np.pi)
    return cx, cy, cz, chord.from_radians(radius)


def _refine_mask(lat: pd.Series, lng: pd.Series, rid: pd.Series, regions,
                 cache: dict) -> np.ndarray:
    """Exact containment of each candidate (point, region) row.

    ``regions(rids, first)`` is the route's geometry source: given the
    batch's distinct region ids and the first row position of each, it
    returns ``(table, row_of)`` — ``table`` maps kind/p0/p1/p2 to arrays
    aligned with ``rids``, and ``row_of(j)`` is the regions-table row of
    ``rids[j]``.  Region adapters are memoized in ``cache`` by
    region_id.  Rows of kinds without an exact test (union) keep what
    the covering admitted."""
    keep = np.ones(len(lat), dtype=bool)
    if not len(lat):
        return keep
    lat_r = lk.degrees_to_radians(lat.to_numpy(np.float64))
    lng_r = lk.degrees_to_radians(lng.to_numpy(np.float64))
    x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
    # factorize numbers the region ids in order of appearance, so a row
    # is its region's first exactly where the running max code grows
    codes, rids = pd.factorize(rid.to_numpy())
    first = np.flatnonzero(np.diff(np.maximum.accumulate(codes), prepend=-1))
    table, row_of = regions(rids, first)
    kind = np.asarray(table["kind"], dtype=object)
    cap = kind == "cap"
    if cap.any():
        # one chord pass over EVERY cap row, center and radius computed
        # once per distinct cap — per-region grouping would pay
        # pandas/Python overhead per tiny group at high region
        # cardinality (the distance-join shape)
        params = _cap_params(
            *(np.asarray(table[c], np.float64) for c in ("p0", "p1", "p2"))
        )
        rows = np.nonzero(cap[codes])[0]
        cx, cy, cz, r_l2 = (v[codes[rows]] for v in params)
        d2 = chord.between_points(cx, cy, cz, x[rows], y[rows], z[rows])
        keep[rows] = d2 <= r_l2
    exact = np.isin(kind, ("loop", "rect", "polygon"))
    rest = np.nonzero(exact[codes])[0]
    order = rest[np.argsort(codes[rest], kind="stable")]
    bounds = np.searchsorted(codes[order], np.arange(len(rids) + 1))
    for j in np.nonzero(exact)[0]:
        idx = order[bounds[j]:bounds[j + 1]]
        reg = cache.get(rids[j])
        if reg is None:
            if len(cache) > 65536:
                cache.clear()
            reg = cache[rids[j]] = region_from_row(row_of(j))
        if kind[j] == "loop":
            keep[idx] = reg.loop.contains_points_batch(x[idx], y[idx], z[idx])
        elif kind[j] == "polygon":
            # shell-minus-holes, any-poly (polygon_shape.rs)
            keep[idx] = reg.contains_points_batch(x[idx], y[idx], z[idx])
        else:
            keep[idx] = reg.rect.contains_latlng_batch(lat_r[idx], lng_r[idx])
    return keep


def _refine(cand: DataFrame, geometry, geom_cols=()) -> DataFrame:
    """``cand`` filtered to exact containment.  ``geometry(geom, rids,
    first)`` is the route's geometry source for ``_refine_mask``
    (``geom``: the batch's ``geom_cols`` Series).

    A BOOLEAN Arrow pandas_udf filter, not mapInPandas: an identity
    mapInPandas over the same candidates measured 4.3 s of pure Arrow
    round-trip at 10.7M candidate rows (local[32]); this form cut the
    full join 6.9 s -> 3.3 s, output hash-identical.  ExtractPythonUDFs
    splits the filter so the null-region rows of the literal route's
    candidate explode never reach the udf.  Exact-arithmetic fallbacks
    are counted on the executors (``last_fallback_rate()``)."""
    acc_total, acc_exact = _session_accumulators(cand.sparkSession)
    cache: dict = {}

    @pandas_udf(BooleanType())
    def _keep(lat: pd.Series, lng: pd.Series, rid: pd.Series,
              *geom: pd.Series) -> pd.Series:
        t0, e0 = pred.TRIAGE_TOTAL_COUNT, pred.EXACT_FALLBACK_COUNT
        mask = _refine_mask(
            lat, lng, rid,
            lambda rids, first: geometry(geom, rids, first), cache,
        )
        acc_total.add(int(pred.TRIAGE_TOTAL_COUNT - t0))
        acc_exact.add(int(pred.EXACT_FALLBACK_COUNT - e0))
        return pd.Series(mask)

    return cand.filter(_keep("lat", "lng", "region_id", *geom_cols))


DISTRIBUTED_REGION_THRESHOLD = 5000


def point_in_region_join(points: DataFrame, regions: DataFrame,
                         cell_col: str = "cell_id", max_cells: int = 8,
                         refine: bool = True,
                         distributed: bool | None = None) -> DataFrame:
    """points (must carry a leaf ``cell_col`` and lat/lng degrees) x
    regions -> matched pairs.

    Returns the points columns + ``region_id`` for every (point, region)
    whose covering contains the point, refined to exact containment when
    ``refine=True`` (filter-and-refine, SURVEY.md §2.5).

    Physical strategy by region count:
    - small region sets (the common case by contract): coverings are
      built and memoized driver-side and compiled to literal-InSet
      codegen filters (or one broadcast equi-join past ~1k cells) —
      fastest, no extra jobs;
    - large region sets (``distributed=True``, or auto past
      DISTRIBUTED_REGION_THRESHOLD when ``distributed=None``, which
      costs one count() job on the regions side): everything stays in
      DataFrames — see ``point_in_region_join_distributed`` — so NO
      driver-side collect of regions ever happens.
    """
    if distributed is None:
        distributed = regions.limit(
            DISTRIBUTED_REGION_THRESHOLD + 1
        ).count() > DISTRIBUTED_REGION_THRESHOLD
    if distributed:
        # Covering budget floor: at high region cardinality a tight
        # budget is the scale killer, not a saving — the level-
        # synchronous coverer stops at FACE-level cells for regions
        # straddling face corners (4 faces x 4 children > 8), and one
        # face-level covering cell admits ~1/24 of every point in the
        # corpus.  Measured on 10k caps x 100k points: max_cells=8 ->
        # 31.2M candidates / 321s; max_cells=64 -> 434k candidates /
        # 6.1s, identical output.
        return point_in_region_join_distributed(
            points, regions, cell_col=cell_col,
            max_cells=max(max_cells, 64), refine=refine,
        )

    # The regions side is the small side by contract; collect once and
    # build the coverings driver-side — this avoids two tiny mapInPandas
    # stages (worker spin-up dominates them) and gives the distinct
    # covering levels for free.
    spark = points.sparkSession
    region_rows = {r["region_id"]: r.asDict() for r in regions.collect()}
    region_covs = _driver_coverings(region_rows, max_cells)
    if not region_covs:
        return _no_matches(points)

    # Literal InSet compilation wins while the expression stays inside
    # whole-stage codegen; past ~1k covering cells the generated method
    # exceeds JIT limits and falls back to interpreted evaluation
    # (measured 16x slower at 150 regions) — switch to the
    # ancestor-explode equi-join instead.
    cov_rows = [
        (rid, cid)
        for rid, by_level in region_covs.items()
        for cells in by_level.values()
        for cid in cells
    ]
    if len(cov_rows) <= 1000:
        cand = _literal_candidates(points, region_covs, cell_col)
    else:
        coverings = spark.createDataFrame(
            cov_rows, "region_id string, cell_id long"
        ).coalesce(1)
        levels = sorted({lv for by in region_covs.values() for lv in by})
        cand = _ancestor_candidates(points, coverings, levels, cell_col,
                                    broadcast=True)
    if not refine:
        return cand

    # Geometry source: the collected rows ride along as one broadcast,
    # with the cap-pass columns tabulated per region.
    ids = pd.Index(list(region_rows))
    cap_cols = {
        c: np.array([row.get(c) for row in region_rows.values()],
                    object if c == "kind" else np.float64)
        for c in ("kind", "p0", "p1", "p2")
    }
    bc = spark.sparkContext.broadcast((region_rows, ids, cap_cols))

    def geometry(_geom, rids, _first):
        rows, index, cols = bc.value
        pos = index.get_indexer(rids)
        return {c: v[pos] for c, v in cols.items()}, lambda j: rows[rids[j]]

    return _refine(cand, geometry)


def point_in_region_join_distributed(points: DataFrame, regions: DataFrame,
                                     cell_col: str = "cell_id",
                                     max_cells: int = 64,
                                     refine: bool = True,
                                     n_salts: int = 0) -> DataFrame:
    """Fully-distributed filter-and-refine for LARGE region tables
    (10^4+ regions): no driver-side collect of regions anywhere.

    1. coverings via the distributed ``cover_regions`` operator
       (conservative=True — sound join filters), embarrassingly
       parallel on the regions side;
    2. candidates via the ancestor-explode equi-join (the only data
       that reaches the driver is the <= 31 distinct covering levels);
    3. refine joins region geometry inline on region_id (AQE picks
       broadcast vs shuffle by size) and evaluates the exact kernels in
       the shared refine filter.

    ``n_salts > 0`` engages explicit deterministic salting of hot
    covering cells in step 2 (see ``_ancestor_candidates``) — for the
    one-region-covers-half-the-points skew regime on AQE-disabled
    clusters.  Defaults off; output is identical either way.
    """
    covs = cover_regions(regions, max_cells=max_cells, conservative=True)
    levels = [r["level"] for r in covs.select("level").distinct().collect()]
    if not levels:
        return _no_matches(points)
    cand = _ancestor_candidates(
        points, covs.select("region_id", "cell_id"), levels, cell_col,
        n_salts=n_salts,
    )
    if not refine:
        return cand

    # Geometry must ride the join here: no driver-side collect of
    # regions on this path, by contract.  Projected before the join, so
    # the JSON encoding runs once per region row, not per candidate.
    region_geom = _region_geometry(regions)
    joined = cand.join(region_geom, "region_id")
    geom_cols = region_geom.columns[1:]

    def geometry(geom, _rids, first):
        geo = dict(zip(geom_cols, geom))
        table = {c: geo[c].to_numpy()[first]
                 for c in ("kind", "p0", "p1", "p2") if c in geo}
        return table, lambda j: _geometry_row(
            {c: s.iloc[first[j]] for c, s in geo.items()}
        )

    return _refine(joined, geometry, geom_cols).select(*cand.columns)


def _region_geometry(regions: DataFrame) -> DataFrame:
    """region_id plus the distributed refine's region geometry: the
    scalar columns as they are, the list-typed ones as ``to_json``
    strings (a null list becomes a null string)."""
    return regions.select(
        "region_id",
        *(c for c in _SCALAR_GEOMETRY_COLS if c in regions.columns),
        *(F.to_json(c).alias(c)
          for c in _LIST_GEOMETRY_COLS if c in regions.columns),
    )


def _geometry_row(row: dict) -> dict:
    """``row`` with its JSON geometry decoded back to the values the
    regions table holds, bit for bit.  Jackson writes a finite double
    with Double.toString, which round-trips through ``float()``, and a
    non-finite one as the quoted string "NaN", "Infinity" or
    "-Infinity", which ``float()`` reads too; JSON has one NaN, so a
    NaN's sign and payload bits come back canonical.  It leaves out null
    struct fields, hence ``.get``."""
    def num(v, cast):
        return None if v is None else cast(v)

    def latlngs(vs):
        return None if vs is None else [
            None if v is None else
            {"lat": num(v.get("lat"), float), "lng": num(v.get("lng"), float)}
            for v in vs
        ]

    out = dict(row)
    if out.get("vertices") is not None:
        out["vertices"] = latlngs(json.loads(out["vertices"]))
    if out.get("loops") is not None:
        out["loops"] = [
            None if e is None else
            {"poly": num(e.get("poly"), int),
             "vertices": latlngs(e.get("vertices"))}
            for e in json.loads(out["loops"])
        ]
    return out


def last_fallback_rate() -> float | None:
    """Exact-arithmetic fallback rate accumulated over this session's
    point_in_region_join actions (None before any action, and None once
    the owning SparkContext has been stopped)."""
    entry = FALLBACK_ACCUMULATORS.get("entry")
    if entry is None:
        return None
    _, total, exact, sc = entry
    if getattr(sc, "_jsc", None) is None or sc._jsc.sc().isStopped():
        return None
    if total.value == 0:
        return None
    return exact.value / total.value


def point_in_rect_join(points: DataFrame, rects: DataFrame) -> DataFrame:
    """Pure-JVM variant for lat/lng rectangles (latlng_rect.rs:297-341
    interval algebra incl. the circular-longitude branch): broadcast
    cross join + codegen predicates.  Used when regions are rects only —
    fully SQL-expressible, hence oracle-checkable.

    rects: (region_id, lat_lo, lat_hi, lng_lo, lng_hi) in degrees;
    lng_lo > lng_hi means the interval wraps the antimeridian.
    points: must carry lat/lng degree columns.
    """
    r = F.broadcast(rects)
    lat_ok = F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
    wraps = F.col("lng_lo") > F.col("lng_hi")
    lng_ok = F.when(
        wraps, (F.col("lng") >= F.col("lng_lo")) | (F.col("lng") <= F.col("lng_hi"))
    ).otherwise(F.col("lng").between(F.col("lng_lo"), F.col("lng_hi")))
    return points.join(r, lat_ok & lng_ok)


def distance_join(points: DataFrame, centers: DataFrame,
                  radius_chord2: float,
                  point_xyz=("x", "y", "z"),
                  center_xyz=("cx", "cy", "cz")) -> DataFrame:
    """Distance-threshold theta-join on squared chord length
    (chord_angle.rs:90-95: |p-q|^2 <= r2) — broadcast small centers,
    codegen arithmetic only; exactly reproducible in SQL."""
    px, py, pz = (F.col(c) for c in point_xyz)
    cx, cy, cz = (F.col(c) for c in center_xyz)
    d2 = (
        (px - cx) * (px - cx)
        + (py - cy) * (py - cy)
        + (pz - cz) * (pz - cz)
    )
    return points.join(F.broadcast(centers), d2 <= F.lit(radius_chord2)).withColumn(
        "chord2", d2
    )


def region_containment_join(regions_a: DataFrame, loops_b: DataFrame,
                            b_id_col: str = "region_id",
                            max_cells: int = 64) -> DataFrame:
    """Region-contains-loop join at table scale: (a_id, b_id) for every
    region A containing ALL vertices of loop B — the reference's
    vertex-containment semantics (loop.rs:397-415 contains_loop; its
    edge-crossing completion is a pinned TODO, SURVEY §8), lifted from a
    scalar kernel to a join.

    Plan: explode B's vertices into points (codegen), run the standard
    filter-and-refine point-in-region join (covering filter + exact
    kernel refine — the same scale path as point_in_region), then a
    count-equality aggregate: A contains B iff every one of B's
    n_vertices matched.  No pairwise region x region work ever happens;
    the only shuffle keys are covering cells and (a, b) pairs.
    """
    from ..functions import cell_id_from_latlng_deg

    verts = (
        loops_b.filter(F.col("kind") == "loop")
        .select(
            F.col(b_id_col).alias("b_id"),
            F.posexplode("vertices").alias("v_idx", "v"),
        )
        .select(
            "b_id", "v_idx",
            F.col("v.lat").cast("double").alias("lat"),
            F.col("v.lng").cast("double").alias("lng"),
        )
        .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    )
    matched = point_in_region_join(verts, regions_a, max_cells=max_cells)
    counts = matched.groupBy("region_id", "b_id").agg(
        F.count("*").alias("_n_in")
    )
    sizes = loops_b.filter(F.col("kind") == "loop").select(
        F.col(b_id_col).alias("b_id"), F.size("vertices").alias("_n_b")
    )
    return (
        counts.join(sizes, "b_id")
        .filter(F.col("_n_in") == F.col("_n_b"))
        .select(F.col("region_id").alias("a_id"), "b_id")
    )


def _loop_vertices_as_points(loops: DataFrame, id_alias: str) -> DataFrame:
    from ..functions import cell_id_from_latlng_deg

    return (
        loops.filter(F.col("kind") == "loop")
        .select(
            F.col("region_id").alias(id_alias),
            F.posexplode("vertices").alias("v_idx", "v"),
        )
        .select(
            id_alias, "v_idx",
            F.col("v.lat").cast("double").alias("lat"),
            F.col("v.lng").cast("double").alias("lng"),
        )
        .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    )


def loop_intersection_join(loops_a: DataFrame, loops_b: DataFrame,
                           strict: bool = False) -> DataFrame:
    """Loop-intersects-loop join at table scale: (a_id, b_id) whenever
    ANY vertex of B lies in A or ANY vertex of A lies in B — the
    reference's mutual vertex-probing semantics (loop.rs:418-441;
    edge-crossing completion is a pinned reference TODO), lifted from
    the scalar kernel to a join.

    Plan: two filter-and-refine point joins (B-verts x A-regions and
    A-verts x B-regions — the standard covering scale path), then a
    distinct union of the pair keys.  Empty/full special cases are out
    of scope (fixture loops are always proper); use the kernel for
    those.

    ``strict=True`` (opt-in, default preserves reference parity) adds
    the edge-crossing completion the reference left TODO: a third leg
    unions in every pair whose boundaries properly cross
    (kernels.predicates.crossing_sign_complete_batch — the
    geometrically complete rule), catching loops that intersect
    without containing each other's vertices.  See
    loop_edge_crossing_pairs for the leg's plan shape.
    """
    d1 = (
        point_in_region_join(
            _loop_vertices_as_points(loops_b, "b_id"), loops_a
        )
        .select(F.col("region_id").alias("a_id"), "b_id")
    )
    d2 = (
        point_in_region_join(
            _loop_vertices_as_points(loops_a, "a_id"), loops_b
        )
        .select("a_id", F.col("region_id").alias("b_id"))
    )
    out = d1.unionByName(d2)
    if strict:
        out = out.unionByName(loop_edge_crossing_pairs(loops_a, loops_b))
    return out.dropDuplicates(["a_id", "b_id"])


def _loop_edges_latlng(loops: DataFrame, id_alias: str,
                       prefix: str) -> DataFrame:
    """Closed-loop edge table in degrees: one row per directed edge
    (v_i -> v_{i+1 mod n}), built with pure codegen array ops (no
    Python).  xyz conversion happens later inside the Arrow refine so
    engine trig matches the numpy-literal oracle exactly."""
    n = F.size("vertices")
    i = F.sequence(F.lit(0), n - F.lit(1))
    edges = F.transform(
        i,
        lambda k: F.struct(
            F.element_at("vertices", k + 1)["lat"].alias("lat0"),
            F.element_at("vertices", k + 1)["lng"].alias("lng0"),
            F.element_at("vertices", (k + 1) % n + 1)["lat"].alias("lat1"),
            F.element_at("vertices", (k + 1) % n + 1)["lng"].alias("lng1"),
        ),
    )
    return (
        loops.filter(F.col("kind") == "loop")
        .select(F.col("region_id").alias(id_alias),
                F.explode(edges).alias("_e"))
        .select(
            id_alias,
            F.col("_e.lat0").alias(f"{prefix}lat0"),
            F.col("_e.lng0").alias(f"{prefix}lng0"),
            F.col("_e.lat1").alias(f"{prefix}lat1"),
            F.col("_e.lng1").alias(f"{prefix}lng1"),
        )
    )


def loop_edge_crossing_pairs(loops_a: DataFrame,
                             loops_b: DataFrame) -> DataFrame:
    """(a_id, b_id) pairs whose loop boundaries PROPERLY cross —
    the strict-mode crossing leg.

    Plan: explode both sides into per-edge rows (codegen array ops),
    pair A edges against the broadcast B edge table (documented
    literal-dimension theta join: region tables are small dims — 3-30
    fixture rows, tens of edges; at data scale use the level-keyed
    candidate path in operators/shape_index.edge_crossing_join
    instead), refine with the complete crossing predicate inside one
    Arrow batch, and distinct the surviving pair keys."""
    from ..kernels import predicates as pred
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    ea = _loop_edges_latlng(loops_a, "a_id", "a_")
    eb = _loop_edges_latlng(loops_b, "b_id", "b_")
    pairs = ea.crossJoin(F.broadcast(eb))
    schema = StructType([
        StructField("a_id", StringType()),
        StructField("b_id", StringType()),
        StructField("crossing", IntegerType()),
    ])

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            def xyz(lat_col: str, lng_col: str) -> np.ndarray:
                lat = lk.degrees_to_radians(p[lat_col].to_numpy(np.float64))
                lng = lk.degrees_to_radians(p[lng_col].to_numpy(np.float64))
                x, y, z = lk.latlng_to_xyz(lat, lng)
                return np.stack([x, y, z], axis=1)

            cr = pred.crossing_sign_complete_batch(
                xyz("a_lat0", "a_lng0"), xyz("a_lat1", "a_lng1"),
                xyz("b_lat0", "b_lng0"), xyz("b_lat1", "b_lng1"),
            )
            yield pd.DataFrame({
                "a_id": p["a_id"], "b_id": p["b_id"],
                "crossing": cr.astype(np.int32),
            })

    return (
        pairs.mapInPandas(refine, schema)
        .filter(F.col("crossing") == 1)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
