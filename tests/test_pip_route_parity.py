"""point_in_region_join route parity: the literal-InSet, driver
ancestor-join, distributed and salted-distributed candidate routes all
feed the one shared refine, so each must emit exactly the brute-force
kernel containment pairs on the same points — plus a bit-level property
test of the shared vectorized cap pass against region_from_row."""

import numpy as np
import pandas as pd
import pytest

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.functions import cell_id_from_latlng_deg
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.operators.coverings import (
    conservative_coverings,
    region_from_row,
)
from s2_geometry_rust_spark.operators.spatial_join import (
    DISTRIBUTED_REGION_THRESHOLD,
    _cap_params,
    _refine_mask,
    point_in_region_join,
    point_in_region_join_distributed,
)

COLS = [f.name for f in fixtures.REGIONS_SCHEMA.fields]


def _row(rid, kind, p=(None, None, None, None), vertices=None,
         cell_ids=None, loops=None):
    return dict(zip(COLS, (rid, kind, *p, vertices, cell_ids, loops)))


def _verts(loop_name):
    return [{"lat": float(a), "lng": float(b)}
            for a, b in fixtures.LOOPS[loop_name]]


def _sphere_points(rng, n):
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


@pytest.fixture(scope="module")
def region_rows():
    rng = np.random.default_rng(17)
    rows = [_row(n, "cap", (*c, None)) for n, c in fixtures.CAPS.items()]
    rows.append(_row("cap_over_180", "cap", (12.0, 34.0, 200.0, None)))
    rows.append(_row("cap_nan_radius", "cap", (-3.0, 7.0, float("nan"), None)))
    lat, lng = rng.uniform(-70, 70, 100), rng.uniform(-180, 180, 100)
    rad = rng.uniform(0.5, 3.0, 100)
    rows += [
        _row(f"small_cap_{i:03d}", "cap",
             (float(lat[i]), float(lng[i]), float(rad[i]), None))
        for i in range(100)
    ]
    rows += [
        _row(n, "loop", vertices=_verts(n))
        for n in ("candy_cane", "small_ne_cw", "arctic_80")
    ]
    rows += [_row(n, "rect", tuple(map(float, r)))
             for n, r in fixtures.RECTS.items()]
    rows += [
        _row(n, "polygon", loops=[
            {"poly": poly, "vertices": _verts(ln)}
            for poly, ln in fixtures.POLYGONS[n]
        ])
        for n in ("north_hole_arctic", "cane_hole_multi")
    ]
    # the level-5 cells holding the Seattle and Sydney cap centers
    union = []
    for c in list(fixtures.CAPS.values())[2:4]:
        xyz = lk.latlng_to_xyz(lk.degrees_to_radians(np.array([c[0]])),
                               lk.degrees_to_radians(np.array([c[1]])))
        cell = ck.parent(ck.from_point(*xyz), 5)
        union.append(int(np.asarray(cell, np.uint64).view(np.int64)[0]))
    rows.append(_row("union_two_cells", "union", cell_ids=sorted(union)))
    return rows


@pytest.fixture(scope="module")
def regions(spark, region_rows):
    return spark.createDataFrame(
        [tuple(r[c] for c in COLS) for r in region_rows],
        fixtures.REGIONS_SCHEMA,
    )


@pytest.fixture(scope="module")
def points(spark, region_rows):
    rng = np.random.default_rng(23)
    lat, lng = _sphere_points(rng, 2000)
    # clusters straddling the fixture caps (and so the union's cells)
    for c in fixtures.CAPS.values():
        lat = np.append(lat, c[0] + rng.normal(0, 2.0 * c[2], 150))
        lng = np.append(lng, c[1] + rng.normal(0, 2.0 * c[2], 150))
    lat = np.clip(lat, -90.0, 90.0)
    lng = (lng + 180.0) % 360.0 - 180.0
    pdf = pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lng": lng})
    df = spark.createDataFrame(pdf)
    return df.withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng")).cache()


@pytest.fixture(scope="module")
def expected(points, region_rows):
    pdf = points.toPandas()
    lat_r = lk.degrees_to_radians(pdf["lat"].to_numpy(np.float64))
    lng_r = lk.degrees_to_radians(pdf["lng"].to_numpy(np.float64))
    x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
    leaf = pdf["cell_id"].to_numpy(np.int64).view(np.uint64)
    pairs = set()
    for row in region_rows:
        kind = row["kind"]
        if kind == "union":
            # no exact test: the covering decides, and this union's
            # covering is the union itself (pinned below)
            cells = np.asarray(row["cell_ids"], np.int64).view(np.uint64)
            m = np.zeros(len(leaf), bool)
            for c in cells:
                m |= (leaf >= ck.range_min(c)) & (leaf <= ck.range_max(c))
        else:
            reg = region_from_row(row)
            if kind == "cap":
                m = reg.cap.contains_points_batch(x, y, z)
            elif kind == "loop":
                m = reg.loop.contains_points_batch(x, y, z)
            elif kind == "polygon":
                m = reg.contains_points_batch(x, y, z)
            else:
                m = reg.rect.contains_latlng_batch(lat_r, lng_r)
        pairs |= {(int(p), row["region_id"])
                  for p in pdf["pid"].to_numpy()[np.asarray(m, bool)]}
    return pairs


def test_route_preconditions(region_rows, expected):
    """Each route below really is the route its name says, and every
    region kind contributes pairs."""
    assert len(region_rows) < DISTRIBUTED_REGION_THRESHOLD
    n8 = sum(len(c) for c in conservative_coverings(region_rows, max_cells=8))
    n64 = sum(len(c) for c in conservative_coverings(region_rows, max_cells=64))
    assert n8 <= 1000 < n64, (n8, n64)
    union = next(r for r in region_rows if r["kind"] == "union")
    want = np.sort(np.asarray(union["cell_ids"], np.int64).view(np.uint64))
    for budget in (8, 64):
        got = np.sort(conservative_coverings([union], max_cells=budget)[0])
        assert np.array_equal(got, want), budget
    got_ids = {rid for _, rid in expected}
    for rid in ("cap_over_180", "cap_nan_radius", "candy_cane", "small_ne_cw",
                "rect_antimeridian", "north_hole_arctic", "cane_hole_multi",
                "union_two_cells", "cap_sydney_5deg"):
        assert rid in got_ids, rid


ROUTES = {
    "literal_inset": lambda p, r: point_in_region_join(
        p, r, max_cells=8, distributed=False),
    "driver_ancestor_join": lambda p, r: point_in_region_join(
        p, r, max_cells=64, distributed=False),
    "distributed": lambda p, r: point_in_region_join(
        p, r, max_cells=8, distributed=True),
    "distributed_salted": lambda p, r: point_in_region_join_distributed(
        p, r, max_cells=64, n_salts=8),
}


@pytest.mark.parametrize("route", list(ROUTES))
def test_route_matches_brute_force(route, points, regions, expected):
    joined = ROUTES[route](points, regions)
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join ")
    assert n_joins == {"literal_inset": 0, "driver_ancestor_join": 1}.get(
        route, 2), plan
    assert ("_salt" in plan) == (route == "distributed_salted"), plan
    got = {(r["pid"], r["region_id"])
           for r in joined.select("pid", "region_id").collect()}
    assert not got - expected, sorted(got - expected)[:10]
    assert not expected - got, sorted(expected - got)[:10]


def test_cap_pass_bit_identical_to_region_from_row():
    """The shared vectorized cap pass reproduces region_from_row(row).cap
    to the last bit (center xyz and radius_l2, incl. radius >= 180 deg,
    NaN, negative and infinite radii) and its masks equal
    S2Cap.contains_points_batch."""
    rng = np.random.default_rng(2024)
    n = 600
    lat = rng.uniform(-90.0, 90.0, n)
    lng = rng.uniform(-180.0, 180.0, n)
    rad = rng.uniform(0.0, 200.0, n)
    lat[:6] = [90.0, -90.0, 45.0, -45.0, 0.0, 89.999]
    lng[:6] = [180.0, -180.0, 90.0, -90.0, 45.0, 0.0]
    rad[:10] = [0.0, 180.0, 190.0, 360.0, np.nan, np.nan, -1.0,
                np.inf, -np.inf, 1e-12]
    cx, cy, cz, r_l2 = _cap_params(lat, lng, rad)
    want = [region_from_row({"kind": "cap", "p0": a, "p1": b, "p2": c}).cap
            for a, b, c in zip(lat, lng, rad)]
    for got, field in ((cx, "cx"), (cy, "cy"), (cz, "cz"),
                       (r_l2, "radius_l2")):
        ref = np.array([getattr(w, field) for w in want], np.float64)
        assert np.array_equal(np.asarray(got, np.float64).view(np.uint64),
                              ref.view(np.uint64)), field

    # masks: each candidate row pairs a random point with one of the caps
    m = 20_000
    owner = rng.integers(0, n, m)
    plat, plng = _sphere_points(rng, m)
    plat[:n], plng[:n] = lat, lng  # every cap's own center too
    owner[:n] = np.arange(n)
    rid = pd.Series([f"c{i}" for i in owner])
    per_row = {"kind": np.full(m, "cap", object), "p0": lat[owner],
               "p1": lng[owner], "p2": rad[owner]}
    got = _refine_mask(
        pd.Series(plat), pd.Series(plng), rid,
        lambda _rids, first: ({c: v[first] for c, v in per_row.items()}, None),
        cache={},
    )
    x, y, z = lk.latlng_to_xyz(lk.degrees_to_radians(plat),
                               lk.degrees_to_radians(plng))
    ref = np.zeros(m, bool)
    for i in np.unique(owner):
        sel = owner == i
        ref[sel] = want[i].contains_points_batch(x[sel], y[sel], z[sel])
    assert np.array_equal(got, ref)
    assert 0 < got.sum() < m
