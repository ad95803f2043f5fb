"""point_in_region_join route parity: the literal-InSet, driver
ancestor-join, distributed and salted-distributed candidate routes all
feed the one shared refine, so each must emit exactly the brute-force
kernel containment pairs on the same points — plus bit-level property
tests of the shared vectorized cap pass against region_from_row and of
the distributed route's JSON geometry against the Arrow list values."""

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
    _geometry_row,
    _refine_mask,
    _region_geometry,
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


def _python_udfs(df):
    """(name, [argument type names]) of every Python UDF that an
    ArrowEvalPythonExec of ``df``'s executed plan evaluates."""
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi \
        .CollectionConverters
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ArrowEvalPythonExec":
            out += [(u.name(), [a.dataType().typeName()
                                for a in conv.asJava(u.children())])
                    for u in conv.asJava(node.udfs())]
        todo.extend(conv.asJava(node.children()))
    return out


@pytest.mark.parametrize("route", list(ROUTES))
def test_refine_udf_is_keep_with_scalar_args(route, points, regions):
    """Every route evaluates the refine as one UDF named ``_keep`` (the
    name the benchmark attributes the ``arrow.refine.*`` layer by), and
    no array-, struct- or map-typed column crosses into it."""
    joined = ROUTES[route](points, regions)
    joined.collect()
    udfs = _python_udfs(joined)
    assert [name for name, _ in udfs] == ["_keep"], udfs
    args = udfs[0][1]
    assert not {"array", "struct", "map"} & set(args), args
    if route.startswith("distributed"):
        assert len(args) == 3 + 5 + 2, args  # lat, lng, rid; scalars; JSON


NAN_BITS = int(np.float64("nan").view(np.uint64))


def _bits(value, key=None, one_nan=False):
    """``value`` flattened to a tuple of tokens, each double as its
    uint64 bit pattern (so -0.0, NaN and 1-ulp changes all show).
    ``one_nan`` maps every NaN to the canonical NaN's bits."""
    if value is None:
        return (None,)
    if isinstance(value, dict):
        return tuple(t for k in sorted(value)
                     for t in (k, *_bits(value[k], k, one_nan)))
    if isinstance(value, (list, np.ndarray)):
        return ("[", *(t for v in value for t in _bits(v, None, one_nan)),
                "]")
    if key == "poly":
        return (int(value),)
    if one_nan and np.isnan(value):
        return (NAN_BITS,)
    return (int(np.float64(value).view(np.uint64)),)


def test_json_geometry_round_trips_bit_for_bit(spark):
    """vertices/loops through ``to_json`` in Spark and the refine's
    decoder equal the values the Arrow list path delivers, bit for bit:
    random coordinates, signed zeros, subnormals, the largest finite
    doubles, 1-ulp neighbours, NaN and +-inf; null lists, null vertices
    and null coordinates too.  The one exception is pinned: JSON has a
    single NaN, so a NaN with its sign bit set (or another payload)
    comes back as the canonical NaN."""
    rng = np.random.default_rng(4242)
    special = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
               1.7976931348623157e308, -1.7976931348623157e308,
               float("nan"), float("inf"), float("-inf"), 1e23, 0.1]
    base = np.concatenate([
        rng.uniform(-90.0, 90.0, 200), rng.uniform(-180.0, 180.0, 200),
        rng.choice([-1.0, 1.0], 200) * 10.0 ** rng.uniform(-320, 308, 200),
        [90.0, -90.0, 180.0, -180.0, 45.0, 1e-7],
    ])
    pool = np.concatenate([
        base, np.nextafter(base, np.inf), np.nextafter(base, -np.inf),
        special,
    ])

    def coord():
        return None if rng.random() < 0.02 else float(rng.choice(pool))

    def verts(n):
        return [None if rng.random() < 0.03 else
                {"lat": coord(), "lng": coord()} for _ in range(n)]

    rows = [_row("specials", "loop",
                 vertices=[{"lat": v, "lng": -v} for v in special])]
    for i in range(150):
        loops = None if i % 7 == 0 else [
            {"poly": int(rng.integers(-2**62, 2**62)),
             "vertices": None if rng.random() < 0.1
             else verts(int(rng.integers(0, 6)))}
            for _ in range(int(rng.integers(0, 4)))
        ]
        vertices = None if i % 5 == 0 else verts(int(rng.integers(0, 9)))
        rows.append(_row(f"r{i:03d}", "polygon", vertices=vertices,
                         loops=loops))
    df = spark.createDataFrame([tuple(r[c] for c in COLS) for r in rows],
                               fixtures.REGIONS_SCHEMA)

    encoded = _region_geometry(df)
    types = dict(encoded.dtypes)
    assert types["vertices"] == types["loops"] == "string", types
    got = {r["region_id"]: _geometry_row(r)
           for r in encoded.toPandas().to_dict("records")}
    want = df.select("region_id", "vertices", "loops").toPandas()
    assert len(got) == len(want) == len(rows)
    for w in want.to_dict("records"):
        g = got[w["region_id"]]
        for c in ("vertices", "loops"):
            assert _bits(g[c]) == _bits(w[c], one_nan=True), (w["region_id"], c)
            if w["region_id"] != "specials":  # its lng holds -NaN
                assert _bits(g[c]) == _bits(w[c]), (w["region_id"], c)
    specials = want.set_index("region_id").loc["specials", "vertices"]
    assert int(np.float64(specials[7]["lng"]).view(np.uint64)) >> 63 == 1
    # the edge values were really exercised, non-finite ones quoted
    text = encoded.filter("region_id = 'specials'").first()["vertices"]
    for lit in ('"NaN"', '"Infinity"', '"-Infinity"', "-0.0", "4.9E-324"):
        assert lit in text, lit


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
