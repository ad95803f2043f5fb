"""Workload inputs as pure functions of the seed (the region tables
are fixed and do not depend on it).

Nothing here touches Spark: the benchmark builds its inputs (and the
expected outputs in ``oracle.py``) from these arrays, and hands Spark
only the generated rows.

``synth_geo_points`` re-derives, from the documented synthesis rule,
the one geo coordinate that ``sources.synth_documents`` embeds in every
document (splitmix64 counter hash per (seed, doc_id), Box-Muller normal
deviates, normalised to the unit sphere).  It is written out here
rather than imported so that the output check does not share code with
the synthesis layer it checks, and so that a change to the synthesised
coordinates shows as a wrong result instead of silently changing the
workload.
"""

from __future__ import annotations

import numpy as np

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

# The loops that join the four fixture caps as the 7 regions of the
# pip_tile_checkpoint join (names from s2_geometry_rust_spark.fixtures).
JOIN_LOOPS = ("arctic_80", "candy_cane", "small_ne_cw")

HOT_RADIUS_DEG = 20.0
# The many-caps region table is a fixed dimension table: its layout (the
# hot cap's place, which caps share its shuffle partition) sets the size
# of the refine batches, so it does not change with the run's seed.
MANY_REGIONS_SEED = 20261017


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64) + _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        return x ^ (x >> np.uint64(31))


def _unit_uniform(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        key = (ids.astype(np.uint64) * np.uint64(0x100000001B3)
               + np.uint64(stream) * np.uint64(0x1000193)
               + np.uint64(seed))
    return (_splitmix64(key) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def doc_ids(n_docs: int) -> np.ndarray:
    """``doc-%08d`` ids of documents 0..n_docs-1."""
    return np.array([f"doc-{i:08d}" for i in range(n_docs)], dtype=object)


def synth_geo_points(n_docs: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat_deg, lng_deg) of the geo span of documents 0..n_docs-1."""
    ids = np.arange(n_docs, dtype=np.int64)
    u = [np.clip(_unit_uniform(ids, 100 + k, seed), 1e-300, None)
         for k in range(4)]
    g0 = np.sqrt(-2.0 * np.log(u[0])) * np.cos(2.0 * np.pi * u[1])
    g1 = np.sqrt(-2.0 * np.log(u[0])) * np.sin(2.0 * np.pi * u[1])
    g2 = np.sqrt(-2.0 * np.log(u[2])) * np.cos(2.0 * np.pi * u[3])
    n = np.sqrt(g0 * g0 + g1 * g1 + g2 * g2)
    n = np.where(n == 0.0, 1.0, n)
    lat = np.degrees(np.arcsin(np.clip(g2 / n, -1.0, 1.0)))
    lng = np.degrees(np.arctan2(g1 / n, g0 / n))
    return lat, lng


def _uniform_sphere(rng: np.random.Generator, n: int,
                    max_abs_lat: float = 90.0) -> tuple[np.ndarray, np.ndarray]:
    zmax = np.sin(np.radians(max_abs_lat))
    lat = np.degrees(np.arcsin(rng.uniform(-zmax, zmax, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


def _in_cap(rng: np.random.Generator, n: int, lat0: float, lng0: float,
            radius_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points strictly inside a spherical cap (95% of its
    radius, so no point sits on the boundary)."""
    cos_r = np.cos(np.radians(0.95 * radius_deg))
    z = rng.uniform(cos_r, 1.0, n)
    phi = rng.uniform(0.0, 2.0 * np.pi, n)
    s = np.sqrt(1.0 - z * z)
    p = np.stack([s * np.cos(phi), s * np.sin(phi), z])  # around +z
    a, b = np.radians(90.0 - lat0), np.radians(lng0)
    rot_y = np.array([[np.cos(a), 0.0, np.sin(a)], [0.0, 1.0, 0.0],
                      [-np.sin(a), 0.0, np.cos(a)]])
    rot_z = np.array([[np.cos(b), -np.sin(b), 0.0], [np.sin(b), np.cos(b), 0.0],
                      [0.0, 0.0, 1.0]])
    x, y, zz = rot_z @ rot_y @ p
    lat = np.degrees(np.arcsin(np.clip(zz, -1.0, 1.0)))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def many_regions(n_small: int, seed: int = MANY_REGIONS_SEED) -> list[tuple]:
    """``n_small`` random small caps (0.3-2 degrees) plus one 20-degree
    hot cap, as rows of fixtures.REGIONS_SCHEMA (region_id, kind,
    p0=lat, p1=lng, p2=radius_deg, p3, vertices, cell_ids, loops)."""
    rng = np.random.default_rng([seed, 1])
    hot_lat = float(rng.uniform(-50.0, 50.0))
    hot_lng = float(rng.uniform(-180.0, 180.0))
    lat, lng = _uniform_sphere(rng, n_small, max_abs_lat=75.0)
    r = rng.uniform(0.3, 2.0, n_small)
    rows = [("hot", "cap", hot_lat, hot_lng, HOT_RADIUS_DEG,
             None, None, None, None)]
    rows += [(f"cap-{i:05d}", "cap", float(lat[i]), float(lng[i]),
              float(r[i]), None, None, None, None) for i in range(n_small)]
    return rows


def many_points(n_points: int, seed: int) -> tuple[np.ndarray, np.ndarray,
                                                    np.ndarray]:
    """(point_id, lat, lng): every even point lies inside the hot cap of
    ``many_regions()``, every odd point is uniform on the sphere."""
    hot = many_regions(0)[0]
    rng = np.random.default_rng([seed, 2])
    n_hot = (n_points + 1) // 2
    hlat, hlng = _in_cap(rng, n_hot, hot[2], hot[3], HOT_RADIUS_DEG)
    ulat, ulng = _uniform_sphere(rng, n_points - n_hot)
    lat = np.empty(n_points)
    lng = np.empty(n_points)
    lat[0::2], lng[0::2] = hlat, hlng
    lat[1::2], lng[1::2] = ulat, ulng
    ids = np.array([f"pt-{i:07d}" for i in range(n_points)], dtype=object)
    return ids, lat, lng
