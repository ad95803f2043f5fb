"""Expected outputs, computed on a path that shares no Spark, Arrow,
covering or join code with the layers under test.

* Join workloads: exact kernel containment (``kernels.caps`` /
  ``kernels.loops``) of EVERY point against EVERY region -- no
  coverings, no candidate filter, no Spark join.
* Tile counts: leaf cells from the numpy kernel
  (``kernels.cellid.from_point``), parents at the tile level, counted
  with ``np.unique``.

A result is summarised as a row count plus an order-independent digest
equal to Spark's ``bit_xor(xxhash64(col_a, col_b))``, so one aggregate
over the engine's output can be compared with it.  ``xxhash64`` below
reimplements Spark's XxHash64 (seed 42) for string and long columns.
"""

from __future__ import annotations

import json
import os

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _xxh64_rows(buf: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each row of a (n, L) uint8 matrix, one seed per row."""
    n, length = buf.shape
    pos = 0
    with np.errstate(over="ignore"):
        if length >= 32:
            v = [seed + _P1 + _P2, seed + _P2, seed.copy(), seed - _P1]
            while pos + 32 <= length:
                lanes = buf[:, pos:pos + 32].copy().view("<u8")
                v = [_round(v[k], lanes[:, k]) for k in range(4)]
                pos += 32
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for k in range(4):
                h = (h ^ _round(np.zeros_like(h), v[k])) * _P1 + _P4
        else:
            h = seed + _P5
        h = h + np.uint64(length)
        while pos + 8 <= length:
            word = buf[:, pos:pos + 8].copy().view("<u8")[:, 0]
            h = _rotl(h ^ _round(np.zeros_like(h), word), 27) * _P1 + _P4
            pos += 8
        if pos + 4 <= length:
            word = buf[:, pos:pos + 4].copy().view("<u4")[:, 0].astype(np.uint64)
            h = _rotl(h ^ (word * _P1), 23) * _P2 + _P3
            pos += 4
        while pos < length:
            h = _rotl(h ^ (buf[:, pos].astype(np.uint64) * _P5), 11) * _P1
            pos += 1
        return _fmix(h)


def _hash_column(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    if values.dtype == np.int64:
        return _xxh64_rows(values.astype("<i8").view(np.uint8).reshape(-1, 8), seed)
    raw = [str(s).encode("utf-8") for s in values]
    lengths = np.fromiter((len(b) for b in raw), np.int64, count=len(raw))
    out = np.empty(len(raw), np.uint64)
    for length in np.unique(lengths):
        idx = np.nonzero(lengths == length)[0]
        blob = b"".join(raw[i] for i in idx)
        buf = np.frombuffer(blob, np.uint8).reshape(len(idx), int(length))
        out[idx] = _xxh64_rows(buf, seed[idx])
    return out


def xxhash64(*columns: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64(c1, c2, ...)`` per row, as int64.  Columns are
    int64 arrays (Spark LongType) or sequences of str (StringType)."""
    n = len(columns[0])
    h = np.full(n, SPARK_HASH_SEED, np.uint64)
    for col in columns:
        h = _hash_column(np.asarray(col), h)
    return h.view(np.int64)


def digest(*columns: np.ndarray) -> int:
    """Spark's ``bit_xor(xxhash64(...))`` over all rows (0 when empty)."""
    h = xxhash64(*columns)
    return int(np.bitwise_xor.reduce(h)) if len(h) else 0


def _xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    from s2_geometry_rust_spark.kernels import latlng as lk

    return lk.latlng_to_xyz(lk.degrees_to_radians(lat_deg),
                            lk.degrees_to_radians(lng_deg))


def containment_pairs(lat: np.ndarray, lng: np.ndarray,
                      regions: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force point-in-region: every (point, region) pair through
    the region's exact kernel predicate.  Returns (point index, region
    id) of each contained pair."""
    from s2_geometry_rust_spark.operators.coverings import region_from_row

    x, y, z = _xyz(lat, lng)
    pidx, rids = [], []
    for row in regions:
        reg = region_from_row(row)
        if row["kind"] == "cap":
            inside = reg.cap.contains_points_batch(x, y, z)
        elif row["kind"] == "loop":
            inside = reg.loop.contains_points_batch(x, y, z)
        else:
            raise ValueError(f"no brute-force predicate for {row['kind']}")
        hit = np.nonzero(inside)[0]
        pidx.append(hit)
        rids.append(np.full(len(hit), row["region_id"], dtype=object))
    return np.concatenate(pidx), np.concatenate(rids)


def expected_tiles(lat: np.ndarray, lng: np.ndarray, level: int) -> dict:
    """Tile counts of the points at ``level``: {"tiles", "rows",
    "digest"} with digest = bit_xor(xxhash64(tile_id, row_count))."""
    from s2_geometry_rust_spark.kernels import cellid as ck

    leaves = ck.from_point(*_xyz(lat, lng))
    tiles, counts = np.unique(ck.parent(leaves, level).view(np.int64),
                              return_counts=True)
    return {"tiles": int(len(tiles)), "rows": int(counts.sum()),
            "digest": digest(tiles, counts.astype(np.int64))}


def matches(observed: dict, expected: dict) -> bool:
    """True when an observed trial summary agrees with the expected one
    on every expected field."""
    return all(observed.get(k) == v for k, v in expected.items())


class ExpectedStore:
    """Expected results on disk, one JSON file per (workload, seed,
    size), so a seed that is run again is not recomputed."""

    def __init__(self, root: str):
        self.root = root

    def get(self, workload: str, seed: int, size_key: str, compute) -> dict:
        path = os.path.join(self.root, f"{workload}-seed{seed}-{size_key}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        value = compute()
        os.makedirs(self.root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value
