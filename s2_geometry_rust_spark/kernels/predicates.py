"""Robust geometric predicates, tiered fast->exact.

Mirrors ``/root/reference/src/predicates.rs``:
- triage: f64 determinant vs threshold 3.6548*eps (predicates.rs:44,147-157);
- stable tier is a stub in the reference (always falls through,
  predicates.rs:167-171) — mirrored by going straight to exact;
- exact: rational arithmetic via Python ``fractions.Fraction`` (exact for
  IEEE-754 doubles), with the reference's degenerate-triangle pre-filter
  at eps*1e6 (predicates.rs:245-250) and its XOR-hash symbolic
  perturbation (predicates.rs:287-300, NOT canonical E&M);
- ``crossing_sign`` returns only +/-1 (predicates.rs:666-682).

The batch entry points vectorize the triage tier in numpy and fall back
to per-row exact arithmetic only for flagged rows (<1% by design,
/root/reference/src/lib.rs:18-20).
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

EPS = float(np.finfo(np.float64).eps)
TRIAGE_ERROR_THRESHOLD = 3.6548 * EPS
DEGENERATE_EPS = EPS * 1e6

# instrumentation: how many rows hit the exact tier (sanity target <1%)
EXACT_FALLBACK_COUNT = 0
TRIAGE_TOTAL_COUNT = 0


def _cross(ax, ay, az, bx, by, bz):
    return (ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx)


def triage_det(ax, ay, az, bx, by, bz, cx, cy, cz):
    """det = (a x b) . c in plain f64."""
    ux, uy, uz = _cross(ax, ay, az, bx, by, bz)
    return ux * cx + uy * cy + uz * cz


def _to_bits(x: float) -> int:
    return int(np.float64(x).view(np.uint64))


def _symbolic_perturbation_sign(a, b, c) -> int:
    """XOR-hash tiebreak (predicates.rs:287-300)."""
    ab = [_to_bits(v) for v in a]
    bb = [_to_bits(v) for v in b]
    cb = [_to_bits(v) for v in c]
    h = (ab[0] ^ bb[1] ^ cb[2] ^ ab[1] ^ bb[2] ^ cb[0] ^ ab[2] ^ bb[0] ^ cb[1])
    return 1 if (h & 1) == 0 else -1


def _len2(u):
    return u[0] * u[0] + u[1] * u[1] + u[2] * u[2]


def _sub(u, v):
    return (u[0] - v[0], u[1] - v[1], u[2] - v[2])


def exact_sign_scalar(a, b, c) -> int:
    """Exact-arithmetic orientation (predicates.rs:208-242)."""
    if (_len2(_sub(a, b)) < DEGENERATE_EPS or _len2(_sub(b, c)) < DEGENERATE_EPS
            or _len2(_sub(a, c)) < DEGENERATE_EPS):
        return 0
    fa = [Fraction(float(v)) for v in a]
    fb = [Fraction(float(v)) for v in b]
    fc = [Fraction(float(v)) for v in c]
    cx = fa[1] * fb[2] - fa[2] * fb[1]
    cy = fa[2] * fb[0] - fa[0] * fb[2]
    cz = fa[0] * fb[1] - fa[1] * fb[0]
    det = cx * fc[0] + cy * fc[1] + cz * fc[2]
    if det > 0:
        return 1
    if det < 0:
        return -1
    return _symbolic_perturbation_sign(a, b, c)


def sign_batch(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized robust sign over (n,3) arrays (predicates.rs:99-108)."""
    global EXACT_FALLBACK_COUNT, TRIAGE_TOTAL_COUNT
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    det = triage_det(a[..., 0], a[..., 1], a[..., 2],
                     b[..., 0], b[..., 1], b[..., 2],
                     c[..., 0], c[..., 1], c[..., 2])
    out = np.where(det > TRIAGE_ERROR_THRESHOLD, 1,
                   np.where(det < -TRIAGE_ERROR_THRESHOLD, -1, 0)).astype(np.int32)
    TRIAGE_TOTAL_COUNT += out.size
    unresolved = np.flatnonzero(out.ravel() == 0)
    if unresolved.size:
        EXACT_FALLBACK_COUNT += int(unresolved.size)
        fa = a.reshape(-1, 3)
        fb = b.reshape(-1, 3)
        fc = c.reshape(-1, 3)
        flat = out.ravel()
        for i in unresolved:
            flat[i] = exact_sign_scalar(fa[i], fb[i], fc[i])
        out = flat.reshape(out.shape)
    return out


def sign_scalar(a, b, c) -> int:
    return int(sign_batch(np.asarray(a, dtype=np.float64)[None, :],
                          np.asarray(b, dtype=np.float64)[None, :],
                          np.asarray(c, dtype=np.float64)[None, :])[0])


def crossing_sign_batch(a, b, c, d) -> np.ndarray:
    """Edge-pair interior crossing; returns ONLY +1 / -1
    (predicates.rs:666-682: never 0)."""
    acb = sign_batch(a, c, b)
    bdc = sign_batch(b, d, c)
    cad = sign_batch(c, a, d)
    dba = sign_batch(d, b, a)
    crossing = (acb * bdc > 0) & (cad * dba > 0)
    return np.where(crossing, 1, -1).astype(np.int32)


def crossing_sign_complete_batch(a, b, c, d) -> np.ndarray:
    """Geometrically COMPLETE edge-pair interior crossing (engine
    addition behind the opt-in strict loop predicates; the parity
    default stays crossing_sign_batch above).

    The reference's two-product test (predicates.rs:666-682) fires on
    ~12% of random non-crossing arc pairs because it never relates the
    two sign families — two great circles meet at ANTIPODAL points and
    the products alone can both pass when the arcs straddle opposite
    intersection points.  The complete rule ties them together:

        sign(a,b,c) != sign(a,b,d)          (c, d straddle circle AB)
        AND sign(c,d,a) != sign(c,d,b)      (a, b straddle circle CD)
        AND sign(a,b,c) == sign(c,d,b)      (same intersection point)

    Fuzz-validated against the explicit construction (intersection
    direction (a x b) x (c x d), interior-to-both-minor-arcs test) on
    20k random arc pairs with zero mismatches
    (tests/test_loop_strict_round4.py).  All signs run through the same
    tiered triage->exact sign_batch, so near-degenerate inputs resolve
    exactly.  Returns +1 (proper crossing) / -1 (none)."""
    abc = sign_batch(a, b, c)
    abd = sign_batch(a, b, d)
    cda = sign_batch(c, d, a)
    cdb = sign_batch(c, d, b)
    crossing = (abc * abd < 0) & (cda * cdb < 0) & (abc * cdb > 0)
    return np.where(crossing, 1, -1).astype(np.int32)


def compare_distances_scalar(x, a, b) -> int:
    """sign(|XA| - |XB|) with error-bounded fast path + exact fallback
    (predicates.rs:321-367)."""
    xa = _len2(_sub(x, a))
    xb = _len2(_sub(x, b))
    diff = xa - xb
    err = 4.0 * EPS * (xa + xb)
    if diff > err:
        return 1
    if diff < -err:
        return -1
    fxa = [Fraction(float(a[i]) - float(x[i])) for i in range(3)]
    fxb = [Fraction(float(b[i]) - float(x[i])) for i in range(3)]
    exa = fxa[0] ** 2 + fxa[1] ** 2 + fxa[2] ** 2
    exb = fxb[0] ** 2 + fxb[1] ** 2 + fxb[2] ** 2
    if exa > exb:
        return 1
    if exa < exb:
        return -1
    return 0


def compare_distance_scalar(x, r: float) -> int:
    """sign(|X| - r) (predicates.rs:378-409)."""
    x2 = _len2(x)
    r2 = r * r
    diff = x2 - r2
    err = 4.0 * EPS * (x2 + r2)
    if diff > err:
        return 1
    if diff < -err:
        return -1
    fx = [Fraction(float(v)) for v in x]
    ex = fx[0] ** 2 + fx[1] ** 2 + fx[2] ** 2
    er = Fraction(float(r)) ** 2
    if ex > er:
        return 1
    if ex < er:
        return -1
    return 0


_EDGE_DIRECTION_ERROR = 2.0 * float(np.finfo(np.float64).eps)


def compare_edge_directions_scalar(a0, a1, b0, b1) -> int:
    """predicates.rs:419-445 — NOTE the reference quirk: nearly-parallel
    edges return 0 for BOTH same and opposite direction (the dot-product
    branch returns 0 either way)."""
    a0 = np.asarray(a0, np.float64)
    a1 = np.asarray(a1, np.float64)
    b0 = np.asarray(b0, np.float64)
    b1 = np.asarray(b1, np.float64)
    edge_a = a1 - a0
    edge_b = b1 - b0
    cross = np.cross(edge_a, edge_b)
    if float(np.linalg.norm(cross)) < _EDGE_DIRECTION_ERROR:
        return 0
    center = (a0 + a1 + b0 + b1) * 0.25
    cs = float(cross @ center)
    if cs > _EDGE_DIRECTION_ERROR:
        return 1
    if cs < -_EDGE_DIRECTION_ERROR:
        return -1
    return 0


def _min_edge_distance(point, edge_start, edge_end) -> float:
    """predicates.rs:548-562: euclidean point-to-segment distance in R3
    (the reference's simplification — not a geodesic distance)."""
    point = np.asarray(point, np.float64)
    edge_start = np.asarray(edge_start, np.float64)
    edge_end = np.asarray(edge_end, np.float64)
    edge = edge_end - edge_start
    l2 = float(edge @ edge)
    if l2 < np.finfo(np.float64).eps:
        return float(np.linalg.norm(point - edge_start))
    t = float(np.clip((point - edge_start) @ edge / l2, 0.0, 1.0))
    return float(np.linalg.norm(point - (edge_start + t * edge)))


def compare_edge_distance_scalar(x, a0, a1, r: float) -> int:
    """sign(dist(x, edge a0a1) - r), predicates.rs:503-520."""
    x = np.asarray(x, np.float64)
    a0 = np.asarray(a0, np.float64)
    a1 = np.asarray(a1, np.float64)
    edge = a1 - a0
    l2 = float(edge @ edge)
    if l2 < np.finfo(np.float64).eps:
        return compare_distance_scalar(x - a0, r)
    t = float(np.clip((x - a0) @ edge / l2, 0.0, 1.0))
    return compare_distance_scalar(x - (a0 + t * edge), r)


def compare_edge_pair_distance_scalar(a0, a1, b0, b1, r: float) -> int:
    """predicates.rs:525-545 (vertex-to-edge sampling; borderline -> 0
    placeholder, reproduced)."""
    eps4 = 4.0 * float(np.finfo(np.float64).eps)
    m = min(
        _min_edge_distance(a0, b0, b1),
        _min_edge_distance(a1, b0, b1),
        _min_edge_distance(b0, a0, a1),
        _min_edge_distance(b1, a0, a1),
    )
    if m > r + eps4:
        return 1
    if m < r - eps4:
        return -1
    return 0


def ordered_ccw_scalar(a, b, c, o) -> bool:
    """B within the CCW angle from A to C around O (predicates.rs:466-496,
    the reference's simplified version)."""
    s_oab = sign_scalar(o, a, b)
    s_obc = sign_scalar(o, b, c)
    s_oca = sign_scalar(o, c, a)
    if s_oab == 0:
        return s_oca * s_obc >= 0
    if s_obc == 0:
        return s_oab * s_oca >= 0
    if s_oca == 0:
        return s_oab == s_obc
    if s_oca > 0:
        return s_oab > 0 and s_obc > 0
    return s_oab > 0 or s_obc > 0


def _ref_dir(a):
    """S2::Ortho analogue (predicates.rs:644-660)."""
    aa = np.abs(np.asarray(a, dtype=np.float64))
    if aa[0] <= aa[1] and aa[0] <= aa[2]:
        v = np.array([0.0, a[2], -a[1]])
    elif aa[1] <= aa[2]:
        v = np.array([-a[2], 0.0, a[0]])
    else:
        v = np.array([a[1], -a[0], 0.0])
    n = np.linalg.norm(v)
    # glam normalize = multiply by reciprocal length
    return v * (1.0 / n)


def _eq3(u, v) -> bool:
    return u[0] == v[0] and u[1] == v[1] and u[2] == v[2]


def vertex_crossing_scalar(a, b, c, d) -> bool:
    """Shared-vertex crossing rules (predicates.rs:570-597)."""
    if _eq3(a, b) or _eq3(c, d):
        return False
    if _eq3(a, c):
        return ordered_ccw_scalar(_ref_dir(a), d, b, a)
    if _eq3(a, d):
        return _eq3(b, c) or ordered_ccw_scalar(_ref_dir(a), c, b, a)
    if _eq3(b, c):
        return ordered_ccw_scalar(_ref_dir(b), d, a, b)
    if _eq3(b, d):
        return ordered_ccw_scalar(_ref_dir(b), c, a, b)
    return False


def signed_vertex_crossing_scalar(a, b, c, d) -> int:
    """predicates.rs:603-638."""
    if _eq3(a, b) or _eq3(c, d):
        return 0
    if _eq3(a, c):
        return 1 if (_eq3(b, d) or ordered_ccw_scalar(_ref_dir(a), d, b, a)) else 0
    if _eq3(b, d):
        return 1 if ordered_ccw_scalar(_ref_dir(b), c, a, b) else 0
    if _eq3(a, d):
        return -1 if (_eq3(b, c) or ordered_ccw_scalar(_ref_dir(a), c, b, a)) else 0
    if _eq3(b, c):
        return -1 if ordered_ccw_scalar(_ref_dir(b), d, a, b) else 0
    return 0


def edge_or_vertex_crossing_scalar(a, b, c, d) -> bool:
    """predicates.rs:687-697."""
    crossing = int(crossing_sign_batch(
        np.asarray(a, dtype=np.float64)[None, :],
        np.asarray(b, dtype=np.float64)[None, :],
        np.asarray(c, dtype=np.float64)[None, :],
        np.asarray(d, dtype=np.float64)[None, :])[0])
    if crossing < 0:
        return False
    if crossing > 0:
        return True
    return vertex_crossing_scalar(a, b, c, d)


def sign_with_cross_product(a, b, c, a_cross_b) -> int:
    """predicates.rs:123-135: triage with a PRECOMPUTED a x b (det =
    (a x b) . c against the +-3.6548eps threshold), falling through to
    the exact path on uncertainty."""
    det = float(np.dot(np.asarray(a_cross_b, dtype=np.float64),
                       np.asarray(c, dtype=np.float64)))
    if det > TRIAGE_ERROR_THRESHOLD:
        return 1
    if det < -TRIAGE_ERROR_THRESHOLD:
        return -1
    return exact_sign_scalar(a, b, c)
