"""mvt_fast.encode_tile_cols must produce BYTE-IDENTICAL tiles to the
kernel encoder (kernel.mvt.encode_tile) — in its per-feature python
branch (< _VECTOR_MIN features), its columnar branch (>= _VECTOR_MIN)
and its whole-tile kernel fallback (curve / Z / M / raw-WKB features)."""

import numpy as np
import pytest

from geozero_spark.kernel import mvt as kmvt
from geozero_spark.kernel import structrepr as sr
from geozero_spark.kernel import tiles as ktiles
from geozero_spark.kernel import wkt
from geozero_spark.operators import mvt_fast

BOUNDS = (-10.0, -5.0, 10.0, 5.0)  # left, bottom, right, top
EXTENT = 4096
COLS = ("kind", "has_z", "has_m", "coords", "offs1", "offs2", "wkb")

GEOMS = [
    "POINT(0 0)",
    "POINT(-9.5 4.9)",
    "MULTIPOINT(1 1,2 2,-3 -3)",
    "LINESTRING(-8 -4,0 0,8 4)",
    "MULTILINESTRING((0 0,1 1),(2 2,3 3,4 4))",
    "POLYGON((-5 -2,5 -2,5 2,-5 2,-5 -2))",                     # CCW
    "POLYGON((-5 -2,-5 2,5 2,5 -2,-5 -2))",                     # CW input
    "POLYGON((-5 -2,5 -2,5 2,-5 2,-5 -2),(-1 -1,1 -1,1 1,-1 1,-1 -1))",
    "MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),((4 4,6 4,6 6,4 6,4 4),"
    "(4.5 4.5,5 4.5,5 5,4.5 5,4.5 4.5)))",
]

# features encode_tile_cols hands to the kernel encoder whole-tile
EXOTIC = [
    "CIRCULARSTRING(0 0,1 1,2 0)",
    "POINT Z (1 2 3)",
    "POINT M (1 2 3)",
]

FORCE_COLUMNAR = 0          # _VECTOR_MIN value that vectorizes every tile
FORCE_PYTHON = 10 ** 9      # _VECTOR_MIN value that never vectorizes


def _recs(geoms_wkt):
    return [sr.to_struct(wkt.decode(w)) for w in geoms_wkt]


def _cols(recs):
    """Per-feature structs (None = absent feature) -> the parallel column
    lists encode_tile_cols takes, as tiling's flat-column shuffle
    delivers them."""
    return [[None if r is None else r[c] for r in recs] for c in COLS]


def _fast(recs, keys=None, props=None):
    keys = [str(i) for i in range(len(recs))] if keys is None else keys
    return mvt_fast.encode_tile_cols("layer", EXTENT, keys, *_cols(recs),
                                     *BOUNDS, props_list=props)


def _kernel(recs, keys=None, props=None):
    """Reference: kernel.mvt.encode_tile over the features that pass the
    kernel's MVT validity rules, fid = row index; returns the same
    (bytes, n_features, n_skipped) shape as encode_tile_cols."""
    keys = [str(i) for i in range(len(recs))] if keys is None else keys
    feats, skipped = [], 0
    for i, rec in enumerate(recs):
        if rec is None:
            skipped += 1
            continue
        try:
            tg = ktiles.transform_geom_to_tile(sr.from_struct(rec), EXTENT,
                                               *BOUNDS)
            feats.append(kmvt.feature_from_geom(
                tg, properties=({"id": str(keys[i])} if props is None
                                else props[i]), fid=i))
        except (ktiles.MvtValidityError, kmvt.MvtError):
            skipped += 1
    blob = kmvt.encode_tile(kmvt.MvtTile(layers=[
        kmvt.MvtLayer(name="layer", extent=EXTENT, features=feats)]))
    return blob, len(feats), skipped


def _both_branches(monkeypatch, recs, keys=None, props=None):
    """encode_tile_cols with the python branch and with the columnar
    branch forced; both must equal the kernel reference."""
    want = _kernel(recs, keys, props)
    for vmin in (FORCE_PYTHON, FORCE_COLUMNAR):
        monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", vmin)
        assert _fast(recs, keys, props) == want, vmin
    return want


def test_layer_bytes_identical(monkeypatch):
    # the tile is field 3 wrapped around exactly the kernel's layer
    recs = _recs(GEOMS)
    layer = kmvt._encode_layer(kmvt.decode_tile(_kernel(recs)[0]).layers[0])
    want = bytearray()
    kmvt._write_bytes(want, 3, layer)
    for vmin in (FORCE_PYTHON, FORCE_COLUMNAR):
        monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", vmin)
        assert _fast(recs)[0] == bytes(want), vmin


def test_each_geom_individually(monkeypatch):
    for w in GEOMS:
        assert _both_branches(monkeypatch, _recs([w]))[1:] == (1, 0), w


def test_varints_np_matches_kernel():
    rng = np.random.default_rng(3)
    vals = np.concatenate([
        rng.integers(0, 128, 50), rng.integers(128, 1 << 14, 50),
        rng.integers(1 << 14, 1 << 35, 50),
        np.array([0, 1, 127, 128, 16383, 16384, 2 ** 63 - 1])])
    blob, lens = mvt_fast.varints_np(vals)
    ref = bytearray()
    for v in vals:
        kmvt._write_varint(ref, int(v))
    assert blob == bytes(ref)
    assert int(lens.sum()) == len(blob)


# (wkt, skipped by the kernel): rings and lines too short for MVT are
# skipped; a ring collapsing onto one tile coordinate is not (validity
# counts coordinates, not distinct ones)
VALIDITY = [
    ("POLYGON((0 0,1 1,0 0))", True),
    ("MULTIPOLYGON(((0 0,2 0,2 2,0 0)),((4 4,5 5,4 4)))", True),
    ("MULTILINESTRING((0 0,1 1),(2 2))", True),
    ("POLYGON((0 0,0.0001 0,0 0.0001,0 0))", False),
]


def test_validity_skips_match(monkeypatch):
    for w, skip in VALIDITY:
        want = _both_branches(monkeypatch, _recs([w, "POINT(1 1)"]))
        assert want[1:] == ((1, 1) if skip else (2, 0)), w


def test_fallback_for_exotic(monkeypatch):
    # every curve / Z / M feature routes the whole tile through the
    # kernel encoder, whichever branch its size would pick; the kernel
    # drops Z/M and skips curves (no MVT geometry type)
    for w in EXOTIC:
        for recs in (_recs([w]), _recs([w] + GEOMS),
                     _recs(GEOMS * 8 + [w])):
            want = _both_branches(monkeypatch, recs)
            assert want[1:] == ((len(recs) - 1, 1) if w.startswith("CIRC")
                                else (len(recs), 0)), w


def test_batched_tile_bytes_identical():
    blob, n, skipped = _fast(_recs(GEOMS))
    assert skipped == 0 and n == len(GEOMS)
    assert (blob, n, skipped) == _kernel(_recs(GEOMS))


def test_batched_each_geom_individually():
    # one-kind tiles past _VECTOR_MIN take the columnar builders
    # (points / lines / single-ring polygons) or its python slots
    n = mvt_fast._VECTOR_MIN + 1
    for w in GEOMS:
        recs = _recs([w] * n)
        assert _fast(recs) == _kernel(recs), w


def test_batched_validity_skip_and_fallback():
    # a 1-coordinate linestring is skipped, not fatal
    bad = sr.to_struct(wkt.decode("LINESTRING(1 1,2 2)"))
    bad["coords"] = bad["coords"][:2]  # truncate to one coordinate
    recs = [sr.to_struct(wkt.decode("POINT(0 0)")), bad]
    blob, n, skipped = _fast(recs)
    assert (n, skipped) == (1, 1)
    assert (blob, n, skipped) == _kernel(recs)
    # exotic kinds -> whole-tile kernel fallback, same bytes
    for w in EXOTIC:
        exo = _recs(["POINT(0 0)", w])
        assert _fast(exo) == _kernel(exo), w


def test_vectorized_big_tile_bytes_identical():
    """>= _VECTOR_MIN features exercises the columnar command builder."""
    rng = np.random.default_rng(7)
    geoms = []
    for i in range(40):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        geoms += [
            f"POINT({x:.4f} {y:.4f})",
            f"LINESTRING({x:.4f} {y:.4f},{x + 0.5:.4f} {y + 0.2:.4f},"
            f"{x - 0.3:.4f} {y - 0.1:.4f})",
            # CCW closed ring
            f"POLYGON(({x:.4f} {y:.4f},{x + 0.4:.4f} {y:.4f},"
            f"{x + 0.4:.4f} {y + 0.4:.4f},{x:.4f} {y + 0.4:.4f},"
            f"{x:.4f} {y:.4f}))",
            # CW input ring (must be re-oriented)
            f"POLYGON(({x:.4f} {y:.4f},{x:.4f} {y + 0.4:.4f},"
            f"{x + 0.4:.4f} {y + 0.4:.4f},{x + 0.4:.4f} {y:.4f},"
            f"{x:.4f} {y:.4f}))",
        ]
    geoms += GEOMS  # multipoint/multiline/holes hit the python scatter
    assert len(geoms) >= mvt_fast._VECTOR_MIN
    recs = _recs(geoms)
    blob, n, skipped = _fast(recs)
    assert skipped == 0 and n == len(geoms)
    assert (blob, n, skipped) == _kernel(recs)


def test_vectorized_matches_python_branch_with_skips(monkeypatch):
    """None rows, invalid linestrings and degenerate rings must skip
    identically in both branches (same n/skipped AND same bytes)."""
    rng = np.random.default_rng(11)
    recs = []
    for i in range(90):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        mod = i % 6
        if mod == 0:
            recs.append(None)
        elif mod == 1:
            bad = sr.to_struct(
                wkt.decode(f"LINESTRING({x:.3f} {y:.3f},0 0)"))
            bad["coords"] = bad["coords"][:2]  # 1 coord -> skip
            recs.append(bad)
        elif mod == 2:
            # ring collapses onto one tile coordinate (kept)
            w = (f"POLYGON(({x:.5f} {y:.5f},{x + 1e-05:.5f} {y:.5f},"
                 f"{x:.5f} {y + 1e-05:.5f},{x:.5f} {y:.5f}))")
            recs.append(sr.to_struct(wkt.decode(w)))
        elif mod == 3:
            # 2-coordinate ring -> skip
            recs.append(sr.to_struct(wkt.decode(
                f"POLYGON(({x:.3f} {y:.3f},0 0,{x:.3f} {y:.3f}))")))
        else:
            recs.append(sr.to_struct(wkt.decode(
                f"POINT({x:.4f} {y:.4f})")))
    r_vec = _fast(recs)
    assert r_vec == _kernel(recs)
    monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", FORCE_PYTHON)
    assert _fast(recs) == r_vec
    assert r_vec[2] > 0  # some features actually skipped


def test_columnar_framing_dedups_duplicate_keys(monkeypatch):
    # repeated feature keys must share one values-table slot in the
    # columnar framer exactly like the kernel's dedup
    keys = ["dup" if i % 3 == 0 else str(i) for i in range(100)]
    recs = _recs([f"POINT({i % 9 - 4} {i % 4 - 2})" for i in range(100)])
    assert _fast(recs, keys) == _kernel(recs, keys)
    _both_branches(monkeypatch, recs, keys)


@pytest.mark.parametrize("force_python", [False, True])
def test_cols_branch_bytes_identical(monkeypatch, force_python):
    """Same (bytes, n, skipped) as the kernel on None rows, duplicate
    keys, multi-ring/multi-part python-slot features and skip-inducing
    degenerates — both above and below the columnar threshold."""
    rng = np.random.default_rng(23)
    keys, recs = [], []
    for i in range(120):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        mod = i % 7
        keys.append("dup" if i % 5 == 0 else str(i))
        if mod == 0:
            recs.append(None)
        elif mod == 1:
            recs.append(sr.to_struct(wkt.decode(
                f"MULTILINESTRING(({x:.3f} {y:.3f},0 0),"
                f"(1 1,2 2,3 1))")))          # multi-part python slot
        elif mod == 2:
            w = (f"POLYGON(({x:.5f} {y:.5f},{x + 1e-05:.5f} {y:.5f},"
                 f"{x:.5f} {y + 1e-05:.5f},{x:.5f} {y:.5f}))")
            recs.append(sr.to_struct(wkt.decode(w)))  # collapsed ring
        elif mod == 3:
            recs.append(sr.to_struct(wkt.decode(
                f"POLYGON(({x:.3f} {y:.3f},{x + 0.8:.3f} {y:.3f},"
                f"{x + 0.8:.3f} {y + 0.6:.3f},{x:.3f} {y + 0.6:.3f},"
                f"{x:.3f} {y:.3f}),({x + 0.2:.3f} {y + 0.2:.3f},"
                f"{x + 0.4:.3f} {y + 0.2:.3f},{x + 0.2:.3f} "
                f"{y + 0.4:.3f},{x + 0.2:.3f} {y + 0.2:.3f}))")))
        else:
            recs.append(sr.to_struct(wkt.decode(
                f"POINT({x:.4f} {y:.4f})")))
    if force_python:
        monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", FORCE_PYTHON)
    for n_take in (3, len(recs)):  # below/above _VECTOR_MIN
        r = _fast(recs[:n_take], keys[:n_take])
        assert r == _kernel(recs[:n_take], keys[:n_take])
        assert r[2] > 0


def test_cols_branch_fallback_agreement():
    """A flat-kind feature carrying a raw WKB payload takes the kernel
    path for the whole tile, with the kernel's bytes and counts."""
    good = sr.to_struct(wkt.decode("POINT(1 1)"))
    exotic = dict(good)
    exotic["wkb"] = _recs(["CIRCULARSTRING(0 0,1 1,2 0)"])[0]["wkb"]
    for recs in ([good, exotic], [good] * 70 + [exotic, None]):
        assert _fast(recs) == _kernel(recs)


def _props_for(i):
    """Typed property mix: int / double / string / bool values, a
    shared string (exercises value dedup), and a key present only on
    some features (exercises per-feature tag lists + key table)."""
    d = {"id": str(i), "n": i * 7, "score": i * 0.5,
         "lang": "en" if i % 3 else "de", "flag": i % 2 == 0}
    if i % 4 == 0:
        d["extra"] = f"x{i}"
    return d


@pytest.mark.parametrize("n_feats", [5, 120])
def test_typed_props_three_branches_byte_identical(n_feats):
    """Typed feature properties keep all THREE encode paths byte-
    identical to the kernel encoder (mvt_writer.rs:380-401 value
    mapping, :357-374 tag/key/value dedup): the per-feature python
    branch (5 < _VECTOR_MIN), the columnar command branch (120, framed
    via the general key/value-dedup framer), and the kernel fallback
    (the same tile plus one Z feature)."""
    geoms = [GEOMS[i % len(GEOMS)] for i in range(n_feats)]
    for tail in ([], ["POINT Z (1 2 3)"]):
        recs = _recs(geoms + tail)
        props = [_props_for(i) for i in range(len(recs))]
        r = _fast(recs, props=props)
        assert r[1:] == (len(recs), 0)
        assert r == _kernel(recs, props=props)


def test_typed_props_default_unchanged():
    """props_list=None keeps the original {"id": str(key)} bytes — the
    single-key columnar framer equals the general framer on the same
    properties, and both equal the kernel."""
    recs = _recs([GEOMS[i % len(GEOMS)] for i in range(120)])
    id_props = [{"id": str(i)} for i in range(120)]
    r_default = _fast(recs)
    assert r_default == _fast(recs, props=id_props)
    assert r_default == _kernel(recs)


def test_typed_props_random_parity():
    """Property-based parity: random typed prop dicts (value collisions
    for dedup, absent keys, all four MVT value types, empty dicts)
    against the kernel encoder, above and below the columnar
    threshold."""
    from hypothesis import given, settings, strategies as st

    vals = st.one_of(
        st.integers(min_value=0, max_value=1 << 40),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8),
        st.booleans())
    props_st = st.dictionaries(
        st.text(min_size=1, max_size=6), vals, max_size=4)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(props_st, min_size=1, max_size=6),
           st.booleans())
    def run(prop_dicts, big):
        n = len(prop_dicts)
        if big:
            # replicate past the columnar threshold, keys stay aligned
            reps = (mvt_fast._VECTOR_MIN // n) + 1
            prop_dicts = prop_dicts * reps
            n = len(prop_dicts)
        recs = _recs([GEOMS[i % len(GEOMS)] for i in range(n)])
        assert _fast(recs, props=prop_dicts) == _kernel(
            recs, props=prop_dicts)

    run()
