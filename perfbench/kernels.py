"""Kernel timings without Spark: the numpy / pure-Python codecs and
per-task kernels the Python-boundary stages run, on fixed seeded
inputs. Each figure is the median of several repeats, per item."""

from __future__ import annotations

import statistics
import time

import numpy as np

REPEATS = 5
TILE = (-10.0, -5.0, 10.0, 5.0)  # left, bottom, right, top (degrees)


def _per_item(fn, n_items: int, scale: float) -> float:
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / n_items * scale


def _wkts(rng, n: int) -> list:
    """Points, 3-point lines and diamond polygons in centi-degree
    integers, the shapes the pages synthesis embeds."""
    out = []
    for i in range(n):
        x, y = (int(v) for v in rng.integers(-900, 900, size=2))
        if i % 3 == 0:
            out.append(f"POINT({x} {y})")
        elif i % 3 == 1:
            out.append(f"LINESTRING({x} {y},{x + 100} {y + 50},{x + 200} {y})")
        else:
            out.append(f"POLYGON(({x + 305} {y},{x} {y + 305},{x - 305} {y},"
                       f"{x} {y - 305},{x + 305} {y}))")
    return out


def run(seed: int) -> dict:
    from geozero_spark.kernel import geojson, pip, structrepr, tiles, wkb, wkt
    from geozero_spark.kernel import mvt as kmvt
    from geozero_spark.operators import knn, mvt_fast, similarity

    rng = np.random.default_rng(seed)
    m: dict = {}

    texts = _wkts(rng, 3000)
    m["kernel.wkt.decode_us"] = _per_item(
        lambda: [wkt.decode(t) for t in texts], len(texts), 1e6)
    geoms = [wkt.decode(t) for t in texts]
    m["kernel.wkb.roundtrip_us"] = _per_item(
        lambda: [wkb.decode(wkb.encode(g)) for g in geoms], len(geoms), 1e6)
    m["kernel.geojson.encode_us"] = _per_item(
        lambda: [geojson.encode(g) for g in geoms], len(geoms), 1e6)

    # one 300-feature tile in degrees, encoded by the kernel and by the
    # column-wise fast encoder the MVT stage runs
    deg = [wkt.decode(t) for t in _wkts(rng, 300)]
    for g in deg:
        g.data = _scale(g.data, 0.01)
    feats = [kmvt.feature_from_geom(
        tiles.transform_geom_to_tile(g, 4096, *TILE),
        properties={"id": str(i)}, fid=i) for i, g in enumerate(deg)]
    tile = kmvt.MvtTile(layers=[kmvt.MvtLayer("layer", 4096,
                                              features=feats)])
    m["kernel.mvt.encode_tile_us"] = _per_item(
        lambda: kmvt.encode_tile(tile), 1, 1e6)
    recs = [structrepr.to_struct(g) for g in deg]
    cols = [[r[c] for r in recs] for c in (
        "kind", "has_z", "has_m", "coords", "offs1", "offs2", "wkb")]
    keys = list(range(len(recs)))
    props = [{"id": str(k)} for k in keys]
    m["operators.mvt_fast.encode_tile_cols_us"] = _per_item(
        lambda: mvt_fast.encode_tile_cols("layer", 4096, keys, *cols, *TILE,
                                          props_list=props), 1, 1e6)

    poly = wkt.decode("POLYGON((3 0,0 3,-3 0,0 -3,3 0))")
    px = rng.uniform(-4, 4, 200_000)
    py = rng.uniform(-4, 4, 200_000)
    m["kernel.pip.points_in_polygon_np_ns"] = _per_item(
        lambda: pip.points_in_polygon_np(px, py, poly), len(px), 1e9)

    nq, nt = 200, 20_000
    q = rng.integers(-18000, 18000, size=(3, nq))
    t = rng.integers(-18000, 18000, size=(3, nt))
    m["operators.knn.local_topk_us"] = _per_item(
        lambda: knn._local_topk_arrays(
            np.arange(nq, dtype=np.int64), q[1], q[2],
            np.arange(nt, dtype=np.int64), t[1], t[2], 3, True),
        nq, 1e6)

    vecs = list(rng.standard_normal((2000, 64)).astype(np.float32))
    m["operators.similarity.cosine_fold_us"] = _per_item(
        lambda: similarity._fold_norm2(similarity._fold_mat(vecs)),
        len(vecs), 1e6)
    return m


def _scale(data, f: float):
    if isinstance(data, tuple):
        return tuple(v * f for v in data)
    return [_scale(d, f) for d in data]
