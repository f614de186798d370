#!/usr/bin/env python
"""Write every container-file sink once and print each output's sha256.

Covers the seven convert() output formats (full, bbox and empty-bbox
runs over tests/data/fgb/countries.fgb), write_fgb / write_gpkg,
write_fgb_dir / write_gpkg_dir (4 parts each), the empty-input case of
all four, and the shapefile fixture writer. The last line is a JSON
object of every sink call's return value.

geozero_spark is imported from PYTHONPATH, so running this once per
checkout and diffing the outputs shows whether a change moved any
sink's bytes:

    PYTHONPATH=<checkout-a> python scripts/sink_sha256.py <out-a> > a.txt
    PYTHONPATH=<checkout-b> python scripts/sink_sha256.py <out-b> > b.txt
    diff a.txt b.txt

Each out dir must not exist yet or be empty (the directory sinks
refuse to write over earlier parts).
"""

import hashlib
import json
import os
import sys

import geozero_spark
from geozero_spark import queries
from geozero_spark.convert import convert
from geozero_spark.kernel import structrepr as sr, wkt as kwkt
from geozero_spark.plans.session import make_session
from geozero_spark.sources import readers

FIX = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(geozero_spark.__file__))),
    "tests", "data", "fgb", "countries.fgb")
BBOX = (8.8, 47.2, 9.5, 55.3)
NO_HIT = (1000.0, 1000.0, 1001.0, 1001.0)


def write_all(spark, out: str) -> dict:
    ret = {}
    for ext in ("wkt", "csv", "json", "jsonl", "svg", "fgb", "gpkg"):
        for tag, bbox in (("countries", None), ("bbox", BBOX),
                          ("empty", NO_HIT)):
            name = f"{tag}.{ext}"
            ret[name] = convert(spark, FIX, os.path.join(out, name),
                                bbox=bbox)

    ddl = f"fid long, name string, geom struct<{sr.GEOMETRY_DDL}>"
    rows = [(i, f"n{i}" if i % 3 else None,
             sr.to_struct(kwkt.decode(f"POINT({i % 50} {i // 50})")))
            for i in range(200)]
    df = spark.createDataFrame(rows, ddl).repartition(4)
    empty = spark.createDataFrame([], ddl)
    for tag, frame in (("pts", df), ("e", empty)):
        p = os.path.join(out, tag)
        ret[f"{tag}.fgb"] = readers.write_fgb(frame, p + ".fgb", name=tag)
        ret[f"{tag}.gpkg"] = readers.write_gpkg(frame, p + ".gpkg")
        ret[f"{tag}_fgbdir"] = readers.write_fgb_dir(frame, p + "_fgbdir",
                                                     name=tag)
        ret[f"{tag}_gpkgdir"] = readers.write_gpkg_dir(frame,
                                                       p + "_gpkgdir")

    src = spark.createDataFrame(
        [(i, i * 0.5, float(-i)) for i in range(50)],
        "doc_id long, xc double, yc double").repartition(3)
    ret["points.shp"] = queries._write_point_shp_executor(
        src, os.path.join(out, "points.shp"))
    return ret


def main():
    out = sys.argv[1]
    os.makedirs(out, exist_ok=True)
    spark = make_session("sink-sha256", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ret = write_all(spark, out)
    finally:
        spark.stop()
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            fp = os.path.join(root, f)
            with open(fp, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            print(os.path.relpath(fp, out), digest)
    print(json.dumps(ret, sort_keys=True))


if __name__ == "__main__":
    main()
