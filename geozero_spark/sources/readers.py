"""Format scans mirroring the reference's readers (SURVEY.md §2.1).

- read_csv_wkt: CSV with a WKT geometry column; all other columns kept
  as strings (csv_reader.rs:14-19, 149-180 semantics — geometry column
  selected by name, ColumnNotFound -> error).
- read_geojson_lines: one Feature/Geometry per line
  (geojson_line_reader.rs:12-32) — the natural Spark scan
  (1 line = 1 row) via spark.read.text.
- read_geojson_fc: a whole-file FeatureCollection
  (geojson_reader.rs:57-70) — whole-file read, explode features.

All return a DataFrame with a decoded ``geom`` struct column plus a
``props`` map<string,string> for the schema-less property bags
(property_processor.rs:53-60: names/types may vary per row).

Every container-file sink (fgb, gpkg, each convert() output, the shp
fixture) writes through ``_write_one_file`` or
``_write_file_per_partition``.
"""

from __future__ import annotations

import json
import os
from functools import partial
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import udfs
from ..kernel import geojson as kgeojson
from ..kernel import structrepr as sr


def read_csv_wkt(spark: SparkSession, path: str, geom_col: str,
                 **csv_opts) -> DataFrame:
    """CSV scan + WKT decode of ``geom_col`` (errors if missing,
    matching csv_reader.rs:110-113 ColumnNotFound)."""
    df = spark.read.csv(path, header=True, **csv_opts)
    if geom_col not in df.columns:
        raise ValueError(f"geometry column {geom_col!r} not found "
                         f"(csv_reader.rs ColumnNotFound)")
    dec = udfs.st_geomfromwkt()
    others = [c for c in df.columns if c != geom_col]
    props = F.create_map(*[x for c in others
                           for x in (F.lit(c), F.col(c))])
    return df.select(dec(F.col(geom_col)).alias("geom"),
                     props.alias("props"), *others)


_GJ_SCHEMA = (f"geom struct<{sr.GEOMETRY_DDL}>, "
              f"props map<string,string>, feature_idx long")


def _props_of(obj: dict) -> dict:
    props = obj.get("properties") or {} if obj.get("type") == "Feature" \
        else {}
    pm = {}
    for k, v in props.items():
        if v is None:
            continue  # nulls omitted, geojson_reader.rs:251
        # nested arrays/objects -> Json string (geojson_reader.rs:240-249)
        pm[k] = (json.dumps(v, separators=(",", ":"))
                 if isinstance(v, (dict, list)) else
                 (str(v).lower() if isinstance(v, bool) else str(v)))
    return pm


def _geom_of(obj: dict):
    geom_obj = obj.get("geometry") if obj.get("type") == "Feature" \
        else obj
    return sr.to_struct(kgeojson.from_obj(geom_obj)) if geom_obj else None


def _feature_udfs():
    """pandas UDFs parsing one GeoJSON Feature/Geometry text per row.

    (mapInPandas is avoided: pyspark's pandas/types.py probes Arrow
    field metadata with ``b"geometry" in field.metadata`` and crashes on
    None metadata for struct outputs; the pandas_udf serializer path
    does not.)
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import MapType, StringType

    from ..functions.udfs import GEOMETRY_TYPE, _structs_to_pdf

    @pandas_udf(GEOMETRY_TYPE)
    def geom_udf(s: pd.Series) -> pd.DataFrame:
        out = []
        for line in s:
            line = (line or "").strip().rstrip(",")
            if not line or line in ("[", "]"):
                out.append(None)
                continue
            try:
                out.append(_geom_of(json.loads(line)))
            except Exception:
                out.append(None)
        return _structs_to_pdf(out)

    @pandas_udf(MapType(StringType(), StringType()))
    def props_udf(s: pd.Series) -> pd.Series:
        out = []
        for line in s:
            line = (line or "").strip().rstrip(",")
            if not line or line in ("[", "]"):
                out.append(None)
                continue
            try:
                out.append(_props_of(json.loads(line)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return geom_udf, props_udf


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON-Lines scan: one Feature/Geometry per text line
    (geojson_line_reader.rs:12-32 — the natural Spark scan)."""
    geom_udf, props_udf = _feature_udfs()
    txt = spark.read.text(path)
    return (txt
            .withColumn("feature_idx", F.monotonically_increasing_id())
            .select(geom_udf("value").alias("geom"),
                    props_udf("value").alias("props"), "feature_idx")
            .where(F.col("geom").isNotNull()))


def read_geojson_fc(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file FeatureCollection scan: explode features to lines,
    reuse the per-feature parse (small/medium files; convert huge
    collections to GeoJSON-Lines)."""
    geom_udf, props_udf = _feature_udfs()
    raw = spark.read.text(path, wholetext=True)
    line = F.explode(F.expr(
        "CASE WHEN get_json_object(value, '$.type') = 'FeatureCollection'"
        " THEN from_json(get_json_object(value, '$.features'),"
        " 'array<string>') ELSE array(value) END")).alias("value")
    feats = raw.select(line).withColumn(
        "feature_idx", F.monotonically_increasing_id())
    return feats.select(geom_udf("value").alias("geom"),
                        props_udf("value").alias("props"),
                        "feature_idx").where(F.col("geom").isNotNull())


def write_geojson_lines(df: DataFrame, path: str,
                        geom: str = "geom",
                        props: Optional[str] = "props") -> None:
    """GeoJSON-Lines sink (geojson_line_writer.rs:10-30): one feature
    per line via df.write.text of the encoded column."""
    enc = udfs.st_asgeojson()
    line = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        F.when(F.col(props).isNotNull(),
               F.to_json(F.col(props))).otherwise(F.lit("{}"))
        if props else F.lit("{}"),
        F.lit(', "geometry": '),
        F.coalesce(enc(F.col(geom)), F.lit("null")),
        F.lit("}"))
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def read_gpx(spark: SparkSession, path: str) -> DataFrame:
    """GPX scan (gpx_reader.rs:15-43): one row per GPX document with
    its GeometryCollection struct plus parallel member-stat arrays
    (kind / n_points / first coord per member, reference member order).
    Whole-file text read — GPX documents are single XML trees; many-
    file directories parallelize by file."""
    gc = udfs.st_geomfromgpx()
    stats = udfs.gpx_members()
    raw = spark.read.text(path, wholetext=True)
    return raw.select(gc("value").alias("geom"),
                      stats("value").alias("members"))


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile scan (geozero/src/shp/reader.rs iter_geometries): one
    row per shape record with (path, record_idx, geom struct).

    binaryFile source -> kernel decode to per-record EWKB (one Arrow
    batch per file) -> JVM posexplode -> WKB decode to the geometry
    struct. Directories of .shp files parallelize by file; a single
    giant shapefile is inherently a sequential container (records are
    not length-indexed without the .shx sidecar), matching the
    reference's streaming reader."""
    u = udfs.shp_records_wkb()
    dec = udfs.st_geomfromwkb(dialect="ewkb")
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.shp").load(path)
           .select("path", u(F.col("content")).alias("_recs")))
    return (raw.select(
        "path", F.posexplode_outer("_recs").alias("record_idx", "_wkb"))
        .withColumn("geom", dec("_wkb")).drop("_wkb"))


def read_shp_features(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile FEATURE scan (reader.rs iter_features): geometry from
    the .shp record stream joined positionally with .dbf attributes
    (props as map<string,string> — the Properties->HashMap shape).
    Directories pair each base.shp with base.dbf; records with no
    matching attribute row get a NULL props map."""
    geoms = read_shp(spark, path).withColumn(
        "_base", F.regexp_replace("path", r"\.shp$", ""))
    from ..kernel import dbf as kdbf

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (ArrayType, MapType, StringType)

    @pandas_udf(ArrayType(MapType(StringType(), StringType())))
    def dbf_rows(content: pd.Series) -> pd.Series:
        out = []
        for buf in content:
            recs = kdbf.decode_records(bytes(buf))
            out.append([{k: None if v is None else str(v)
                         for k, v in r.items()} for r in recs])
        return pd.Series(out, dtype=object)

    props = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.dbf").load(path)
             .select(F.regexp_replace("path", r"\.dbf$", "")
                     .alias("_base"),
                     dbf_rows(F.col("content")).alias("_rows")))
    props = props.select(
        "_base", F.posexplode_outer("_rows").alias("record_idx", "props"))
    return (geoms.join(props, on=["_base", "record_idx"], how="left")
            .select("path", "record_idx", "geom", "props"))


def _fetch_range(path: str, start: int, nbytes: Optional[int]) -> bytes:
    """Range-read via pyarrow.fs so the same code path works on local
    disk and on any URI-addressed filesystem Arrow can open.
    ``nbytes=None`` reads to EOF (whole file)."""
    from pyarrow import fs as pafs
    if "://" in path:
        fsys, p = pafs.FileSystem.from_uri(path)
    else:
        fsys, p = pafs.LocalFileSystem(), path
    with fsys.open_input_file(p) as f:
        f.seek(start)
        if nbytes is None:
            return f.read()
        return f.read(nbytes)


def read_shp_indexed(spark: SparkSession, shp_path: str,
                     n_splits: Optional[int] = None) -> DataFrame:
    """SINGLE-huge-.shp parallel scan via the .shx sidecar (reference
    reader.rs:209-221 + shx_reader.rs:17-31): the driver reads only the
    tiny index (8 bytes per record), packs contiguous record runs into
    ~equal-byte splits, and every task range-reads just its slice of
    the .shp — a 100 GB shapefile scans as wide as the cluster instead
    of serializing through one whole-file task (read_shp's documented
    limit; directories of small files keep using read_shp).

    Output rows match read_shp: (path, record_idx, geom), record_idx
    0-based in file order."""
    import re as _re

    from ..kernel import shp as kshp
    from ..kernel import wkb as kwkb

    shx_path = _re.sub(r"\.shp$", ".shx", shp_path)
    idx = kshp.read_shx(_fetch_range(shx_path, 0, None))
    if n_splits is None:
        n_splits = spark.sparkContext.defaultParallelism
    total = sum(ln for _, ln in idx)
    target = max(1, total // max(1, n_splits))
    # (start, nbytes, first_idx) runs; a non-contiguous record (legal
    # per the spec, unseen in practice) just starts a new run
    splits: list[tuple[int, int, int]] = []
    cur_start = None
    cur_len = cur_first = 0
    for i, (off, ln) in enumerate(idx):
        if cur_start is not None and off != cur_start + cur_len:
            splits.append((cur_start, cur_len, cur_first))
            cur_start = None
        if cur_start is None:
            cur_start, cur_len, cur_first = off, 0, i
        cur_len += ln
        if cur_len >= target and len(splits) < n_splits - 1:
            splits.append((cur_start, cur_len, cur_first))
            cur_start = None
    if cur_start is not None:
        splits.append((cur_start, cur_len, cur_first))
    sdf = spark.createDataFrame(
        [(shp_path, s, ln, f) for s, ln, f in splits],
        "path string, start long, nbytes long, first_idx long")
    sdf = sdf.repartition(max(1, len(splits)))

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for path, start, nbytes, first in pdf.itertuples(index=False):
                rows = kshp.decode_record_run(
                    _fetch_range(path, int(start), int(nbytes)))
                yield pd.DataFrame({
                    "path": path,
                    "record_idx": range(int(first),
                                        int(first) + len(rows)),
                    "_wkb": [None if g is None else
                             kwkb.encode(g, "ewkb") for _, g in rows]})

    out = sdf.mapInPandas(
        scan, "path string, record_idx long, _wkb binary")
    dec = udfs.st_geomfromwkb(dialect="ewkb")
    return out.withColumn("geom", dec("_wkb")).drop("_wkb")


def _feature_json_rows(feat_iter) -> list:
    """(Geom | None, props) stream -> one JSON string per feature,
    matching the `wkb string, props map<string,string>` from_json
    schema every feature scan shares (pyspark's Arrow serializer
    crashes on struct-typed UDF outputs — types.py metadata bug, see
    PLANS.md — hence the JSON detour)."""
    from ..kernel import wkb as kwkb

    rows = []
    for geom, props in feat_iter:
        blob = (None if geom is None else
                kwkb.encode(geom, dialect=kwkb.DIALECT_EWKB))
        rows.append(json.dumps({
            "wkb": None if blob is None else blob.hex(),
            "props": {k: None if v is None else str(v)
                      for k, v in props.items()}}))
    return rows


def _rows_to_features(pdf: pd.DataFrame, geom_col: str,
                      prop_cols: list) -> list:
    """pandas rows -> [(Geom | None, props)] for the fgb sinks —
    column-wise iteration (iterrows is the slow path), numpy scalars
    unwrapped, None/NaN props dropped (FlatGeobuf has no null
    property encoding)."""
    from geozero_spark.kernel import structrepr as ksr

    series = [pdf[c] for c in prop_cols]
    feats = []
    for i, g in enumerate(pdf[geom_col]):
        geom = None if g is None else ksr.from_struct(g)
        props = {}
        for c, s in zip(prop_cols, series):
            v = s.iat[i]
            if v is None or (isinstance(v, float) and v != v):
                continue
            props[c] = v.item() if hasattr(v, "item") else v
        feats.append((geom, props))
    return feats


def _explode_feature_json(raw: DataFrame, id_col: str) -> DataFrame:
    """``(id_col, _recs)`` rows, ``_recs`` an array of per-feature JSON
    strings (``_feature_json_rows``) -> JVM posexplode + from_json/unhex
    -> decoded geometry struct + props map. One row per feature:
    (id_col, feature_idx, geom, props). Plain posexplode: a file or
    split yielding zero features (a bbox pruning everything, an
    empty-but-valid container) contributes ZERO rows, not a phantom
    all-NULL feature."""
    dec = udfs.st_geomfromwkb(dialect="ewkb")
    return (raw.select(
        id_col, F.posexplode("_recs").alias("feature_idx", "_j"))
        .withColumn("_r", F.from_json(
            "_j", "wkb string, props map<string,string>"))
        .withColumn("geom", F.when(
            F.col("_r.wkb").isNotNull(),
            dec(F.unhex(F.col("_r.wkb")))))
        .withColumn("props", F.col("_r.props"))
        .drop("_j", "_r"))


def _feature_blob_scan(spark: SparkSession, path: str, glob: str,
                       feat_iter) -> DataFrame:
    """Shared feature-file scan plumbing: binaryFile -> per-file
    kernel iterator yielding (Geom|None, props dict) -> one JSON
    string per feature (``_feature_json_rows``) ->
    ``_explode_feature_json``. One row per feature:
    (path, feature_idx, geom, props)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def records(content: pd.Series) -> pd.Series:
        out = [_feature_json_rows(feat_iter(bytes(buf)))
               for buf in content]
        return pd.Series(out, dtype=object)

    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", glob).load(path)
           .select("path", records(F.col("content")).alias("_recs")))
    return _explode_feature_json(raw, "path")


def read_fgb(spark: SparkSession, path: str,
             bbox: tuple | None = None) -> DataFrame:
    """FlatGeobuf scan (the reference's flagship format — README.md:
    88-95, geozero-bench/benches/geobench.rs:23-38): one row per
    feature with (path, feature_idx, geom struct, props map).

    ``bbox=(minx,miny,maxx,maxy)`` pushes the packed-Hilbert-R-tree
    search INTO the scan (kernel/fgb.search_index): each file prunes to
    index hits before decoding — the distributed analogue of the
    reference's select_bbox streaming read (an unindexed file falls
    back to a filtered sequential scan). feature_idx numbers the
    EMITTED rows per file (hit order == ascending file offset).
    Directories of .fgb files parallelize by file; for one giant file
    the index makes SINGLE-RANGE reads possible, but a finer split
    needs a range-aware source (documented limit, as with read_shp)."""
    from ..kernel import fgb as kfgb
    return _feature_blob_scan(
        spark, path, "*.fgb",
        lambda buf: kfgb.iter_features(buf, bbox=bbox))


def read_fgb_ranged(spark: SparkSession, url: str,
                    bbox: tuple | None = None,
                    n_splits: int = 8) -> DataFrame:
    """Distributed RANGE-READ scan of one (possibly remote) FlatGeobuf
    file — the reference's HttpFgbReader streaming pattern
    (geozero-cli/src/main.rs:70-84) made cluster-parallel.

    The driver fetches only the header plus O(n_splits) R-tree leaf
    nodes (for a bbox: plus the index walk, one range request per
    visited node run); executors then fetch DISJOINT byte ranges —
    contiguous feature spans for a full scan, contiguous hit runs for
    a bbox — so one giant remote file scans in parallel without any
    task reading it whole (the .fgb dual of read_shp_indexed's
    .shx-based split scan). ``url``: http(s):// or a local path.
    Unindexed files degrade to a single sequential task. Output schema
    matches read_fgb: (split_id, feature_idx, geom, props)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..kernel import fgb as kfgb
    from ..kernel import fgbremote as kr

    remote = url.startswith("http://") or url.startswith("https://")
    read = (kr.http_range_source(url) if remote
            else kr.file_range_source(url))
    info = kr.read_info_ranged(read)
    if info.has_z or info.has_m:
        raise kfgb.FgbError("FlatGeobuf Z/M dimensions not supported")
    indexed = info.index_node_size > 0 and info.features_count > 0
    if bbox is not None and indexed:
        hits = kr.search_index_ranged(read, info, *bbox)
        k = max(1, -(-len(hits) // n_splits))
        tasks = [(i, json.dumps(hits[i * k:(i + 1) * k]))
                 for i in range(max(1, -(-len(hits) // k)))]
        mode = "hits"
    else:
        # bbox without an index: executor-side envelope filter below
        bounds_ = (kr.split_offsets(read, info, n_splits) if indexed
                   else [info.feature_pos, None])
        tasks = [(i, json.dumps([bounds_[i], bounds_[i + 1]]))
                 for i in range(len(bounds_) - 1)]
        mode = "spans"

    @pandas_udf(ArrayType(StringType()))
    def fetch(payload: pd.Series) -> pd.Series:
        from ..kernel import bounds as kbounds
        src = (kr.http_range_source(url) if remote
               else kr.file_range_source(url))
        out = []
        for p in payload:
            spec = json.loads(p)
            if mode == "hits":
                # contiguous hit runs fetch as single ranges
                it = kr.iter_hits(src, info, spec)
            else:
                it = kr.iter_span(src, info, spec[0], spec[1])
                if bbox is not None:  # unindexed file: filter inline
                    it = ((g, pr) for g, pr in it
                          if g is not None
                          and kbounds.intersects_bbox(g, *bbox))
            out.append(_feature_json_rows(it))
        return pd.Series(out, dtype=object)

    tdf = spark.createDataFrame(tasks, "split_id int, payload string") \
        .repartition(len(tasks), "split_id")
    raw = tdf.select("split_id", fetch(F.col("payload")).alias("_recs"))
    return _explode_feature_json(raw, "split_id")


def _drain(batches: Iterator[pd.DataFrame], columns: list) -> pd.DataFrame:
    """The task's Arrow batches as one frame. An EMPTY input is legal:
    no batches arrive (and pd.concat([]) raises), so it becomes an
    empty frame with the DataFrame's driver-side ``columns``."""
    got = list(batches)
    return (pd.concat(got, ignore_index=True) if got
            else pd.DataFrame(columns=columns))


def _replace(path: str, payload: bytes) -> None:
    """Temp-write + rename, so a killed task never leaves a
    half-written file at ``path``."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, path)


def _write_one_file(df: DataFrame, path: str, encode) -> int:
    """Single-container file sink: ONE executor task (mapInPandas over
    the coalesced partition, which keeps row order) drains every row,
    ``encode(pdf) -> (bytes, n)`` builds the file and ``_replace``
    writes it. The rows never transit the driver; on a real cluster
    ``path`` must be shared storage. Returns n."""
    columns = df.columns

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payload, n = encode(_drain(batches, columns))
        _replace(path, payload)
        yield pd.DataFrame({"n": [n]})

    return int(df.coalesce(1).mapInPandas(part, "n long")
               .agg(F.sum("n")).collect()[0][0] or 0)


def _write_file_per_partition(df: DataFrame, path: str, ext: str,
                              encode) -> int:
    """Partition-parallel file sink: each task writes its partition as
    ``path/part-{pid:05d}.{ext}`` (``encode(pdf) -> (bytes, n)``, then
    ``_replace``); an empty partition writes nothing. Returns the
    number of files written. A directory already holding
    ``part-*.{ext}`` files raises FileExistsError (nothing is deleted):
    a directory scan would read the old parts back mixed with the new.
    On a real cluster ``path`` must be shared storage."""
    os.makedirs(path, exist_ok=True)
    old = sorted(f for f in os.listdir(path)
                 if f.startswith("part-") and f.endswith("." + ext))
    if old:
        raise FileExistsError(
            f"{path} already holds {old[0]} ({len(old)} part-*.{ext} "
            f"files) from an earlier write; write to a new or empty "
            f"directory")
    columns = df.columns

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pdf = _drain(batches, columns)
        if len(pdf) == 0:
            return
        payload, n = encode(pdf)
        pid = TaskContext.get().partitionId()
        _replace(os.path.join(path, f"part-{pid:05d}.{ext}"), payload)
        yield pd.DataFrame({"n": [n]})

    return df.mapInPandas(part, "n long").count()


def _feature_encoder(df: DataFrame, geom_col: str, encode_features):
    """``encode(pdf) -> (bytes, n)`` for the feature sinks: rows ->
    (Geom, props) features (every non-geometry column a property) ->
    ``encode_features(feats)`` container bytes."""
    prop_cols = [c for c in df.columns if c != geom_col]

    def encode(pdf: pd.DataFrame):
        feats = _rows_to_features(pdf, geom_col, prop_cols)
        return encode_features(feats), len(feats)

    return encode


def _fgb_encoder(df, geom_col, name, srid, index_node_size):
    from ..kernel import fgbwrite
    return _feature_encoder(df, geom_col, partial(
        fgbwrite.encode, name=name, srid=srid,
        index_node_size=index_node_size))


def _gpkg_encoder(df, geom_col, table, srid):
    from ..kernel import gpkgwrite
    return _feature_encoder(df, geom_col, partial(
        gpkgwrite.encode, table=table, geom_col=geom_col, srid=srid))


def write_fgb(df: DataFrame, path: str, geom_col: str = "geom",
              name: str | None = None, srid: int | None = None,
              index_node_size: int = 16) -> int:
    """Write a DataFrame with a geometry struct column as ONE
    FlatGeobuf file (kernel/fgbwrite.py — the reference's FgbWriter
    sink, geozero-cli/src/main.rs:161-166). Non-geometry columns become
    feature properties; features are Hilbert-sorted and indexed (spec
    layout) unless some row lacks an envelope. An empty DataFrame
    writes a valid header-only file.

    A .fgb is a single sequential container (header + packed R-tree +
    features), so like the shapefile writer it is produced by ONE
    executor task (``_write_one_file``). For partition-parallel output
    write a DIRECTORY of .fgb files (one per partition) with
    write_fgb_dir — read_fgb scans directories."""
    return _write_one_file(df, path, _fgb_encoder(
        df, geom_col, name, srid, index_node_size))


def write_fgb_dir(df: DataFrame, path: str, geom_col: str = "geom",
                  name: str | None = None, srid: int | None = None,
                  index_node_size: int = 16) -> int:
    """Partition-parallel FlatGeobuf sink: one .fgb file PER PARTITION
    into a directory (part-00000.fgb, ...), each file independently
    Hilbert-sorted and indexed — the parallel dual of write_fgb's
    single-container mode, and exactly what read_fgb's directory scan
    consumes (``_write_file_per_partition``: empty partitions write
    nothing, a directory already holding part-*.fgb files raises
    FileExistsError). Returns the number of files written. Repartition
    the input first to choose the file count/size."""
    return _write_file_per_partition(df, path, "fgb", _fgb_encoder(
        df, geom_col, name, srid, index_node_size))


def write_gpkg(df: DataFrame, path: str, geom_col: str = "geom",
               table: str = "features", srid: int = 4326,
               max_rows: int = 2_000_000) -> int:
    """Write a DataFrame with a geometry struct column as ONE
    GeoPackage file (kernel/gpkgwrite.py — full GPKG core profile:
    application_id, srs registry, contents, geometry_columns, features
    with gpkg-dialect WKB). Like write_fgb, a .gpkg is a single
    sequential container, so ONE executor task materializes it
    (``_write_one_file``). Output is valid per sqlite3's
    integrity_check and readable by read_gpkg.

    The single task holds the whole file's pages in memory, so this is
    a FIXTURE / dimension-table sink with a LOUD bound: more than
    ``max_rows`` rows raises ValueError inside the task (the same
    fail-loud contract as pip_join's broadcast guard) instead of
    silently OOMing the executor. The data-scale path is
    ``write_gpkg_dir`` — one file per partition, bounded per-task
    memory, read back by read_gpkg's directory scan."""
    encode = _gpkg_encoder(df, geom_col, table, srid)

    def bounded(pdf: pd.DataFrame):
        if len(pdf) > max_rows:
            raise ValueError(
                f"write_gpkg: {len(pdf)} rows exceed the single-file "
                f"bound max_rows={max_rows} (one task buffers the "
                f"whole container) — use write_gpkg_dir for a "
                f"partition-parallel directory sink, or raise "
                f"max_rows knowingly")
        return encode(pdf)

    return _write_one_file(df, path, bounded)


def write_gpkg_dir(df: DataFrame, path: str, geom_col: str = "geom",
                   table: str = "features", srid: int = 4326) -> int:
    """Partition-parallel GeoPackage sink: one .gpkg file PER PARTITION
    into a directory (part-00000.gpkg, ...) — the parallel dual of
    write_gpkg's single-container mode, mirroring write_fgb_dir, and
    exactly what read_gpkg's directory scan consumes
    (``_write_file_per_partition``: empty partitions write nothing, a
    directory already holding part-*.gpkg files raises
    FileExistsError). Per-task memory is bounded by the partition size
    (repartition the input to choose file count/size). Returns the
    number of files written."""
    return _write_file_per_partition(df, path, "gpkg", _gpkg_encoder(
        df, geom_col, table, srid))


def read_gpkg(spark: SparkSession, path: str,
              table: str | None = None) -> DataFrame:
    """GeoPackage FEATURE scan without a database server (the
    reference's live-SQLx path, geozero/tests/geopackage.rs:4-99,
    re-expressed file-level): binaryFile -> kernel sqlite B-tree walk
    (kernel/sqlitefile.py) -> gpkg-dialect WKB decode -> geometry
    struct + props map. One row per feature of ``table`` (default: the
    file's first registered geometry table). Directories of .gpkg
    files parallelize by file."""
    from ..kernel import gpkg as kgpkg
    return _feature_blob_scan(
        spark, path, "*.gpkg",
        lambda buf: ((geom, props) for props, geom
                     in kgpkg.read_features(buf, table=table)))
