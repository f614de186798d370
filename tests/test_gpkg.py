"""File-level GeoPackage path, pinned against the reference's own
gpkg_test.gpkg fixture and its live-SQLx test expectations
(geozero/tests/geopackage.rs:4-99), with the whole B-tree walker
cross-checked table-by-table against Python's stdlib sqlite3."""

import os
import sqlite3

import pytest

from geozero_spark.kernel import gpkg as kgpkg, wkt as kwkt
from geozero_spark.kernel.sqlitefile import SqliteFile, SqliteError

FIX = os.path.join(os.path.dirname(__file__), "data", "gpkg",
                   "gpkg_test.gpkg")


def _buf():
    with open(FIX, "rb") as f:
        return f.read()


def test_geometry_columns_first_row_matches_reference():
    regs = kgpkg.geometry_tables(_buf())
    first = regs[0]
    # geopackage.rs:19-20 asserts ("pt2d", "geom")
    assert (first["table_name"], first["column_name"]) == ("pt2d",
                                                           "geom")
    assert first["srs_id"] == 4326


def test_pt2d_blob_decodes_to_reference_wkt():
    feats = list(kgpkg.read_features(_buf(), table="pt2d"))
    # geopackage.rs:40 asserts the first geom is POINT(1.1 1.1)
    props, geom = feats[0]
    assert kwkt.encode(geom) == "POINT(1.1 1.1)"
    assert geom.srid == 4326
    assert props["name"] == "alpha"
    # geopackage.rs:82-86: the table has a NULL-geometry row
    assert any(g is None for _, g in feats)
    # rowid-alias ids materialize
    assert [p["id"] for p, _ in feats] == [1, 2, 3, 4]


def test_every_registered_table_decodes_with_declared_dims():
    buf = _buf()
    for reg in kgpkg.geometry_tables(buf):
        feats = list(kgpkg.read_features(buf, table=reg["table_name"]))
        assert feats, reg["table_name"]
        for _, g in feats:
            if g is None:
                continue
            assert g.has_z == bool(reg["z"]), reg["table_name"]
            assert g.has_m == bool(reg["m"]), reg["table_name"]
            assert g.srid == reg["srs_id"]


def test_btree_walker_matches_stdlib_sqlite3():
    db = SqliteFile(_buf())
    con = sqlite3.connect(FIX)
    tabs = db.tables()
    assert "pt2d" in tabs and "gpkg_contents" in tabs
    for t in sorted(tabs):
        want = [tuple(r) for r in
                con.execute(f'SELECT * FROM "{t}"').fetchall()]
        got = [tuple(r.values()) for r in db.rows(t)]
        assert got == want, t


def test_errors():
    with pytest.raises(SqliteError, match="magic"):
        SqliteFile(b"not a database at all")
    db = SqliteFile(_buf())
    with pytest.raises(SqliteError, match="no such table"):
        list(db.rows("nope"))
    with pytest.raises(SqliteError, match="not a registered"):
        list(kgpkg.read_features(_buf(), table="gpkg_contents"))


def test_read_gpkg_spark(spark):
    from geozero_spark.sources import readers
    d = os.path.dirname(FIX)
    rows = readers.read_gpkg(spark, d, table="pt2d").collect()
    assert len(rows) == 4
    by_name = {r.props["name"]: r for r in rows}
    g = by_name["alpha"].geom
    assert (g.kind, g.srid) == (1, 4326)
    assert list(g.coords) == [1.1, 1.1]
    assert by_name["delta"].geom is None


def test_parse_columns_quoted_identifiers():
    """Quoted names with spaces/commas and quoted constraint-words-as-
    column-names must parse whole (a miss here silently yields
    geom=None for every feature of that table)."""
    from geozero_spark.kernel.sqlitefile import SqliteFile as S
    sql = ('CREATE TABLE t ("my geom" BLOB, "a,b" TEXT, '
           '"PRIMARY" INTEGER, id INTEGER PRIMARY KEY, '
           'CONSTRAINT u UNIQUE (id))')
    names, ipk = S.parse_columns(sql)
    assert names == ["my geom", "a,b", "PRIMARY", "id"]
    assert ipk == "id"
    names2, ipk2 = S.parse_columns(
        "CREATE TABLE x (id INTEGER, name TEXT, PRIMARY KEY (id))")
    assert names2 == ["id", "name"] and ipk2 == "id"


# --------------------------------------------------------------------------
# writer (kernel/sqlitewrite.py + kernel/gpkgwrite.py) — pinned against
# the repo's own reader AND stdlib sqlite3 (integrity_check included)
# --------------------------------------------------------------------------

from geozero_spark.kernel import gpkgwrite, sqlitewrite  # noqa: E402


def _sqlite3_open(buf, tmp_path, name="w.gpkg"):
    p = os.path.join(str(tmp_path), name)
    with open(p, "wb") as f:
        f.write(buf)
    return sqlite3.connect(p)


def test_write_roundtrip_reference_features(tmp_path):
    """Decode the reference fixture's pt2d features, re-encode with the
    GPKG writer, re-read with kernel/gpkg.py and sqlite3: geometry +
    property parity, registry row, valid file per integrity_check."""
    feats = [({k: v for k, v in props.items() if k != "fid"}, g)
             for props, g in kgpkg.read_features(_buf(), table="pt2d")]
    out = gpkgwrite.encode(((g, p) for p, g in feats), table="pt2d")

    regs = kgpkg.geometry_tables(out)
    assert (regs[0]["table_name"], regs[0]["column_name"]) == \
        ("pt2d", "geom")
    assert regs[0]["srs_id"] == 4326

    back = list(kgpkg.read_features(out, table="pt2d"))
    assert len(back) == len(feats)
    for (p0, g0), (p1, g1) in zip(feats, back):
        assert (g0 is None) == (g1 is None)
        if g0 is not None:
            assert kwkt.encode(g1) == kwkt.encode(g0)
            assert g1.srid == 4326
        for k, v in p0.items():
            assert p1[k] == v

    con = _sqlite3_open(out, tmp_path)
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)
    assert con.execute("pragma application_id").fetchone()[0] \
        == 0x47504B47
    n_null = con.execute(
        "select count(*) from pt2d where geom is null").fetchone()[0]
    assert n_null == sum(1 for _, g in feats if g is None)


def test_write_multileaf_and_overflow(tmp_path):
    """5000 features (interior B-tree pages) + one geometry whose gpkg
    blob exceeds the page-local maximum (overflow chain): both readers
    agree, integrity_check passes."""
    from geozero_spark.kernel.model import Geom, LINESTRING, POINT

    feats = [(Geom(POINT, (float(i % 100), float(i // 100))),
              {"tag": f"t{i:05d}"}) for i in range(5000)]
    big = Geom(LINESTRING, [(float(i), float(i % 7)) for i in range(700)])
    feats[123] = (big, {"tag": "big"})  # ~11KB blob > 4061 local max
    out = gpkgwrite.encode(feats, table="grid")
    back = list(kgpkg.read_features(out, table="grid"))
    assert len(back) == 5000
    assert kwkt.encode(back[123][1]) == kwkt.encode(big)
    con = _sqlite3_open(out, tmp_path, "big.gpkg")
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)
    assert con.execute("select count(*) from grid").fetchone() == (5000,)
    assert con.execute(
        "select length(geom) from grid where fid=124").fetchone()[0] \
        > 11000


def test_sqlitewrite_value_types_and_rowids(tmp_path):
    buf = sqlitewrite.build_db([(
        "t", "CREATE TABLE t (id INTEGER PRIMARY KEY, s TEXT, "
        "f DOUBLE, b BLOB, i INTEGER)",
        [(-5, "neg", -0.5, b"\x00\xff", 2 ** 50), (1, "", 0.0, b"", 0),
         (7, None, None, None, None)])])
    rows = list(SqliteFile(buf).rows("t"))
    assert [r["id"] for r in rows] == [-5, 1, 7]
    assert rows[0]["b"] == b"\x00\xff" and rows[0]["i"] == 2 ** 50
    con = _sqlite3_open(buf, tmp_path, "vals.db")
    assert con.execute("select * from t order by id").fetchall() == [
        (-5, "neg", -0.5, b"\x00\xff", 2 ** 50), (1, "", 0.0, b"", 0),
        (7, None, None, None, None)]
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)


def test_sqlitewrite_guards():
    with pytest.raises(SqliteError, match="page size"):
        sqlitewrite.build_db([], page_size=1000)
    with pytest.raises(SqliteError, match="columns"):
        sqlitewrite.build_db([(
            "t", "CREATE TABLE t (a INTEGER, b TEXT)", [(1,)])])
    with pytest.raises(SqliteError, match="PRIMARY KEY"):
        sqlitewrite.build_db([(
            "t", "CREATE TABLE t (a INTEGER PRIMARY KEY)", [("x",)])])


def test_spark_write_gpkg_roundtrip(spark, tmp_path):
    """Spark sink -> read_gpkg scan: same features back."""
    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.sources import readers

    rows = [(f"f{i}", i * 1.5,
             sr.to_struct(kwkt.decode(f"POINT({i} {i + 0.5})")))
            for i in range(25)]
    df = spark.createDataFrame(
        rows, f"name string, score double, geom struct<{sr.GEOMETRY_DDL}>")
    p = os.path.join(str(tmp_path), "pts.gpkg")
    readers.write_gpkg(df, p, table="pts")
    back = readers.read_gpkg(spark, str(tmp_path), table="pts").collect()
    assert len(back) == 25
    got = sorted((r.props["name"], r.geom.coords[0], r.geom.coords[1])
                 for r in back)
    assert got == sorted(
        (f"f{i}", float(i), i + 0.5) for i in range(25))
    con = sqlite3.connect(p)
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)


def test_sqlitewrite_master_page_capacity_guard():
    """Overfull sqlite_master must raise loudly, not emit a corrupt
    file: the old guard inspected a byte _leaf_page always writes, so
    it could never fire (advisor finding). Many tables with long DDL
    at the minimum page size exceed page 1's ~404 usable bytes."""
    tables = [(f"table_{i:02d}",
               f"CREATE TABLE table_{i:02d} (" +
               ", ".join(f"col_with_a_long_name_{j} TEXT"
                         for j in range(8)) + ")",
               [])
              for i in range(10)]
    with pytest.raises(SqliteError, match="sqlite_master"):
        sqlitewrite.build_db(tables, page_size=512)
    # the same schema fits a 4096 page: still a valid file
    buf = sqlitewrite.build_db(tables, page_size=4096)
    assert len(list(SqliteFile(buf).rows("table_00"))) == 0


def test_gpkg_srid_definition_honest(tmp_path):
    """srid != 4326 must NOT claim the WGS-84 definition (advisor
    finding): caller-supplied name/def or the spec's 'undefined'."""
    from geozero_spark.kernel.model import Geom, POINT

    feats = [(Geom(POINT, (1.0, 2.0)), {"n": "a"})]
    out = gpkgwrite.encode(feats, table="m", srid=3857)
    con = _sqlite3_open(out, tmp_path, "m.gpkg")
    name, definition = con.execute(
        "select srs_name, definition from gpkg_spatial_ref_sys "
        "where srs_id = 3857").fetchone()
    assert name == "SRID 3857"
    assert definition == "undefined"
    assert "WGS" not in definition

    out2 = gpkgwrite.encode(feats, table="m", srid=3857,
                            srs_name="Web Mercator",
                            srs_def='PROJCS["WGS 84 / Pseudo-Mercator"]')
    con2 = _sqlite3_open(out2, tmp_path, "m2.gpkg")
    name2, def2 = con2.execute(
        "select srs_name, definition from gpkg_spatial_ref_sys "
        "where srs_id = 3857").fetchone()
    assert name2 == "Web Mercator"
    assert def2.startswith("PROJCS")

    # 4326 keeps the real WGS-84 definition
    out3 = gpkgwrite.encode(feats, table="m", srid=4326)
    con3 = _sqlite3_open(out3, tmp_path, "m3.gpkg")
    name3, def3 = con3.execute(
        "select srs_name, definition from gpkg_spatial_ref_sys "
        "where srs_id = 4326").fetchone()
    assert name3 == "WGS 84" and def3.startswith("GEOGCS")


def test_write_gpkg_dir_scale_and_single_file_guard(spark, tmp_path):
    """The data-scale GPKG path: 1M point features through the
    partition-parallel directory sink — per-task memory bounded by the
    partition (16 files of ~62.5k rows), every file integrity-clean,
    total count verified via sqlite3's C reader. The single-file sink
    raises LOUDLY past its documented bound instead of buffering an
    unbounded container in one task."""
    from pyspark.sql import functions as F

    from geozero_spark.sources import readers

    n = 1_000_000
    df = (spark.range(n, numPartitions=16)
          .select(F.col("id"),
                  F.expr(
                      "named_struct("
                      "'kind', CAST(1 AS TINYINT), 'srid', 0,"
                      "'has_z', false, 'has_m', false,"
                      "'bbox', CAST(array() AS array<double>),"
                      "'coords', array(CAST(pmod(id, 360) - 180 AS "
                      "DOUBLE), CAST(pmod(id, 170) - 85 AS DOUBLE)),"
                      "'offs1', CAST(array() AS array<int>),"
                      "'offs2', CAST(array() AS array<int>),"
                      "'wkb', CAST(NULL AS BINARY),"
                      "'tvals', CAST(array() AS array<double>),"
                      "'tmvals', CAST(array() AS array<bigint>))"
                  ).alias("geom")))
    d = os.path.join(str(tmp_path), "big_gpkg")
    n_files = readers.write_gpkg_dir(df, d, table="pts")
    files = sorted(os.listdir(d))
    assert n_files == len(files) == 16
    total = 0
    for fn in files:
        con = sqlite3.connect(os.path.join(d, fn))
        assert con.execute("pragma integrity_check").fetchone() == ("ok",)
        total += con.execute("select count(*) from pts").fetchone()[0]
        con.close()
    assert total == n

    # spot parity: one file re-read by the repo's own kernel reader
    with open(os.path.join(d, files[0]), "rb") as f:
        feats = list(kgpkg.read_features(f.read(), table="pts"))
    assert feats and feats[0][1].kind == 1

    # a second write into the same directory is refused, not mixed in
    # with the first write's parts, and deletes nothing
    import pytest as _pytest
    with _pytest.raises(FileExistsError, match="part-00000.gpkg"):
        readers.write_gpkg_dir(df.limit(10).repartition(2), d, table="pts")
    assert sorted(os.listdir(d)) == files

    # single-file sink: loud bound, not a silent executor OOM
    with _pytest.raises(Exception, match="write_gpkg_dir"):
        readers.write_gpkg(df.limit(1000), os.path.join(
            str(tmp_path), "cap.gpkg"), max_rows=100)


def test_gpkg_spec_ddl_with_real_autoindexes(tmp_path):
    """The registry DDL is now spec-verbatim (PRIMARY KEY / UNIQUE /
    FOREIGN KEY constraints included) and the implied
    sqlite_autoindex_* B-trees are REAL: integrity_check verifies
    index<->table consistency, foreign_key_check is clean, and
    sqlite's planner actually uses the index for a keyed lookup
    (advisor item: strict conformance validators read the DDL)."""
    from geozero_spark.kernel.model import Geom, POINT

    feats = [(Geom(POINT, (float(i), 1.0)), {"name": f"f{i}"})
             for i in range(5)]
    out = gpkgwrite.encode(feats, table="pts")
    con = _sqlite3_open(out, tmp_path, "ix.gpkg")
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)
    assert con.execute("pragma foreign_key_check").fetchall() == []
    idx = [r[0] for r in con.execute(
        "select name from sqlite_master where type='index'")]
    assert idx == [
        "sqlite_autoindex_gpkg_contents_1",
        "sqlite_autoindex_gpkg_contents_2",
        "sqlite_autoindex_gpkg_geometry_columns_1",
        "sqlite_autoindex_gpkg_geometry_columns_2"]
    plan = con.execute(
        "explain query plan select * from gpkg_contents "
        "where table_name='pts'").fetchall()
    assert any("sqlite_autoindex_gpkg_contents_1" in r[-1]
               for r in plan)
    # spec DDL text round-trips through sqlite's own schema parser
    ddl = con.execute(
        "select sql from sqlite_master where name='gpkg_contents'"
    ).fetchone()[0]
    assert "PRIMARY KEY" in ddl and "UNIQUE" in ddl
    # and the repo's own reader still walks every table
    assert len(list(kgpkg.read_features(out, table="pts"))) == 5


def test_btree_uniform_depth_at_lone_trailing_leaf(tmp_path):
    """24,392 of these point features pack into exactly fanout+1 = 274
    leaves at page_size 4096, so the interior level used to group as
    (273, 1) and promote the lone trailing leaf one level up. SQLite
    requires uniform B-tree depth ("Child page depth differs" from
    integrity_check); the builder now rebalances to (272, 2). The
    window recurs every ~28k rows per file, i.e. well inside
    write_gpkg's 2M-row bound (advisor round-5 high)."""
    from geozero_spark.kernel.model import Geom, POINT

    # pin that this row count really lands on leaves % fanout == 1 —
    # if cell packing ever changes, fail loudly instead of silently
    # testing a benign count
    leaf_counts = []
    orig = sqlitewrite._Db._pack_leaves

    def spy(self, cells, first_is_master=False):
        out = orig(self, cells, first_is_master)
        leaf_counts.append(len(out))
        return out

    n = 24392
    feats = [(Geom(POINT, (float(i % 1000) / 10.0, float(i // 1000))),
              {"name": f"f{i:06d}"}) for i in range(n)]
    sqlitewrite._Db._pack_leaves = spy
    try:
        out = gpkgwrite.encode(feats, table="pts")
    finally:
        sqlitewrite._Db._pack_leaves = orig
    fanout = (4096 - 12) // 15 + 1
    assert max(leaf_counts) % fanout == 1, \
        f"feature payload changed: {max(leaf_counts)} leaves no longer " \
        f"hits the lone-trailing-child window (re-tune n)"
    con = _sqlite3_open(out, tmp_path, "deep.gpkg")
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)
    assert con.execute("select count(*) from pts").fetchone() == (n,)
    # the repo's own walker agrees
    assert sum(1 for _ in kgpkg.read_features(out, table="pts")) == n


def test_index_sort_key_exact_large_ints(tmp_path):
    """Index keys at |v| >= 2^53 compare exactly (float(v) collapses
    2^53 and 2^53+1, mis-ordering the index vs SQLite's numeric
    collation — advisor round-5 low). Rows arrive descending so a
    lossy sort would keep them descending and integrity_check would
    reject the index order."""
    big = 1 << 53
    buf = sqlitewrite.build_db([(
        "t", "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, "
        "UNIQUE (v))",
        [(1, big + 1), (2, big), (3, big - 1)],
        [["v"]])])
    con = _sqlite3_open(buf, tmp_path, "bigint.db")
    assert con.execute("pragma integrity_check").fetchone() == ("ok",)
    assert [r[0] for r in con.execute(
        "select id from t where v > ? order by v", (big - 1,))] == [2, 1]
