"""The write path runs each COPY/INSERT/UPDATE/DELETE/MERGE in the
write's own Spark action: constraint checks and affected-row counts are
observed in the write, written rows come from the parquet footers, and
command results are local frames that run no job. These tests pin the
behaviour that has to survive that: counts under subquery predicates,
constraint errors that leave nothing behind, no extra action on the
happy path, and each command's declared result schema."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import types as T

from kuibadb_spark import engine as engine_mod
from kuibadb_spark.engine import Engine
from kuibadb_spark.errors import CheckViolation, NotNullViolation
from kuibadb_spark.plans import manifest as mf


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _count(df) -> int:
    return df.collect()[0]["count"]


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "transaction"])
def test_dml_subquery_predicate_counts(engine, txn):
    """An IN (SELECT …) predicate is projected once as a flag column; the
    observed count over it matches the rows changed."""
    engine.sql("CREATE TABLE t (a INT, b INT)")
    engine.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (2, 21)")
    engine.sql("CREATE TABLE u (a INT)")
    engine.sql("INSERT INTO u VALUES (2), (3), (NULL)")
    if txn:
        engine.sql("BEGIN")
    assert _count(engine.sql(
        "UPDATE t SET b = b + 1 WHERE a IN (SELECT a FROM u)")) == 3
    assert _count(engine.sql(
        "DELETE FROM t WHERE a IN (SELECT a FROM u WHERE a = 2)")) == 2
    if txn:
        engine.sql("COMMIT")
    assert sorted(tuple(r) for r in engine.table("t").collect()) == [
        (1, 10), (3, 31)]


# kind → (statement breaking NOT NULL on c, statement breaking CHECK b > 0,
# the CHECK message's sample row)
_VIOLATIONS = {
    "copy": ("COPY t FROM '{nn}' DELIMITER '|'",
             "COPY t FROM '{ck}' DELIMITER '|'",
             {"a": 9, "b": -1, "c": "z"}),
    "insert": ("INSERT INTO t VALUES (9, 5, NULL)",
               "INSERT INTO t VALUES (9, -1, 'z')",
               {"a": 9, "b": -1, "c": "z"}),
    "update": ("UPDATE t SET c = NULL WHERE a = 1",
               "UPDATE t SET b = -1 WHERE a = 1",
               {"a": 1, "b": -1, "c": "x"}),
    "merge": ("MERGE INTO t USING (SELECT 1 AS a, 5 AS b,"
              " CAST(NULL AS STRING) AS c) s ON (a)"
              " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
              "MERGE INTO t USING (SELECT 1 AS a, -1 AS b, 'z' AS c) s ON (a)"
              " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
              {"a": 1, "b": -1, "c": "z"}),
}


def _staging(tdir: str) -> set[str]:
    return {os.path.basename(p) for p in glob.glob(os.path.join(tdir, "stg-*"))
            if os.path.isdir(p)}


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "transaction"])
@pytest.mark.parametrize("constraint", ["not_null", "check"])
@pytest.mark.parametrize("kind", sorted(_VIOLATIONS))
def test_constraint_violation_leaves_nothing(engine, tmp_path, kind,
                                             constraint, txn):
    """A violation found in the write raises the check's own error, leaves
    the manifest where it was and no staged segment or marker behind, and
    an open transaction can still COMMIT its earlier work."""
    nn_path = tmp_path / "nn.txt"
    nn_path.write_text("9|5|\\N\n")
    ck_path = tmp_path / "ck.txt"
    ck_path.write_text("9|-1|z\n")
    engine.sql("CREATE TABLE t (a INT, b INT, c STRING NOT NULL)"
               " WITH (check = 'b > 0')")
    engine.sql("INSERT INTO t VALUES (1, 10, 'x'), (2, 20, 'y')")
    tdir = engine._table_dir("t")
    version = mf.read_manifest(tdir)["version"]
    if txn:
        engine.sql("BEGIN")
        engine.sql("INSERT INTO t VALUES (3, 30, 'w')")
    files = list(engine._read_m("t")["files"])
    staged = _staging(tdir)

    nn_stmt, ck_stmt, sample = _VIOLATIONS[kind]
    if constraint == "not_null":
        err, msg = NotNullViolation, "column 'c': 1 NULL value(s) in COPY input"
        stmt = nn_stmt
    else:
        err, msg = CheckViolation, f"1 row(s) violate CHECK (b > 0); first: {sample}"
        stmt = ck_stmt
    with pytest.raises(err) as info:
        engine.sql(stmt.format(nn=nn_path, ck=ck_path))
    assert info.value.message == msg

    assert mf.read_manifest(tdir)["version"] == version
    assert engine._read_m("t")["files"] == files
    assert _staging(tdir) == staged
    assert {os.path.basename(p)[:-len(".staged")]
            for p in glob.glob(os.path.join(tdir, "*.staged"))} == staged
    if txn:
        engine.sql("COMMIT")
        assert mf.read_manifest(tdir)["version"] == version + 1
    want = [(1, 10, "x"), (2, 20, "y")] + ([(3, 30, "w")] if txn else [])
    assert sorted(tuple(r) for r in engine.table("t").collect()) == want


def test_write_statements_run_no_extra_action(engine, tmp_path, monkeypatch):
    """On the happy path no write statement counts in a job of its own or
    runs a separate constraint pass: each check and count rides the write.
    COPY loads the CSV dialect here: the text dialect also prescans its
    input for blank lines (sources/copy.py parse_typed), an input-format
    check that is not a constraint pass or a row count."""
    path = tmp_path / "in.txt"
    path.write_text("".join(f"{i}|{i}|r{i}\n" for i in range(1, 11)))
    engine.sql("CREATE TABLE t (a INT NOT NULL, b INT, c STRING)"
               " WITH (check = 'b > 0')")

    def refuse(*_a, **_k):
        raise AssertionError("extra action on the write path")

    monkeypatch.setattr(type(engine.spark.range(1)), "count", refuse)
    monkeypatch.setattr(engine_mod, "check_not_null", refuse)
    monkeypatch.setattr(engine_mod, "check_constraint", refuse)

    assert _count(engine.sql(f"COPY t FROM '{path}' DELIMITER '|' CSV")) == 10
    assert _count(engine.sql(
        "INSERT INTO t VALUES (11, 11, 'r11'), (12, 12, 'r12')")) == 2
    assert _count(engine.sql("UPDATE t SET b = b + 100 WHERE a <= 3")) == 3
    assert _count(engine.sql("DELETE FROM t WHERE a >= 11")) == 2
    merged = engine.sql(
        "MERGE INTO t USING (SELECT * FROM VALUES (1, 7, 'm'), (50, 5, 'n')"
        " AS s(a, b, c)) s ON (a)"
        " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (merged["updated"], merged["inserted"]) == (1, 1)
    out = tmp_path / "out"
    assert _count(engine.sql(f"COPY t TO '{out}' DELIMITER '|'")) == 11
    monkeypatch.undo()
    rows = {tuple(r) for r in engine.table("t").collect()}
    assert len(rows) == 11
    assert {(1, 7, "m"), (2, 102, "r2"), (4, 4, "r4"), (50, 5, "n")} <= rows


def test_merge_counts_with_duplicate_and_null_keys(engine):
    """updated counts target rows replaced; inserted counts every source
    row whose key the target lacks, duplicates and NULL keys included."""
    engine.sql("CREATE TABLE t (a INT, b INT)")
    engine.sql("INSERT INTO t VALUES (1, 1), (1, 2), (2, 3), (NULL, 4)")
    src = ("SELECT * FROM VALUES (1, 10), (3, 30), (3, 31), (NULL, 40)"
           " AS s(a, b)")
    both = engine.sql(f"MERGE INTO t USING ({src}) s ON (a) WHEN MATCHED"
                      " THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert tuple(both.collect()[0]) == (2, 3)
    assert sorted(tuple(r) for r in engine.table("t").collect()
                  if r.a is not None) == [(1, 10), (2, 3), (3, 30), (3, 31)]
    upd = engine.sql(f"MERGE INTO t USING ({src}) s ON (a)"
                     " WHEN MATCHED THEN UPDATE SET *")
    assert tuple(upd.collect()[0]) == (3, 0)
    ins = engine.sql("MERGE INTO t USING (SELECT * FROM VALUES (2, 0), (9, 9)"
                     " AS s(a, b)) s ON (a) WHEN NOT MATCHED THEN INSERT *")
    assert tuple(ins.collect()[0]) == (0, 1)
    assert engine.table("t").count() == 7


def test_command_results_have_declared_schema(engine, tmp_path):
    """Every command's result frame has exactly its declared schema
    (names, types, nullability), empty results included, and collecting
    it runs no Spark job."""
    sc = engine.spark.sparkContext
    path = tmp_path / "in.txt"
    path.write_text("1|2\n3|4\n")
    merge = ("MERGE INTO t USING (SELECT 1 AS a, 5 AS b) s ON (a)"
             " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    cases = [
        ("SHOW TABLES", "table_name STRING"),  # empty
        ("CREATE TABLE t (a INT, b INT)", None),
        ("SHOW TABLES", "table_name STRING"),
        (f"COPY t FROM '{path}' DELIMITER '|'", "count BIGINT"),
        ("INSERT INTO t VALUES (5, 6)", "count BIGINT"),
        ("UPDATE t SET b = 0 WHERE a = 5", "count BIGINT"),
        ("DELETE FROM t WHERE a = 5", "count BIGINT"),
        (merge, "updated BIGINT, inserted BIGINT"),
        ("CREATE TABLE c AS SELECT * FROM t", "count BIGINT"),
        ("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n FROM t", None),
        ("REFRESH MATERIALIZED VIEW mv", "refreshed BOOLEAN"),
        ("OPTIMIZE t", "files BIGINT"),
        ("VACUUM t", "removed BIGINT"),
        ("ANALYZE t", "rows BIGINT"),
        ("DESCRIBE HISTORY t",
         "version INT, n_files INT, schema STRING, available BOOLEAN"),
        ("DESCRIBE t", "column STRING, type STRING, not_null BOOLEAN"),
        ("SHOW ALL", "name STRING, setting STRING"),
        ("SHOW server_version", "server_version STRING"),
        ("SELECT * FROM kb_tables",
         "relname STRING, version INT, n_files INT, reloptions STRING"),
        ("SELECT * FROM kb_columns", "relname STRING, attname STRING,"
         " atttype STRING, attnotnull BOOLEAN, attnum INT"),
        ("SELECT * FROM kb_settings",
         "name STRING, setting STRING, vartype STRING, context STRING"),
    ]
    try:
        for i, (stmt, ddl) in enumerate(cases):
            sc.setJobGroup("statement", "statement")
            df = engine.sql(stmt)
            if ddl is None:
                assert df is None, stmt
                continue
            assert df.schema == T.StructType.fromDDL(ddl), stmt
            sc.setJobGroup(f"result-{i}", stmt)
            rows = df.collect()
            assert sc.statusTracker().getJobIdsForGroup(f"result-{i}") == [], stmt
            assert rows or i == 0, stmt
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
