"""Engine shell: the user-facing session mirroring the reference's three
entry points (SURVEY.md §3) — sql(), create_table(), copy_from() — over a
warehouse of manifest-versioned parquet tables.

Query lifecycle parity (SURVEY.md §3.1): parse/analyze/plan/execute are
Catalyst's; the engine supplies the surface. FROM-less SELECT works
(`engine.sql("SELECT 1+2 AS x")` → Catalyst OneRowRelation), which is the
reference's entire executable SELECT path (src/optimizer.rs:23-62).

Transactions (SURVEY.md §2.4): BEGIN/COMMIT/ABORT are REAL — a session
transaction stages every DML manifest change in memory (pending
manifests), publishes them on COMMIT (one new version per touched table,
the reference's single commit record per txn — src/access/xact.rs:215-733)
and on ABORT deletes the staged data files, the reference's abort
un-claiming of written files (src/access/sv.rs:510-535). Mid-transaction,
the session reads its own staged writes (read-your-writes) while the
on-disk manifests — what any other session or a crash recovery would see
— stay at the pre-transaction version: atomicity comes from the manifest
swap being the only publication point. DDL (CREATE/DROP/ALTER) is
autocommit, like MySQL — documented divergence from PG's transactional
DDL. LOCK TABLE is accepted and ignored (immutable snapshots make PG's
8-mode lock matrix moot); CREATE TYPE is parsed and echoed, matching the
reference's stub (src/commands/typecmds.rs:17-28). SET/SHOW route
declared GUC names (src/guc/gucdef.yaml) through gucs.py and fall through
to Spark conf for everything else.
"""

from __future__ import annotations

import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, types as T

from kuibadb_spark.errors import (
    DuplicateTable,
    SerializationFailure,
    SqlSyntaxError,
    StagedFileVanished,
    UndefinedTable,
)
from kuibadb_spark.functions.pg_ops import translate as _pg_translate
from kuibadb_spark.gucs import GucSession, _fmt as _guc_fmt
from kuibadb_spark.plans import manifest as mf, zonemap
from kuibadb_spark.session import get_spark
from kuibadb_spark.sources.copy import (
    check_constraint,
    check_not_null,
    parse_typed,
)

_BEGIN_RE = re.compile(r"^\s*(?:BEGIN|START\s+TRANSACTION)\s*;?\s*$", re.IGNORECASE)
_COMMIT_RE = re.compile(r"^\s*(?:COMMIT|END)\s*;?\s*$", re.IGNORECASE)
_ABORT_RE = re.compile(r"^\s*(?:ABORT|ROLLBACK)\s*;?\s*$", re.IGNORECASE)
_LOCK_RE = re.compile(r"^\s*LOCK\s+.+?\s*;?\s*$", re.IGNORECASE)
# reference parses and echoes CREATE TYPE without creating anything
# (src/commands/typecmds.rs:17-28, grammar src/parser/sql.lalrpop:28-39)
_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+[\w.]+.*?;?\s*$", re.IGNORECASE | re.DOTALL
)
_SET_RE = re.compile(
    r"^\s*SET\s+(\w+)\s*(?:=|\bTO\b)\s*(.+?)\s*;?\s*$", re.IGNORECASE
)
_SHOW_RE = re.compile(r"^\s*SHOW\s+(\w+)\s*;?\s*$", re.IGNORECASE)
# maintenance statements (Delta-flavored spellings over the manifest
# catalog): OPTIMIZE [ZORDER BY (cols)], VACUUM, ANALYZE, DESCRIBE
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+ZORDER\s+BY\s*\(([\w\s,]+)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(r"^\s*VACUUM\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_ANALYZE_RE = re.compile(r"^\s*ANALYZE\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)
_HISTORY_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+HISTORY\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(SELECT\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
# time-travel table reference: FROM t FOR VERSION AS OF 3 (Delta's SQL
# spelling over this engine's per-version manifests)
_VERSION_AS_OF_RE = re.compile(
    r"\b(\w+)\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE
)
# canonical upsert spelling: MERGE INTO t USING (SELECT …) [AS] s
# ON (k1, k2, …) [WHEN MATCHED THEN UPDATE SET *]
# [WHEN NOT MATCHED THEN INSERT *] — which WHEN clauses are present
# restricts what merge() does (update-only / insert-only / both); a
# MERGE with NO when clause is a syntax error, and other WHEN forms are
# rejected by non-match (fall through to Spark, which errors clearly on
# MERGE without a catalog)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+\((.*?)\)\s*(?:AS\s+)?\w*\s*"
    r"ON\s*\(([\w\s,]+)\)\s*"
    r"(?P<upd>WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s*)?"
    r"(?P<ins>WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s+((?:VALUES|SELECT)\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE_RE = re.compile(r"\s+WHERE\s+", re.IGNORECASE)
_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+"
    r"(?:ADD\s+COLUMN\s+(\w+)\s+([\w()<>, ]+?)|DROP\s+COLUMN\s+(\w+))\s*;?\s*$",
    re.IGNORECASE,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s+AS\s+(SELECT\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s*\((.*?)\)\s*"
    r"(?:WITH\s*\((.*?)\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
# the reference's COPY grammar (sql.lalrpop:488-572): the option tail
# (copy_opt_list) accepts DELIMITERS/NULL/CSV in ANY order and repetition,
# with USING/WITH/AS noise words — parsed by _parse_copy_options below.
_COPY_HEAD_RE = re.compile(
    r"^\s*COPY\s+(\w+)\s+(FROM|TO)\s+'([^']+)'\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_copy_options(tail: str) -> dict:
    """Order-insensitive COPY option tail, mirroring the reference's
    copy_opt_list (sql.lalrpop:488-572; option semantics copy.rs:203-270):
    `[USING] [WITH]` noise, `DELIMITERS|DELIMITER [AS] 'x'`,
    `NULL [AS] 'y'`, `CSV`, any order/repetition (last wins, like the
    reference's fold over the option list), plus this engine's
    `(parallel N)` extension. Anything else raises SqlSyntaxError with
    the offending token instead of falling through to Spark's parser."""
    opts: dict = {}
    toks = re.findall(r"'[^']*'|\(|\)|[^\s()]+", tail)
    i, n = 0, len(toks)

    def _quoted(j: int, opt: str) -> tuple[str, int]:
        if j < n and toks[j].upper() == "AS":
            j += 1
        if j >= n or not (toks[j].startswith("'") and toks[j].endswith("'")):
            raise SqlSyntaxError(f"COPY {opt} requires a quoted string")
        return toks[j][1:-1], j + 1

    while i < n:
        t = toks[i].upper()
        if t in ("USING", "WITH"):
            i += 1
        elif t in ("DELIMITERS", "DELIMITER"):
            opts["delimiter"], i = _quoted(i + 1, t)
        elif t == "NULL":
            opts["null_marker"], i = _quoted(i + 1, "NULL")
        elif t == "CSV":
            opts["csv"] = True
            i += 1
        elif t == "BINARY":
            # reference: `unsupported copy option` (copy.rs:229)
            raise SqlSyntaxError("COPY BINARY is not supported")
        elif t == "(":
            if (
                i + 3 < n
                and toks[i + 1].lower() == "parallel"
                and toks[i + 2].isdigit()
                and toks[i + 3] == ")"
            ):
                opts["parallel"] = int(toks[i + 2])
                i += 4
            else:
                raise SqlSyntaxError(
                    f"unsupported COPY option list near {' '.join(toks[i:i+4])!r}"
                )
        else:
            raise SqlSyntaxError(f"unsupported COPY syntax near {toks[i]!r}")
    return opts


def _phys_schema(ddl: str) -> T.StructType:
    """Physical schema for reads/writes: varchar(n)/char(n) run as string
    (parquet + Spark writers reject char/varchar as a physical type). The
    typmod stays in the manifest DDL — visible in describe() — matching
    the reference, where varchar's typmod is catalog metadata with no
    runtime length check (fmgr implements only the int4 family;
    src/utils/fmgr.rs:44-53 — varcharin is a catalog row, not code)."""
    s = T.StructType.fromDDL(ddl)
    return T.StructType([
        T.StructField(
            f.name,
            T.StringType()
            if isinstance(f.dataType, (T.VarcharType, T.CharType))
            else f.dataType,
            f.nullable,
        )
        for f in s.fields
    ])


def _split_statements(script: str) -> list[str]:
    """Split a SQL script on semicolons at top level: outside single/double
    quotes and -- / /* */ comments. Empty statements are dropped."""
    stmts: list[str] = []
    cur: list[str] = []
    i, n = 0, len(script)
    while i < n:
        c = script[i]
        if c == "'":
            j = i + 1
            while j < n:
                if script[j] == "'":
                    if j + 1 < n and script[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur.append(script[i:j + 1])
            i = j + 1
        elif c == '"':
            j = script.find('"', i + 1)
            j = n - 1 if j < 0 else j
            cur.append(script[i:j + 1])
            i = j + 1
        elif script.startswith("--", i):
            # comments are dropped: a leading comment would otherwise
            # defeat the statement-dispatch regexes (BEGIN/ABORT/…)
            j = script.find("\n", i)
            i = n if j < 0 else j
        elif script.startswith("/*", i):
            j = script.find("*/", i)
            i = n if j < 0 else j + 2
        elif c == ";":
            stmt = "".join(cur).strip()
            if stmt:
                stmts.append(stmt)
            cur = []
            i += 1
        else:
            cur.append(c)
            i += 1
    stmt = "".join(cur).strip()
    if stmt:
        stmts.append(stmt)
    return stmts


def _top_level(s: str) -> set[int]:
    """Indexes of the characters of `s` at paren depth 0 and outside
    string literals."""
    out: set[int] = set()
    depth, in_str = 0, False
    for i, ch in enumerate(s):
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            out.add(i)
    return out


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 and outside string literals —
    enough for an UPDATE's SET list (exprs may contain calls/strings)."""
    top = _top_level(s)
    parts: list[str] = []
    start = 0
    for i, ch in enumerate(s):
        if ch == "," and i in top:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _split_where(s: str) -> tuple[str, str | None]:
    """Split an UPDATE's `SET … [WHERE …]` tail at the first WHERE at
    paren depth 0 and outside string literals, so a WHERE inside a
    literal or a subquery stays part of its SET expression."""
    top = _top_level(s)
    for m in _WHERE_RE.finditer(s):
        if m.start() in top:
            return s[:m.start()], s[m.end():]
    return s, None


class Engine:
    def __init__(self, spark: SparkSession | None = None, warehouse: str = "/tmp/kuibadb_warehouse"):
        self.spark = spark or get_spark()
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        # open-transaction state: None = autocommit; else
        # {table_key: {"base_version", "manifest", "segs", "dirty"}}
        self._txn: dict[str, dict] | None = None
        self.gucs = GucSession(self.spark)

    # -- SQL entry point ---------------------------------------------------
    def sql(self, text: str) -> DataFrame | None:
        """Run SQL. Registered tables resolve by name; txn/lock statements
        are accepted no-ops (returns None), like the reference's utility
        path but without the machinery (SURVEY.md §2.4).

        DML (INSERT INTO … VALUES/SELECT, DELETE FROM, UPDATE … SET) is
        routed to the engine's manifest-transactional methods — the SQL
        front door a reference user expects, over the same copy-on-write
        commits as the Python API. DML returns a 1-row DataFrame with the
        affected row count (the reference's command-tag count).

        PG operator spellings (~~ !~~ # |/ ||/ @ ! !!) are translated to
        Spark equivalents first (functions/pg_ops.py) — the catalog
        surface the reference seeds in initdb (main.rs:463-653)."""
        text = _pg_translate(text)
        if not text.strip().strip(";").strip():
            return None  # Empty statement (reference grammar: Stmt::Empty)
        if _BEGIN_RE.match(text):
            self.begin()
            return None
        if _COMMIT_RE.match(text):
            self.commit()
            return None
        if _ABORT_RE.match(text):
            self.rollback()
            return None
        if _LOCK_RE.match(text) and text.lstrip()[:4].upper() == "LOCK":
            return None
        if _CREATE_TYPE_RE.match(text):
            # parse-and-echo, exactly the reference's executable behavior
            return None
        m = _SET_RE.match(text)
        if m and self.gucs.is_declared(m.group(1)):
            self.gucs.set(m.group(1), m.group(2))
            return None
        m = _CREATE_MV_RE.match(text)
        if m:
            self.create_materialized_view(m.group(1), m.group(2))
            return None
        m = _REFRESH_MV_RE.match(text)
        if m:
            refreshed = self.refresh_materialized_view(m.group(1))
            return self.spark.createDataFrame([(refreshed,)], "refreshed BOOLEAN")
        m = _OPTIMIZE_RE.match(text)
        if m:
            zcols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
            n = self.compact(m.group(1), target_files=4, zorder_by=zcols)
            return self.spark.createDataFrame([(n,)], "files BIGINT")
        m = _VACUUM_RE.match(text)
        if m:
            n = self.gc(m.group(1))
            return self.spark.createDataFrame([(n,)], "removed BIGINT")
        m = _ANALYZE_RE.match(text)
        if m and self._table_exists(m.group(1)):
            st = self.analyze(m.group(1))
            return self.spark.createDataFrame(
                [(st["rows"],)], "rows BIGINT"
            )
        m = _HISTORY_RE.match(text)
        if m and self._table_exists(m.group(1)):
            return self.spark.createDataFrame(
                self.history(m.group(1)),
                "version INT, n_files INT, schema STRING, available BOOLEAN",
            )
        m = _DESCRIBE_RE.match(text)
        if m and self._table_exists(m.group(1)):
            return self.spark.createDataFrame(
                [(d["column"], d["type"], d["not_null"]) for d in self.describe(m.group(1))],
                "column STRING, type STRING, not_null BOOLEAN",
            )
        m = _SHOW_RE.match(text)
        if m:
            name = m.group(1).lower()
            if name == "tables":
                return self.spark.createDataFrame(
                    [(t,) for t in self.tables()] or [], "table_name STRING"
                )
            if name == "all":
                return self.spark.createDataFrame(
                    self.gucs.show_all(), "name STRING, setting STRING"
                )
            if self.gucs.is_declared(name):
                return self.spark.createDataFrame(
                    [(_guc_fmt(self.gucs.show(name)),)], f"{name} STRING"
                )
            # not a GUC → Spark's own SHOW (TABLES/DATABASES/…)
        m = _CTAS_RE.match(text)
        if m:
            name, body = m.group(1), m.group(2)
            self._register_all()
            n = self._create_loaded(name, self.spark.sql(body))
            return self.spark.createDataFrame([(n,)], "count BIGINT")
        m = _CREATE_RE.match(text)
        if m:
            # column list à la the reference's grammar (tablecmds.rs:103-148):
            # `name type [NOT NULL]` per column, reloptions via WITH (k=v)
            name, cols, withopts = m.group(1), m.group(2), m.group(3)
            ddl_parts, not_null = [], []
            for part in _split_top_level(cols):
                part = part.strip()
                mm = re.match(r"(?i)^(\w+)\s+(.+?)(\s+NOT\s+NULL)?$", part, re.DOTALL)
                col, dtype, nn = mm.group(1), mm.group(2).strip(), mm.group(3)
                ddl_parts.append(f"{col} {dtype}")
                if nn:
                    not_null.append(col)
            props = None
            if withopts:
                props = {}
                for kv in _split_top_level(withopts):
                    k, v = kv.split("=", 1)
                    props[k.strip()] = v.strip().strip("'\"")
            self.create_table(name, ", ".join(ddl_parts), not_null, props)
            return None
        m = _DROP_RE.match(text)
        if m:
            try:
                self.drop_table(m.group(2))
            except UndefinedTable:
                if not m.group(1):  # no IF EXISTS → propagate, like PG
                    raise
            return None
        m = _INSERT_RE.match(text)
        if m:
            name, body = m.group(1), m.group(2)
            self._register_all()
            q = f"SELECT * FROM ({body})" if body[:6].upper() == "VALUES" else body
            src = self.spark.sql(q)
            schema = T.StructType.fromDDL(self._read_m(name)["schema"])
            # positional column matching, like INSERT without a column list
            n = self.insert(name, src.toDF(*[f.name for f in schema.fields]))
            return self.spark.createDataFrame([(n,)], "count BIGINT")
        m = _ALTER_RE.match(text)
        if m:
            if m.group(2):
                self.add_column(m.group(1), m.group(2), m.group(3).strip())
            else:
                self.drop_column(m.group(1), m.group(4))
            return None
        m = _COPY_HEAD_RE.match(text)
        if m:
            name, direction, path, tail = m.groups()
            o = _parse_copy_options(tail)
            if direction.upper() == "FROM":
                n = self.copy_from(
                    name, path,
                    delimiter=o.get("delimiter", ","),
                    null_marker=o.get("null_marker", r"\N"),
                    parallel=o.get("parallel"),
                    csv=o.get("csv", False),
                )
            else:
                n = self.copy_to(
                    name, path,
                    delimiter=o.get("delimiter", ","),
                    null_marker=o.get("null_marker", r"\N"),
                    parallel=o.get("parallel"),
                    csv=o.get("csv", False),
                )
            return self.spark.createDataFrame([(n,)], "count BIGINT")
        if re.match(r"^\s*COPY\b", text, re.IGNORECASE):
            raise SqlSyntaxError(f"unsupported COPY syntax: {text.strip()[:80]!r}")
        m = _MERGE_RE.match(text)
        if m:
            name, body, keys = m.group(1), m.group(2), m.group(3)
            do_update = m.group("upd") is not None
            do_insert = m.group("ins") is not None
            if not (do_update or do_insert):
                raise SqlSyntaxError(
                    "MERGE requires at least one WHEN clause"
                )
            self._register_all()
            src = self.spark.sql(body)
            upd, ins = self.merge(
                name, src, [k.strip() for k in keys.split(",")],
                update=do_update, insert=do_insert,
            )
            return self.spark.createDataFrame(
                [(upd, ins)], "updated BIGINT, inserted BIGINT"
            )
        m = _DELETE_RE.match(text)
        if m and m.group(1).upper() != "SELECT":
            n = self.delete(m.group(1), m.group(2) or "true")
            return self.spark.createDataFrame([(n,)], "count BIGINT")
        m = _UPDATE_RE.match(text)
        if m:
            if _SUBQUERY_RE.search(text):
                self._register_all()  # a subquery reads current snapshots
            set_list, where = _split_where(m.group(2))
            assignments = {}
            for part in _split_top_level(set_list):
                col, expr = part.split("=", 1)
                assignments[col.strip()] = expr.strip()
            n = self.update(m.group(1), assignments, where or "true")
            return self.spark.createDataFrame([(n,)], "count BIGINT")
        self._register_all()
        # time travel: rewrite `t FOR VERSION AS OF n` to a temp view
        # pinned to that manifest version (Engine.table(version=n))
        def _pin(m: re.Match) -> str:
            tbl, ver = m.group(1), int(m.group(2))
            view = f"{tbl.lower()}__v{ver}"
            self.table(tbl, version=ver).createOrReplaceTempView(view)
            return view

        text = _VERSION_AS_OF_RE.sub(_pin, text)
        return self.spark.sql(text)

    def run_script(self, script: str) -> DataFrame | None:
        """Execute a multi-statement SQL script (statements separated by
        top-level semicolons — quotes and comments respected), returning
        the last statement's result. The reference's protocol executes
        one statement per message; this is the psql-script convenience
        over the same dispatch: `engine.run_script("BEGIN; INSERT …;
        COMMIT")` behaves like the three calls in sequence."""
        result: DataFrame | None = None
        for stmt in _split_statements(script):
            result = self.sql(stmt)
        return result

    # -- transactions ----------------------------------------------------------
    # The reference's xact state machine (src/access/xact.rs:215-733) over
    # manifests: BEGIN opens a pending-manifest map; every DML stages its
    # file-list change there instead of persisting; COMMIT publishes each
    # touched table as ONE new version (optimistic first-committer-wins);
    # ABORT deletes the staged segment dirs — the reference's abort
    # un-claiming written files (src/access/sv.rs:510-535). Reads inside
    # the transaction see staged state (read-your-writes) and pin each
    # table's snapshot at first touch (repeatable read per table).
    def begin(self) -> None:
        if self._txn is not None:
            return  # PG: WARNING, already in a transaction — keep it open
        self._txn = {}

    def in_transaction(self) -> bool:
        return self._txn is not None

    def commit(self) -> None:
        if self._txn is None:
            return  # PG: WARNING, no transaction in progress
        txn, self._txn = self._txn, None
        dirty = {k: st for k, st in txn.items() if st["dirty"]}
        if not dirty:
            return
        dirs = {k: os.path.join(self.warehouse, k) for k in dirty}
        # ALL touched tables' commit locks are held (sorted — no deadlock)
        # across the whole validate+publish window, so a concurrent commit
        # cannot land between one table's validation and another table's
        # publish: the multi-table transaction is all-or-nothing against
        # concurrent committers. Durability is two-phase: every table's
        # new manifest is first WRITTEN (fsync'd temp — all byte-allocating
        # I/O, where disk-full strikes, happens here with nothing yet
        # visible), and only then RENAMED into place, shrinking the
        # partial-commit window to N same-filesystem renames that allocate
        # no data blocks. Any failure rolls the whole transaction back and
        # reclaims staged segments for every table not yet renamed.
        prepared: list[tuple[str, dict]] = []
        published = False
        handled = False
        try:
            with mf.multi_commit_lock(dirs.values()):
                try:
                    for key, st in dirty.items():
                        # stg-* → seg-* under the locks, just before the
                        # swap (round-6 streaming review): committed
                        # names enter engine.stream()'s glob only now.
                        # In-place seg-list mutation keeps rollback's
                        # cleanup paths correct if a rename fails.
                        m = st["manifest"]
                        m["files"], m["stats_by_file"] = (
                            self._finalize_seg_dirs(
                                st["segs"], m["files"],
                                m.get("stats_by_file")))
                    for key, st in dirty.items():
                        prepared.append((key, mf.prepare_publish(
                            dirs[key], st["manifest"], st["base_version"]
                        )))
                    for key, handle in prepared:
                        mf.finish_publish(handle)
                    published = True
                except Exception:
                    # prepare failure (version moved, or I/O writing a
                    # temp) → nothing published, discard temps + reclaim
                    # everything; a failure mid-phase-2 reclaims only the
                    # UNpublished tables' segments — published manifests
                    # already reference theirs, deleting those would
                    # corrupt the table. Published-ness is decided by the
                    # ON-DISK commit point (publish_landed), not an
                    # in-memory progress list: finish_publish can fail
                    # AFTER its manifest.json rename (in the dir fsync),
                    # and that table is committed even though the loop
                    # never finished. This handler MUST run while the
                    # commit locks are still held (round-5 ADVICE): with
                    # the locks released first, a concurrent committer
                    # could advance a landed table N → N+1 before
                    # publish_landed reads it, misclassifying a COMMITTED
                    # table as unpublished — abort_publish would then
                    # delete manifest.vN.json and _discard_segs would
                    # delete segments the live manifest references.
                    handled = True
                    landed = {
                        key for key, handle in prepared
                        if mf.publish_landed(handle)
                    }
                    for key, handle in prepared:
                        if key not in landed:
                            mf.abort_publish(handle)
                    self._discard_segs(
                        {k: v for k, v in dirty.items() if k not in landed}
                    )
                    self._unmark_segs({k: dirty[k] for k in landed})
                    for k in landed:  # committed tables get their links
                        self._sync_stream_links(dirs[k])
                    raise
        except Exception:
            if not handled and not published:
                # lock ACQUISITION failed (I/O on a .commit.lock):
                # nothing was prepared or published — plain rollback. A
                # lock-RELEASE failure after a successful publish takes
                # the published=True path instead: segments stay (the
                # live manifests reference them); only their .staged
                # markers linger for gc to age out.
                self._discard_segs(dirty)
            raise
        self._unmark_segs(dirty)
        for tdir in dirs.values():
            self._sync_stream_links(tdir)

    def rollback(self) -> None:
        if self._txn is None:
            return
        txn, self._txn = self._txn, None
        self._discard_segs(txn)

    @staticmethod
    def _discard_segs(txn: dict) -> None:
        import shutil

        for st in txn.values():
            for seg in st["segs"]:
                shutil.rmtree(seg, ignore_errors=True)
                # the marker may sit at EITHER spelling: a commit that
                # failed between _finalize_seg_dirs' dir rename and its
                # marker rename leaves the dir at seg-* but the marker at
                # the old stg-* name — remove both so a rolled-back
                # transaction never strands a marker for gc to age out
                d, base = os.path.dirname(seg), os.path.basename(seg)
                twins = {base}
                if base.startswith("seg-"):
                    twins.add("stg-" + base[4:])
                elif base.startswith("stg-"):
                    twins.add("seg-" + base[4:])
                for t in twins:
                    try:
                        os.remove(os.path.join(d, t + ".staged"))
                    except OSError:
                        pass

    @staticmethod
    def _unmark_segs(txn: dict) -> None:
        """Drop the .staged sidecar markers once the segments' files are
        referenced by a published manifest (they're now gc-visible as
        live files, no marker needed)."""
        for st in txn.values():
            for seg in st["segs"]:
                try:
                    os.remove(seg + ".staged")
                except OSError:
                    pass

    @staticmethod
    def _stage(tdir: str, prefix: str = "stg") -> str:
        """Allocate a staging segment dir name and drop a `.staged`
        sidecar marker FIRST. The marker makes in-flight segments
        discoverable across sessions: another Engine's gc() must not
        reclaim files that aren't in the on-disk manifest merely because
        THIS session hasn't committed yet (an open transaction, or the
        seconds between an autocommit write and its manifest swap).
        Markers are removed on publish/rollback; a crash leaves one
        behind, and gc treats markers older than its retention window as
        crashed-transaction leftovers (crash ≡ rollback, eventually).

        The default prefix is `stg` — OUTSIDE engine.stream()'s `seg-*`
        source glob (round-6 streaming review): staging under seg-* let
        a downstream CDC stream list uncommitted parquet into its offset
        log, emitting phantom rows a rollback then deleted (poisoning
        the checkpoint with FileNotFound replays) and splitting one
        in-flight write across micro-batches. _finalize_seg_dirs renames
        stg-* → seg-* immediately before the manifest swap, shrinking
        the uncommitted-visibility window from the whole write+commit to
        the final milliseconds (a crash inside THAT window leaves a
        marked seg-* dir that gc ages out — same as any crashed txn)."""
        staging = os.path.join(tdir, f"{prefix}-{uuid.uuid4().hex[:12]}")
        with open(staging + ".staged", "w") as f:
            f.write(str(time.time()))
        return staging

    @staticmethod
    def _finalize_seg_dirs(segs: list[str], files: list[str],
                           stats: dict | None) -> tuple[list, dict]:
        """Rename stg-* staging dirs to their committed seg-* names (the
        namespace engine.stream() sources) immediately before the
        manifest swap — for autocommit and transaction COMMIT alike.
        Mutates `segs` IN PLACE as each rename lands, so if a rename
        fails mid-list the caller's failure cleanup targets the real
        on-disk names. Returns `files` and the `stats` zone maps with
        every path under a renamed dir rewritten. Non-stg dirs
        (compact-*: committed rewrites that must NOT re-stream) pass
        through untouched.

        Error contract (round-6 VERDICT #1): a VANISHED staging dir means
        a concurrent gc(staged_retention_s=0) reaped this open
        transaction's segment — the typed StagedFileVanished, same as
        manifest._verify_files_exist, so the commit loses that race
        loudly and rolls back. Any other rename failure (EIO, the marker
        rename included) PROPAGATES and fails the commit: a swallowed
        marker-rename failure would leave the old stg-*.staged marker
        guarding nothing while the renamed seg-* dir sits unmarked and
        unpublished — exactly the state gc would mis-reap. The only
        swallowed case is the marker itself already being gone
        (FileNotFoundError): the data dir survived, so the marker's
        absence is benign — commit removes it after publish anyway."""
        renames: list[tuple[str, str]] = []
        for i, s in enumerate(list(segs)):
            base = os.path.basename(s)
            if not base.startswith("stg-"):
                continue
            final = os.path.join(os.path.dirname(s), "seg-" + base[4:])
            try:
                os.rename(s, final)
            except FileNotFoundError:
                raise StagedFileVanished(
                    f"staging dir {s!r} vanished before COMMIT (reaped by"
                    " aggressive gc?); transaction rolled back"
                )
            segs[i] = final
            try:
                os.rename(s + ".staged", final + ".staged")
            except FileNotFoundError:
                pass  # marker already reaped — benign, data dir survived
            renames.append((s, final))

        def fix(p: str) -> str:
            for old, new in renames:
                if p == old or p.startswith(old + os.sep):
                    return new + p[len(old):]
            return p
        return [fix(f) for f in files], {fix(k): v
                                         for k, v in (stats or {}).items()}

    @staticmethod
    def _sync_stream_links(tdir: str) -> None:
        """Reconcile `tdir/.stream/` — the COMMITTED-segment namespace
        engine.stream() sources — against the live manifest: one
        relative symlink per seg-* dir the manifest references. Links
        are created only AFTER the commit point (callers: commit(),
        _write_segment(), gc(), stream()), so a streaming query's file
        listing can never observe a segment whose commit subsequently
        fails — this CLOSES the round-6 residual phantom-segment window
        (an uncommitted seg-* dir visible to a raw seg-* glob for the
        milliseconds between the stg→seg rename and the manifest swap).
        A crash between publish and sync leaves a committed seg
        unlinked; the next sync on the table (any later commit, gc, or
        stream() call) heals it and the file source picks the files up
        as a late micro-batch — data delayed, never lost, never
        phantom. Dangling links (target reaped by gc) are removed so
        the listing never crashes on a vanished dir; links whose target
        still exists stay even if no longer in the current manifest
        (COW leftovers pinned readers may still need). Best-effort by
        contract: post-commit-point bookkeeping must never turn a
        durable commit into an apparent failure, and every step
        tolerates concurrent syncers (unique temp + atomic rename)."""
        try:
            m = mf.read_manifest(tdir)
        except Exception:
            return  # table vanished / unreadable: nothing to reconcile
        sdir = os.path.join(tdir, ".stream")
        try:
            os.makedirs(sdir, exist_ok=True)
            have = set(os.listdir(sdir))
        except OSError:
            return  # table dropped concurrently
        want = set()
        for f in m.get("files", []):
            top = os.path.relpath(f, tdir).split(os.sep, 1)[0]
            if top.startswith("seg-"):
                want.add(top)
        for name in sorted(want - have):
            tmp = os.path.join(sdir, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
            try:
                os.symlink(os.path.join("..", name), tmp)
                os.rename(tmp, os.path.join(sdir, name))
            except OSError:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        for name in have:
            p = os.path.join(sdir, name)
            # leftover temps from a crashed syncer, and dangling links
            # (isdir follows the link: False once the target is gone)
            if name.endswith(".tmp") or not os.path.isdir(p):
                try:
                    os.remove(p)
                except OSError:
                    pass

    def _read_m(self, name: str) -> dict:
        """Current manifest as this session sees it: the staged pending
        manifest inside a transaction (staging the table's snapshot on
        first touch), the on-disk manifest otherwise."""
        tdir = self._existing_dir(name)
        if self._txn is None:
            return mf.read_manifest(tdir)
        key = name.lower()
        st = self._txn.get(key)
        if st is None:
            base = mf.read_manifest(tdir)
            st = {
                "base_version": base["version"],
                "manifest": base,
                "segs": [],
                "dirty": False,
            }
            self._txn[key] = st
        return st["manifest"]

    def _write_segment(
        self,
        name: str,
        df: DataFrame,
        base_version: int | None,
        keep: list[str] | None = None,
        *,
        prefix: str = "stg",
        count: bool = False,
        props_update: dict | None = None,
    ) -> int:
        """The one segment lifecycle behind every load, DML and rewrite:
        stage a segment dir (_stage: marker first), write `df` into it,
        zone-map the new files and publish them — appended, or, given
        `keep` (the files the change leaves untouched), as the whole new
        file list. Autocommit swaps the manifest now, optimistically
        against `base_version` (None: the live version once the write is
        done); inside a transaction the change is staged into the
        pending manifest. Returns the rows written when `count` (counted
        before the publish renames stg-* → seg-*), else the number of
        new files."""
        tdir = self._table_dir(name)
        staging = self._stage(tdir, prefix)
        df.write.mode("overwrite").parquet(staging)
        new = [os.path.join(staging, f) for f in os.listdir(staging)
               if f.endswith(".parquet")]
        n = len(new)
        if count:
            n = self.spark.read.parquet(*new).count() if new else 0
        files = new if keep is None else keep + new
        stats, segs = zonemap.collect_file_stats(new), [staging]
        if self._txn is not None:
            st = self._txn[name.lower()]  # _read_m already staged it
            mf._apply_delta(st["manifest"], files, keep is not None, stats,
                            props_update)
            st["segs"].extend(segs)
            st["dirty"] = True
            return n
        if base_version is None:
            base_version = mf.read_manifest(tdir)["version"]
        # stg-* → seg-* at the last moment before the swap: the
        # committed names enter engine.stream()'s source glob only
        # now (round-6 streaming review)
        files, stats = self._finalize_seg_dirs(segs, files, stats)
        try:
            if keep is None:
                # appends are COMMUTATIVE: the files are already
                # written, so losing the optimistic race just means
                # re-basing the manifest append on the new version —
                # retry, don't fail (COW replaces are NOT retried:
                # they were computed from a snapshot the winner may
                # have invalidated).
                for attempt in range(5):
                    try:
                        mf.commit_files(tdir, files, base_version,
                                        stats=stats, props=props_update)
                        break
                    except SerializationFailure:
                        if attempt == 4:
                            raise
                        base_version = mf.read_manifest(tdir)["version"]
            else:
                # props merge INSIDE the locked, versioned swap — an
                # out-of-band _persist could be clobbered by a
                # concurrent commit and desyncs manifest.vN copies
                mf.replace_files(tdir, files, base_version,
                                 stats=stats, props=props_update)
        except SerializationFailure:
            # the commit lost: its staged files will never be
            # referenced — reclaim them now instead of waiting for
            # gc's crashed-txn retention window
            self._discard_segs({"_": {"segs": segs}})
            raise
        self._unmark_segs({"_": {"segs": segs}})
        self._sync_stream_links(tdir)
        return n

    # -- DDL -----------------------------------------------------------------
    def create_table(
        self,
        name: str,
        schema: str | T.StructType,
        not_null: list[str] | None = None,
        props: dict | None = None,
    ) -> None:
        """CREATE TABLE (reference: src/commands/tablecmds.rs:103-148 —
        catalog rows + table dir + empty manifest; here: dir + manifest,
        the schema IS the catalog entry)."""
        tdir = self._table_dir(name)
        if isinstance(schema, T.StructType):
            ddl = schema.simpleString()[7:-1]  # struct<a:int,…> → a:int,…
        else:
            ddl = schema
        os.makedirs(tdir, exist_ok=True)
        # existence check + initial manifest write under the commit
        # lock (round-6 storage review): two concurrent creators could
        # both pass an unlocked check, and the SLOWER init_manifest
        # would then reset a table the faster creator already committed
        # data into back to an empty v0 — silent data orphaning with no
        # DuplicateTable ever raised.
        with mf.commit_lock(tdir):
            if os.path.exists(mf.manifest_path(tdir)):
                raise DuplicateTable(f"table {name!r} already exists")
            mf.init_manifest(tdir, ddl, not_null or [], props)

    def drop_table(self, name: str) -> None:
        import shutil

        tdir = self._existing_dir(name)
        # serialize behind in-flight commits (round-6 storage review):
        # rmtree racing a committer between its fsync'd-temp write and
        # its renames would fail the commit mid-pair at best. The lock
        # FILE itself dies with the dir; commit_lock's inode check
        # handles waiters left holding the unlinked inode.
        with mf.commit_lock(tdir):
            if not os.path.exists(mf.manifest_path(tdir)):
                raise UndefinedTable(f"table {name!r} does not exist")
            shutil.rmtree(tdir)

    def describe(self, name: str) -> list[dict]:
        """DESCRIBE TABLE: ordered attribute list from the manifest (the
        reference loads kb_attribute ordered by attnum — rel.rs:84-122)."""
        tdir = self._existing_dir(name)
        m = mf.read_manifest(tdir)
        schema = T.StructType.fromDDL(m["schema"])  # declared types (typmod)
        return [
            {
                "column": f.name,
                "type": f.dataType.simpleString(),
                "not_null": f.name in m["not_null"],
            }
            for f in schema.fields
        ]

    def add_column(self, name: str, col: str, dtype: str) -> None:
        """ALTER TABLE … ADD COLUMN — metadata-only: no file is touched;
        existing rows read as NULL for the new column (the parquet reader
        null-fills fields missing from a file's footer), new appends
        carry it. The new column is necessarily nullable (there is no
        backfill), like Delta/Iceberg schema evolution. Old snapshot
        versions keep their schema (time travel shows the table as it
        was)."""
        tdir = self._existing_dir(name)
        m = mf.read_manifest(tdir)
        schema = _phys_schema(m["schema"])
        if col in schema.fieldNames():
            raise ValueError(f"column {col!r} already exists")
        mf.update_schema(tdir, f"{m['schema']}, {col} {dtype}",
                         m["not_null"], m["version"])

    def drop_column(self, name: str, col: str) -> None:
        """ALTER TABLE … DROP COLUMN — metadata-only: the column vanishes
        from the current schema (scans simply stop projecting it; parquet
        column pruning means it is never read), data files keep the bytes
        for older pinned versions."""
        tdir = self._existing_dir(name)
        m = mf.read_manifest(tdir)
        # declared schema, not physical: keep varchar typmods through the
        # DDL rebuild
        schema = T.StructType.fromDDL(m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no such column {col!r}")
        kept = [f for f in schema.fields if f.name != col]
        if not kept:
            raise ValueError("cannot drop the last column")
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in kept)
        mf.update_schema(tdir, ddl,
                         [c for c in m["not_null"] if c != col], m["version"])

    def history(self, name: str) -> list[tuple]:
        """Table version history (Delta's DESCRIBE HISTORY analog) from
        the retained per-version manifests: (version, n_files, schema,
        available) — available=False for versions gc() has trimmed
        (still listed so the timeline has no silent holes)."""
        tdir = self._existing_dir(name)
        cur = mf.read_manifest(tdir)["version"]
        out = []
        for v in range(cur + 1):
            try:
                m = mf.read_manifest_version(tdir, v)
                out.append((v, len(m["files"]), m["schema"], True))
            except FileNotFoundError:
                out.append((v, None, None, False))
        return out

    def tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.exists(mf.manifest_path(os.path.join(self.warehouse, d)))
        )

    # -- reads ---------------------------------------------------------------
    def table(
        self, name: str, version: int | None = None, where: str | None = None
    ) -> DataFrame:
        """Snapshot read: pins a manifest version's file list — later
        commits are invisible to this DataFrame (reference: Snapshot
        visibility, src/access/xact.rs:76-99, by construction).
        `version=` reads a historical snapshot (time travel); old
        versions stay readable until gc() reclaims their files.

        `where=` filters — and first prunes whole FILES via the
        manifest's zone maps (plans/zonemap.py): files whose per-column
        min/max can't satisfy the predicate are never given to Spark.
        The full predicate is always re-applied as a filter, so pruning
        is purely a scan reduction."""
        m = (
            self._read_m(name)
            if version is None
            else mf.read_manifest_version(self._existing_dir(name), version)
        )
        schema = _phys_schema(m["schema"])
        files = m["files"]
        if where is not None and files:
            files = zonemap.prune(files, m.get("stats_by_file", {}), where)
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(*files)
        if where is not None:
            df = df.filter(where)
        return df

    def scan_stats(self, name: str, where: str | None = None) -> dict:
        """Observability for zone-map file skipping: how many of the
        snapshot's files a `where=` scan would actually read — the
        clustering-health gauge (files_pruned ≈ 0 on an append-ordered
        table means compact(sort_by/zorder_by=…) is due). Metadata-only:
        reads the manifest, never the data."""
        m = self._read_m(name)
        total = len(m["files"])
        if where is None or not m["files"]:
            return {"files_total": total, "files_read": total,
                    "files_pruned": 0}
        kept = zonemap.prune(m["files"], m.get("stats_by_file", {}), where)
        return {
            "files_total": total,
            "files_read": len(kept),
            "files_pruned": total - len(kept),
        }

    def stream(self, name: str) -> DataFrame:
        """Streaming read over an engine table: every parquet file that
        appears under the table directory becomes streamable input, so
        each committed COPY/INSERT segment is picked up as a micro-batch
        — the Delta-streaming-source shape (append-only CDC) on the same
        manifest-versioned layout. Combine with a checkpointed sink
        (streaming/events.py::run_resumable) for incremental pipelines
        that resume across restarts.

        Semantics: append-only. Copy-on-write rewrites (DELETE/UPDATE/
        MERGE/compact) write NEW files containing surviving rows — a
        downstream stream would observe those as appends, so run GC-aware
        streams only on append-only tables (the common ingest case).

        The source globs `.stream/seg-*` — a link farm of COMMITTED
        segments maintained by _sync_stream_links strictly after each
        commit point — not the raw seg-* namespace, so a stream running
        mid-commit can never list a segment whose commit subsequently
        fails and rolls its files back (the round-6 residual
        phantom-segment window, closed in round 7)."""
        tdir = self._existing_dir(name)
        m = mf.read_manifest(tdir)
        schema = _phys_schema(m["schema"])
        self._sync_stream_links(tdir)
        return (
            self.spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(tdir, ".stream", "seg-*"))
        )

    # -- ingest ---------------------------------------------------------------
    def copy_from(
        self,
        name: str,
        path: str,
        delimiter: str = ",",
        null_marker: str = r"\N",
        parallel: int | None = None,
        csv: bool = False,
    ) -> int:
        """COPY name FROM path — returns loaded row count (`COPY n`).
        Scatter = Spark tasks; `(parallel N)` = repartition(N) ⇒ N task
        files, like the reference's one-L0-file-per-worker
        (src/commands/copy.rs:131-145). With no explicit N the width is
        derived from input SIZE (one task per ~16 MiB, capped at the
        session parallelism — sources/copy.py:auto_copy_parallel;
        round-8 INGEST evidence showed any fixed knob inverts with
        input size). Commit = atomic manifest append."""
        m = self._read_m(name)
        schema = _phys_schema(m["schema"])

        df = parse_typed(self.spark, path, schema, delimiter, null_marker, csv)
        if parallel is None:
            from kuibadb_spark.sources.copy import auto_copy_parallel

            parallel = auto_copy_parallel(self.spark, path)
        if parallel:
            df = df.repartition(parallel)

        try:
            check_not_null(df, m["not_null"])
            check_constraint(df, m["props"].get("check"))
            return self._write_segment(name, df, m["version"], count=True)
        except Exception as e:
            # fast-path reader failure → re-derive the reference's counted
            # column-count diagnostic; if counts are clean the failure was
            # a type error — propagate the original (ANSI cast semantics)
            if not csv and "MALFORMED_CSV_RECORD" in str(e):
                from kuibadb_spark.sources.copy import diagnose_bad_lines

                diagnose_bad_lines(self.spark, path, schema, delimiter)
            raise

    def copy_to(
        self,
        name: str,
        path: str,
        delimiter: str = ",",
        null_marker: str = r"\N",
        header: bool = False,
        parallel: int | None = None,
        where: str | None = None,
        csv: bool = False,
    ) -> int:
        """COPY name TO path — export the current snapshot as delimited
        text; returns exported row count. The reference rejects this
        ('COPY TO is not supported', src/commands/copy.rs:276) — provided
        here to complete the COPY surface. Mirrors copy_from's dialect
        (delimiter, NULL marker) so a copy_to → copy_from round-trip is
        lossless. Writes `parallel` part-files (Spark tasks — one file
        per worker, the copy_from shape in reverse); `where=` exports a
        zone-map-pruned subset."""
        df = self.table(name, where=where)
        n = df.count()
        out = df.repartition(parallel) if parallel else df
        writer = out.write.mode("overwrite").options(
            delimiter=delimiter,
            nullValue=null_marker,
            header=header,
            emptyValue="",
        )
        if not csv:
            # raw text dialect: no quoting (quote='' → \u0000 = disabled),
            # mirroring parse_typed's naive split on the read side — the
            # quoted-field dialect is exactly what CSV mode opts into
            writer = writer.option("quote", "")
        writer.csv(path)
        return n

    def insert(self, name: str, df: DataFrame,
               props_update: dict | None = None) -> int:
        """INSERT INTO: append a DataFrame through the same atomic
        manifest commit as COPY (task files + swap). `props_update`
        merges into the table props in the SAME swap (used by the
        streaming sink's batch-id marker — streaming/events.py)."""
        m = self._read_m(name)
        aligned = self._align(df, _phys_schema(m["schema"]))
        check_not_null(aligned, m["not_null"])
        check_constraint(aligned, m["props"].get("check"))
        return self._write_segment(name, aligned, m["version"], count=True,
                                   props_update=props_update)

    def delete(self, name: str, where: str) -> int:
        """DELETE FROM name WHERE … — copy-on-write: only files that
        actually contain matching rows are rewritten; untouched files are
        carried into the new manifest version as-is (the Delta/Iceberg COW
        shape). Semantics mirror the reference's MVCC xmax
        (src/access/csmvcc.rs:151-163 stores per-row xmax arrays: a delete
        stamps visibility, old snapshots still see the row) — here, prior
        manifest versions keep serving the deleted rows via time travel.

        3-valued logic: rows are removed only where the predicate is TRUE;
        FALSE and NULL rows are kept (PG DELETE semantics). Returns the
        deleted row count (`DELETE n`)."""
        touched, untouched, df, m = self._touched_files(name, where)
        if not touched:
            return 0
        from pyspark.sql import functions as F

        deleted = df.filter(F.expr(where)).count()
        kept = df.filter(~F.expr(where).eqNullSafe(F.lit(True)))
        self._write_segment(name, kept, m["version"], untouched)
        return deleted

    def update(self, name: str, set: dict[str, str], where: str = "true") -> int:
        """UPDATE name SET col = expr, … WHERE … — copy-on-write over
        touched files only, same shape as delete(). SET expressions are
        SQL strings evaluated per matching row; non-matching rows in a
        touched file are rewritten unchanged. Returns updated row count."""
        touched, untouched, df, m = self._touched_files(name, where)
        if not touched:
            return 0
        from pyspark.sql import functions as F

        schema = _phys_schema(m["schema"])
        bad = set.keys() - {f.name for f in schema.fields}
        if bad:
            raise ValueError(f"unknown columns in SET: {sorted(bad)}")
        updated = df.filter(F.expr(where)).count()
        match = F.expr(where).eqNullSafe(F.lit(True))
        out = df.select(
            *[
                (
                    F.when(match, F.expr(set[f.name]).cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in set
                    else F.col(f.name)
                )
                for f in schema.fields
            ]
        )
        check_not_null(out, m["not_null"])
        check_constraint(out, m["props"].get("check"))
        self._write_segment(name, out, m["version"], untouched)
        return updated

    def merge(self, name: str, source: DataFrame, on: list[str],
              update: bool = True, insert: bool = True) -> tuple[int, int]:
        """MERGE: rows in `source` replace target rows with equal key
        columns `on` (when `update`); unmatched source rows are inserted
        (when `insert`). Which actions run mirrors the statement's WHEN
        clauses — an update-only MERGE never inserts unmatched source
        rows, an insert-only MERGE never rewrites a target file (it is a
        pure filtered append). Copy-on-write like delete()/update():
        only target files containing matched keys are rewritten, the
        rest carry into the new version untouched.
        Returns (updated, inserted).

        Scale shape: one shuffle join target⋈source on the key to find
        touched files (metadata-sized result), one anti-join of the
        touched rows against the source for the rewrite — the standard
        Delta/Iceberg COW MERGE plan."""
        if not (update or insert):
            raise ValueError("merge() requires update or insert")
        m = self._read_m(name)
        schema = _phys_schema(m["schema"])
        aligned = self._align(source, schema)
        check_not_null(aligned, m["not_null"])
        check_constraint(aligned, m["props"].get("check"))

        full = (
            self.spark.read.schema(schema).parquet(*m["files"])
            if m["files"]
            else self.spark.createDataFrame([], schema)
        )
        # keys stay target-free: the file-hit split below (_split_files)
        # requires a single parquet source in its plan, so the source
        # keyset must not have the target scan in its lineage
        keys = aligned.select(*on).distinct()
        matched = full.join(keys, on, "semi")  # AQE broadcasts small key sets
        if not update:
            # WHEN NOT MATCHED only: pure append of new-key source rows —
            # no target file is rewritten
            to_insert = aligned.join(full.select(*on), on, "anti")
            # count the rows actually appended — with duplicate keys in
            # the source, every unmatched source row is written, so a
            # distinct-key count would under-report
            inserted = to_insert.count()
            self._write_segment(name, to_insert, m["version"])
            return 0, inserted
        updated = matched.count()
        # rows actually inserted = source rows whose key is absent from
        # the target (all of them are written below), counted
        # row-level for the same duplicate-key reason as the insert-only
        # path — and it's one job where the old key-level form took two
        inserted = (
            aligned.join(full.select(*on), on, "anti").count()
            if insert else 0
        )
        if not insert:
            # WHEN MATCHED only: restrict the written source rows to keys
            # present in the target (applied HERE, at write time — the
            # matched/file-hit plans above must stay single-source)
            aligned = aligned.join(full.select(*on), on, "semi")

        touched, untouched = self._split_files(m["files"], matched)
        survivors = (
            self.spark.read.schema(schema).parquet(*touched).join(keys, on, "anti")
            if touched
            else self.spark.createDataFrame([], schema)
        )
        self._write_segment(name, survivors.unionByName(aligned),
                            m["version"], untouched)
        return updated, inserted

    def _touched_files(self, name: str, where: str):
        """Split the current snapshot's files into (touched, untouched) by
        whether any row matches `where` — ONE distributed job: the scan
        gets the predicate pushed down and the distinct file list shipped
        back is metadata-sized (file names, not rows).

        Returns the manifest snapshot the split was computed FROM as the
        fourth element: the caller's COW publish must use THIS snapshot's
        version as its optimistic base (round-6 storage review) — a
        second read could see a concurrent commit's newer version, and
        validating against it would let a file list derived from the OLD
        snapshot replace the new one, silently dropping the concurrent
        commit's files."""
        from pyspark.sql import functions as F

        m = self._read_m(name)
        if not m["files"]:
            return [], [], None, m
        schema = _phys_schema(m["schema"])
        full = self.spark.read.schema(schema).parquet(*m["files"])
        touched, untouched = self._split_files(
            m["files"], full.filter(F.expr(where)))
        df = (
            self.spark.read.schema(schema).parquet(*touched) if touched else None
        )
        return touched, untouched, df, m

    @staticmethod
    def _split_files(files: list[str], hits: DataFrame):
        """(touched, untouched): `files` split by whether any row of
        `hits` — a scan over them — came from the file. One job ships
        back the distinct file names (metadata-sized, not rows);
        input_file_name() returns URIs (file:///…, %-encoded), so each
        file also matches on the decoded path part."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        uris = {r["__f"] for r in hits.select(
            F.input_file_name().alias("__f")).distinct().collect()}
        hit = uris | {unquote(urlparse(u).path) for u in uris if "://" in u}
        return ([f for f in files if f in hit],
                [f for f in files if f not in hit])

    def analyze(self, name: str) -> dict:
        """ANALYZE: collect table statistics (row count, per-column
        null count / min / max / approx NDV) into the manifest props —
        the PG ANALYZE analog over immutable snapshots."""
        from pyspark.sql import functions as F

        df = self.table(name)
        schema = df.schema
        aggs: list = [F.count(F.lit(1)).alias("__rows")]
        for f in schema.fields:
            aggs.append(F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"{f.name}__nulls"))
            aggs.append(F.approx_count_distinct(f.name).alias(f"{f.name}__ndv"))
            if not isinstance(f.dataType, (T.BinaryType, T.ArrayType, T.MapType)):
                aggs.append(F.min(f.name).cast("string").alias(f"{f.name}__min"))
                aggs.append(F.max(f.name).cast("string").alias(f"{f.name}__max"))
        row = df.agg(*aggs).head().asDict() if df.head(1) else {"__rows": 0}
        stats = {"rows": row.get("__rows", 0), "columns": {}}
        for f in schema.fields:
            stats["columns"][f.name] = {
                k: row.get(f"{f.name}__{k}")
                for k in ("nulls", "ndv", "min", "max")
                if f"{f.name}__{k}" in row
            }
        tdir = self._table_dir(name)

        # the write goes through the locked, versioned metadata path
        # (round-6 storage review): a bare _persist here could clobber a
        # concurrent commit landing between our read and our rename
        def _apply(m: dict) -> None:
            m["props"]["stats"] = stats
            # backfill zone maps for any file missing them (tables
            # written before zone maps existed, or by external writers)
            # — footer-only reads, so ANALYZE stays metadata-priced
            missing = [f for f in m["files"]
                       if f not in m.get("stats_by_file", {})]
            if missing:
                m.setdefault("stats_by_file", {}).update(
                    zonemap.collect_file_stats(missing)
                )

        mf.update_props(tdir, _apply)
        return stats

    # -- materialized views ----------------------------------------------------
    # PG-spelled, lakehouse-semantics: the view body runs against the
    # engine's manifest tables; the result is itself a manifest table
    # stamped with the exact source versions it was computed from
    # (props.mv_deps). REFRESH is a no-op while every dependency is still
    # at its recorded version — the staleness check is a metadata read,
    # never a scan — and recomputes (new manifest version, old result
    # time-travelable) when any dependency moved. True incremental
    # maintenance is the streaming surface's job
    # (streaming/events.py::write_stream_to_table + engine.stream).
    def create_materialized_view(self, name: str, body_sql: str) -> None:
        if self._txn is not None:
            raise ValueError(
                "CREATE MATERIALIZED VIEW is DDL and autocommits; "
                "not allowed inside an open transaction"
            )
        self._register_all()
        # dependency set = engine tables the body references by name
        # (word match — over-matching only widens the staleness check)
        deps = {
            t: mf.read_manifest(self._table_dir(t))["version"]
            for t in self.tables()
            if re.search(rf"\b{re.escape(t)}\b", body_sql, re.IGNORECASE)
        }
        # the MV stamps ride create_table's own initial manifest write —
        # no out-of-band _persist (round-6 storage review)
        self._create_loaded(name, self.spark.sql(body_sql),
                            {"mv_sql": body_sql, "mv_deps": deps})

    def _create_loaded(self, name: str, df: DataFrame,
                       props: dict | None = None) -> int:
        """CREATE TABLE … AS and CREATE MATERIALIZED VIEW: create `name`
        and load `df` as one statement. A failed load drops the table
        again, so the statement is atomic like PG's CTAS, and the load's
        own error propagates."""
        self.create_table(name, df.schema, props=props)
        try:
            return self.insert(name, df)
        except Exception:
            try:
                self.drop_table(name)
            except (OSError, UndefinedTable):
                pass  # report the load's error, not the cleanup's
            raise

    def refresh_materialized_view(self, name: str) -> bool:
        """Returns True iff a recompute happened (some dependency moved)."""
        tdir = self._table_dir(name)
        m = mf.read_manifest(tdir)
        sql = m["props"].get("mv_sql")
        if sql is None:
            raise ValueError(f"{name!r} is not a materialized view")
        deps = m["props"]["mv_deps"]
        current = {
            t: mf.read_manifest(self._table_dir(t))["version"]
            for t in deps
            if self._table_exists(t)
        }
        if current == deps:
            return False
        self._register_all()
        aligned = self._align(self.spark.sql(sql), _phys_schema(m["schema"]))
        # mv_deps rides the SAME locked swap as the data (round-6
        # storage review): a trailing unlocked _persist could clobber a
        # concurrent commit and rewrite the version copy in place. The
        # base is the live version once the recompute is written.
        self._write_segment(name, aligned, None, [],
                            props_update={"mv_deps": current})
        return True

    def stream_refresh_materialized_view(self, name: str, checkpoint_dir: str):
        """TRUE incremental maintenance for single-source MVs whose body
        is a streaming-supported aggregation: the body runs over
        engine.stream(dep) (each committed segment arrives as a
        micro-batch), and every trigger REPLACES the MV's file set in
        one manifest swap (complete-mode semantics — Spark maintains
        the aggregation state incrementally; only the result table is
        rewritten). This is the third point on the freshness spectrum:
        refresh_ (metadata-check batch recompute) < this (incremental,
        state carried by Spark) < the raw streaming surface. Returns
        the StreamingQuery; caller drives/stops it."""
        tdir = self._table_dir(name)
        m = mf.read_manifest(tdir)
        sql = m["props"].get("mv_sql")
        if sql is None:
            raise ValueError(f"{name!r} is not a materialized view")
        deps = m["props"]["mv_deps"]
        if len(deps) != 1:
            raise ValueError(
                "streaming refresh supports single-source views; "
                f"{name!r} depends on {sorted(deps)}"
            )
        dep = next(iter(deps))
        view = f"__mv_stream_{name}"
        self.stream(dep).createOrReplaceTempView(view)
        body = re.sub(rf"\b{re.escape(dep)}\b", view, sql, flags=re.IGNORECASE)
        out = self.spark.sql(body)
        schema = _phys_schema(m["schema"])
        # the sink commits on its own autocommit engine: a trigger must
        # never land in a transaction this session has open
        writer = Engine(self.spark, self.warehouse)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            dep_v = mf.read_manifest(self._table_dir(dep))["version"]
            # dep stamp in the SAME locked swap as the data (round-6
            # storage review) — this sink runs every trigger, so an
            # unlocked trailing _persist here was the widest window
            writer._write_segment(name, self._align(batch_df, schema), None,
                                  [], props_update={"mv_deps": {dep: dep_v}})

        return (
            out.writeStream.outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )

    # -- maintenance -----------------------------------------------------------
    def compact(
        self, name: str, target_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the table's files into `target_files` larger ones (the
        small-file compaction every append-heavy parquet table needs; the
        reference's L0→L1 merge, src/access/sv.rs levels). Old files stay
        until gc() — pinned snapshots keep reading them. Returns the new
        file count.

        `sort_by=` CLUSTERS the rewrite: a range-partitioned global sort
        puts disjoint key ranges in separate files, so the manifest zone
        maps (plans/zonemap.py) can skip ~(1 - 1/target_files) of the
        table on a point/range predicate over those columns. Append-time
        files interleave key ranges (every file spans the whole domain ⇒
        zone maps prune nothing); periodic clustered compaction is how a
        100 TB table keeps scans proportional to the predicate, not the
        table.

        `zorder_by=` is the multi-column form (Delta OPTIMIZE ZORDER
        analog): each column is bucketed by its own sampled quantiles
        (equi-depth, so skew can't collapse buckets), the bucket ids are
        bit-interleaved into a z-value, and the rewrite range-partitions
        on it — every listed column stays partially clustered, so zone
        maps prune on ANY of them, where a lexicographic sort serves
        only its leading column. Quantiles come from approxQuantile
        (sampled — boundary count crosses the driver, never data)."""
        m = self._read_m(name)
        if not m["files"]:
            return 0
        schema = _phys_schema(m["schema"])
        df = self.spark.read.schema(schema).parquet(*m["files"])
        if zorder_by:
            df = self._with_zvalue(df, zorder_by)
            df = (
                df.repartitionByRange(target_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif sort_by:
            # repartitionByRange: one shuffle, disjoint sorted ranges per
            # output file (sortWithinPartitions keeps parquet row-group
            # stats tight inside each file too)
            df = df.repartitionByRange(target_files, *sort_by) \
                   .sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(target_files)
        return self._write_segment(name, df, m["version"], [],
                                   prefix="compact")

    _Z_BITS = 4  # 16 equi-depth buckets per z-ordered column

    def _with_zvalue(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """Append `_z`: bit-interleaved equi-depth bucket ids. Quantile
        boundaries are computed by sampling (approxQuantile) — only
        (2^bits − 1) numbers per column reach the driver. Bucket lookup
        is a JVM-side fold over the literal boundary array; interleaving
        is integer shifts — the whole z-value stays in codegen."""
        from pyspark.sql import functions as F

        nb = 1 << self._Z_BITS
        probs = [i / nb for i in range(1, nb)]
        ncols = len(cols)
        buckets = []
        for ci, c in enumerate(cols):
            bounds = df.stat.approxQuantile(c, probs, 0.01)
            arr = ", ".join(repr(float(b)) for b in bounds)
            # rank of c among its quantile boundaries = equi-depth bucket
            buckets.append(
                f"aggregate(array({arr}), 0, "
                f"(acc, b) -> acc + IF(CAST({c} AS DOUBLE) > b, 1, 0))"
            )
        z_terms = [
            f"(((({bexpr}) >> {bit}) & 1) << {bit * ncols + ci})"
            for ci, bexpr in enumerate(buckets)
            for bit in range(self._Z_BITS)
        ]
        return df.withColumn("_z", F.expr(" + ".join(z_terms)))

    # staged segments older than this are crashed-transaction leftovers
    # (crash ≡ rollback): gc may reclaim them. Delta VACUUM's retention
    # window, applied to in-flight writes instead of historical versions.
    GC_STAGED_RETENTION_S = 24 * 3600

    def gc(self, name: str, keep_versions: int = 10,
           staged_retention_s: int | None = None) -> int:
        """Delete data files no longer referenced by the current manifest
        (safe once pinned readers are done) and trim time-travel manifest
        copies older than `keep_versions` back. Returns files removed.

        Cross-session safety: a segment dir with a fresh `.staged`
        sidecar marker belongs to SOME session's in-flight write — this
        session's open transaction or any other process's (the marker is
        written before the first byte of data, engine._stage). Its files
        are not in any on-disk manifest yet, so without the marker gc
        would delete them and the owner's later COMMIT would publish a
        manifest pointing at vanished parquet — silent corruption.
        Markers older than the retention window are crashed-transaction
        leftovers and are reclaimed with their dirs.

        The whole reclaim runs under the table's COMMIT LOCK (round-6
        ADVICE, widened to the data loop): a committer holds the lock
        across its entire prepare+rename window, so with gc serialized
        behind it nothing gc sees can belong to an IN-FLIGHT commit —
        even `staged_retention_s=0` (an explicit "reclaim every
        uncommitted leftover NOW") cannot reap the version copy a
        committer has renamed but not yet pointed manifest.json at, nor
        the staged parquet a commit microseconds from landing
        references. The lock does NOT protect an open transaction's
        staged segments in another session (staging takes no lock);
        those are what the marker age rule is for. If retention=0
        reclaims a LIVE transaction's staging, that transaction's later
        COMMIT must lose loudly, not publish a manifest pointing at
        vanished parquet — manifest._verify_files_exist enforces that
        under the commit lock (StagedFileVanished → full rollback)."""
        retention = (self.GC_STAGED_RETENTION_S
                     if staged_retention_s is None else staged_retention_s)
        tdir = self._table_dir(name)
        with mf.commit_lock(tdir):
            return self._gc_locked(name, tdir, keep_versions, retention)

    @staticmethod
    def _marker_age(marker: str, now: float) -> float | None:
        """Age of a .staged marker, or None if it no longer exists.
        Every read is guarded (round-6 storage review): commit drops
        markers AFTER releasing the commit lock, so a marker can vanish
        between any two syscalls here — the old code's
        getmtime-inside-the-except crashed gc with FileNotFoundError
        when it lost that race."""
        try:
            return now - float(open(marker).read().strip() or 0)
        except FileNotFoundError:
            return None
        except (ValueError, OSError):
            try:
                return now - os.path.getmtime(marker)
            except OSError:
                return None

    def _gc_locked(self, name: str, tdir: str, keep_versions: int,
                   retention: float) -> int:
        # `live` is read INSIDE the lock: a commit landing just before
        # gc acquired it may have published files whose .staged markers
        # are not yet unmarked (commit drops markers after releasing the
        # lock) — a pre-lock snapshot would miss those files and reap
        # committed data under retention=0.
        live = set(mf.read_manifest(tdir)["files"])
        if self._txn is not None and name.lower() in self._txn:
            # files staged by the open transaction are not yet in the
            # on-disk manifest but must survive gc (reference: unclaimed
            # files belong to the writing txn until commit/abort)
            live |= set(self._txn[name.lower()]["manifest"]["files"])
        removed = 0
        now = time.time()
        for seg in os.listdir(tdir):
            if seg.startswith("."):
                continue  # .stream link farm (and any hidden bookkeeping)
            seg_path = os.path.join(tdir, seg)
            if not os.path.isdir(seg_path):
                continue
            marker = seg_path + ".staged"
            age = self._marker_age(marker, now)
            # Everything below can race a concurrent ROLLBACK: gc holds
            # the commit lock but _discard_segs runs without it (an
            # abort takes no lock, like the reference's abort path), so
            # the seg dir or its marker can vanish between any two
            # syscalls here (round-6 ADVICE). A vanished path means the
            # owner reclaimed it — exactly gc's goal — so skip, never
            # crash.
            try:
                if age is not None:
                    if age < retention:
                        continue  # another session's in-flight write
                    if any(os.path.join(seg_path, f) in live
                           for f in os.listdir(seg_path)):
                        # the segment is LIVE (this session's open txn,
                        # or a committed seg whose unmark hasn't landed
                        # yet): nothing here may be reclaimed, and the
                        # marker must SURVIVE — removing it (the
                        # pre-round-6 behavior) stripped the
                        # cross-session protection, so a later
                        # DEFAULT-retention gc in another session would
                        # reap a minutes-old live transaction's staging
                        continue
                    os.remove(marker)  # crashed txn: fall through, reclaim
                for f in os.listdir(seg_path):
                    p = os.path.join(seg_path, f)
                    if p not in live and f.endswith(".parquet"):
                        os.remove(p)
                        removed += 1
                if not any(x.endswith(".parquet")
                           for x in os.listdir(seg_path)):
                    import shutil

                    shutil.rmtree(seg_path)
            except FileNotFoundError:
                continue  # reclaimed by its owner's rollback mid-scan
        # a write that failed before creating its staging dir (validation
        # error in copy_from, Spark write crash) leaves a dir-less .staged
        # marker; the per-dir loop above never sees it, so reap orphan
        # markers here on the same age rule
        for f in os.listdir(tdir):
            if not f.endswith(".staged"):
                continue
            seg_path = os.path.join(tdir, f[: -len(".staged")])
            if os.path.isdir(seg_path):
                continue  # live marker, handled with its dir above
            marker = os.path.join(tdir, f)
            age = self._marker_age(marker, now)
            if age is not None and age >= retention:
                try:
                    os.remove(marker)
                except OSError:
                    pass  # unlinked concurrently (owner's unmark landed)
        # crashed committers can strand manifest temp files (written but
        # never renamed — the rename is the commit point, so they are
        # garbage by construction), both manifest.json.*.tmp and the
        # two-phase prepare's manifest.vN.json.*.tmp; reap on the age
        # rule (under the held commit lock, anything seen here is from a
        # crashed — not in-flight — committer; the age rule remains as
        # defense in depth for other-process committers that died
        # holding, and therefore released, their flock)
        for f in os.listdir(tdir):
            if f.endswith(".tmp") and f.startswith("manifest."):
                p = os.path.join(tdir, f)
                if now - os.path.getmtime(p) >= retention:
                    os.remove(p)
                    removed += 1
        # FUTURE-version manifest copies (N > the live manifest's
        # version) are strays from failed commits: the time-travel copy
        # lands BEFORE the commit-point rename (DESIGN.md #31 ordering),
        # so an abort mid-phase-2 can leave one behind. Inert (no
        # manifest.json points at N) and overwritten by the next commit
        # of version N — but a crashed committer's stray would otherwise
        # sit forever; reap on the same age rule. Under the held commit
        # lock no committer can be sitting between its renames, so a
        # future copy here is never an in-flight phase 2 from THIS
        # process (round-6 ADVICE: gc(staged_retention_s=0) racing a
        # concurrent commit must not eat the in-flight version copy).
        cur = mf.read_manifest(tdir)["version"]
        for f in os.listdir(tdir):
            m_v = re.fullmatch(r"manifest\.v(\d+)\.json", f)
            if not m_v or int(m_v.group(1)) <= cur:
                continue
            p = os.path.join(tdir, f)
            if now - os.path.getmtime(p) >= retention:
                os.remove(p)
                removed += 1
        removed += mf.trim_versions(tdir, keep_versions)
        # reconcile the stream link farm: drop links left dangling by
        # the reclaim above, heal any missing link for committed segs
        self._sync_stream_links(tdir)
        return removed

    # -- helpers ---------------------------------------------------------------
    def _table_exists(self, name: str) -> bool:
        try:
            return os.path.exists(mf.manifest_path(self._table_dir(name)))
        except ValueError:
            return False

    def _table_dir(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"bad table name {name!r}")
        return os.path.join(self.warehouse, name.lower())

    def _existing_dir(self, name: str) -> str:
        """The table's directory; UndefinedTable if it has no manifest."""
        tdir = self._table_dir(name)
        if not os.path.exists(mf.manifest_path(tdir)):
            raise UndefinedTable(f"table {name!r} does not exist")
        return tdir

    @staticmethod
    def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
        """`df`'s columns cast to the table's physical `schema`, in its
        order, matched by name."""
        return df.select(*[df[f.name].cast(f.dataType).alias(f.name)
                           for f in schema.fields])

    def _register_all(self) -> None:
        for t in self.tables():
            self.table(t).createOrReplaceTempView(t)
        self._register_catalog()

    def _register_catalog(self) -> None:
        """System catalog views, the reference's kb_* catalog surface
        (initdb seeds kb_attribute/kb_type/… as REAL queryable tables,
        src/bin/initdb/main.rs): kb_tables (pg_class analog over the
        manifest catalog), kb_columns (kb_attribute's shape: relname/
        attname/atttype/attnotnull/attnum), kb_settings (pg_settings
        analog over gucs.py). Metadata-only — built from manifests, no
        data scan."""
        import json as _json

        tables_rows, cols_rows = [], []
        for t in self.tables():
            m = mf.read_manifest(self._table_dir(t))
            props = {k: v for k, v in m["props"].items()
                     if k not in ("stats",)}
            tables_rows.append(
                (t, m["version"], len(m["files"]), _json.dumps(props))
            )
            for i, f in enumerate(T.StructType.fromDDL(m["schema"]).fields):
                cols_rows.append(
                    (t, f.name, f.dataType.simpleString(),
                     f.name in m["not_null"], i + 1)
                )
        self.spark.createDataFrame(
            tables_rows or [], "relname STRING, version INT, n_files INT,"
                               " reloptions STRING"
        ).createOrReplaceTempView("kb_tables")
        self.spark.createDataFrame(
            cols_rows or [], "relname STRING, attname STRING, atttype STRING,"
                             " attnotnull BOOLEAN, attnum INT"
        ).createOrReplaceTempView("kb_columns")
        from kuibadb_spark.gucs import GUCS, _fmt as _gfmt

        self.spark.createDataFrame(
            [(n, _gfmt(self.gucs.show(n)), GUCS[n][0], GUCS[n][1])
             for n in sorted(GUCS)],
            "name STRING, setting STRING, vartype STRING, context STRING",
        ).createOrReplaceTempView("kb_settings")
