"""ingest_dml: a seed-generated script against an events-shaped table.

Each cycle COPYs one delimited-text batch, then runs single-statement
INSERT / UPDATE / DELETE / MERGE, one BEGIN … COMMIT transaction, a
predicate read through ``Engine.sql``, a zone-map snapshot read through
``Engine.table(where=…)`` and a ``FOR VERSION AS OF`` read, in a seeded
order, and ends with OPTIMIZE … ZORDER BY and VACUUM. Every statement
goes through ``Engine.sql`` except the snapshot read.

The same script is replayed in DuckDB statement by statement, outside
the timed regions: every read, every affected-row count, every retained
version and the final table must match the replay, and every COPY must
report its batch's row count.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pyarrow as pa

from common import log, rounds, tail
from compare import compare_rows
from datagen import EVENT_TYPES, EVENTS_SCHEMA, copy_text, events_rows

TABLE = "ev"
DDL = ("event_id BIGINT NOT NULL, ts TIMESTAMP, user_id BIGINT,"
       " event_type STRING, value DOUBLE, props STRING")
N_USERS = 200
BATCH_ROWS = 1500
DML_KINDS = ("insert", "update", "delete", "merge", "txn_insert",
             "txn_delete", "commit")
READ_KINDS = ("read", "snapshot_read", "time_travel")
_FINGERPRINT = ("count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents,"
                " sum(event_id) AS ids")
_DUCK_COLS = ("event_id BIGINT NOT NULL, ts TIMESTAMP, user_id BIGINT,"
              " event_type VARCHAR, value DOUBLE, props VARCHAR")


def _lit_rows(tbl: pa.Table) -> str:
    """Rows as a SQL VALUES list both engines parse identically."""
    out = []
    for r in tbl.to_pylist():
        props = "NULL" if r["props"] is None else "'" + r["props"] + "'"
        ts = r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
        out.append(f"({r['event_id']}, TIMESTAMP '{ts}', {r['user_id']},"
                   f" '{r['event_type']}', {r['value']:.2f}, {props})")
    return ", ".join(out)


class IngestDml:
    name = "ingest_dml"

    def __init__(self, ctx):
        import duckdb

        self.ctx = ctx
        self.rng = ctx.rng
        self.next_id = 0
        self.batch_no = 0
        self.user_bytes = 0
        self.copy_rows = 0
        self.copy_wall = 0.0
        self.seen_files: dict[str, int] = {}
        self.version_fp: dict[int, tuple] = {}
        self.oldest_readable = 0
        self.rewritten: list[float] = []
        self.compact_bytes: list[int] = []
        self.files_read: list[float] = []
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE TABLE {TABLE} ({_DUCK_COLS})")

    # -- bookkeeping outside the timed regions -------------------------------
    def _tdir(self) -> str:
        return os.path.join(self.ctx.warehouse, TABLE)

    def _manifest(self) -> dict:
        with open(os.path.join(self._tdir(), "manifest.json")) as f:
            return json.load(f)

    def _fingerprint(self) -> tuple:
        return tuple(self.duck.execute(
            f"SELECT {_FINGERPRINT} FROM {TABLE}").fetchone())

    def _after_write(self) -> None:
        """Record the new version's expected fingerprint and every data
        file the write left on disk (for write amplification)."""
        v = self._manifest()["version"]
        if v not in self.version_fp:
            self.version_fp[v] = self._fingerprint()
        for root, _, files in os.walk(self._tdir()):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    self.seen_files.setdefault(p, os.path.getsize(p))

    def _expect(self, what: str, got, want) -> None:
        if got != want:
            self.ctx.run.fail(f"ingest {what}: got {got}, expected {want}")

    # -- statements ------------------------------------------------------------
    def _new_rows(self, n: int) -> pa.Table:
        tbl = events_rows(self.rng, self.next_id, n, N_USERS)
        self.next_id += n
        return tbl

    def _exec(self, kind: str, sql: str, timed: bool):
        """Run one statement through Engine.sql; returns its result rows
        (DML returns its affected-row count)."""
        out = []

        def go():
            df = self.engine.sql(sql)
            if df is not None:
                out.extend(df.collect())

        if timed:
            if not self.ctx.run.attempt(kind, go):
                return None
        else:
            go()
        return out

    def _copy(self, timed: bool) -> None:
        tbl = self._new_rows(BATCH_ROWS)
        text = copy_text(tbl)
        path = os.path.join(self.ctx.run_dir, "batches",
                            f"batch_{self.batch_no:04d}.txt")
        self.batch_no += 1
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        t0 = time.perf_counter()
        rows = self._exec("copy", f"COPY {TABLE} FROM '{path}'", timed)
        wall = time.perf_counter() - t0
        self.duck.register("batch", tbl)
        self.duck.execute(f"INSERT INTO {TABLE} SELECT * FROM batch")
        self.duck.unregister("batch")
        self.user_bytes += len(text.encode())
        if rows is not None:
            self._expect("COPY count", rows[0][0], tbl.num_rows)
            if timed:
                self.copy_rows += tbl.num_rows
                self.copy_wall += wall
        self._after_write()

    def _insert(self, kind: str, timed: bool) -> None:
        tbl = self._new_rows(5)
        vals = _lit_rows(tbl)
        rows = self._exec(kind, f"INSERT INTO {TABLE} VALUES {vals}", timed)
        self.duck.execute(f"INSERT INTO {TABLE} VALUES {vals}")
        self.user_bytes += len(copy_text(tbl).encode())
        if rows is not None:
            self._expect(f"{kind} count", rows[0][0], 5)

    def _dml(self, kind: str, sql: str, timed: bool) -> None:
        before = set(self._manifest()["files"])
        rows = self._exec(kind, sql, timed)
        want = self.duck.execute(sql).fetchone()[0]
        if rows is not None:
            self._expect(f"{kind} count", rows[0][0], want)
            after = set(self._manifest()["files"])
            if before and after != before:
                self.rewritten.append(len(before - after) / len(before))

    def _update(self, kind: str, timed: bool) -> None:
        u = int(self.rng.integers(0, N_USERS))
        cents = int(self.rng.integers(1, 500))
        self._dml(kind, f"UPDATE {TABLE} SET value = value + {cents / 100:.2f}"
                        f" WHERE user_id = {u}", timed)

    def _delete(self, kind: str, timed: bool) -> None:
        u = int(self.rng.integers(0, N_USERS))
        t = EVENT_TYPES[int(self.rng.integers(0, len(EVENT_TYPES)))]
        self._dml(kind, f"DELETE FROM {TABLE} WHERE user_id = {u}"
                        f" AND event_type = '{t}'", timed)

    def _merge(self, timed: bool) -> None:
        old_ids = self.rng.choice(self.next_id, 3, replace=False)
        fresh = events_rows(self.rng, 0, 3, N_USERS)
        src = pa.concat_tables([
            fresh.set_column(0, "event_id", pa.array(old_ids, pa.int64())),
            self._new_rows(2),
        ])
        vals = _lit_rows(src)
        cols = ", ".join(EVENTS_SCHEMA.names)
        before = set(self._manifest()["files"])
        rows = self._exec(
            "merge",
            f"MERGE INTO {TABLE} USING (SELECT * FROM VALUES {vals}"
            f" AS s({cols})) s ON (event_id)"
            " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            timed)
        ids = ", ".join(str(i) for i in src.column("event_id").to_pylist())
        hit = self.duck.execute(
            f"SELECT count(*) FROM {TABLE} WHERE event_id IN ({ids})").fetchone()[0]
        self.duck.execute(f"DELETE FROM {TABLE} WHERE event_id IN ({ids})")
        self.duck.execute(f"INSERT INTO {TABLE} VALUES {vals}")
        self.user_bytes += len(copy_text(src).encode())
        if rows is not None:
            # event ids are unique, so each matched id is one updated row
            self._expect("MERGE counts", tuple(rows[0]),
                         (hit, src.num_rows - hit))
            after = set(self._manifest()["files"])
            if before and after != before:
                self.rewritten.append(len(before - after) / len(before))

    def _txn(self, timed: bool) -> None:
        self.engine.sql("BEGIN")
        self._insert("txn_insert", timed)
        self._delete("txn_delete", timed)
        before = set(self._manifest()["files"])
        self._exec("commit", "COMMIT", timed)
        after = set(self._manifest()["files"])
        if before and after - before and before - after:
            self.rewritten.append(len(before - after) / len(before))

    def _read(self, timed: bool) -> None:
        a = int(self.rng.integers(0, N_USERS - 20))
        sql = (f"SELECT {_FINGERPRINT} FROM {TABLE}"
               f" WHERE user_id BETWEEN {a} AND {a + 19}")
        rows = self._exec("read", sql, timed)
        if rows is not None:
            want = self.duck.execute(sql).fetchone()
            self._expect("read", tuple(rows[0]), tuple(want))

    def _snapshot_read(self, timed: bool) -> None:
        from pyspark.sql import functions as F

        lo = int(self.rng.integers(0, max(1, self.next_id - 500)))
        where = f"event_id BETWEEN {lo} AND {lo + 499}"
        out = []

        def go():
            df = self.engine.table(TABLE, where=where).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
                F.sum("event_id").alias("ids"))
            out.extend(df.collect())

        if timed:
            if not self.ctx.run.attempt("snapshot_read", go):
                return
        else:
            go()
        st = self.engine.scan_stats(TABLE, where)
        if st["files_total"]:
            self.files_read.append(st["files_read"] / st["files_total"])
        want = self.duck.execute(
            f"SELECT {_FINGERPRINT} FROM {TABLE} WHERE {where}").fetchone()
        self._expect("snapshot read", tuple(out[0]), tuple(want))

    def _time_travel(self, timed: bool) -> None:
        readable = sorted(v for v in self.version_fp if v >= self.oldest_readable)
        v = readable[int(self.rng.integers(0, len(readable)))]
        rows = self._exec("time_travel", f"SELECT {_FINGERPRINT} FROM {TABLE}"
                                         f" FOR VERSION AS OF {v}", timed)
        if rows is not None:
            self._expect(f"version {v}", tuple(rows[0]), self.version_fp[v])

    def _optimize(self, timed: bool) -> None:
        before = set(self._manifest()["files"])
        self._exec("optimize", f"OPTIMIZE {TABLE} ZORDER BY (user_id, event_id)",
                   timed)
        new = set(self._manifest()["files"]) - before
        self.compact_bytes.append(sum(os.path.getsize(f) for f in new))
        self._after_write()

    def _vacuum(self, timed: bool) -> None:
        self._exec("vacuum", f"VACUUM {TABLE}", timed)
        # VACUUM deletes every file the current version does not use, so
        # older versions are no longer readable
        self.oldest_readable = self._manifest()["version"]

    def cycle(self, timed: bool) -> None:
        units = [
            lambda: self._insert("insert", timed),
            lambda: self._update("update", timed),
            lambda: self._delete("delete", timed),
            lambda: self._merge(timed),
            lambda: self._txn(timed),
            lambda: self._read(timed),
            lambda: self._snapshot_read(timed),
            lambda: self._time_travel(timed),
        ]
        self._copy(timed)
        self._after_write()
        for i in self.rng.permutation(len(units)):
            units[i]()
            self._after_write()
        self._optimize(timed)
        self._vacuum(timed)

    # -- workload interface ----------------------------------------------------
    def setup(self) -> None:
        from kuibadb_spark.engine import Engine

        self.engine = Engine(self.ctx.spark, warehouse=self.ctx.warehouse)
        self.engine.sql(f"CREATE TABLE {TABLE} ({DDL}) WITH (check='value > 0')")
        # one untimed cycle, which starts with a COPY, runs every
        # statement kind once (warm-up)
        self.cycle(timed=False)
        self.ctx.phase("warm-up")

    def measure(self, seconds: float) -> None:
        for _ in rounds(seconds):
            self.cycle(timed=True)

    def check(self) -> None:
        from pyspark.sql import functions as F

        run = self.ctx.run
        # every version still readable must match the replay's fingerprint
        readable = sorted(v for v in self.version_fp if v >= self.oldest_readable)
        frames = [
            self.engine.table(TABLE, version=v).agg(
                F.lit(v).alias("v"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
                F.sum("event_id").alias("ids"))
            for v in readable
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        for r in union.collect():
            run.attempted += 1
            if tuple(r[1:]) != self.version_fp[r[0]]:
                run.fail(f"ingest version {r[0]}: {tuple(r[1:])}"
                         f" != {self.version_fp[r[0]]}")
        # the final table, row by row
        run.attempted += 1
        df = self.engine.table(TABLE)
        res = self.duck.execute(f"SELECT * FROM {TABLE}")
        ok, why = compare_rows(df.columns, df.collect(),
                               [d[0] for d in res.description], res.fetchall())
        if not ok:
            run.fail(f"ingest final state: {why}"[:800])
        log(f"ingest_dml: checked {len(frames)} versions and the final table")

    def layer_metrics(self) -> dict:
        by = self.ctx.run.by_kind()
        dml = [t for k in DML_KINDS for t in by.get(k, [])]
        reads = [t for k in READ_KINDS for t in by.get(k, [])]
        final = self.duck.execute(f"SELECT * FROM {TABLE}").arrow()
        live = sum(os.path.getsize(f) for f in self._manifest()["files"])
        versions = sum(1 for f in os.listdir(self._tdir())
                       if f.startswith("manifest.v"))
        return {
            "copy_rows_per_s": self.copy_rows / self.copy_wall if self.copy_wall else 0.0,
            "dml_p50_s": statistics.median(dml) if dml else 0.0,
            "dml_tail_s": tail(dml)[0] if dml else 0.0,
            "read_p50_s": statistics.median(reads) if reads else 0.0,
            "read_tail_s": tail(reads)[0] if reads else 0.0,
            "write_amp": sum(self.seen_files.values()) / self.user_bytes,
            "space_amp": live / max(1, len(copy_text(final).encode())),
            "engine.files_rewritten_ratio": _mean(self.rewritten),
            "engine.compact_bytes": _mean(self.compact_bytes),
            "zonemap.files_read_ratio": _mean(self.files_read),
            "manifest.versions": versions,
        }


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0
