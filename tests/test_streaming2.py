"""Streaming round 2: stream-static joins and foreachBatch sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kuibadb_spark.catalog import load
from kuibadb_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    stream_static_join,
    write_foreach_batch,
)

SF = "/root/testdata/sf0.001"


def test_stream_static_join(spark):
    # static dim: per-user event counts derived from the batch table
    dim = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    joined = stream_static_join(read_events_stream(spark, SF), dim)
    out = run_to_memory(joined.select("event_id", "user_id", "user_total"),
                        mode="append")
    assert out.count() == 1000
    assert out.filter(F.col("user_total").isNull()).count() == 0


def test_stream_stream_join(spark):
    # stream-stream inner join with watermarks + event-time range bound:
    # each purchase joined to views of the same user within the prior hour
    views = (
        read_events_stream(spark, SF)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    purchases = (
        read_events_stream(spark, SF)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    out = run_to_memory(joined.select("purchase_id", "view_id"), mode="append")
    # batch equivalent on the same data
    e = load(spark, SF, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    assert out.count() == batch.count() > 0


def test_foreach_batch_sink(spark, tmp_path):
    out_dir = str(tmp_path / "fb_out")
    write_foreach_batch(
        read_events_stream(spark, SF).select("event_id", "user_id", "value"),
        out_dir,
    )
    back = spark.read.parquet(out_dir)
    assert back.count() == 1000
    assert back.select("event_id").distinct().count() == 1000


_SCH = "user_id INT, ts TIMESTAMP, value DOUBLE"


def _feed(spark, d, rows):
    spark.createDataFrame(rows, _SCH).coalesce(1).write.mode("append").parquet(d)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint must not reprocess committed input
    files: the sink ends with exactly one copy of every row across two
    runs (Spark's checkpoint WAL = the reference's WAL-replay durability,
    src/access/wal.rs)."""
    from kuibadb_spark.streaming.events import run_resumable

    src, ck, out = (str(tmp_path / p) for p in ("src", "ck", "out"))
    _feed(spark, src, [(1, __import__("datetime").datetime(2024, 1, 1), 1.0),
                       (2, __import__("datetime").datetime(2024, 1, 1, 1), 2.0)])
    stream = spark.readStream.schema(_SCH).parquet(src)
    run_resumable(stream, out, ck)
    assert spark.read.parquet(out).count() == 2

    _feed(spark, src, [(1, __import__("datetime").datetime(2024, 1, 2), 3.0),
                       (3, __import__("datetime").datetime(2024, 1, 2, 1), 4.0)])
    run_resumable(spark.readStream.schema(_SCH).parquet(src), out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 4  # phase-1 rows NOT duplicated
    assert got.select("user_id").distinct().count() == 3


def test_checkpoint_recovery_stateful(spark, tmp_path):
    """Stateful aggregation recovers its state store across a restart:
    post-restart update-mode emissions reflect pre-restart totals."""
    import datetime as dt

    src, ck, out = (str(tmp_path / p) for p in ("src", "ck", "out"))

    def counts():
        return (
            spark.readStream.schema(_SCH).parquet(src)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        )

    def run(df):
        def sink(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(f"{out}/e{epoch_id}")

        q = (df.writeStream.outputMode("update")
             .option("checkpointLocation", ck)
             .foreachBatch(sink).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _feed(spark, src, [(1, dt.datetime(2024, 1, 1), 1.0),
                       (2, dt.datetime(2024, 1, 1, 1), 2.0)])
    run(counts())

    _feed(spark, src, [(1, dt.datetime(2024, 1, 2), 3.0)])
    run(counts())

    import glob
    latest = max(glob.glob(f"{out}/e*"), key=lambda p: int(p.rsplit("e", 1)[-1]))
    rows = {r["user_id"]: (r["n"], r["total"])
            for r in spark.read.parquet(latest).collect()}
    # user 1's post-restart emission includes the pre-restart event
    assert rows[1] == (2, 4.0)


def test_engine_table_as_stream_source(spark, tmp_path):
    """Engine tables are streaming sources: each committed COPY segment
    arrives as a micro-batch; a checkpointed sink consumes increments
    across restarts (append-only CDC, the Delta streaming-source
    shape)."""
    from kuibadb_spark.engine import Engine
    from kuibadb_spark.streaming.events import run_resumable

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.create_table("t", "a INT, b STRING")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def feed(tag, n):
        p = tmp_path / f"{tag}.txt"
        p.write_text("\n".join(f"{i}|{tag}{i}" for i in range(n)) + "\n")
        eng.copy_from("t", str(p), delimiter="|")

    feed("x", 3)
    run_resumable(eng.stream("t"), out, ck)
    assert spark.read.parquet(out).count() == 3

    feed("y", 2)  # new commit → new micro-batch on resume
    run_resumable(eng.stream("t"), out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 5  # no re-read of the first segment
    assert {r.b for r in got.collect()} == {
        "x0", "x1", "x2", "y0", "y1"
    }


def test_stream_never_lists_segment_of_a_failing_commit(
    spark, tmp_path, monkeypatch
):
    """Round-7 closure of the round-6 residual phantom-segment window:
    engine.stream() sources the .stream/ link farm (links created only
    AFTER the commit point), so a stream micro-batching in the window
    between the stg→seg rename and the manifest swap can NEVER list a
    segment whose commit then fails and rolls its files back. Here a
    commit is frozen exactly inside that window (seg-* dir on disk,
    manifest not yet swapped), the stream drains, and must see only
    committed rows; the commit then fails, files are reclaimed, and the
    stream resumes cleanly on the next real commit."""
    import os as _os

    from kuibadb_spark.engine import Engine
    from kuibadb_spark.plans import manifest as mf
    from kuibadb_spark.streaming.events import run_resumable

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.create_table("t", "a INT, b STRING")
    eng.insert("t", spark.createDataFrame([(1, "committed")], "a INT, b STRING"))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    run_resumable(eng.stream("t"), out, ck)
    assert spark.read.parquet(out).count() == 1

    # freeze a commit INSIDE the phantom window: finalize has renamed
    # stg→seg (the dir is on disk under the streamed namespace), but
    # prepare_publish fails before any manifest moves
    eng.begin()
    eng.insert("t", spark.createDataFrame([(2, "phantom")], "a INT, b STRING"))
    real_prepare = mf.prepare_publish

    def failing_prepare(table_dir, staged, base_version):
        # the window is OPEN right now: a seg-* dir exists, uncommitted
        tdir = eng._table_dir("t")
        on_disk = [d for d in _os.listdir(tdir) if d.startswith("seg-")
                   and _os.path.isdir(_os.path.join(tdir, d))]
        committed = {
            _os.path.relpath(f, tdir).split(_os.sep, 1)[0]
            for f in mf.read_manifest(tdir)["files"]
        }
        assert set(on_disk) - committed, "window not open: no uncommitted seg"
        # drain the stream mid-window: it must NOT pick anything up
        run_resumable(eng.stream("t"), out, ck)
        raise OSError(5, "Input/output error")

    monkeypatch.setattr(mf, "prepare_publish", failing_prepare)
    with pytest.raises(OSError):
        eng.commit()
    monkeypatch.undo()
    got = spark.read.parquet(out)
    assert got.count() == 1, "stream listed a never-committed segment"
    assert {r.b for r in got.collect()} == {"committed"}

    # the stream keeps working across the rollback: next commit arrives
    eng.insert("t", spark.createDataFrame([(3, "later")], "a INT, b STRING"))
    run_resumable(eng.stream("t"), out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r.b for r in got.collect()} == {"committed", "later"}


def test_transform_with_state_minmax(spark):
    """Spark 4 transformWithStateInPandas (typed ValueState per key):
    running per-user (count, min, max) must converge to the batch
    aggregate. Gated: the state-server protocol needs google.protobuf,
    which this container doesn't ship."""
    from kuibadb_spark.streaming.events import (
        _tws_available,
        stream_tws_user_minmax,
    )

    if not _tws_available():
        pytest.skip("google.protobuf runtime not available")
    got = stream_tws_user_minmax(spark, SF).collect()
    exp = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_stream_into_engine_table(spark, sf_dir, tmp_path):
    """Streaming ingest → manifest table: every micro-batch is one
    atomic manifest version; restart with the same checkpoint replays
    nothing (batch-id prop rides in the same swap); the table then
    serves as a streaming SOURCE via engine.stream — the CDC loop."""
    from kuibadb_spark.engine import Engine
    from kuibadb_spark.streaming.events import (
        read_events_stream,
        write_stream_to_table,
    )

    engine = Engine(spark, warehouse=str(tmp_path / "wh"))
    engine.create_table(
        "ing", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
               " event_type STRING, value DOUBLE, props STRING"
    )
    src = read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ckpt = str(tmp_path / "ckpt")
    q = write_stream_to_table(src, engine, "ing", ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert engine.table("ing").count() == expected
    from kuibadb_spark.plans import manifest as mf
    m = mf.read_manifest(engine._table_dir("ing"))
    # the replay guard is keyed per streaming-query id (round-6: a
    # global prop silently swallowed a fresh checkpoint's batches)
    marks = [v for k, v in m["props"].items()
             if k.startswith("stream_last_batch::")]
    assert marks and all(v >= 0 for v in marks)
    v_after_first = m["version"]

    # restart with the same checkpoint: nothing new to process, and a
    # manually replayed batch id is skipped (idempotent sink)
    q2 = write_stream_to_table(src, engine, "ing", ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert engine.table("ing").count() == expected
    assert mf.read_manifest(engine._table_dir("ing"))["version"] == v_after_first



def test_stream_sinks_commit_outside_an_open_transaction(spark, tmp_path):
    """Both streaming sinks — write_stream_to_table and
    stream_refresh_materialized_view — commit each batch on their own.
    A transaction the caller's engine has open must not absorb them:
    its ROLLBACK would silently drop batches the checkpoint already
    marks done."""
    from kuibadb_spark.engine import Engine
    from kuibadb_spark.streaming.events import write_stream_to_table

    wh = str(tmp_path / "wh")
    engine = Engine(spark, warehouse=wh)
    engine.create_table("src", "a INT, b STRING")
    engine.insert("src", spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "a INT, b STRING"))
    engine.create_table("s", "a INT, b STRING")
    engine.sql("CREATE MATERIALIZED VIEW mv AS "
               "SELECT b, count(*) AS n FROM src GROUP BY b")
    engine.insert("src", spark.createDataFrame([(4, "z")], "a INT, b STRING"))

    engine.begin()
    queries = [
        write_stream_to_table(engine.stream("src"), engine, "s",
                              str(tmp_path / "ck_s")),
        engine.stream_refresh_materialized_view("mv", str(tmp_path / "ck_mv")),
    ]
    for q in queries:
        try:
            q.processAllAvailable()
            assert q.exception() is None
        finally:
            q.stop()
    engine.rollback()

    fresh = Engine(spark, warehouse=wh)
    assert fresh.table("s").count() == 4
    assert {tuple(r) for r in fresh.table("mv").collect()} == {
        ("x", 2), ("y", 1), ("z", 1)}

def test_cdc_loop_composes(spark, sf_dir, tmp_path):
    """Full lakehouse CDC chain: external stream → manifest table →
    table-as-stream → downstream aggregate table. Proves the streaming
    sink and source compose end-to-end with exactly-once at each hop."""
    from pyspark.sql import functions as F

    from kuibadb_spark.engine import Engine
    from kuibadb_spark.streaming.events import (
        read_events_stream,
        write_stream_to_table,
    )

    engine = Engine(spark, warehouse=str(tmp_path / "wh"))
    engine.create_table(
        "raw_ev", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
                  " event_type STRING, value DOUBLE, props STRING"
    )
    engine.create_table("by_type", "event_type STRING, n BIGINT")

    q1 = write_stream_to_table(
        read_events_stream(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ),
        engine, "raw_ev", str(tmp_path / "c1"),
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    agg = (
        engine.stream("raw_ev")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from kuibadb_spark.plans import manifest as mf

    def sink(batch_df, batch_id):
        tdir = engine._table_dir("by_type")
        last = mf.read_manifest(tdir)["props"].get("stream_last_batch", -1)
        if batch_id <= last:
            return
        # complete mode: swap the aggregate table to this batch's result
        engine.delete("by_type", "true")
        engine.insert("by_type", batch_df,
                      props_update={"stream_last_batch": batch_id})

    q2 = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {(r.event_type, r.n) for r in engine.table("by_type").collect()}
    want = {
        (r.event_type, r.n)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and len(got) >= 3
