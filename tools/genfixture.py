"""True sf1-class fixture WITHOUT shard replication (round-9 judge ask
#6): a fixture built from ×10 key-offset shards of sf0.1 preserves join
structure but gives every document/embedding 9 identical twins, multiplying
near-dup candidate pairs by the shard count (mm_ahash_near_dup measured
×31,000 output at ×100, SCALING.md) — every dedup-family scale read on
that fixture measures the replication, not the engine. This generator
synthesizes CONTINUOUS key spaces at ×SCALE the sf0.1 row counts with
the driver fixture's schemas and measured distributions (TESTDATA.md +
the round-9 distribution census in DESIGN.md), so duplicate/near-dup
density per corpus stays at the natural fixture rate at any scale.

    python tools/genfixture.py [scale] [dst]     # default: 10 /tmp/sf1true

Timestamps are generated as TIMESTAMP_NTZ so parquet stores
timestamp[us] isAdjustedToUTC=false, byte-compatible with the driver
fixture (the plain-timestamp spelling wrote INT96, which the streaming
reader's pinned int64/ntz schemas cannot read).

All randomness is xxhash64-seeded column arithmetic — deterministic,
distributed, re-runnable; no Python RNG, no driver-side loops. The
no-network constraint rules out DuckDB's tpch extension (INSTALL
downloads), so the TPC-H-ish tables are synthesized the same way.

Measured sf0.1 facts mimicked (checked with DuckDB over the driver
fixture): customer 15 k / supplier 1 k / part 20 k / orders 150 k /
lineitem 600 k / events 100 k / documents 5 k / embeddings 2 k; orders
dates 1995-01-01..2001-08-01; lines-per-order mode 3-4 with a thin tail
past 10; l_extendedprice ≈ qty × unit(900..2100); events = 30 days of
Jan 2024, ~67 events/user, 5 uniform types, exp(mean 50) values;
documents = 10..100 words, source = src{id%20} (modulo-20 contract,
see memory/fixture notes), langs en-heavy; embeddings = 64-d unit
vectors with label structure absent (measured same-label cosine ≈ 0).

Document vocabulary follows Heaps' law (V ∝ n^0.5): the driver's
31-word vocabulary stays as the Zipf head (70% of draws — function
words / boilerplate, preserving natural shingle overlap), and a
synthetic tail grows the total to 31·√scale words. A CLOSED vocabulary
at ×10 docs would densify every shingle's df tenfold — postings-based
near-dup ops would then measure collision pile-up no real corpus
exhibits (the same class of fixture distortion, in the opposite
direction, as the shard twins this tool replaces).
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from kuibadb_spark.catalog import load  # noqa: E402
from kuibadb_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1true"

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS1 = ["large", "hot", "blue", "red", "green", "small", "dim", "shiny"]
PWORDS2 = ["ring", "bolt", "case", "disk", "gear", "plate", "rod", "tube"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]  # ≈41% en, rest even


def _u(tag: str, *cols):
    """Deterministic uniform [0,1) from xxhash64 of (tag, cols)."""
    h = F.xxhash64(F.lit(tag), *cols)
    return (h.bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))) / F.lit(
        9.223372036854776e18
    )


def _pick(tag: str, values: list[str], *cols):
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(
        arr, (F.pmod(F.xxhash64(F.lit(tag), *cols), F.lit(len(values))) + 1)
        .cast("int"),
    )


def _mod(tag: str, n: int, *cols):
    return F.pmod(F.xxhash64(F.lit(tag), *cols), F.lit(n))


def build(spark: SparkSession, scale: int = 10, dst: str = DST) -> None:
    n_cust = 15_000 * scale
    n_supp = 1_000 * scale
    n_part = 20_000 * scale
    n_ord = 150_000 * scale
    n_ev = 100_000 * scale
    n_doc = 5_000 * scale
    n_vec = 2_000 * scale
    par = spark.sparkContext.defaultParallelism

    def write(df, name):
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(name, spark.read.parquet(f"{dst}/{name}.parquet").count(),
              flush=True)

    # broadcast dims are scale-invariant: copy from the driver fixture
    for t in ("region", "nation"):
        write(load(spark, SRC, t), t)

    ids = lambda n: spark.range(0, n, 1, par)  # noqa: E731

    write(
        ids(n_cust).select(
            F.col("id").alias("c_custkey"),
            F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
            _mod("cn", 25, F.col("id")).cast("int").alias("c_nationkey"),
            F.round(-1000.0 + _u("cb", F.col("id")) * 11000.0, 2)
            .alias("c_acctbal"),
            _pick("cs", SEGMENTS, F.col("id")).alias("c_mktsegment"),
        ),
        "customer",
    )
    write(
        ids(n_supp).select(
            F.col("id").alias("s_suppkey"),
            F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
            _mod("sn", 25, F.col("id")).cast("int").alias("s_nationkey"),
            F.round(-1000.0 + _u("sb", F.col("id")) * 11000.0, 2)
            .alias("s_acctbal"),
        ),
        "supplier",
    )
    write(
        ids(n_part).select(
            F.col("id").alias("p_partkey"),
            F.concat_ws(
                " ", _pick("pw1", PWORDS1, F.col("id")),
                _pick("pw2", PWORDS2, F.col("id")),
            ).alias("p_name"),
            F.concat(
                F.lit("Brand#"), (_mod("pb", 25, F.col("id")) + 1)
            ).alias("p_brand"),
            _pick("pt", PTYPES, F.col("id")).alias("p_type"),
            (_mod("ps", 50, F.col("id")) + 1).cast("int").alias("p_size"),
            F.round(900.0 + _u("pp", F.col("id")) * 100.0, 1)
            .alias("p_retailprice"),
        ),
        "part",
    )

    orders = ids(n_ord).select(
        F.col("id").alias("o_orderkey"),
        _mod("oc", n_cust, F.col("id")).alias("o_custkey"),
        _pick("os", ["O", "P", "F"], F.col("id")).alias("o_orderstatus"),
        F.round(1000.0 + _u("ot", F.col("id")) * 499000.0, 2)
        .alias("o_totalprice"),
        F.timestamp_add(
            "DAY", _mod("od", 2405, F.col("id")).cast("int"),
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
        ).alias("o_orderdate"),
        _pick("op", PRIORITIES, F.col("id")).alias("o_orderpriority"),
    )
    write(orders, "orders")

    # lines per order: 1 + Binomial(16, 0.2) — mode 3-4, mean ≈ 4.2,
    # thin tail to 17, matching the measured per-order line histogram
    li = (
        spark.read.parquet(f"{dst}/orders.parquet")
        .select(
            "o_orderkey", "o_orderdate",
            F.expr(
                "size(filter(transform(sequence(0, 15),"
                " i -> pmod(xxhash64('nl', o_orderkey, i), 5)),"
                " x -> x = 0)) + 1"
            ).alias("nl"),
        )
        .select(
            "o_orderkey", "o_orderdate",
            F.explode(F.expr("sequence(1, nl)")).alias("l_linenumber"),
        )
    )
    k = [F.col("o_orderkey"), F.col("l_linenumber")]
    qty = (_mod("lq", 50, *k) + 1).cast("double")
    write(
        li.select(
            F.col("o_orderkey").alias("l_orderkey"),
            _mod("lp", n_part, *k).alias("l_partkey"),
            _mod("ls", n_supp, *k).alias("l_suppkey"),
            F.col("l_linenumber").cast("int"),
            qty.alias("l_quantity"),
            F.round(qty * (900.0 + _u("le", *k) * 1200.0), 2)
            .alias("l_extendedprice"),
            (_mod("ld", 11, *k).cast("double") / 100.0).alias("l_discount"),
            (_mod("lt", 9, *k).cast("double") / 100.0).alias("l_tax"),
            _pick("lr", ["A", "N", "R"], *k).alias("l_returnflag"),
            _pick("ll", ["F", "O"], *k).alias("l_linestatus"),
            F.timestamp_add(
                "DAY", (_mod("lsd", 95, *k) + 1).cast("int"),
                F.col("o_orderdate"),
            ).alias("l_shipdate"),
        ),
        "lineitem",
    )

    write(
        ids(n_ev).select(
            F.col("id").alias("event_id"),
            F.timestamp_add(
                "SECOND",
                _mod("ets", 30 * 86400, F.col("id")).cast("int"),
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
            ).alias("ts"),
            _mod("eu", 1_500 * scale, F.col("id")).alias("user_id"),
            _pick("ee", EVENT_TYPES, F.col("id")).alias("event_type"),
            # exponential(mean 50), like the measured value column
            F.round(-50.0 * F.log(1.0 - _u("ev", F.col("id"))), 2)
            .alias("value"),
            F.concat(
                F.lit('{"k": '), _mod("ek", 100, F.col("id")), F.lit("}")
            ).alias("props"),
        ),
        "events",
    )

    # Heaps-law vocabulary: 31-word Zipf head (70% of draws) + a tail
    # sized so total vocab ≈ 31·√scale (31 at scale 1 = the driver's)
    n_tail = int(round(31 * scale**0.5)) - len(VOCAB)
    base_draw = (
        f"element_at({_vocab_sql()},"
        f" int(pmod(xxhash64('dw', id, i), {len(VOCAB)})) + 1)"
    )
    if n_tail > 0:
        tail_sql = ("array("
                    + ", ".join(f"'w{i:03d}'" for i in range(n_tail)) + ")")
        word = (
            f"CASE WHEN pmod(xxhash64('dz', id, i), 10) < 7"
            f" THEN {base_draw}"
            f" ELSE element_at({tail_sql},"
            f" int(pmod(xxhash64('dt', id, i), {n_tail})) + 1) END"
        )
    else:  # scale 1 = the driver's own closed 31-word vocabulary
        word = base_draw
    docs = ids(n_doc).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.expr(
                f"transform(sequence(1, 10 + int(pmod(xxhash64('dn', id),"
                f" 91))), i -> {word})"
            ),
            " ",
        ).alias("text"),
        _pick("dl", LANGS, F.col("id")).alias("lang"),
        # source = src{doc_id % 20}: the driver-fixture contract that
        # modulo-based splits must stay coprime with (see memory note)
        F.concat(F.lit("src"), F.col("id") % 20).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    write(docs, "documents")

    # 64-d unit vectors, no label structure (measured: same-label and
    # cross-label mean cosine both ≈ 0 in the driver fixture).
    # Irwin-Hall(3) − 1.5 ≈ gaussian per coordinate, then L2-normalize.
    g = (
        "transform(sequence(0, 63), i ->"
        " (pmod(xxhash64('g1', id, i), 1000) / 1000.0"
        "  + pmod(xxhash64('g2', id, i), 1000) / 1000.0"
        "  + pmod(xxhash64('g3', id, i), 1000) / 1000.0 - 1.5))"
    )
    write(
        ids(n_vec)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(g).alias("_g"),
            _mod("vl", 10, F.col("id")).cast("int").alias("label"),
        )
        .withColumn(
            "_n",
            F.expr(
                "sqrt(aggregate(_g, CAST(0.0 AS DOUBLE),"
                " (a, x) -> a + x * x))"
            ),
        )
        .select(
            "vec_id",
            F.expr("transform(_g, x -> CAST(x / _n AS FLOAT))")
            .alias("embedding"),
            "label",
        ),
        "embeddings",
    )


def _vocab_sql() -> str:
    return "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"


if __name__ == "__main__":
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    dst = sys.argv[2] if len(sys.argv) > 2 else DST
    build(get_spark("kuibadb-genfixture"), scale, dst)
