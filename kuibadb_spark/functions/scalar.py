"""Scalar function & operator matrix — the reference's declared surface
(SURVEY.md §2.2): kb_operator's ~170 rows over bool/bytea/int2/int4/int8/
float4/float8/varchar (/root/reference src/bin/initdb/main.rs:463-653,
procs :690-894), all copied from pg_operator — i.e. PostgreSQL semantics.

Implementation is 100% Spark built-ins (JVM-side, whole-stage codegen;
no Python in the data path — the reference's vectorized fmgr dispatch,
src/utils/adt.rs:18-106, is superseded by codegen).

Each query derives a typed fixture from lineitem (NULLs injected per
column on distinct moduli, PG NULL-propagation is part of what's under
test) and evaluates one operator family. Spark and DuckDB expressions are
kept side by side per output column; dialect differences (xor vs ^,
shiftleft vs <<, instr vs strpos, HUGEINT/BIGINT widths) are explicit.

Cross-engine rules learned by probing, encoded here:
- `div`(Spark) == `//`(DuckDB) even on negatives (both truncate);
  `%` matches (sign of dividend).
- double→int CAST differs (Spark truncates, DuckDB rounds) → never cast
  float→int directly; go through floor()/round().
- double→string differs in sci-notation threshold → never cast
  float→string.
- libm-level fns (cbrt/pow) differ in last ulp → round(…, 6).
- DuckDB count/length/strpos/row_number/sum(int)/factorial return
  BIGINT/HUGEINT → CAST in the oracle to Spark's narrower type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kuibadb_spark.catalog import load


# Derived typed source: one expression list, two dialect spellings.
# (alias, spark_expr, duck_expr); duck_expr=None → same as spark_expr.
_SRC = [
    ("rid", "l_orderkey * 10 + l_linenumber", None),
    (
        "i2",
        "CASE WHEN l_linenumber % 7 = 0 THEN NULL"
        " ELSE CAST(l_linenumber * 3 AS SMALLINT) END",
        None,
    ),
    (
        "i4",
        "CASE WHEN l_partkey % 11 = 0 THEN NULL"
        " ELSE CAST(l_partkey % 9973 AS INT) - 4986 END",
        None,
    ),
    (
        "i8",
        "CASE WHEN l_suppkey % 13 = 0 THEN NULL"
        " ELSE l_suppkey * 1000003 - 5000000 END",
        None,
    ),
    (
        "f4",
        "CASE WHEN l_orderkey % 17 = 0 THEN NULL"
        " ELSE CAST(l_discount AS FLOAT) END",
        "CASE WHEN l_orderkey % 17 = 0 THEN NULL"
        " ELSE CAST(l_discount AS REAL) END",
    ),
    (
        "f8",
        "CASE WHEN l_orderkey % 19 = 0 THEN NULL"
        " ELSE l_extendedprice - 30000.0 END",
        None,
    ),
    (
        "s",
        "CASE WHEN l_orderkey % 23 = 0 THEN NULL"
        " ELSE concat(l_returnflag, '_', l_linestatus, '%',"
        " CAST(l_linenumber AS STRING)) END",
        "CASE WHEN l_orderkey % 23 = 0 THEN NULL"
        " ELSE l_returnflag || '_' || l_linestatus || '%' ||"
        " CAST(l_linenumber AS VARCHAR) END",
    ),
    (
        "b",
        "CASE WHEN l_orderkey % 29 = 0 THEN NULL ELSE l_quantity > 25 END",
        None,
    ),
]


# Deterministic 1-in-4 sample: the matrix tests operator SEMANTICS (every
# NULL-injection modulus stays populated — they are all coprime to 4), not
# throughput; without it the per-family determinism sort moved the full
# 600k-row × 25-wide-column derived table through one exchange at sf0.1
# (3.5 s for the string family — the widest rows — in BENCH_r02 probing).
_SRC_FILTER = "l_orderkey % 4 = 1"


def _src_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(_SRC_FILTER)
    return l.selectExpr(*[f"{e} AS {a}" for a, e, _ in _SRC])


def _src_sql() -> str:
    cols = ", ".join(f"{d or e} AS {a}" for a, e, d in _SRC)
    return f"SELECT {cols} FROM lineitem WHERE {_SRC_FILTER}"


def _make_query(exprs):
    """Build (spark_fn, duck_sql) from [(alias, spark_expr, duck_expr)]."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _src_df(spark, sf_dir)
            .selectExpr("rid", *[f"{e} AS {a}" for a, e, _ in exprs])
            .orderBy("rid")
        )

    duck_cols = ", ".join(f"{d or e} AS {a}" for a, e, d in exprs)
    sql = f"WITH src AS ({_src_sql()}) SELECT rid, {duck_cols} FROM src ORDER BY rid"
    return fn, sql


_INT_OPS = [
    ("add_24", "i2 + i4", None),
    ("sub_42", "i4 - i2", None),
    ("mul_24", "i2 * i4", None),
    ("add_84", "i8 + i4", None),
    ("mul_82", "i8 * CAST(i2 AS BIGINT)", None),
    ("div_82", "i8 div i2", "i8 // i2"),
    ("div_42", "i4 div 7", "CAST(i4 // 7 AS BIGINT)"),
    ("mod_4", "i4 % 97", None),
    ("mod_8", "i8 % 1009", None),
    ("neg_4", "-i4", None),
    ("pos_8", "+i8", None),
    ("abs_4", "abs(i4)", None),
    ("abs_2", "abs(i2)", None),
    ("add_22", "i2 + i2", None),
    ("fact_2", "factorial(CAST(i2 % 6 AS INT))",
     "CAST(factorial(CAST(i2 % 6 AS INTEGER)) AS BIGINT)"),
]

_FLOAT_OPS = [
    ("f4_add", "f4 + f4", None),
    ("f4_mul", "f4 * f4", None),
    ("f48_add", "round(CAST(f4 AS DOUBLE) + f8, 6)", None),
    ("f8_mul", "round(f8 * 1.5, 4)", None),
    ("f8_div", "round(f8 / nullif(CAST(f4 AS DOUBLE) + 1.0, 0.0), 6)", None),
    ("sqrt_8", "round(sqrt(abs(f8)), 6)", None),
    ("cbrt_8", "round(cbrt(abs(f8)), 6)", None),
    ("pow_4", "round(pow(CAST(f4 AS DOUBLE) + 1.0, 3.0), 8)", None),
    ("ln_8", "round(ln(abs(f8) + 1.0), 6)", None),
    ("log10_8", "round(log10(abs(f8) + 1.0), 6)", None),
    ("exp_4", "round(exp(CAST(f4 AS DOUBLE)), 8)", None),
    ("neg_8", "-f8", None),
    ("abs_8", "abs(f8)", None),
    ("floor_8", "floor(f8)", "CAST(floor(f8) AS BIGINT)"),
    ("ceil_8", "ceil(f8)", "CAST(ceil(f8) AS BIGINT)"),
]

_COMPARISONS = [
    ("eq_24", "CAST(i2 AS INT) = i4", None),
    ("ne_24", "CAST(i2 AS INT) <> i4", None),
    ("lt_24", "CAST(i2 AS INT) < i4", None),
    ("gt_84", "i8 > CAST(i4 AS BIGINT)", None),
    ("le_22", "i2 <= 9", None),
    ("ge_48", "CAST(i4 AS BIGINT) >= i8", None),
    ("eq_f48", "CAST(f4 AS DOUBLE) = f8", None),
    ("lt_f48", "CAST(f4 AS DOUBLE) < f8", None),
    ("gt_fi", "f8 > CAST(i4 AS DOUBLE)", None),
    ("eq_bool", "b = (i2 > 9)", None),
    ("lt_bool", "b < true", None),
    ("eq_s", "s = upper(s)", None),
    ("lt_s", "s < 'N'", None),
    ("isnull_4", "i4 IS NULL", None),
    ("notnull_8", "i8 IS NOT NULL", None),
    ("indist_48", "CAST(i4 AS BIGINT) IS NOT DISTINCT FROM i8", None),
    ("and_3vl", "b AND (i2 > 6)", None),
    ("or_3vl", "b OR (i2 > 6)", None),
    ("not_b", "NOT b", None),
    ("in_list", "i2 IN (3, 6, 9)", None),
    ("between_4", "i4 BETWEEN -100 AND 100", None),
]

_BITWISE = [
    ("band_4", "i4 & 255", None),
    ("bor_4", "i4 | 128", None),
    ("bxor_4", "i4 ^ 170", "xor(i4, 170)"),
    ("bnot_4", "~i4", None),
    # DuckDB raises on left-shifting negatives; PG/Spark wrap — shift abs()
    ("shl_4", "shiftleft(abs(i4), 3)", "abs(i4) << 3"),
    ("shr_8", "shiftright(i8, 2)", "i8 >> 2"),
    ("band_82", "i8 & CAST(i2 AS BIGINT)", None),
    ("bxor_8", "i8 ^ 4095", "xor(i8, CAST(4095 AS BIGINT))"),
    ("bcount_8", "bit_count(i8)", "CAST(bit_count(i8) AS INTEGER)"),
]

_STRING_OPS = [
    ("cat_1", "s || '_x'", None),
    ("cat_ws", "concat_ws('-', s, 'z')", None),
    ("upper_s", "upper(s)", None),
    ("lower_s", "lower(s)", None),
    ("len_s", "length(s)", "CAST(length(s) AS INTEGER)"),
    ("substr_s", "substr(s, 2, 3)", None),
    ("trim_s", "trim('  ' || s || ' ')", None),
    ("ltrim_s", "ltrim(' .' || s)", None),
    ("replace_s", "replace(s, '_', '-')", None),
    ("lpad_s", "lpad(s, 10, '*')", None),
    ("rpad_s", "rpad(s, 8, '.')", None),
    # DuckDB split_part(NULL,…) returns '' — Spark/PG return NULL
    ("split_s", "split_part(s, '_', 1)",
     "CASE WHEN s IS NULL THEN NULL ELSE split_part(s, '_', 1) END"),
    ("pos_s", "instr(s, '_')", "CAST(strpos(s, '_') AS INTEGER)"),
    ("rev_s", "reverse(s)", None),
    ("left_s", "left(s, 2)", None),
    ("right_s", "right(s, 2)", None),
    ("like_a", "s LIKE 'A%'", None),
    ("nlike_o", "s NOT LIKE '%O%'", None),
    ("like_pct", "s LIKE '%!%%' ESCAPE '!'", None),
    ("ilike_a", "s ILIKE 'a%'", None),
    ("re_repl", "regexp_replace(s, '[0-9]+', '#')", None),
    ("re_like", "s RLIKE '^[ANR]_'", "regexp_matches(s, '^[ANR]_')"),
    ("starts_s", "startswith(s, 'A')", "starts_with(s, 'A')"),
    ("contains_s", "contains(s, 'F')", None),
]

_BYTEA_OPS = [
    # BINARY-valued expressions cross the driver boundary as text (round-trip
    # cast / hex) — the oracle comparator cannot sort/hash raw byte cells.
    ("bin_s", "CAST(CAST(s AS BINARY) AS STRING)", "decode(encode(s))"),
    ("bin_len", "octet_length(CAST(s AS BINARY))",
     "CAST(octet_length(encode(s)) AS INTEGER)"),
    ("bin_cat", "hex(concat(CAST(s AS BINARY), CAST('!' AS BINARY)))",
     "hex(encode(s) || encode('!'))"),
    ("bin_eq", "CAST(s AS BINARY) = CAST(upper(s) AS BINARY)",
     "encode(s) = encode(upper(s))"),
    ("bin_lt", "CAST(s AS BINARY) < CAST('N' AS BINARY)",
     "encode(s) < encode('N')"),
    ("bin_hex", "hex(CAST(s AS BINARY))", "hex(encode(s))"),
    # bytealike (initdb @890): LIKE over the byte string's text form
    ("bin_like", "CAST(CAST(s AS BINARY) AS STRING) LIKE 'A%'",
     "decode(encode(s)) LIKE 'A%'"),
]

# Decimal arithmetic is EXACT — sums/products have no float-order issues.
# Outputs are cast back to DOUBLE (the exact decimal value survives) so
# the comparison is representation-independent; division is excluded
# (Spark and DuckDB derive different result scales).
_DECIMALS = [
    ("dec_add", "CAST(CAST(f8 AS DECIMAL(18,2)) + CAST(f4 AS DECIMAL(18,2))"
     " AS DOUBLE)", None),
    ("dec_sub", "CAST(CAST(f8 AS DECIMAL(18,2)) - CAST(42.5 AS DECIMAL(4,1))"
     " AS DOUBLE)", None),
    ("dec_mul", "CAST(CAST(f8 AS DECIMAL(18,2)) * CAST(2.5 AS DECIMAL(4,1))"
     " AS DOUBLE)", None),
    ("dec_cmp", "CAST(f8 AS DECIMAL(18,2)) > CAST(100 AS DECIMAL(18,2))", None),
    ("dec_round", "CAST(round(CAST(f8 AS DECIMAL(18,2)), 1) AS DOUBLE)", None),
    ("dec_neg", "CAST(-CAST(f8 AS DECIMAL(18,2)) AS DOUBLE)", None),
    ("dec_abs", "CAST(abs(CAST(f8 AS DECIMAL(18,2))) AS DOUBLE)", None),
    ("dec_str", "CAST(CAST(f8 AS DECIMAL(18,2)) AS STRING)",
     "CAST(CAST(f8 AS DECIMAL(18,2)) AS VARCHAR)"),
]

_CONDITIONALS = [
    (
        "sign_4",
        "CASE WHEN i4 > 0 THEN 'pos' WHEN i4 < 0 THEN 'neg' ELSE 'zero' END",
        None,
    ),
    ("coal_42", "coalesce(CAST(i4 AS INT), CAST(i2 AS INT), 0)", None),
    ("nullif_2", "nullif(CAST(i2 AS INT), 6)", None),
    ("great_42", "greatest(CAST(i2 AS INT), i4)", "CAST(greatest(CAST(i2 AS INT), i4) AS INTEGER)"),
    ("least_42", "least(CAST(i2 AS INT), i4)", "CAST(least(CAST(i2 AS INT), i4) AS INTEGER)"),
    ("case_b", "CASE WHEN b THEN f8 ELSE -f8 END", None),
]

_CASTS = [
    ("rid_rt", "CAST(CAST(rid AS STRING) AS BIGINT)",
     "CAST(CAST(rid AS VARCHAR) AS BIGINT)"),
    ("str_int", "CAST('42' AS INT) + i4", None),
    ("str_dbl", "CAST('3.25' AS DOUBLE) * 2.0", None),
    ("i2_i4", "CAST(i2 AS INT)", None),
    ("i4_i8", "CAST(i4 AS BIGINT)", None),
    ("i2_f8", "CAST(i2 AS DOUBLE)", None),
    ("i4_str", "CAST(i4 AS STRING)", "CAST(i4 AS VARCHAR)"),
    ("b_i4", "CAST(b AS INT)", None),
    ("i4_b", "CAST(sign(i4) AS BOOLEAN)",
     "CAST(CAST(sign(i4) AS INTEGER) AS BOOLEAN)"),
    ("i4_i2", "CAST(i4 % 100 AS SMALLINT)", None),
    ("f8_floor_i8", "CAST(floor(f8) AS BIGINT)", None),
    ("ts_str", "CAST(TIMESTAMP_NTZ '2024-03-01 12:30:45' AS STRING)",
     "CAST(TIMESTAMP '2024-03-01 12:30:45' AS VARCHAR)"),
    ("str_ts", "CAST('2024-03-01 12:30:45' AS TIMESTAMP_NTZ)",
     "CAST('2024-03-01 12:30:45' AS TIMESTAMP)"),
]

_FAMILIES = {
    "scalar_int_arithmetic": _INT_OPS,
    "scalar_float_math": _FLOAT_OPS,
    "scalar_comparisons": _COMPARISONS,
    "scalar_bitwise": _BITWISE,
    "scalar_string_ops": _STRING_OPS,
    "scalar_bytea_ops": _BYTEA_OPS,
    "scalar_conditionals": _CONDITIONALS,
    "scalar_casts": _CASTS,
    "scalar_decimals": _DECIMALS,
}

QUERIES = {}
ORACLES = {}
for _name, _exprs in _FAMILIES.items():
    QUERIES[_name], ORACLES[_name] = _make_query(_exprs)


# --------------------------------------------------------------------------
# try_* error-safe arithmetic (the NULL-on-failure complement of ANSI mode)
# --------------------------------------------------------------------------
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine runs ANSI mode (overflow/div-zero/bad-cast RAISE,
    matching the reference's checked arithmetic — adt.rs:29-33); the
    try_* family is the explicit opt-OUT: NULL on failure instead of an
    error, per expression. Exercises try_divide (÷0 and interval),
    try_add overflow at the BIGINT edge, try_cast on malformed input,
    and try_element_at past the end — each against a DuckDB equivalent
    spelled with TRY_CAST/NULLIF/CASE guards."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    big = 9_223_372_036_854_775_807  # BIGINT max
    return (
        o.selectExpr(
            "o_orderkey",
            "try_divide(o_totalprice, o_orderkey % 3) AS div_maybe_zero",
            f"try_add({big}L, o_orderkey) AS add_overflow",
            "try_add(o_orderkey, 1) AS add_ok",
            "try_cast(CASE WHEN o_orderkey % 2 = 0 THEN 'not-a-number' "
            "ELSE CAST(o_orderkey AS STRING) END AS BIGINT) AS cast_maybe",
            "try_element_at(array(1, 2, 3), CAST(o_orderkey % 5 AS INT) + 1)"
            " AS elem_maybe",
        )
        .orderBy("o_orderkey")
    )


QUERIES["scalar_try_arithmetic"] = scalar_try_arithmetic

ORACLES["scalar_try_arithmetic"] = """
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_orderkey % 3, 0) AS div_maybe_zero,
           CASE WHEN o_orderkey > 0 THEN NULL
                ELSE 9223372036854775807 + o_orderkey END AS add_overflow,
           o_orderkey + 1 AS add_ok,
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN 'not-a-number'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
               AS cast_maybe,
           CASE WHEN o_orderkey % 5 + 1 <= 3
                THEN CAST(o_orderkey % 5 + 1 AS INT) END AS elem_maybe
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# regex scalar family
# ---------------------------------------------------------------------------
def scalar_regex_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regex scalar surface over real column data: extract, replace,
    count, boolean match, and split-count — the §2.2 family the string
    matrix only grazes. Patterns are restricted to the Java-regex ∩ RE2
    common core (character classes, bounded repetition, anchors) so
    both engines agree byte-for-byte; inputs are the customer name plus
    a record-code string synthesized from fixture columns (the fixture
    ships no phone column)."""
    c = load(spark, sf_dir, "customer").filter("c_custkey % 3 = 0")
    code = ("concat(CAST(c_nationkey AS STRING), '-',"
            " CAST(c_custkey AS STRING), '-', c_mktsegment)")
    return (
        c.selectExpr(
            "c_custkey",
            f"regexp_extract({code}, '^([0-9]+)-', 1) AS nation_code",
            f"regexp_replace({code}, '[0-9]', '#') AS masked_code",
            f"size(regexp_extract_all({code}, '[0-9]+', 0)) AS digit_runs",
            f"CAST({code} RLIKE '^[0-9]{{2}}-' AS INT) AS has_cc2",
            r"size(split(c_name, '[#]+')) AS name_parts",
            "regexp_extract(c_name, '([0-9]+)$', 1) AS name_suffix",
            f"regexp_extract({code}, '([A-Z]+)$', 1) AS segment_caps",
        )
        .orderBy("c_custkey")
    )


QUERIES["scalar_regex_ops"] = scalar_regex_ops

ORACLES["scalar_regex_ops"] = """
    WITH c AS (
        SELECT c_custkey, c_name,
               CAST(c_nationkey AS VARCHAR) || '-'
               || CAST(c_custkey AS VARCHAR) || '-' || c_mktsegment AS code
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT c_custkey,
           regexp_extract(code, '^([0-9]+)-', 1) AS nation_code,
           regexp_replace(code, '[0-9]', '#', 'g') AS masked_code,
           CAST(len(regexp_extract_all(code, '[0-9]+')) AS INT)
               AS digit_runs,
           CAST(regexp_matches(code, '^[0-9]{2}-') AS INT) AS has_cc2,
           CAST(len(string_split_regex(c_name, '[#]+')) AS INT)
               AS name_parts,
           regexp_extract(c_name, '([0-9]+)$', 1) AS name_suffix,
           regexp_extract(code, '([A-Z]+)$', 1) AS segment_caps
    FROM c
    ORDER BY c_custkey
"""
