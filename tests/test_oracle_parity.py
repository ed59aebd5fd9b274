"""Oracle-parity regression corpus (VERDICT r11 task #6).

Six cross-engine divergence classes have each cost real debugging to
discover (several shipped check-green and died driver-red because
tools/check.py's canonicalizer was more forgiving than the driver's
bit-sensitive, type-sensitive value hash; the later ones were caught by
the cross-SF/perturbed-partitioning sweeps before driver contact):

- r7  (1) HUGEINT: DuckDB types ``sum(int)`` as HUGEINT (arrow decimal128),
  Spark as BIGINT — byte-identical values, different arrow buffers.
- r7  (2) DECIMAL literal: an un-cast ``0.0`` anchor types a recursive-CTE
  column DECIMAL(2,1) and DuckDB silently truncates every recursive value.
- r13 (2b) DECIMAL literal in INTERMEDIATE arithmetic: a bare ``0.001``
  in oracle SQL computes exactly in decimal where Spark multiplies
  doubles — 1-ulp diffs in UNROUNDED output columns that the class-2
  output-type gate cannot see. Oracle literals must be ``::DOUBLE``.
- r11 (3) signed zero: DuckDB ``round()`` on DOUBLE preserves IEEE ``-0.0``
  where Spark's ``F.round`` (BigDecimal HALF_UP) emits ``+0.0``.
- r12 (4) reduction order: a float SUM feeding a 6dp round flips at
  round-half ties when the (engine/partitioning-dependent) summation
  order shifts the sum by an ulp — amplified by chained rounded
  iterations (PageRank), and EXCEEDING the whole 6dp grid once
  |sum| ≳ 1e9 (r13 sf0.1 TPC-H). Fixed by integer fixed-point / exact
  DECIMAL(27,6) aggregation. (4b) is the checker-side variant: the old
  %.6g canon masked 6-decimal diffs for |v| ≥ 10.
- r13 (5) round() tie semantics on the SAME double: Spark half-ups the
  SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB rounds the
  binary expansion — exact 7dp half-ties (integer ratios, quantized
  numerators over small divisors) flip differently even with identical
  bits. Fixed by exact-integer half-up rounding (ratio6 / the vwap
  (2n+d) div 2d form) on BOTH sides.

This module drives adversarial micro-fixtures through BOTH engines and the
repo's own canonicalization/normalization layers and asserts each class is
caught (or neutralized) LOCALLY — before the driver ever sees it.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import canon, canon_duck_type, type_mismatches  # noqa: E402
from trading_etl_spark.queries._oracle_norm import (  # noqa: E402
    normalize_round_neg_zero,
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


# --- class 3 (r11): IEEE signed zero ----------------------------------------


def test_duckdb_round_preserves_negative_zero(con):
    """The raw hazard exists: un-normalized DuckDB round() emits -0.0."""
    (v,) = con.execute("SELECT round((-4e-7)::DOUBLE, 6)").fetchone()
    assert v == 0.0 and math.copysign(1.0, v) < 0  # bit-level -0.0


def test_spark_round_normalizes_negative_zero(spark):
    """F.round's BigDecimal HALF_UP has no signed zero — Spark emits +0.0."""
    [(v,)] = spark.range(1).select(
        F.round(F.lit(-4e-7).cast("double"), 6).alias("v")
    ).collect()
    assert v == 0.0 and math.copysign(1.0, v) > 0


def test_canon_renders_signed_zero_distinctly():
    """Would have caught r11's williams_r_14_1h: the r10 canon collapsed
    -0.0 to "0" via int(), masking exactly what the driver hashes."""
    assert canon(-0.0) == "-0.0"
    assert canon(0.0) == "0.0"
    assert canon(-0.0) != canon(0.0)


def test_normalizer_fixes_signed_zero_end_to_end(con, spark):
    """Normalized oracle == Spark, bit-for-bit, on the williams-shaped
    expression (tiny negative from hh==close at the window high)."""
    sql = "SELECT round((-100.0 * 1e-9 / 2.0)::DOUBLE, 6) AS pct_r"
    (raw,) = con.execute(sql).fetchone()
    assert math.copysign(1.0, raw) < 0  # un-normalized: the bug
    (fixed,) = con.execute(normalize_round_neg_zero(sql)).fetchone()
    assert fixed == 0.0 and math.copysign(1.0, fixed) > 0
    [(sv,)] = spark.range(1).select(
        F.round(F.lit(-100.0 * 1e-9 / 2.0).cast("double"), 6).alias("v")
    ).collect()
    assert math.copysign(1.0, sv) == math.copysign(1.0, fixed)
    assert canon(sv) == canon(fixed)


def test_all_registered_oracles_are_normalized():
    """Every round() call in every SHIPPED oracle carries the + 0.0
    normalization — the class is impossible for present and future
    oracles, because build_oracles() rewrites centrally."""
    import __spark_entry__ as entrymod

    for name, sql in entrymod.oracle_sql().items():
        assert normalize_round_neg_zero(sql) == sql, (
            f"{name}: oracle contains un-normalized round() — "
            "build_oracles() must route through normalize_round_neg_zero"
        )


# --- the rewriter itself ----------------------------------------------------


def test_rewriter_wraps_simple_call():
    assert (
        normalize_round_neg_zero("SELECT round(x, 6) AS v FROM t")
        == "SELECT (round(x, 6) + 0.0) AS v FROM t"
    )


def test_rewriter_handles_nesting_and_inner_parens():
    out = normalize_round_neg_zero("round(avg(a) / nullif(b, 0), 6)")
    assert out == "(round(avg(a) / nullif(b, 0), 6) + 0.0)"
    out = normalize_round_neg_zero("round(round(x, 8), 6)")
    assert out == "(round((round(x, 8) + 0.0), 6) + 0.0)"


def test_rewriter_skips_strings_comments_and_words():
    s = "SELECT 'call round(x)' AS lit, around(x) AS a -- round(y)\nFROM t"
    assert normalize_round_neg_zero(s) == s
    s2 = 'SELECT "round(col)" FROM t'  # quoted identifier
    assert normalize_round_neg_zero(s2) == s2
    # block comments (ADVICE r12): a round( or unbalanced paren inside
    # /* ... */ must neither be rewritten nor break paren matching
    s3 = "SELECT /* round(x) and a stray ( */ v FROM t"
    assert normalize_round_neg_zero(s3) == s3
    s4 = "SELECT round(v /* ) tricky ( */, 6) AS a FROM t"
    assert normalize_round_neg_zero(s4) == (
        "SELECT (round(v /* ) tricky ( */, 6) + 0.0) AS a FROM t"
    )
    s5 = "SELECT /* unterminated block v FROM t"
    assert normalize_round_neg_zero(s5) == s5


def test_rewriter_is_idempotent_and_value_preserving(con):
    sql = (
        "SELECT round(v, 6) AS a, round(avg(v) OVER (), 2) AS b,"
        " round(NULL::DOUBLE, 6) AS c, round(round(v, 8), 6) AS d"
        " FROM (SELECT 1.2345678::DOUBLE AS v)"
    )
    fixed = normalize_round_neg_zero(sql)
    # idempotent: a second pass is a no-op (build_oracles may run on text
    # that embeds already-normalized fragments)
    assert normalize_round_neg_zero(fixed) == fixed
    # value-preserving on positives/NULL; only -0.0 changes bit pattern
    assert con.execute(sql).fetchone() == con.execute(fixed).fetchone()
    # and "+ 0.01" is NOT mistaken for the normalization marker
    s = "(round(x, 6) + 0.01)"
    assert normalize_round_neg_zero(s) == "((round(x, 6) + 0.0) + 0.01)"


# --- class 1 (r7): HUGEINT sums ---------------------------------------------


def test_hugeint_sum_flagged(con, spark):
    """Would have caught r7's orders_table_profile: DuckDB sum(int) is
    HUGEINT — no Spark twin, flagged regardless of value equality."""
    assert canon_duck_type("HUGEINT").startswith("BANNED:")
    sdf = spark.range(3).select(F.sum("id").cast("long").alias("s"))
    problems = type_mismatches(
        sdf.columns, sdf.dtypes, con, "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)"
    )
    assert problems and "HUGEINT" in problems[0]
    # and the repo convention (::BIGINT cast) silences it
    assert not type_mismatches(
        sdf.columns, sdf.dtypes, con,
        "SELECT sum(x)::BIGINT AS s FROM (VALUES (1), (2)) t(x)",
    )


# --- class 2 (r7): DECIMAL literal typing -----------------------------------


def test_decimal_literal_flagged(con, spark):
    """Would have caught r7's Holt truncation: an un-cast 0.0 literal types
    DECIMAL(2,1); every downstream value silently truncates to 1dp."""
    assert canon_duck_type("DECIMAL(2,1)").startswith("BANNED:")
    sdf = spark.range(1).select(F.lit(0.0).alias("v"))
    problems = type_mismatches(
        sdf.columns, sdf.dtypes, con, "SELECT 0.0 AS v"
    )
    assert problems and "DECIMAL" in problems[0]
    assert not type_mismatches(
        sdf.columns, sdf.dtypes, con, "SELECT 0.0::DOUBLE AS v"
    )


# --- misc canonicalization hazards ------------------------------------------


def test_nan_and_integer_valued_doubles_canon_stable():
    assert canon(float("nan")) == "NaN"
    assert canon(5.0) == "5.0"
    assert canon(-5.0) == "-5.0"
    assert canon(1.25) == canon(1.25)


def test_canon_full_precision_catches_6dp_ties_above_ten():
    """Canonicalization class 4b (r12, the FOURTH check-green/driver-red
    class): the old f"{v:.6g}" rendered six SIGNIFICANT digits, so for
    |v| >= 10 a 6th-DECIMAL-place difference was locally invisible while
    the driver's hash is bit-sensitive. These are the exact vwap_daily_1h
    values from the r12 driver red row ('USD/JPY', 2024-01-23 10:00):
    Spark 66.622813 vs DuckDB 66.622812 — the old canon rendered both
    "66.6228" and shipped the round's one red row check-green."""
    spark_v, duck_v = 66.622813, 66.622812
    assert f"{spark_v:.6g}" == f"{duck_v:.6g}"  # the masking defect
    assert canon(spark_v) != canon(duck_v)      # the hardened canon catches it
    # and canon is exactly the driver bar: equal iff bit-equal
    assert canon(spark_v) == canon(66.622813)
    # larger magnitudes stay distinguishable too (class scales with |v|)
    assert canon(12345.678901) != canon(12345.678902)


def test_infinity_canon_does_not_crash(con):
    """int(inf) raises OverflowError — a future oracle emitting ±inf
    (log(0), 1/0 guards) must render, not crash the checker."""
    assert canon(float("inf")) == "Infinity"
    assert canon(float("-inf")) == "-Infinity"
    (v,) = con.execute("SELECT 'inf'::DOUBLE").fetchone()
    assert canon(v) == "Infinity"


# --- class 2b (r13): DECIMAL literals in INTERMEDIATE arithmetic -------------


def test_decimal_literal_in_intermediate_arithmetic_diverges(con, spark):
    """Class 2's output-type gate (type_mismatches) cannot see this one:
    both outputs are DOUBLE, but DuckDB types the literal 0.001 as
    DECIMAL(4,3), computes k·0.001 EXACTLY, and converts once — while
    Spark multiplies by the double nearest 0.001. For some k the results
    differ by 1 ulp. Caught live by the hardened-canon sf0.1 sweep in
    ticks_parse_validate/ticks_dedup_second (28 rows); fixed by typing
    the oracle literal ::DOUBLE so both engines run identical IEEE ops."""
    (dec_v,) = con.execute("SELECT 0.01::DOUBLE + 9 * 0.001").fetchone()
    (dbl_v,) = con.execute("SELECT 0.01::DOUBLE + 9 * 0.001::DOUBLE").fetchone()
    [(sv,)] = spark.sql(
        "SELECT CAST(0.01 AS DOUBLE) + 9 * CAST(0.001 AS DOUBLE) AS v"
    ).collect()
    assert dbl_v == sv  # identical IEEE ops -> identical bits
    assert dec_v != dbl_v  # the DECIMAL-literal path is a different double
    from tools.check import canon

    assert canon(dec_v) != canon(sv)  # and the hardened canon sees it


# --- class 5 (r13): round() tie semantics on the SAME double -----------------


def test_engines_round_disagrees_on_shortest_repr_ties(con, spark):
    """Found while fixing class 4: even with BIT-IDENTICAL raw doubles the
    engines' native round(x, 6) can differ. Spark's F.round half-ups the
    double's SHORTEST decimal repr (BigDecimal.valueOf → "32.5666665" →
    …667) while DuckDB rounds the binary expansion (32.56666649999…966 →
    …666). This pins the live divergence so the class stays documented;
    queries must avoid native round() at half ties (vwap_daily_1h does the
    rounding in exact integer arithmetic instead)."""
    x = 32.5666665  # repr tie; exact binary expansion is BELOW the tie
    (dv,) = con.execute(f"SELECT round({x!r}::DOUBLE, 6)").fetchone()
    [(sv,)] = spark.range(1).select(
        F.round(F.lit(x).cast("double"), 6).alias("v")
    ).collect()
    assert dv == 32.566666  # DuckDB: exact-expansion rounding
    assert sv == 32.566667  # Spark: shortest-repr HALF_UP
    assert dv != sv


def test_vwap_integer_rounding_is_engine_independent(con, spark):
    """The class-5 fix: round_half_up(sfp/sv) computed as
    (2·sfp + sv) div (2·sv) in int64 — identical by construction. Checks
    the exact r13 tie row values (EUR/JPY 2024-01-20 00:00: sfp=65133333,
    sv=2 → true rational 32.56666650 exactly → half-up 32.566667) on both
    engines, plus a non-tie row."""
    cases = [(65133333, 2), (896646667, 14), (123456789, 7)]
    for sfp, sv in cases:
        (dv,) = con.execute(
            f"SELECT CAST(({2 * sfp} + {sv}) // {2 * sv} AS BIGINT) / 1000000.0"
        ).fetchone()
        # 1000000.0 is a DECIMAL literal in Spark SQL (class-2 hazard) —
        # the operator divides by a Python float (DoubleType); mirror that.
        [(spv,)] = spark.sql(
            f"SELECT (({2 * sfp} + {sv}) div {2 * sv})"
            " / CAST(1000000.0 AS DOUBLE) AS v"
        ).collect()
        assert dv == spv, (sfp, sv)
    # the r12/r13 tie rows land on the TRUE half-up of the exact rational
    (tie,) = con.execute(
        "SELECT CAST((2*65133333 + 2) // (2*2) AS BIGINT) / 1000000.0"
    ).fetchone()
    assert tie == 32.566667


# --- class 4 (r12): order-nondeterministic float reductions ------------------


def test_pagerank_is_partitioning_invariant(spark):
    """Would have caught r12's dupgraph_pagerank sf0.1 divergence: a float
    contribution SUM feeding a 6dp round flips at round-half ties when the
    reduction order changes (across engines, partition counts, retries).
    The integer fixed-point formulation makes the reduction an exact
    integer sum — results must be BIT-identical under any partitioning."""
    import random

    from trading_etl_spark.operators import graph as gr

    rng = random.Random(12)
    n = 60
    edge_list = sorted(
        {tuple(sorted(rng.sample(range(n), 2))) for _ in range(150)}
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(edge_list, "u long, v long")
    results = []
    for parts in (1, 7, 32):
        got = {
            r["id"]: r["rank"].hex()  # bit-level comparison, not ==
            for r in gr.pagerank(
                nodes.repartition(parts), edges.repartition(parts)
            ).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_pagerank_oracle_micrograph_bit_identical(spark, con):
    """The same micro-graph through BOTH engines' full arithmetic: Spark's
    integer fixed-point operator vs the oracle CTE scheme (replicated here
    on a VALUES relation) must agree bit-for-bit, including ranks landing
    within an ulp of a 6dp round-half tie."""
    from trading_etl_spark.operators import graph as gr

    # K3 triangle + pendant (4) + dangling (5): mixed degrees force
    # non-trivial contribution sums
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 4)]
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(edge_list, "u long, v long")
    sdf = {
        r["id"]: r["rank"].hex()
        for r in gr.pagerank(nodes, edges).collect()
    }
    dnum, dden = gr.damping_fraction()
    tnum = dden - dnum
    pairs = ", ".join(f"({u}, {v})" for u, v in edge_list)
    node_rows = ", ".join(f"({i})" for i in range(6))
    parts = [
        f"vnodes AS (SELECT * FROM (VALUES {node_rows}) t(id))",
        f"pairs AS (SELECT * FROM (VALUES {pairs}) t(pu, pv))",
        "edges AS (SELECT pu AS u, pv AS v FROM pairs"
        " UNION ALL SELECT pv, pu FROM pairs)",
        "deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM vnodes)",
        "pr0 AS (SELECT id, CAST((2000000 + nn.n) // (2 * nn.n) AS BIGINT)"
        " AS r FROM vnodes CROSS JOIN nn)",
    ]
    for k in range(1, gr.PAGERANK_ITERS + 1):
        parts.append(
            f"""pr{k} AS (
  SELECT p.id, CAST(
    (2 * ((2 * {tnum} * 1000000000000 + {dden} * nn.n) // (2 * {dden} * nn.n)
        + (2 * {dnum} * coalesce(c.s, 0) + {dden}) // (2 * {dden}))
     + 1000000) // 2000000 AS BIGINT) AS r
  FROM pr{k - 1} p CROSS JOIN nn
  LEFT JOIN (
    SELECT e.v AS id, sum((2 * q.r * 1000000 + deg.d) // (2 * deg.d)) AS s
    FROM edges e JOIN pr{k - 1} q ON q.id = e.u JOIN deg ON deg.u = e.u
    GROUP BY e.v
  ) c ON c.id = p.id
)"""
        )
    sql = (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, r / 1000000.0 AS rank FROM pr{gr.PAGERANK_ITERS}"
    )
    odf = {i: r.hex() for i, r in con.execute(sql).fetchall()}
    assert sdf == odf


# --- hypothesis fuzz: the rewriter on arbitrary expression shapes ------------
# The unit tests above pin known shapes; this sweeps randomly composed SQL
# double expressions (including the -0.0 hazard leaves and decoy text) and
# asserts the three load-bearing invariants for ANY future oracle:
#   1. rewriting is idempotent,
#   2. the rewrite never changes a value (beyond the sign of zero),
#   3. a top-level round() can never reach the driver as -0.0.

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_LEAVES = st.sampled_from([
    "(-4e-7)::DOUBLE",      # the williams hazard region (rounds to -0.0)
    "(-1e-9)::DOUBLE",
    "0.0::DOUBLE",
    "(-0.0)::DOUBLE",
    "1.2345678::DOUBLE",
    "(-3.5)::DOUBLE",
    "NULL::DOUBLE",
])


def _exprs(depth: int):
    if depth == 0:
        return _LEAVES
    sub = _exprs(depth - 1)
    return st.one_of(
        _LEAVES,
        st.tuples(sub, sub).map(lambda t: f"({t[0]} + {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} * {t[1]})"),
        sub.map(lambda e: f"round({e}, 6)"),
        sub.map(lambda e: f"round({e}, 2)"),
        sub.map(lambda e: f"abs({e})"),
        st.tuples(sub, sub).map(
            lambda t: f"coalesce(nullif({t[0]}, 2.0), {t[1]})"
        ),
    )


@given(_exprs(3))
@settings(max_examples=150, deadline=None)
def test_fuzz_rewriter_idempotent_and_value_preserving(expr):
    con = duckdb.connect()  # per-example: hypothesis forbids fixture reuse
    try:
        # decoys a naive regex would trip on: a string literal containing
        # "round(", a quoted identifier, and a line comment
        sql = (
            f"SELECT {expr} AS v, 'round(x)' AS lit, "
            f'1 AS "round(id)" -- round(y)\n'
        )
        fixed = normalize_round_neg_zero(sql)
        assert normalize_round_neg_zero(fixed) == fixed  # idempotent
        (raw_v, lit, ident) = con.execute(sql).fetchone()
        (new_v, lit2, ident2) = con.execute(fixed).fetchone()
        assert (lit, ident) == (lit2, ident2)  # decoys untouched
        if raw_v is None:
            assert new_v is None
        elif math.isnan(raw_v):
            assert math.isnan(new_v)
        else:
            assert raw_v == new_v  # only the sign of zero may change
    finally:
        con.close()


@given(_exprs(3))
@settings(max_examples=150, deadline=None)
def test_fuzz_normalized_round_never_emits_minus_zero(expr):
    """Oracles round every float output, so the driver-visible invariant is:
    a normalized round() column can never canon to "-0"."""
    con = duckdb.connect()
    try:
        sql = normalize_round_neg_zero(f"SELECT round({expr}, 6) AS v")
        (v,) = con.execute(sql).fetchone()
        assert v is None or canon(v) != "-0"
    finally:
        con.close()


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=4_000_000_000),
    st.integers(min_value=1, max_value=2_000_000),
)
def test_fuzz_ratio6_is_true_half_up_and_engine_identical(num, den):
    """operators/text.ratio6 and its oracle twin ((2e6·n + d) // (2d))/1e6
    must BOTH equal the true half-up rounding of the exact rational n/d at
    6dp (computed in unbounded Python ints), across the helper's whole
    int64-safe domain — the property that makes every converted ratio site
    engine- and order-independent."""
    from fractions import Fraction

    t = 2_000_000 * num + den
    expect_fp = t // (2 * den)  # floor == trunc (positives)
    # ground truth: half-up of the exact rational at 6dp
    q6 = Fraction(num, den) * 1_000_000
    truth = q6.numerator // q6.denominator
    if Fraction(q6 - truth) >= Fraction(1, 2):
        truth += 1
    assert expect_fp == truth
    # the helper's pmod formulation on exact doubles matches while t < 2^53
    assert t < 2**53
    got = (t - (t % (2 * den))) / (2 * den) / 1_000_000.0
    assert got == truth / 1_000_000.0


@settings(max_examples=80, deadline=None)
@given(
    st.floats(allow_nan=False, allow_infinity=False),
    st.floats(allow_nan=False, allow_infinity=False),
)
def test_fuzz_canon_equal_iff_bit_equal(a, b):
    """The hardened canon's defining invariant (class 4b fix): two finite
    doubles render canon-equal IFF they are bit-equal — including the sign
    of zero. This is exactly the driver's hash bar; any weakening
    reintroduces a check-green/driver-red masking class."""
    import struct

    bits = lambda x: struct.pack("<d", x)
    assert (canon(a) == canon(b)) == (bits(a) == bits(b))
    # and canon round-trips: the rendering loses nothing
    assert float(canon(a)) == a or (a == 0.0 and math.copysign(1, a) < 0)
    assert bits(float(canon(a))) == bits(a)


# --- class (b) ledger closure (r14): ln()-sum fixed-point ---------------------


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=-(2**40), max_value=2**40),
    st.integers(min_value=1, max_value=2**20),
)
def test_fuzz_fixed6_mean_signed_half_away_and_engine_identical(num, den):
    """operators/text.fixed6_mean_expr and its fixed6_mean_sql twin close
    the last margin-based float-sum family (VERDICT r13 task #3): for any
    SIGNED 1e-6-unit numerator, the signed magnitude form
    sign·((2|n|+d) div (2d)) must equal the true half-AWAY-from-zero
    rounding of the exact rational n/d (unbounded Python ints) — floor-div
    (DuckDB //) and trunc-div (Spark div) agree because the CASE keeps
    both operands positive."""
    from fractions import Fraction

    mag = (2 * abs(num) + den) // (2 * den)
    got = -mag if num < 0 else mag
    # ground truth: half-away-from-zero of the exact rational num/den
    q = Fraction(abs(num), den)
    truth = q.numerator // q.denominator
    if q - truth >= Fraction(1, 2):
        truth += 1
    truth = -truth if num < 0 else truth
    assert got == truth
    # int64 headroom for the SQL form: 2|n|+d stays far inside 2^63
    assert 2 * abs(num) + den < 2**63


def test_fixed6_mean_sql_twins_bit_identical(con, spark):
    """The exact SQL strings both engines run (fixed6_mean_expr /
    fixed6_mean_sql) on adversarial numerators: exact half ties both
    signs, off-by-one around ties, zero (must emit +0.0, never -0.0)."""
    from trading_etl_spark.operators.text import (
        fixed6_mean_expr,
        fixed6_mean_sql,
    )

    cases = [
        (-10_737_523, 2),   # negative half tie: -5368761.5 → -5368762
        (10_737_523, 2),    # positive half tie → 5368762
        (-10_737_521, 2),   # just under the tie → -5368760.5 → -5368761
        (-3, 2),            # -1.5 → -2 (away from zero)
        (3, 2),             # 1.5 → 2
        (-1, 10),           # rounds to -0 integer → must canon as +0.0
        (0, 7),
        (-2_000_000_000_123, 997),  # large magnitude, odd divisor
    ]
    for num, den in cases:
        sql = fixed6_mean_sql(str(num), str(den))
        (dv,) = con.execute(f"SELECT {sql}").fetchone()
        row = (
            spark.range(1)
            .selectExpr(f"{num} AS _num", f"{den} AS _den")
            .select(fixed6_mean_expr("_num", "_den").alias("v"))
            .collect()
        )
        spv = row[0]["v"]
        assert dv.hex() == spv.hex(), (num, den, dv, spv)
        assert canon(dv) == canon(spv)
        if num == -1 and den == 10:
            assert math.copysign(1.0, spv) > 0, "signed zero leaked"


def test_unigram_logprob_is_partitioning_invariant(spark):
    """The r14 redesign's defining property: mean_logprob is an exact
    integer reduction of quantized per-token logprobs, so the value must
    be BIT-identical under any partitioning — the float-sum order drift
    that made this family margin-based (PLANS.md ledger (b)) is gone."""
    import random

    from trading_etl_spark.operators import text as tx

    rng = random.Random(99)
    vocab = [f"tok{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(5, 120))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    results = []
    for parts in (1, 7, 32):
        got = {
            r["doc_id"]: (r["n_tokens"], r["mean_logprob"].hex())
            for r in tx.unigram_logprob(docs.repartition(parts)).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**33),
    st.integers(min_value=0, max_value=2**33),
)
def test_fuzz_silhouette_ratio_half_up_and_in_range(a, b):
    """The silhouette per-point score (r14): the integer form
    sign·((2·|b−a|·1e6 + M) div (2M)), M = max(a,b), must equal the true
    half-away-from-zero rounding of the exact rational (b−a)·1e6/M for
    any non-negative squared distances — and stay inside ±1e6 (|s| ≤ 1
    by construction). Headroom: 2·|b−a|·1e6 + M stays far inside 2^63
    for the 1e-4-grid distances the operator produces (d² ≤ ~7.2e9)."""
    from fractions import Fraction

    m = max(a, b)
    if m == 0:
        return  # operator emits 0 for the degenerate all-equal case
    num = (b - a) * 1_000_000
    mag = (2 * abs(num) + m) // (2 * m)
    got = -mag if num < 0 else mag
    q = Fraction(abs(num), m)
    truth = q.numerator // q.denominator
    if q - truth >= Fraction(1, 2):
        truth += 1
    truth = -truth if num < 0 else truth
    assert got == truth
    assert -1_000_000 <= got <= 1_000_000
    assert 2 * abs(num) + m < 2**63


def test_silhouette_is_partitioning_invariant(spark):
    """The silhouette operator's defining property (r14 birth): the
    all-integer pipeline (quantized components → integer-mean centroids →
    integer d² → integer s-ratio → fixed6 mean) must emit BIT-identical
    doubles under any partitioning — there is no float reduction anywhere
    to reorder."""
    import random

    from trading_etl_spark.operators import similarity as sim

    rng = random.Random(41)
    rows = [
        (
            i,
            i % 5,
            [rng.uniform(-0.6, 0.6) + (i % 5) * 0.3 for _ in range(16)],
        )
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    results = []
    for parts in (1, 7, 32):
        got = {
            r["label"]: (r["n_points"], r["mean_silhouette"].hex())
            for r in sim.cluster_silhouette(emb.repartition(parts)).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]
