"""Text-analysis + deduplication operators over the ``documents`` table —
the LLM-training-data-pipeline surface (north-star extension; no reference
analog — BASELINE.json mandates these as first-class components).

All hashing shared with the DuckDB oracles uses md5 hex strings (both engines
ship md5 with identical output), so minhash signatures and simhash bits are
engine-independent. Tokenization is a literal single-space split in both.

Scale notes (the point of each design):
- exact dedup: one hash-groupBy shuffle on md5(text) — never on raw text
  (100 TB of text never leaves the scan projection).
- minhash LSH: candidate generation is an equi-join on (band_idx, band_key)
  buckets — O(collisions), not O(n²); only candidates pay the exact-jaccard
  verification join. This is the scale path for near-dedup.
- ngram jaccard: the exact quadratic baseline, expressed as a shingle
  self-join (co-shingled pairs only, never a true cross join). Use for
  verification / small corpora; at 100 TB use the LSH path.
- simhash: per-doc signature as one map-side fold — each document's
  distinct-token md5s are folded into 64 bit counters inside one projection
  over the respread documents: no shuffle, no per-bit aggregate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cached, materialize
from ..sources.local import local_relation
from ..sources.ticks import spread_if_underpartitioned

# --- tokenization / shingles -------------------------------------------------

SHINGLE_N = 3

# language-ID stopword lists (tiny n-gram-free heuristic; argmax of hit
# counts with deterministic alphabetical tie-break).
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist"],
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
}


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("toks", F.split("text", " "))


def ratio6(num, den):
    """Exact 6dp half-up rounding of an INTEGER ratio num/den as a Column
    expression: round6(num/den) =
    (t − t mod 2·den) / 2·den / 10⁶ with t = 2·10⁶·num + den — all
    intermediate values are exact integers, the final two divisions are
    exact-multiple and power-of-ten divisions (correctly rounded IEEE), so
    the result is the true half-up rounding of the exact rational on ANY
    engine. Built from pmod instead of `div` so it composes with unnamed
    Column expressions. Exact while t < 2⁵³ (num < 4.5e9 — every per-row
    token/count ratio). Oracle twin: ((2000000·num + den) // (2·den)) /
    1000000.0. NULL/zero-den rows stay NULL (pmod/div of NULL)."""
    num = num.cast("long")
    den = den.cast("long")
    t = F.lit(2000000).cast("long") * num + den
    # NULL (not error) on zero denominators — ANSI pmod raises otherwise
    d = F.when(den != 0, F.lit(2).cast("long") * den)
    return (t - F.pmod(t, d)) / d / F.lit(1000000.0)


def shingle_arrays(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) with sh = the doc's DISTINCT token n-gram shingles as an
    array — entirely map-side (``array_distinct`` in the scan stage), so
    consumers that can aggregate over the array (minhash) never shuffle
    shingles at all."""
    # NB: guard short docs explicitly — Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0], not an empty array like generate_series.
    expr = (
        f"IF(size(toks) >= {n},"
        f" transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> array_join(slice(toks, i, {n}), ' ')),"
        f" array())"
    )
    return with_tokens(docs).select(
        "doc_id", F.array_distinct(F.expr(expr)).alias("sh")
    )


def eval_once(col) -> Column:
    """Pin a COMPUTED column to one evaluation per row behind an
    always-true nondeterministic guard (guide §4.4 applied to builtins),
    the same pattern the tick parse uses, here for GENERATOR inputs:
    ``InferFiltersFromGenerate`` adds ``size(e) > 0 AND isnotnull(e)``
    under every non-outer explode/posexplode, and predicate pushdown then
    re-inlines the full generator expression into that filter — the
    expensive array chain evaluates 3× per row, and the duplicated filter
    lands in the stage BELOW any exchange (measured on the docs100
    streaming micro-batch shingle build, a single parquet split: 17.5 s →
    0.7 s once pinned; on well-partitioned inputs it is still ~3× the
    scan-stage map work). Project the pinned column FIRST, then explode
    the attribute: the inferred filter cannot be pushed through the
    nondeterministic projection, so it evaluates against the materialized
    array, and CollapseProject leaves the deterministic computation fused
    in the stage below. The VALUE is unchanged (partition ids are always
    ≥ 0; a rand() guard does NOT survive — Spark 4 range-folds rand
    comparisons to a literal and re-inlines).

    Pushdown caveat: the guard makes the WHOLE projection
    nondeterministic, and Catalyst pushes no predicate through a
    projection with a nondeterministic field — not only the inferred
    generator filter. A consumer filtering the output (say on doc_id)
    then computes the pinned column for every input row and cannot prune
    the scan. Apply key filters before the pinned projection (as
    ``dedup_incremental_minhash`` does through its cached relation) and do
    not wrap columns a consumer may filter on."""
    return F.when(F.spark_partition_id() >= 0, col)


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct token n-gram shingles per document: (doc_id, shingle).

    Dedup happens with ``array_distinct`` BEFORE the explode: rows carry
    doc_id, so per-array distinct equals global distinct — but the array
    form runs map-side in the scan stage, where a post-explode
    ``.distinct()`` would shuffle the widest relation in the whole dedup
    pipeline (measured 2.3× on the 260k-shingle sf0.1 corpus; at 100 TB it
    removes the largest exchange outright). The explode input is pinned
    with :func:`eval_once` so the inferred generator filter cannot
    re-inline the shingle chain 2× more per doc."""
    return shingle_arrays(docs, n).select(
        "doc_id", eval_once(F.col("sh")).alias("sh")
    ).select("doc_id", F.explode("sh").alias("shingle"))


def _shingles_cached(docs: DataFrame) -> DataFrame:
    # Materialized with truncated lineage: every LSH/dedup consumer
    # references this relation 3-4× per query (signatures, intersections,
    # both size sides), which re-analyzed the docs→tokens→explode subtree
    # that many times per build.
    return cached(
        docs.sparkSession, "shingles", lambda: materialize(shingles(docs)), docs
    )


# --- per-document analysis ---------------------------------------------------

def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy (alnum runs)."""
    return with_tokens(docs).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("n_words"),
        F.length("text").alias("n_chars_measured"),
    )


# target language mix for mixture_plan — the tuning knob a data-mixing run
# (Pile/DoReMi-style) sweeps; keys must cover the corpus langs it is applied
# to (inner-join semantics: a lang absent from the spec is excluded from
# the plan, mirroring a mixture that drops a language).
MIX_WEIGHTS: dict[str, float] = {
    "en": 0.4,
    "zh": 0.2,
    "es": 0.15,
    "fr": 0.15,
    "de": 0.1,
}


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    budget_factor: float = 1.0,
) -> DataFrame:
    """Training-mixture sampling plan: given target language
    weights and a token budget (``budget_factor`` × the corpus's total
    tokens), the per-language sampling rate and epoch count a data-mixing
    pipeline needs — rate > 1 means the language must repeat (epochs is
    its ceiling), rate < 1 means downsampling. The Pile / DoReMi-style
    static mix calculation as a first-class relational op.

    Shape: one map-side token count folded into a |langs|-row partial
    hash-agg; the total is a lazy 1-row aggregate cross-joined back; the
    weight spec is a broadcast literal relation. Output is |spec langs|
    rows at ANY corpus size — nothing here grows with the data. All rate
    arithmetic rounds to 6dp before the ceiling decision, so both engines
    pick identical epoch counts."""
    spec_rows = sorted((weights or MIX_WEIGHTS).items())
    spec = local_relation(
        docs.sparkSession,
        [(lang, float(w)) for lang, w in spec_rows],
        "lang string, target_weight double",
    )
    per = (
        with_tokens(docs)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks")).alias("avail_tokens"),
        )
    )
    total = per.agg(F.sum("avail_tokens").alias("_total_tokens"))
    target = F.col("target_weight") * F.col("_total_tokens") * F.lit(budget_factor)
    rate = F.round(target / F.col("avail_tokens"), 6)
    return (
        per.join(F.broadcast(spec), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "avail_tokens",
            "target_weight",
            F.round(target, 6).alias("target_tokens"),
            rate.alias("sampling_rate"),
            F.ceil(rate).cast("long").alias("epochs"),
        )
    )


def ngram_diversity(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """Distinct-n diversity per document: for n = 1..``max_n``,
    the share of distinct token n-grams among all n-grams — the
    "distinct-1/2/3" repetition diagnostic of text-generation eval
    (low distinct-2/3 = loops and boilerplate; the corpus-level analog of
    the Gopher repetition gate, but scored per doc so it composes with
    the sampling/quality pipeline).

    Map-side, zero shuffles and zero Python, memory bounded by the
    document. n-grams build via ``transform`` over an index ``sequence``
    with ``element_at`` gathers (construction order is the token order,
    matching the DuckDB twin exactly); the higher-order-function
    projection runs interpreted, not in generated code. Each per-row
    array is PROJECTED once as an attribute: the tokens ``_t``, each
    n-gram array ``_g{n}`` (NULL when the doc has fewer than n tokens),
    then its distinct and total sizes. Every one of them is referenced
    more than once downstream, so ``CollapseProject`` keeps them as
    attributes; an unprojected ``split`` Column would be re-evaluated in
    every ``element_at`` of the lambda — one full split per n-gram
    element, O(tokens²) per doc. Docs shorter than n yield NULL for that
    n (the ratio is undefined, not 0) in both engines."""
    t = F.col("_t")
    ns = range(1, max_n + 1)

    def grams(n: int) -> Column:
        if n == 1:
            return t
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        )

    return (
        docs.select("doc_id", F.split("text", " ").alias("_t"))
        .select("doc_id", "_t", *[grams(n).alias(f"_g{n}") for n in ns])
        .select(
            "doc_id",
            F.size(t).alias("_n"),
            *[F.size(F.array_distinct(f"_g{n}")).alias(f"_d{n}") for n in ns],
            *[F.size(f"_g{n}").alias(f"_c{n}") for n in ns],
        )
        .select(
            "doc_id",
            F.col("_n").cast("long").alias("n_tokens"),
            *[
                F.when(
                    F.col("_n") >= n, ratio6(F.col(f"_d{n}"), F.col(f"_c{n}"))
                ).alias(f"distinct_{n}")
                for n in ns
            ],
        )
    )


SAMPLE_K = 30


def hex32_unit_expr(col: str) -> str:
    """SQL expression (valid verbatim in Spark SQL and DuckDB) mapping the
    first 8 hex chars of ``col`` to a uniform double in (0, 1]: exact
    integer reconstruction of the hex prefix, then (v+1)/2^32. Shared as a
    STRING so both engines parse the identical arithmetic — the
    cross-engine determinism trick behind the weighted sampler."""
    terms = " + ".join(
        # BIGINT per term: instr yields int32 and the 16^7 scale overflows
        # it under ANSI arithmetic
        f"CAST(instr('0123456789abcdef', substr({col}, {i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"((CAST({terms} AS DOUBLE) + 1.0) / 4294967296.0)"


def weighted_sample(
    scored: DataFrame,
    k: int = SAMPLE_K,
    weight_col: str = "quality",
    strata_col: str = "lang",
    two_level: bool = False,
) -> DataFrame:
    """Weighted sampling without replacement, per stratum — the
    quality-weighted corpus subsampling step of a training-data pipeline
    (sample high-quality docs preferentially, but keep tail diversity).

    Algorithm A-Res (Efraimidis & Spirakis 2006): key_i = u_i^(1/w_i) with
    u_i uniform; the k largest keys per stratum are a weighted sample
    without replacement. No RNG state: u_i derives from md5(doc_id) via
    :func:`hex32_unit_expr`, so the sample is reproducible and
    engine-independent (weights are 6dp-rounded quality scores; keys round
    to 6dp with doc_id tie-break).

    Scale shape: key computation is map-side codegen; the only shuffle is
    the per-stratum top-k window — shuffle volume is the corpus's (id,
    key) projection. ``two_level=True`` swaps the window for
    operators.topk.grouped_top_k (per-batch heads map-side, then a merge
    over ≤ k rows per batch) — the 100 TB path, identical results
    (tests/test_topk.py pins the general equivalence; the datapipe test
    pins it on this sampler's keys).
    """
    key_expr = (
        f"round(power({hex32_unit_expr('samp_h')},"
        f" 1.0 / greatest({weight_col}, 0.05)), 6)"
    )
    d = scored.withColumn(
        "samp_h", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("samp_key", F.expr(key_expr))
    if two_level:
        from .topk import grouped_top_k

        proj = d.select(strata_col, "doc_id", weight_col, "samp_key")
        return grouped_top_k(
            proj, [strata_col], "samp_key", k, tie_col="doc_id"
        )
    w = Window.partitionBy(strata_col).orderBy(
        F.desc("samp_key"), F.asc("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(strata_col, "doc_id", weight_col, "samp_key")
    )


# Per-source target-mixture weight for the gate query: a deterministic
# 1..4 bucket from md5(source) — fixture-agnostic and expressible verbatim
# in both engines (same instr trick as hex32_unit_expr).
DOMAIN_WEIGHT_EXPR = (
    "CAST((instr('0123456789abcdef', substr(md5(source), 1, 1)) - 1) % 4 + 1"
    " AS DOUBLE)"
)


def domain_mix_sample(docs: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Domain (source) mixture sampling — the corpus-mixing step of a
    training-data pipeline: given a per-source target weight (web 3×,
    books 1×, …), downsample every source so the kept corpus hits the
    target token mixture exactly, bounded by each source's availability.

    ``docs`` must carry ``weight`` (constant per source). The token budget
    is T = min over sources of available/weight — the largest total for
    which NO source needs more tokens than it has; each source then keeps
    rate = weight·T/available of its docs (rate = 1 for the binding
    source), decided per doc by the deterministic md5 unit draw
    (:func:`hex32_unit_expr`) — reproducible, engine-independent, no RNG.

    Scale shape: one hash-agg keyed on source (tiny key domain →
    partial-agg shuffle of |sources| rows, not the corpus), the 1-row
    budget aggregate broadcast-cross-joined back onto the |sources|-row
    relation, and the keep decision is map-side codegen — the corpus
    itself never shuffles. Returns kept (doc_id, source, n_tokens,
    keep_rate).
    """
    d = docs.select(
        "doc_id",
        "source",
        F.col(weight_col).alias("w"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    # min, not first: identical under the constant-weight-per-source
    # contract, deterministic (and oracle-matching) outside it — first()
    # is partition-order-dependent and would silently diverge from the
    # DuckDB twin's min(w) on a violated contract
    per_src = d.groupBy("source").agg(
        F.min("w").alias("w"), F.sum("n_tokens").alias("avail")
    )
    budget = per_src.agg(F.min(F.col("avail") / F.col("w")).alias("budget"))
    rates = per_src.crossJoin(F.broadcast(budget)).select(
        "source",
        F.round(
            F.least(F.lit(1.0), F.col("w") * F.col("budget") / F.col("avail")), 6
        ).alias("keep_rate"),
    )
    u = F.expr(hex32_unit_expr("mix_h"))
    return (
        d.join(F.broadcast(rates), "source")
        .withColumn("mix_h", F.md5(F.col("doc_id").cast("string")))
        .filter(u <= F.col("keep_rate"))
        .select("doc_id", "source", "n_tokens", "keep_rate")
    )


CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_THRESHOLD = 500


def _cms_cell_expr(tok_col: str, row: int, width: int) -> str:
    """Count-min cell index for hash row ``row``: the md5-hex-prefix integer
    of ``tok:row`` mod width — deterministic and evaluable verbatim in both
    Spark SQL and DuckDB (same instr trick as :func:`hex32_unit_expr`).
    This is the ENGINE-PORTABLE form the DuckDB oracle replays; the Spark
    operators evaluate :func:`_cms_cell_expr_spark` instead (identical
    value, one md5 per cell)."""
    h = f"md5(concat({tok_col}, ':', '{row}'))"
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"(({terms}) % {width})"


def _cms_cell_expr_spark(tok_col: str, row: int, width: int) -> str:
    """Spark-side twin of :func:`_cms_cell_expr`: the instr form
    inlines the md5 into each of its 8 digit terms, so every token row
    paid 8 md5 evaluations per hash row — 32 per token at depth 4
    (measured 4.97 s of the 4.7 s sketch aggregation at sf0.1). ``conv``
    of the same 8-hex-digit prefix is the SAME integer (Σ digit_i·16^(8−i)
    is by definition the base-16 value of those digits) computed with ONE
    md5 — pinned equal to the portable form on random tokens by
    tests/test_datapipe.py::test_cms_cell_expr_spark_matches_portable.
    DuckDB has no conv(), which is why the oracle keeps the instr form."""
    h = f"md5(concat({tok_col}, ':', '{row}'))"
    return f"(cast(conv(substr({h}, 1, 8), 16, 10) as bigint) % {width})"


def cms_heavy_hitters(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    threshold: int = CMS_THRESHOLD,
) -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch (Cormode & Muthukrishnan
    2005) — the constant-memory high-frequency-term monitor of a streaming
    corpus pipeline (stopword drift, spam bursts, boilerplate explosions).

    Sketch: ``depth`` hash rows × ``width`` cells; every token increments
    one cell per row; a token's estimate is the MIN over its cells —
    always ≥ the true count (overestimates come only from collisions), so
    thresholding at T yields every true-frequency-≥T token plus possibly
    a few collision inflatees: no false negatives, the property that
    matters for a monitoring gate.

    Scale shape: the cell relation is the partial-aggregable groupBy of
    (row, cell) — the sketch state is depth×width COUNTERS regardless of
    corpus size, the entire point; per-executor partial sketches merge by
    cell-wise addition (what the exchange's partial_count does). The
    estimate probe joins candidate DISTINCT tokens back to the broadcast
    cell relation. Hashes are md5-hex-prefix integers — engine-independent
    (DuckDB replays the identical sketch), unlike xxhash64 which DuckDB
    lacks.
    """
    ex = with_tokens(docs).select(F.explode("toks").alias("tok"))
    # all depth cell indices in ONE scan: posexplode of the d-element hash
    # array (each expression bakes in its literal row id) — pos IS the
    # sketch row, so no d-way union rescans the exploded-token relation
    cells_arr = F.array(
        *[F.expr(_cms_cell_expr_spark("tok", i, width)) for i in range(depth)]
    )
    sketch = (
        # eval_once: the inferred generator filter would re-inline
        # the depth×(md5+conv) cell-hash array twice more per token row
        ex.select(eval_once(cells_arr).alias("cells"))
        .select(F.posexplode("cells").alias("row", "cell"))
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    est = (
        ex.select("tok")
        .distinct()
        .select("tok", F.posexplode(cells_arr).alias("row", "cell"))
        .join(F.broadcast(sketch), ["row", "cell"])
        .groupBy("tok")
        .agg(F.min("n").alias("est_count"))
    )
    return est.filter(F.col("est_count") >= threshold).select("tok", "est_count")


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    cheap statistical stand-in for the KenLM-perplexity quality filter
    (CCNet-style): tokens that are rare IN THIS CORPUS drag a document's
    mean log-probability down, flagging gibberish/OCR noise.

    Model: add-one-smoothed unigram LM, p(tok) = (c+1)/(N+V) with N total
    tokens and V vocabulary size — both corpus-level aggregates. Score =
    mean over the doc's tokens of ln p(tok), fixed-point at 6dp: each
    per-token ln quantizes to BIGINT 1e-6 units (floor(x·1e6 + 0.5) —
    exact given identical ln bits, both engines), the doc reduction is an
    exact integer sum (ORDER-INDEPENDENT — no float-summation drift for
    any partitioning), and the mean rounds half-away-from-zero via signed
    integer division. This is the PageRank / vwap fixed-point discipline
    applied to the last margin-based float-sum family: the only
    residual cross-engine hazard is a per-token ln() ulp
    difference landing within ~2e-9 of a quantization boundary, strictly
    smaller than the per-row summation-order tie window it replaces.

    Scale shape: two shuffles — the vocabulary count (keyed on token,
    map-side partial combine bounds the exchange by |vocab|, not corpus
    tokens) and the per-doc mean (keyed on doc_id). The (N, V) totals are
    a 1-row relation broadcast into the scoring join. The vocab join's
    LEFT side is NOT the fully-exploded token relation: token frequency is
    Zipfian, so shuffling one row per token occurrence keys the exchange
    on exactly the stopword hot spots.
    Instead the exploded tokens pre-aggregate to per-doc distinct
    (doc_id, tok, cnt) — a partial-combinable groupBy keyed on the
    composite (doc_id, tok), which no single token value can skew — and
    the mean becomes the cnt-weighted average. The vocab side is
    broadcastable when small; AQE picks shuffle-hash (with skew-join
    splitting) otherwise.
    """
    ex = with_tokens(docs).select("doc_id", F.explode("toks").alias("tok"))
    doc_tok = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = doc_tok.groupBy("tok").agg(F.sum("cnt").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    lp = F.log((F.col("c") + 1.0) / (F.col("n_total") + F.col("v_size")))
    q = F.floor(lp * F.lit(1000000.0) + F.lit(0.5))  # BIGINT 1e-6 units
    return (
        doc_tok.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * q).alias("_num"),
            F.sum("cnt").alias("_den"),
        )
        .withColumn("mean_logprob", fixed6_mean_expr("_num", "_den"))
        .drop("_num", "_den")
    )


def half_away_div(num: str, den: str, intdiv: str = "div") -> str:
    """sign·((2|n|+d) intdiv (2d)) — the cross-engine half-away-from-zero
    integer rounding of n/d (the vwap recipe, for positive ``den``):
    ``intdiv`` is ``div`` for Spark (trunc-div) or ``//`` for DuckDB
    (floor-div) — identical on the positive operands the CASE produces.
    ONE parameterized definition serves every Spark expression and its
    oracle twin (fixed6 means, silhouette centroids and s-ratios), so a
    future change to the rounding recipe cannot fork the engines; the
    operands are parenthesized so compound expressions like ``a - b``
    round the intended value."""
    return (
        f"CASE WHEN ({num}) < 0 THEN -((-2*({num}) + ({den})) {intdiv} (2*({den})))"
        f" ELSE (2*({num}) + ({den})) {intdiv} (2*({den})) END"
    )


def fixed6_mean_expr(num: str, den: str):
    """round6((num/den)/1e6) for BIGINT ``num`` (any sign, 1e-6 fixed-point
    units) and positive BIGINT ``den``: :func:`half_away_div` on the
    magnitude, sign reapplied, exact double /1e6 at the end.
    Order-independent and bit-identical to the DuckDB twin
    :func:`fixed6_mean_sql` — both are the SAME parameterized body."""
    return F.expr(f"{half_away_div(num, den)} / CAST(1e6 AS DOUBLE)")


def fixed6_mean_sql(num: str, den: str) -> str:
    """DuckDB twin of :func:`fixed6_mean_expr` (same :func:`half_away_div`
    body with `//` floor-div). Callers must ensure ``num``/``den`` are
    BIGINT-cast — DuckDB sums promote to HUGEINT, which the driver's
    type-sensitive hash rejects."""
    return f"{half_away_div(num, den, '//')} / CAST(1e6 AS DOUBLE)"


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(
    docs: DataFrame, size: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping token-window chunking — the doc→passage split every
    RAG indexer and context-window packer runs (size-token chunks, stride
    < size gives overlap so no boundary-spanning phrase is lost).

    Entirely map-side: a higher-order ``transform`` builds the chunk
    array in the scan stage and ``posexplode`` emits (doc, chunk_idx)
    rows — no shuffle at all; at 100 TB this is scan-speed. The last
    chunk is ragged (whatever remains past the final full stride); docs
    shorter than ``size`` yield one chunk with every token.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError(f"need 0 < stride <= size, got size={size} stride={stride}")
    n_chunks = f"(greatest(size(toks) - {size} + {stride} - 1, 0) div {stride}) + 1"
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks} - 1),"
        f" i -> slice(toks, i * {stride} + 1, {size}))"
    )
    return (
        # eval_once: same inferred-generator-filter duplication class
        # as shingles() — without the pin the chunk-slicing transform
        # evaluates 3× per doc in the scan stage
        with_tokens(docs)
        .select("doc_id", eval_once(chunks).alias("chunks"))
        .select("doc_id", F.posexplode("chunks").alias("chunk_idx", "ch"))
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("token_start"),
            F.size("ch").alias("chunk_tokens"),
            F.md5(F.array_join("ch", " ")).alias("chunk_hash"),
        )
    )


PMI_MIN_COUNT = 10


def bigram_pmi(docs: DataFrame, min_count: int = PMI_MIN_COUNT) -> DataFrame:
    """Corpus collocation mining: pointwise mutual information of adjacent
    token pairs — the classic phrase/multi-word-expression detector a
    tokenizer-training or phrase-merging pipeline runs over the corpus.

    pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p from corpus-wide bigram /
    unigram counts; pairs below ``min_count`` are dropped (PMI is unstable
    on rare events).

    Scale shape: bigrams are built map-side with a higher-order
    ``transform`` over the token array (no self-join of the token relation,
    which is how naive SQL does it) and hash-aggregated with partial
    combine, so the shuffle carries one row per DISTINCT bigram, not per
    occurrence. Unigram counts join back by word — vocabulary-sized
    relations Catalyst broadcasts; corpus totals are a 1-row broadcast
    cross join. Float determinism: the ratio is computed with an identical
    association order in both engines and rounded to 6dp.
    """
    d = with_tokens(docs)
    # 0-based subscripts; sequence is inclusive → i ∈ [0, n-2]
    bg = F.expr(
        "transform(sequence(0, size(toks) - 2),"
        " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
    )
    bigrams = (
        # eval_once: pin the bigram-struct transform to one
        # evaluation (inferred-generator-filter duplication class)
        d.filter(F.size("toks") >= 2)
        .select(eval_once(bg).alias("bg"))
        .select(F.explode("bg").alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    unigrams = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    totals = unigrams.agg(F.sum("c").alias("n_uni"))
    n_bi = (
        d.filter(F.size("toks") >= 2)
        .agg(F.sum(F.size("toks") - 1).cast("double").alias("n_bi"))
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy") / F.col("n_bi"))
            / ((F.col("cx") / F.col("n_uni")) * (F.col("cy") / F.col("n_uni")))
        ),
        6,
    )
    return (
        bigrams.join(unigrams.select(F.col("w").alias("w1"), F.col("c").alias("cx")), "w1")
        .join(unigrams.select(F.col("w").alias("w2"), F.col("c").alias("cy")), "w2")
        .crossJoin(F.broadcast(totals.select(F.col("n_uni").cast("double").alias("n_uni"))))
        .crossJoin(F.broadcast(n_bi))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
    )


FP_MOD = 1_000_000_007


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Polynomial rolling hash over the token stream (order-sensitive):
    h ← (h·31 + tok_h) mod p per token, tok_h = 17·len + first-char code.

    Runs entirely inside whole-stage codegen via the higher-order
    ``aggregate`` — no explode, no shuffle: one pass over each row's token
    array. Unlike the md5 content fingerprint, equal token multisets in
    different ORDER produce different hashes (shingle-order sensitivity —
    the property dedup pipelines want from a rolling hash)."""
    th = "CAST(length(x) * 17 + ascii(substr(x, 1, 1)) AS BIGINT)"
    expr = f"aggregate(toks, CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + {th}) % {FP_MOD}L)"
    return with_tokens(docs).select(
        "doc_id", F.expr(expr).alias("rolling_fp"), F.size("toks").alias("n_tokens")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of the lowercased text."""
    return docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )


PACK_BUDGET = 2048  # tokens per training shard
PACK_BUCKETS = 16


def pack_sequences(
    docs: DataFrame, budget: int = PACK_BUDGET, n_buckets: int = PACK_BUCKETS
) -> DataFrame:
    """Shard packing — assign documents to fixed-token-budget training
    shards in a deterministic order (md5 of doc_id), the corpus→training-
    sequences planning step of an LLM data pipeline.

    bin = floor(running_token_total_before_doc / budget) over the global
    md5 order. The prefix sum is computed DISTRIBUTED, two-pass: docs hash
    into ``n_buckets`` md5-prefix buckets, each bucket does its own
    window cumsum in parallel, then the (tiny) per-bucket totals become
    broadcast offsets — no global single-partition window, which is how a
    naive ``sum() over (order by …)`` would execute at 100 TB.

    Global-order guarantee: ``n_buckets`` must be a
    power of 16 so the bucket id is exactly a hex PREFIX of the md5 —
    then (bucket, h, doc_id) order == (h, doc_id) order and results
    hash-match the oracle's one-window form. Any other count would
    interleave buckets and silently break the global order, so it raises.

    The tokenized relation (doc_id, n_tokens, h — ~50 bytes/row, never
    the text) is localCheckpoint'ed before the totals collect, so the
    final projection reuses the materialized pass instead of re-scanning
    and re-tokenizing the corpus (same lineage-truncation
    pattern as similarity.kmeans_codebook).
    """
    prefix_len = max(1, (n_buckets.bit_length() - 1) // 4)
    if 16**prefix_len != n_buckets:
        raise ValueError(
            f"n_buckets must be a power of 16 (got {n_buckets}): bucket ids are "
            "md5 hex prefixes so that per-bucket order composes to global order"
        )
    d = with_tokens(docs).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    d = d.withColumn(
        "bucket", F.conv(F.substring("h", 1, prefix_len), 16, 10).cast("int")
    )
    d = d.localCheckpoint(eager=True)  # one tokenize pass feeds both consumers
    totals = {
        r["bucket"]: r["t"]
        for r in d.groupBy("bucket").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += totals.get(b, 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for b in sorted(offsets) for x in (b, offsets[b])]
        ),
        F.col("bucket"),
    )
    start = off + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        F.floor(start / budget).cast("long").alias("shard_id"),
        start.cast("long").alias("token_offset"),
    )


# PII patterns kept to syntax Java regex and RE2 (DuckDB) interpret
# identically: character classes, bounded repetition, non-capturing groups,
# leftmost-first alternation and ASCII \b — no lookaround, no backreferences.
# That is what makes the redaction oracle-matchable.
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
# Phone: a free-form [0-9() -]{7,14} would eat any digit
# run with spaces ("2024 2025 2026" → one "phone"). Require real phone shape:
#   1. +country then 2-4 separator-joined groups   +81 90-1234-5678
#   2. (area) then two 3-4 digit groups            (03) 1234-5678
#   3. >=3 hyphen-joined groups, \b-guarded        090-1234-5678 / 555-123-4567 / 0120-444-444
#      — a 4-digit lead additionally requires a 3-digit second group, so
#      hyphen-joined year lists ("2024-2025-2026", all groups 4-digit) miss
#      (a {2,4}-lead form would match them); dates
#      ("2024-08-13") miss on the 2-digit tail either way.
#   4. bare 9-12 digit run, \b-guarded             09012345678 (ISBN-13 = 13 digits, excluded)
# Single [ -] separators only (no runs), so space-separated year lists,
# IPv4 (dots) and hex/ID strings (digit-letter, no \b) miss.
PII_PHONE_RE = (
    "\\+[0-9]{1,3}(?:[ -]?\\(?[0-9]{2,4}\\)?){2,4}"
    "|\\([0-9]{2,4}\\)[ -]?[0-9]{3,4}[ -]?[0-9]{3,4}"
    "|\\b(?:[0-9]{2,3}(?:-[0-9]{3,4}){2,3}|[0-9]{4}-[0-9]{3}(?:-[0-9]{3,4}){1,2})\\b"
    "|\\b[0-9]{9,12}\\b"
)
PII_IPV4_RE = (
    "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?"
)


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrub — the corpus-cleaning stage every training pipeline runs
    before release: emails, phone numbers and IPv4 literals replaced with
    typed sentinel tokens, plus per-doc hit counts for audit sampling.

    Pure map-side ``regexp_replace``/``regexp_count`` chains inside
    whole-stage codegen: no shuffle, no UDF — at 100 TB this is a
    scan-speed pass, the cheapest stage in the pipeline. Counts are taken
    BEFORE redaction, in match order email → phone → ip so an address
    inside an email local-part is attributed once.
    """
    email_n = F.regexp_count("text", F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>")
    phone_n = F.regexp_count(t1, F.lit(PII_PHONE_RE))
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    ip_n = F.regexp_count(t2, F.lit(PII_IPV4_RE))
    t3 = F.regexp_replace(t2, PII_IPV4_RE, "<IP>")
    return docs.select(
        "doc_id",
        t3.alias("clean_text"),
        email_n.cast("long").alias("n_emails"),
        phone_n.cast("long").alias("n_phones"),
        ip_n.cast("long").alias("n_ips"),
        (email_n + phone_n + ip_n > 0).alias("had_pii"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score (length, mean token
    length, stopword ratio) — the classic pre-training quality filter."""
    en = LANG_STOPWORDS["en"]
    d = with_tokens(docs).select(
        "doc_id",
        F.size("toks").cast("double").alias("n_tokens"),
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.filter(F.col("toks"), lambda t: t.isin(en)))
        .cast("double")
        .alias("stop_hits"),
    )
    n_tok = F.col("n_tokens")
    mean_tok_len = (F.col("n_chars") - (n_tok - 1)) / n_tok
    stop_ratio = F.col("stop_hits") / n_tok
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 8.0), 0.3).otherwise(0.0)
    )
    return d.select(
        "doc_id",
        "n_tokens",
        # output ratios are exact-integer 6dp (ratio6); score
        # keeps the raw-double formula (off-grid composite, sweep-netted)
        ratio6(F.col("n_chars") - (n_tok - 1), n_tok).alias("mean_token_len"),
        ratio6(F.col("stop_hits"), n_tok).alias("stopword_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-breaks: highest hit
    count wins, ties broken alphabetically; zero hits → 'unknown'.

    The argmax is a chained CASE (first lang that is >= all later ones, in
    alphabetical order) — the exact construction the oracle SQL mirrors.
    """
    d = with_tokens(docs)
    langs = sorted(LANG_STOPWORDS)
    for lang in langs:
        # NB: a 2-arg lambda (even via default args) selects filter's
        # (element, index) variant — build the predicate with expr instead.
        lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        d = d.withColumn(
            f"hits_{lang}", F.size(F.expr(f"filter(toks, x -> x IN ({lst}))"))
        )
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs[langs.index(lang) + 1 :]:
            c = F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang).otherwise(pred)
    any_hits = F.greatest(*[F.col(f"hits_{la}") for la in langs]) > 0
    return d.select(
        "doc_id",
        "lang",
        *[f"hits_{la}" for la in langs],
        F.when(any_hits, pred).otherwise("unknown").alias("pred_lang"),
    )


TFIDF_TOP_K = 3
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["spark", "hash", "join"]  # fixed demo query, sorted impl-side
BM25_TOP_K = 20


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Per-document TF-IDF top-k terms (sklearn-style smooth idf:
    ln((1+N)/(1+df)) + 1), ranked by rounded score then term.

    Shape at scale: one explode→(doc, term) count (map-side partial agg),
    one (term) df count off the same relation, then a broadcast-sized
    df/idf join back — raw text never shuffles, and the rank window runs
    per-doc on the already-aggregated counts. Ranking uses the ROUNDED
    score so ties break identically across engines.
    """
    tf = (
        with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
    scored = (
        tf.join(F.broadcast(df_rel), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str] | None = None,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) document ranking for a fixed query-term set —
    the retrieval scorer a data pipeline uses for corpus search / dedup
    triage. Top-k by rounded score, doc_id tie-break.

    Determinism across engines: each query term's contribution lands in its
    own column (conditional agg), and the final score is a FIXED
    left-to-right sum of the per-term columns — no distributed sum()
    whose accumulation order could differ at the ulp from the oracle's.
    Scale: explode→count partial agg, broadcast idf/avgdl scalars; the
    per-doc score needs no window at all, only a top-k sort.
    """
    terms = sorted(query_terms or BM25_QUERY_TERMS)
    toks = with_tokens(docs).select("doc_id", "toks")
    dl = toks.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = dl.select(
        F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n_docs")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                .cast("double")
                .alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    df_cols = [
        F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
        .cast("double")
        .alias(f"df_{i}")
        for i in range(len(terms))
    ]
    dfs = tf.select(*df_cols)
    scored = dl.join(tf, "doc_id", "inner").crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(dfs)
    )
    norm = BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    contribs = []
    for i in range(len(terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf_i = F.col(f"tf_{i}")
        contribs.append(idf * (tf_i * (BM25_K1 + 1.0)) / (tf_i + norm))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    top = (
        scored.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)  # TakeOrderedAndProject — distributed top-k, no global window
    )
    # Rank WITHOUT a window: an unpartitioned row_number
    # here — even over the bounded k-row input — makes WindowExec log its
    # "No Partition Defined" scale warning on every execution, and a
    # foldable partition key (lit(0)) gets optimized away in Spark 4, so
    # the warning storm masks real ones. TakeOrderedAndProject returns ONE
    # partition in total sort order (the orderBy is total: doc_id breaks
    # score ties), so monotonically_increasing_id on that single partition
    # is exactly 0..k-1 in rank order; coalesce(1) pins the single-
    # partition invariant should the physical strategy ever change.
    return top.coalesce(1).withColumn(
        "rank", (F.monotonically_increasing_id() + F.lit(1)).cast("long")
    )


RRF_K = 60  # the standard fusion constant (Cormack et al. 2009)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    the standard hybrid-retrieval combiner: given two ranked lists,
    score(d) = Σ 1/(rrf_k + rank_i(d)) over the lists containing d, take
    the top-k. Rank-based, so the legs' incomparable raw scores (BM25 vs
    cosine) never mix; a doc missing from one leg contributes 0 there.

    Scale shape: the legs are already top-k relations (bounded), so the
    full-outer join and the final TakeOrderedAndProject are k-row work —
    fusion cost is independent of corpus size. Output columns:
    (id, rank_a, rank_b, rrf_score), score rounded 6dp with id tie-break.
    """
    a = ranked_a.select(id_col, F.col("rank").alias("rank_a"))
    b = ranked_b.select(id_col, F.col("rank").alias("rank_b"))
    j = a.join(b, id_col, "full_outer")

    def contrib(c: str):
        return F.when(
            F.col(c).isNotNull(), 1.0 / (F.lit(float(rrf_k)) + F.col(c))
        ).otherwise(F.lit(0.0))

    return (
        j.select(
            id_col,
            "rank_a",
            "rank_b",
            F.round(contrib("rank_a") + contrib("rank_b"), 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: duplicate word-2-gram fraction and
    most-common-word fraction, plus the keep/drop gate
    (dup2_frac ≤ 0.4 AND mcw_frac ≤ 0.2).

    Runs entirely inside whole-stage codegen with higher-order array
    functions — no explode, no shuffle, one pass per row: the 2-gram list,
    its distinct count, and the per-distinct-token occurrence max are all
    computed on the row's own token array. At 100 TB this is a pure
    map-side gate (the cheapest possible corpus filter).
    """
    d = with_tokens(docs)
    grams = F.expr(
        "IF(size(toks) >= 2,"
        " transform(sequence(1, size(toks) - 1),"
        " i -> array_join(slice(toks, i, 2), ' ')),"
        " array())"
    )
    d = d.withColumn("grams", grams)
    n_tok = F.size("toks").cast("double")
    n_grams = F.size("grams").cast("double")
    dup2 = F.when(
        F.size("grams") > 0,
        ratio6(
            F.size("grams") - F.size(F.array_distinct("grams")),
            F.size("grams"),
        ),
    ).otherwise(0.0)
    mcw_hits = F.expr(
        "reduce(array_distinct(toks), 0,"
        " (acc, t) -> greatest(acc, size(filter(toks, x -> x = t))))"
    ).cast("double")
    mcw = F.when(
        F.size("toks") > 0, ratio6(mcw_hits, F.size("toks"))
    ).otherwise(0.0)
    out = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        dup2.alias("dup2_frac"),
        mcw.alias("mcw_frac"),
    )
    return out.withColumn(
        "keep", (F.col("dup2_frac") <= 0.4) & (F.col("mcw_frac") <= 0.2)
    )


def top_terms_per_lang(docs: DataFrame, k: int = 5) -> DataFrame:
    """Heavy-hitter terms: token frequencies per declared language, top-k by
    count (ties broken alphabetically).

    The classic explode→count→rank pattern: the token count gets map-side
    partial aggregation (the explode never shuffles raw text), and only the
    tiny per-language count relation reaches the rank window.
    """
    counts = (
        with_tokens(docs)
        .select("lang", F.explode("toks").alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("lang", "term", "n", "rank")
    )


# --- deduplication -----------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on content hash: keeper = min doc_id per md5(text)."""
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keeper_doc_id", "n_copies", F.col("h").alias("content_hash"))
    )


def colliding_pairs(
    keyed: DataFrame,
    on: str | list[str],
    id_col: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    *carry: str,
) -> DataFrame:
    """The symmetric candidate self-join every near-dup operator filters
    with: rows of ``keyed`` that agree on ``on`` (a shingle, a band key)
    pair up once as distinct ``(a, b)`` with ``a < b`` on ``id_col``. Each
    ``carry`` column rides along as ``<c>_a``/``<c>_b``. An equi-join on
    the bucket key, so the cost is the number of collisions, never the
    cross product."""

    def side(s: str, out: str) -> list[Column]:
        return [F.col(f"{s}.{id_col}").alias(out)] + [
            F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry
        ]

    return (
        keyed.alias("a")
        .join(keyed.alias("b"), on)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*side("a", a), *side("b", b))
        .distinct()
    )


def _shingle_overlap(
    cand: DataFrame, sa_src: DataFrame, sb_src: DataFrame
) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for candidate pairs: the shared
    shingle count and both shingle-set sizes. Every ``doc_a`` must have
    its shingles in ``sa_src`` and every ``doc_b`` in ``sb_src``; the
    symmetric callers pass one relation twice, the incremental probe its
    batch and corpus sides, so a batch never scans corpus-side shingles
    it cannot match."""
    sizes_a = sa_src.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sizes_b = sb_src.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sa_src.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sb_src.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return inter.join(
        sizes_a.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"),
        "doc_a",
    ).join(
        sizes_b.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"),
        "doc_b",
    )


def _jaccard_verify(
    cand: DataFrame, sa_src: DataFrame, sb_src: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the candidates whose exact 6dp shingle
    jaccard reaches ``threshold`` — the verify half of every
    filter-then-verify near-dup operator (sides as in
    :func:`_shingle_overlap`)."""
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        _shingle_overlap(cand, sa_src, sb_src)
        .withColumn("jaccard", ratio6(F.col("inter"), union))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def decontaminate_fuzzy(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """FUZZY decontamination: flag TRAIN documents that are
    NEAR-duplicates of TEST/benchmark documents — the LSH complement of
    :func:`decontaminate`'s exact n-gram scan (an eval document
    paraphrased or lightly edited into the corpus shares few exact
    8-grams but survives MinHash banding; real corpus builds run BOTH
    gates). Candidates come from the same banded signature join as
    ``dedup_minhash_lsh``; only cross-split collisions survive, verified
    with exact jaccard ≥ ``threshold``. The split is the deterministic
    md5 bucket of doc_id (shared with q_train_test_split), so which side
    a pair member belongs to is a pure expression — no extra join.

    Output per contaminated train doc: n_test_dups, max_jaccard.
    Scale shape: identical to the LSH dedup path (banded candidate
    equi-join, O(collisions)); the split predicate is map-side."""
    sh = _shingles_cached(docs)
    verified = _jaccard_verify(_minhash_band_candidates(sh), sh, sh, threshold)
    cross = verified.filter(_split_col("doc_a") != _split_col("doc_b")).select(
        F.when(_split_col("doc_a") == "train", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_doc_id"),
        "jaccard",
    )
    return cross.groupBy("train_doc_id").agg(
        F.count(F.lit(1)).alias("n_test_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )


def dedup_ngram_jaccard(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram-jaccard near-dup pairs (quadratic baseline): candidate
    pairs are docs sharing ≥1 shingle (self-join on shingle), then exact
    jaccard ≥ threshold.

    The shingle relation feeds the candidate self-join AND the verify pass
    (intersections + both size sides) — cache it once instead of re-exploding
    the corpus 4×; at 100 TB this is a materialized shingle table.
    """
    sh = _shingles_cached(docs)
    return _jaccard_verify(colliding_pairs(sh, "shingle"), sh, sh, threshold)


MINHASH_SEEDS = 12
MINHASH_BANDS = 6  # 6 bands × 2 rows


# Carter-Wegman prime for the (h1 + s·h2) mod P seed family: 2^61 − 1.
# h1 is 60-bit, h2 32-bit, s ≤ MINHASH_SEEDS−1 → h1 + s·h2 < 2^61, no
# BIGINT overflow in either engine.
MINHASH_CW_P = 2305843009213693951


def _minhash_from_shingles(sh: DataFrame) -> DataFrame:
    """Per-doc MinHash signature via ONE md5 per shingle + a Carter-Wegman
    seed family — h_s = (h1 + s·h2) mod P over two integer slices of the
    single digest (the textbook one-strong-hash construction). Hashing
    every shingle MINHASH_SEEDS times (12 md5s/row, string mins) made the
    sf0.1 signature stage ~4x slower than one digest + long arithmetic.
    DuckDB twin: minhash_sig_sql (the hex→int parse matches Spark's conv
    exactly)."""
    m = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 17, 8), 16, 10).cast("long")
    aggs = [
        F.min((h1 + F.lit(s) * h2) % F.lit(MINHASH_CW_P)).alias(f"h{s}")
        for s in range(MINHASH_SEEDS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def dedup_minhash_lsh(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → 12 minhashes → 6 bands of 2 →
    band-bucket equi-join for candidates → exact-jaccard verification.

    Candidate recall at j=0.7 is 1−(1−0.7²)⁴ ≈ 0.98 per the banding bound;
    verification removes false positives exactly. The shingle relation is
    cached: signatures, intersection, and size lookups all reuse one
    explode+distinct instead of recomputing it 4× (materialized at scale).
    """
    sh = _shingles_cached(docs)
    return _jaccard_verify(_minhash_band_candidates(sh), sh, sh, threshold)


def band_keys(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) rows from a shingle relation: MinHash
    signatures, then one md5 band key per band — the LSH index relation
    itself (what a production rollout persists)."""
    sig = _minhash_from_shingles(sh)
    r = MINHASH_SEEDS // MINHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)])
                ).alias("band_key"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    # eval_once: without the pin the inferred generator filter re-inlines
    # the 6-md5 band array twice more per signature row
    return sig.select("doc_id", eval_once(bands).alias("bands")).select(
        "doc_id", F.explode("bands").alias("bd")
    ).select("doc_id", "bd.band_idx", "bd.band_key")


def _band_keys_cached(sh: DataFrame) -> DataFrame:
    # The banded LSH index relation (doc_id, band_idx, band_key): five
    # operators (all-pairs LSH dedup, incremental probe, fuzzy
    # decontamination, containment screening, the LSH eval report) read it.
    # At 100 TB it is the persisted index, built once and appended to.
    return cached(
        sh.sparkSession,
        "bands",
        lambda: materialize(band_keys(sh)),
        sh,
    )


def _minhash_band_candidates(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from a shingle relation: signatures → band keys
    → band-bucket equi-join, distinct (doc_a < doc_b)."""
    return colliding_pairs(_band_keys_cached(sh), ["band_idx", "band_key"])


CONTAINMENT_THRESHOLD = 0.7


def dedup_minhash_containment(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Asymmetric CONTAINMENT screening over the banded candidates: for
    each LSH candidate pair, C(A⊆B) = |A∩B|/|A| and
    C(B⊆A) = |A∩B|/|B| alongside jaccard, kept when the larger direction
    reaches ``threshold`` — the doc-in-doc detector (a short document
    verbatim-embedded in a long one has containment ≈ 1 but jaccard ≈
    |A|/|B|, so a jaccard gate alone never sees it; cf. Broder's
    resemblance-vs-containment distinction).

    Candidates come from the SAME banded signature join as
    :func:`dedup_minhash_lsh` — banding recall follows JACCARD, so
    extreme size-ratio pairs can be missed at candidate time; a
    containment-complete production rollout additionally bands the
    shorter side's shingle subsets (divide-and-LSH), which multiplies
    candidate volume and is deliberately out of scope here. The oracle
    replays the identical banded pipeline, so the gate certifies the
    screening exactly as implemented. Threshold decisions are on
    6dp-rounded values in both engines."""
    sh = _shingles_cached(docs)
    inter, sz_a, sz_b = F.col("inter"), F.col("sz_a"), F.col("sz_b")
    scored = _shingle_overlap(_minhash_band_candidates(sh), sh, sh).select(
        "doc_a",
        "doc_b",
        ratio6(inter, sz_a).alias("containment_a_in_b"),
        ratio6(inter, sz_b).alias("containment_b_in_a"),
        ratio6(inter, sz_a + sz_b - inter).alias("jaccard"),
    )
    return scored.filter(
        F.greatest("containment_a_in_b", "containment_b_in_a") >= threshold
    )


# Deterministic ingest-batch membership for the incremental gate: docs with
# doc_id ≡ 7 (mod 10) play the "newly arrived batch"; the rest are the
# already-deduped corpus. A pure integer expression in both engines.
INCREMENTAL_BATCH_MOD = 10
INCREMENTAL_BATCH_REM = 7


def dedup_incremental_minhash(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash dedup: near-dedupe a
    NEW ingest batch against the EXISTING corpus without re-deduping the
    corpus against itself — the steady-state shape of a production corpus
    build, where the all-pairs pass (:func:`dedup_minhash_lsh`) runs once
    and every later ingest only PROBES. Ref parity: trading-etl's
    insert-skip idempotent append (src/etl/flows/transform_services.py
    save paths) is the exact-key version of this gate; banded probing is
    its corpus-scale near-dup extension.

    Candidates come from the same banded signature join as
    ``dedup_minhash_lsh``, restricted to batch-side × corpus-side
    collisions (the batch membership predicate is a pure map-side
    expression); exact-jaccard verification and a top-1-per-batch-doc
    election (highest jaccard, smallest corpus doc_id on ties, decisions
    on the 6dp-rounded value) give each new doc its single dup-of target.

    Scale: the corpus's (band_idx, band_key) relation IS the persisted
    index at 100 TB — written bucketed by band_key, built once, only
    appended to. A daily batch recomputes shingles/signatures for ITS docs
    alone (≪ corpus), and the probe join is batch-bands ⋈ index — Spark
    broadcasts the batch side when small (AQE decides from runtime size).
    Verification touches only the colliding corpus docs' shingles."""
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == INCREMENTAL_BATCH_REM
    sh = _shingles_cached(docs)
    doc_bands = _band_keys_cached(sh)
    return incremental_probe(
        doc_bands.filter(is_batch),
        doc_bands.filter(~is_batch),
        sh.filter(is_batch),
        sh.filter(~is_batch),
        threshold,
    )


def incremental_probe(
    batch_bands: DataFrame,
    corpus_bands: DataFrame,
    sh_batch: DataFrame,
    sh_corpus: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """The probe core shared by :func:`dedup_incremental_minhash` (split
    predicate on one relation) and the streaming ingest gate
    (streaming/docs.py — per-micro-batch bands vs a persisted corpus
    index): batch-side × corpus-side band collisions, exact-jaccard
    verification, and the top-1 dup-of election per batch doc (highest
    6dp-rounded jaccard, smallest corpus doc_id on ties).

    Shingles arrive SPLIT BY SIDE (both call sites already hold the two
    relations separately): every candidate's doc_a is batch-side and
    doc_b corpus-side by construction, so the union form made the sizes
    aggregation and both verify joins scan the WHOLE corpus shingle
    relation per call for rows that could never match. The corpus side is
    additionally pre-pruned to the colliding documents with a broadcast
    semi-join BEFORE any shuffle touches it (guide §3.2): the verify only
    ever references doc_b ∈ cand, and the semi-join keeps whole documents,
    so shingle counts — and therefore jaccard — are unchanged. The
    broadcast side is the DISTINCT colliding corpus doc-id list, bounded
    by the batch's collision fan-out under the operator's stated contract
    (batch ≪ corpus); a deployment probing batches that collide with most
    of the corpus is outside that contract and should run the all-pairs
    pass instead."""
    cand = (
        batch_bands.alias("a")
        .join(corpus_bands.alias("b"), ["band_idx", "band_key"])
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cand_docs = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    sb_src = sh_corpus.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    verified = _jaccard_verify(cand, sh_batch, sb_src, threshold)
    w = Window.partitionBy("doc_a").orderBy(F.col("jaccard").desc(), F.col("doc_b"))
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )


def lsh_eval_report(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Empirical quality report for the MinHash banding scheme — the eval
    harness a dedup rollout runs on a SAMPLE before trusting LSH on the
    full corpus: candidate-set precision (what fraction of band collisions
    survive exact-jaccard verification) and recall against the exact
    co-shingle baseline (what fraction of true ≥threshold pairs the bands
    surfaced; the theoretical banding bound made measurable).

    One row: (n_candidates, n_verified, n_exact, candidate_precision,
    recall). The exact side is :func:`dedup_ngram_jaccard`'s
    deliberately-quadratic candidate join — this is an evaluation
    baseline for sampled data, not a production path (the production path
    IS the LSH being evaluated). All three counts are 1-row aggregates
    cross-joined lazily; the cached shingle relation feeds every stage.
    Both ratios are NULL when their denominator is 0.
    """
    sh = _shingles_cached(docs)
    cand = _minhash_band_candidates(sh)
    verified = _jaccard_verify(cand, sh, sh, threshold)
    exact = _jaccard_verify(colliding_pairs(sh, "shingle"), sh, sh, threshold)
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    n_ex = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_verified = F.col("n_verified")
    return n_cand.crossJoin(n_ver).crossJoin(n_ex).select(
        "n_candidates",
        "n_verified",
        "n_exact",
        ratio6(n_verified, F.col("n_candidates")).alias("candidate_precision"),
        ratio6(n_verified, F.col("n_exact")).alias("recall"),
    )


SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 bands × 16 bits — candidates must agree on ≥1 whole band


# Bit j of a token is bit 31 - j % 32 of the j÷32-th 32-bit half of the
# first 16 hex digits of md5(token), i.e. bit 3 - j % 4 of hex digit j÷4.
_SIMHASH_FOLD_SQL = f"""concat_ws('', transform(
  aggregate(
    transform(transform(_t, t -> md5(t)), m -> array(
      cast(conv(substr(m, 1, 8), 16, 10) as bigint),
      cast(conv(substr(m, 9, 8), 16, 10) as bigint))),
    array_repeat(0, {SIMHASH_BITS}),
    (acc, h) -> transform(acc, (a, j) ->
      a + cast(shiftright(if(j < 32, h[0], h[1]), 31 - j % 32) & 1 as int))),
  c -> if(2 * c > size(_t), '1', '0')))"""


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit simhash over distinct tokens: bit j comes from hex digit
    j÷4 of md5(token) (bit 3−j%4), contributions ±1, sign → bit, i.e.
    '1' iff more than half of the document's distinct tokens set it.
    Documents with NULL text have no tokens and no row.

    One map-side fold, no shuffle: each document's distinct-token array
    is folded into 64 counters by ``aggregate`` in a single projection,
    where a per-(doc, token) explode and a ``groupBy`` of 64 sums would
    pay a shuffle and a 64-aggregate codegen that dominates a cold
    session. The fold is per-row work, so an under-split corpus is
    respread first: as one task it would run on one core.

    64 bits (vs a smaller hash) is the scale choice: it makes hamming ≤ 3 a
    tight near-dup threshold AND gives the banded candidate join 2¹⁶
    distinct band keys, so bucket collisions — and thus candidate-join
    fan-out — stay proportional to true near-dups, not corpus size."""
    toks = spread_if_underpartitioned(docs, docs, docs).filter(
        F.col("text").isNotNull()
    ).select("doc_id", F.array_distinct(F.split("text", " ")).alias("_t"))
    return toks.select("doc_id", F.expr(_SIMHASH_FOLD_SQL).alias("simhash"))


def _simhash_cached(docs: DataFrame) -> DataFrame:
    # The (doc_id, simhash) signature relation: dedup_simhash's banded
    # self-join references it twice per plan, and both CC canonicalization
    # queries derive their edge list from it.
    return cached(
        docs.sparkSession, "simhash", lambda: materialize(simhash(docs)), docs
    )


def _hamming64_sql(a: str, b: str) -> str:
    """Exact hamming distance between two 64-char '0'/'1' signature
    strings via integer XOR popcount: each differing character is
    exactly one differing bit of the 64-bit value the string spells, so
    bit_count(xor) over the two 32-bit halves equals the old 64-term
    substring-comparison sum — pinned equal on random signatures by
    tests/test_datapipe.py::test_hamming64_matches_per_char_compare.
    Why: the 64 substring compares were evaluated per CANDIDATE row
    (~2M rows at sf0.1, the dup-dense fixture), and predicate pushdown
    additionally slid the filter below the pair-DISTINCT, paying it on
    every pre-distinct collision; 4 conv calls + 2 xor/bit_count per row
    make the same decision ~40× cheaper per row."""
    def half(x: str, off: int) -> str:
        return f"cast(conv(substring({x}, {off}, 32), 2, 10) as bigint)"

    return (
        # cast the sum back to BIGINT: the old per-char form summed longs,
        # and the driver's value hash is type-sensitive
        f"cast(bit_count({half(a, 1)} ^ {half(b, 1)})"
        f" + bit_count({half(a, 33)} ^ {half(b, 33)}) as bigint)"
    )


def dedup_simhash(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature → 4 bands of 16 bits →
    band-bucket equi-join for candidates → exact hamming-distance verify.

    By pigeonhole, any pair within hamming ≤ 3 agrees exactly on ≥1 of the
    4 bands, so banding loses no true pair (unlike MinHash's probabilistic
    recall). The candidate join is an equi-join on (band_idx, band_bits) —
    shuffle keyed on 16-bit buckets, never the quadratic cross product; at
    100 TB the signature relation is tiny (one 64-char bit string per doc)
    and the bucket join is the only data movement.

    The signature relation is served from the session cache (otherwise
    both self-join sides re-derive the :func:`simhash` fold per call —
    the persisted signature table is exactly what a rollout probes), and
    the hamming verify is the integer XOR popcount form
    (:func:`_hamming64_sql`) instead of 64 substring compares per
    candidate row."""
    w = SIMHASH_BITS // SIMHASH_BANDS
    sh = _simhash_cached(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.substring("simhash", b * w + 1, w).alias("band_bits"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    db = sh.select(
        "doc_id", "simhash", eval_once(bands).alias("bd_arr")
    ).select("doc_id", "simhash", F.explode("bd_arr").alias("bd")).select(
        "doc_id", "simhash", "bd.band_idx", "bd.band_bits"
    )
    cand = colliding_pairs(
        db, ["band_idx", "band_bits"], "doc_id", "doc_a", "doc_b", "simhash"
    )
    ham = F.expr(_hamming64_sql("simhash_a", "simhash_b"))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


SPLIT_HEX_THRESHOLD = "e6"  # md5(doc_id) first-2-hex < 'e6' → train (≈89.8%)
CONTAM_SHINGLE_N = 8  # contamination n-gram size (8-grams, à la GPT-3/PaLM decontamination)


def _split_col(id_col: str = "doc_id") -> Column:
    """The deterministic train/test assignment shared with
    queries.datapipe.q_train_test_split — md5 hex-bucket of ``id_col``."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return F.when(h < SPLIT_HEX_THRESHOLD, "train").otherwise("test")


# Auto-broadcast bound for decontaminate: benchmark sets up to this many
# docs have shingle relations comfortably under executor broadcast budgets;
# anything larger falls back to a shuffle join.
DECONTAM_BROADCAST_MAX_TEST_DOCS = 10_000


def decontaminate(
    docs: DataFrame,
    n: int = CONTAM_SHINGLE_N,
    test_docs: DataFrame | None = None,
    broadcast_test: bool | None = None,
    test_docs_count: int | None = None,
    split_shingles: DataFrame | None = None,
) -> DataFrame:
    """Train/test decontamination: flag TRAIN documents sharing any token
    n-gram (n=8) with any TEST/benchmark document, with shared-shingle
    and test-doc counts — the eval-leak scan every pre-training corpus
    build runs before shipping.

    ``test_docs`` is the benchmark side (doc_id, text); when None, the
    deterministic 10% md5 hash-split of ``docs`` stands in (the gate
    fixture shape). Join strategy (an unconditional broadcast would, at
    100 TB, broadcast a 10 TB hash-split): ``broadcast_test=True/False``
    forces the path; ``test_docs_count`` is a catalog-style size hint compared against
    ``DECONTAM_BROADCAST_MAX_TEST_DOCS`` with no job. Construction is LAZY
    whenever either is given (asserted by
    tests/test_datapipe.py::test_decontaminate_lazy_construction).
    Only ``broadcast_test=None`` with no hint runs an EAGER sizing
    ``count()`` at query-construction time — documented surprise, kept as
    the zero-config default. Production benchmark sets are thousands of
    docs → broadcast, map-side probe, no shuffle touches the train corpus.
    A big test side → plain shuffle hash join on shingle.
    """
    if test_docs is None:
        sh = (
            split_shingles
            if split_shingles is not None
            else shingles(docs, n=n).withColumn("split", _split_col())
        )
        train = sh.filter(F.col("split") == "train").select("doc_id", "shingle")
        test = sh.filter(F.col("split") == "test").select(
            F.col("doc_id").alias("test_doc_id"), "shingle"
        )
        n_test = docs.withColumn("split", _split_col()).filter(
            F.col("split") == "test"
        )
    else:
        train = shingles(docs, n=n).select("doc_id", "shingle")
        test = shingles(test_docs, n=n).select(
            F.col("doc_id").alias("test_doc_id"), "shingle"
        )
        n_test = test_docs
    if broadcast_test is None:
        if test_docs_count is not None:
            broadcast_test = test_docs_count <= DECONTAM_BROADCAST_MAX_TEST_DOCS
        else:
            # Eager count at build time — stands in for catalog stats at
            # scale (same shape as the zorder bounds pass): a production
            # deployment passes test_docs_count from table stats /
            # AQE-observed sizes and takes no job here; the count is over
            # the (small, by contract) test split only, never the corpus.
            broadcast_test = n_test.count() <= DECONTAM_BROADCAST_MAX_TEST_DOCS
    return (
        train.join(F.broadcast(test) if broadcast_test else test, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("test_doc_id").alias("n_test_docs"),
        )
    )


DSIR_TARGET_SOURCE = "src0"
DSIR_SAMPLE_K = 30


def dsir_resample(
    docs: DataFrame,
    target_value: str = DSIR_TARGET_SOURCE,
    target_col: str = "source",
    k: int = DSIR_SAMPLE_K,
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    select raw-corpus documents that look like a TARGET domain by importance
    weight w(x) = p_target(x)/p_raw(x) under two cheap n-gram LMs, then
    sample by weight — the data-selection step that upgrades a web crawl
    toward a curated domain's distribution.

    Feature model: add-one-smoothed unigram LMs (the :func:`unigram_logprob`
    construction) trained on the target slice (``target_col == target_value``)
    and on the full raw corpus; per-doc log-ratio is the length-normalized
    (count-weighted mean) difference of token log-probs, weight =
    exp(log-ratio). Sampling is the same deterministic A-Res draw as
    :func:`weighted_sample` — u^(1/w) keys from md5(doc_id) — taken as a
    global top-k, so the result is reproducible and engine-independent
    (log-ratio and weight round to 6dp before use).

    Scale shape: reuses the de-skewed LM shape — the exploded tokens
    pre-aggregate to per-doc-distinct (doc_id, tok, cnt) before any
    token-keyed join; both LM vocabularies are token-keyed
    partial-combinable aggs; the (N, V) totals broadcast as 1-row
    relations; the final top-k is ``orderBy().limit(k)`` —
    TakeOrderedAndProject, per-partition heads then a k-row merge, never a
    global sort.
    """
    ex = with_tokens(docs).select("doc_id", F.explode("toks").alias("tok"))
    doc_tok = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    raw_vocab = doc_tok.groupBy("tok").agg(F.sum("cnt").alias("c_raw"))
    t_ids = docs.filter(F.col(target_col) == target_value).select("doc_id")
    t_vocab = (
        doc_tok.join(t_ids, "doc_id")  # no forced hint: AQE broadcasts a
        # small curated target at runtime; a corpus-scale target (e.g. all
        # of Wikipedia) correctly falls back to a shuffled join
        .groupBy("tok")
        .agg(F.sum("cnt").alias("c_t"))
    )
    tot_raw = raw_vocab.agg(
        F.sum("c_raw").alias("n_raw"), F.count(F.lit(1)).alias("v_raw")
    )
    tot_t = t_vocab.agg(F.sum("c_t").alias("n_t"), F.count(F.lit(1)).alias("v_t"))
    lp_t = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0) / (F.col("n_t") + F.col("v_t"))
    )
    lp_r = F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + F.col("v_raw")))
    # Per-token log-ratio quantized to BIGINT 1e-6 units before the doc
    # reduction (exact integer sum — order-independent), mean rounded by
    # signed integer division: the fixed-point discipline that closed the
    # margin-based ln()-sum class (see
    # unigram_logprob). exp/pow below stay per-row transcendentals on the
    # already-quantized 6dp value.
    q = F.floor((lp_t - lp_r) * F.lit(1000000.0) + F.lit(0.5))
    scored = (
        doc_tok.join(raw_vocab, "tok")
        .join(t_vocab, "tok", "left")
        .crossJoin(F.broadcast(tot_raw))
        .crossJoin(F.broadcast(tot_t))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * q).alias("_num"),
            F.sum("cnt").alias("_den"),
        )
        .withColumn("logratio", fixed6_mean_expr("_num", "_den"))
        .drop("_num", "_den")
    )
    key_expr = (
        f"round(power({hex32_unit_expr('samp_h')},"
        f" 1.0 / greatest(weight, 0.05)), 6)"
    )
    d = (
        scored.withColumn("weight", F.round(F.exp("logratio"), 6))
        .withColumn("samp_h", F.md5(F.col("doc_id").cast("string")))
        .withColumn("samp_key", F.expr(key_expr))
    )
    return (
        d.orderBy(F.desc("samp_key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "logratio", "weight", "samp_key")
    )


BLOOM_M_BITS = 1 << 20  # 128 KiB bitmap — ~1% fp at ~100k keys (m/n≈10, k=7)
BLOOM_K = 7

def _bloom_positions(h: Column, m_bits: int, k: int) -> Column:
    """The k probe positions of an int64 key column as one
    ``array<bigint>``, by Kirsch–Mitzenmacher double hashing:
    pos_i = (h1 + i·h2) mod m with h1 the low 32 bits of the key and h2
    the high 32 bits, forced odd so the stride cycles the full table.
    Both halves are read unsigned and every term stays below 2^36, so
    signed longs give the positions unsigned 64-bit arithmetic would."""
    h1 = h.bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = F.shiftrightunsigned(h, 32).bitwiseOR(F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i * h2, F.lit(m_bits)),
    )


def bloom_build(keys: DataFrame, key_col: str = "h", m_bits: int = BLOOM_M_BITS,
                k: int = BLOOM_K) -> bytes:
    """Distributed Bloom-filter build over an int64 key column, returned
    as the m/8 bitmap bytes (bit ``p`` is bit ``p & 7`` of byte
    ``p >> 3``). One partial-aggregable aggregate on the JVM: the
    positions are exploded and ``bit_or``-ed into their 64-bit word,
    keyed by word index ``p >> 6``, so the shuffle and the collect carry
    at most m/64 rows whatever the key count. Size ``m_bits`` (a multiple
    of 64) from catalog stats (~10 bits/key for ~1% fp)."""
    import numpy as np

    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")

    words = (
        keys.select(F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("p"))
        .groupBy(F.shiftright("p", 6).alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, p & 63)")).alias("bits"))
        .toArrow()
    )
    out = np.zeros(m_bits // 64, dtype="<i8")
    out[words.column("w").to_numpy()] = words.column("bits").to_numpy()
    return out.tobytes()


def bloom_probe(
    rel: DataFrame, key_col: str, bloom: bytes, m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """``rel`` with a boolean ``bloom_hit`` column: whether every probe
    position of the int64 ``key_col`` is set in ``bloom`` (never false for
    a built key). The bitmap's m/64 words are one ``array<bigint>`` row of
    an Arrow-backed relation, broadcast-cross-joined to ``rel``, so the
    probe runs map-side on the JVM."""
    import numpy as np

    words = local_relation(
        rel.sparkSession,
        [(np.frombuffer(bloom, dtype="<i8").tolist(),)],
        "_bloom_words array<bigint>",
    )
    is_set = F.forall(
        _bloom_positions(F.col(key_col), m_bits, k),
        lambda p: F.getbit(
            F.element_at("_bloom_words", F.shiftright(p, 6).cast("int") + 1),
            p.bitwiseAND(63).cast("int"),
        ) == 1,
    )
    return (
        rel.crossJoin(F.broadcast(words))
        .withColumn("bloom_hit", is_set)
        .drop("_bloom_words")
    )


def _bloom_cached(
    test: DataFrame, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> bytes:
    """The decontamination bitmap through the session cache, keyed per
    (test-relation plan, sizing): it is the persisted filter artifact
    of a decontamination rollout — built once per eval-set release, probed
    by every ingest — and rebuilding it per query call re-paid a full
    test-side scan for bytes that cannot change under the same test
    relation. bench.py's bloom_build_cold line clears this
    cache and times the build alone, keeping the moved cost measured."""
    return cached(
        test.sparkSession,
        "bloom",
        lambda: bloom_build(
            test.select(F.xxhash64("shingle").alias("h")), "h", m_bits, k
        ),
        test,
        m_bits,
        k,
    )


def decontaminate_bloom(
    docs: DataFrame,
    n: int = CONTAM_SHINGLE_N,
    test_docs: DataFrame | None = None,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    split_shingles: DataFrame | None = None,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter runtime prefilter — the
    scale path for the regime where the TEST side is too big to broadcast
    raw shingles but its HASHES fit a fixed-size bitmap (10M shingles ≈
    12.5 MB at 10 bits/key, vs GBs of strings).

    Two-phase, like every runtime filter (cf. Spark's AQE
    ``runtime.bloomFilter``): (1) build the bitmap over the test side's
    ``xxhash64(shingle)`` (:func:`bloom_build`, one aggregate at
    construction time — the documented eager step); (2) probe the TRAIN
    shingle relation map-side with the broadcast bitmap
    (:func:`bloom_probe`), so the shuffle into the confirm join carries
    only true matches + the ~1% false-positive tail instead of the full
    train shingle relation — at 100 TB that shuffle is the pipeline's
    biggest exchange. The exact confirm join then kills the false
    positives, so the result is IDENTICAL to :func:`decontaminate` (no
    false negatives by construction) and shares its oracle. Build and
    probe are JVM expressions, so neither starts a Python worker.
    """
    if test_docs is None:
        sh = (
            split_shingles
            if split_shingles is not None
            else shingles(docs, n=n).withColumn("split", _split_col())
        )
        train = sh.filter(F.col("split") == "train").select("doc_id", "shingle")
        test = sh.filter(F.col("split") == "test").select(
            F.col("doc_id").alias("test_doc_id"), "shingle"
        )
    else:
        train = shingles(docs, n=n).select("doc_id", "shingle")
        test = shingles(test_docs, n=n).select(
            F.col("doc_id").alias("test_doc_id"), "shingle"
        )
    # no .distinct() before the build: bitmap insertion is idempotent, so
    # deduping the hashes would only add a full shuffle of the hashes in
    # front of the word aggregate, whose own shuffle is at most m/64 rows
    # per partition.
    candidates = (
        bloom_probe(
            train.withColumn("h", F.xxhash64("shingle")), "h",
            _bloom_cached(test, m_bits, k), m_bits, k,
        )
        .filter("bloom_hit")
        .drop("h", "bloom_hit")
    )
    return (
        candidates.join(test, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("test_doc_id").alias("n_test_docs"),
        )
    )


PASSAGE_TOKENS = 16


def passage_dedup(docs: DataFrame, p: int = PASSAGE_TOKENS) -> DataFrame:
    """Passage-level duplication profile: split each document into fixed
    p-token passages (last one ragged), hash each, and report per document
    how many of its passages also occur in ANOTHER document — the
    sub-document dedup signal (boilerplate headers, quoted blocks) that
    whole-document hashing misses.

    Scale shape: passages are hashed map-side inside codegen (higher-order
    ``transform`` over the token array — raw text never shuffles); the
    only shuffled relation is (doc_id, 32-char passage hash). One hash-agg
    counts distinct docs per hash, one hash-join brings the dup flag back,
    one hash-agg folds to per-doc stats — all keyed joins, no windows.
    """
    d = with_tokens(docs)
    hashes = F.expr(
        f"transform(sequence(0, (size(toks) - 1) div {p}),"
        f" i -> md5(array_join(slice(toks, i * {p} + 1, {p}), ' ')))"
    )
    ps = d.select("doc_id", F.posexplode(hashes).alias("pos", "ph"))
    dup = ps.groupBy("ph").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        ps.join(dup, "ph")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_passages"),
        )
        .withColumn(
            "dup_frac", ratio6(F.col("n_dup_passages"), F.col("n_passages"))
        )
    )


EXSUB_K = 8          # detection shingle width (tokens)
EXSUB_MIN_TOKENS = 16  # minimum duplicated span length to report


def _positions_cached(docs: DataFrame, k: int) -> DataFrame:
    # The positional shingle-hash relation (doc_id, pos, h): the span
    # finder and the span stripper each reference it twice per query (the
    # dup/first-occurrence agg side and the join-back probe side), and the
    # tokenize→posexplode→xxhash64 map stage is the family's most expensive.
    def build():
        pos_hashes = F.expr(
            f"IF(size(toks) >= {k},"
            f" transform(sequence(1, size(toks) - {k - 1}),"
            f" i -> xxhash64(array_join(slice(toks, i, {k}), ' '))),"
            f" array())"
        )
        return materialize(
            with_tokens(docs)
            .select("doc_id", F.posexplode(pos_hashes).alias("idx", "h"))
            .select(
                "doc_id", (F.col("idx") + 1).cast("long").alias("pos"), "h"
            )
        )

    return cached(docs.sparkSession, "positions", build, docs, k)


def exact_substring_spans(
    docs: DataFrame, k: int = EXSUB_K, min_tokens: int = EXSUB_MIN_TOKENS
) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for each document, the
    maximal token spans of length ≥ ``min_tokens`` that appear VERBATIM in
    at least one other document — the long-exact-overlap family the
    n-gram/minhash near-dup paths don't localize (they score documents;
    this finds the shared spans themselves, the paper's unit of removal).

    The paper builds a corpus-wide suffix array; the distributed
    equivalent here is rolling k-token shingles with POSITIONS kept,
    cross-doc duplicate marking, and adjacent-position stitching:

    1. map-side: every position i of every doc emits (doc_id, i,
       xxhash64 of the k-token shingle at i) — raw text never shuffles;
    2. one hash-agg on the shingle hash marks hashes seen in ≥2 distinct
       docs via ``min(doc_id) != max(doc_id)`` — the same decision as a
       distinct-count ≥ 2 but with constant-size partial aggregates (a
       countDistinct would carry per-hash doc-id sets through the
       shuffle); the hash join back is key-co-partitioned;
    3. per doc, consecutive duplicated positions stitch into maximal
       islands (pos − row_number() over the doc-partitioned window): a
       duplicated span of L tokens is exactly an island of L−k+1
       consecutive duplicated positions, so ``n_tokens`` is EXACT, not a
       shingle-count approximation.

    Equivalence: a span of length ≥ k is shared verbatim between two docs
    iff ALL of its k-shingles are shared, so detection at granularity k is
    lossless for spans ≥ ``min_tokens`` ≥ k. One documented relaxation vs
    a true suffix array: a stitched island certifies every k-window in the
    span is shared with SOME other document, not that one single document
    shares the whole span (the chimera case — two sources each share half,
    overlapping ≥ k−1 tokens). For dedup-removal purposes (the paper's
    use) every reported token still sits inside a ≥k-token verbatim
    cross-doc overlap. Planted-overlap exactness is pinned by
    tests/test_datapipe.py::test_exact_substring_planted_overlap.

    Scale shape: the positions relation is ~one compact (doc_id, pos,
    hash) row per corpus token — two key shuffles total (dup-mark on hash,
    stitch on doc_id); the per-doc window partitions on doc_id, bounded by
    document length. Output: (doc_id, start_pos, end_pos, n_tokens),
    1-indexed inclusive token positions.
    """
    pos = _positions_cached(docs, k)
    dup = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    marked = pos.join(dup, "h")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn("isl", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(k - 1)).alias("end_pos"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
        .select("doc_id", "start_pos", "end_pos", "n_tokens")
    )


def strip_duplicate_spans(
    docs: DataFrame, k: int = EXSUB_K, min_tokens: int = EXSUB_MIN_TOKENS
) -> DataFrame:
    """APPLY exact-substring dedup (the removal step of Lee et al. 2022 —
    :func:`exact_substring_spans` finds spans; this strips them): delete
    every duplicated span of ≥ ``min_tokens`` tokens while KEEPING the
    first occurrence. Occurrence policy is window-level and total-ordered:
    for each k-token window the minimal (doc_id, pos) occurrence is the
    keeper; non-first occurrences stitch into islands exactly like the
    span finder (so within-doc repetitions are removed too, which the
    count-distinct-docs span finder deliberately ignores).

    Output one row per document: token counts before/removed/after and
    the md5 of the cleaned (space-rejoined) text — a fully-deduplicated
    document can come back empty (md5 of ''). Scale shape: the first-
    occurrence pick is a partial-aggregable ``min(struct(doc, pos))``
    hash-agg (never a per-hash window — hot shingles would skew it), span
    expansion is bounded by document length, and the token re-assembly is
    one doc-keyed agg; raw text never shuffles, only (doc, pos, token)
    rows do.
    """
    toked = with_tokens(docs)
    pos = _positions_cached(docs, k)
    first = pos.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("f"))
    marked = (
        pos.join(first, "h")
        .filter(
            (F.col("doc_id") != F.col("f.doc_id")) | (F.col("pos") != F.col("f.pos"))
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        marked.withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(k - 1)).alias("end_pos"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
    )
    rem = spans.select(
        "doc_id", F.explode(F.sequence("start_pos", "end_pos")).alias("pos")
    ).distinct()
    tok_pos = toked.select(
        "doc_id", F.posexplode("toks").alias("idx", "tok")
    ).select("doc_id", (F.col("idx") + 1).cast("long").alias("pos"), "tok")
    cleaned = (
        tok_pos.join(rem, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_after"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
    )
    empty_md5 = hashlib.md5(b"").hexdigest()
    return (
        toked.select("doc_id", F.size("toks").cast("long").alias("n_tokens_before"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            (
                F.col("n_tokens_before") - F.coalesce("n_tokens_after", F.lit(0))
            ).alias("n_tokens_removed"),
            F.coalesce("n_tokens_after", F.lit(0)).alias("n_tokens_after"),
            F.coalesce("cleaned_md5", F.lit(empty_md5)).alias("cleaned_md5"),
        )
    )


BPE_MERGES = 12


def bpe_train(
    docs: DataFrame, n_merges: int = BPE_MERGES, fitted=None
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    tokenizer-construction step of a training-data pipeline, distributed:
    learn the ``n_merges`` highest-count adjacent-symbol merges over the
    corpus word distribution, character-level start, counts weighted by
    word frequency. Ties break deterministically on (count DESC, left
    ASC, right ASC) so both engines pick the identical merge.

    Iterative like kmeans/CC — the standard driver-loop shape: each round
    one map-side pair extraction (``transform`` over the symbol array, no
    window), one partial-aggregable hash-agg of pair counts keyed on the
    pair, and a 1-ROW collect of the argmax (the bounded driver traffic,
    k×1 rows total); the merge then applies MAP-SIDE via a codegen
    ``aggregate`` fold over each word's symbol array (leftmost-greedy,
    Sennrich's semantics), and ``localCheckpoint`` truncates lineage per
    round. The working relation is the DISTINCT-WORD vocabulary (not the
    corpus): at 100 TB the corpus collapses to (word, count) in one
    initial shuffle and every round touches only |vocab| rows.

    Returns one row per learned merge: (merge_rank, left, right, merged,
    pair_count). Oracle: the identical fixed-iteration trajectory as
    chained CTEs — the merge application's relational twin marks adjacent
    pairs and keeps odd positions within each marked run (equivalent to
    the leftmost-greedy fold; runs longer than 1 only occur for
    left == right), verified by tests/test_datapipe.py against a pure
    Python reference. ``fitted`` short-circuits with a shared
    :func:`_bpe_fit` result (the query layer's train-once cache)."""
    merges, _ = fitted if fitted is not None else _bpe_fit(docs, n_merges)
    return local_relation(
        docs.sparkSession,
        merges,
        "merge_rank int, left string, right string, merged string, pair_count bigint",
    )


def bpe_encode_stats(
    docs: DataFrame, n_merges: int = BPE_MERGES, fitted=None
) -> DataFrame:
    """Apply the learned BPE merges back to the corpus: per document, the
    whitespace token count, the BPE symbol count under the trained
    vocabulary, and their ratio — the tokenizer-evaluation metric
    (fertility: BPE tokens per word) a pipeline computes before freezing a
    tokenizer. Encoding is the same vocabulary-relation fold the training
    loop uses, so the per-word final sequences are BY CONSTRUCTION the
    trained state; the corpus side then just re-joins words to their
    encoded length — one key join + one doc-keyed hash-agg, the corpus
    never carries symbol arrays. ``fitted`` short-circuits with a shared
    :func:`_bpe_fit` result (queries/datapipe._bpe_fitted is the
    train-once cache; without it the fit reruns its bounded driver loop
    per call)."""
    _, final_words = fitted if fitted is not None else _bpe_fit(docs, n_merges)
    toks = (
        with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("w"))
        .filter(F.length("w") > 0)
    )
    enc = final_words.select("w", F.size("seq").alias("_bpe_len"))
    return (
        toks.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ws_tokens"),
            F.sum("_bpe_len").alias("n_bpe_tokens"),
        )
        .withColumn(
            "bpe_tokens_per_word",
            ratio6(F.col("n_bpe_tokens"), F.col("n_ws_tokens")),
        )
    )


def _bpe_fit(docs: DataFrame, n_merges: int):
    """Shared BPE fit loop: returns (merge tuples, final (w, cnt, seq)
    vocabulary relation after all merges applied)."""
    words = (
        with_tokens(docs)
        .select(F.explode("toks").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("seq", F.expr("regexp_extract_all(w, '.', 0)"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, n_merges + 1):
        pairs = (
            words.select(
                "cnt",
                F.explode(
                    F.expr(
                        "IF(size(seq) >= 2,"
                        " transform(sequence(1, size(seq) - 1),"
                        " i -> struct(seq[i - 1] AS a, seq[i] AS b)),"
                        " array())"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((k, a, b, a + b, c))
        # leftmost-greedy merge fold: if the accumulator's last symbol is
        # `a` and the current symbol is `b`, replace the tail with the
        # merged symbol; pure codegen, no Python. Built with the Column
        # API (F.lit for the learned symbols) rather than an expr string,
        # so arbitrary symbols — quotes, backslashes — can never break or
        # inject into the expression.
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

        def _fold(acc: F.Column, x: F.Column) -> F.Column:
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (x == lb)
            )
            return F.when(
                hit,
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lab)),
            ).otherwise(F.concat(acc, F.array(x)))

        words = words.withColumn(
            "seq",
            F.aggregate(
                "seq", F.array().cast("array<string>"), _fold
            ),
        ).localCheckpoint()
    return merges, words


# --- DuckDB oracle fragments -------------------------------------------------

DOCS_TOKS_SQL = """
toks AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS t
  FROM documents
)
""".strip()

SHINGLES_SQL = f"""
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{SHINGLE_N - 1}], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - {SHINGLE_N - 1}, 0))) AS g(i)
)
""".strip()


def bm25_sql() -> str:
    """DuckDB oracle twin of :func:`bm25_scores`. Float-constant hygiene:
    every derived constant (k1+1, 1−b) is embedded via Python ``repr`` so
    DuckDB parses back the exact double the Spark expression folded to;
    all arithmetic keeps the Spark expression's association order."""
    terms = sorted(BM25_QUERY_TERMS)
    k1, b = repr(BM25_K1), repr(BM25_B)
    k1p1 = repr(BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - BM25_B)
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ",\n         ".join(
        f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)::DOUBLE AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_{i}"
        for i in range(len(terms))
    )
    norm = f"({k1} * ({one_minus_b} + {b} * d.dl / avgdl))"
    contribs = [
        f"ln(1.0::DOUBLE + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * {k1p1}) / (tf_{i} + {norm})"
        for i in range(len(terms))
    ]
    score = " + ".join(contribs)
    return f"""
dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n_docs FROM dl),
tf AS (
  SELECT doc_id,
         {tf_cols}
  FROM toks, unnest(t) AS u(term)
  WHERE term IN ({in_list})
  GROUP BY doc_id
),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (
  SELECT d.doc_id, round({score}, 6) AS score
  FROM dl d JOIN tf USING (doc_id), stats, dfs
)
SELECT doc_id, score, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM scored
) WHERE rank <= {BM25_TOP_K}
""".strip()


def minhash_sig_sql() -> str:
    """DuckDB twin of _minhash_from_shingles: one md5 per shingle, the
    same (h1 + s·h2) mod P seed family over the same digest slices."""
    aggs = ",\n         ".join(
        f"min((h1 + {s} * h2) % {MINHASH_CW_P}) AS h{s}"
        for s in range(MINHASH_SEEDS)
    )
    return (
        "sliced AS (\n"
        "  SELECT doc_id,\n"
        "         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,\n"
        "         ('0x' || substr(md5(shingle), 17, 8))::BIGINT AS h2\n"
        "  FROM shingles\n"
        "),\n"
        f"sig AS (\n  SELECT doc_id,\n         {aggs}\n  FROM sliced GROUP BY doc_id\n)"
    )


def band_sql() -> str:
    r = MINHASH_SEEDS // MINHASH_BANDS
    sep = " || '|' || "
    selects = []
    for b in range(MINHASH_BANDS):
        cols = sep.join(f"h{b * r + j}" for j in range(r))
        selects.append(
            f"  SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_key FROM sig"
        )
    body = "\n  UNION ALL\n".join(selects)
    return f"doc_bands AS (\n{body}\n)"


BAND_CAND_SQL = """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM doc_bands a
  JOIN doc_bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
""".strip()

JACCARD_VERIFY_SQL = """
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b,
         ((2000000 * i.i + (sa.sz + sb.sz - i.i))
          // (2 * (sa.sz + sb.sz - i.i))) / 1000000.0 AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
""".strip()


def write_training_shards(
    packed_docs: DataFrame, docs: DataFrame, path: str
) -> DataFrame:
    """Materialize the packed corpus as the training-data DELIVERY
    artifact: text joined back onto the shard plan, written partitioned
    by ``shard_id`` (one directory per shard — the unit a data loader
    streams), plus a returned manifest relation (shard_id, n_docs,
    n_tokens, min/max token_offset) the training job uses for sizing,
    sharding across workers, and resume bookkeeping.

    Scale shape: one key join (plan ⟕ text, both sides keyed doc_id) and
    a partitioned write — ``partitionBy`` routes rows by shard in the
    write tasks, no extra shuffle beyond the join; the manifest is a
    |shards|-row hash-agg over the (already small) plan relation. The
    join is LEFT so every planned row is written even if its text is
    missing from ``docs`` (the row lands with NULL text — visible to the
    loader) — with an inner join a plan/docs mismatch would silently
    shrink the files while the plan-derived manifest still counted the
    missing docs, inverting the "manifest mismatch ⇒ failed write"
    guarantee this function exists to provide.
    """
    plan = packed_docs.select("doc_id", "n_tokens", "shard_id", "token_offset")
    (
        plan.join(docs.select("doc_id", "text"), "doc_id", "left")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    return plan.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("token_offset").alias("first_token_offset"),
        F.max("token_offset").alias("last_token_offset"),
    )
