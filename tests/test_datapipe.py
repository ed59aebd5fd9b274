"""LLM-data-pipeline operators (dedup / similarity / text analysis) on
hand-built document and embedding frames with known-by-construction answers."""

import math

import pytest

from pyspark.sql import functions as F

from trading_etl_spark.operators import similarity as sim
from trading_etl_spark.operators import text as tx

DOC_SCHEMA = "doc_id long, text string, lang string"


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog", "en"),  # near dup of 0
        (3, "el perro y el gato que corren de la casa", "es"),
        (4, "completely different words entirely here now", "en"),
        (5, "hi", "en"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_shingles_short_doc_empty(spark):
    sh = tx.shingles(_docs(spark)).filter(F.col("doc_id") == 5)
    assert sh.count() == 0


def test_dedup_exact_first_wins(spark):
    out = {r["content_hash"]: r for r in tx.dedup_exact(_docs(spark)).collect()}
    dup = [r for r in out.values() if r["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_doc_id"] == 0
    assert sum(r["n_copies"] for r in out.values()) == 6


def test_ngram_jaccard_pairs(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in tx.dedup_ngram_jaccard(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs
    # doc 2 differs in 1 of 9 tokens → 2 of 7 shingles changed: j = 5/9
    assert math.isclose(pairs[(0, 2)], round(5 / 9, 6), abs_tol=1e-6)
    raised = tx.dedup_ngram_jaccard(_docs(spark), threshold=0.6).collect()
    assert (0, 2) not in {(r["doc_a"], r["doc_b"]) for r in raised}


def test_minhash_lsh_finds_exact_dup(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in tx.dedup_minhash_lsh(_docs(spark), threshold=0.5).collect()
    }
    # identical docs share every band → always a candidate; jaccard exact
    assert pairs[(0, 1)] == 1.0
    # verification step guarantees no false positives below threshold
    assert all(j >= 0.5 for j in pairs.values())


def test_simhash_identical_docs_same_signature(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in tx.simhash(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == tx.SIMHASH_BITS and set(sigs[0]) <= {"0", "1"}
    assert sigs[0] != sigs[4]


def _brute_simhash(text):
    """Simhash by definition: md5 of each distinct token, bit j from hex
    digit j÷4 (bit 3−j%4), '1' iff more than half the tokens set it."""
    import hashlib

    toks = set(text.split(" "))
    digests = [hashlib.md5(t.encode()).hexdigest() for t in toks]
    ones = [
        sum((int(d[j // 4], 16) >> (3 - j % 4)) & 1 for d in digests)
        for j in range(tx.SIMHASH_BITS)
    ]
    return "".join("1" if 2 * c > len(toks) else "0" for c in ones), ones


def test_simhash_fold_matches_brute_force(spark):
    texts = {
        0: "",  # one empty token
        1: "a  b",  # double space: the empty token between a and b
        2: "x x x y",  # repeated tokens count once
        3: "solo",
        4: "日本語 ünï çø",
        5: "p q",  # two tokens: every 1-of-2 bit is a tie
        6: None,  # no tokens, no row
    }
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in texts.items()], DOC_SCHEMA
    )
    got = {r["doc_id"]: r["simhash"] for r in tx.simhash(docs).collect()}
    want = {i: _brute_simhash(t)[0] for i, t in texts.items() if t is not None}
    assert got == want
    # the even-n case really has a tie, and a tie is '0'
    sig, ones = _brute_simhash(texts[5])
    ties = [j for j, c in enumerate(ones) if c == 1]
    assert ties and all(sig[j] == "0" for j in ties)


def test_simhash_plan_is_one_map_side_fold(spark):
    """The signature is a projection over the respread documents: no
    aggregate and no keyed shuffle, only the round-robin respread of a
    one-split corpus."""
    docs = _docs(spark).coalesce(1)
    sig = tx.simhash(docs)
    sig.collect()
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "RoundRobinPartitioning" in plan, plan


def test_cms_cell_expr_spark_matches_portable(spark):
    """r18: the Spark-side one-md5 conv cell index must equal the
    engine-portable instr-sum form (the one the DuckDB oracle replays)
    for every hash row on random-ish tokens — the provable-equivalence
    pin for the CMS hash rewrite (Σ digit·16^(8−i) IS the base-16 value
    conv parses)."""
    from pyspark.sql import functions as F

    toks = [(f"tok{i}",) for i in range(500)] + [("",), ("a",), ("日本語",)]
    df = spark.createDataFrame(toks, "tok string")
    for row in range(tx.CMS_DEPTH):
        bad = df.filter(
            F.expr(tx._cms_cell_expr("tok", row, tx.CMS_WIDTH))
            != F.expr(tx._cms_cell_expr_spark("tok", row, tx.CMS_WIDTH))
        ).count()
        assert bad == 0, f"row {row}: conv form diverges from instr form"


def test_hamming64_matches_per_char_compare(spark):
    """r18: the integer XOR-popcount hamming (_hamming64_sql) must equal
    the r17 per-character comparison sum on random 64-bit signature
    strings — the provable-equivalence pin for the dedup_simhash verify
    rewrite (each differing '0'/'1' char is exactly one differing bit)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    rows = []
    for i in range(200):
        a = "".join(rng.choice("01") for _ in range(tx.SIMHASH_BITS))
        # half the pairs: near-duplicates of a (flip 0-5 bits), half random
        if i % 2:
            b = list(a)
            for j in rng.sample(range(tx.SIMHASH_BITS), rng.randint(0, 5)):
                b[j] = "1" if b[j] == "0" else "0"
            b = "".join(b)
        else:
            b = "".join(rng.choice("01") for _ in range(tx.SIMHASH_BITS))
        rows.append((a, b))
    df = spark.createDataFrame(rows, "sim_a string, sim_b string")
    old = sum(
        (F.substring("sim_a", j + 1, 1) != F.substring("sim_b", j + 1, 1)).cast("long")
        for j in range(tx.SIMHASH_BITS)
    )
    got = df.select(
        F.expr(tx._hamming64_sql("sim_a", "sim_b")).alias("new"),
        old.alias("old"),
    )
    assert got.filter("new != old OR new IS NULL").count() == 0
    # type contract: the driver's value hash is type-sensitive
    assert dict(got.dtypes)["new"] == "bigint"


def test_dedup_simhash_bands_lossless_for_near_dups(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in tx.dedup_simhash(_docs(spark), max_hamming=3).collect()
    }
    # identical docs: hamming 0, and banding can never lose a ≤3-bit pair
    # (pigeonhole: 4 bands, ≤3 differing bits → ≥1 band agrees exactly)
    assert pairs[(0, 1)] == 0
    assert all(h <= 3 for h in pairs.values())
    # unrelated docs (0 vs 4) must not appear at a tight threshold
    assert (0, 4) not in pairs


def test_token_count_and_fingerprint(spark):
    tc = {r["doc_id"]: r for r in tx.token_count(_docs(spark)).collect()}
    assert tc[0]["n_tokens"] == 9
    assert tc[5]["n_tokens"] == 1
    fp = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprint(_docs(spark)).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_lang_id_heuristic(spark):
    out = {r["doc_id"]: r for r in tx.lang_id(_docs(spark)).collect()}
    assert out[0]["pred_lang"] == "en"  # 'the' ×2, 'over'… en hits dominate
    assert out[3]["pred_lang"] == "es"
    assert out[5]["pred_lang"] == "unknown"  # zero stopword hits


def test_quality_score_bounds(spark):
    for r in tx.quality_score(_docs(spark)).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_tokens"] > 0


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0], 0),
        (2, [1.0, 1.0, 0.0], 0),
        (3, [0.9, 0.1, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA).withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )


def test_knn_bruteforce_exact_neighbors(spark):
    out = sim.knn_bruteforce(_emb(spark), k=2, n_queries=1).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # cos(e0, v3)=0.9939 > cos(e0, v2)=0.7071 > others
    assert ranked == [3, 2]
    sims = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert math.isclose(sims[2], round(1 / math.sqrt(2), 6), abs_tol=1e-6)


def test_knn_ivf_prunes_to_cell(spark):
    out = sim.knn_ivf(_emb(spark), k=2, n_queries=1).collect()
    # query 0 is in cell 0 → only neighbors 1 and 2 are reachable
    assert {r["neighbor_id"] for r in out} == {1, 2}
    top = min(out, key=lambda r: r["rank"])
    assert top["neighbor_id"] == 2  # best same-cell neighbor


def test_knn_split_probe_runs_once_per_relation(spark, monkeypatch, tmp_path):
    """The brute-force family spreads an under-split corpus scan; its split
    count is the cached split probe, so a second call on the same
    embeddings, through a fresh handle, does not plan the scan again to
    count its splits."""
    from trading_etl_spark import cache

    _emb(spark).drop("emb").write.parquet(str(tmp_path / "embeddings.parquet"))
    cache.clear(spark, "splits")
    probes = []
    cls = type(_emb(spark))
    rdd = cls.__dict__["rdd"]  # a cached_property: one plan per handle
    monkeypatch.setattr(
        cls, "rdd", property(lambda df: probes.append(1) or rdd.func(df))
    )
    for _ in range(2):
        sim.knn_bruteforce(sim.load_embeddings(spark, str(tmp_path)))
    assert len(probes) == 1


# every vector is the same, so every candidate ties at cosine 1.0 (and at
# one ADC score): each operator's top-3 must be its 3 lowest candidate ids,
# ranks 1..3. Labels carve the candidate sets: query 0 has label 0.
_TIE_LABELS = [0, 1, 2, 1, 0, 2, 1, 0, 1, 0, 2, 1]
_TIE_CASES = {
    "knn_bruteforce": (lambda e: sim.knn_bruteforce(e, n_queries=1), [1, 2, 3]),
    # label-2 candidates only
    "knn_filtered": (lambda e: sim.knn_filtered(e, n_queries=1, label=2), [2, 5, 10]),
    # different-label candidates; same-label 4, 7, 9 give positive_sim
    "hard_negatives": (lambda e: sim.hard_negatives(e, n_queries=1), [1, 2, 3]),
    "knn_matryoshka": (
        lambda e: sim.knn_matryoshka(e, n_queries=1, prefix_dim=4), [1, 2, 3]
    ),
    # the query's own label cell
    "knn_ivf": (lambda e: sim.knn_ivf(e, n_queries=1), [4, 7, 9]),
    # every label centroid ties too: the probe takes cells 0 and 1
    "knn_ivf_multiprobe": (
        lambda e: sim.knn_ivf_multiprobe(e, n_queries=1, nprobe=2), [1, 3, 4]
    ),
    "knn_ivf_kmeans": (
        lambda e: sim.knn_ivf_kmeans(e, n_queries=1, n_cells=2, iters=1), [1, 2, 3]
    ),
    "knn_pq_adc": (
        lambda e: sim.knn_pq_adc(e, n_queries=1, m=2, n_cells=2, iters=1, dim=8),
        [1, 2, 3],
    ),
    "knn_ivfadc": (
        lambda e: sim.knn_ivfadc(
            e, n_queries=1, n_coarse=2, coarse_iters=1, m=2, pq_k=2, pq_iters=1, dim=8
        ),
        [1, 2, 3],
    ),
}


@pytest.mark.parametrize("op", sorted(_TIE_CASES))
def test_knn_ties_rank_by_lowest_neighbor_id(spark, op):
    vec = [0.5, 0.25, -0.125, 0.75, 0.0, 0.5, -0.25, 0.125]
    emb = spark.createDataFrame(
        [(i, vec, label) for i, label in enumerate(_TIE_LABELS)],
        "vec_id long, emb array<double>, label int",
    )
    run, want = _TIE_CASES[op]
    rows = sorted(run(emb).collect(), key=lambda r: r["rank"])
    sim_col = "adc_sim" if "adc" in op else "cos_sim"
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert [r["neighbor_id"] for r in rows] == want
    assert len({r[sim_col] for r in rows}) == 1  # the three really tie


def test_embedding_near_dup_threshold(spark):
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in sim.embedding_near_dup(_emb(spark), threshold=0.99).collect()
    }
    assert set(pairs) == {(0, 3)}
    assert pairs[(0, 3)] > 0.99


def test_rolling_fingerprint_order_sensitive(spark):
    rows = [
        (0, "alpha beta gamma", "en"),
        (1, "alpha beta gamma", "en"),  # same order → same fp
        (2, "gamma beta alpha", "en"),  # same tokens, different order → differs
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    fp = {r["doc_id"]: r["rolling_fp"] for r in tx.rolling_fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]
    # hand-rolled expected value for doc 0
    p, h = 1_000_000_007, 0
    for tok in "alpha beta gamma".split(" "):
        h = (h * 31 + len(tok) * 17 + ord(tok[0])) % p
    assert fp[0] == h


def test_near_dup_lsh_matches_exact(spark):
    """Gate regime: near-orthogonal vectors, low threshold — the banded
    candidate join must still recover exactly the all-pairs result."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(16)], i % 3) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA).withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    exact = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in sim.embedding_near_dup(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in sim.embedding_near_dup_lsh(emb, threshold=0.35, dim=16).collect()
    }
    assert exact  # the fixture must actually produce qualifying pairs
    assert lsh == exact


def test_near_dup_lsh_prunes_true_dup_corpus(spark):
    """Production regime: dups at cosine ≥ 0.98, wide bands (16 bits) —
    candidate generation must admit far fewer than all pairs while keeping
    every true near-dup pair."""
    import random

    rnd = random.Random(11)
    base = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, v, 0) for i, v in enumerate(base)]
    # one jittered near-copy per base vector → 40 true near-dup pairs
    rows += [
        (100 + i, [x + rnd.gauss(0, 0.02) for x in v], 0)
        for i, v in enumerate(base)
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA).withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    banded = sim.srp_banded(emb, dim=16, n_bands=8, band_bits=16)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    n_cand = cand.count()
    all_pairs = 80 * 79 // 2
    assert n_cand < all_pairs * 0.2, f"LSH admitted {n_cand}/{all_pairs} pairs"
    found = {
        (r["vec_a"], r["vec_b"])
        for r in sim.embedding_near_dup_lsh(
            emb, threshold=0.98, dim=16, n_bands=8, band_bits=16
        ).collect()
    }
    assert {(i, 100 + i) for i in range(40)} <= found


# --- round-2 operators: tf-idf / bm25 / repetition / quantization -------------

def test_tfidf_ranks_distinctive_terms(spark):
    out = tx.tfidf_top_terms(_docs(spark), k=2)
    rows = out.filter(F.col("doc_id") == 4).orderBy("rank").collect()
    # doc 4's words are corpus-unique -> all share the max idf; ties break
    # alphabetically on term
    assert [r["rank"] for r in rows] == [1, 2]
    assert rows[0]["term"] < rows[1]["term"]
    assert rows[0]["tfidf"] == rows[1]["tfidf"]
    # every doc gets at most k rows
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)


def test_bm25_matches_manual_single_term(spark):
    docs = spark.createDataFrame(
        [(0, "apple banana apple", "en"), (1, "banana cherry", "en"),
         (2, "durian elderberry fig", "en")],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r["score"] for r in
           tx.bm25_scores(docs, query_terms=["apple"]).collect()}
    # only doc 0 contains 'apple'
    assert set(out) == {0}
    n, df, tf, dl, avgdl = 3.0, 1.0, 2.0, 3.0, (3 + 2 + 3) / 3.0
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    norm = 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)
    expected = round(idf * (tf * 2.2) / (tf + norm), 6)
    assert abs(out[0] - expected) < 1e-9


def test_repetition_stats_flags_repetitive_doc(spark):
    docs = spark.createDataFrame(
        [(0, "spam spam spam spam spam", "en"),
         (1, "one two three four five six seven eight nine ten", "en")],
        DOC_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in tx.repetition_stats(docs).collect()}
    assert rows[0]["mcw_frac"] == 1.0 and rows[0]["dup2_frac"] == 0.75
    assert not rows[0]["keep"]
    assert rows[1]["mcw_frac"] == 0.1 and rows[1]["dup2_frac"] == 0.0
    assert rows[1]["keep"]


def _ngram_diversity_brute(text, max_n=3):
    """Python reference: literal single-space split, n-grams in token
    order, exact 6dp half-up rounding of distinct/total."""
    if text is None:
        return (None,) * (max_n + 1)
    t = text.split(" ")
    out = [len(t)]
    for n in range(1, max_n + 1):
        grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
        d, c = len(set(grams)), len(grams)
        out.append(((2000000 * d + c) // (2 * c)) / 1000000.0 if c else None)
    return tuple(out)


def test_ngram_diversity_matches_brute_force(spark):
    texts = {
        0: "a b c a b c a b d",
        1: "single",
        2: "too short",
        3: "x x x x x x x",
        4: "",
        5: None,
        6: "a  b  a  b ",
        7: "the cat sat on the mat the cat sat on the hat",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["distinct_1"], r["distinct_2"], r["distinct_3"])
        for r in tx.ngram_diversity(docs).collect()
    }
    assert got == {k: _ngram_diversity_brute(v) for k, v in texts.items()}


def test_quantize_int8_roundtrip_and_saturation(spark):
    emb = spark.createDataFrame(
        [(0, [0.5, -2.0, 1.0]), (1, [0.0, 0.25, -0.25])],
        "vec_id long, emb array<double>",
    )
    rows = {r["vec_id"]: r for r in sim.quantize_int8(emb).collect()}
    assert rows[0]["code_str"] == "64,-127,127"
    assert rows[0]["n_saturated"] == 2
    assert rows[1]["code_str"] == "0,32,-32"
    # reconstruction error of vec 1: |0| + |0.25-32/127| + |-0.25+32/127| / 3
    err = (abs(0.25 - 32 / 127.0) * 2) / 3
    assert abs(rows[1]["mean_abs_err"] - round(err, 6)) < 1e-9


def test_connected_components_transitive_clusters(spark):
    from trading_etl_spark.operators import graph as gr

    # 0-1, 1-2 chain (transitive: 2 never pairs with 0 directly); 3-4 pair;
    # 5, 6 singletons.
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 4)], "u long, v long"  # mixed orientation on purpose
    )
    comp = {
        r["id"]: r["comp"]
        for r in gr.connected_components_two_phase(
            nodes, edges, id_col="doc_id"
        ).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}


def test_exact_substring_planted_overlap(spark):
    """VERDICT r6 task #6 'done' criterion: a planted 200-token verbatim
    overlap between two otherwise-disjoint documents is detected EXACTLY —
    right positions, right length — and unique-token padding produces no
    other span."""
    shared = " ".join(f"s{i}" for i in range(200))
    pre_a = " ".join(f"a{i}" for i in range(37))
    post_a = " ".join(f"a{i}" for i in range(37, 60))
    pre_b = " ".join(f"b{i}" for i in range(11))
    docs = spark.createDataFrame(
        [
            (0, f"{pre_a} {shared} {post_a}", "en"),
            (1, f"{pre_b} {shared}", "en"),
            (2, "totally unrelated filler text with no overlap at all", "en"),
        ],
        DOC_SCHEMA,
    )
    spans = {
        r["doc_id"]: (r["start_pos"], r["end_pos"], r["n_tokens"])
        for r in tx.exact_substring_spans(docs).collect()
    }
    # doc 0: shared block occupies 1-indexed tokens 38..237
    # doc 1: tokens 12..211
    assert spans == {0: (38, 237, 200), 1: (12, 211, 200)}


def test_strip_duplicate_spans_keeps_first_occurrence(spark):
    """Removal twin of the span finder: the FIRST (doc_id, pos) occurrence
    of a duplicated block survives, the later copy loses exactly the span
    tokens, a fully-duplicated document empties (md5 of ''), and a
    WITHIN-doc repetition (ignored by the cross-doc span finder) is
    removed too."""
    import hashlib

    shared = " ".join(f"s{i}" for i in range(30))
    pre_b = " ".join(f"b{i}" for i in range(11))
    rep = " ".join(f"r{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (0, shared, "en"),                  # keeper: untouched
            (1, f"{pre_b} {shared}", "en"),     # loses the 30-token block
            (2, shared, "en"),                  # full duplicate → empties
            (3, f"{rep} {rep}", "en"),          # internal repeat → 2nd copy goes
            (4, "totally unrelated filler text", "en"),
        ],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in tx.strip_duplicate_spans(docs).collect()}
    assert out[0]["n_tokens_removed"] == 0
    assert out[0]["cleaned_md5"] == hashlib.md5(shared.encode()).hexdigest()
    assert out[1]["n_tokens_removed"] == 30 and out[1]["n_tokens_after"] == 11
    assert out[1]["cleaned_md5"] == hashlib.md5(pre_b.encode()).hexdigest()
    assert out[2]["n_tokens_after"] == 0
    assert out[2]["cleaned_md5"] == hashlib.md5(b"").hexdigest()
    assert out[3]["n_tokens_before"] == 40 and out[3]["n_tokens_removed"] == 20
    assert out[3]["cleaned_md5"] == hashlib.md5(rep.encode()).hexdigest()
    assert out[4]["n_tokens_removed"] == 0


def test_exact_substring_min_length_and_within_doc_repeats(spark):
    """Spans below min_tokens are suppressed, and a shingle repeated only
    WITHIN one document is not 'duplicated' (cross-doc means ≥2 distinct
    docs)."""
    short_shared = " ".join(f"c{i}" for i in range(10))  # ≥ k=8 but < 16
    rep = " ".join(f"r{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            (0, f"x0 x1 {short_shared} x2 x3", "en"),
            (1, f"y0 {short_shared} y1 y2", "en"),
            (2, f"{rep} z0 z1 z2 {rep}", "en"),  # within-doc repeat only
        ],
        DOC_SCHEMA,
    )
    assert tx.exact_substring_spans(docs).count() == 0
    # lowering the reporting floor surfaces the 10-token cross-doc span
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in tx.exact_substring_spans(docs, min_tokens=10).collect()
    }
    assert got == {0: 10, 1: 10}


def _bpe_reference(texts, n_merges):
    """Pure-Python Sennrich BPE: leftmost-greedy merge application,
    (count DESC, pair ASC) tie-break."""
    from collections import Counter

    words = Counter(w for t in texts for w in t.split(" ") if w)
    seqs = {w: list(w) for w in words}
    merges = []
    for k in range(1, n_merges + 1):
        pc = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += words[w]
        if not pc:
            break
        (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((k, a, b, a + b, c))
        for w, s in seqs.items():
            ns = []
            for x in s:
                if ns and ns[-1] == a and x == b:
                    ns[-1] = a + b
                else:
                    ns.append(x)
            seqs[w] = ns
    return merges


def test_bpe_train_matches_reference_with_repeat_runs(spark):
    """BPE merge training equals the Python reference, including the
    left==right repeat-run case ('aaaa' → leftmost-greedy pairs the 1st+2nd
    and 3rd+4th 'a', never the overlapping middle) and multi-round merges
    that consume earlier merged symbols."""
    texts = [
        "aaaa aaaa aab banana banana bandana",
        "aaaa banana low lower lowest low low",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], DOC_SCHEMA
    )
    got = [tuple(r) for r in tx.bpe_train(docs, 8).orderBy("merge_rank").collect()]
    assert got == _bpe_reference(texts, 8)
    # the repeat-run rule concretely: 'aa' merges must count 'aaaa' as TWO
    # non-overlapping pairs per occurrence, not three
    aa = [m for m in got if (m[1], m[2]) == ("a", "a")]
    if aa:
        # 4 'aaaa' words (3+1) contribute 2 each; 'aab' 1; bananas 0
        assert aa[0][4] >= 8


def test_bpe_degenerate_corpus_engines_agree(spark):
    """ADVICE r7: a corpus whose merges run DRY before n_merges rounds
    ('ab ab cd' is fully merged after 2 rounds; BPE_MERGES=12) must not
    diverge cross-engine — the Spark fit breaks and keeps the last
    vocabulary, and the oracle's LEFT-JOIN-on-constant rounds are no-ops,
    so BOTH sides still emit per-doc fertility stats and the same (short)
    merge list instead of the oracle collapsing to zero rows."""
    import duckdb

    from trading_etl_spark.queries.datapipe import ORACLES

    texts = ["ab ab cd", "ab cd cd"]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], DOC_SCHEMA
    )
    merges = [tuple(r) for r in tx.bpe_train(docs).orderBy("merge_rank").collect()]
    stats = {r["doc_id"]: r for r in tx.bpe_encode_stats(docs).collect()}
    assert [m[:4] for m in merges] == [(1, "a", "b", "ab"), (2, "c", "d", "cd")]
    assert stats[0]["n_bpe_tokens"] == 3 and stats[0]["bpe_tokens_per_word"] == 1.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}', 'en')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text, lang)"
    )
    o_merges = con.execute(
        ORACLES["bpe_train_merges"] + " ORDER BY merge_rank"
    ).fetchall()
    assert [tuple(m) for m in o_merges] == merges
    o_stats = {r[0]: r for r in con.execute(ORACLES["bpe_encode_fertility"]).fetchall()}
    assert set(o_stats) == {0, 1}
    for did in (0, 1):
        assert o_stats[did][1] == stats[did]["n_ws_tokens"]
        assert o_stats[did][2] == stats[did]["n_bpe_tokens"]


def test_decontaminate_flags_shared_ngrams(spark):
    # doc_ids chosen so the md5-hex split rule puts 3 in 'test'
    # (md5('3') starts 'ec' >= 'e6') and 1/2/19 in 'train'.
    base = "one two three four five six seven eight nine ten"
    rows = [
        (1, base + " tail tokens here", "en"),     # shares the 8-gram prefix
        (2, "totally different words " + base, "en"),  # also shares it
        (19, "no overlap with anything at all in this document text", "en"),
        (3, base + " and some extra", "en"),       # the test-split doc
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {r["doc_id"]: r for r in tx.decontaminate(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_test_docs"] == 1 and out[2]["n_test_docs"] == 1
    # doc 1 shares 8-grams starting at positions 1..3 of the 10-token base
    assert out[1]["n_shared_shingles"] == 3


def test_passage_dedup_counts_cross_doc_passages(spark):
    p = 4
    rows = [
        (0, "a b c d e f g h tail1 only", "en"),   # passages: [a b c d], [e f g h], [tail1 only]
        (1, "a b c d x y z w tail2 word", "en"),   # shares passage [a b c d]
        (2, "q r s t u v w x", "en"),              # no shared passages
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    out = {r["doc_id"]: r for r in tx.passage_dedup(docs, p=p).collect()}
    assert out[0]["n_passages"] == 3 and out[0]["n_dup_passages"] == 1
    assert out[1]["n_passages"] == 3 and out[1]["n_dup_passages"] == 1
    assert out[2]["n_passages"] == 2 and out[2]["n_dup_passages"] == 0
    assert out[0]["dup_frac"] == round(1 / 3, 6)


def test_knn_ivf_multiprobe_recovers_cross_cell_neighbor(spark):
    # query 0 sits in cell 0 but its true nearest neighbor (id 10) is just
    # across the boundary in cell 1; cell 2 points the other way entirely.
    # Single-cell probe misses id 10; nprobe=2 must recover it.
    rows = [
        (0, [1.0, 0.1, 0.0], 0),
        (11, [1.0, 0.0, 0.0], 0),
        (10, [1.0, 0.12, 0.0], 1),   # nearest to query, different cell
        (12, [0.7, 0.7, 0.0], 1),
        (13, [0.0, 0.0, 1.0], 2),
        (14, [0.0, 0.1, 1.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, emb array<double>, label int"
    )
    single = {
        r["neighbor_id"]
        for r in sim.knn_ivf(emb, k=2, n_queries=1).collect()
    }
    multi = {
        r["neighbor_id"]
        for r in sim.knn_ivf_multiprobe(emb, k=2, n_queries=1, nprobe=2).collect()
    }
    assert 10 not in single          # stored-cell probe misses it
    assert multi == {10, 11}         # multiprobe finds the true top-2


def test_kmeans_codebook_separates_clusters(spark):
    # two tight clusters around e1 and e3: 3 Lloyd iterations from md5 seeds
    # must land one centroid in each, and assignment must split them cleanly.
    rows = [
        (0, [1.0, 0.02, 0.0]),
        (1, [1.0, 0.00, 0.0]),
        (2, [0.98, 0.05, 0.0]),
        (3, [0.0, 0.01, 1.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.02, 0.0, 0.97]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    book = sim.kmeans_codebook(emb, k=2, iters=3)
    assigned = sim.assign_cells(emb, book).collect()
    cells = {r["vec_id"]: r["cell"] for r in assigned}
    assert cells[0] == cells[1] == cells[2]
    assert cells[3] == cells[4] == cells[5]
    assert cells[0] != cells[3]


def test_mean_update_matches_explode_shape(spark):
    # r13: the single-pass per-component _mean_update must produce the
    # exact rows the old posexplode -> (cell, pos) agg produced — same
    # per-component multiset, same 6dp rounding — so the Lloyd trajectory
    # (and every oracle replaying it) is unchanged by the plan-shape swap.
    rows = [
        (0, [0.1, 0.25, 0.7]),
        (1, [0.3, 0.15, 0.1]),
        (0, [0.2, 0.05, 0.4]),
        (2, [0.9, 0.85, 0.3]),
    ]
    assigned = spark.createDataFrame(rows, "cell int, sv array<double>")
    got = {
        (r["cell"], tuple(r["cv"]))
        for r in sim._mean_update(assigned, "sv", 3).collect()
    }
    old = (
        assigned.select("cell", F.posexplode("sv").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), 6).alias("av"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pv"))
        .select("cell", F.expr("transform(pv, x -> x.av)").alias("cv"))
    )
    want = {(r["cell"], tuple(r["cv"])) for r in old.collect()}
    assert got == want
    assert (0, (0.15, 0.15, 0.55)) in got  # exact hand-computed means


def test_mean_update_rows_matches_relation_shape(spark):
    # r17: the Lloyd loops now collect the (cell, pos) agg directly and
    # assemble centroid arrays in the driver (_mean_update_rows) instead
    # of paying a second (cell) shuffle + collect_list/array_sort per
    # iteration. The collected rows must equal the relation-shaped
    # _mean_update exactly (same values, cell-sorted), so the training
    # trajectory — and every oracle replaying it — is unchanged.
    rows = [
        (0, [0.1, 0.25, 0.7]),
        (1, [0.3, 0.15, 0.1]),
        (0, [0.2, 0.05, 0.4]),
        (2, [0.9, 0.85, 0.3]),
    ]
    assigned = spark.createDataFrame(rows, "cell int, sv array<double>")
    got = sim._mean_update_rows(assigned, "sv")
    want = sorted(
        (r["cell"], list(r["cv"]))
        for r in sim._mean_update(assigned, "sv", 3).collect()
    )
    assert got == want
    assert got[0] == (0, [0.15, 0.15, 0.55])  # exact hand-computed means


def test_kmeans_codebook_deterministic(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(20)],
        "vec_id long, emb array<double>",
    )
    a = sim.kmeans_codebook(emb, k=3, iters=2)
    b = sim.kmeans_codebook(emb, k=3, iters=2)
    assert a.rows == b.rows
    # the relation form holds exactly the driver-local rows
    assert [(r["cell"], list(r["cv"])) for r in b.rel.collect()] == a.rows


def test_knn_ivf_kmeans_finds_cluster_neighbors(spark):
    # same two-cluster corpus; query 0's true top-2 are its cluster-mates and
    # the learned cells must make them reachable with nprobe=1 of 2.
    rows = [
        (0, [1.0, 0.02, 0.0]),
        (1, [1.0, 0.00, 0.0]),
        (2, [0.98, 0.05, 0.0]),
        (3, [0.0, 0.01, 1.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.02, 0.0, 0.97]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = sim.knn_ivf_kmeans(emb, k=2, n_queries=1, nprobe=1, n_cells=2, iters=2)
    assert {r["neighbor_id"] for r in out.collect()} == {1, 2}


def test_kmeans_codebook_tolerates_emptied_cells(spark):
    # k=3 seeds over data with only 2 real clusters: Lloyd may drain a cell.
    # The codebook must stay consistent (<= k cells, assignment total) and
    # assignment must still cover every vector exactly once.
    rows = [(i, [1.0, 0.0]) for i in range(5)] + [(i, [0.0, 1.0]) for i in range(5, 10)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    book = sim.kmeans_codebook(emb, k=3, iters=3)
    n_cells = book.rel.count()
    assert 1 <= n_cells <= 3 and n_cells == len(book.rows)
    assigned = sim.assign_cells(emb, book)
    assert assigned.count() == 10
    assert assigned.select("vec_id").distinct().count() == 10


def _fixture_emb(spark, sf):
    import os

    root = os.path.dirname(
        os.environ.get("SPARK_GRAFT_FIXTURE_DIR", os.path.expanduser("~/testdata/sf0.001"))
    )
    if not os.path.isdir(os.path.join(root, sf)):
        pytest.skip("driver testdata corpus not present")
    return sim.load_embeddings(spark, os.path.join(root, sf))


def _vector_models(emb):
    book = sim.kmeans_codebook(emb)
    cells = sorted(
        tuple(r) for r in sim.assign_cells(emb, book).select("vec_id", "cell", "emb").collect()
    )
    codes, books = sim.pq_model(emb)
    knn = sorted(tuple(r) for r in sim.knn_ivf_kmeans(emb).collect())
    return book.rows, cells, books, sorted(tuple(r) for r in codes.collect()), knn


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.1"])
def test_vectors_driver_branch_equals_executors(spark, monkeypatch, sf):
    """Below ``DRIVER_VECTORS_MAX_ROWS`` the seed pick, Lloyd loop and
    assignment run on the driver; the codebook rows, the assigned cells
    and the PQ books and codes equal the executor branch's (bound forced
    to -1) row for row, on the fixture embeddings."""
    emb = _fixture_emb(spark, sf)
    assert sim._local_vectors(emb) is not None
    driver = _vector_models(emb)
    monkeypatch.setattr(sim, "DRIVER_VECTORS_MAX_ROWS", -1)
    assert sim._local_vectors(emb) is None
    executors = _vector_models(emb)
    names = ("codebook", "cells", "books", "codes", "knn_ivf_kmeans")
    for name, got, want in zip(names, driver, executors):
        assert got == want, name


def test_training_and_assignment_share_one_collect(spark, monkeypatch):
    """A standalone ``knn_ivf_kmeans`` or ``semantic_dedup`` trains the
    codebook and assigns the corpus to it over one driver collect of the
    embeddings, not one per step."""
    rows = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    calls = []
    collect = sim._local_vectors
    monkeypatch.setattr(sim, "_local_vectors", lambda e: calls.append(1) or collect(e))
    sim.knn_ivf_kmeans(emb, n_queries=2, n_cells=3, iters=2)
    assert len(calls) == 1
    sim.semantic_dedup(emb, n_cells=3, iters=2)
    assert len(calls) == 2


def _fixture_means(spark, sf):
    """Every unrounded centroid mean the k-means and PQ training of the
    fixture embeddings computes, iteration by iteration."""
    local = sim._local_vectors(_fixture_emb(spark, sf))
    seeds = sim._seed_local(local, max(sim.KMEANS_K, sim.PQ_K))
    dsub = sim.EMB_DIM // sim.PQ_M
    runs = [(local.V, list(enumerate(seeds[: sim.KMEANS_K])), sim.KMEANS_ITERS)] + [
        (
            local.V[:, s * dsub : (s + 1) * dsub],
            [(i, v[s * dsub : (s + 1) * dsub]) for i, v in enumerate(seeds[: sim.PQ_K])],
            sim.PQ_ITERS,
        )
        for s in range(sim.PQ_M)
    ]
    means = []
    for V, cent, iters in runs:
        for _ in range(iters):
            raw = sim._cell_means(V, sim._nearest_kernel(cent)(V))
            means += [x for _, m in raw for x in m.tolist()]
            cent = sim._lloyd_local(V, cent, 1)
    return means


def test_round6_matches_spark_round(spark):
    """The driver's 6dp rule is ``F.round(x, 6)``: on near-ties one ulp
    either side, negatives, signed zeros, extremes, random doubles and
    every mean the fixtures' k-means and PQ training produces."""
    import random

    from trading_etl_spark.sources.local import local_relation

    values = [0.0, -0.0, 1e-300, -1e-300, 1e22, -1e22, 1e300, float("nan"), float("inf")]
    for tie in (5e-7, 1.5e-6, 2.5e-7, 0.1234565, 0.0012345, 1.0000005, 123.4567895, 0.2500005):
        for x in (tie, math.nextafter(tie, 0.0), math.nextafter(tie, math.inf)):
            values += [x, -x]
    rng = random.Random(3)
    values += [rng.uniform(-1.0, 1.0) for _ in range(2000)]
    values += [rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-9, 9) for _ in range(2000)]
    for sf in ("sf0.001", "sf0.1"):
        values += _fixture_means(spark, sf)
    rel = local_relation(spark, [(i, x) for i, x in enumerate(values)], "i int, x double")
    got = {
        r.i: r.r for r in rel.select("i", F.round("x", 6).alias("r")).collect()
    }
    mismatches = [
        (x, got[i], sim._round6(x))
        for i, x in enumerate(values)
        if repr(got[i]) != repr(sim._round6(x))
    ]
    assert not mismatches, mismatches[:10]


def test_chunk_documents_coverage_and_overlap(spark):
    # size=8 stride=6: doc of 20 tokens → chunks at 0,6,12 (last ragged);
    # short doc → one full chunk; every token covered by some chunk.
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20))), (2, "a b c")],
        "doc_id long, text string",
    )
    out = sorted(
        (
            (r["doc_id"], r["chunk_idx"], r["token_start"], r["chunk_tokens"])
            for r in tx.chunk_documents(docs, size=8, stride=6).collect()
        )
    )
    assert out == [(1, 0, 0, 8), (1, 1, 6, 8), (1, 2, 12, 8), (2, 0, 0, 3)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        tx.chunk_documents(docs, size=8, stride=9)


def test_weighted_sample_ares_properties(spark):
    # A-Res invariants: k >= population returns everything; the kept set per
    # stratum is exactly the k largest keys (no key outside beats one
    # inside); weight raises expected inclusion (heavy docs oversampled).
    docs = spark.createDataFrame(
        [(i, "en", 0.9 if i % 2 == 0 else 0.1) for i in range(200)],
        "doc_id long, lang string, quality double",
    )
    out = tx.weighted_sample(docs, k=40)
    rows = out.collect()
    assert len(rows) == 40
    assert all(0.0 < r["samp_key"] <= 1.0 for r in rows)
    # heavy (0.9) docs must dominate the sample: E[share] >> 50%
    heavy = sum(1 for r in rows if r["quality"] == 0.9)
    assert heavy >= 30, heavy
    # determinism: identical rerun
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in rows
    )
    # k >= n keeps all
    assert tx.weighted_sample(docs, k=500).count() == 200


def test_bigram_pmi_counts_and_sign(spark):
    # "a b" always adjacent (high PMI); "a" and "c" co-occur but never
    # adjacent; single-token docs contribute no bigrams.
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)] + [(100, "x")],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r for r in tx.bigram_pmi(docs, min_count=5).collect()}
    assert set(out) == {("a", "b"), ("b", "c")}  # 10 each; nothing else adjacent
    assert out[("a", "b")]["c_xy"] == 10
    # p(a,b)=10/20 bigrams; p(a)=p(b)=10/31 unigrams → pmi = ln(.5/(10/31)^2) > 0
    assert out[("a", "b")]["pmi"] > 0
    assert tx.bigram_pmi(docs, min_count=11).count() == 0


def test_scd2_history_intervals(spark, tmp_path):
    # change log: user 1 value 100→100→200→200→100, user 2 constant
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, 1, 100.0), (2, 1, 100.0), (3, 1, 200.0), (4, 1, 200.0), (5, 1, 100.0),
        (6, 2, 7.0), (7, 2, 7.0),
    ]
    base_us = 1_700_000_000_000_000
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([base_us + r[0] * 1_000_000 for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["set"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(table, sf / "events.parquet")
    from trading_etl_spark.queries.analytics import q_scd2_user_value_history

    got = sorted(
        (
            (r["user_id"], r["dim_value"], r["is_current"], r["valid_to"] is None)
            for r in q_scd2_user_value_history(spark, str(sf)).collect()
        )
    )
    # user 1: three runs (100, 200, 100 — last current); user 2: one run
    assert got == [
        (1, 100.0, False, False),
        (1, 100.0, True, True),
        (1, 200.0, False, False),
        (2, 7.0, True, True),
    ]


def test_ivf_kmeans_recall_monotone_in_nprobe(spark):
    # VERDICT r3 task #8: turn the single recall datapoint into a verified
    # contract — recall@3 vs brute-force ground truth must be non-decreasing
    # in nprobe and exactly 1.0 when every cell is probed (the probe is then
    # exhaustive, so IVF degenerates to brute force).
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    emb = sim.load_embeddings(spark, sf_dir)
    truth = {(r.query_id, r.neighbor_id) for r in sim.knn_bruteforce(emb).collect()}
    assert truth
    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_ivf_kmeans(emb, nprobe=nprobe).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert all(lo <= hi + 1e-12 for lo, hi in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls  # nprobe == n_cells → exhaustive


def test_ivfadc_recall_monotone_and_exhaustive_probe_equals_pq_adc(spark):
    # VERDICT r5 task #5: the IVF × PQ composition's contracts. (a) recall@3
    # vs the EXHAUSTIVE-ADC ranking (knn_pq_adc) is non-decreasing in nprobe:
    # ADC is the fixed scoring function, and a member of the global ADC top-3
    # can be outranked by at most 2 candidates in ANY candidate superset, so
    # growing the probe set can only add it. (Recall vs the EXACT kNN is
    # deliberately not asserted monotone — a wider candidate pool can inject
    # ADC-flattering false positives that push a true neighbor out of top-3;
    # that is a property of quantized scoring, not a bug.) (b) at
    # nprobe == n_coarse the probe is exhaustive, so IVFADC must equal plain
    # PQ-ADC search ROW FOR ROW — same codes, same tables, same ranks.
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    emb = sim.load_embeddings(spark, sf_dir)
    adc_truth = {(r.query_id, r.neighbor_id) for r in sim.knn_pq_adc(emb).collect()}
    assert adc_truth
    recalls = []
    for nprobe in (1, 2, 8):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_ivfadc(emb, nprobe=nprobe).collect()
        }
        recalls.append(len(got & adc_truth) / len(adc_truth))
    assert all(lo <= hi + 1e-12 for lo, hi in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls  # nprobe == n_coarse → exhaustive

    exhaustive = {
        tuple(r) for r in sim.knn_ivfadc(emb, nprobe=sim.KMEANS_K).collect()
    }
    plain = {tuple(r) for r in sim.knn_pq_adc(emb).collect()}
    assert exhaustive == plain


def test_pii_redact_replaces_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 responded"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.pii_redact(docs).collect()}
    assert "<EMAIL>" in out[1]["clean_text"] and "<PHONE>" in out[1]["clean_text"]
    assert "example" not in out[1]["clean_text"]
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
    assert out[2]["clean_text"] == "server at <IP> responded"
    assert out[2]["n_ips"] == 1 and out[2]["had_pii"]
    assert out[3]["clean_text"] == "nothing sensitive here" and not out[3]["had_pii"]


def test_decontaminate_shuffle_path_matches_broadcast(spark):
    # VERDICT r3 task #3: a 10 TB test side must not be force-broadcast.
    # Both join strategies must agree; the shuffle path must actually
    # shuffle (auto-broadcast disabled so Catalyst can't sneak one in).
    shared = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [(1, shared + " extra tail tokens"), (2, "totally unrelated words " * 4)],
        "doc_id long, text string",
    )
    test_docs = spark.createDataFrame(
        [(101, shared + " different ending"), (102, "benchmark only content here now")],
        "doc_id long, text string",
    )
    bc = tx.decontaminate(docs, test_docs=test_docs, broadcast_test=True)
    bc_rows = sorted(map(tuple, bc.collect()))
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = tx.decontaminate(docs, test_docs=test_docs, broadcast_test=False)
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        sh_rows = sorted(map(tuple, sh.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bc_rows == sh_rows
    assert bc_rows and bc_rows[0][0] == 1  # doc 1 flagged via the shared 8-grams
    # auto mode: tiny test side → broadcast chosen, same answer
    auto = tx.decontaminate(docs, test_docs=test_docs)
    assert sorted(map(tuple, auto.collect())) == bc_rows


def test_pii_phone_no_digit_run_false_positives(spark):
    # VERDICT r3 task #5: the old free-form phone pattern ate arbitrary
    # digit runs. These shapes must survive redaction untouched…
    clean = [
        (1, "years 2024 2025 2026 2027 in a row"),
        (2, "released 2024-08-13, range 2024-2025"),
        (3, "isbn 9780306406157 and 978-0-306-40615-7"),
        (4, "host 10.0.12.34 port 8080"),  # IP redacted as <IP>, not <PHONE>
        (5, "commit fa29165 id abc1234567890def"),
    ]
    # …while real phone shapes are still caught.
    phones = [
        (6, "call +81 90-1234-5678"),
        (7, "office (03) 1234-5678"),
        (8, "cell 090-1234-5678 or raw 09012345678"),
        (9, "us +1 (555) 123-4567"),
    ]
    docs = spark.createDataFrame(clean + phones, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.pii_redact(docs).collect()}
    for i, text in clean:
        assert out[i]["n_phones"] == 0, f"doc {i}: {out[i]['clean_text']}"
        assert "<PHONE>" not in out[i]["clean_text"]
    assert out[4]["clean_text"] == "host <IP> port 8080"
    for i, _ in phones:
        assert out[i]["n_phones"] >= 1 and "<PHONE>" in out[i]["clean_text"]
    assert out[8]["n_phones"] == 2


def test_pack_sequences_contiguous_offsets(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(20)],
        "doc_id long, text string",
    )
    out = sorted(
        tx.pack_sequences(docs, budget=50).collect(), key=lambda r: r["token_offset"]
    )
    # offsets are a contiguous prefix sum over the deterministic order
    acc = 0
    for r in out:
        assert r["token_offset"] == acc
        assert r["shard_id"] == acc // 50
        acc += r["n_tokens"]
    # every doc packed exactly once
    assert len({r["doc_id"] for r in out}) == 20


def test_pack_sequences_bucket_count_invariance(spark):
    # VERDICT r3 task #6: the bucket id must be a hex PREFIX of the md5 so
    # per-bucket order composes to the global (h, doc_id) order. 16 and 256
    # buckets must therefore produce byte-identical assignments…
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + (i * 7) % 40))) for i in range(60)],
        "doc_id long, text string",
    )
    by16 = {r["doc_id"]: (r["shard_id"], r["token_offset"])
            for r in tx.pack_sequences(docs, budget=64, n_buckets=16).collect()}
    by256 = {r["doc_id"]: (r["shard_id"], r["token_offset"])
             for r in tx.pack_sequences(docs, budget=64, n_buckets=256).collect()}
    assert by16 == by256
    # …and any non-power-of-16 count is rejected, not silently interleaved.
    import pytest as _pytest
    with _pytest.raises(ValueError, match="power of 16"):
        tx.pack_sequences(docs, budget=64, n_buckets=10)
    with _pytest.raises(ValueError, match="power of 16"):
        tx.pack_sequences(docs, budget=64, n_buckets=32)


def test_pii_phone_skips_hyphen_joined_year_lists(spark):
    """ADVICE r4: hyphen-joined year lists ('2024-2025-2026', every group
    4-digit) must not redact as phones, while 4-digit-lead real phones
    (0120-444-444) still do."""
    docs = spark.createDataFrame(
        [
            (1, "seasons 2024-2025-2026 were good"),
            (2, "range 2023-2024 and 2024-08-13 remain"),
            (3, "tollfree 0120-444-444 anytime"),
            (4, "cell 090-1234-5678 works"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.pii_redact(docs).collect()}
    assert out[1]["n_phones"] == 0 and "<PHONE>" not in out[1]["clean_text"]
    assert out[2]["n_phones"] == 0 and "<PHONE>" not in out[2]["clean_text"]
    assert out[3]["n_phones"] == 1 and "<PHONE>" in out[3]["clean_text"]
    assert out[4]["n_phones"] == 1 and "<PHONE>" in out[4]["clean_text"]


def test_decontaminate_lazy_construction(spark):
    """VERDICT r4 task #6: with broadcast_test forced OR a test_docs_count
    hint, building the decontaminate plan must run ZERO Spark jobs — the
    sizing count() fires only on the documented zero-config default."""
    docs = spark.createDataFrame(
        [(i, f"some tokens {i} " * 10) for i in range(4)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # count jobs via scoped JOB GROUPS, not global job-id totals: past
    # spark.ui.retainedJobs the tracker evicts old ids, so absolute counts
    # go flat/backwards exactly when the full suite runs (r11 flake — the
    # same fix as test_pagerank_build_submits_no_job).
    try:
        sc.setJobGroup("decon-lazy-probe", "probe")
        tx.decontaminate(docs, broadcast_test=True)
        tx.decontaminate(docs, broadcast_test=False)
        tx.decontaminate(docs, test_docs_count=5)
        tx.decontaminate(docs, test_docs_count=10**9)
        assert len(tracker.getJobIdsForGroup("decon-lazy-probe")) == 0, (
            "plan construction ran a Spark job despite an explicit strategy/hint"
        )
        # zero-config default: the sizing count is an eager job (documented)
        sc.setJobGroup("decon-eager-probe", "probe")
        tx.decontaminate(docs)
        assert len(tracker.getJobIdsForGroup("decon-eager-probe")) > 0
    finally:
        sc.setJobGroup("", "")


def test_domain_mix_rates_and_determinism(spark):
    """Budget = min(avail/weight): the binding source keeps rate 1.0, the
    oversupplied source is downsampled toward the target mixture; the md5
    keep draw is deterministic (re-run identical)."""
    from pyspark.sql import functions as F

    # source a: weight 3, 30 docs × 10 tokens = 300 avail → avail/w = 100
    # source b: weight 1, 40 docs × 10 tokens = 400 avail → avail/w = 400
    # budget = 100 → rate_a = 3*100/300 = 1.0, rate_b = 1*100/400 = 0.25
    rows = [(i, "a" if i < 30 else "b", " ".join(["t"] * 10)) for i in range(70)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs = docs.withColumn(
        "weight", F.when(F.col("source") == "a", 3.0).otherwise(1.0)
    )
    out = tx.domain_mix_sample(docs)
    rates = {r["source"]: r["keep_rate"] for r in out.select("source", "keep_rate").distinct().collect()}
    assert rates["a"] == 1.0 and rates["b"] == 0.25
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    assert by_src["a"] == 30  # rate 1.0 keeps everything
    assert 0 < by_src.get("b", 0) < 40  # downsampled, not emptied
    # deterministic: identical plan → identical sample
    again = sorted(map(tuple, tx.domain_mix_sample(docs).collect()))
    assert sorted(map(tuple, out.collect())) == again


def test_unigram_logprob_hand_computed(spark):
    """Add-one unigram LM on a 2-doc corpus, checked against hand math in
    the operator's fixed-point semantics (r14, VERDICT r13 task #3): each
    per-token ln quantizes to BIGINT 1e-6 units via floor(x*1e6 + 0.5),
    the doc reduction is an exact integer sum, and the mean rounds
    half-away-from-zero by integer division — order-independent, so the
    value is bit-identical for every partitioning and both engines."""
    import math

    def q6(x: float) -> int:
        return math.floor(x * 1e6 + 0.5)

    def fixed6_mean(num: int, den: int) -> float:
        mag = (2 * abs(num) + den) // (2 * den)
        return (-mag if num < 0 else mag) / 1e6

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    # counts: a=3, b=1, c=1; N=5, V=3 → denom 8
    out = {r["doc_id"]: r for r in tx.unigram_logprob(docs).collect()}
    p_a, p_b, p_c = 4 / 8, 2 / 8, 2 / 8
    want1 = fixed6_mean(2 * q6(math.log(p_a)) + q6(math.log(p_b)), 3)
    want2 = fixed6_mean(q6(math.log(p_a)) + q6(math.log(p_c)), 2)
    assert out[1]["n_tokens"] == 3 and out[1]["mean_logprob"] == want1
    assert out[2]["n_tokens"] == 2 and out[2]["mean_logprob"] == want2
    # fixed-point mean stays within one 1e-6 grain of the true float mean
    true1 = (2 * math.log(p_a) + math.log(p_b)) / 3
    assert abs(out[1]["mean_logprob"] - true1) < 2e-6
    # rarer-token doc scores lower (the quality-filter signal)
    assert out[2]["mean_logprob"] < out[1]["mean_logprob"]


def test_cms_heavy_hitters_no_false_negatives(spark):
    """CMS estimates are min-over-rows of colliding counters: always ≥ the
    true count, so every true heavy hitter survives the threshold (the
    no-false-negative guarantee); a tiny width forces collisions and the
    estimates must still only OVERestimate."""
    from collections import Counter

    texts = {
        1: "hot " * 20 + "warm " * 6,
        2: "hot " * 15 + "cold " * 2,
        3: "warm " * 4 + "cold",
    }
    docs = spark.createDataFrame(
        [(k, v.strip()) for k, v in texts.items()], "doc_id long, text string"
    )
    true = Counter(t for v in texts.values() for t in v.split())
    out = {
        r["tok"]: r["est_count"]
        for r in tx.cms_heavy_hitters(docs, depth=4, width=8, threshold=10).collect()
    }
    for tok, c in true.items():
        if c >= 10:
            assert tok in out and out[tok] >= c, (tok, c, out)
    for tok, est in out.items():
        assert est >= true[tok]  # only overestimates, never under


def test_pq_codes_shape_and_determinism(spark):
    """PQ codes: one m-tuple per vector, every sub-code in [0, k), and the
    deterministic training yields the identical coding on a re-run."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = {r["vec_id"]: r["pq_code"] for r in sim.pq_codes(emb, m=4, k=4, iters=2, dim=16).collect()}
    assert len(out) == 60
    for code in out.values():
        parts = [int(x) for x in code.split(",")]
        assert len(parts) == 4 and all(0 <= p < 4 for p in parts)
    # multiple distinct codes (the quantizer actually separates vectors)
    assert len(set(out.values())) > 1
    again = {r["vec_id"]: r["pq_code"] for r in sim.pq_codes(emb, m=4, k=4, iters=2, dim=16).collect()}
    assert again == out


def test_pq_adc_ranks_reconstruction_cosine(spark):
    """ADC's table-lookup score must equal cosine(query, code
    reconstruction) computed directly from the trained codebooks."""
    import math
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = sim.knn_pq_adc(emb, k=2, n_queries=3, m=4, n_cells=4, iters=2, dim=16)
    got = {(r["query_id"], r["neighbor_id"]): r["adc_sim"] for r in out.collect()}
    assert got and all(-1.000001 <= v <= 1.000001 for v in got.values())
    # recompute one score by hand from the model
    codes, books = sim.pq_model(emb, m=4, k=4, iters=2, dim=16)
    code_map = {
        r["vec_id"]: [r[f"_c{s}"] for s in range(4)] for r in codes.collect()
    }
    vecs = dict(rows)
    (qid, nid), sim_got = next(iter(got.items()))
    recon = [x for s in range(4) for x in dict(books[s])[code_map[nid][s]]]
    q = vecs[qid]
    want = sum(a * b for a, b in zip(q, recon)) / (
        math.sqrt(sum(a * a for a in q)) * math.sqrt(sum(b * b for b in recon))
    )
    assert abs(sim_got - want) < 1e-5, (sim_got, want)


def test_semantic_dedup_min_id_keeper_single_cell(spark):
    # n_cells=1 → pure pairwise rule: ids 0/3/7 are an exact-duplicate ball
    # (keeper = 0); ids 1 and 2 are near-orthogonal singletons that survive.
    base = [1.0] + [0.0] * 7
    ortho1 = [0.0, 1.0] + [0.0] * 6
    ortho2 = [0.0, 0.0, 1.0] + [0.0] * 5
    rows = [
        (0, base),
        (1, ortho1),
        (2, ortho2),
        (3, base),
        (7, [x * 2.0 for x in base]),  # scaled copy: cosine exactly 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = sim.semantic_dedup(emb, threshold=0.9, n_cells=1, iters=1)
    got = sorted((r.vec_id, r.cell) for r in out.collect())
    assert [v for v, _ in got] == [0, 1, 2]
    assert {c for _, c in got} == {0}


def test_semantic_dedup_drop_is_one_pass_not_transitive(spark):
    # b is within threshold of a (dropped); c is within threshold of b but
    # NOT of a — the one-pass min-id rule still drops c (its lower-id
    # neighbor b matched it), documenting the non-transitive semantics both
    # engines share.
    import math as _math

    def unit(theta):
        return [_math.cos(theta), _math.sin(theta)] + [0.0] * 6

    # cos(25°)≈0.906 > 0.9, cos(50°)≈0.643 < 0.9
    rows = [(0, unit(0.0)), (1, unit(0.44)), (2, unit(0.88))]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = sim.semantic_dedup(emb, threshold=0.9, n_cells=1, iters=1)
    assert sorted(r.vec_id for r in out.collect()) == [0]


def test_bloom_no_false_negatives_and_low_fp(spark):
    keys = spark.range(1000).select(F.col("id").alias("h"))
    bloom = tx.bloom_build(keys, "h", m_bits=1 << 14, k=7)
    probe_df = tx.bloom_probe(
        spark.range(5000).select(F.col("id").alias("h")), "h", bloom, 1 << 14, 7
    )
    rows = {r.h: r.bloom_hit for r in probe_df.collect()}
    # members: never a false negative
    assert all(rows[i] for i in range(1000))
    # non-members: fp rate stays near the design point (m/n=16.4, k=7 → ~1%)
    fp = sum(rows[i] for i in range(1000, 5000)) / 4000
    assert fp < 0.05, fp


def _bloom_reference(keys, m_bits, k):
    """The NumPy Bloom build: Kirsch–Mitzenmacher positions in uint64
    arithmetic, bits set with ``np.bitwise_or.at`` (bit p is bit p & 7
    of byte p >> 3)."""
    import numpy as np

    h = np.array(keys, dtype=np.int64).astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    pos = ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64).ravel()
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits.tobytes()


@pytest.mark.parametrize("m_bits,k", [(1 << 20, 7), (1 << 14, 7), (3 * 64, 3)])
def test_bloom_build_matches_numpy_reference(spark, m_bits, k):
    """The JVM build sets exactly the bits of the NumPy reference, on the
    sign and width edges of the int64 key (0, -1, Long.MIN, Long.MAX)
    and random keys of both signs; every built key probes as a hit."""
    import random

    rng = random.Random(11)
    keys = [0, -1, 1, -(2**63), 2**63 - 1, 2**32 - 1, 2**32] + [
        rng.randrange(-(2**63), 2**63) for _ in range(300)
    ] + [-rng.randrange(1, 2**63) for _ in range(100)]
    df = spark.createDataFrame([(x,) for x in keys], "h long")
    bloom = tx.bloom_build(df, "h", m_bits, k)
    assert bloom == _bloom_reference(keys, m_bits, k)
    assert all(r.bloom_hit for r in tx.bloom_probe(df, "h", bloom, m_bits, k).collect())


def test_bloom_build_empty_keys_gives_empty_bitmap(spark):
    empty = spark.range(0).select(F.col("id").alias("h"))
    assert tx.bloom_build(empty, "h", 1 << 12, 5) == bytes((1 << 12) // 8)


def test_decontaminate_bloom_equals_exact(spark):
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    docs = tx.load_documents(spark, sf_dir)
    exact = {
        (r.doc_id, r.n_shared_shingles, r.n_test_docs)
        for r in tx.decontaminate(docs, broadcast_test=True).collect()
    }
    via_bloom = {
        (r.doc_id, r.n_shared_shingles, r.n_test_docs)
        for r in tx.decontaminate_bloom(docs).collect()
    }
    assert via_bloom == exact
    assert exact  # non-vacuous: the fixture split shares shingles


def test_dsir_lookalike_outweighs_offdomain(spark):
    # Target domain speaks "alpha beta"; raw corpus also has "gamma delta"
    # docs and ONE target-lookalike. The lookalike's LM log-ratio (and
    # hence importance weight) must exceed every off-domain doc's.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta", "en", "tgt", 21),
            (2, "beta alpha beta alpha", "en", "tgt", 21),
            (3, "gamma delta gamma delta", "en", "web", 23),
            (4, "delta gamma delta gamma", "en", "web", 23),
            (5, "alpha beta beta alpha", "en", "web", 21),  # lookalike
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.doc_id: (r.logratio, r.weight)
        for r in tx.dsir_resample(docs, target_value="tgt", k=5).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}  # k = corpus size → everything sampled
    assert out[5][0] > out[3][0] and out[5][0] > out[4][0]
    assert out[5][1] > out[3][1]
    # target-vocab docs score above the off-domain cluster too
    assert min(out[1][0], out[2][0]) > max(out[3][0], out[4][0])


def test_rrf_fuse_combines_and_handles_missing_legs(spark):
    import pytest

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id long, rank long")
    out = {r.doc_id: r for r in tx.rrf_fuse(a, b, k=10, rrf_k=60).collect()}
    # doc 3 appears in both legs: 1/63 + 1/61
    assert out[3].rrf_score == pytest.approx(round(1 / 63 + 1 / 61, 6))
    assert out[3].rank_a == 3 and out[3].rank_b == 1
    # single-leg docs contribute only their own leg
    assert out[1].rrf_score == pytest.approx(round(1 / 61, 6))
    assert out[1].rank_b is None
    assert out[4].rrf_score == pytest.approx(round(1 / 62, 6))
    assert out[4].rank_a is None
    # both-leg doc outranks every single-leg doc
    ordered = sorted(out.values(), key=lambda r: (-r.rrf_score, r.doc_id))
    assert ordered[0].doc_id == 3


def test_matryoshka_exhaustive_candidates_equals_bruteforce(spark):
    # With n_candidates >= corpus size the prefix stage filters nothing,
    # so the full-dim rerank must reproduce exact brute-force row-for-row
    # (the same degeneracy contract as IVF's exhaustive probe).
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    emb = sim.load_embeddings(spark, sf_dir)
    n = emb.count()
    exact = sorted(tuple(r) for r in sim.knn_bruteforce(emb).collect())
    mrl = sorted(
        tuple(r) for r in sim.knn_matryoshka(emb, n_candidates=n).collect()
    )
    assert mrl == exact and exact


def test_matryoshka_recall_monotone_in_candidates(spark):
    # The candidate pool grows monotonically with n_candidates, and the
    # final stage is an exact rerank — so recall@k vs brute-force ground
    # truth is non-decreasing in n_candidates (the same degeneracy family
    # as IVF's nprobe curve) and exactly 1.0 once candidates ⊇ corpus.
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    emb = sim.load_embeddings(spark, sf_dir)
    n = emb.count()
    truth = {(r.query_id, r.neighbor_id) for r in sim.knn_bruteforce(emb).collect()}
    assert truth
    recalls = []
    for cand in (4, 16, 64, n):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_matryoshka(emb, n_candidates=cand).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert all(lo <= hi + 1e-12 for lo, hi in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls


def test_semantic_dedup_correct_under_cell_skew(spark):
    # 90 of 94 vectors are EXACT copies of just three embeddings (a
    # massively skewed layout). Identical vectors always land in the same
    # cell, so regardless of how Lloyd carves the ball into cells, each
    # copy group collapses to exactly its min id (cross-group drops may
    # remove even those); the orthogonal singletons always survive.
    import math as _math

    def unit(t):
        return [_math.cos(t), _math.sin(t)] + [0.0] * 6

    protos = [unit(0.0), unit(0.4), unit(0.8)]  # pairwise cos < 0.93
    rows = [(i, protos[i % 3]) for i in range(90)]
    rows += [(100 + d, [0.0] * d + [1.0] + [0.0] * (7 - d)) for d in range(2, 6)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = sorted(r.vec_id for r in sim.semantic_dedup(
        emb, threshold=0.99, n_cells=4, iters=2
    ).collect())
    ball = [v for v in out if v < 90]
    # one survivor per copy group at most, and it is that group's min id
    assert set(ball) <= {0, 1, 2} and 0 in ball
    assert set(v for v in out if v >= 100) == {102, 103, 104, 105}


def test_model_caches_key_on_corpus(spark):
    # the train-once caches must never serve one corpus's model for
    # another: keys are (applicationId, kind, sf_dir).
    import os

    import pytest as _pytest

    from trading_etl_spark.queries import datapipe as dp

    a = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    b = "/root/testdata/sf0.01"
    if not (os.path.isdir(a) and os.path.isdir(b)):
        _pytest.skip("driver testdata corpora not present")
    ca1 = dp._trained_codebook(spark, a)
    ca2 = dp._trained_codebook(spark, a)
    cb = dp._trained_codebook(spark, b)
    assert ca1 is ca2          # same (app, corpus) → cached object
    assert ca1 is not cb       # different corpus → different model
    rows_a = {(r.cell, tuple(r.cv)) for r in ca1.rel.collect()}
    rows_b = {(r.cell, tuple(r.cv)) for r in cb.rel.collect()}
    assert rows_a != rows_b    # and genuinely different centroids
    # the driver-local rows are exactly the relation's rows, and they are
    # dropped and retrained together with their relation
    twin = ca1.rows
    assert twin == [(r.cell, list(r.cv)) for r in ca1.rel.collect()]
    from trading_etl_spark import cache

    cache.clear(spark, "codebook")
    retrained = dp._trained_codebook(spark, a)
    assert retrained is not ca1
    assert retrained.rel is not ca1.rel
    assert retrained.rows is not twin
    assert retrained.rows == twin


def test_write_training_shards_manifest_consistent(spark, tmp_path):
    import glob
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    docs = tx.load_documents(spark, sf_dir)
    packed = tx.pack_sequences(docs)
    out = str(tmp_path / "shards")
    manifest = {r.shard_id: r for r in tx.write_training_shards(packed, docs, out).collect()}
    # one directory per shard, and each holds exactly the manifest's docs
    dirs = sorted(glob.glob(f"{out}/shard_id=*"))
    assert len(dirs) == len(manifest) and manifest
    total_docs = 0
    for d in dirs:
        sid = int(d.rsplit("=", 1)[1])
        rows = spark.read.parquet(d).collect()
        assert len(rows) == manifest[sid].n_docs
        assert sum(r.n_tokens for r in rows) == manifest[sid].n_tokens
        assert all(r.text for r in rows)  # the text rode along
        total_docs += len(rows)
    assert total_docs == docs.count()


def test_decontaminate_fuzzy_flags_cross_split_near_dup(spark):
    """doc 3 hash-splits to TEST (md5('3')[:2]='ec'); doc 1 is TRAIN and
    near-duplicates it (one token changed); doc 2 is TRAIN and unrelated.
    Only doc 1 must be flagged, with jaccard < 1. A same-split near-dup
    pair (4 vs 5) must NOT appear — dedup's job, not decontamination's."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, base.replace("juliet", "kilo"), "en"),   # train, near-dup of 3
            (2, "totally different words entirely here now", "en"),  # train
            (3, base, "en"),                              # test split
            (4, "xray yankee zulu quebec romeo sierra tango", "en"),  # train
            (5, "xray yankee zulu quebec romeo sierra uniform", "en"),  # train
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["train_doc_id"]: r for r in tx.decontaminate_fuzzy(docs).collect()}
    assert set(got) == {1}
    assert got[1]["n_test_dups"] == 1
    assert 0.5 <= got[1]["max_jaccard"] < 1.0


def test_dedup_incremental_probes_corpus_only(spark):
    """r11: the incremental gate must pair batch docs (id % 10 == 7) ONLY
    with corpus docs — never batch×batch or corpus×corpus — and elect one
    dup-of per batch doc (highest jaccard, smallest corpus id on ties)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (3, base),                      # corpus original
        (13, base),                     # corpus exact dup of 3 (must NOT appear)
        (7, base + " extra"),           # batch near-dup of 3 and 13
        (17, base),                     # batch exact dup — ties 3 vs 13 → 3 wins
        (27, "totally different words here nothing shared with others at all"),
        (5, "another unrelated corpus document with its own tokens entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.dedup_incremental_minhash(docs).collect()}
    # only batch docs may appear, and 27 has no match
    assert set(out) <= {7, 17}
    assert 17 in out and out[17]["dup_of"] == 3  # tie → smallest corpus id
    assert out[17]["jaccard"] == 1.0
    assert 7 in out and out[7]["dup_of"] in (3, 13)
    assert 0.5 <= out[7]["jaccard"] < 1.0
    # exactly one row per matched batch doc (the top-1 election)
    assert tx.dedup_incremental_minhash(docs).groupBy("doc_id").count().filter(
        "count > 1"
    ).count() == 0


def _shingle_sets(texts):
    """{doc_id: set of distinct space-joined token 3-grams}."""
    out = {}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        out[doc_id] = {
            " ".join(toks[i:i + tx.SHINGLE_N])
            for i in range(len(toks) - tx.SHINGLE_N + 1)
        }
    return out


def _ratio6(num, den):
    """Half-up 6dp rounding of num/den over exact integers; None on den 0."""
    return ((2000000 * num + den) // (2 * den)) / 1000000.0 if den else None


def _jaccard6(a, b):
    return _ratio6(len(a & b), len(a | b))


def _band_collisions(sets):
    """Pairs (a < b) sharing any MinHash band key, recomputed from md5 the
    way the signature and band relations define it."""
    import hashlib
    from itertools import combinations

    r = tx.MINHASH_SEEDS // tx.MINHASH_BANDS
    keys = {}
    for doc_id, sh in sets.items():
        if not sh:
            continue  # no shingle rows → no signature, no band rows
        digests = [hashlib.md5(x.encode()).hexdigest() for x in sh]
        sig = [
            min(
                (int(d[:15], 16) + s * int(d[16:24], 16)) % tx.MINHASH_CW_P
                for d in digests
            )
            for s in range(tx.MINHASH_SEEDS)
        ]
        keys[doc_id] = {
            (b, hashlib.md5("|".join(str(h) for h in sig[b * r:(b + 1) * r])
                            .encode()).hexdigest())
            for b in range(tx.MINHASH_BANDS)
        }
    return {(a, b) for a, b in combinations(sorted(keys), 2) if keys[a] & keys[b]}


def test_minhash_containment_matches_brute_force(spark):
    """A short document planted verbatim inside a long one is contained
    in it (containment 1.0) while its jaccard stays below 1; an unrelated
    document shares no shingle and never appears. Both containment
    directions and the jaccard equal a brute force over the shingle sets,
    rounded half-up to 6dp."""
    short = " ".join(f"w{i}" for i in range(20))
    texts = {
        1: short,
        2: "lead in " + short + " tail words",
        3: "nothing here overlaps with any other document in this corpus",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = tx.dedup_minhash_containment(docs).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
    sets = _shingle_sets(texts)
    a, b = sets[1], sets[2]
    got = rows[0]
    assert got["containment_a_in_b"] == _ratio6(len(a & b), len(a)) == 1.0
    assert got["containment_b_in_a"] == _ratio6(len(a & b), len(b))
    assert got["jaccard"] == _jaccard6(a, b) < 1.0


def _lsh_eval_brute(texts, threshold=0.5):
    from itertools import combinations

    sets = _shingle_sets(texts)
    cand = _band_collisions(sets)
    verified = {p for p in cand if _jaccard6(sets[p[0]], sets[p[1]]) >= threshold}
    exact = {
        (a, b)
        for a, b in combinations(sorted(sets), 2)
        if sets[a] & sets[b] and _jaccard6(sets[a], sets[b]) >= threshold
    }
    return len(cand), len(verified), len(exact)


@pytest.mark.parametrize("corpus", ["near_dups", "disjoint"])
def test_lsh_eval_report_matches_brute_force(spark, corpus):
    """The report's three counts equal a brute force (band collisions
    recomputed from md5, jaccard over the shingle sets) and its two
    ratios are their 6dp ratios. On a corpus whose documents share no
    shingle nothing is exact, so recall is NULL, not an error."""
    if corpus == "near_dups":
        texts = {r[0]: r[1] for r in _docs(spark).collect()}
        base = "one two three four five six seven eight nine ten eleven twelve"
        texts.update({
            10: base,
            11: base.replace("twelve", "dozen"),
            12: base.replace("six", "half"),
        })
    else:
        texts = {i: " ".join(f"d{i}t{j}" for j in range(8)) for i in range(5)}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    (got,) = tx.lsh_eval_report(docs).collect()
    n_cand, n_ver, n_exact = _lsh_eval_brute(texts)
    assert (got["n_candidates"], got["n_verified"], got["n_exact"]) == (
        n_cand, n_ver, n_exact
    )
    assert got["candidate_precision"] == _ratio6(n_ver, n_cand)
    assert got["recall"] == _ratio6(n_ver, n_exact)
    if corpus == "disjoint":
        assert n_exact == 0 and got["recall"] is None
    else:
        assert n_exact > 0 and n_cand > 0


def test_hard_negatives_picks_similar_wrong_label(spark):
    """r11: the miner must rank by similarity WITHIN the wrong-label set,
    report the best same-label similarity as the positive, and exclude
    queries with no same-label partner (inner-join semantics)."""
    from trading_etl_spark.operators.similarity import hard_negatives

    rows = [
        # query 0, label 0; near-duplicate positive (id 10, label 0);
        # near-identical negative (id 11, label 1); far negative (id 12)
        (0, [1.0, 0.0, 0.0], 0),
        (10, [0.9, 0.1, 0.0], 0),
        (11, [1.0, 0.05, 0.0], 1),
        (12, [0.0, 1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>, label int")
    out = {
        (r["query_id"], r["rank"]): r
        for r in hard_negatives(emb, k=2, n_queries=1).collect()
    }
    top = out[(0, 1)]
    assert top["neighbor_id"] == 11  # the near-identical wrong-label vector
    assert out[(0, 2)]["neighbor_id"] == 12
    pos = (1.0 * 0.9) / (1.0 * math.sqrt(0.9**2 + 0.1**2))
    assert abs(top["positive_sim"] - round(pos, 6)) < 1e-6
    assert abs(top["margin"] - round(top["positive_sim"] - top["cos_sim"], 6)) < 1e-9
    # margin of the top negative is positive_sim - (near 1.0) < 0: harder
    # than the positive — exactly the pair a margin loss needs
    assert top["margin"] < 0


def test_mixture_plan_rates_and_epochs(spark):
    """r11: sampling_rate = weight·total/avail on 6dp-rounded values;
    epochs = ceil(rate); a lang absent from the spec drops out."""
    from trading_etl_spark.operators.text import mixture_plan

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s", 7),      # 4 tokens
            (2, "x y", "en", "s", 3),          # 2 tokens
            (3, "u v w x", "de", "s", 7),      # 4 tokens
            (4, "q r s t u v", "xx", "s", 11), # 6 tokens, not in spec
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {
        r["lang"]: r
        for r in mixture_plan(docs, {"en": 0.75, "de": 0.25}).collect()
    }
    assert set(out) == {"en", "de"}
    total = 16  # 4 + 2 + 4 + 6: the budget counts the WHOLE corpus
    assert out["en"]["avail_tokens"] == 6
    assert abs(out["en"]["sampling_rate"] - round(0.75 * total / 6, 6)) < 1e-9
    assert out["en"]["epochs"] == 2
    assert abs(out["de"]["sampling_rate"] - 1.0) < 1e-9
    assert out["de"]["epochs"] == 1


def test_plan_cache_key_reuse_and_isolation(spark, tmp_path):
    """The session cache keys a DataFrame param on (semanticHash,
    exprId-canonicalized plan string). Two invariants:

    - REUSE: two independently-built identical plans share ONE cached
      relation — exprIds increment globally per instantiation, so a key
      on the raw analyzed string would never match and the cache would
      silently get zero reuse (the bug this test pins);
    - ISOLATION: a genuinely different plan (other path, extra filter)
      gets a different key, so a cache hit can never serve the wrong
      relation (the ADVICE r11 semanticHash-collision concern).
    """
    from pyspark.sql import functions as F

    from trading_etl_spark import cache
    from trading_etl_spark.cache import plan_cache_key
    from trading_etl_spark.operators import text as tx

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    rows = [(i, f"tok{i} alpha beta gamma delta") for i in range(6)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p1)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p2)

    d1, d2 = spark.read.parquet(p1), spark.read.parquet(p1)
    assert plan_cache_key(d1) == plan_cache_key(d2)
    sh1 = tx._shingles_cached(d1)
    assert sh1 is tx._shingles_cached(d2)

    other_path = spark.read.parquet(p2)
    filtered = spark.read.parquet(p1).filter(F.col("doc_id") > 2)
    assert plan_cache_key(other_path) != plan_cache_key(d1)
    assert plan_cache_key(filtered) != plan_cache_key(d1)
    assert tx._shingles_cached(filtered) is not tx._shingles_cached(d1)

    assert cache.clear(spark, "shingles") >= 2
    assert tx._shingles_cached(d1) is not sh1


# --- simplified silhouette (r14) ----------------------------------------------

def test_silhouette_perfectly_separated_clusters_score_one(spark):
    """Two tight clusters far apart: every point sits ON its own centroid
    (a = 0) and far from the other (b >> 0), so s = 1.0 exactly for every
    point and the per-label mean is exactly 1.0 — the all-integer
    pipeline has no rounding slack on this input."""
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 1, [-1.0, 0.0]),
        (3, 1, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    got = {
        r["label"]: (r["n_points"], r["mean_silhouette"])
        for r in sim.cluster_silhouette(emb).collect()
    }
    assert got == {0: (2, 1.0), 1: (2, 1.0)}


def test_silhouette_interloper_lowers_its_label_mean(spark):
    """A label-0 point sitting between the clusters drags label 0's mean
    below label 1's, and no score leaves [-1, 1]."""
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.0, 0.0]),  # interloper: nearer the midpoint
        (3, 1, [-1.0, 0.0]),
        (4, 1, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    got = {r["label"]: r["mean_silhouette"] for r in sim.cluster_silhouette(emb).collect()}
    assert got[0] < got[1]
    assert all(-1.0 <= v <= 1.0 for v in got.values())


def test_silhouette_single_label_is_null_not_zero(spark):
    """k = 1 has no 'other' centroid, so silhouette is UNDEFINED: the mean
    must be NULL — including when points sit exactly ON their centroid
    (a = 0), where a naive greatest(a, NULL) = 0 branch would fake
    s = 0.0. n_points still counts the label's members."""
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),  # identical: a = 0, the branch-order trap
        (2, 0, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    out = sim.cluster_silhouette(emb).collect()
    assert len(out) == 1
    assert out[0]["n_points"] == 3
    assert out[0]["mean_silhouette"] is None


def test_silhouette_point_on_foreign_centroid_scores_negative(spark):
    """A label-0 point exactly ON label 1's centroid has b = 0 < a, so its
    s is negative — with one such point out of two, label 0's mean must
    go below zero while label 1 (tight, far) stays positive."""
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [-1.0, 0.0]),  # sits exactly on label 1's centroid
        (2, 1, [-1.0, 0.0]),
        (3, 1, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    got = {r["label"]: r["mean_silhouette"] for r in sim.cluster_silhouette(emb).collect()}
    assert got[0] < 0.0 < got[1]


def test_silhouette_null_labels_dropped_not_crash(spark):
    """Unassigned (NULL-label) points have no cluster to score against:
    they are dropped, the labeled points score normally, and the
    driver-side codebook build never sees a NULL key."""
    rows = [
        (0, None, [9.0, 9.0]),  # unassigned — must not poison the codebook
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.0]),
        (3, 1, [-1.0, 0.0]),
        (4, 1, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, emb array<double>")
    got = {
        r["label"]: (r["n_points"], r["mean_silhouette"])
        for r in sim.cluster_silhouette(emb).collect()
    }
    assert got == {0: (2, 1.0), 1: (2, 1.0)}


def test_silhouette_empty_input_returns_empty_frame(spark):
    """Empty input (or all labels NULL) must yield a 0-row frame with the
    contract schema — not an untyped-literal AnalysisException."""
    empty = spark.createDataFrame([], "vec_id long, label int, emb array<double>")
    out = sim.cluster_silhouette(empty)
    assert [f.name for f in out.schema.fields] == [
        "label", "n_points", "mean_silhouette",
    ]
    assert out.count() == 0
    all_null = spark.createDataFrame(
        [(0, None, [1.0, 0.0])], "vec_id long, label int, emb array<double>"
    )
    assert sim.cluster_silhouette(all_null).count() == 0


def test_silhouette_overflow_contract_fails_loudly(spark):
    """ADVICE r14: the |component| ≤ SIL_MAX_ABS overflow contract is
    ENFORCED at quantization time, not assumed — an out-of-bound vector
    must raise (Spark raise_error), never wrap silently in the non-ANSI
    BIGINT pipeline. In-bound magnitudes (10× unit norm) stay fine."""
    import pytest
    from py4j.protocol import Py4JJavaError

    ok = spark.createDataFrame(
        [(0, 0, [sim.SIL_MAX_ABS, 0.0]), (1, 1, [-sim.SIL_MAX_ABS, 0.0])],
        "vec_id long, label int, emb array<double>",
    )
    assert sim.cluster_silhouette(ok).count() == 2

    bad = spark.createDataFrame(
        [(0, 0, [sim.SIL_MAX_ABS * 1.1, 0.0]), (1, 1, [-1.0, 0.0])],
        "vec_id long, label int, emb array<double>",
    )
    with pytest.raises(Exception, match="overflow contract") as exc:
        sim.cluster_silhouette(bad).collect()
    assert isinstance(exc.value, Py4JJavaError) or "raise_error" in str(
        type(exc.value)
    ) or "overflow contract" in str(exc.value)

    # a NULL component is corrupt data, not an overflow: it must raise
    # too, with a message naming the actual cause (r15 self-review — a
    # single-arm CASE would misdiagnose the NULL as an overflow)
    corrupt = spark.createDataFrame(
        [(0, 0, [1.0, None]), (1, 1, [-1.0, 0.0])],
        "vec_id long, label int, emb array<double>",
    )
    with pytest.raises(Exception, match="NULL component"):
        sim.cluster_silhouette(corrupt).collect()


def test_silhouette_dim_guard_fails_loudly(spark):
    """ADVICE r15: the SIL_MAX_ABS headroom derivation only bounds the
    BIGINT s-ratio for dim <= SIL_MAX_DIM (115 at the current grid) — a
    higher-dim vector with max-magnitude components could wrap Spark's
    non-ANSI BIGINT path while DuckDB raises. The dim arm enforces the
    derivation itself, on both engines; a dim-115 in-bound vector passes."""
    import duckdb
    import pytest

    assert sim.SIL_MAX_DIM == 115
    ok = spark.createDataFrame(
        [(0, 0, [1.0] * sim.SIL_MAX_DIM), (1, 1, [-1.0] * sim.SIL_MAX_DIM)],
        "vec_id long, label int, emb array<double>",
    )
    assert sim.cluster_silhouette(ok).count() == 2

    bad = spark.createDataFrame(
        [(0, 0, [1.0] * (sim.SIL_MAX_DIM + 1)), (1, 1, [-1.0] * (sim.SIL_MAX_DIM + 1))],
        "vec_id long, label int, emb array<double>",
    )
    with pytest.raises(Exception, match="overflow headroom"):
        sim.cluster_silhouette(bad).collect()

    # the DuckDB oracle twin carries the SAME dim arm (error() vs
    # raise_error): a >SIL_MAX_DIM fixture fails on both engines, never
    # asymmetrically
    from trading_etl_spark.queries.datapipe import ORACLES

    sql = ORACLES["embedding_cluster_silhouette"]
    con = duckdb.connect()
    # unit components so ONLY the dim arm can fire (a large component
    # would trip the component-overflow arm first)
    con.execute(
        "CREATE VIEW embeddings AS SELECT 0 AS vec_id, 0 AS label, "
        f"[{', '.join('1.0' for _ in range(sim.SIL_MAX_DIM + 1))}]::DOUBLE[]"
        " AS embedding"
    )
    with pytest.raises(Exception, match="dim overflow-headroom"):
        con.execute(sql).fetchall()


def test_silhouette_codebook_literal_ceiling_guard(spark, monkeypatch):
    """VERDICT r14 watch item: the k·dim codebook inlines as SQL literals,
    which is the wrong plan shape past SIL_MAX_CODEBOOK_LITERALS — above
    the ceiling the operator must raise ValueError naming the
    broadcast-join alternative, never silently compile a multi-MB
    expression. Pinned by lowering the ceiling under a 2-label·2-dim
    codebook (k·dim = 4 > 3)."""
    import pytest

    emb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 1, [-1.0, 0.0])],
        "vec_id long, label int, emb array<double>",
    )
    monkeypatch.setattr(sim, "SIL_MAX_CODEBOOK_LITERALS", 3)
    with pytest.raises(ValueError, match="literal-plan ceiling"):
        sim.cluster_silhouette(emb)
    monkeypatch.setattr(sim, "SIL_MAX_CODEBOOK_LITERALS", 4)
    assert sim.cluster_silhouette(emb).count() == 2
