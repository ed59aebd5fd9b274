"""LLM-training-data-pipeline query surface: deduplication, similarity
search, and text analysis over the ``documents`` / ``embeddings`` tables
(north-star extensions — no reference analog; see SURVEY.md §7 phase 8).

Same conventions as queries/trading.py: identical column aliases on both
sides, 6dp rounding on arithmetic floats, integer counts cast to BIGINT on
the Spark side (DuckDB len()/count() return int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cached, materialize
from ..operators import graph as gr
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cached value is the UNMATERIALIZED handle, no rows: each
    # spark.read.parquet re-lists the path and re-reads the footer on the
    # driver (~70 ms), and each downstream plan_cache_key re-analyzes the
    # fresh plan; ~40 query functions in this module paid that per call.
    return cached(spark, "docs", lambda: tx.load_documents(spark, sf_dir), sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached(spark, "emb", lambda: sim.load_embeddings(spark, sf_dir), sf_dir)


def _as_long(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# --- deduplication ------------------------------------------------------------

def _bpe_fitted(spark: SparkSession, sf_dir: str):
    """The fitted BPE state (merge tuples + final vocabulary relation),
    train-once per (app, sf_dir) like :func:`_trained_codebook`: both BPE
    queries (merge table, fertility stats) share one fit instead of
    re-running the 12-round driver loop each."""
    return cached(
        spark,
        "bpe",
        lambda: tx._bpe_fit(tx.load_documents(spark, sf_dir), tx.BPE_MERGES),
        sf_dir,
    )


def _split_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, 8-gram shingle, split) relation both decontamination
    paths probe (in a real pipeline a materialized intermediate table; the
    shingle explode is the family's most expensive map stage)."""
    return cached(
        spark,
        "split_shingles",
        lambda: materialize(
            tx.shingles(_docs(spark, sf_dir), n=tx.CONTAM_SHINGLE_N)
            .withColumn("split", tx._split_col())
        ),
        sf_dir,
    )


def _trained_codebook(spark: SparkSession, sf_dir: str) -> sim.Codebook:
    """The trained coarse quantizer, both forms in ONE entry so the rows
    can never outlive their relation. It is a model artifact: trained once
    per (app, corpus), it serves kmeans-IVF, the IVFADC coarse stage and
    SemDeDup's cells."""
    return cached(
        spark, "codebook", lambda: sim.kmeans_codebook(_emb(spark, sf_dir)), sf_dir
    )


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached IVF inverted-list relation: corpus cell
    assignments + norms are index-BUILD state (what FAISS's IndexIVF
    stores), so serving reads the prebuilt lists instead of re-running
    the Arrow assignment stage per query. Measured at sf0.1: the serving
    path drops from ~1.45 s to the probe join alone (bench line
    ivf_index_build_cold keeps the build cost measured)."""
    return cached(
        spark,
        "ivf_index",
        lambda: materialize(
            sim.ivf_inverted_index(
                _emb(spark, sf_dir), _trained_codebook(spark, sf_dir)
            )
        ),
        sf_dir,
    )


def _pq(spark: SparkSession, sf_dir: str):
    """The trained PQ model (codes relation + per-subspace books) shared by
    pq_codes / ADC search / IVFADC."""
    return cached(spark, "pq", lambda: sim.pq_model(_emb(spark, sf_dir)), sf_dir)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keeper = min doc_id."""
    return tx.dedup_exact(_docs(spark, sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (bands → bucket join → jaccard verify)."""
    return tx.dedup_minhash_lsh(_docs(spark, sf_dir))


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-jaccard near-dup pairs (quadratic verification baseline)."""
    return tx.dedup_ngram_jaccard(_docs(spark, sf_dir))


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED: strip ≥16-token duplicated
    spans keeping each window's first (doc_id, pos) occurrence; per-doc
    before/removed/after counts + cleaned-text md5."""
    return tx.strip_duplicate_spans(_docs(spark, sf_dir))


def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over the banded LSH candidates:
    the doc-in-doc detector a jaccard gate misses."""
    return tx.dedup_minhash_containment(_docs(spark, sf_dir))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus near-dedup: each newly
    ingested doc's single best corpus match over the banded LSH probe —
    the steady-state ingest gate of a production corpus build."""
    return tx.dedup_incremental_minhash(_docs(spark, sf_dir))


def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding quality report: candidate precision +
    empirical recall vs the exact co-shingle baseline — the sampled eval
    a dedup rollout runs before trusting LSH at corpus scale."""
    return tx.lsh_eval_report(_docs(spark, sf_dir))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash signature per document."""
    return tx.simhash(_docs(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band-bucket join + exact hamming verify
    (lossless for hamming ≤ 3 by pigeonhole over 4 bands)."""
    return tx.dedup_simhash(_docs(spark, sf_dir))


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold (exact all-pairs
    baseline — quadratic; the LSH twin below is the production path)."""
    return sim.embedding_near_dup(_emb(spark, sf_dir))


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup: SRP-LSH banded candidates → exact cosine
    verify. Tuned so recall is certain at the 0.35 threshold (miss ≈ 4e-7
    per pair) — the oracle is the exact all-pairs SQL."""
    return sim.embedding_near_dup_lsh(_emb(spark, sf_dir))


def q_dedup_keeper_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup capstone composition: near-dup pair finding
    (SRP-LSH, certain recall) → connected components (which cluster) →
    PageRank (which member matters) → per-cluster keeper election by
    HIGHEST centrality, ties to the lowest vec_id — canonicalization by
    representativeness instead of min-id. All three stages are the
    already-verified operators composed; the oracle composes their SQL
    twins (recursive reachability + the chained power-iteration CTEs) and
    elects with the same (rank DESC, vec_id ASC) rule."""
    from ..operators.graph import connected_components_two_phase, pagerank

    emb = _emb(spark, sf_dir)
    # Materialize the verified pair relation ONCE inside the query (guide
    # §5 lineage truncation — the triangle_stats/pagerank pattern):
    # BOTH graph stages (CC and PageRank) eagerly checkpoint derived edge
    # relations from `pairs`, so without this the SRP candidate join +
    # cosine verification ran twice per call (measured ~2× the edge-
    # derivation cost at sf0.1).
    pairs = sim.embedding_near_dup_lsh(emb).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    ).localCheckpoint()
    nodes = emb.select(F.col("vec_id").alias("id"))
    comp = connected_components_two_phase(nodes, pairs)
    ranks = pagerank(nodes, pairs)
    scored = comp.join(ranks, "id")
    keepers = scored.groupBy("comp").agg(
        F.max_by(
            "id", F.struct(F.col("rank"), (-F.col("id")).alias("nid"))
        ).alias("keeper_id")
    )
    return (
        scored.join(keepers, "comp")
        .select(
            F.col("id").alias("vec_id"),
            F.col("comp").alias("component_id"),
            "keeper_id",
            (F.col("id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE fertility stats: whitespace vs trained-BPE token
    counts per document and their ratio — the tokenizer-evaluation query
    run before freezing a vocabulary. Shares the train-once fitted state
    with bpe_train_merges (:func:`_bpe_fitted`)."""
    return tx.bpe_encode_stats(
        tx.load_documents(spark, sf_dir), fitted=_bpe_fitted(spark, sf_dir)
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-merge training over the documents corpus:
    the 12 highest-count adjacent-symbol merges, character-level start,
    word-frequency weighted, deterministic tie-break — see
    operators/text.py::bpe_train. Oracle: the identical fixed-iteration
    trajectory as chained CTEs (relational leftmost-greedy application).
    Trains once per (app, corpus) via :func:`_bpe_fitted`."""
    return tx.bpe_train(
        tx.load_documents(spark, sf_dir), fitted=_bpe_fitted(spark, sf_dir)
    )


def q_dupgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle/transitivity report over the embedding near-dup graph:
    n_nodes (nodes with ≥1 edge), n_edges, n_triangles,
    n_wedges, transitivity = 3·triangles/wedges — the clustering-quality
    diagnostic of the dup graph (dense clusters → near 1; chains of
    borderline pairs → near 0, a banding-threshold smell). Edges are the
    SRP-LSH verified pairs (certain recall at the 0.35 threshold), so the
    oracle counts over the exact all-pairs edge set."""
    from ..operators.graph import triangle_stats

    pairs = sim.embedding_near_dup_lsh(_emb(spark, sf_dir))
    return triangle_stats(pairs, a_col="vec_a", b_col="vec_b")


def q_dupgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding near-dup graph: 5 power
    iterations, damping 0.85, teleport-only dangling mass — scores each
    vector by how central it is to its near-dup neighborhood (the
    representativeness-based keeper choice; CC picks clusters, this ranks
    members). Edges are the SRP-LSH verified pairs (certain recall at the
    0.35 threshold), so the oracle chains 5 non-recursive CTEs over the
    exact all-pairs edge set."""
    from ..operators.graph import pagerank

    emb = _emb(spark, sf_dir)
    pairs = sim.embedding_near_dup_lsh(emb)
    return pagerank(
        emb.select(F.col("vec_id").alias("id")),
        pairs,
        id_col="id",
        src="vec_a",
        dst="vec_b",
    ).select(F.col("id").alias("vec_id"), "rank")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster canonicalization: simhash near-dup pairs → connected
    components (union-find on the driver up to
    ``graph.DRIVER_CC_MAX_EDGES`` edges, large-star/small-star above it:
    O(log n) rounds on any topology — Kiveris et al., SoCC'14) → one
    keeper per cluster (component_id = min doc_id; singletons keep
    themselves). Registered under both
    ``dedup_connected_components`` and ``dedup_cc_two_phase``, which share
    one oracle."""
    docs = _docs(spark, sf_dir)
    pairs = tx.dedup_simhash(docs)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    labels = gr.connected_components_two_phase(
        docs.select("doc_id"), edges, id_col="doc_id"
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("comp") == F.col("id")).alias("is_keeper"),
    )


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-banded) decontamination: train docs that
    NEAR-duplicate a test-split doc — the LSH complement of the exact
    8-gram scan; paraphrased eval leakage shares few exact n-grams but
    survives banding. Same O(collisions) shape as dedup_minhash_lsh."""
    return tx.decontaminate_fuzzy(_docs(spark, sf_dir))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leak scan: train-split docs sharing any 8-gram with the
    test split (broadcast test shingles; map-side probe over train).
    The fixture's hash-split test side is known-small, so the broadcast
    path is forced rather than paying the auto-sizing count."""
    return tx.decontaminate(
        _docs(spark, sf_dir),
        broadcast_test=True,
        split_shingles=_split_shingles(spark, sf_dir),
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion: the BM25
    top-20 (fixed query terms) fused with the dense cosine top-20 against
    the vec_id-0 query embedding (doc_id ≡ vec_id in the fixture —
    the document's embedding row). RRF keeps the incomparable raw scores
    apart and combines ranks only. The dense leg here is the one-query
    exact scan (full scan + TakeOrderedAndProject — the right plan for a
    single ad-hoc query); at scale with standing query load it swaps for
    the IVFADC index path, same (doc_id, rank) contract."""
    lex = tx.bm25_scores(_docs(spark, sf_dir)).select("doc_id", "rank")
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(sim.cosine("emb", "qv"), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(tx.BM25_TOP_K)
        .coalesce(1)
        .withColumn("rank", (F.monotonically_increasing_id() + F.lit(1)).cast("long"))
        .select("doc_id", "rank")
    )
    return tx.rrf_fuse(lex, dense, k=10)


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward the src0 domain:
    importance weight = exp(mean token log-ratio of the target vs raw
    unigram LMs), deterministic A-Res top-30 by u^(1/w) keys."""
    return tx.dsir_resample(_docs(spark, sf_dir))


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-leak scan through the Bloom runtime-prefilter path:
    broadcast 128 KiB bitmap probe map-side, exact confirm
    join kills false positives — result identical to the broadcast
    decontaminate, certified by the SAME oracle."""
    return tx.decontaminate_bloom(
        _docs(spark, sf_dir), split_shingles=_split_shingles(spark, sf_dir)
    )


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc passage-duplication profile over 16-token passages."""
    return _as_long(tx.passage_dedup(_docs(spark, sf_dir)), "n_passages")


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2022): maximal
    ≥16-token verbatim cross-document spans per document, located by
    position. See
    operators/text.py::exact_substring_spans for the construction and the
    one documented relaxation vs a true suffix array."""
    return tx.exact_substring_spans(_docs(spark, sf_dir))


# --- similarity search --------------------------------------------------------

def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the query vectors (exact baseline)."""
    return _as_long(sim.knn_bruteforce(_emb(spark, sf_dir)), "rank")


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (label column)."""
    return _as_long(sim.knn_ivf(_emb(spark, sf_dir)), "rank")


def q_knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, centroid-ranked nprobe=2 — the production probe shape."""
    return _as_long(sim.knn_ivf_multiprobe(_emb(spark, sf_dir)), "rank")


def q_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED k-means codebook (deterministic Lloyd) —
    the no-label production path; nprobe=2 of 8 learned cells."""
    return _as_long(
        sim.knn_ivf_kmeans(
            _emb(spark, sf_dir),
            codebook=_trained_codebook(spark, sf_dir),
            assigned=_ivf_index(spark, sf_dir),
        ),
        "rank",
    )


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k report — the pre-rollout quality gate for the
    IVF serving path, the ANN analog of dedup_lsh_eval: exact brute-force
    top-k as ground truth, trained-kmeans IVF top-k (nprobe=2 of 8 cells)
    as the candidate, one report row (n_queries, k, n_exact, n_hits,
    recall_at_k). Both sides are themselves oracle-verified queries, so
    the recall number is engine-independent; the exact side is the
    sampled-eval baseline, not a production path (the production path IS
    the IVF being evaluated). Lazily cross-joined 1-row aggregates — no
    eager action at build time."""
    e = _emb(spark, sf_dir)
    exact = sim.knn_bruteforce(e).select("query_id", "neighbor_id")
    approx = sim.knn_ivf_kmeans(
        e,
        codebook=_trained_codebook(spark, sf_dir),
        assigned=_ivf_index(spark, sf_dir),
    ).select("query_id", "neighbor_id")
    totals = exact.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return totals.crossJoin(hits).select(
        "n_queries",
        F.lit(sim.TOP_K).alias("k"),
        "n_exact",
        "n_hits",
        tx.ratio6(F.col("n_hits"), F.col("n_exact")).alias("recall_at_k"),
    )


def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-k cosine among corpus
    vectors matching a metadata predicate (label = 2), predicate pushed
    to the parquet scan — retrieval-with-constraints, the shape every
    production vector store serves."""
    return _as_long(sim.knn_filtered(_emb(spark, sf_dir)), "rank")


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/2/3 n-gram diversity per document — map-side
    n-gram construction + array_distinct, zero shuffles."""
    return tx.ngram_diversity(_docs(spark, sf_dir))


def q_ivf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell quantizer drift report: the retrain gate of the
    ANN lifecycle, over the cached codebook + inverted lists."""
    return sim.ivf_drift_report(
        _emb(spark, sf_dir),
        _trained_codebook(spark, sf_dir),
        assigned=_ivf_index(spark, sf_dir),
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query, the top-k
    most-similar DIFFERENT-label vectors with the positive-similarity
    margin — the training-pair miner for embedding models."""
    return _as_long(sim.hard_negatives(_emb(spark, sf_dir)), "rank")


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified silhouette: the cluster-quality
    eval of the embedding lifecycle — all-integer (quantized grid), so
    the score is order-, partitioning- and engine-independent."""
    return sim.cluster_silhouette(_emb(spark, sf_dir))


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture sampling plan: per-lang sampling rates
    and epoch counts for the target weights — |langs| output rows at any
    corpus size."""
    return tx.mixture_plan(_docs(spark, sf_dir))


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means 'update' step / IVF coarse
    codebook refresh): posexplode → one hash-agg keyed (label, pos). Partial
    aggregation bounds the shuffle at |labels|×dim rows regardless of corpus
    size — the scalable form of vector averaging."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count("*").alias("n_members"),
        )
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard packing: docs → fixed-token-budget training shards via the
    two-pass distributed prefix sum (no global single-partition window)."""
    return tx.pack_sequences(_docs(spark, sf_dir))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with audit counts — map-side regex chain, scan-speed."""
    return tx.pii_redact(_docs(spark, sf_dir))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (A-Res, deterministic md5 keys):
    top-30 keys per language, weight = 6dp quality score."""
    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "lang").join(
        tx.quality_score(docs).select("doc_id", "quality"), "doc_id"
    )
    return tx.weighted_sample(scored)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunking (32-token windows, stride 24) —
    map-side transform + posexplode, zero shuffles."""
    return tx.chunk_documents(_docs(spark, sf_dir))


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: PMI of adjacent token pairs (map-side
    bigram build, hash-agg with partial combine, vocabulary-sized joins)."""
    return tx.bigram_pmi(_docs(spark, sf_dir))


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality gate → exact dedup over the
    survivors — the filter→dedup chain every corpus build runs, as ONE
    lineage (quality hash-agg feeds the dedup hash-agg; no intermediate
    materialization)."""
    docs = _docs(spark, sf_dir)
    passing = tx.quality_score(docs).filter(
        (F.col("quality") >= 0.5) & (F.col("n_tokens") >= 5)
    )
    kept = docs.join(passing.select("doc_id", "quality"), "doc_id")
    return (
        kept.select("doc_id", "quality", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


# --- text analysis ------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        tx.token_count(_docs(spark, sf_dir)), "n_tokens", "n_words", "n_chars_measured"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_docs(spark, sf_dir))


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(tx.rolling_fingerprint(_docs(spark, sf_dir)), "n_tokens")


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split by md5 hash bucket of doc_id —
    stable across runs/engines/cluster sizes (the property a training
    pipeline needs; random sampling is none of those). Hex strings compare
    lexicographically identically in Spark and DuckDB, so the threshold
    'e6' (= 230/256 ≈ 89.8% train) needs no hex→int conversion."""
    docs = _docs(spark, sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(h < "e6", "train").otherwise("test").alias("split"),
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    langs = sorted(tx.LANG_STOPWORDS)
    return _as_long(tx.lang_id(_docs(spark, sf_dir)), *[f"hits_{la}" for la in langs])


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter terms per language (explode → count → rank top-k)."""
    return tx.top_terms_per_lang(_docs(spark, sf_dir))


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 terms (smooth idf), rounded-score ranking."""
    return _as_long(tx.tfidf_top_terms(_docs(spark, sf_dir)), "tf")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for the fixed demo query-term set."""
    return tx.bm25_scores(_docs(spark, sf_dir))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: dup-2-gram + most-common-word fractions,
    computed map-side with higher-order array functions (no shuffle)."""
    return tx.repetition_stats(_docs(spark, sf_dir))


SAMPLE_RATE_HEX: dict[str, str] = {
    # lang → first-2-hex-chars threshold of md5(doc_id): P(keep) = int(hex)/256
    "en": "80",  # 0.500
    "de": "4d",  # 0.301
    "es": "4d",
    "fr": "4d",
    "zh": "26",  # 0.148
}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates via md5
    hash-bucket thresholds (same lexicographic-hex trick as
    train_test_split) — reproducible across engines, runs, and cluster
    sizes, unlike rand()-based sampleBy."""
    docs = _docs(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thr = None
    for lang, hx in sorted(SAMPLE_RATE_HEX.items()):
        thr = (
            F.when(F.col("lang") == lang, hx)
            if thr is None
            else thr.when(F.col("lang") == lang, hx)
        )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), thr.alias("thr"))
        .filter(F.col("bucket") < F.col("thr"))
        .select("doc_id", "lang", "bucket")
    )


def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings (map-side, no shuffle)."""
    return _as_long(sim.quantize_int8(_emb(spark, sf_dir)), "n_saturated")


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (4 subspaces × 8 centroids, deterministic
    per-subspace Lloyd) — the compressed ANN sidecar beyond int8."""
    return sim.pq_codes(_emb(spark, sf_dir), model=_pq(spark, sf_dir))


def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over PQ codes via asymmetric distance computation: per-query
    m×k lookup tables, candidates scored by code cells only."""
    return _as_long(
        sim.knn_pq_adc(_emb(spark, sf_dir), model=_pq(spark, sf_dir)), "rank"
    )


def q_knn_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: kmeans coarse quantizer restricts candidates to the nprobe=2
    nearest of 8 learned cells; PQ codes + ADC tables score them — the
    composed production ANN read path (Jégou et al. 2011)."""
    return _as_long(
        sim.knn_ivfadc(
            _emb(spark, sf_dir),
            codebook=_trained_codebook(spark, sf_dir),
            pq=_pq(spark, sf_dir),
            assigned=_ivf_index(spark, sf_dir),
        ),
        "rank",
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: trained-kmeans cells bound the pairwise cosine
    compare; within-cell duplicate balls keep their min-id member. Output =
    surviving (vec_id, cell)."""
    return _as_long(
        sim.semantic_dedup(
            _emb(spark, sf_dir), codebook=_trained_codebook(spark, sf_dir)
        ),
        "cell",
    )


def q_knn_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage ANN: coarse rank on the first 16
    dims (4x narrower scan), exact full-dim rerank of the top-32
    candidates per query."""
    return _as_long(sim.knn_matryoshka(_emb(spark, sf_dir)), "rank")


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture domain sampling: per-source md5-bucket weights (1-4×),
    budget bounded by the scarcest source, deterministic md5 keep draws."""
    docs = _docs(spark, sf_dir).withColumn("weight", F.expr(tx.DOMAIN_WEIGHT_EXPR))
    return tx.domain_mix_sample(docs)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter tokens (depth 4 × width 256 counters,
    threshold 500) — constant-memory high-frequency monitoring."""
    return tx.cms_heavy_hitters(_docs(spark, sf_dir))


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): documents ranked by the corpus-trained
    unigram-LM score and cut into head/middle/tail TERCILES per language —
    the quality tiers CCNet samples from when building CommonCrawl
    corpora. ntile over the (desc score, doc_id) TOTAL order is
    engine-independent; the per-lang window shuffles the tiny
    (doc_id, lang, score) projection only."""
    docs = _docs(spark, sf_dir)
    lp = tx.unigram_logprob(docs).select("doc_id", "mean_logprob")
    d = docs.select("doc_id", "lang").join(lp, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_logprob"), F.asc("doc_id")
    )
    tier = F.ntile(3).over(w)
    bucket = (
        F.when(tier == 1, "head").when(tier == 2, "middle").otherwise("tail")
    )
    return d.select("doc_id", "lang", "mean_logprob", bucket.alias("bucket"))


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one unigram LM mean log-prob per doc — the
    KenLM-perplexity-style quality signal, pure DataFrame aggregation."""
    return _as_long(tx.unigram_logprob(_docs(spark, sf_dir)), "n_tokens")


# --- multimodal ---------------------------------------------------------------

def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media payloads → typed metadata via Arrow-batched mapInPandas
    (decode kernel is a deterministic fake — codecs absent in container)."""
    return mm.extract_media_meta(mm.media_from_documents(_docs(spark, sf_dir)))


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling of video payloads (frame bytes summarized as md5 so
    the result is hash-comparable)."""
    frames = mm.sample_frames(mm.media_from_documents(_docs(spark, sf_dir)))
    return frames.select(
        "media_id", "frame_idx", F.md5("frame").alias("frame_md5")
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel resize: synthesized 24-bit BMP
    payloads decoded, nearest-neighbor-downscaled to max_dim=16, and
    re-encoded — all pure NumPy in the Arrow-batched kernel. The oracle
    recomputes the integer-math output dims and BMP byte length; pixel
    values are pytest-verified against a NumPy reference
    (tests/test_multimodal.py)."""
    resized = mm.resize_images(
        mm.bmp_media_from_documents(_docs(spark, sf_dir)), max_dim=16
    )
    return resized.select("media_id", "width", "height", "byte_len")


def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL perceptual dHash fingerprints: synthesized BMP
    payloads pixel-decoded, grayscaled, 9×8-sampled, and packed into a
    64-bit difference hash — the image near-dup fingerprint (band it like
    dedup_simhash for the scaled join). The oracle recomputes every bit
    in closed form from the pixel model, so decoder/grayscale/sampling
    drift all surface as a hash mismatch."""
    return mm.image_dhash(mm.bmp_media_from_documents(_docs(spark, sf_dir)))


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction (the WAV analog of the BMP pixel
    path): synthesized 16-bit PCM WAV payloads RIFF-decoded and
    reduced to waveform stats (duration, rms, peak, zero crossings) in
    the Arrow-batched kernel. Every sample value is a closed-form
    function of doc_id, so the oracle recomputes the features from
    generate_series — a wrong encoder, decoder, or reducer all surface
    as a hash mismatch."""
    return mm.audio_features(mm.wav_media_from_documents(_docs(spark, sf_dir)))


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_minhash_containment": q_minhash_containment,
    "dedup_incremental_minhash": q_dedup_incremental,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "dedup_lsh_eval": q_lsh_eval,
    "dedup_simhash": q_dedup_simhash,
    "dedup_connected_components": q_dedup_components,
    "dedup_cc_two_phase": q_dedup_components,
    "decontaminate_train_ngrams": q_decontaminate,
    "decontaminate_bloom_prefilter": q_decontaminate_bloom,
    "decontaminate_fuzzy_lsh": q_decontaminate_fuzzy,
    "corpus_dsir_resample": q_dsir_resample,
    "hybrid_search_rrf": q_hybrid_search,
    "embedding_knn_matryoshka": q_knn_matryoshka,
    "text_ccnet_ppl_buckets": q_ccnet_ppl_buckets,
    "dedup_passages": q_passage_dedup,
    "dedup_exact_substring": q_exact_substring,
    "corpus_strip_dup_spans": q_strip_dup_spans,
    "dupgraph_pagerank": q_dupgraph_pagerank,
    "dupgraph_triangle_stats": q_dupgraph_triangles,
    "dedup_keeper_centrality": q_dedup_keeper_centrality,
    "bpe_train_merges": q_bpe_train,
    "bpe_encode_fertility": q_bpe_encode,
    "text_simhash": q_simhash,
    "embedding_near_dup": q_emb_near_dup,
    "embedding_near_dup_lsh": q_emb_near_dup_lsh,
    "embedding_knn_bruteforce": q_knn_brute,
    "embedding_knn_ivf": q_knn_ivf,
    "embedding_knn_ivf_multiprobe": q_knn_ivf_multiprobe,
    "embedding_knn_ivf_kmeans": q_knn_ivf_kmeans,
    "embedding_knn_filtered": q_knn_filtered,
    "embedding_ann_recall_eval": q_ann_recall_eval,
    "embedding_ivf_drift_report": q_ivf_drift_report,
    "embedding_hard_negatives": q_hard_negatives,
    "embedding_cluster_silhouette": q_cluster_silhouette,
    "corpus_mixture_plan": q_mixture_plan,
    "text_ngram_diversity": q_ngram_diversity,
    "embedding_label_centroids": q_emb_centroids,
    "corpus_clean_pipeline": q_corpus_clean,
    "text_token_count": q_token_count,
    "text_fingerprint": q_fingerprint,
    "text_rolling_fingerprint": q_rolling_fingerprint,
    "train_test_split": q_train_test_split,
    "text_quality_score": q_quality,
    "text_lang_id": q_lang_id,
    "text_top_terms_per_lang": q_top_terms,
    "text_tfidf_top_terms": q_tfidf,
    "text_bigram_pmi": q_bigram_pmi,
    "sample_weighted_quality": q_weighted_sample,
    "text_chunk_rag": q_chunk_documents,
    "bm25_search": q_bm25,
    "text_repetition_filter": q_repetition,
    "text_pii_redact": q_pii_redact,
    "corpus_pack_sequences": q_pack_sequences,
    "stratified_sample_by_lang": q_stratified_sample,
    "corpus_domain_mix": q_domain_mix,
    "text_unigram_logprob": q_unigram_logprob,
    "text_heavy_hitters_cms": q_cms_heavy_hitters,
    "embedding_pq_codes": q_pq_codes,
    "embedding_knn_pq_adc": q_knn_pq_adc,
    "embedding_knn_ivfadc": q_knn_ivfadc,
    "dedup_semantic_kmeans": q_semantic_dedup,
    "embedding_quantize_int8": q_quantize,
    "media_extract_meta": q_media_meta,
    "media_frame_sample": q_media_frame_sample,
    "media_resize": q_media_resize,
    "media_audio_features": q_media_audio_features,
    "media_dhash": q_media_dhash,
}


# --- DuckDB oracle twins -------------------------------------------------------

def _with(*parts: str) -> str:
    return "WITH " + ",\n".join(parts)


def _sql_in(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


_EN = _sql_in(tx.LANG_STOPWORDS["en"])

_QUALITY_SQL = f"""
SELECT doc_id,
       len(t)::DOUBLE AS n_tokens,
       ((2000000 * (length(text) - (len(t) - 1)) + (len(t))) // (2 * (len(t)))) / 1000000.0 AS mean_token_len,
       ((2000000 * (len(list_filter(t, x -> x IN {_EN}))) + (len(t))) // (2 * (len(t)))) / 1000000.0 AS stopword_ratio,
       round(least(len(t) / 100.0, 1.0) * 0.4
             + least(len(list_filter(t, x -> x IN {_EN}))::DOUBLE / len(t) * 5.0, 1.0) * 0.3
             + CASE WHEN (length(text)::DOUBLE - (len(t) - 1)) / len(t) BETWEEN 3.0 AND 8.0
                    THEN 0.3 ELSE 0.0 END, 6) AS quality
FROM toks
""".strip()


def _lang_id_sql() -> str:
    langs = sorted(tx.LANG_STOPWORDS)
    hits = ",\n         ".join(
        f"len(list_filter(t, x -> x IN {_sql_in(tx.LANG_STOPWORDS[la])})) AS hits_{la}"
        for la in langs
    )
    # chained-CASE argmax, alphabetical tie-break — mirrors text.lang_id
    cases = []
    for i, la in enumerate(langs[:-1]):
        cond = " AND ".join(f"hits_{la} >= hits_{o}" for o in langs[i + 1 :])
        cases.append(f"WHEN {cond} THEN '{la}'")
    argmax = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    any_hits = "greatest(" + ", ".join(f"hits_{la}" for la in langs) + ") > 0"
    return f"""
hits AS (
  SELECT doc_id, lang, {hits}
  FROM toks
)
SELECT doc_id, lang, {", ".join(f"hits_{la}" for la in langs)},
       CASE WHEN {any_hits} THEN {argmax} ELSE 'unknown' END AS pred_lang
FROM hits
""".strip()


def _simhash_cte() -> str:
    """CTEs ending in ``sims(doc_id, simhash)`` — mirrors text.simhash."""
    bits = []
    for j in range(tx.SIMHASH_BITS):
        p = 2 ** (3 - j % 4)
        digit = f"(instr('0123456789abcdef', substr(th, {j // 4 + 1}, 1)) - 1)"
        bits.append(f"sum((({digit} // {p}) % 2) * 2 - 1) AS s{j}")
    concat = " || ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(tx.SIMHASH_BITS)
    )
    return f"""
dtoks AS (
  SELECT DISTINCT doc_id, md5(tok) AS th
  FROM toks, unnest(t) AS u(tok)
),
bit_sums AS (
  SELECT doc_id, {", ".join(bits)}
  FROM dtoks GROUP BY doc_id
),
sims AS (
  SELECT doc_id, {concat} AS simhash FROM bit_sums
)
""".strip()


def _simhash_band_sql(max_hamming: int = 3) -> str:
    """Banded candidate join + hamming verify over ``sims`` — mirrors
    text.dedup_simhash."""
    w = tx.SIMHASH_BITS // tx.SIMHASH_BANDS
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band_idx,"
        f" substr(simhash, {b * w + 1}, {w}) AS band_bits FROM sims"
        for b in range(tx.SIMHASH_BANDS)
    )
    ham = " + ".join(
        f"CASE WHEN substr(sim_a, {j + 1}, 1) != substr(sim_b, {j + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for j in range(tx.SIMHASH_BITS)
    )
    return f"""
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                  b.doc_id AS doc_b, b.simhash AS sim_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, ({ham})::BIGINT AS hamming FROM cand
) WHERE hamming <= {max_hamming}
""".strip()


_KNN_RANK_SQL = """
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
""".strip()


def _kmeans_assign_sql(name: str, cent: str) -> str:
    """One deterministic nearest-centroid assignment CTE (6dp-rounded cosine,
    lowest-cell tie-break) — the exact twin of similarity.assign_cells."""
    return f"""
{name} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                       c.cell) AS rn
    FROM emb e CROSS JOIN {cent} c
  ) WHERE rn = 1
)""".strip()


def _kmeans_probe_parts(
    k: int = sim.KMEANS_K, iters: int = sim.KMEANS_ITERS, nprobe: int = 2
) -> list[str]:
    """CTE parts replaying the coarse quantizer: emb, the unrolled Lloyd
    trajectory (cent0..cent{iters}), the final assignment ``assignf`` and
    the per-query ``probed`` cell list. Shared by the kmeans-IVF oracle
    and the IVFADC composition."""
    parts = [
        sim.EMB_SQL,
        f"""
cent0 AS (
  SELECT cell, v AS cv FROM (
    SELECT vec_id, v,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
    FROM emb
  ) WHERE cell < {k}
)""".strip(),
    ]
    for i in range(1, iters + 1):
        parts.append(_kmeans_assign_sql(f"assign{i}", f"cent{i - 1}"))
        parts.append(
            f"""
cent{i} AS (
  SELECT cell, array_agg(av ORDER BY pos) AS cv FROM (
    SELECT cell, gi AS pos, round(avg(v[gi]), 6) AS av
    FROM assign{i}, unnest(generate_series(1, len(v))) AS g(gi)
    GROUP BY 1, 2
  ) GROUP BY cell
)""".strip()
        )
    parts.append(_kmeans_assign_sql("assignf", f"cent{iters}"))
    parts.append(
        f"""
probed AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC,
                                       c.cell) AS crank
    FROM emb q CROSS JOIN cent{iters} c
    WHERE q.vec_id < {sim.N_QUERIES}
  ) WHERE crank <= {nprobe}
)""".strip()
    )
    return parts


def _kmeans_oracle_sql(
    k: int = sim.KMEANS_K, iters: int = sim.KMEANS_ITERS, nprobe: int = 2
) -> str:
    """Unrolled Lloyd's k-means + multiprobe kNN as pure SQL. The Spark
    implementation is deterministic by construction (md5-ranked seeds,
    6dp-rounded decisions) precisely so this fixed-iteration unrolling can
    replay the identical trajectory in DuckDB."""
    parts = _kmeans_probe_parts(k, iters, nprobe)
    parts.append(
        """
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 6) AS cos_sim
  FROM probed p
  JOIN assignf a ON a.cell = p.cell
  JOIN emb q ON q.vec_id = p.query_id
  WHERE a.vec_id != p.query_id
)""".strip()
    )
    return _with(*parts) + "\n" + _KNN_RANK_SQL


def _ivf_drift_oracle_sql(
    k: int = sim.KMEANS_K, iters: int = sim.KMEANS_ITERS
) -> str:
    """Per-cell drift report from the replayed Lloyd trajectory: cosine of
    every vector to its OWN assigned centroid (the probed CTE in the
    shared parts goes unreferenced and is never evaluated)."""
    parts = _kmeans_probe_parts(k, iters)
    parts.append(
        f"""
drift AS (
  SELECT a.cell,
         count(*) AS n_vectors,
         round(avg(round(list_cosine_similarity(a.v, c.cv), 6)), 6) AS mean_cos,
         min(round(list_cosine_similarity(a.v, c.cv), 6)) AS min_cos
  FROM assignf a JOIN cent{iters} c ON c.cell = a.cell
  GROUP BY 1
)""".strip()
    )
    return (
        _with(*parts)
        + f"""
SELECT cell::INT AS cell, n_vectors::BIGINT AS n_vectors,
       round(n_vectors * 1.0 / (SELECT count(*) FROM emb), 6) AS cell_share,
       mean_cos, min_cos,
       CASE WHEN mean_cos < {sim.DRIFT_MIN_MEAN_COS} THEN 'retrain'
            ELSE 'ok' END AS action
FROM drift
""".strip()
    )


def _ann_recall_oracle_sql() -> str:
    """Recall@k of the trained-kmeans IVF path vs the exact brute-force
    baseline, composed from the two verified oracle bodies (the kmeans
    trajectory replay and the all-pairs exact scan)."""
    parts = _kmeans_probe_parts()
    parts.append(
        """
ivf_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.*, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, a.v), 6) AS cos_sim
      FROM probed p
      JOIN assignf a ON a.cell = p.cell
      JOIN emb q ON q.vec_id = p.query_id
      WHERE a.vec_id != p.query_id
    ) s
  ) WHERE rank <= """
        + str(sim.TOP_K)
        + "\n)"
    )
    parts.append(
        f"""
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.*, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {sim.COS_SQL.format(a="q.v", b="c.v")} AS cos_sim
      FROM emb q, emb c
      WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
    ) s
  ) WHERE rank <= {sim.TOP_K}
)""".strip()
    )
    return (
        _with(*parts)
        + f"""
SELECT t.n_queries, {sim.TOP_K}::INT AS k, t.n_exact, h.n_hits,
       ((2000000 * h.n_hits + t.n_exact) // (2 * t.n_exact)) / 1000000.0 AS recall_at_k
FROM (SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_exact
      FROM exact_topk) t,
     (SELECT count(*) AS n_hits
      FROM exact_topk e JOIN ivf_topk i USING (query_id, neighbor_id)) h
""".strip()
    )

ORACLES = {
    "dedup_exact": """
SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies, md5(text) AS content_hash
FROM documents GROUP BY md5(text)
""".strip(),
    "dedup_minhash_lsh": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        tx.minhash_sig_sql(),
        tx.band_sql(),
        tx.BAND_CAND_SQL,
        tx.JACCARD_VERIFY_SQL,
    )
    + "\nSELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5",
    # replays the identical banded pipeline, then scores BOTH containment
    # directions from the same inter/sizes relations
    "dedup_minhash_containment": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        tx.minhash_sig_sql(),
        tx.band_sql(),
        tx.BAND_CAND_SQL,
        """
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT i.doc_a, i.doc_b,
         ((2000000 * i.i + sa.sz) // (2 * sa.sz)) / 1000000.0 AS containment_a_in_b,
         ((2000000 * i.i + sb.sz) // (2 * sb.sz)) / 1000000.0 AS containment_b_in_a,
         ((2000000 * i.i + (sa.sz + sb.sz - i.i))
          // (2 * (sa.sz + sb.sz - i.i))) / 1000000.0 AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
""".strip(),
    )
    + f"""
SELECT doc_a, doc_b, containment_a_in_b, containment_b_in_a, jaccard
FROM scored
WHERE greatest(containment_a_in_b, containment_b_in_a) >= {tx.CONTAINMENT_THRESHOLD}
""".strip(),
    # replays the banded pipeline with the batch×corpus split predicate in
    # the candidate join, then the same verify + top-1 election
    "dedup_incremental_minhash": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        tx.minhash_sig_sql(),
        tx.band_sql(),
        f"""
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM doc_bands a
  JOIN doc_bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id % {tx.INCREMENTAL_BATCH_MOD} = {tx.INCREMENTAL_BATCH_REM}
    AND b.doc_id % {tx.INCREMENTAL_BATCH_MOD} <> {tx.INCREMENTAL_BATCH_REM}
)
""".strip(),
        tx.JACCARD_VERIFY_SQL,
    )
    + """
SELECT doc_a AS doc_id, doc_b AS dup_of, jaccard FROM (
  SELECT v.*, row_number() OVER (PARTITION BY doc_a
                                 ORDER BY jaccard DESC, doc_b) AS rn
  FROM verified v WHERE jaccard >= 0.5
) WHERE rn = 1
""".strip(),
    "decontaminate_fuzzy_lsh": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        tx.minhash_sig_sql(),
        tx.band_sql(),
        tx.BAND_CAND_SQL,
        tx.JACCARD_VERIFY_SQL,
        f"""
crossed AS (
  SELECT CASE WHEN substr(md5(doc_a::VARCHAR), 1, 2) < '{tx.SPLIT_HEX_THRESHOLD}'
              THEN doc_a ELSE doc_b END AS train_doc_id,
         jaccard
  FROM verified
  WHERE jaccard >= 0.5
    AND (substr(md5(doc_a::VARCHAR), 1, 2) < '{tx.SPLIT_HEX_THRESHOLD}')
        <> (substr(md5(doc_b::VARCHAR), 1, 2) < '{tx.SPLIT_HEX_THRESHOLD}')
)
""".strip(),
    )
    + """
SELECT train_doc_id, count(*) AS n_test_dups, max(jaccard) AS max_jaccard
FROM crossed GROUP BY 1
""".strip(),
    "dedup_lsh_eval": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        tx.minhash_sig_sql(),
        tx.band_sql(),
        tx.BAND_CAND_SQL,
        """
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
exact_pairs AS (
  SELECT p.doc_a, p.doc_b,
         ((2000000 * p.i + (sa.sz + sb.sz - p.i))
          // (2 * (sa.sz + sb.sz - p.i))) / 1000000.0 AS jaccard
  FROM pair_inter p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
),
nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cand),
nv AS (SELECT count(*)::BIGINT AS n_verified
       FROM cand c JOIN exact_pairs e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
       WHERE e.jaccard >= 0.5),
ne AS (SELECT count(*)::BIGINT AS n_exact FROM exact_pairs WHERE jaccard >= 0.5)
""".strip(),
    )
    + """
SELECT n_candidates, n_verified, n_exact,
       CASE WHEN n_candidates > 0
            THEN ((2000000 * n_verified + n_candidates)
                  // (2 * n_candidates)) / 1000000.0 END AS candidate_precision,
       CASE WHEN n_exact > 0
            THEN ((2000000 * n_verified + n_exact) // (2 * n_exact)) / 1000000.0 END AS recall
FROM nc, nv, ne""",
    "dedup_ngram_jaccard": _with(
        tx.DOCS_TOKS_SQL,
        tx.SHINGLES_SQL,
        """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
)
""".strip(),
        tx.JACCARD_VERIFY_SQL,
    )
    + "\nSELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5",
    # WITH RECURSIVE: simhash pairs (nested CTE) → symmetrized edges →
    # transitive reachability; component = min reachable doc_id.
    "dedup_connected_components": "WITH RECURSIVE "
    + tx.DOCS_TOKS_SQL
    + ",\n"
    + _simhash_cte()
    + ",\npairs AS (WITH "
    + _simhash_band_sql()
    + """),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS comp FROM documents
  UNION
  SELECT e.v AS doc_id, r.comp FROM reach r JOIN edges e ON e.u = r.doc_id
)
SELECT doc_id, min(comp) AS component_id, (min(comp) = doc_id) AS is_keeper
FROM reach GROUP BY doc_id
""".strip(),
    "decontaminate_train_ngrams": _with(tx.DOCS_TOKS_SQL)
    + f""",
g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{tx.CONTAM_SHINGLE_N - 1}], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - {tx.CONTAM_SHINGLE_N - 1}, 0))) AS u(i)
),
s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{tx.SPLIT_HEX_THRESHOLD}'
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT a.doc_id AS doc_id,
       count(DISTINCT a.shingle) AS n_shared_shingles,
       count(DISTINCT b.doc_id) AS n_test_docs
FROM g a
JOIN s sa ON sa.doc_id = a.doc_id AND sa.split = 'train'
JOIN g b ON b.shingle = a.shingle
JOIN s sb ON sb.doc_id = b.doc_id AND sb.split = 'test'
GROUP BY 1""",
    # exact-substring spans: positions kept (no DISTINCT), dup = shingle in
    # ≥2 docs, islands of consecutive duplicated positions stitch to spans.
    "dedup_exact_substring": _with(tx.DOCS_TOKS_SQL)
    + f""",
pos AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{tx.EXSUB_K - 1}], ' ') AS sh
  FROM toks, unnest(generate_series(1, greatest(len(t) - {tx.EXSUB_K - 1}, 0))) AS u(i)
),
dup AS (SELECT sh FROM pos GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
m AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM pos JOIN dup USING (sh)
)
SELECT doc_id,
       min(pos) AS start_pos,
       max(pos) + {tx.EXSUB_K - 1} AS end_pos,
       max(pos) - min(pos) + {tx.EXSUB_K} AS n_tokens
FROM m GROUP BY doc_id, isl
HAVING max(pos) - min(pos) + {tx.EXSUB_K} >= {tx.EXSUB_MIN_TOKENS}""",
    # removal twin: occurrence policy is window-level rn>1 over
    # (doc_id, pos) — identical to the Spark side's min(struct) keeper
    "corpus_strip_dup_spans": _with(tx.DOCS_TOKS_SQL)
    + f""",
pos AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{tx.EXSUB_K - 1}], ' ') AS sh
  FROM toks, unnest(generate_series(1, greatest(len(t) - {tx.EXSUB_K - 1}, 0))) AS u(i)
),
occ AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
  FROM pos
),
m AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM occ WHERE rn > 1
),
spans AS (
  SELECT doc_id, min(pos) AS start_pos, max(pos) + {tx.EXSUB_K - 1} AS end_pos
  FROM m GROUP BY doc_id, isl
  HAVING max(pos) - min(pos) + {tx.EXSUB_K} >= {tx.EXSUB_MIN_TOKENS}
),
rem AS (
  SELECT DISTINCT doc_id, u.p AS pos
  FROM spans, unnest(generate_series(start_pos, end_pos)) AS u(p)
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
  ANTI JOIN rem r ON r.doc_id = tp.doc_id AND r.pos = tp.pos
),
cleaned AS (
  SELECT doc_id, count(*)::BIGINT AS n_after,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS cmd5
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id, len(t)::BIGINT AS n_tokens_before,
       (len(t) - coalesce(n_after, 0))::BIGINT AS n_tokens_removed,
       coalesce(n_after, 0)::BIGINT AS n_tokens_after,
       coalesce(cmd5, md5('')) AS cleaned_md5
FROM toks LEFT JOIN cleaned USING (doc_id)""",
    "dedup_passages": _with(tx.DOCS_TOKS_SQL)
    + f""",
ps AS (
  SELECT doc_id, i,
         md5(array_to_string(t[i*{tx.PASSAGE_TOKENS}+1:i*{tx.PASSAGE_TOKENS}+{tx.PASSAGE_TOKENS}], ' ')) AS ph
  FROM toks, unnest(generate_series(0, (len(t) - 1) // {tx.PASSAGE_TOKENS})) AS u(i)
),
d AS (SELECT ph, count(DISTINCT doc_id) AS nd FROM ps GROUP BY 1)
SELECT doc_id, count(*) AS n_passages,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_passages,
       ((2000000 * (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)) + (count(*))) // (2 * (count(*)))) / 1000000.0 AS dup_frac
FROM ps JOIN d USING (ph) GROUP BY 1""",
    "text_simhash": _with(tx.DOCS_TOKS_SQL)
    + ",\n"
    + _simhash_cte()
    + "\nSELECT doc_id, simhash FROM sims",
    "dedup_simhash": _with(tx.DOCS_TOKS_SQL)
    + ",\n"
    + _simhash_cte()
    + ",\n"
    + _simhash_band_sql(),
    "embedding_near_dup": _with(sim.EMB_SQL)
    + f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sim.COS_SQL.format(a="a.v", b="b.v")} AS cos_sim
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE {sim.COS_SQL.format(a="a.v", b="b.v")} >= 0.35
""".strip(),
    # PageRank: iters chained non-recursive CTEs over the exact all-pairs
    # edge set (the LSH edge relation's own oracle); constants embedded via
    # repr so both engines parse the identical doubles, ranks rounded to
    # 6dp every iteration in both engines.
    "dupgraph_pagerank": None,  # assigned below (_pagerank_sql)
    "dupgraph_triangle_stats": _with(
        sim.EMB_SQL,
        f"""
pairs AS (
  SELECT a.vec_id AS pu, b.vec_id AS pv
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE {sim.COS_SQL.format(a="a.v", b="b.v")} >= 0.35
)
""".strip(),
        """
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs ab
  JOIN pairs bc ON ab.pv = bc.pu
  JOIN pairs ac ON ac.pu = ab.pu AND ac.pv = bc.pv
)
""".strip(),
        """
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT pu AS id FROM pairs UNION ALL SELECT pv FROM pairs
  ) GROUP BY 1
)
""".strip(),
        "w AS (SELECT count(*) AS n_nodes, sum(deg * (deg - 1) / 2)::BIGINT AS n_wedges FROM deg)",
        "ne AS (SELECT count(*) AS n_edges FROM pairs)",
    )
    + """
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0 THEN round(3.0 * n_triangles / n_wedges, 6) END AS transitivity
FROM w, ne, tri
""".strip(),
    # The LSH path is tuned for certain recall at the 0.35 threshold
    # (per-pair miss ≈ 4e-7), so its oracle IS the exact all-pairs query.
    "embedding_near_dup_lsh": _with(sim.EMB_SQL)
    + f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sim.COS_SQL.format(a="a.v", b="b.v")} AS cos_sim
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE {sim.COS_SQL.format(a="a.v", b="b.v")} >= 0.35
""".strip(),
    "embedding_knn_bruteforce": _with(
        sim.EMB_SQL,
        f"""
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sim.COS_SQL.format(a="q.v", b="c.v")} AS cos_sim
  FROM emb q, emb c
  WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
)
""".strip(),
    )
    + "\n"
    + _KNN_RANK_SQL,
    "embedding_knn_filtered": _with(
        sim.EMB_SQL,
        f"""
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sim.COS_SQL.format(a="q.v", b="c.v")} AS cos_sim
  FROM emb q, emb c
  WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
    AND c.label = {sim.FILTER_LABEL}
)
""".strip(),
    )
    + "\n"
    + _KNN_RANK_SQL,
    "embedding_hard_negatives": _with(
        sim.EMB_SQL,
        f"""
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, q.label AS qlabel,
         c.vec_id AS neighbor_id, c.label AS clabel,
         {sim.COS_SQL.format(a="q.v", b="c.v")} AS cos_sim
  FROM emb q, emb c
  WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
),
pos AS (
  SELECT query_id, max(cos_sim) AS positive_sim
  FROM scored WHERE qlabel = clabel GROUP BY 1
)
""".strip(),
    )
    + f"""
SELECT s.query_id, s.neighbor_id, s.rank, s.cos_sim, p.positive_sim,
       round(p.positive_sim - s.cos_sim, 6) AS margin
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored WHERE qlabel != clabel) s
JOIN pos p USING (query_id)
WHERE s.rank <= {sim.TOP_K}
""".strip(),
    "embedding_knn_ivf": _with(
        sim.EMB_SQL,
        f"""
scored AS (
  SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
         {sim.COS_SQL.format(a="q.v", b="c.v")} AS cos_sim
  FROM emb q JOIN emb c ON q.label = c.label
  WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
)
""".strip(),
    )
    + """
SELECT query_id, label, neighbor_id, rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
""".strip(),
    "embedding_knn_ivf_multiprobe": _with(
        sim.EMB_SQL,
        f"""
cent AS (
  SELECT label, array_agg(av ORDER BY pos) AS cv FROM (
    SELECT label, i AS pos, avg(v[i]) AS av
    FROM emb, unnest(generate_series(1, len(v))) AS g(i)
    GROUP BY 1, 2
  ) GROUP BY label
),
probed AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, c.label,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {sim.COS_SQL.format(a="q.v", b="c.cv")} DESC,
                                       c.label) AS crank
    FROM emb q, cent c WHERE q.vec_id < {sim.N_QUERIES}
  ) WHERE crank <= 2
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {sim.COS_SQL.format(a="q.v", b="e.v")} AS cos_sim
  FROM probed p
  JOIN emb e ON e.label = p.label
  JOIN emb q ON q.vec_id = p.query_id
  WHERE e.vec_id != p.query_id
)
""".strip(),
    )
    + "\n"
    + _KNN_RANK_SQL,
    "embedding_knn_ivf_kmeans": _kmeans_oracle_sql(),
    "embedding_ivf_drift_report": _ivf_drift_oracle_sql(),
    "embedding_ann_recall_eval": _ann_recall_oracle_sql(),
    "embedding_label_centroids": _with(sim.EMB_SQL)
    + """
SELECT label, (i - 1)::BIGINT AS pos,
       round(avg(v[i]), 6) AS centroid_val,
       count(*) AS n_members
FROM emb, unnest(generate_series(1, len(v))) AS g(i)
GROUP BY 1, 2
""".strip(),
    "corpus_clean_pipeline": _with(
        tx.DOCS_TOKS_SQL, "q AS (\n" + _QUALITY_SQL + "\n)"
    )
    + """
SELECT md5(d.text) AS content_hash,
       min(d.doc_id) AS keeper_doc_id,
       count(*) AS n_copies,
       round(avg(q.quality), 6) AS avg_quality
FROM q JOIN documents d ON d.doc_id = q.doc_id
WHERE q.quality >= 0.5 AND q.n_tokens >= 5
GROUP BY 1
""".strip(),
    "corpus_mixture_plan": _with(tx.DOCS_TOKS_SQL)
    + f""",
per AS (
  SELECT lang, count(*)::BIGINT AS n_docs, sum(len(t))::BIGINT AS avail_tokens
  FROM toks GROUP BY 1
),
total AS (SELECT sum(avail_tokens)::BIGINT AS tt FROM per),
spec AS (
  -- cast off the VALUES-literal DECIMAL: Spark's spec column is DOUBLE
  SELECT lang, w::DOUBLE AS target_weight
  FROM (VALUES {", ".join(f"('{l}', {w})" for l, w in sorted(tx.MIX_WEIGHTS.items()))}) v(lang, w)
)
SELECT p.lang, p.n_docs, p.avail_tokens, s.target_weight,
       round(s.target_weight * t.tt, 6) AS target_tokens,
       round(s.target_weight * t.tt / p.avail_tokens, 6) AS sampling_rate,
       ceil(round(s.target_weight * t.tt / p.avail_tokens, 6))::BIGINT AS epochs
FROM per p JOIN spec s USING (lang), total t
""".strip(),
    "text_token_count": _with(tx.DOCS_TOKS_SQL)
    + """
SELECT doc_id, len(t) AS n_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+', 0)) AS n_words,
       length(text) AS n_chars_measured
FROM toks
""".strip(),
    "text_fingerprint": "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents",
    "text_rolling_fingerprint": _with(tx.DOCS_TOKS_SQL)
    + """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(t, x -> CAST(length(x) * 17 + ascii(substr(x, 1, 1)) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp,
       len(t) AS n_tokens
FROM toks""",
    "train_test_split": """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'train' ELSE 'test' END AS split
FROM documents""",
    "text_quality_score": _with(tx.DOCS_TOKS_SQL) + "\n" + _QUALITY_SQL,
    # n-grams assemble in token order on both sides (transform/element_at
    # vs list_transform/range) so distinct counts are construction-identical
    "text_ngram_diversity": _with(
        tx.DOCS_TOKS_SQL,
        """
grams AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
  FROM toks
)
""".strip(),
    )
    + """
SELECT doc_id,
       len(t)::BIGINT AS n_tokens,
       CASE WHEN len(t) >= 1
            THEN ((2000000 * (len(list_distinct(t))) + (len(t))) // (2 * (len(t)))) / 1000000.0 END AS distinct_1,
       CASE WHEN len(t) >= 2
            THEN ((2000000 * (len(list_distinct(g2))) + (len(g2))) // (2 * (len(g2)))) / 1000000.0 END AS distinct_2,
       CASE WHEN len(t) >= 3
            THEN ((2000000 * (len(list_distinct(g3))) + (len(g3))) // (2 * (len(g3)))) / 1000000.0 END AS distinct_3
FROM grams
""".strip(),
    "text_lang_id": _with(tx.DOCS_TOKS_SQL) + ",\n" + _lang_id_sql(),
    "text_top_terms_per_lang": _with(tx.DOCS_TOKS_SQL)
    + """,
counts AS (
  SELECT lang, term, count(*) AS n
  FROM toks, unnest(t) AS u(term)
  GROUP BY 1, 2
)
SELECT lang, term, n, rank FROM (
  SELECT lang, term, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
  FROM counts
) WHERE rank <= 5""",
    "text_tfidf_top_terms": _with(tx.DOCS_TOKS_SQL)
    + f""",
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks, unnest(t) AS u(term) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln((1.0::DOUBLE + n.n_docs) / (1.0::DOUBLE + d.df)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfr d ON d.term = tf.term, n
)
SELECT doc_id, term, tf, tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= {tx.TFIDF_TOP_K}""",
    "bm25_search": _with(tx.DOCS_TOKS_SQL, tx.bm25_sql()),
    "corpus_pack_sequences": _with(tx.DOCS_TOKS_SQL)
    + f""",
d AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM toks
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM d
)
SELECT doc_id, n_tokens,
       floor(start / {tx.PACK_BUDGET})::BIGINT AS shard_id,
       start::BIGINT AS token_offset
FROM c
""".strip(),
    "text_pii_redact": f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
         '{tx.PII_PHONE_RE}', '<PHONE>', 'g'),
         '{tx.PII_IPV4_RE}', '<IP>', 'g') AS clean_text,
       len(regexp_extract_all(text, '{tx.PII_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(regexp_replace(text, '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{tx.PII_PHONE_RE}'))::BIGINT AS n_phones,
       len(regexp_extract_all(
           regexp_replace(regexp_replace(text, '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{tx.PII_PHONE_RE}', '<PHONE>', 'g'),
           '{tx.PII_IPV4_RE}'))::BIGINT AS n_ips,
       (len(regexp_extract_all(text, '{tx.PII_EMAIL_RE}'))
        + len(regexp_extract_all(regexp_replace(text, '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
              '{tx.PII_PHONE_RE}'))
        + len(regexp_extract_all(
              regexp_replace(regexp_replace(text, '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{tx.PII_PHONE_RE}', '<PHONE>', 'g'),
              '{tx.PII_IPV4_RE}')) > 0) AS had_pii
FROM documents
""".strip(),
    "text_repetition_filter": _with(tx.DOCS_TOKS_SQL)
    + """,
g AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+1], ' '))
              ELSE []::VARCHAR[] END AS grams
  FROM toks
),
wc AS (SELECT doc_id, tok, count(*) AS c FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2),
mc AS (SELECT doc_id, max(c) AS mc FROM wc GROUP BY 1)
SELECT doc_id, n_tokens, dup2_frac, mcw_frac,
       (dup2_frac <= 0.4 AND mcw_frac <= 0.2) AS keep
FROM (
  SELECT g.doc_id, len(g.t)::BIGINT AS n_tokens,
         CASE WHEN len(grams) > 0
              THEN ((2000000 * (len(grams) - len(list_distinct(grams))) + (len(grams))) // (2 * (len(grams)))) / 1000000.0
              ELSE 0.0 END AS dup2_frac,
         CASE WHEN len(g.t) > 0
              THEN ((2000000 * (mc.mc) + (len(g.t))) // (2 * (len(g.t)))) / 1000000.0
              ELSE 0.0 END AS mcw_frac
  FROM g JOIN mc ON mc.doc_id = g.doc_id
)""",
    "stratified_sample_by_lang": """
SELECT doc_id, lang, bucket FROM (
  SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
         CASE """
    + " ".join(
        f"WHEN lang = '{lang}' THEN '{hx}'"
        for lang, hx in sorted(SAMPLE_RATE_HEX.items())
    )
    + """ END AS thr
  FROM documents
) WHERE bucket < thr""",
    "embedding_quantize_int8": """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id, v,
         list_transform(v, x -> round(greatest(-1.0::DOUBLE, least(1.0::DOUBLE, x)) * 127.0::DOUBLE)::INTEGER) AS codes
  FROM emb
)
SELECT vec_id,
       array_to_string(codes, ',') AS code_str,
       len(list_filter(codes, c -> abs(c) = 127))::BIGINT AS n_saturated,
       round(list_reduce(
               list_prepend(0.0::DOUBLE,
                            list_transform(generate_series(1, len(v)),
                                           i -> abs(v[i] - codes[i] / 127.0::DOUBLE))),
               (a, b) -> a + b) / len(v), 6) AS mean_abs_err
FROM q""",
    "media_extract_meta": _with(mm.MEDIA_META_SQL),
    # mirrors bmp_media_from_documents dims + resize_max_dim integer math +
    # the BMP size formula (54-byte header, rows padded to 4 bytes); pixel
    # bytes are pytest-verified (tests/test_multimodal.py)
    # every bit recomputed in closed form from the BMP pixel model
    # (w = doc_id%24+8, h = doc_id%16+8, px[y,x,c] = (13*doc_id+7*y+3*x+c)%256);
    # gray = (r+g+b)//3, 9x8 nearest sample (sx = x*w//9, sy = y*h//8),
    # bit y*8+x set iff gray[sy][sx] > gray[sy][sx_right]
    "media_dhash": """
WITH d AS (
  SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h FROM documents
), cells AS (
  SELECT doc_id, gy.y, gx.x,
         (gy.y * h) // 8 AS sy, (gx.x * w) // 9 AS sx
  FROM d,
       unnest(generate_series(0, 7)) AS gy(y),
       unnest(generate_series(0, 8)) AS gx(x)
), gray AS (
  SELECT doc_id, y, x,
         (((13 * doc_id + 7 * sy + 3 * sx) % 256)
          + ((13 * doc_id + 7 * sy + 3 * sx + 1) % 256)
          + ((13 * doc_id + 7 * sy + 3 * sx + 2) % 256)) // 3 AS g
  FROM cells
), bits AS (
  SELECT a.doc_id, a.y, a.x,
         CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 8
)
SELECT doc_id AS media_id,
       -- bit 63 contributes the SIGNED value -2^63 (matching the int64
       -- wrap on the Spark/NumPy side; DuckDB 1<<63 overflows instead)
       sum(CASE WHEN y * 8 + x = 63
                THEN bit * (-9223372036854775807 - 1)
                ELSE bit * (1::BIGINT << (y * 8 + x)) END)::BIGINT AS dhash
FROM bits GROUP BY 1
""".strip(),
    # features recomputed in closed form from the synthesis model:
    # n = doc_id%400+100, rate = 8000+(doc_id%4)*4000,
    # sample[i] = (doc_id*31 + i*17) % 65536 - 32768
    "media_audio_features": """
WITH d AS (
  SELECT doc_id, doc_id % 400 + 100 AS n, 8000 + (doc_id % 4) * 4000 AS rate
  FROM documents
), s AS (
  SELECT d.doc_id, d.n, d.rate,
         ((d.doc_id * 31 + g.i * 17) % 65536 - 32768)::BIGINT AS v, g.i
  FROM d, unnest(generate_series(0, d.n - 1)) AS g(i)
), x AS (
  SELECT doc_id, n, rate, v,
         CASE WHEN v * lead(v) OVER (PARTITION BY doc_id ORDER BY i) < 0
              THEN 1 ELSE 0 END AS c
  FROM s
)
SELECT doc_id AS media_id, n::BIGINT AS n_samples, rate::INT AS sample_rate,
       round(n / rate::DOUBLE, 6) AS duration_sec,
       round(sqrt(avg((v * v)::DOUBLE)), 6) AS rms,
       max(abs(v))::BIGINT AS peak,
       sum(c)::BIGINT AS zero_crossings
FROM x GROUP BY doc_id, n, rate
""".strip(),
    "media_resize": """
WITH m AS (
  SELECT doc_id AS media_id,
         (doc_id % 24 + 8)::BIGINT AS w, (doc_id % 16 + 8)::BIGINT AS h
  FROM documents
), r AS (
  SELECT media_id,
         CASE WHEN greatest(w, h) <= 16 THEN w
              ELSE greatest(1, w * 16 // greatest(w, h)) END AS new_w,
         CASE WHEN greatest(w, h) <= 16 THEN h
              ELSE greatest(1, h * 16 // greatest(w, h)) END AS new_h
  FROM m
)
SELECT media_id, new_w::INT AS width, new_h::INT AS height,
       (54 + new_h * ((3 * new_w + 3) // 4 * 4))::BIGINT AS byte_len
FROM r
""".strip(),
    # text is ASCII so byte slices == char slices; md5(string) == md5(bytes)
    "media_frame_sample": """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
         text
  FROM documents
)
SELECT media_id, i::INT AS frame_idx, md5(substr(text, (i * 256 + 1)::INT, 16)) AS frame_md5
FROM media, unnest(generate_series(0, (octet_length(encode(text)) - 1) // 256)) AS g(i)
WHERE media_type = 'video'
""".strip(),
}

# dedup_cc_two_phase and dedup_connected_components run the same query and
# share the recursive-CTE oracle.
ORACLES["dedup_cc_two_phase"] = ORACLES["dedup_connected_components"]

# Bigram-PMI oracle: same tokenization CTE, identical ratio association
# order, 6dp rounding (the cross-engine float contract).
ORACLES["text_bigram_pmi"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + f""",
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
  WHERE len(t) >= 2
),
bc AS (
  SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2
  HAVING count(*) >= {tx.PMI_MIN_COUNT}
),
uni AS (SELECT u.w AS w, count(*) AS c FROM toks, unnest(t) AS u(w) GROUP BY 1),
tot AS (SELECT sum(c)::DOUBLE AS n_uni FROM uni),
nb AS (SELECT sum(len(t) - 1)::DOUBLE AS n_bi FROM toks WHERE len(t) >= 2)
SELECT bc.w1, bc.w2, bc.c_xy,
       round(ln((bc.c_xy / nb.n_bi) / ((ux.c / tot.n_uni) * (uy.c / tot.n_uni))), 6) AS pmi
FROM bc
JOIN uni ux ON ux.w = bc.w1
JOIN uni uy ON uy.w = bc.w2, tot, nb
"""
)

# Weighted-sampling oracle: identical key arithmetic via the SHARED
# expression string (hex32_unit_expr), 6dp key rounding, doc_id tie-break.
ORACLES["sample_weighted_quality"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + ",\nq AS (\n"
    + _QUALITY_SQL
    + "\n),\ns AS (\n"
    + "  SELECT d.lang, q.doc_id, q.quality, md5(q.doc_id::VARCHAR) AS samp_h\n"
    + "  FROM q JOIN documents d ON d.doc_id = q.doc_id\n)\n"
    + f"""SELECT lang, doc_id, quality,
       round(power({tx.hex32_unit_expr('samp_h')}, 1.0 / greatest(quality, 0.05)), 6) AS samp_key
FROM s
QUALIFY row_number() OVER (
  PARTITION BY lang
  ORDER BY round(power({tx.hex32_unit_expr('samp_h')}, 1.0 / greatest(quality, 0.05)), 6) DESC, doc_id
) <= {tx.SAMPLE_K}
"""
)

# Chunking oracle: same window/stride arithmetic over the shared toks CTE;
# DuckDB list slices are 1-based inclusive and clip at the list end.
ORACLES["text_chunk_rag"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + f""",
n AS (
  SELECT doc_id, t,
         ((greatest(len(t) - {tx.CHUNK_TOKENS} + {tx.CHUNK_STRIDE} - 1, 0)
           // {tx.CHUNK_STRIDE}) + 1) AS n_chunks
  FROM toks
)
SELECT doc_id,
       g.i::INT AS chunk_idx,
       (g.i * {tx.CHUNK_STRIDE})::INT AS token_start,
       len(t[g.i * {tx.CHUNK_STRIDE} + 1 : g.i * {tx.CHUNK_STRIDE} + {tx.CHUNK_TOKENS}])::INT AS chunk_tokens,
       md5(array_to_string(t[g.i * {tx.CHUNK_STRIDE} + 1 : g.i * {tx.CHUNK_STRIDE} + {tx.CHUNK_TOKENS}], ' ')) AS chunk_hash
FROM n, unnest(generate_series(0, n_chunks - 1)) AS g(i)
"""
)

# Domain-mix oracle: identical weight bucket (shared DOMAIN_WEIGHT_EXPR),
# identical budget arithmetic (min over avail/w of exact BIGINT/DOUBLE
# division), identical md5 keep draw (shared hex32_unit_expr).
ORACLES["corpus_domain_mix"] = f"""
WITH d AS (
  SELECT doc_id, source,
         {tx.DOMAIN_WEIGHT_EXPR} AS w,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, min(w) AS w, sum(n_tokens) AS avail FROM d GROUP BY source
),
rates AS (
  SELECT source,
         round(least(1.0, w * (SELECT min(avail / w) FROM per_src) / avail), 6)
           AS keep_rate
  FROM per_src
),
keyed AS (
  SELECT d.doc_id, d.source, d.n_tokens, r.keep_rate,
         md5(d.doc_id::VARCHAR) AS mix_h
  FROM d JOIN rates r USING (source)
)
SELECT doc_id, source, n_tokens, keep_rate
FROM keyed
WHERE {tx.hex32_unit_expr('mix_h')} <= keep_rate
""".strip()

# Unigram-LM oracle: per-token ln quantizes to BIGINT 1e-6 units
# (floor(x*1e6 + 0.5) — exact given identical ln bits), the doc reduction
# is an exact integer sum (ORDER-INDEPENDENT: the float-summation-order
# margin class is closed), and the mean rounds
# half-away-from-zero via fixed6_mean_sql — bit-identical to the Spark
# fixed6_mean_expr path. Mirrors the de-skewed Spark shape: the vocab
# join's probe side is the per-doc-distinct (doc_id, tok, cnt)
# pre-aggregate.
ORACLES["text_unigram_logprob"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + f""",
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
doc_tok AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY doc_id, tok),
vocab AS (SELECT tok, sum(cnt) AS c FROM doc_tok GROUP BY tok),
tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM vocab),
scored AS (
  SELECT d.doc_id,
         sum(d.cnt)::BIGINT AS n_tokens,
         sum(d.cnt * CAST(floor(ln((vb.c + 1.0) / (tot.n_total + tot.v_size))
                                * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS num,
         sum(d.cnt)::BIGINT AS den
  FROM doc_tok d JOIN vocab vb USING (tok) CROSS JOIN tot
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens, {tx.fixed6_mean_sql('num', 'den')} AS mean_logprob
FROM scored
"""
)

# Count-min-sketch oracle: the hash rows are md5-hex-prefix integers via
# the shared _cms_cell_expr, so DuckDB rebuilds the IDENTICAL sketch —
# including its collision overestimates — cell by cell.
ORACLES["text_heavy_hitters_cms"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + """,
ex AS (SELECT unnest(t) AS tok FROM toks),
cells AS (
  SELECT 0 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM ex
  UNION ALL SELECT 1 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM ex
  UNION ALL SELECT 2 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM ex
  UNION ALL SELECT 3 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM ex
),
sketch AS (SELECT r, cell, count(*) AS n FROM cells GROUP BY r, cell),
cand AS (SELECT DISTINCT tok FROM ex),
probe AS (
  SELECT tok, 0 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '0')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM cand
  UNION ALL SELECT tok, 1 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '1')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM cand
  UNION ALL SELECT tok, 2 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '2')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM cand
  UNION ALL SELECT tok, 3 AS r, ((CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 1, 1)) - 1 AS BIGINT) * 268435456 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 2, 1)) - 1 AS BIGINT) * 16777216 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 3, 1)) - 1 AS BIGINT) * 1048576 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 4, 1)) - 1 AS BIGINT) * 65536 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 5, 1)) - 1 AS BIGINT) * 4096 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 6, 1)) - 1 AS BIGINT) * 256 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 7, 1)) - 1 AS BIGINT) * 16 + CAST(instr('0123456789abcdef', substr(md5(concat(tok, ':', '3')), 8, 1)) - 1 AS BIGINT) * 1) % 256) AS cell FROM cand
)
SELECT p.tok, min(s.n) AS est_count
FROM probe p JOIN sketch s ON p.r = s.r AND p.cell = s.cell
GROUP BY p.tok
HAVING min(s.n) >= 500
"""
)


def _pq_oracle_sql(
    m: int = sim.PQ_M,
    k: int = sim.PQ_K,
    iters: int = sim.PQ_ITERS,
    dim: int = sim.EMB_DIM,
) -> str:
    """Unrolled per-subspace Lloyd for product quantization — the kmeans
    oracle pattern applied to each of the m vector slices (shared
    md5-ranked seed rows, 6dp cosine assignments, 6dp mean updates), then
    the m final code columns concatenated. Pure generated SQL: DuckDB
    replays all m training trajectories and must match every code."""
    dsub = dim // m
    parts = [sim.EMB_SQL]
    finals = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"sub{s} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM emb)")
        parts.append(
            f"""
s{s}cent0 AS (
  SELECT cell, sv AS cv FROM (
    SELECT vec_id, sv,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
    FROM sub{s}
  ) WHERE cell < {k}
)""".strip()
        )
        def _assign(name: str, cent: str, with_sv: bool) -> str:
            keep = "vec_id, sv, cell" if with_sv else "vec_id, cell"
            return f"""
{name} AS (
  SELECT {keep} FROM (
    SELECT e.vec_id, e.sv, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.sv, c.cv), 6) DESC,
                                       c.cell) AS rn
    FROM sub{s} e CROSS JOIN {cent} c
  ) WHERE rn = 1
)""".strip()

        for i in range(1, iters + 1):
            parts.append(_assign(f"s{s}a{i}", f"s{s}cent{i - 1}", True))
            parts.append(
                f"""
s{s}cent{i} AS (
  SELECT cell, array_agg(av ORDER BY pos) AS cv FROM (
    SELECT cell, gi AS pos, round(avg(sv[gi]), 6) AS av
    FROM s{s}a{i}, unnest(generate_series(1, len(sv))) AS g(gi)
    GROUP BY 1, 2
  ) GROUP BY cell
)""".strip()
            )
        parts.append(_assign(f"s{s}f", f"s{s}cent{iters}", False))
        finals.append(f"s{s}f")
    joins = finals[0] + " " + " ".join(f"JOIN {f} USING (vec_id)" for f in finals[1:])
    code = "concat_ws(',', " + ", ".join(f"{f}.cell" for f in finals) + ")"
    return _with(*parts) + f"\nSELECT vec_id, {code} AS pq_code FROM {joins}", parts, finals


def _pq_codes_oracle_sql() -> str:
    return _pq_oracle_sql()[0]


def _pq_adc_oracle_sql(
    m: int = sim.PQ_M,
    k: int = sim.PQ_K,
    iters: int = sim.PQ_ITERS,
    dim: int = sim.EMB_DIM,
    top_k: int = 3,
    n_queries: int = sim.N_QUERIES,
) -> str:
    """ADC kNN over the PQ codes: per-query per-subspace dot/norm² tables
    against the trained codebooks, joined onto each candidate's code cells,
    summed in the SAME fixed d0+d1+… order as the Spark expression."""
    dsub = dim // m
    _, parts, finals = _pq_oracle_sql(m, k, iters, dim)
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"""
adc{s} AS (
  SELECT q.vec_id AS query_id, c.cell,
         list_inner_product(q.v[{lo}:{hi}], c.cv) AS d{s},
         list_inner_product(c.cv, c.cv) AS n{s}
  FROM emb q CROSS JOIN s{s}cent{iters} c
  WHERE q.vec_id < {n_queries}
)""".strip()
        )
    code_joins = " ".join(f"JOIN {f} USING (vec_id)" for f in finals[1:])
    code_cols = ", ".join(f"{f}.cell AS c{i}" for i, f in enumerate(finals))
    adc_joins = " ".join(
        f"JOIN adc{s} ON adc{s}.query_id = adc0.query_id AND adc{s}.cell = cv.c{s}"
        for s in range(1, m)
    )
    sdot = " + ".join(f"d{s}" for s in range(m))
    sn2 = " + ".join(f"n{s}" for s in range(m))
    parts.append(
        f"""
scored AS (
  SELECT adc0.query_id, cv.vec_id AS neighbor_id,
         round(({sdot}) / (sqrt(list_inner_product(q.v, q.v)) * sqrt({sn2})), 6)
           AS adc_sim
  FROM (SELECT {finals[0]}.vec_id, {code_cols}
        FROM {finals[0]} {code_joins}) cv
  JOIN adc0 ON adc0.cell = cv.c0
  {adc_joins}
  JOIN emb q ON q.vec_id = adc0.query_id
  WHERE cv.vec_id != adc0.query_id
)""".strip()
    )
    rank_sql = f"""
SELECT query_id, neighbor_id, rank, adc_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {top_k}
""".strip()
    return _with(*parts) + "\n" + rank_sql


def _ivfadc_oracle_sql(
    n_coarse: int = sim.KMEANS_K,
    coarse_iters: int = sim.KMEANS_ITERS,
    nprobe: int = 2,
    m: int = sim.PQ_M,
    pq_k: int = sim.PQ_K,
    pq_iters: int = sim.PQ_ITERS,
    dim: int = sim.EMB_DIM,
    top_k: int = 3,
    n_queries: int = sim.N_QUERIES,
) -> str:
    """IVFADC = the coarse-quantizer replay (cent*/assignf/probed) ∘ the
    PQ replay (s{s}cent*/s{s}f) ∘ the ADC tables: candidates are the
    probed cells' members, scored by the same fixed d0+d1+… ADC sum as
    the Spark expression. Both training trajectories are the exact CTE
    generators the two standalone oracles already use."""
    dsub = dim // m
    parts = _kmeans_probe_parts(n_coarse, coarse_iters, nprobe)
    _, pq_parts, finals = _pq_oracle_sql(m, pq_k, pq_iters, dim)
    parts += pq_parts[1:]  # drop the duplicate emb CTE
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"""
adc{s} AS (
  SELECT q.vec_id AS query_id, c.cell,
         list_inner_product(q.v[{lo}:{hi}], c.cv) AS d{s},
         list_inner_product(c.cv, c.cv) AS n{s}
  FROM emb q CROSS JOIN s{s}cent{pq_iters} c
  WHERE q.vec_id < {n_queries}
)""".strip()
        )
    code_joins = " ".join(f"JOIN {f} USING (vec_id)" for f in finals[1:])
    code_cols = ", ".join(f"{f}.cell AS c{i}" for i, f in enumerate(finals))
    adc_joins = " ".join(
        f"JOIN adc{s} ON adc{s}.query_id = p.query_id AND adc{s}.cell = cv.c{s}"
        for s in range(m)
    )
    sdot = " + ".join(f"d{s}" for s in range(m))
    sn2 = " + ".join(f"n{s}" for s in range(m))
    parts.append(
        f"""
scored AS (
  SELECT p.query_id, cv.vec_id AS neighbor_id,
         round(({sdot}) / (sqrt(list_inner_product(q.v, q.v)) * sqrt({sn2})), 6)
           AS adc_sim
  FROM (SELECT {finals[0]}.vec_id, {code_cols}
        FROM {finals[0]} {code_joins}) cv
  JOIN assignf a ON a.vec_id = cv.vec_id
  JOIN probed p ON p.cell = a.cell
  {adc_joins}
  JOIN emb q ON q.vec_id = p.query_id
  WHERE cv.vec_id != p.query_id
)""".strip()
    )
    rank_sql = f"""
SELECT query_id, neighbor_id, rank, adc_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {top_k}
""".strip()
    return _with(*parts) + "\n" + rank_sql


def _semantic_dedup_oracle_sql(
    threshold: float = 0.35,
    k: int = sim.KMEANS_K,
    iters: int = sim.KMEANS_ITERS,
) -> str:
    """SemDeDup twin: replay the unrolled Lloyd trajectory to the final
    assignment, then the within-cell min-id-keeper drop rule as a pairwise
    join on the cell key (the ``probed`` CTE from the shared builder is
    unused here and pruned by DuckDB)."""
    parts = _kmeans_probe_parts(k, iters)
    parts.append(
        f"""
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assignf a
  JOIN assignf b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
)""".strip()
    )
    return (
        _with(*parts)
        + "\nSELECT vec_id, cell FROM assignf"
        + "\nWHERE vec_id NOT IN (SELECT vec_id FROM dropped)"
    )


ORACLES["embedding_pq_codes"] = _pq_codes_oracle_sql()
ORACLES["embedding_knn_pq_adc"] = _pq_adc_oracle_sql()
ORACLES["embedding_knn_ivfadc"] = _ivfadc_oracle_sql()
ORACLES["dedup_semantic_kmeans"] = _semantic_dedup_oracle_sql()
# bloom prefilter is exact-by-construction — same oracle as the broadcast path
ORACLES["decontaminate_bloom_prefilter"] = ORACLES["decontaminate_train_ngrams"]
def _hybrid_rrf_oracle_sql() -> str:
    """RRF twin: the bm25 CTE chain with its final top-k wrapped as ``lex``,
    the one-query dense cosine top-k as ``dense``, ranks fused with the
    1/(60+rank) formula in the Spark expression's addition order."""
    bm25 = tx.bm25_sql()
    marker = "\nSELECT doc_id, score, rank FROM"
    ctes, final = bm25.split(marker, 1)
    lex_cte = "lex AS (\nSELECT doc_id, score, rank FROM" + final + "\n)"
    dense_cte = f"""
dense AS (
  SELECT doc_id, rank FROM (
    SELECT c.vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(c.v, q.v), 6) DESC,
                      c.vec_id) AS rank
    FROM emb c, (SELECT v FROM emb WHERE vec_id = 0) q
    WHERE c.vec_id != 0
  ) WHERE rank <= {tx.BM25_TOP_K}
)""".strip()
    fuse = f"""
SELECT doc_id, rank_a, rank_b,
       round(CASE WHEN rank_a IS NULL THEN 0.0 ELSE 1.0 / ({float(tx.RRF_K)} + rank_a) END
           + CASE WHEN rank_b IS NULL THEN 0.0 ELSE 1.0 / ({float(tx.RRF_K)} + rank_b) END,
             6) AS rrf_score
FROM (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         l.rank AS rank_a, d.rank AS rank_b
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
ORDER BY rrf_score DESC, doc_id
LIMIT 10""".strip()
    return _with(tx.DOCS_TOKS_SQL, ctes.rstrip().rstrip(","), lex_cte, sim.EMB_SQL, dense_cte) + "\n" + fuse


ORACLES["hybrid_search_rrf"] = _hybrid_rrf_oracle_sql()

ORACLES["text_ccnet_ppl_buckets"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + """,
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
doc_tok AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY doc_id, tok),
vocab AS (SELECT tok, sum(cnt) AS c FROM doc_tok GROUP BY tok),
tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM vocab),
scored AS (
  SELECT d.doc_id,
         sum(d.cnt * CAST(floor(ln((vb.c + 1.0) / (tot.n_total + tot.v_size))
                                * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS num,
         sum(d.cnt)::BIGINT AS den
  FROM doc_tok d JOIN vocab vb USING (tok) CROSS JOIN tot
  GROUP BY d.doc_id
),
lp AS (
  SELECT doc_id, """
    + tx.fixed6_mean_sql("num", "den")
    + """ AS mean_logprob FROM scored
)
SELECT doc_id, lang, mean_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM (
  SELECT doc_id, lang, mean_logprob,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY mean_logprob DESC, doc_id) AS nt
  FROM documents JOIN lp USING (doc_id)
)"""
)

ORACLES["embedding_knn_matryoshka"] = _with(sim.EMB_SQL) + f"""
,
cand AS (
  SELECT query_id, neighbor_id, qv, cv FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
                        q.v[1:{sim.MRL_PREFIX_DIM}], c.v[1:{sim.MRL_PREFIX_DIM}]), 6) DESC,
                      c.vec_id) AS crank
    FROM emb q CROSS JOIN emb c
    WHERE q.vec_id < {sim.N_QUERIES} AND c.vec_id != q.vec_id
  ) WHERE crank <= {sim.MRL_CANDIDATES}
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                    neighbor_id) AS rank
  FROM cand
) WHERE rank <= {sim.TOP_K}"""
ORACLES["corpus_dsir_resample"] = (
    "WITH "
    + tx.DOCS_TOKS_SQL
    + f""",
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
doc_tok AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY doc_id, tok),
raw_vocab AS (SELECT tok, sum(cnt) AS c_raw FROM doc_tok GROUP BY tok),
t_ids AS (SELECT doc_id FROM documents WHERE source = '{tx.DSIR_TARGET_SOURCE}'),
t_vocab AS (SELECT tok, sum(cnt) AS c_t FROM doc_tok JOIN t_ids USING (doc_id)
            GROUP BY tok),
tot_raw AS (SELECT sum(c_raw) AS n_raw, count(*) AS v_raw FROM raw_vocab),
tot_t AS (SELECT sum(c_t) AS n_t, count(*) AS v_t FROM t_vocab),
summed AS (
  SELECT d.doc_id,
         sum(d.cnt * CAST(floor(
               (ln((coalesce(t.c_t, 0) + 1.0) / (tot_t.n_t + tot_t.v_t))
                - ln((r.c_raw + 1.0) / (tot_raw.n_raw + tot_raw.v_raw)))
               * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS num,
         sum(d.cnt)::BIGINT AS den
  FROM doc_tok d
  JOIN raw_vocab r USING (tok)
  LEFT JOIN t_vocab t USING (tok)
  CROSS JOIN tot_raw CROSS JOIN tot_t
  GROUP BY d.doc_id
),
scored AS (
  SELECT doc_id, {tx.fixed6_mean_sql('num', 'den')} AS logratio FROM summed
),
keyed AS (
  SELECT doc_id, logratio, round(exp(logratio), 6) AS weight,
         md5(CAST(doc_id AS VARCHAR)) AS samp_h
  FROM scored
)
SELECT doc_id, logratio, weight,
       round(power({tx.hex32_unit_expr('samp_h')}, 1.0 / greatest(weight, 0.05)), 6) AS samp_key
FROM keyed
ORDER BY samp_key DESC, doc_id
LIMIT {tx.DSIR_SAMPLE_K}"""
)


def _pagerank_parts() -> tuple[list[str], str]:
    """iters chained non-recursive CTEs replaying the fixed-iteration power
    method in the operator's INTEGER fixed-point arithmetic: ranks
    in BIGINT 1e-6 units, per-edge contributions quantized to 1e-12 units
    via round-half-up integer division (round(a/b) = (2a+b)//(2b)), the
    per-node reduction an exact integer sum — order-independent, so both
    engines produce bit-identical trajectories (the float formulation's
    sum-order ulp drift flipped 6/2000 ranks at round-half ties at sf0.1,
    caught by the cross-SF sweep). Damping enters as the exact
    rational from graph.damping_fraction (0.85 → 17/20); dangling nodes
    teleport-only. Returns (CTE parts, name of the final ranks CTE) so
    the keeper-election composition can reuse the identical trajectory —
    final ranks CTE column ``r`` is the BIGINT micro-rank (monotone in
    the double rank; consumers divide by 1e6 for output)."""
    from ..operators.graph import PAGERANK_ITERS, damping_fraction

    dnum, dden = damping_fraction()
    tnum = dden - dnum
    parts = [
        sim.EMB_SQL,
        f"""pairs AS (
  SELECT a.vec_id AS pu, b.vec_id AS pv
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE {sim.COS_SQL.format(a="a.v", b="b.v")} >= 0.35
)""",
        "edges AS (SELECT pu AS u, pv AS v FROM pairs"
        " UNION ALL SELECT pv, pu FROM pairs)",
        "deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM emb)",
        "pr0 AS (SELECT vec_id AS id,"
        " CAST((2000000 + nn.n) // (2 * nn.n) AS BIGINT) AS r"
        " FROM emb CROSS JOIN nn)",
    ]
    for k in range(1, PAGERANK_ITERS + 1):
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
    return parts, f"pr{PAGERANK_ITERS}"


def _pagerank_sql() -> str:
    parts, final = _pagerank_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f'\nSELECT id AS vec_id, r / 1000000.0 AS "rank" FROM {final}'
    )


def _keeper_sql() -> str:
    """Keeper-election composition: the pagerank trajectory's CTEs plus
    recursive min-label reachability over the SAME edge relation, electing
    per component with the identical (rank DESC, vec_id ASC) rule."""
    parts, final = _pagerank_parts()
    parts = parts + [
        """reach AS (
  SELECT vec_id, vec_id AS comp FROM emb
  UNION
  SELECT e.v AS vec_id, r.comp FROM reach r JOIN edges e ON e.u = r.vec_id
)""",
        "cc AS (SELECT vec_id, min(comp) AS comp FROM reach GROUP BY 1)",
        f"""scored AS (
  SELECT c.vec_id, c.comp, p.r FROM cc c JOIN {final} p ON p.id = c.vec_id
),
keepers AS (
  SELECT comp, vec_id AS keeper_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY comp ORDER BY r DESC, vec_id) = 1
)""",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + """
SELECT s.vec_id, s.comp AS component_id, k.keeper_id,
       (s.vec_id = k.keeper_id) AS is_keeper
FROM scored s JOIN keepers k ON k.comp = s.comp"""
    )


ORACLES["dupgraph_pagerank"] = _pagerank_sql()
ORACLES["dedup_keeper_centrality"] = _keeper_sql()


def _bpe_sql() -> str:
    """Fixed-iteration BPE trajectory as chained CTEs: per round, pair
    counting over the symbol lists, the deterministic argmax, and the
    RELATIONAL leftmost-greedy merge application — mark adjacent (a, b)
    positions, keep the odd positions of each marked run (runs longer
    than 1 occur only when a = b), drop each kept pair's right symbol.
    Equivalent to the Spark fold; both replay Sennrich's scan."""
    from ..operators.text import BPE_MERGES

    parts = [
        """w0 AS (
  SELECT w, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w
)""",
        "s0 AS MATERIALIZED (SELECT w AS wid, cnt, regexp_extract_all(w, '.') AS s FROM w0)",
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f"""p{k} AS (
  SELECT s[i] AS a, s[i + 1] AS b, sum(cnt)::BIGINT AS c
  FROM s{k - 1}, unnest(generate_series(1, len(s) - 1)) AS u{k}(i)
  GROUP BY 1, 2
),
m{k} AS MATERIALIZED (SELECT a, b, c FROM p{k} ORDER BY c DESC, a, b LIMIT 1),
e{k} AS (
  -- LEFT JOIN on a constant key (advisor finding, r7): when the corpus
  -- runs dry before n_merges rounds, m{{k}} is EMPTY — a cross join would
  -- empty s{{k}} and every later state, diverging from the Spark fit's
  -- break-and-keep-last-vocabulary. With the left join, NULL a/b make
  -- mk false everywhere, so the round is a no-op and s{{k}} = s{{k-1}}.
  SELECT wid, cnt, i, s[i] AS sym, m.a || m.b AS mg,
         coalesce(s[i] = m.a AND s[i + 1] = m.b, false) AS mk
  FROM s{k - 1}
  CROSS JOIN unnest(generate_series(1, len(s))) AS v{k}(i)
  LEFT JOIN m{k} m ON true
),
r{k} AS (
  SELECT *, CASE WHEN mk THEN i - row_number()
                 OVER (PARTITION BY wid, mk ORDER BY i) END AS isl
  FROM e{k}
),
f{k} AS (
  SELECT *, mk AND (row_number() OVER (PARTITION BY wid, isl ORDER BY i) % 2 = 1) AS eff
  FROM r{k}
),
g{k} AS (
  SELECT *, coalesce(lag(eff) OVER (PARTITION BY wid ORDER BY i), false) AS prev_eff
  FROM f{k}
),
s{k} AS MATERIALIZED (
  SELECT wid, cnt, list(CASE WHEN eff THEN mg ELSE sym END ORDER BY i) AS s
  FROM g{k} WHERE NOT prev_eff GROUP BY wid, cnt
)"""
        )
    union = "\nUNION ALL\n".join(
        f'SELECT {k}::INTEGER AS merge_rank, a AS "left", b AS "right",'
        f" a || b AS merged, c AS pair_count FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def _bpe_encode_sql() -> str:
    """Fertility stats over the SAME trained trajectory: the final state
    CTE s{N} holds each word's fully-merged symbol sequence; the corpus
    words re-join to their encoded lengths and fold per document."""
    from ..operators.text import BPE_MERGES

    # reuse _bpe_sql's CTE chain up to the final state, swap the tail
    chain = _bpe_sql()
    idx = chain.index("\nSELECT 1::INTEGER")
    ctes = chain[:idx]
    return (
        ctes
        + f""",
dw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) > 0
)
SELECT dw.doc_id,
       count(*)::BIGINT AS n_ws_tokens,
       sum(len(sN.s))::BIGINT AS n_bpe_tokens,
       ((2000000 * (sum(len(sN.s))) + (count(*))) // (2 * (count(*)))) / 1000000.0 AS bpe_tokens_per_word
FROM dw JOIN s{BPE_MERGES} sN ON sN.wid = dw.w
GROUP BY 1"""
    )


ORACLES["bpe_train_merges"] = _bpe_sql()
ORACLES["bpe_encode_fertility"] = _bpe_encode_sql()

# Simplified-silhouette oracle: the same all-integer pipeline as
# sim.cluster_silhouette — 1e-4-grid component quantization, half-away
# integer-mean centroids (sim.half_away_div with DuckDB's // — ONE
# rounding definition for both engines), integer squared distances,
# round-half-up integer s-ratio in 1e-6 units (b-IS-NULL k=1 guard
# first, matching the Spark CASE order), fixed6 integer mean over the
# count of NON-NULL scores. Every step is BIGINT arithmetic, so the
# twin is bit-identical by construction (no float-margin class).
# list_zip structs are unnamed in DuckDB — fields are s[1]/s[2];
# centroid lists assemble in pos order (list(... ORDER BY i)), pairing
# positionwise exactly like Spark's zip_with over the
# posexplode-ordered transform. The e CTE drops
# NULL-label rows exactly like the Spark side's isNotNull filter (the
# documented drop-unassigned contract), enforces the SIL_MAX_ABS
# overflow contract inside the quantizing transform with DuckDB's
# error() (the twin of Spark's raise_error — both engines fail loudly),
# and the ab regroup keys on a row-unique rid instead of vec_id so a
# non-unique vec_id in a future fixture cannot collapse two scored
# points that Spark scores independently. The dim arm
# guards the headroom DERIVATION — past sim.SIL_MAX_DIM the per-component
# bound no longer keeps the s-ratio under 2^63 — with DuckDB's error()
# twinning Spark's raise_error, so both engines fail loudly.
ORACLES["embedding_cluster_silhouette"] = _with(sim.EMB_SQL) + f""",
e AS (
  SELECT row_number() OVER () AS rid, label::BIGINT AS label,
         CASE WHEN len(v) > {sim.SIL_MAX_DIM}
         THEN CAST(error('cluster_silhouette: dim overflow-headroom contract')
                   AS BIGINT[])
         ELSE list_transform(v, x -> CASE
           WHEN x IS NULL THEN CAST(error('cluster_silhouette: NULL component')
                                    AS BIGINT)
           WHEN abs(x) <= {sim.SIL_MAX_ABS}
           THEN CAST(floor(x * {sim.SIL_Q} + 0.5) AS BIGINT)
           ELSE CAST(error('cluster_silhouette: component overflow contract')
                     AS BIGINT) END) END AS qv
  FROM emb
  WHERE label IS NOT NULL
),
cpos AS (
  SELECT label, i, sum(qv[i])::BIGINT AS s, count(*)::BIGINT AS n
  FROM e, unnest(generate_series(1, len(qv))) AS g(i)
  GROUP BY 1, 2
),
cent AS (
  SELECT label AS clabel,
         list({sim.half_away_div('s', 'n', '//')} ORDER BY i) AS cv
  FROM cpos GROUP BY 1
),
dist AS (
  SELECT e.rid, e.label, c.clabel,
         CAST(list_aggregate(
           list_transform(list_zip(e.qv, c.cv),
                          s -> (s[1] - s[2]) * (s[1] - s[2])), 'sum') AS BIGINT) AS d2
  FROM e, cent c
),
ab AS (
  SELECT rid, label,
         max(CASE WHEN clabel = label THEN d2 END) AS a,
         min(CASE WHEN clabel <> label THEN d2 END) AS b
  FROM dist GROUP BY 1, 2
),
s AS (
  SELECT label,
         CASE WHEN b IS NULL THEN NULL
              WHEN greatest(a, b) = 0 THEN 0
              ELSE {sim.half_away_div('(b - a)*1000000', 'greatest(a, b)', '//')} END
           AS sfp
  FROM ab
)
SELECT label, count(*)::BIGINT AS n_points,
       {tx.fixed6_mean_sql('sum(sfp)::BIGINT', 'count(sfp)::BIGINT')} AS mean_silhouette
FROM s GROUP BY 1
""".strip()
