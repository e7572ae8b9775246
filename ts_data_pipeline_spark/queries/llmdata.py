"""LLM-training-data operator queries (north-star extensions).

Dedup (exact / n-gram Jaccard / SimHash / MinHash-LSH), vector
similarity search (brute-force + LSH-bucketed), text analysis, and
multimodal binary plumbing — each over the driver's documents /
embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ts_data_pipeline_spark import io
from ts_data_pipeline_spark.functions import text as text_fns
from pyspark.sql import functions as F

from ts_data_pipeline_spark.operators import (
    dedup,
    multimodal,
    retrieval,
    sampling,
    similarity,
)
from ts_data_pipeline_spark.registry import register

ANN_QUERY_IDS = list(range(10))
LSH_PLANE_IDS = [10, 11, 12, 13]
#: 8 bands x 4 bits for the banded cosine-dedup prefilter (corpus
#: rows 20..51 as hyperplanes — present at every SF).
DEDUP_PLANE_IDS = list(range(20, 52))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(io.load(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(io.load(spark, sf_dir, "documents"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(io.load(spark, sf_dir, "documents"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup — but every hash is engine-portable
    (md5-u32), so the DuckDB oracle reproduces the identical
    candidate set and the gate is hash-exact; recall additionally
    pytest-checked."""
    return dedup.minhash_lsh_pairs(io.load(spark, sf_dir, "documents"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components (min-label
    propagation) over the exact n-gram Jaccard near-dup pairs."""
    docs = io.load(spark, sf_dir, "documents")
    return dedup.duplicate_clusters(dedup.ngram_jaccard_pairs(docs))


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the near-dup pair graph
    (operators/dedup.py::pagerank): centrality ranks the template a
    duplicate family is stamped from over its one-off variants."""
    docs = io.load(spark, sf_dir, "documents")
    return dedup.pagerank(dedup.ngram_jaccard_pairs(docs))


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: k-means cells bound the
    pairwise similarity work; survivor = farthest-from-centroid."""
    return similarity.semdedup(
        io.load(spark, sf_dir, "embeddings"), KMEANS_SEED_IDS, n_iter=KMEANS_ITERS
    )


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection: one doc per duplicate cluster + all
    unpaired docs (composes ngram-Jaccard pairs -> clusters -> keep)."""
    docs = io.load(spark, sf_dir, "documents")
    return dedup.keep_canonical(docs, dedup.ngram_jaccard_pairs(docs))


def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.quality_features(io.load(spark, sf_dir, "documents"))


def repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.repetition_features(io.load(spark, sf_dir, "documents"))


def pii_signal_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.pii_signal_counts(io.load(spark, sf_dir, "documents"))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.pii_redact(io.load(spark, sf_dir, "documents"))


def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.html_extract(io.load(spark, sf_dir, "documents"))


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.html_main_content(io.load(spark, sf_dir, "documents"))


def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.url_parse(io.load(spark, sf_dir, "documents"))


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.url_canonicalize(io.load(spark, sf_dir, "documents"))


def registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.registrable_domain(io.load(spark, sf_dir, "documents"))


def registrable_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 through the checked-in public-suffix-list snapshot
    (r13 — broadcast rule join, exception/wildcard/implicit-* rules
    per the publicsuffix.org algorithm)."""
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.registrable_domain_psl(io.load(spark, sf_dir, "documents"))


def url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.url_dedup_canonical(io.load(spark, sf_dir, "documents"))


def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ts_data_pipeline_spark.functions import weblinks

    return weblinks.domain_stats(io.load(spark, sf_dir, "documents"))


def line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide line dedup COMPOSED with the HTML lane:
    extract main content (boilerplate link walls already dropped),
    then remove every line occurring more than twice in the corpus —
    the pass that strips the repeated disclaimer / newsletter
    paragraphs the link-density rule cannot see (they carry no
    links)."""
    main = text_fns.html_main_content(
        io.load(spark, sf_dir, "documents")
    ).select("doc_id", F.col("main_text").alias("text"))
    return text_fns.line_dedup(main)


def charset_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake detect/classify/repair over the deterministic
    mixed-encoding fixture corpus (r13 — the charset lane ahead of
    the HTML front door)."""
    return text_fns.charset_signals(io.load(spark, sf_dir, "documents"))


def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.bigram_lm_perplexity(io.load(spark, sf_dir, "documents"))


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.gopher_quality_flags(io.load(spark, sf_dir, "documents"))


def classifier_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter stage (hashed-linear classifier)."""
    return text_fns.classifier_quality_score(io.load(spark, sf_dir, "documents"))


#: Double-digit on purpose: proves the checkpointed merge loop holds
#: past the handful-of-rounds regime (VERDICT r04 item 5).
BPE_SUITE_MERGES = 16


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.bpe_train_merges(
        io.load(spark, sf_dir, "documents"), n_merges=BPE_SUITE_MERGES
    )


def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merges back to the corpus (train -> apply)."""
    return text_fns.bpe_tokenize(
        io.load(spark, sf_dir, "documents"), n_merges=BPE_SUITE_MERGES
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.chunk_documents(io.load(spark, sf_dir, "documents"))


#: Fixed bag-of-terms query for the registered BM25 gate (terms from
#: the synthetic vocabulary; present at every SF).
BM25_QUERY_TERMS = ["spark", "join", "window"]


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 top-20 for a fixed term query
    (operators/retrieval.py — scan-shaped tf, 1-row broadcast stats,
    TakeOrderedAndProject top-k)."""
    return retrieval.bm25_topk(
        io.load(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=20
    )


def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination cap: at most 40 docs per source, deterministic
    md5-rank survivors (operators/sampling.py)."""
    return sampling.source_quota_cap(
        io.load(spark, sf_dir, "documents"), cap=40
    )


def html_line_dedup_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused HTML-extraction + corpus line-dedup pass
    (functions/text.py html_line_dedup — one explode/reassemble);
    its oracle is the UNFUSED two-stage composition, so the gate pins
    the fusion's value-identity."""
    return text_fns.html_line_dedup(
        io.load(spark, sf_dir, "documents"), max_occurrences=2
    )


def source_quota_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scan-shaped EXPECTED-cap quota (threshold form — no rank
    window at all; operators/sampling.py source_quota_threshold),
    gated at the same cap as the exact form so the two verdicts are
    directly comparable."""
    return sampling.source_quota_threshold(
        io.load(spark, sf_dir, "documents"), cap=40
    )


def lang_quota_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HYBRID quota gated standalone (r14 — the recipe gate
    exercises it composed; this member pins it in isolation): lang as
    the grouping key because the corpus lang distribution genuinely
    straddles the mega threshold (en ~200 docs > 100 routes the
    scan-shaped threshold leg; the tail langs ~60-80 route the exact
    rank leg) at BOTH pytest and gate SF, so both legs execute in
    every compare."""
    return sampling.source_quota_cap_hybrid(
        io.load(spark, sf_dir, "documents").select("doc_id", "lang"),
        cap=50,
        mega_threshold=100,
        source_col="lang",
    )


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-25 terms (operators/sketch.py; the
    Misra-Gries bounded-memory form is pytest-pinned)."""
    from ts_data_pipeline_spark.operators import sketch

    return sketch.exact_heavy_hitters(
        io.load(spark, sf_dir, "documents"), k=25
    )


def count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point-query report for the exact top-25 terms
    (operators/sketch.py — fixed depth x width summary whose shuffle
    is bounded regardless of vocabulary size; estimates never
    under-count)."""
    from ts_data_pipeline_spark.operators import sketch

    return sketch.count_min_estimates(
        io.load(spark, sf_dir, "documents"), depth=4, width=1024, k=25
    )


#: The registered eval-split spec: exact per-source 80/10/10.
STRAT_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def stratified_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified train/val/test split per source
    (operators/sampling.py::stratified_split — rank-cut at floor
    boundaries; hash_split's independent draws stay the train-shard
    tool, this is the reproducible small-eval tool)."""
    return sampling.stratified_split(
        io.load(spark, sf_dir, "documents"), STRAT_SPLIT_FRACS
    )


#: Hybrid-split routing threshold: at the gate SF the dominant `en`
#: lang stratum (218 docs at sf0.01) takes the scan-shaped threshold
#: leg while the ~70-doc tail languages keep the exact rank-cut — so
#: the registered gate exercises BOTH legs and the routing boundary.
STRAT_HYBRID_THRESHOLD = 100


#: Substring-dedup operating point: 8-token shingles, >=2 corpus-wide
#: occurrences — the granularity document-level dedup cannot see.
SUBSTR_DEDUP_K = 8


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (functions/text.py::
    char_entropy — bits/char; the low-entropy garbage filter)."""
    return text_fns.char_entropy(io.load(spark, sf_dir, "documents"))


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection (operators/dedup.py::duplicated_spans
    — the shingle-DF approximation of Lee et al. 2022 ExactSubstr):
    maximal merged runs of duplicated k-shingles per document."""
    from ts_data_pipeline_spark.operators import dedup as dedup_ops

    return dedup_ops.duplicated_spans(
        io.load(spark, sf_dir, "documents"), k=SUBSTR_DEDUP_K
    )


def substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document substring-dup curation signal (integer columns
    only — the drop/strip ratio is computed downstream)."""
    from ts_data_pipeline_spark.operators import dedup as dedup_ops

    return dedup_ops.substring_dedup_stats(
        io.load(spark, sf_dir, "documents"), k=SUBSTR_DEDUP_K
    )


def stratified_split_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-stratum fallback split (VERDICT r6 #9): exact rank-cut
    for small strata, deterministic threshold draw for strata too hot
    to sort in one partition (sampling.stratified_split_hybrid),
    stratified by language."""
    return sampling.stratified_split_hybrid(
        io.load(spark, sf_dir, "documents"),
        STRAT_SPLIT_FRACS,
        mega_threshold=STRAT_HYBRID_THRESHOLD,
        stratum_col="lang",
    )


def clean_text_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest cleaning pass: NFC (Arrow stdlib hop) + control strip +
    whitespace collapse (JVM regex) — functions/text.py::clean_text;
    messy-unicode behavior pinned in tests/test_llmdata.py."""
    return text_fns.clean_text(io.load(spark, sf_dir, "documents"))


def quality_lr_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine trained linear quality model: 3 full-batch GD rounds
    against the wiki-like-source weak label, then score every doc
    (operators/classifier.py — broadcast weight relation, two bounded
    shuffles per round, 6-dp re-round so drift can't compound)."""
    from ts_data_pipeline_spark.operators import classifier

    return classifier.train_quality_lr(
        io.load(spark, sf_dir, "documents"), DSIR_TARGET_PREDICATE
    )


def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized posting lists with df pruning at 390
    (operators/retrieval.py — window-partitioned build, no per-term
    collect; the synthetic vocab's dfs cluster near 380-400 so the
    cap exercises real pruning)."""
    return retrieval.inverted_index(
        io.load(spark, sf_dir, "documents"), max_df=390
    )


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense d x d Gram accumulation over the embedding cloud
    (operators/linalg.py — dimension-bounded shuffle: d rows of d
    partial sums per task, never a row-pair join)."""
    from ts_data_pipeline_spark.operators import linalg

    return linalg.gram_matrix(io.load(spark, sf_dir, "embeddings"))


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min frequency-ranked vocab size per coverage target
    (operators/sketch.py; two-phase range-partitioned prefix sum,
    integer-exact thresholds)."""
    from ts_data_pipeline_spark.operators import sketch

    return sketch.vocab_coverage(io.load(spark, sf_dir, "documents"))


#: Target-domain predicate for the registered DSIR gate: treat one
#: source as the "wiki-like" target distribution.
DSIR_TARGET_PREDICATE = "source = 'src0'"


def dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores vs the src0 target domain
    (operators/sampling.py — hashed-bigram likelihood ratios)."""
    return sampling.dsir_scores(
        io.load(spark, sf_dir, "documents"), DSIR_TARGET_PREDICATE
    )


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized Gumbel-top-k selection over the DSIR scores
    (softmax sampling without replacement, md5-keyed Gumbel)."""
    return sampling.dsir_select(dsir_scores(spark, sf_dir), n_keep=100)


def token_budget_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-quality-within-token-budget selection over the
    classifier quality scores (operators/sampling.py — two-phase
    range-partitioned prefix sum; budget = 20k tokens)."""
    scored = text_fns.classifier_quality_score(
        io.load(spark, sf_dir, "documents")
    ).select("doc_id", F.col("clf_score").alias("score"),
             F.col("n_words").alias("tokens"))
    return sampling.token_budget_select(scored, token_budget=20_000)


def rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal rank
    (operators/retrieval.py; query vector = corpus row 3)."""
    return retrieval.rrf_hybrid_topk(
        io.load(spark, sf_dir, "documents"),
        io.load(spark, sf_dir, "embeddings"),
        BM25_QUERY_TERMS,
        query_vec_id=3,
        k=10,
    )


def length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.length_quantiles(io.load(spark, sf_dir, "documents"))


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: n-gram overlap of train docs vs a
    deterministic held-out eval split (broadcast probe set)."""
    return text_fns.decontaminate(io.load(spark, sf_dir, "documents"))


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document span dedup survival report."""
    return dedup.span_dedup(io.load(spark, sf_dir, "documents"))


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context sequence packing via distributed prefix sum."""
    return sampling.sequence_pack(io.load(spark, sf_dir, "documents"))


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-language sampling weights."""
    return sampling.mixture_weights(io.load(spark, sf_dir, "documents"))


def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash resampling toward the temperature mixture."""
    return sampling.importance_resample(io.load(spark, sf_dir, "documents"))


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (distributed rank)."""
    return sampling.corpus_shuffle(io.load(spark, sf_dir, "documents"))


def bpe_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training inner step: top-k adjacent-pair frequencies."""
    return text_fns.bpe_bigram_topk(io.load(spark, sf_dir, "documents"))


def ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest verdict: docs NOT in the historical slice
    (doc_id % 7 == 0 models the already-ingested corpus) gated by
    length/repetition/PII, deduped against the corpus digests and
    in-batch (deterministic lowest-doc_id canonical)."""
    from ts_data_pipeline_spark.operators import ingest

    docs = io.load(spark, sf_dir, "documents")
    hist = F.col("doc_id") % 7 == 0
    return ingest.ingest_report(
        docs.filter(~hist),
        ingest.ingest_signals(docs.filter(hist)).select("digest"),
    )


def corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone selection pass: per-document keep/drop verdict with
    the first failing rule as the reason — duplicate (non-canonical
    cluster member), too_short/too_long (char bounds), repetitive
    (duplicated 5-gram fraction), pii (planted email hits). This is
    the composition a training pipeline actually ships: every input
    is an already-verified operator, joined on doc_id (co-partitioned
    scans of the same table; Catalyst collapses the shared base)."""
    docs = io.load(spark, sf_dir, "documents")
    kept = dedup.keep_canonical(docs, dedup.ngram_jaccard_pairs(docs))
    rep = text_fns.repetition_features(docs).select("doc_id", "rep_ratio")
    pii = text_fns.pii_signal_counts(docs).select("doc_id", "n_emails")
    base = docs.select("doc_id", F.length("text").alias("n_chars"))
    j = base.join(kept, "doc_id").join(rep, "doc_id").join(pii, "doc_id")
    reason = (
        F.when(~F.col("kept"), F.lit("duplicate"))
        .when(F.col("n_chars") < 120, F.lit("too_short"))
        .when(F.col("n_chars") > 520, F.lit("too_long"))
        .when(F.col("rep_ratio") >= 0.3, F.lit("repetitive"))
        .when(F.col("n_emails") > 0, F.lit("pii"))
        .otherwise(F.lit("ok"))
    )
    return j.withColumn("reject_reason", reason).select(
        "doc_id",
        "reject_reason",
        (F.col("reject_reason") == "ok").alias("selected"),
    )


def corpus_selection_sql() -> str:
    kc = dedup.keep_canonical_sql(dedup.ngram_jaccard_sql())
    rep = text_fns.repetition_features_sql()
    pii = text_fns.PII_SIGNAL_SQL
    return f"""
WITH kc AS (SELECT * FROM ({kc}) t),
rep AS (SELECT doc_id, rep_ratio FROM ({rep}) t),
pii AS (SELECT doc_id, n_emails FROM ({pii}) t),
j AS (
  SELECT d.doc_id, length(d.text) AS n_chars, kc.kept,
         rep.rep_ratio, pii.n_emails
  FROM documents d
  JOIN kc ON d.doc_id = kc.doc_id
  JOIN rep ON d.doc_id = rep.doc_id
  JOIN pii ON d.doc_id = pii.doc_id
),
r AS (
  SELECT doc_id,
         CASE WHEN NOT kept THEN 'duplicate'
              WHEN n_chars < 120 THEN 'too_short'
              WHEN n_chars > 520 THEN 'too_long'
              WHEN rep_ratio >= 0.3 THEN 'repetitive'
              WHEN n_emails > 0 THEN 'pii'
              ELSE 'ok' END AS reject_reason
  FROM j
)
SELECT doc_id, reject_reason, reject_reason = 'ok' AS selected FROM r
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.doc_fingerprints(io.load(spark, sf_dir, "documents"))


def token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum (functions/text.py::
    token_spectrum — Good-Turing's input relation)."""
    return text_fns.token_spectrum(io.load(spark, sf_dir, "documents"))


def lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus lexical summary incl. the spectrum-fit Zipf
    slope (functions/text.py::lexical_stats)."""
    return text_fns.lexical_stats(io.load(spark, sf_dir, "documents"))


def good_turing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass + hapax adjusted count off the
    spectrum (functions/text.py::good_turing_stats)."""
    return text_fns.good_turing_stats(io.load(spark, sf_dir, "documents"))


def heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocab-growth fit via binomial subsampling of the
    spectrum (functions/text.py::heaps_fit)."""
    return text_fns.heaps_fit(io.load(spark, sf_dir, "documents"))


def good_turing_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing at the 3-gram shingle grain — the grain where this
    corpus has real unseen mass (9.4k hapaxes at sf0.01 vs ZERO at
    the token grain), so the gate exercises the non-NULL estimates."""
    return text_fns.good_turing_stats(
        io.load(spark, sf_dir, "documents"), ngrams=3
    )


def heaps_fit_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps fit at the 3-gram shingle grain (open vocabulary; the
    token grain is saturated with beta ~= 0)."""
    return text_fns.heaps_fit(
        io.load(spark, sf_dir, "documents"), ngrams=3
    )


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucketed_topk(
        io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, LSH_PLANE_IDS, k=5
    )


#: 8 deterministic corpus-row seeds for the k-means IVF trainer
#: (present at every SF; disjoint from query/plane ids).
KMEANS_SEED_IDS = [101, 157, 211, 263, 307, 353, 401, 457]
KMEANS_ITERS = 2


#: Embedding dimensionality of the synthetic corpus (all SFs).
EMBEDDING_DIM = 64

#: 32 deterministic corpus rows whose subvectors SEED the PQ
#: codebooks (present at every SF — ids < 500; disjoint from
#: query/plane ids). ksub = len(this list); 32 entries is the round-7
#: operating point that, with training, lifted recall@10 to 0.82.
PQ_CODEBOOK_IDS = [103, 131, 163, 193, 223, 251, 283, 311,
                   337, 367, 397, 421, 443, 461, 479, 491,
                   17, 29, 41, 53, 67, 79, 97, 127,
                   149, 173, 197, 227, 257, 277, 293, 313]

#: Per-subspace Lloyd rounds for the TRAINED codebooks (the
#: VERDICT-r6 ask: sampled codebooks published recall@10 0.21-0.28;
#: trained + wider shortlist measures 0.82 pq / 0.66 ivfpq-nprobe4).
PQ_TRAIN_ITERS = 3

#: Shortlist multiplier for the exact re-rank (shortlist =
#: rerank_factor * k). 32 is the r8 operating point: the PQ ADC
#: ceiling was the binding constraint on IVFPQ recall (flat-pq
#: recall@10 at sf0.1: 0.82 @ rf=16 -> 0.94 @ rf=32), and the
#: shortlist stays query-bounded (k * 32 rows per query) so the
#: exact re-rank join remains broadcast-sized.
PQ_RERANK_FACTOR = 32

#: IVFPQ coarse quantizer: 8 cells (nlist), spherical-k-means
#: trained. On this isotropic synthetic corpus cell-recall tracks the
#: probed corpus fraction closely, so a >=0.8 recall point needs
#: nprobe=6 of 8 (measured at sf0.1: recall@10 = 0.66 @ nprobe=4/
#: rf=16 -> 0.88 @ nprobe=6/rf=32; a 16-cell quantizer was TESTED and
#: is strictly worse here — 0.73 @ nprobe=10 — because isotropy gives
#: finer cells no margin). Clustered real corpora support much larger
#: nlist at the same recall, which is when cell-pruned I/O pays.
IVFPQ_COARSE_IDS = [100 + i for i in range(8)]
IVFPQ_COARSE_ITERS = 3
IVFPQ_NPROBE = 6

#: Matryoshka-style prefix search: score on the first 16 of 64 dims
#: (4x cheaper coarse scan), exact-rerank the short list. Recall on
#: these generic (non-MRL-trained) embeddings is published in bench.
MRL_PREFIX_DIMS = 16
MRL_RERANK_FACTOR = 8

#: Filtered-ANN gate predicate: a deterministic attribute slice
#: (every third vector), engine-portable as written.
FILTERED_ANN_PRED = "vec_id % 3 = 0"

#: Binary (1-bit sign) quantization: 64 sign bits per vector — the
#: 32x-compression extreme of the quantization family (vs sq8's 4x,
#: PQ's 32x-with-codebooks). Hamming over 64 bits is a coarse scorer
#: (expected hamming ~ angle * dim / pi, sigma ~ sqrt(dim)/2), so the
#: shortlist is the widest in the family.
BSIGN_RERANK_FACTOR = 32

#: First corpus id used for the pair-difference hyperplane normals of
#: the beyond-dim signature bits (similarity.bsign_plane_pairs) —
#: past the query ids (0..9) so a normal never IS a query.
BSIGN_PLANE_START = 100

#: Power-iteration steps for the hash-gated PCA basis (r11): fixed
#: recipe — both engines run the same count, so twin equality never
#: depends on convergence; 8 steps measured recall-equivalent to the
#: eigh basis at d_prefix=16 on the gate corpora.
PCA_POWER_ITERS = 8

#: Shortlist factor for the rotated-prefix leg (the bench-measured
#: >=0.6-recall operating point at d_prefix=16).
PCA_PREFIX_RERANK = 16


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized candidates + exact re-rank
    (similarity.sq8_topk — the memory-bound 4x-compression path)."""
    return similarity.sq8_topk(
        io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, EMBEDDING_DIM, k=5
    )


def _ann_tmp_dir(sf_dir: str) -> str:
    """A UNIQUE per-invocation index path under a per-process parent
    (md5(sf_dir) + pid), registered for atexit removal. Three hazards
    balanced (r8 review): a fixed shared path would let a concurrent
    driver-sim/bench rmtree the codes out from under the other's
    lazy read; a fixed PER-PROCESS path wiped on entry would
    invalidate a previous same-process call's still-live DataFrame;
    and a bare mkdtemp would leak one codes-sized dir per invocation
    forever. Unique subdir + atexit bounds the leak to process
    lifetime without ever deleting files a live plan references."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    parent = os.path.join(
        tempfile.gettempdir(), f"tsdp_annidx_{tag}_{os.getpid()}"
    )
    if not os.path.exists(parent):
        os.makedirs(parent, exist_ok=True)
        atexit.register(shutil.rmtree, parent, ignore_errors=True)
    return os.path.join(parent, uuid.uuid4().hex[:12])


def _ann_index_path(
    spark: SparkSession,
    sf_dir: str,
    residual: bool = False,
    cents=None,
) -> str:
    """Build the gate's persisted IVFPQ index (see :func:`_ann_tmp_dir`
    for the path lifecycle). Training runs once per gate evaluation;
    both compressed-domain legs query the stored relations."""
    path = _ann_tmp_dir(sf_dir)
    similarity.ivfpq_build_index(
        io.load(spark, sf_dir, "embeddings"), path,
        PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
        train_iters=PQ_TRAIN_ITERS,
        coarse_train_iters=IVFPQ_COARSE_ITERS,
        residual=residual,
        cents=cents,
    )
    return path


def ann_lsh_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-ANN family in one result, labeled by method
    (eleven legs): hyperplane-LSH buckets (+multi-probe), IVF-flat
    nprobe cells, the k-means-TRAINED coarse quantizer, int8 scalar
    quantization, flat PQ + cell-pruned IVFPQ + residual IVFADC off
    the persisted index, the Matryoshka prefix, the attribute-
    filtered exact scan, and 1-bit sign quantization (hamming
    shortlist over packed sign words) — every leg ending in the
    shared exact re-rank."""
    from ts_data_pipeline_spark.queries.timeseries import ann_ivf_topk

    lsh = ann_lsh_topk(spark, sf_dir).withColumn("method", F.lit("lsh"))
    ivf = ann_ivf_topk(spark, sf_dir).withColumn("method", F.lit("ivf"))
    sq8 = ann_sq8_topk(spark, sf_dir).withColumn("method", F.lit("sq8"))
    mp = similarity.lsh_multiprobe_topk(
        io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, LSH_PLANE_IDS, k=5
    ).withColumn("method", F.lit("lsh_mp"))
    # The compressed-domain legs run through the PERSISTED trained
    # index — the deployment shape (VERDICT r7 ask #4): ONE build
    # (Lloyd codebooks + spherical-k-means coarse cells + encode +
    # cell-partitioned write) serves both the flat-PQ and the
    # cell-pruned IVFPQ query. The index is the only Spark spelling
    # of PQ/IVFPQ; its values equal the DuckDB twins pq_topk_sql /
    # ivfpq_topk_sql (pinned in tests/test_llmdata.py).
    idx_path = _ann_index_path(spark, sf_dir)
    pq = similarity.pq_query_index(
        spark, idx_path, io.load(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS, k=5, rerank_factor=PQ_RERANK_FACTOR,
    ).withColumn("method", F.lit("pq"))
    ivfpq = similarity.ivfpq_query_index(
        spark, idx_path, io.load(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS, k=5, nprobe=IVFPQ_NPROBE,
        rerank_factor=PQ_RERANK_FACTOR,
    ).withColumn("method", F.lit("ivfpq"))
    # r9: the residual (IVFADC) twin of the same operating point —
    # a SECOND persisted build (codebooks retrain on residuals) that
    # REUSES the raw build's trained coarse centroids (identical
    # parameters; retraining the spherical k-means twice per gate
    # evaluation was the r9 review's perf finding), the same pruned
    # query path, hash-gated against ivfpq_residual_topk_sql
    ridx_path = _ann_index_path(
        spark, sf_dir, residual=True,
        cents=similarity._read_cents(spark, idx_path),
    )
    ivfpq_res = similarity.ivfpq_query_index(
        spark, ridx_path, io.load(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS, k=5, nprobe=IVFPQ_NPROBE,
        rerank_factor=PQ_RERANK_FACTOR,
    ).withColumn("method", F.lit("ivfpq_res"))
    # r11 — the TWELFTH leg: attribute-filtered vector search AT
    # INDEX SCALE (tenant/license/language filters composed with
    # cell pruning — the deployed retrieval shape). The semi-join
    # lands on the pruned encoded scan BEFORE the ADC aggregation,
    # so the shortlist ranks over filtered candidates and never
    # k-deflates; hash-gated against ivfpq_topk_sql(filter_pred=...).
    ivfpq_filt = similarity.ivfpq_query_index(
        spark, idx_path, io.load(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS, k=5, nprobe=IVFPQ_NPROBE,
        rerank_factor=PQ_RERANK_FACTOR,
        filter_ids=io.load(spark, sf_dir, "embeddings").filter(
            FILTERED_ANN_PRED
        ).select("vec_id"),
    ).withColumn("method", F.lit("ivfpq_filt"))
    # r11 (VERDICT r10 ask #2): the mrl and bsign legs now run
    # THROUGH their persisted narrow relations — the deployment
    # shape, same promotion the pq/ivfpq legs got in r8. The mrl
    # index stores the d_prefix slice at rest (prefix_index_write
    # under the IDENTITY basis: the projection reproduces the raw
    # slice bit-exactly, so prefix_dim_topk_sql stays the twin; the
    # PCA rotation remains the pytest+bench-pinned variant). The
    # bsign index stores rule-sized signatures (bsign_bits_rule: 64
    # axis bits at the sf0.01 gate corpus — twin unchanged — growing
    # one dim-block per 4x corpus above 500 rows, pair-difference
    # hyperplane bits beyond dim; recall curve pinned in
    # tests/test_llmdata.py).
    emb = io.load(spark, sf_dir, "embeddings")
    pidx_path = _ann_tmp_dir(sf_dir)
    similarity.prefix_index_write(
        emb, pidx_path, MRL_PREFIX_DIMS,
        basis=(
            [
                [1.0 if j == i else 0.0 for j in range(EMBEDDING_DIM)]
                for i in range(MRL_PREFIX_DIMS)
            ],
            [0.0] * EMBEDDING_DIM,
        ),
    )
    mrl = similarity.prefix_query_index(
        spark, pidx_path, emb, ANN_QUERY_IDS,
        k=5, rerank_factor=MRL_RERANK_FACTOR,
    ).withColumn("method", F.lit("mrl"))
    # r11 — the THIRTEENTH leg: the PCA-ROTATED prefix, hash-gated
    # end to end. The rotation is the deterministic power-iteration
    # basis (linalg.pca_power_basis — 9-dp-rounded moments and
    # steps, cross-engine EXACT vs pca_power_basis_sql_ctes), so the
    # r8-r10 'eigendecomposition is not SQL-expressible' caveat no
    # longer exempts the rotated lane: fit -> persist the projected
    # relation -> query the stored narrow table, all against one
    # DuckDB twin that fits the SAME basis in SQL.
    from ts_data_pipeline_spark.operators import linalg

    comps, mu = linalg.pca_power_basis(
        emb, "embedding", EMBEDDING_DIM,
        k=MRL_PREFIX_DIMS, n_iter=PCA_POWER_ITERS,
    )
    ppidx_path = _ann_tmp_dir(sf_dir)
    similarity.prefix_index_write(
        emb, ppidx_path, MRL_PREFIX_DIMS, basis=(comps, mu)
    )
    pca_pref = similarity.prefix_query_index(
        spark, ppidx_path, emb, ANN_QUERY_IDS,
        k=5, rerank_factor=PCA_PREFIX_RERANK,
    ).withColumn("method", F.lit("pca_prefix"))
    filt = similarity.filtered_topk(
        io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS,
        FILTERED_ANN_PRED, k=5,
    ).withColumn("method", F.lit("filtered"))
    # The GATE leg runs the static 64-axis-bit operating point — the
    # twin (binary_sign_topk_sql) is a fixed string, so a
    # corpus-size-driven width here would diverge silently the day
    # the gate corpus outgrows the rule anchor (r11 review). The
    # corpus-size rule (bsign_bits_rule + hyperplane pairs) is
    # exercised where width can vary with data: the bench recall
    # rows and the sf0.1 recall pytest, plus the cross-engine
    # extended-bit pin.
    bidx_path = _ann_tmp_dir(sf_dir)
    similarity.bsign_index_write(emb, bidx_path, EMBEDDING_DIM)
    bsign = similarity.bsign_query_index(
        spark, bidx_path, emb, ANN_QUERY_IDS,
        k=5, rerank_factor=BSIGN_RERANK_FACTOR,
    ).withColumn("method", F.lit("bsign"))
    # r12 — the FOURTEENTH leg: attribute-filtered search through the
    # PERSISTED bsign index (VERDICT r11 ask #4 — every deployed index
    # leg takes tenancy/license filters). Same semi-join-before-coarse
    # shape as ivfpq_filt: the filter lands on the signature scan
    # ahead of the hamming math, queries stay unfiltered, no
    # k-deflation; hash-gated against binary_sign_topk_sql(
    # filter_pred=...). The prefix index grew the same filter_ids
    # parameter (pytest-pinned) — gating one persisted-relation
    # filtered leg per family keeps the suite bounded.
    bsign_filt = similarity.bsign_query_index(
        spark, bidx_path, emb, ANN_QUERY_IDS,
        k=5, rerank_factor=BSIGN_RERANK_FACTOR,
        filter_ids=emb.filter(FILTERED_ANN_PRED).select("vec_id"),
    ).withColumn("method", F.lit("bsign_filt"))
    km = (
        similarity.kmeans_assign(
            io.load(spark, sf_dir, "embeddings"),
            KMEANS_SEED_IDS,
            n_iter=KMEANS_ITERS,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell").alias("cand_id"),
            "cos_sim",
            F.lit(1).alias("rank"),
            F.lit("kmeans").alias("method"),
        )
    )
    return (
        lsh.unionByName(ivf).unionByName(km).unionByName(sq8)
        .unionByName(mp).unionByName(pq).unionByName(ivfpq)
        .unionByName(ivfpq_res).unionByName(ivfpq_filt)
        .unionByName(mrl).unionByName(pca_pref).unionByName(filt)
        .unionByName(bsign).unionByName(bsign_filt)
    )


def _ann_lsh_ivf_sql() -> str:
    from ts_data_pipeline_spark.queries.timeseries import (
        IVF_CENTROID_IDS,
        IVF_QUERY_IDS,
    )

    lsh = similarity.lsh_bucketed_topk_sql(ANN_QUERY_IDS, LSH_PLANE_IDS, k=5)
    ivf = similarity.ivf_topk_sql(IVF_QUERY_IDS, IVF_CENTROID_IDS, k=5, nprobe=2)
    km = similarity.kmeans_assign_sql(KMEANS_SEED_IDS, n_iter=KMEANS_ITERS)
    sq8 = similarity.sq8_topk_sql(ANN_QUERY_IDS, EMBEDDING_DIM, k=5)
    mp = similarity.lsh_multiprobe_topk_sql(ANN_QUERY_IDS, LSH_PLANE_IDS, k=5)
    pq = similarity.pq_topk_sql(
        ANN_QUERY_IDS, PQ_CODEBOOK_IDS, k=5,
        rerank_factor=PQ_RERANK_FACTOR, train_iters=PQ_TRAIN_ITERS,
    )
    ivfpq = similarity.ivfpq_topk_sql(
        ANN_QUERY_IDS, IVFPQ_COARSE_IDS, PQ_CODEBOOK_IDS, k=5,
        nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
        train_iters=PQ_TRAIN_ITERS,
        coarse_train_iters=IVFPQ_COARSE_ITERS,
    )
    ivfpq_res = similarity.ivfpq_residual_topk_sql(
        ANN_QUERY_IDS, IVFPQ_COARSE_IDS, PQ_CODEBOOK_IDS, k=5,
        nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
        train_iters=PQ_TRAIN_ITERS,
        coarse_train_iters=IVFPQ_COARSE_ITERS,
    )
    ivfpq_filt = similarity.ivfpq_topk_sql(
        ANN_QUERY_IDS, IVFPQ_COARSE_IDS, PQ_CODEBOOK_IDS, k=5,
        nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
        train_iters=PQ_TRAIN_ITERS,
        coarse_train_iters=IVFPQ_COARSE_ITERS,
        filter_pred=FILTERED_ANN_PRED,
    )
    mrl = similarity.prefix_dim_topk_sql(
        ANN_QUERY_IDS, MRL_PREFIX_DIMS, k=5,
        rerank_factor=MRL_RERANK_FACTOR,
    )
    pca_pref = similarity.pca_power_prefix_topk_sql(
        ANN_QUERY_IDS, EMBEDDING_DIM, MRL_PREFIX_DIMS,
        n_iter=PCA_POWER_ITERS, k=5, rerank_factor=PCA_PREFIX_RERANK,
    )
    filt = similarity.filtered_topk_sql(
        ANN_QUERY_IDS, FILTERED_ANN_PRED, k=5
    )
    bsign = similarity.binary_sign_topk_sql(
        ANN_QUERY_IDS, EMBEDDING_DIM, k=5,
        rerank_factor=BSIGN_RERANK_FACTOR,
    )
    bsign_filt = similarity.binary_sign_topk_sql(
        ANN_QUERY_IDS, EMBEDDING_DIM, k=5,
        rerank_factor=BSIGN_RERANK_FACTOR,
        filter_pred=FILTERED_ANN_PRED,
    )
    return (
        f"SELECT *, 'lsh' AS method FROM ({lsh})\n"
        f"UNION ALL\nSELECT *, 'ivf' AS method FROM ({ivf})\n"
        f"UNION ALL\nSELECT query_id, cand_id, cos_sim, rank, 'kmeans' AS method\n"
        f"FROM (SELECT vec_id AS query_id, cell AS cand_id, cos_sim,\n"
        f"             1 AS rank FROM ({km}))\n"
        f"UNION ALL\nSELECT *, 'sq8' AS method FROM ({sq8})\n"
        f"UNION ALL\nSELECT *, 'lsh_mp' AS method FROM ({mp})\n"
        f"UNION ALL\nSELECT *, 'pq' AS method FROM ({pq})\n"
        f"UNION ALL\nSELECT *, 'ivfpq' AS method FROM ({ivfpq})\n"
        f"UNION ALL\nSELECT *, 'ivfpq_res' AS method FROM ({ivfpq_res})\n"
        f"UNION ALL\nSELECT *, 'ivfpq_filt' AS method FROM ({ivfpq_filt})\n"
        f"UNION ALL\nSELECT *, 'mrl' AS method FROM ({mrl})\n"
        f"UNION ALL\nSELECT *, 'pca_prefix' AS method FROM ({pca_pref})\n"
        f"UNION ALL\nSELECT *, 'filtered' AS method FROM ({filt})\n"
        f"UNION ALL\nSELECT *, 'bsign' AS method FROM ({bsign})\n"
        f"UNION ALL\nSELECT *, 'bsign_filt' AS method FROM ({bsign_filt})"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate generation + exact cosine verify — the
    scale path (equi-joins only; no all-pairs nested loop). The exact
    all-pairs form stays as the recall baseline in
    tests/test_llmdata.py."""
    return similarity.embedding_cosine_dups_bucketed(
        io.load(spark, sf_dir, "embeddings"), DEDUP_PLANE_IDS
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.lang_id_ngram(io.load(spark, sf_dir, "documents"))


def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decoder image path: synthesize a valid PNG binary column,
    parse container + inflate + unfilter on executors (Arrow-batched),
    pixel stats as exact integers."""
    media = multimodal.attach_png_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.png_features(media)


def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual hashing through the REAL decode path: PNG
    parse + inflate + unfilter + nearest-neighbor 9x8 dHash in one
    Arrow hop, emitted as integer halves + 16-bit LSH bands. The
    near-dup PAIR join (image_dhash_dups) is pytest-pinned on a
    crafted corpus — on this synthetic gradient corpus nearly every
    image is a legitimate near-dup of every other, so the bounded
    per-image hash relation is what the oracle gates."""
    media = multimodal.attach_png_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.image_dhash(media)


def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luma min/max + horizontal gradient energy through the REAL
    decode path (operators/multimodal.py::image_stats) — the cheap
    sharpness/flatness quality screen of an image corpus."""
    media = multimodal.attach_png_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.image_stats(media)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decoder path: synthesize a WAV binary column, parse it
    with the stdlib RIFF/PCM decoder on executors (Arrow-batched),
    derive float stats JVM-side."""
    media = multimodal.attach_wav_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.wav_features(media)


def multimodal_png_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive decode over a POISONED corpus (VERDICT r9 ask #1):
    30% of the synthetic PNGs are deterministically corrupted
    (bad signature / IHDR height lie / spec-invalid color type —
    operators/multimodal.py::poison_png) and the extractor runs in
    mode="permissive", so the gate proves a poisoned corpus yields
    null-feature rows with queryable ``decode_error`` strings instead
    of a failed job (one bad blob among 100 TB must cost one row)."""
    media = multimodal.attach_poisoned_png_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.png_features(media, mode="permissive")


def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decoder JPEG path (VERDICT r10 ask #5): synthesize a
    valid baseline JPEG binary column (four luma-invariant encoding
    classes — grayscale, YCbCr 4:4:4, 4:2:0, restart markers) and
    run the full stdlib SOF0 decoder (markers + Annex-K huffman +
    dequant + IDCT + sampling-factor assembly) on executors; the
    oracle replays the codec-fixed-point pixel formula
    (operators/jpeg.py module docstring)."""
    media = multimodal.attach_jpeg_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.jpeg_features(media)


def multimodal_jpeg_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive decode over the POISONED JPEG corpus: 40% of blobs
    deterministically altered (bad signature / SOF0 height lie ->
    truncated entropy stream / spec-invalid precision / SOF2
    progressive format class — operators/multimodal.py::poison_jpeg);
    the gate proves the JPEG lane surfaces errors as data, like the
    PNG twin, and MEASURES the corpus share a progressive decode
    path would unlock (the 'progressive JPEG (SOF2) not supported'
    rows — 10% here by construction; r12, VERDICT r11 ask #5)."""
    media = multimodal.attach_poisoned_jpeg_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.jpeg_features(media, mode="permissive")


def multimodal_jpeg_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_stats through the JPEG lane (r11): luma min/max +
    horizontal gradient energy over the REAL baseline decode —
    grad_sum on the flat-block corpus measures exactly the 8-px
    block-seam structure, so the gate pins the decoder's block
    placement as well as its values."""
    media = multimodal.attach_jpeg_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.image_stats(media)


def multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jpeg_features through the r12 PROGRESSIVE (SOF2) decode
    path: real multi-scan streams — DC scan + per-band AC scans with
    EOBRUN runs, and successive-approximation refinement scans on a
    third of the corpus — decode on executors; the oracle replays
    the same fixed-point pixel formula as the baseline gate (a fully
    refined stream's coefficients are identical by construction,
    operators/jpeg.py::encode_progressive_gray)."""
    media = multimodal.attach_progressive_jpeg_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.jpeg_features(media)


def multimodal_media_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media lane's composed corpus pass (the image-side analog
    of recipe_training_corpus): permissive decode -> features ->
    perceptual-hash near-dup pairs -> per-doc verdict, over the SAME
    poisoned corpus the decode-errors gate runs — so the one result
    proves the full ingest story: corrupt blobs become
    'decode_error' rows, near-duplicate images lose all but the
    smallest-id survivor ('near_dup'), everything else is 'keep'.
    r11: the corpus is MIXED (odd doc_ids poisoned PNG, even
    poisoned baseline JPEG) and the recipe routes each blob through
    the right decoder off its mime — the crawled-corpus shape."""
    media = multimodal.attach_poisoned_mixed_media(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.media_recipe(media)


def multimodal_audio_tone_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral path over the REAL decoded samples: DFT-bin energies
    per file (operators/multimodal.py::audio_tone_energy)."""
    media = multimodal.attach_wav_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.audio_tone_energy(media)


def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-windowed spectral fingerprints over REAL decoded PCM
    (operators/multimodal.py::audio_fingerprint): 21-bit delta-coded
    DFT-bin signature + 7-bit LSH bands per file, over the tone
    corpus with 250 planted amplitude-scaled duplicates."""
    media = multimodal.attach_tone_wav_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.audio_fingerprint(media)


def multimodal_audio_fingerprint_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-dup PAIRS (VERDICT r9 ask #5): banded-LSH candidate
    join + exact hamming verify over the fingerprints — every planted
    amplitude-scaled duplicate pairs at hamming 0 (delta-coded bits
    are amplitude-invariant), plus the corpus's own exact waveform
    collisions."""
    media = multimodal.attach_tone_wav_payload(
        io.load(spark, sf_dir, "documents")
    )
    return multimodal.audio_fingerprint_dups(
        multimodal.audio_fingerprint(media)
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_binary_payload(io.load(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fns.normalize_text(io.load(spark, sf_dir, "documents"))


def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint contract over the events feed — the
    generalized form of the reference's scattered validators."""
    from ts_data_pipeline_spark.operators import constraints as C

    events = io.load(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    plain = [
        C.not_null("value"),
        C.in_range("value", 0.0, 1000.0),
        C.in_set("event_type", ["click", "view", "purchase", "signup", "error"]),
        C.matches("props", "^[{].*[}]$"),
    ]
    return C.run_checks(events, plain + [C.unique_key("event_id")])


def _dq_suite_sql() -> str:
    from ts_data_pipeline_spark.operators import constraints as C

    plain = [
        C.not_null("value"),
        C.in_range("value", 0.0, 1000.0),
        C.in_set("event_type", ["click", "view", "purchase", "signup", "error"]),
        C.matches("props", "^[{].*[}]$"),
    ]
    # DuckDB uses regexp_matches, Spark RLIKE — rewrite the regex check.
    sql = C.checks_sql("events", plain, unique_cols=["event_id"])
    return sql.replace(
        "NOT (props RLIKE '^[{].*[}]$')", "NOT regexp_matches(props, '^[{].*[}]$')"
    )


def corpus_mix_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus construction: weighted source mix +
    deterministic hash train/eval split, summarized per cell.
    Both the mix draw and the split are md5-keyed deterministic
    hashing (no RNG), so the whole pipeline is hash-exact against
    the DuckDB oracle and reproducible across engines/reruns."""
    docs = io.load(spark, sf_dir, "documents")
    mixed = sampling.weighted_mix(
        {
            "curated": docs.filter(F.col("lang") == "en"),
            "crawl": docs.filter(F.col("lang") != "en"),
        },
        {"curated": 1.0, "crawl": 0.6},
    )
    split = sampling.hash_split(mixed, "doc_id", eval_permille=100)
    return split.groupBy("mix_source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def _corpus_mix_split_sql() -> str:
    crawl_keep = sampling.weighted_mix_sql_predicate("crawl", 0.6)
    split_case = sampling.hash_split_sql_case("doc_id", eval_permille=100)
    return f"""
WITH mixed AS (
  SELECT doc_id, n_chars, 'curated' AS mix_source
  FROM documents WHERE lang = 'en'
  UNION ALL
  SELECT doc_id, n_chars, 'crawl' AS mix_source
  FROM documents WHERE lang != 'en' AND {crawl_keep}
),
assigned AS (
  SELECT mix_source, n_chars, {split_case} AS split FROM mixed
)
SELECT mix_source, split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY mix_source, split
"""


# normalize_text + doc_fingerprints (+ token_stats) are verified
# together as ``text_stats_suite``; dedup_exact + dedup_simhash as
# ``dedup_exact_simhash`` (queries/suites.py).
#: Per-source survivor cap for the composed-recipe gate: the 20
#: synthetic sources hold 25 docs each pre-gate, so 12 BITES on the
#: well-surviving sources (the stage does real work at gate SF)
#: while leaving the packed output far from empty.
RECIPE_SOURCE_CAP = 12
#: Per-registrable-domain survivor cap (r13): the URL fixture yields
#: FOUR distinct eTLD+1 values (sample.org absorbs two host
#: families), so 45 bites on the hot domains at gate SF while
#: leaving every domain represented.
RECIPE_DOMAIN_CAP = 45
#: Mega-domain routing threshold for the hybrid quota (r14): at gate
#: SF the hot eTLD+1 (sample.org, two host families) exceeds this and
#: takes the scan-shaped threshold leg while the bounded domains keep
#: the exact rank cap — both legs execute in the gate (verified: the
#: gate output DIFFERS from the pure-rank form at sf0.01, so the
#: threshold leg demonstrably bites).
RECIPE_DOMAIN_MEGA = 60
#: Decontamination knobs for the composed recipe (r13): 4-gram
#: overlap vs the doc_id %% 13 eval split. The synthetic corpus
#: shares a small vocabulary, so the production-style 0.05 threshold
#: flags EVERYTHING at gate SF — 0.2 calibrated to bite (drops eval
#: docs + the worst-overlap train docs) while leaving the packed
#: output healthy at both sf0.001 and sf0.01.
RECIPE_DECON_N = 4
RECIPE_DECON_THRESHOLD = 0.2


def recipe_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed end-to-end recipe as a gated query (VERDICT r7
    ask #5, front door widened per r12 asks #2/#3): URL dedup ->
    charset/mojibake repair -> HTML extraction -> corpus-wide C4
    line dedup -> benchmark decontamination (eval split out,
    overlapping train docs quarantined) -> ingest gates -> CCNet
    tail drop -> n-gram near-dup canonicals -> SemDeDup -> source
    quota -> registrable-domain (eTLD+1) quota through the PSL
    snapshot -> temperature resample -> deterministic shuffle ->
    sequence packing, every stage the same operator its standalone
    gate checks, hash-compared as ONE result.
    Reference analog: the whole option_trades -> aggs pipeline ran
    end-to-end (/root/reference/quix.yaml:8-260), not stage-by-stage."""
    from ts_data_pipeline_spark import recipes

    return recipes.build_training_corpus(
        io.load(spark, sf_dir, "documents"),
        embeddings=io.load(spark, sf_dir, "embeddings"),
        semdedup_seeds=KMEANS_SEED_IDS,
        source_cap=RECIPE_SOURCE_CAP,
        domain_cap=RECIPE_DOMAIN_CAP,
        domain_quota_mega_threshold=RECIPE_DOMAIN_MEGA,
        html_input=True,
        url_dedup=True,
        line_dedup_max=2,
        charset_input=True,
        decontaminate_n=RECIPE_DECON_N,
        decontaminate_threshold=RECIPE_DECON_THRESHOLD,
    )


def _recipe_training_corpus_sql() -> str:
    from ts_data_pipeline_spark import recipes

    return recipes.build_training_corpus_sql(
        semdedup_seeds=KMEANS_SEED_IDS,
        source_cap=RECIPE_SOURCE_CAP,
        domain_cap=RECIPE_DOMAIN_CAP,
        domain_quota_mega_threshold=RECIPE_DOMAIN_MEGA,
        html_input=True,
        url_dedup=True,
        line_dedup_max=2,
        charset_input=True,
        decontaminate_n=RECIPE_DECON_N,
        decontaminate_threshold=RECIPE_DECON_THRESHOLD,
    )


register("dq_constraint_suite", dq_constraint_suite, _dq_suite_sql())
register(
    "recipe_training_corpus",
    recipe_training_corpus,
    _recipe_training_corpus_sql(),
)
register("corpus_mix_split", corpus_mix_split, _corpus_mix_split_sql())
register("dedup_ngram_jaccard", dedup_ngram_jaccard, dedup.ngram_jaccard_sql())
register("dedup_minhash_lsh", dedup_minhash_lsh, dedup.minhash_lsh_sql())
register("text_quality_features", text_quality_features, text_fns.quality_features_sql())
register("ann_brute_topk", ann_brute_topk, similarity.brute_force_topk_sql(ANN_QUERY_IDS, k=10))
register("ann_lsh_ivf_topk", ann_lsh_ivf_topk, _ann_lsh_ivf_sql())
register(
    "dedup_embedding_cosine",
    dedup_embedding_cosine,
    similarity.embedding_cosine_dups_bucketed_sql(DEDUP_PLANE_IDS),
)
register("lang_id_ngram", lang_id, text_fns.lang_id_ngram_sql())
# multimodal_features is registered as a WAV+PNG suite in queries/suites.py
register("multimodal_frame_sample", multimodal_frame_sample, multimodal.frame_sample_sql())
