"""Text analysis for training-data pipelines (north-star ops).

Language-ID heuristic, quality scoring, token counting, and document
fingerprinting — all pure Column expressions over the documents
table, so they vectorize JVM-side at any scale. (The reference has
no text operators; these extend the engine per the build brief.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny English stopword list for the heuristic scorer (public common
# words; the synthetic corpus is English-ish so this discriminates).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality/feature vector.

    n_tokens, distinct tokens, avg token length, stopword ratio, a
    character-class ratio, a logistic quality score, a language-ID
    heuristic, and an md5 content fingerprint.
    """
    # Zero-shuffle form (r15): every per-token aggregate folds over
    # the token ARRAY in one projection instead of explode ->
    # groupBy(count/count_distinct/avg/sum) -> join-back. The old
    # shape paid two hash-aggregate exchanges (count_distinct expands
    # to a two-level agg) plus a second scan of ``docs`` for the join
    # — at 100 TB that is a corpus-wide shuffle of every token for
    # per-document-computable quantities. Value-identical: the fold
    # sums are exact integers (so double-summation order in the old
    # avg() cannot differ), count_distinct == size(array_distinct),
    # and the doc set matches because tokens exist iff the text has a
    # non-space char — the ``trim(text) != ''`` filter is that exact
    # predicate on the raw column, so it pushes to the parquet scan
    # instead of re-tokenizing every row the way size(tokens) > 0
    # would after Catalyst pushes it below the projection. Measured
    # -33% at sf0.1 with the collected result set string-identical
    # (r15 A/B); gated vs the unchanged DuckDB twin.
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # doc_id IS NOT NULL preserves the old join-back semantics: the
    # inner equi-join silently dropped NULL-keyed docs.
    feat = docs.filter(
        F.expr(f"doc_id IS NOT NULL AND trim({text_col}) != ''")
    ).selectExpr(
        "doc_id",
        f"filter(split(lower({text_col}), ' '), t -> t != '') AS _toks",
        f"md5({text_col}) AS fingerprint",
        f"round((length({text_col}) - "
        f"length(regexp_replace({text_col}, '[aeiou]', ''))) / "
        f"length({text_col}), 4) AS vowel_ratio",
    ).selectExpr(
        "doc_id",
        "CAST(size(_toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(_toks)) AS BIGINT) AS n_distinct_tokens",
        "round(aggregate(_toks, 0L, (acc, t) -> acc + length(t)) / size(_toks), 4)"
        " AS avg_token_len",
        f"aggregate(_toks, 0L, (acc, t) -> "
        f"acc + CASE WHEN t IN ({stop_list}) THEN 1 ELSE 0 END) AS stop_cnt",
        "fingerprint",
        "vowel_ratio",
    )
    stop_ratio = "round(stop_cnt / n_tokens, 4)"
    return feat.selectExpr(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "avg_token_len",
        f"{stop_ratio} AS stop_ratio",
        "vowel_ratio",
        f"round(1.0 / (1.0 + exp(-(0.01 * n_tokens + 5.0 * {stop_ratio} - 2.0))), 4)"
        " AS quality_score",
        f"CASE WHEN {stop_ratio} > 0.05 THEN 'en' ELSE 'other' END AS lang_guess",
        "fingerprint",
    )


def quality_features_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t != '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         COUNT(DISTINCT tok) AS n_distinct_tokens,
         ROUND(AVG(length(tok)), 4) AS avg_token_len,
         CAST(SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS BIGINT)
           AS stop_cnt
  FROM toks GROUP BY doc_id
),
base AS (
  SELECT doc_id, md5(text) AS fingerprint,
         ROUND(CAST(length(text) -
               length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
               / length(text), 4) AS vowel_ratio
  FROM documents
)
SELECT p.doc_id, p.n_tokens, p.n_distinct_tokens, p.avg_token_len,
       ROUND(CAST(p.stop_cnt AS DOUBLE) / p.n_tokens, 4) AS stop_ratio,
       b.vowel_ratio,
       ROUND(1.0 / (1.0 + exp(-(0.01 * p.n_tokens +
             5.0 * ROUND(CAST(p.stop_cnt AS DOUBLE) / p.n_tokens, 4) - 2.0))), 4)
         AS quality_score,
       CASE WHEN ROUND(CAST(p.stop_cnt AS DOUBLE) / p.n_tokens, 4) > 0.05
            THEN 'en' ELSE 'other' END AS lang_guess,
       b.fingerprint
FROM per_doc p JOIN base b ON p.doc_id = b.doc_id
"""


# Char-trigram profiles per language (tiny hand-rolled weights over
# the most discriminative common trigrams; ASCII-only so both engines
# agree byte-for-byte). Real deployments would learn these from a
# labeled corpus; the operator mechanics are identical.
LANG_PROFILES: dict[str, dict[str, float]] = {
    "en": {"the": 3.0, "and": 2.0, "ing": 2.0, "ion": 1.5, " th": 2.5, "er ": 1.0},
    "de": {"der": 3.0, "ein": 2.0, "sch": 2.5, "und": 2.5, "ich": 2.0, "en ": 1.0},
    "fr": {"les": 2.5, "ent": 2.0, "de ": 2.0, "que": 2.0, "ais": 1.5, "eur": 1.5},
    "es": {"de ": 2.0, "la ": 2.0, "que": 2.0, "cion": 0.0, "ado": 1.5, "los": 2.0},
}


def lang_id_ngram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID by char-trigram profile scoring.

    Per document: explode character trigrams, count, broadcast-join
    the (tiny) profile table, score = sum(weight x count) / n_grams
    per language, argmax via max_by. The profile join is the
    canonical small-dimension broadcast — zero shuffle of the corpus
    side at any scale; the only shuffle is the per-doc score agg.
    """
    spark = docs.sparkSession
    profile_rows = [
        (lang, gram, w)
        for lang, grams in LANG_PROFILES.items()
        for gram, w in grams.items()
        if w > 0
    ]
    profiles = spark.createDataFrame(profile_rows, "lang string, gram string, w double")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(lower({text_col})) - 2, 1)), "
                f"i -> substring(lower({text_col}), i, 3))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    totals = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    scores = (
        counts.join(F.broadcast(profiles), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("w") * F.col("cnt")).alias("raw"))
        .join(totals, "doc_id")
        .select(
            "doc_id", "lang", F.round(F.col("raw") / F.col("n_grams"), 6).alias("score")
        )
    )
    # argmax language; lexicographic tiebreak for determinism.
    return (
        scores.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("lang_pred"), "score")
    )


def lang_id_ngram_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{gram}', {w})"
        for lang, grams in LANG_PROFILES.items()
        for gram, w in grams.items()
        if w > 0
    )
    return f"""
WITH profiles AS (SELECT * FROM (VALUES {rows}) AS p(lang, gram, w)),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(lower(text)) - 2, 1) + 1),
                               i -> substring(lower(text), i, 3))) AS gram
  FROM documents
),
counts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
scores AS (
  SELECT c.doc_id, p.lang,
         ROUND(SUM(p.w * c.cnt) / ANY_VALUE(t.n_grams), 6) AS score
  FROM counts c JOIN profiles p USING (gram) JOIN totals t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id, p.lang
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rk
  FROM scores
)
SELECT doc_id, lang AS lang_pred, score FROM ranked WHERE rk = 1
"""


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Cleaning normalization for training text: strip control chars,
    collapse runs of whitespace, trim, casefold. Pure expressions —
    the whole pass stays in codegen; at 100 TB this is a map-only
    stage with zero shuffle."""
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, "[\\x00-\\x1F\\x7F]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, "\\s+", " "))
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_raw"),
        F.lower(collapsed).alias("text_norm"),
        F.length(F.lower(collapsed)).alias("n_chars_norm"),
    )


NORMALIZE_TEXT_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_raw,
       lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
                                 '\s+', ' ', 'g'))) AS text_norm,
       length(lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
                                        '\s+', ' ', 'g')))) AS n_chars_norm
FROM documents
"""


def doc_fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Content + shingle-range fingerprints per document.

    md5 of the full text plus lexicographic min/max of the shingle
    digests (a 1-permutation MinHash — engine-portable and exact).
    """
    from ts_data_pipeline_spark.operators.dedup import shingles_col

    sh = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_md5"),
        F.explode(shingles_col(n)).alias("sh"),
    )
    return sh.groupBy("doc_id", "content_md5").agg(
        F.min(F.md5(F.col("sh"))).alias("shingle_min"),
        F.max(F.md5(F.col("sh"))).alias("shingle_max"),
        F.count_distinct(F.col("sh")).alias("n_shingles"),
    )


def doc_fingerprints_sql(n: int = 3) -> str:
    from ts_data_pipeline_spark.operators.dedup import SHINGLES_SQL

    sh = SHINGLES_SQL.format(nm1=n - 1)
    return f"""
WITH sh AS (
  SELECT doc_id, md5(text) AS content_md5, unnest({sh}) AS sh
  FROM documents
)
SELECT doc_id, content_md5,
       MIN(md5(sh)) AS shingle_min,
       MAX(md5(sh)) AS shingle_max,
       COUNT(DISTINCT sh) AS n_shingles
FROM sh GROUP BY doc_id, content_md5
"""


def repetition_features(docs: DataFrame, n: int = 5) -> DataFrame:
    """Within-document repetition (a standard pretraining quality
    signal): fraction of duplicated word n-grams. Boilerplate/
    templated documents score high and get filtered before training.
    Pure expressions — scan-shaped, zero shuffle."""
    from ts_data_pipeline_spark.operators.dedup import shingles_col

    base = docs.select("doc_id", shingles_col(n).alias("g"))
    total = F.size(F.col("g"))
    distinct = F.size(F.array_distinct(F.col("g")))
    return base.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        F.round(
            F.when(total > 0, 1.0 - distinct / total).otherwise(0.0), 4
        ).alias("rep_ratio"),
    )


def repetition_features_sql(n: int = 5) -> str:
    from ts_data_pipeline_spark.operators.dedup import SHINGLES_SQL

    sh = SHINGLES_SQL.format(nm1=n - 1)
    return f"""
WITH g AS (SELECT doc_id, {sh} AS g FROM documents)
SELECT doc_id,
       len(g) AS n_grams,
       len(list_distinct(g)) AS n_distinct,
       ROUND(CASE WHEN len(g) > 0
             THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
             ELSE 0.0 END, 4) AS rep_ratio
FROM g
"""


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Per-language document-length distribution (p50/p90/p99 chars)
    — the length-filter calibration input of a corpus pipeline. Uses
    EXACT interpolating percentiles (matches DuckDB quantile_cont
    value-for-value); at 100 TB swap to approx_percentile(err=1e-4),
    which needs no sort and sketches map-side."""
    base = docs.select("lang", F.length("text").alias("len"))
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("len", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("len", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("len", F.lit(0.99)), 4).alias("p99"),
    )


LENGTH_QUANTILES_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(length(text), 0.5), 4) AS p50,
       ROUND(quantile_cont(length(text), 0.9), 4) AS p90,
       ROUND(quantile_cont(length(text), 0.99), 4) AS p99
FROM documents GROUP BY lang
"""


#: Deterministic augmentation so the PII extractors have real hits in
#: the synthetic corpus: every 7th doc gains an email, every 11th a
#: URL, every 13th a long digit run.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^ ]+"
_PII_DIGITS = r"[0-9]{6,}"


def _pii_augmented() -> Column:
    """Deterministic PII augmentation: the synthetic corpus has no
    real PII tokens, so counter AND redactor plant the same
    email/URL/digit-run fixtures (%7/%11/%13 keyed) before extracting.
    Single source of truth — :data:`_PII_AUG_SQL` is the SQL twin."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" https://example.org/d/"), F.col("doc_id")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" 99"), (F.col("doc_id") + 1000000).cast("string")),
        ).otherwise(F.lit("")),
    )


#: SQL twin of :func:`_pii_augmented` (DuckDB expression over documents).
_PII_AUG_SQL = """text ||
         CASE WHEN doc_id % 7 = 0
              THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' https://example.org/d/' || CAST(doc_id AS VARCHAR)
              ELSE '' END ||
         CASE WHEN doc_id % 13 = 0
              THEN ' 99' || CAST(doc_id + 1000000 AS VARCHAR)
              ELSE '' END"""


def pii_signal_counts(docs: DataFrame) -> DataFrame:
    """PII-ish signal counting (emails / URLs / long digit runs) — the
    scrub-or-drop decision input of a training-data pipeline. The
    synthetic corpus has no such tokens, so a deterministic
    augmentation plants them first; the extractors then genuinely
    find them (regexes are RE2-safe on both engines)."""
    aug = _pii_augmented()
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_URL)).alias("n_urls"),
        F.regexp_count(aug, F.lit(_PII_DIGITS)).alias("n_digit_runs"),
        F.regexp_extract(aug, f"({_PII_EMAIL})", 1).alias("first_email"),
    )


PII_SIGNAL_SQL = rf"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_URL}')) AS n_urls,
       len(regexp_extract_all(t, '{_PII_DIGITS}')) AS n_digit_runs,
       COALESCE(regexp_extract(t, '({_PII_EMAIL})', 1), '') AS first_email
FROM aug
"""


def decontaminate(
    docs: DataFrame, n: int = 4, eval_mod: int = 13, threshold: float = 0.05
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    n-grams collide with a held-out evaluation split (the GPT-3/PaLM
    style overlap check run before any pretraining corpus ships).

    The eval split here is the deterministic ``doc_id % eval_mod == 0``
    slice of the same table; in production it is the benchmark suite.
    Per train doc: distinct n-grams, how many also occur in ANY eval
    doc, the contamination ratio, and the ship/quarantine flag.

    Scale shape: the eval side is tiny relative to the corpus (a few
    MB of benchmark text vs 100 TB), so its distinct n-gram set is
    BROADCAST — the corpus never shuffles for the probe; the only
    corpus-wide exchange is the per-doc count agg, which combines
    map-side. Flagging is resilient to doc-level near-dup laundering
    because the probe is n-gram- not digest-based.
    """
    from ts_data_pipeline_spark.operators.dedup import shingles_col

    is_eval = (F.col("doc_id") % eval_mod) == 0
    grams = docs.select(
        "doc_id",
        is_eval.alias("is_eval"),
        F.explode(F.array_distinct(shingles_col(n))).alias("g"),
    )
    eval_grams = grams.filter("is_eval").select("g").distinct()
    hits = (
        grams.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = docs.filter(~is_eval).select(
        "doc_id", F.size(F.array_distinct(shingles_col(n))).alias("n_grams")
    )
    ratio = F.col("n_contaminated") / F.greatest(F.col("n_grams"), F.lit(1))
    return (
        totals.join(hits, "doc_id", "left")
        .fillna(0, subset=["n_contaminated"])
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(ratio, 4).alias("contamination"),
            (ratio >= threshold).alias("flagged"),
        )
    )


def decontaminate_sql(
    n: int = 4,
    eval_mod: int = 13,
    threshold: float = 0.05,
    table: str = "documents",
) -> str:
    from ts_data_pipeline_spark.operators.dedup import SHINGLES_SQL

    sh = SHINGLES_SQL.format(nm1=n - 1)
    return f"""
WITH g AS (
  SELECT doc_id, doc_id % {eval_mod} = 0 AS is_eval,
         unnest(list_distinct({sh})) AS g
  FROM {table}
),
ev AS (SELECT DISTINCT g FROM g WHERE is_eval),
hits AS (
  SELECT tr.doc_id, COUNT(*) AS n_contaminated
  FROM g tr JOIN ev USING (g) WHERE NOT tr.is_eval GROUP BY tr.doc_id
),
totals AS (
  SELECT doc_id, len(list_distinct({sh})) AS n_grams
  FROM {table} WHERE doc_id % {eval_mod} != 0
)
SELECT t.doc_id, t.n_grams,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
             / greatest(t.n_grams, 1), 4) AS contamination,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
             / greatest(t.n_grams, 1) >= {threshold} AS flagged
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


def bpe_bigram_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """The BPE-training inner step: corpus-wide adjacent-token-pair
    frequencies, top-k with a total tie-break (count desc, pair asc)
    so the merge choice is deterministic in any engine.

    Scale shape: pair extraction is scan-side expression work; the
    histogram agg combines map-side; top-k is TakeOrdered (per-task
    heaps + driver merge of k rows), never a global sort.
    """
    pairs = F.expr(
        "transform(array(filter(split(lower(text), ' '), t -> t != '')), "
        "toks -> CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(0, size(toks) - 2), "
        "i -> concat(toks[i], ' ', toks[i + 1])) END)[0]"
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_bigram_topk_sql(k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT list_filter(string_split(lower(text), ' '), t -> t != '') AS t
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM toks
)
SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT {k}
"""


# ---------------------------------------------------------------------
# N-gram language-model perplexity filtering (CCNet-style). The
# classic web-corpus quality step: train a smoothed bigram LM on the
# corpus itself, score every document's mean token log-probability,
# and bucket documents head/middle/tail by perplexity terciles
# (CCNet keeps head+middle, drops tail). Everything is two count
# aggregations plus equi-joins — no UDF, no driver state.
#
# Scale shape: token/bigram counts partial-aggregate map-side; the
# score join is equi on (w1, w2) so both sides co-partition on the
# same shuffle key; the vocab size and tercile thresholds are 1-row
# relations (resultset-sized crossJoins). Exact percentile thresholds
# are the small-SF oracle form — at 100 TB swap percentile() for
# approx_percentile and the plan shape is unchanged.
# ---------------------------------------------------------------------

def bigram_lm_perplexity(
    docs: DataFrame, text_col: str = "text", k: float = 0.5
) -> DataFrame:
    """Per-document perplexity under an add-k-smoothed bigram LM
    trained on the full corpus.

    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V) where c(w1·) counts
    w1 as a bigram context and V is corpus vocabulary size;
    ppl = exp(-mean log P) over the document's bigrams. Buckets are
    perplexity terciles: 'head' (most fluent) / 'middle' / 'tail'.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    vocab = toks.agg(F.count_distinct("tok").alias("v"))
    # One pass over the raw bigrams builds the per-doc multiset; the
    # corpus-level unigram/bigram LM counts then roll up from that
    # (much smaller) relation instead of re-deriving the tokenize+
    # window lineage per consumer. The multiset is cached because it
    # feeds three aggregations (MEMORY_AND_DISK spill keeps this safe
    # at corpus scale — same pattern as dedup._distinct_shingles).
    # Repeated calls over the same input produce the same canonicalized
    # plan, so the cache manager reuses one entry per input table
    # rather than accumulating per call. Retention for the session
    # lifetime is INTENTIONAL (here and for per_doc below): the
    # returned DataFrame is lazy, so there is no in-function point
    # after the final action to unpersist; callers that are done with
    # a corpus can spark.catalog.clearCache() or unpersist the inputs.
    doc_bg = (
        bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m")).cache()
    )
    uni = doc_bg.groupBy("w1").agg(F.sum("m").alias("cu"))
    bi = doc_bg.groupBy("w1", "w2").agg(F.sum("m").alias("cb"))
    logp = F.log((F.col("cb") + k) / (F.col("cu") + k * F.col("v")))
    per_doc = (
        doc_bg.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            (F.sum(F.col("m") * logp) / F.sum("m")).alias("_alp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round("_alp", 4).alias("avg_logp"),
            F.round(F.exp(-F.col("_alp")), 4).alias("ppl"),
        )
        .cache()  # doc-grain; consumed by cuts AND the final bucket join
    )
    cuts = per_doc.agg(
        F.expr("percentile(ppl, 1.0/3)").alias("t1"),
        F.expr("percentile(ppl, 2.0/3)").alias("t2"),
    )
    return per_doc.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_bigrams",
        "avg_logp",
        "ppl",
        F.when(F.col("ppl") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def bigram_lm_perplexity_sql(k: float = 0.5, table: str = "documents") -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t != '')) AS tok,
         generate_subscripts(list_filter(string_split(lower(text), ' '),
                                         t -> t != ''), 1) AS pos
  FROM {table}
),
bg AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
  QUALIFY w2 IS NOT NULL
),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
uni AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1),
bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
doc_bg AS (SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg GROUP BY doc_id, w1, w2),
per_doc AS (
  SELECT d.doc_id,
         CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
         ROUND(SUM(d.m * ln((b.cb + {k}) / (u.cu + {k} * v.v))) / SUM(d.m), 4)
           AS avg_logp,
         ROUND(exp(-(SUM(d.m * ln((b.cb + {k}) / (u.cu + {k} * v.v))) / SUM(d.m))), 4)
           AS ppl
  FROM doc_bg d
  JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
  JOIN uni u ON d.w1 = u.w1
  CROSS JOIN vocab v
  GROUP BY d.doc_id
),
cuts AS (
  SELECT quantile_cont(ppl, 1.0/3) AS t1, quantile_cont(ppl, 2.0/3) AS t2
  FROM per_doc
)
SELECT p.doc_id, p.n_bigrams, p.avg_logp, p.ppl,
       CASE WHEN p.ppl <= c.t1 THEN 'head'
            WHEN p.ppl <= c.t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM per_doc p CROSS JOIN cuts c
"""


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII redaction transform: mask emails / URLs / long digit runs
    with typed placeholders (the scrub half of the scrub-or-drop
    decision that :func:`pii_signal_counts` feeds). Same deterministic
    augmentation as the counter so the redactor genuinely fires.
    Replacements apply email -> URL -> digits in that order, so digit
    runs inside already-masked spans are not double-counted. Pure
    expression tree — whole-stage-codegen'd, no UDF."""
    aug = _pii_augmented()
    after_email = F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>")
    after_url = F.regexp_replace(after_email, _PII_URL, "<URL>")
    redacted = F.regexp_replace(after_url, _PII_DIGITS, "<NUM>")
    n_red = (
        F.regexp_count(aug, F.lit(_PII_EMAIL))
        + F.regexp_count(after_email, F.lit(_PII_URL))
        + F.regexp_count(after_url, F.lit(_PII_DIGITS))
    )
    return docs.select(
        "doc_id",
        redacted.alias("text_redacted"),
        n_red.alias("n_redacted"),
        (F.length(aug) - F.length(redacted)).alias("chars_removed"),
    )


PII_REDACT_SQL = rf"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS t
  FROM documents
),
steps AS (
  SELECT doc_id, t,
         regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug
),
steps2 AS (
  SELECT doc_id, t, t1,
         regexp_replace(t1, '{_PII_URL}', '<URL>', 'g') AS t2
  FROM steps
)
SELECT doc_id,
       regexp_replace(t2, '{_PII_DIGITS}', '<NUM>', 'g') AS text_redacted,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) +
       len(regexp_extract_all(t1, '{_PII_URL}')) +
       len(regexp_extract_all(t2, '{_PII_DIGITS}')) AS n_redacted,
       length(t) - length(regexp_replace(t2, '{_PII_DIGITS}', '<NUM>', 'g'))
         AS chars_removed
FROM steps2
"""


#: Gopher rule constants (Rae et al. 2021, table A1): word-count
#: bounds, mean-word-length band, symbol-to-word ratio cap, and the
#: required-stopword set (>=2 distinct must appear).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_SYMBOL_CAP = 0.1
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules as typed flag columns.

    Each rule is a pure expression over the token array; the final
    gopher_pass conjunction is the keep/drop decision a training
    pipeline applies before tokenization. Symbol ratio counts '#'
    chars and '...' runs per word, the Gopher symbol screen.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    n_words = F.size(toks)
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).cast("double") / n_words,
        4,
    )
    frac_unique = F.round(F.size(F.array_distinct(toks)) / n_words, 4)
    hash_cnt = F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((hash_cnt + ell_cnt) / n_words, 4)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    word_count_ok = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    mean_len_ok = (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN)
    symbol_ok = symbol_ratio <= GOPHER_SYMBOL_CAP
    stop_ok = stop_hits >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_unique.alias("frac_unique"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.cast("bigint").alias("stop_hits"),
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        symbol_ok.alias("symbol_ok"),
        stop_ok.alias("stop_ok"),
        (word_count_ok & mean_len_ok & symbol_ok & stop_ok).alias("gopher_pass"),
    )


def gopher_quality_flags_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), t -> t != '') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_words,
         ROUND(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks), 4) AS mean_word_len,
         ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
           AS frac_unique,
         ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) +
                CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
               / len(toks), 4) AS symbol_ratio,
         CAST(len(list_intersect(list_distinct(toks), [{stops}])) AS BIGINT)
           AS stop_hits
  FROM base
)
SELECT doc_id, n_words, mean_word_len, frac_unique, symbol_ratio, stop_hits,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS word_count_ok,
       mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
         AS mean_len_ok,
       symbol_ratio <= {GOPHER_SYMBOL_CAP} AS symbol_ok,
       stop_hits >= 2 AS stop_ok,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
         AND (symbol_ratio <= {GOPHER_SYMBOL_CAP})
         AND (stop_hits >= 2) AS gopher_pass
FROM feat
"""


# ---------------------------------------------------------------------
# Classifier-based quality scoring (the model-based filter stage of
# DCLM/FineWeb-style pipelines): hashed bag-of-words featurization ->
# linear score -> sigmoid -> threshold gate. The featurization, score
# shape, and gate are the real production plumbing; the weights here
# are DETERMINISTIC md5-derived pseudo-weights standing in for trained
# parameters (no model file ships in this sandbox). To deploy a
# trained model, replace the weight expression with a broadcast join
# against a (bucket, weight) table — the plan shape is unchanged.
# ---------------------------------------------------------------------

CLF_DIM = 1024
CLF_SALT = "clf-v1"
CLF_THRESHOLD = 0.5


def classifier_quality_score(
    docs: DataFrame,
    dim: int = CLF_DIM,
    salt: str = CLF_SALT,
    threshold: float = CLF_THRESHOLD,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc linear-classifier quality score over hashed word
    features: bucket = u32(md5(salt-word)) mod dim, weight(bucket) is
    an md5-derived uniform in [-0.5, 0.5), score =
    sigmoid(8 * mean(weight)). Output: (doc_id, n_words, clf_score,
    keep) with keep = score >= threshold; empty docs score 0.5.

    Scale shape: pure expression tree over the scan — the token array
    is let-bound once (single-element transform, same idiom as
    shingles_col), the weight lookup is hash math (no join at all),
    and no shuffle exists anywhere. Engine-portable md5 throughout,
    so the DuckDB oracle reproduces scores exactly (6 dp).
    """
    from ts_data_pipeline_spark.functions.portable_hash import U32_MD5_SPARK

    bucket = (
        "pmod(" + U32_MD5_SPARK.format(x=f"concat('{salt}-', t)") + f", {dim})"
    )
    w = (
        "("
        + U32_MD5_SPARK.format(x=f"concat('w-', cast({bucket} as string))")
        + " / 4294967296.0 - 0.5)"
    )
    toks = f"filter(split(lower({text_col}), ' '), t -> t != '')"
    feat = (
        f"transform(array({toks}), tk -> struct("
        f"size(tk) as n, "
        f"aggregate(transform(tk, t -> {w}), cast(0.0 as double), "
        f"(acc, x) -> acc + x) as s))[0]"
    )
    base = docs.select("doc_id", F.expr(feat).alias("_f"))
    score = F.when(
        F.col("_f.n") > 0,
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(F.lit(-8.0) * (F.col("_f.s") / F.col("_f.n")))),
            6,
        ),
    ).otherwise(F.lit(0.5))
    return base.select(
        "doc_id",
        F.col("_f.n").cast("bigint").alias("n_words"),
        score.alias("clf_score"),
    ).withColumn("keep", F.col("clf_score") >= threshold)


def classifier_quality_score_sql(
    dim: int = CLF_DIM, salt: str = CLF_SALT, threshold: float = CLF_THRESHOLD
) -> str:
    from ts_data_pipeline_spark.functions.portable_hash import u32_md5_sql

    bucket = "((" + u32_md5_sql(f"'{salt}-' || t") + f") % {dim})"
    w = (
        "(("
        + u32_md5_sql(f"'w-' || CAST({bucket} AS VARCHAR)")
        + ") / 4294967296.0 - 0.5)"
    )
    toks = "list_filter(string_split(lower(text), ' '), t -> t != '')"
    return f"""
WITH feat AS (
  SELECT doc_id,
         len({toks}) AS n,
         list_aggregate(list_transform({toks}, t -> {w}), 'sum') AS s
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS n_words,
         CASE WHEN n > 0
              THEN ROUND(1.0 / (1.0 + exp(-8.0 * (s / n))), 6)
              ELSE 0.5 END AS clf_score
  FROM feat
)
SELECT doc_id, n_words, clf_score, clf_score >= {threshold} AS keep
FROM scored
"""


# ---------------------------------------------------------------------
# Iterative BPE merge training (Sennrich et al. 2016). Completes the
# tokenizer-training story started by bpe_bigram_topk: fixed unrolled
# merge rounds over the word-TYPE table (classic corpus BPE operates
# on distinct words weighted by frequency, so the per-round state is
# vocabulary-sized, not corpus-sized).
#
# Symbol sequences are space-joined strings with sentinel boundary
# spaces; a merge is one replace(' a b ' -> ' ab '). replace() is
# left-to-right non-overlapping in Spark, DuckDB, and Python alike,
# which IS greedy BPE application except when ANY two occurrences of
# the winning pair are immediately adjacent in the sequence (back-to-
# back like 'a b a b', or overlapping as in a run of the same symbol
# 'a a a'): the first replacement consumes the shared boundary space,
# so the adjacent merge site no longer matches in the same pass and
# is deferred to a later round. Deviation documented, identical
# across engines, and pinned by a Python-reference pytest.
# ---------------------------------------------------------------------

def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus.

    Returns one row per merge round: (step, pair, merged, n) where
    pair is the space-joined symbol pair chosen at that round and n
    its frequency-weighted count. Deterministic: ties on count break
    on the pair string ascending.

    Scale shape: the word-type table is one explode + groupBy count
    (map-side partial); each round is a pair-explode + count over
    vocabulary-sized data plus a 1-row broadcast crossJoin carrying
    the winning pair into the merge replace. Each round's winning
    pair is materialized eagerly (one tiny job per round — the
    natural shape of an iterative trainer), and the symbol table is
    cut over to a ``localCheckpoint`` every ``checkpoint_every``
    rounds, so the replace/crossJoin lineage (and the generated code
    Janino must compile) stays bounded at real tokenizer-training
    merge counts instead of growing with every round. The initial
    word-type cache is dropped at the first checkpoint — nothing
    references its plan afterwards.
    """
    merge_rows, _ = _bpe_loop(docs, n_merges, text_col, checkpoint_every)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def _bpe_loop(
    docs: DataFrame, n_merges: int, text_col: str, checkpoint_every: int
) -> tuple[list[DataFrame], DataFrame]:
    """Shared train/apply core: run the merge rounds over the
    word-type table; return (per-round winner DataFrames, final
    symbol table (word, c, s))."""
    words = (
        docs.select(
            F.explode(
                F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cur = words.select(
        "word",
        "c",
        F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all("word", F.lit("."), 0), " "),
            F.lit(" </w> "),
        ).alias("s"),
    ).cache()
    base = cur  # unpersisted once lineage roots at a checkpoint
    merge_rows = []
    for step in range(1, n_merges + 1):
        arr = F.split(F.trim("s"), " ")
        # A fully-merged word (single symbol — happens to the most
        # frequent words once the merge count is double-digit) has no
        # pairs; guard it, because sequence(1, 0) is the DESCENDING
        # [1, 0] in Spark and element_at(arr, 2) then throws (same
        # trap documented at shingles_col).
        pair_arr = F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda j: F.concat(
                    F.element_at(arr, j), F.lit(" "), F.element_at(arr, j + 1)
                ),
            ),
        ).otherwise(F.expr("cast(array() as array<string>)"))
        # Eager 1-row checkpoint: the winner is both a result row and
        # the next round's broadcast input — materializing it severs
        # every consumer from this round's aggregation lineage.
        top = (
            cur.select("c", F.explode(pair_arr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
        ).localCheckpoint(eager=True)
        merge_rows.append(
            top.select(
                F.lit(step).alias("step"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
        # LEFT join on TRUE, not crossJoin: once merges exhaust (no
        # pairs anywhere) top is EMPTY, and a cross join would
        # annihilate the symbol table — wiping the vocabulary every
        # later consumer (bpe_tokenize) depends on. With the left join
        # the null pair coalesces to a single space, making the
        # replace pattern three consecutive spaces — which never
        # occurs in the single-space-joined symbol string, so the
        # round is a no-op instead of a wipe.
        pair_or_noop = F.coalesce(F.col("pair"), F.lit(" "))
        cur = cur.join(F.broadcast(top), F.lit(True), "left").select(
            "word",
            "c",
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), pair_or_noop, F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(pair_or_noop, F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("s"),
        )
        if step % checkpoint_every == 0 and step < n_merges:
            cur = cur.localCheckpoint(eager=True)
            if base is not None:
                base.unpersist()
                base = None
    if base is not None:
        # Runs whenever no intermediate checkpoint fired (n_merges <=
        # checkpoint_every): materialize the final symbol table (which
        # bpe_tokenize consumes anyway) so the word-type cache can be
        # dropped — otherwise it would outlive the call for the
        # session lifetime.
        cur = cur.localCheckpoint(eager=True)
        base.unpersist()
    return merge_rows, cur


def bpe_tokenize(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Apply the learned BPE merges to the corpus: per-doc BPE token
    counts under the ``n_merges``-round vocabulary trained on the
    same corpus (train -> apply, the full tokenizer story).

    Scale shape — tokenize TYPES, not tokens: the merge loop runs on
    the vocabulary-sized word-type table, the resulting
    word -> token-count map stays vocabulary-sized and is BROADCAST
    to the corpus-sized word explode, so the corpus itself never
    shuffles for tokenization; the only corpus shuffle is the final
    per-doc aggregation (map-side partial). At 100 TB the vocab map
    is the artifact a tokenizer service would ship.

    Output: (doc_id, n_words, n_tokens, tokens_per_word).
    """
    _, symbol_table = _bpe_loop(docs, n_merges, text_col, checkpoint_every)
    vocab = symbol_table.select(
        "word", F.size(F.split(F.trim("s"), " ")).alias("word_tokens")
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
        ).alias("word"),
    )
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 4).alias(
                "tokens_per_word"
            ),
        )
    )


def _bpe_chain_sql(n_merges: int) -> str:
    """The shared WITH-chain of merge rounds (train AND apply).

    Every s{i}/p{i} CTE is referenced twice (by the next round AND
    the final consumer); without MATERIALIZED, CTE inlining duplicates
    the whole upstream chain per reference — 2^n_merges base-table
    scans, which exhausts file handles past ~10 rounds. MATERIALIZED
    pins each round to one evaluation (the SQL analog of the Spark
    side's per-round localCheckpoint).
    """
    parts = [
        """WITH words AS MATERIALIZED (
  SELECT word, COUNT(*) AS c FROM (
    SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS word
    FROM documents
  ) GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, c,
         ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' </w> ' AS s
  FROM words
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT pair, SUM(c) AS n FROM (
    SELECT c, unnest(list_transform(range(1, len(arr)),
                     j -> arr[j] || ' ' || arr[j + 1])) AS pair
    FROM (SELECT c, string_split(trim(s), ' ') AS arr FROM s{i - 1})
  ) GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1
),
s{i} AS MATERIALIZED (
  SELECT word, c,
         replace(s, ' ' || COALESCE(pair, ' ') || ' ',
                 ' ' || replace(COALESCE(pair, ' '), ' ', '') || ' ') AS s
  FROM s{i - 1} LEFT JOIN p{i} ON TRUE
)""")
    return ",\n".join(parts)


def bpe_train_merges_sql(n_merges: int = 4) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, "
        f"CAST(n AS BIGINT) AS n FROM p{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_chain_sql(n_merges) + "\n" + selects


def bpe_tokenize_sql(n_merges: int = 16) -> str:
    return f"""{_bpe_chain_sql(n_merges)},
vocab AS MATERIALIZED (
  SELECT word, len(string_split(trim(s), ' ')) AS word_tokens FROM s{n_merges}
),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t != '')) AS word
  FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(word_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(word_tokens) AS DOUBLE) / COUNT(*), 4) AS tokens_per_word
FROM toks JOIN vocab USING (word)
GROUP BY doc_id
"""


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking (training/RAG prep): split each
    document into token windows of ``chunk_tokens`` advancing by
    ``stride`` (stride < chunk_tokens -> overlapping context).

    One row per (doc, chunk) with its index, token offset, width, and
    text. Scan-shaped: the window fan-out is a per-row array transform
    + explode — no shuffle, no UDF. Windows start at every multiple of
    stride below n_tokens, so chunk count per doc is
    floor((n - 1) / stride) + 1 and trailing windows shorter than
    chunk_tokens are truncated (never padded or dropped — every token
    appears in at least one chunk).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.filter(starts, lambda s: s < F.size(toks))
    return (
        docs.select(
            "doc_id",
            toks.alias("_t"),
            F.posexplode(chunks).alias("chunk_idx", "tok_offset"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "tok_offset",
            F.size(F.slice("_t", F.col("tok_offset") + 1, chunk_tokens)).alias(
                "chunk_len"
            ),
            F.array_join(
                F.slice("_t", F.col("tok_offset") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


def chunk_documents_sql(chunk_tokens: int = 64, stride: int = 48) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t != '') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t,
         unnest(list_filter(range(0, greatest(len(t) - 1, 0) + 1, {stride}),
                            s -> s < len(t))) AS tok_offset,
         generate_subscripts(list_filter(range(0, greatest(len(t) - 1, 0) + 1,
                                               {stride}),
                                         s -> s < len(t)), 1) - 1 AS chunk_idx
  FROM base
)
SELECT doc_id, chunk_idx, tok_offset,
       len(list_slice(t, tok_offset + 1, tok_offset + {chunk_tokens}))
         AS chunk_len,
       array_to_string(list_slice(t, tok_offset + 1, tok_offset + {chunk_tokens}),
                       ' ') AS chunk_text
FROM starts
"""


def toks_col(text_col: str = "text"):
    """THE package tokenization, Spark side: lowercase, split on
    single spaces, drop empties. One definition — operators that
    tokenize (retrieval, sketch, sampling, this module) must use this
    or its SQL twin :func:`toks_sql` so the engines and operators can
    never disagree on token boundaries."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )


def toks_sql(text_col: str = "text") -> str:
    """DuckDB twin of :func:`toks_col`."""
    return f"list_filter(string_split(lower({text_col}), ' '), t -> t != '')"


# ---------------------------------------------------------------------------
# Text cleaning: Unicode NFC + control-char strip + whitespace collapse


def nfc_normalize_col(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization of one string column. Spark has no
    NFC builtin, so this is the one Arrow-batched stdlib hop in the
    cleaning chain (``unicodedata`` — no third-party dependency);
    everything downstream stays JVM-side. Schema-preserving."""
    import pandas as pd  # noqa: F401 (worker-side)

    schema = df.schema

    def fn(batches):
        import unicodedata

        for pdf in batches:
            pdf[text_col] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(fn, schema)


#: C0 controls minus \t\n\r, plus DEL — the strip set both engines
#: express identically (Java regex and RE2 agree on \xNN classes).
_CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def clean_text(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Standard ingest cleaning: NFC normalize, strip control chars,
    collapse whitespace runs to single spaces, trim. Returns
    (doc_id, text_clean, chars_removed).

    Relation to :func:`normalize_text` (above): that pass is the
    ZERO-PYTHON fast path (strip/collapse/casefold, pure codegen) —
    use it when input is known-composed ASCII/UTF-8. THIS pass adds
    the one thing expressions cannot do — Unicode NFC composition
    (é as e+◌́ vs é must hash/dedup identically in a multilingual
    corpus) — as the single documented Arrow hop
    (:func:`nfc_normalize_col`), keeps case (casefolding belongs to
    feature extraction, not canonical text), and REMOVES control
    chars rather than blanking them. chars_removed counts the
    strip/collapse/trim removals measured AGAINST THE NFC'D text —
    NFC composition itself rewrites rather than removes, so its
    length change is deliberately not attributed to cleaning (the
    SQL twin uses the same post-NFC baseline).
    """
    nfc = nfc_normalize_col(docs.select(id_col, text_col), text_col)
    cleaned = nfc.select(
        F.col(id_col),
        F.col(text_col).alias("__orig"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), _CTRL_CLASS, ""),
                "\\s+",
                " ",
            )
        ).alias("text_clean"),
    )
    return cleaned.select(
        id_col,
        "text_clean",
        (F.length("__orig") - F.length("text_clean"))
        .cast("bigint")
        .alias("chars_removed"),
    )


def clean_text_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`clean_text` (nfc_normalize builtin)."""
    clean = (
        f"trim(regexp_replace(regexp_replace(nfc_normalize({text_col}),"
        f" '{_CTRL_CLASS}', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
SELECT {id_col}, {clean} AS text_clean,
       CAST(length(nfc_normalize({text_col})) - length({clean}) AS BIGINT)
         AS chars_removed
FROM {table}
"""


# ---------------------------------------------------------------------------
# Character-entropy quality signal


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character entropy in BITS per char — the classic
    low-entropy garbage filter (boilerplate, repeated padding, and
    single-character floods score near 0; natural prose lands around
    4-4.5 bits): H = log2(n) - (1/n) * sum_c count_c * log2(count_c).

    Shape: explode to (doc, char) -> two map-side-combinable
    groupBys — the same shuffle class as token counting; the char
    alphabet bounds the inner group count per doc. Entropy is ROUND 4
    — the log2 terms are irrational for every count ratio that isn't
    a power of two, keeping gated values off the decimal grid (the
    drawdown/roll_vol tie-free argument).

    Output: (doc_id, n_chars, distinct_chars, entropy_bits).
    """
    # Split by CODE POINT, not UTF-16 code unit: F.split(text, '')
    # yields surrogate halves for non-BMP chars (emoji), while the
    # DuckDB twin's string_split(text, '') yields codepoints — Java
    # regex '.' matches a full code point (surrogate pair = one
    # match), so regexp_extract_all keeps the two engines aligned on
    # any Unicode text, not just the BMP/ASCII synthetic corpus.
    chars = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit("(?s)."), 0)
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_chars"),
            F.count(F.lit(1)).alias("distinct_chars"),
            F.sum(F.col("c") * F.log2("c")).alias("clogc"),
        )
        .select(
            id_col,
            "n_chars",
            "distinct_chars",
            F.round(
                F.log2("n_chars") - F.col("clogc") / F.col("n_chars"), 4
            ).alias("entropy_bits"),
        )
    )


def char_entropy_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`char_entropy` — same explode/count
    shape, same log2 formulation, same rounding."""
    return f"""
WITH chars AS (
  SELECT {id_col}, unnest(string_split({text_col}, '')) AS ch
  FROM {table}
),
counts AS (
  SELECT {id_col}, ch, COUNT(*) AS c
  FROM chars WHERE ch != '' GROUP BY 1, 2
)
SELECT {id_col},
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4)
         AS entropy_bits
FROM counts GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# Lexical statistics: frequency spectrum + Zipf slope (corpus-level
# vocabulary diagnostics — the "is this corpus natural language or
# generated sludge" screens a tokenizer/vocab decision starts from)


def _term_col(text_col: str, ngrams: int):
    """The spectrum's term unit: single tokens (THE package
    tokenization) or word n-gram shingles (the dedup module's single
    shingling definition) — so spectrum statistics at both grains
    share their term boundaries with every other operator."""
    if ngrams <= 1:
        return toks_col(text_col)
    from ts_data_pipeline_spark.operators.dedup import shingles_col

    return shingles_col(ngrams, text_col)


def _term_sql(text_col: str, ngrams: int) -> str:
    if ngrams <= 1:
        return toks_sql(text_col)
    from ts_data_pipeline_spark.operators.dedup import shingles_sql

    return shingles_sql(ngrams, text_col)


def token_spectrum(
    docs: DataFrame, text_col: str = "text", ngrams: int = 1
) -> DataFrame:
    """Frequency-of-frequencies: for each occurrence count ``freq``,
    how many vocabulary types occur exactly that often (the spectrum
    whose head is the hapax mass and whose tail is the stopword
    core — Good-Turing's input relation). Two map-side-combinable
    groupBys; the spectrum's cardinality is the number of DISTINCT
    frequencies (≪ vocabulary size), so everything downstream of the
    second agg is tiny at any corpus scale. ``ngrams`` > 1 runs the
    same spectrum over word n-gram shingles — on a small-vocabulary
    templated corpus the TOKEN spectrum saturates (no hapaxes) while
    the shingle spectrum stays open; both grains are useful corpus
    diagnostics."""
    return (
        docs.select(F.explode(_term_col(text_col, ngrams)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .groupBy("freq")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )


def token_spectrum_sql(
    table: str = "documents", text_col: str = "text", ngrams: int = 1
) -> str:
    return f"""
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({_term_sql(text_col, ngrams)}) AS term FROM {table})
  GROUP BY term
)
SELECT CAST(freq AS BIGINT) AS freq,
       CAST(COUNT(*) AS BIGINT) AS n_types
FROM counts GROUP BY freq
"""


def lexical_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus lexical summary: total tokens, vocabulary
    size, hapax count, and the Zipf slope — the least-squares slope
    of ln(freq) on ln(rank), fit over the FREQUENCY SPECTRUM (one
    point per distinct frequency at its midpoint rank, weighted by
    type count) rather than per-type ranks, so no vocabulary-sized
    ordered window exists anywhere in the plan (the spectrum relation
    is distinct-frequency-sized). Natural text lands near -1
    (Zipf's law); generated/templated sludge flattens toward 0.

    Determinism: the regression inputs are logs of exact integers —
    irrational for every count that isn't a power of e — so the 6-dp
    rounded slope can never land on a decimal half (the entropy-gate
    argument). Type-token ratio is left to consumers (derived
    division — not gated)."""
    spec = token_spectrum(docs, text_col).select(
        "freq",
        "n_types",
        F.col("n_types").cast("double").alias("w"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    wnd = Window.orderBy(F.col("freq").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pts = spec.withColumn(
        "cum_before", F.coalesce(F.sum("n_types").over(wnd), F.lit(0))
    ).select(
        "w",
        "y",
        "freq",
        "n_types",
        F.log(
            F.col("cum_before") + (F.col("n_types") + 1) / 2.0
        ).alias("x"),
    )
    agg = pts.agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("x")).alias("sx"),
        F.sum(F.col("w") * F.col("y")).alias("sy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("w") * F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("freq") * F.col("n_types")).alias("n_tokens"),
        F.sum("n_types").alias("n_types"),
        F.sum(F.when(F.col("freq") == 1, F.col("n_types"))).alias(
            "hapax_types"
        ),
    )
    # degenerate fit (a single spectrum point — every type equally
    # frequent) has zero x-variance: the slope is undefined, emitted
    # as NULL rather than an ANSI divide-by-zero (same CASE guard in
    # the twin)
    denom = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("sw")
    slope = F.when(
        denom != 0,
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("sw")) / denom,
    )
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.coalesce(F.col("hapax_types"), F.lit(0))
        .cast("bigint")
        .alias("hapax_types"),
        F.round(slope, 6).alias("zipf_slope"),
    )


def good_turing_stats(
    docs: DataFrame, text_col: str = "text", ngrams: int = 1
) -> DataFrame:
    """Good-Turing estimates off the frequency spectrum (VERDICT r8
    #7): the unseen-type probability mass P0 = N1/N (Good 1953 —
    the singleton share of the token stream) and the adjusted count
    for hapaxes r*(1) = 2*N2/N1, the two numbers a corpus curator
    reads to know how OPEN the vocabulary still is (high unseen mass
    = the crawl has not saturated; r*(1) << 1 = most singletons are
    noise/typos rather than real vocabulary).

    Both ratios are emitted in LOG space (``ln_p_unseen = ln N1 -
    ln N``, ``ln_r_star_1 = ln 2 + ln N2 - ln N1``): logs of integer
    counts are irrational for every count that isn't a power of e,
    so the 6-dp gate can never land on a decimal half — the same
    argument as the zipf_slope / entropy gates, where a bare rounded
    integer ratio could tie (repo convention: never hash-gate a
    rounded division of exact aggregates). Consumers exp() them.

    Scale: everything is a one-row aggregate over the spectrum
    relation (distinct-frequency-sized, ≪ vocabulary). ``ngrams`` >
    1 estimates over the shingle spectrum — the grain where this
    synthetic corpus actually HAS unseen mass (its 31-word token
    vocabulary is saturated; its 3-gram space is open)."""
    spec = token_spectrum(docs, text_col, ngrams)
    agg = spec.agg(
        F.sum(F.col("freq") * F.col("n_types")).alias("n_tokens"),
        F.sum("n_types").alias("n_types"),
        F.sum(F.when(F.col("freq") == 1, F.col("n_types"))).alias("n1"),
        F.sum(F.when(F.col("freq") == 2, F.col("n_types"))).alias("n2"),
    )
    n1 = F.coalesce(F.col("n1"), F.lit(0))
    n2 = F.coalesce(F.col("n2"), F.lit(0))
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        n1.cast("bigint").alias("n1_types"),
        n2.cast("bigint").alias("n2_types"),
        F.round(
            F.when(
                (n1 > 0) & (F.col("n_tokens") > 0),
                F.log(n1.cast("double"))
                - F.log(F.col("n_tokens").cast("double")),
            ),
            6,
        ).alias("ln_p_unseen"),
        F.round(
            F.when(
                (n1 > 0) & (n2 > 0),
                F.log(F.lit(2.0))
                + F.log(n2.cast("double"))
                - F.log(n1.cast("double")),
            ),
            6,
        ).alias("ln_r_star_1"),
    )


def good_turing_stats_sql(
    table: str = "documents", text_col: str = "text", ngrams: int = 1
) -> str:
    return f"""
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({_term_sql(text_col, ngrams)}) AS term FROM {table})
  GROUP BY term
),
spec AS (SELECT freq, COUNT(*) AS n_types FROM counts GROUP BY freq),
agg AS (
  SELECT SUM(freq * n_types) AS n_tokens,
         SUM(n_types) AS n_types,
         COALESCE(SUM(CASE WHEN freq = 1 THEN n_types END), 0) AS n1,
         COALESCE(SUM(CASE WHEN freq = 2 THEN n_types END), 0) AS n2
  FROM spec
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(n1 AS BIGINT) AS n1_types,
       CAST(n2 AS BIGINT) AS n2_types,
       CASE WHEN n1 > 0 AND n_tokens > 0
            THEN ROUND(ln(CAST(n1 AS DOUBLE))
                       - ln(CAST(n_tokens AS DOUBLE)), 6) END
         AS ln_p_unseen,
       CASE WHEN n1 > 0 AND n2 > 0
            THEN ROUND(ln(CAST(2 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))
                       - ln(CAST(n1 AS DOUBLE)), 6) END
         AS ln_r_star_1
FROM agg
"""


#: Heaps-fit subsample fractions. Deliberately NON-2-5-SMOOTH
#: denominators (sevenths and thirds): the expected-types sum
#: involves (1-f)^freq, and a 2-5-smooth (1-f) makes every power a
#: TERMINATING decimal that can land exactly on a 6-dp rounding half
#: where the two engines' round() split (the LR-gate lesson). With
#: 6/7 and 2/3 the powers never terminate, so ties cannot occur.
_HEAPS_FRACTIONS = (1.0 / 7.0, 1.0 / 3.0, 2.0 / 3.0, 1.0)


def heaps_fit(
    docs: DataFrame, text_col: str = "text", ngrams: int = 1
) -> DataFrame:
    """Heaps-law vocabulary-growth fit V(N) ~ K * N^beta, closed-form
    over the frequency spectrum (VERDICT r8 #7).

    One corpus snapshot cannot fit a growth law directly — but the
    spectrum determines the EXPECTED vocabulary of every binomial
    subsample (Good 1953 / missing-species form): keeping each token
    independently with probability f, a type of frequency r survives
    with probability 1 - (1-f)^r, so E[V(fN)] = sum_r S_r (1 -
    (1-f)^r) — a closed form over the spectrum, no second corpus
    pass. The fit regresses ln E[V(fN)] on ln(fN) at the four
    fractions of :data:`_HEAPS_FRACTIONS`; natural text lands around
    beta 0.5-0.8 (Heaps 1978), saturated/templated corpora flatten.

    Determinism: the regression points are logs (irrational), so the
    6-dp slope/intercept cannot half-tie; the expected-vocab sums use
    non-2-5-smooth (1-f) so their own 6-dp rounds cannot either.
    Scale: a one-row aggregate over the distinct-frequency-sized
    spectrum. ``ngrams`` > 1 fits vocabulary growth at the shingle
    grain (open on this corpus where the token grain is saturated)."""
    spec = token_spectrum(docs, text_col, ngrams)
    aggs = [
        F.sum(F.col("freq") * F.col("n_types")).alias("n_tokens"),
        F.sum("n_types").alias("n_types"),
    ]
    for i, f in enumerate(_HEAPS_FRACTIONS):
        aggs.append(
            F.sum(
                F.col("n_types")
                * (
                    F.lit(1.0)
                    - F.pow(F.lit(1.0 - f), F.col("freq").cast("double"))
                )
            ).alias(f"v{i}")
        )
    agg = spec.agg(*aggs)
    n = len(_HEAPS_FRACTIONS)
    xs = [
        F.log(F.lit(float(f)) * F.col("n_tokens").cast("double"))
        for f in _HEAPS_FRACTIONS
    ]
    ys = [F.log(F.col(f"v{i}")) for i in range(n)]
    sx = sum(xs[1:], xs[0])
    sy = sum(ys[1:], ys[0])
    sxx = sum((x * x for x in xs[1:]), xs[0] * xs[0])
    sxy = sum((x * y for x, y in zip(xs[1:], ys[1:])), xs[0] * ys[0])
    denom = sxx - sx * sx / F.lit(float(n))
    slope = (sxy - sx * sy / F.lit(float(n))) / denom
    intercept = (sy - slope * sx) / F.lit(float(n))
    ok = (F.col("n_tokens") > 0) & (F.col("n_types") > 0)
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.round(F.col("v0"), 6).alias("v_expected_f1_7"),
        F.round(F.col("v1"), 6).alias("v_expected_f1_3"),
        F.round(F.col("v2"), 6).alias("v_expected_f2_3"),
        F.round(F.when(ok, slope), 6).alias("heaps_beta"),
        F.round(F.when(ok, intercept), 6).alias("heaps_ln_k"),
    )


def heaps_fit_sql(
    table: str = "documents", text_col: str = "text", ngrams: int = 1
) -> str:
    """DuckDB twin of :func:`heaps_fit` — same spectrum, same
    subsample fractions (emitted via repr -> CAST AS DOUBLE so both
    engines power the identical double), same closed-form fit."""
    n = len(_HEAPS_FRACTIONS)
    v_cols = ", ".join(
        f"SUM(n_types * (CAST(1 AS DOUBLE) - "
        f"power(CAST('{1.0 - f!r}' AS DOUBLE), freq))) AS v{i}"
        for i, f in enumerate(_HEAPS_FRACTIONS)
    )
    xs = [
        f"ln(CAST('{float(f)!r}' AS DOUBLE) * n_tokens)"
        for f in _HEAPS_FRACTIONS
    ]
    ys = [f"ln(v{i})" for i in range(n)]
    sx = " + ".join(xs)
    sy = " + ".join(ys)
    sxx = " + ".join(f"{x} * {x}" for x in xs)
    sxy = " + ".join(f"{x} * {y}" for x, y in zip(xs, ys))
    return f"""
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({_term_sql(text_col, ngrams)}) AS term FROM {table})
  GROUP BY term
),
spec AS (SELECT freq, COUNT(*) AS n_types FROM counts GROUP BY freq),
agg AS (
  SELECT SUM(freq * n_types) AS n_tokens,
         SUM(n_types) AS n_types,
         {v_cols}
  FROM spec
),
fit AS (
  SELECT n_tokens, n_types, v0, v1, v2,
         ({sx}) AS sx, ({sy}) AS sy, ({sxx}) AS sxx, ({sxy}) AS sxy
  FROM agg
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       ROUND(v0, 6) AS v_expected_f1_7,
       ROUND(v1, 6) AS v_expected_f1_3,
       ROUND(v2, 6) AS v_expected_f2_3,
       CASE WHEN n_tokens > 0 AND n_types > 0
            THEN ROUND((sxy - sx * sy / {n}) / (sxx - sx * sx / {n}), 6)
       END AS heaps_beta,
       CASE WHEN n_tokens > 0 AND n_types > 0
            THEN ROUND((sy - (sxy - sx * sy / {n})
                        / (sxx - sx * sx / {n}) * sx) / {n}, 6)
       END AS heaps_ln_k
FROM fit
"""


def lexical_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of :func:`lexical_stats` — same spectrum,
    midpoint-rank, and weighted-least-squares formulation."""
    return f"""
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({toks_sql(text_col)}) AS term FROM {table})
  GROUP BY term
),
spec AS (
  SELECT freq, COUNT(*) AS n_types FROM counts GROUP BY freq
),
pts AS (
  SELECT CAST(n_types AS DOUBLE) AS w,
         ln(CAST(freq AS DOUBLE)) AS y,
         freq, n_types,
         ln(COALESCE(SUM(n_types) OVER (ORDER BY freq DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + (n_types + 1) / CAST(2 AS DOUBLE)) AS x
  FROM spec
),
agg AS (
  SELECT SUM(w) AS sw, SUM(w * x) AS sx, SUM(w * y) AS sy,
         SUM(w * x * x) AS sxx, SUM(w * x * y) AS sxy,
         SUM(freq * n_types) AS n_tokens,
         SUM(n_types) AS n_types,
         SUM(CASE WHEN freq = 1 THEN n_types END) AS hapax_types
  FROM pts
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(COALESCE(hapax_types, 0) AS BIGINT) AS hapax_types,
       CASE WHEN (sxx - sx * sx / sw) = 0 THEN NULL
            ELSE ROUND((sxy - sx * sy / sw) / (sxx - sx * sx / sw), 6)
       END AS zipf_slope
FROM agg
"""


# ---------------------------------------------------------------------------
# HTML -> text extraction + boilerplate removal (r12, VERDICT r11 ask
# #3). Every crawled corpus arrives as markup; the quality/dedup
# family above assumes clean text, so this lane sits in front of it.
# Scale shape: pure scan — regexp/replace Column chains with zero
# shuffle for the doc-level pass, and one narrow per-block explode +
# per-doc re-aggregate for the boilerplate pass. No UDFs.
#
# The synthetic corpus is clean text, so (the repo's PII-fixture
# convention, _pii_augmented) a deterministic doc_id-keyed WRAP first
# builds the crawl-shaped HTML — script/style blocks, comments, nav
# and share-bar link walls, entity-escaped body — and the extractor
# then genuinely strips it. Single source of truth per step: each
# Spark Column chain has a same-shape DuckDB SQL builder.

#: entity decode table; ``&amp;`` LAST so ``&amp;lt;`` decodes to the
#: literal text ``&lt;`` (one pass, no double-decode), the same order
#: every HTML parser documents.
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

_HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script\s*>"
_HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style\s*>"
_HTML_TITLE_RE = r"(?is)<title\b[^>]*>.*?</title\s*>"
_HTML_COMMENT_RE = r"(?s)<!--.*?-->"
#: block-level elements: their tags become newlines (doc pass) or
#: split points (boilerplate pass) so text structure survives.
_HTML_BLOCK_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|nav|table|tr|td|th|section"
    r"|article|header|footer|blockquote)\b[^>]*>"
)
_HTML_TAG_RE = r"(?s)<[^>]+>"
_HTML_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a\s*>"


def _html_wrapped(text_col: str = "text") -> Column:
    """Deterministic crawl-shaped HTML around each document:
    head with style+script (doc_id-keyed), a nav link wall (%3), an
    HTML comment, an entity-bearing title, the entity-ESCAPED body,
    an entity fixture paragraph (%7), and a share-bar link wall
    (%6). :func:`_html_wrap_sql` is the DuckDB twin."""
    did = F.col("doc_id").cast("string")
    esc = F.col(text_col)
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("'", "&#39;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    return F.concat(
        F.lit("<html><head><title>Doc "), did, F.lit("</title>"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("<style>body { color: #333; font-size: 12px; }</style>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<script type="text/javascript">var n = '), did,
                F.lit("; if (n < 10) { n = n + 1; }</script>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<div id="nav"><a href="/">Home</a> <a href="/news">'
                  'News</a> <a href="/about">About</a></div>'),
        ).otherwise(F.lit("")),
        F.lit("<!-- build "), did, F.lit(" -->"),
        F.lit("<h1>Title &amp; Doc "), did, F.lit("</h1>"),
        F.lit("<p>"), esc, F.lit("</p>"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("<p>Footnote &lt;"), did,
                F.lit("&gt; &quot;quoted&quot;&nbsp;end</p>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 1,
            F.lit('<div class="share"><a href="/s1">Share</a> '
                  '<a href="/s2">Tweet</a> <a href="/s3">Pin</a></div>'),
        ).otherwise(F.lit("")),
        # REPEATED boilerplate paragraphs — link-free so they survive
        # the link-density rule and reach the line-dedup stage (the
        # C4 pass), which is what removes them: a disclaimer on ~half
        # the corpus and a newsletter pitch on a fifth
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("<p>All rights reserved. Contact support for"
                  " details.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 3,
            F.lit("<p>Subscribe to our newsletter for weekly"
                  " updates.</p>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def _html_wrap_sql(text_col: str = "text") -> str:
    esc = text_col
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("''", "&#39;")):
        esc = f"replace({esc}, '{raw}', '{ent}')"
    return (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'"
        " || CASE WHEN doc_id % 5 = 0 THEN"
        " '<style>body { color: #333; font-size: 12px; }</style>'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN"
        " '<script type=\"text/javascript\">var n = '"
        " || CAST(doc_id AS VARCHAR)"
        " || '; if (n < 10) { n = n + 1; }</script>' ELSE '' END"
        " || '</head><body>'"
        " || CASE WHEN doc_id % 3 = 0 THEN"
        " '<div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/news\">"
        "News</a> <a href=\"/about\">About</a></div>' ELSE '' END"
        " || '<!-- build ' || CAST(doc_id AS VARCHAR) || ' -->'"
        " || '<h1>Title &amp; Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'"
        f" || '<p>' || {esc} || '</p>'"
        " || CASE WHEN doc_id % 7 = 0 THEN"
        " '<p>Footnote &lt;' || CAST(doc_id AS VARCHAR)"
        " || '&gt; &quot;quoted&quot;&nbsp;end</p>' ELSE '' END"
        " || CASE WHEN doc_id % 6 = 1 THEN"
        " '<div class=\"share\"><a href=\"/s1\">Share</a> "
        "<a href=\"/s2\">Tweet</a> <a href=\"/s3\">Pin</a></div>'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN"
        " '<p>All rights reserved. Contact support for details.</p>'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 5 = 3 THEN"
        " '<p>Subscribe to our newsletter for weekly updates.</p>'"
        " ELSE '' END"
        " || '</body></html>'"
    )


def _html_strip_nonvisible(c: Column) -> Column:
    """Remove content that never renders: scripts, styles, comments.
    MUST run before any tag-level pass — a naive tag strip would leak
    ``var n = ...`` script bodies into the training text."""
    c = F.regexp_replace(c, _HTML_SCRIPT_RE, " ")
    c = F.regexp_replace(c, _HTML_STYLE_RE, " ")
    c = F.regexp_replace(c, _HTML_TITLE_RE, " ")
    return F.regexp_replace(c, _HTML_COMMENT_RE, " ")


def _html_strip_nonvisible_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{_HTML_SCRIPT_RE}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_STYLE_RE}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_TITLE_RE}', ' ', 'g')"
    return f"regexp_replace({out}, '{_HTML_COMMENT_RE}', ' ', 'g')"


def _html_visible(c: Column) -> Column:
    """Block/inline fragment -> visible text: strip remaining tags,
    decode entities (amp last), collapse spaces, trim. Newline-free
    input by construction (block tags were split/newlined away)."""
    c = F.regexp_replace(c, _HTML_TAG_RE, " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"[ \t\r]+", " "))


def _html_visible_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{_HTML_TAG_RE}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        out = f"replace({out}, '{ent}', '{rep.replace(chr(39), chr(39) * 2)}')"
    return f"trim(regexp_replace({out}, '[ \\t\\r]+', ' ', 'g'))"


def html_extract(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Doc-level HTML -> text: wrap (synthetic crawl), strip
    script/style/comments, block tags -> newline, strip remaining
    tags, decode entities, normalize whitespace. All counters are
    EXACT integers (no rounded ratios in gate columns — the repo's
    half-tie rule); ``roundtrip_ok`` pins that the escaped body
    decodes back to the whitespace-normalized original."""
    h = _html_wrapped(text_col)
    n_tags = F.regexp_count(h, F.lit(r"</?[a-zA-Z][^>]*>"))
    n_links = F.regexp_count(h, F.lit(r"(?i)<a\b"))
    c = _html_strip_nonvisible(h)
    c = F.regexp_replace(c, _HTML_BLOCK_RE, "\n")
    c = _html_visible(c)  # leaves \n intact ([ \t\r] class only)
    c = F.regexp_replace(c, r" *\n *", "\n")
    c = F.trim(F.regexp_replace(c, r"\n+", "\n"))
    norm_src = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return docs.select(
        "doc_id",
        n_tags.alias("n_tags"),
        n_links.alias("n_links"),
        c.alias("text_clean"),
        F.length(c).alias("n_chars"),
        F.contains(c, norm_src).alias("roundtrip_ok"),
    )


def html_extract_sql(text_col: str = "text") -> str:
    h = _html_wrap_sql(text_col)
    c = _html_strip_nonvisible_sql("h")
    c = f"regexp_replace({c}, '{_HTML_BLOCK_RE}', chr(10), 'g')"
    c = _html_visible_sql(c)
    c = f"regexp_replace({c}, ' *\\n *', chr(10), 'g')"
    c = f"trim(regexp_replace({c}, '\\n+', chr(10), 'g'))"
    return f"""
WITH wrapped AS (
  SELECT doc_id, {text_col}, {h} AS h FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(h, '</?[a-zA-Z][^>]*>')) AS n_tags,
       len(regexp_extract_all(h, '(?i)<a\\b')) AS n_links,
       {c} AS text_clean,
       length({c}) AS n_chars,
       contains({c},
                trim(regexp_replace({text_col}, '\\s+', ' ', 'g'))
       ) AS roundtrip_ok
FROM wrapped
"""


def _html_visible_blocks(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, pos, vis, vis_len, link_len) for every VISIBLE block
    of the wrapped fixture HTML — the shared front half of
    :func:`html_main_content` and :func:`html_line_dedup` (one
    definition of the block split / visibility / anchor extraction,
    so the fused operator cannot drift from the composition)."""
    h = _html_wrapped(text_col)
    blocks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(_html_strip_nonvisible(h), _HTML_BLOCK_RE)
        ).alias("pos", "block"),
    )
    vis = _html_visible(F.col("block"))
    link_inner = F.array_join(
        F.regexp_extract_all(F.col("block"), F.lit(_HTML_ANCHOR_RE), F.lit(1)),
        " ",
    )
    link_vis = _html_visible(link_inner)
    return blocks.select(
        "doc_id",
        "pos",
        vis.alias("vis"),
        F.length(vis).alias("vis_len"),
        F.length(link_vis).alias("link_len"),
    ).filter(F.col("vis_len") > 0)


def _html_block_kept() -> Column:
    """The link-density keep rule — INTEGER arithmetic, one
    definition for both consumers."""
    return 2 * F.col("link_len") < F.col("vis_len")


def html_main_content(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate removal by the classic LINK-DENSITY rule: split the
    document at block-tag boundaries, measure each block's visible
    chars vs chars inside ``<a>`` anchors, and drop link-dominated
    blocks (nav bars, share walls). The keep decision is INTEGER
    arithmetic — ``2 * link_chars < visible_chars`` — so there is no
    float rounding for the two engines to disagree on.

    Scale shape: one explode over blocks (rows ~= docs x ~6 blocks),
    per-doc re-aggregate keyed by doc_id — a narrow shuffle on the
    natural key; no windows, no UDFs, no driver state.
    """
    per_block = _html_visible_blocks(docs, text_col)
    kept = F.when(_html_block_kept(), 1).otherwise(0)
    return (
        per_block.withColumn("keep", kept)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("keep").alias("n_kept"),
            F.sum("link_len").alias("link_chars"),
            F.sum(F.when(F.col("keep") == 1, F.col("vis_len")).otherwise(0))
            .alias("main_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep") == 1,
                                F.struct("pos", "vis"),
                            )
                        )
                    ),
                    lambda s: s["vis"],
                ),
                "\n",
            ).alias("main_text"),
        )
    )


def html_main_content_sql(
    text_col: str = "text", table: str = "documents"
) -> str:
    h = _html_wrap_sql(text_col)
    stripped = _html_strip_nonvisible_sql("h")
    vis = _html_visible_sql("block")
    # COALESCE: DuckDB array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — uncoalesced, every anchor-free block got
    # NULL link_len and the integer keep rule silently dropped it.
    link_vis = _html_visible_sql(
        "COALESCE(array_to_string(regexp_extract_all(block,"
        f" '{_HTML_ANCHOR_RE}', 1), ' '), '')"
    )
    return f"""
WITH wrapped AS (
  SELECT doc_id, {h} AS h FROM {table}
),
blk AS (
  SELECT doc_id,
         generate_subscripts(
           regexp_split_to_array({stripped}, '{_HTML_BLOCK_RE}'), 1
         ) AS pos,
         unnest(
           regexp_split_to_array({stripped}, '{_HTML_BLOCK_RE}')
         ) AS block
  FROM wrapped
),
per_block AS (
  SELECT doc_id, pos,
         {vis} AS vis,
         length({vis}) AS vis_len,
         length({link_vis}) AS link_len
  FROM blk
)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       SUM(CASE WHEN 2 * link_len < vis_len THEN 1 ELSE 0 END) AS n_kept,
       SUM(link_len) AS link_chars,
       SUM(CASE WHEN 2 * link_len < vis_len THEN vis_len ELSE 0 END)
         AS main_chars,
       COALESCE(
         string_agg(CASE WHEN 2 * link_len < vis_len THEN vis END,
                    chr(10) ORDER BY pos),
         ''
       ) AS main_text
FROM per_block
WHERE vis_len > 0
GROUP BY doc_id
"""


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    max_occurrences: int = 2,
) -> DataFrame:
    """C4-style corpus-wide LINE deduplication (Raffel et al. 2020:
    "we removed any line that occurred more than [k] times in the
    corpus" — the pass that strips cookie banners, disclaimers and
    newsletter pitches that survive document-level dedup because the
    surrounding text differs): explode documents into lines, count
    each line's corpus-wide occurrences (within-doc repeats count),
    drop lines above ``max_occurrences``, reassemble in order.

    Scale shape: one map-side-combinable groupBy on the line (hot
    boilerplate lines partially aggregate before the shuffle, so the
    classic skew key never concentrates raw rows), the hot-line
    relation is count-filtered (only lines ABOVE the threshold ship)
    and anti-joined, then one groupBy(doc_id) reassembly. No windows,
    no UDFs."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.col("line") != "")
    hot = (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > max_occurrences)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_kept"),
        )
        .join(
            lines.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_lines")
            ),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
        )
    )


def html_line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    max_occurrences: int = 2,
) -> DataFrame:
    """FUSED HTML main-content extraction + C4 line dedup (r14,
    VERDICT r13 ask #3): value-identical to
    ``line_dedup(html_main_content(docs).main_text)`` but in ONE
    corpus-wide explode/reassemble instead of two — the composition
    reassembled every doc's kept blocks into ``main_text`` (a full
    groupBy(doc_id) shuffle) only for line_dedup to split the same
    text apart again. Here the block explode flows STRAIGHT into the
    line grain: blocks -> link-density keep rule -> lines of kept
    blocks -> corpus-wide hot-line anti-join -> one per-doc
    reassembly ordered by (block pos, line pos). One reassembly
    shuffle saved on every recipe run over the whole corpus.

    Output contract matches :func:`line_dedup` over the extracted
    text exactly: (doc_id, n_lines, n_kept, text_kept); a doc whose
    every visible block is empty has no row (as the composition's
    inner join drops it), and a doc whose every line is hot comes
    back with ``text_kept = ''``."""
    kept_blocks = _html_visible_blocks(docs, text_col).filter(
        _html_block_kept()
    )
    # One explicit exchange below the fan-out: `lines` feeds THREE
    # consumers (the hot-line count, the anti-join probe, the n_lines
    # total) — without a shuffle boundary here each consumer would
    # re-run the whole block-explode + tag-strip + entity-decode
    # regexp subtree (measured 3x the scan cost; the unfused
    # composition accidentally got this for free because its
    # reassembly aggregate's exchange was reused). The repartition
    # makes the expensive scan a ReusedExchange for all three.
    lines = (
        kept_blocks.select(
            "doc_id",
            "pos",
            F.posexplode(F.split(F.col("vis"), "\n")).alias("lpos", "line"),
        )
        .filter(F.col("line") != "")
        .repartition("doc_id")
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > max_occurrences)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "lpos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_kept"),
        )
        .join(
            lines.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_lines")
            ),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
        )
    )


def html_line_dedup_sql(
    text_col: str = "text",
    max_occurrences: int = 2,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`html_line_dedup` — deliberately the
    UNFUSED composition (line dedup over the html extraction's
    main_text): structurally different implementations agreeing is a
    stronger check than a transliterated fusion."""
    return line_dedup_sql(
        f"SELECT doc_id, main_text AS {text_col} FROM "
        f"({html_main_content_sql(text_col=text_col, table=table)}) m",
        text_col=text_col,
        max_occurrences=max_occurrences,
    )


def line_dedup_sql(
    source_sql: str, text_col: str = "text", max_occurrences: int = 2
) -> str:
    """DuckDB twin of :func:`line_dedup` over ``source_sql`` (a
    subquery producing (doc_id, {text_col}))."""
    return f"""
WITH src AS MATERIALIZED ({source_sql}),
lines AS MATERIALIZED (
  SELECT doc_id,
         generate_subscripts(string_split({text_col}, chr(10)), 1) AS pos,
         unnest(string_split({text_col}, chr(10))) AS line
  FROM src
),
nz AS MATERIALIZED (SELECT * FROM lines WHERE line <> ''),
hot AS (
  SELECT line FROM nz GROUP BY line
  HAVING COUNT(*) > {max_occurrences}
),
kept AS (
  SELECT n.* FROM nz n WHERE n.line NOT IN (SELECT line FROM hot)
),
reasm AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         COALESCE(string_agg(line, chr(10) ORDER BY pos), '') AS text_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_kept, '') AS text_kept
FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM nz GROUP BY doc_id) t
LEFT JOIN reasm r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Charset / mojibake repair (r13, VERDICT r12 ask #3): real crawls are
# not clean UTF-8. The two dominant corruption classes are both
# DETERMINISTIC byte-level misreadings, so their repair is a pure
# string mapping — Column expressions, errors-as-data, no UDFs:
#
#   1. UTF-8 bytes decoded as windows-1252 ("Ã©" for é, "â€™" for ’):
#      each multi-byte UTF-8 sequence becomes a fixed short string of
#      cp1252 characters; repair = literal replace chain, longest
#      expansions first.
#   2. windows-1252 bytes decoded as latin-1: the 0x80-0x9F block is
#      punctuation in cp1252 but C1 control characters in latin-1;
#      repair = one `translate` (every mapping is 1 char -> 1 char).
#
# Both mappings are COMPUTED from Python's cp1252 codec (the WHATWG
# windows-1252 variant: the five undefined bytes 81/8D/8F/90/9D pass
# through as their C1 code points, as browsers do) — a single source
# of truth, no hand-typed tables to fat-finger, and the DuckDB twin
# embeds the same computed literals.

#: the five bytes cp1252 leaves undefined; WHATWG maps them to C1.
_CP1252_UNDEFINED = frozenset((0x81, 0x8D, 0x8F, 0x90, 0x9D))


def _byte_as_cp1252(b: int) -> str:
    if b in _CP1252_UNDEFINED:
        return chr(b)
    return bytes((b,)).decode("cp1252") if b >= 0x80 else chr(b)


def _utf8_as_cp1252(s: str) -> str:
    """What ``s`` looks like after its UTF-8 bytes are (mis)decoded
    as WHATWG windows-1252 — the class-1 corruption."""
    return "".join(_byte_as_cp1252(b) for b in s.encode("utf-8"))


#: repairable characters (every non-ASCII char the fixture payload
#: uses, plus common crawl punctuation/accents) -> their class-1
#: mojibake expansion, longest expansions first so the replace chain
#: and the detection alternation are unambiguous.
_MOJIBAKE_CHARS = (
    "’‘“”—–…€"  # ’ ‘ “ ” — – … €
    "éèûïçàüñ"  # é è û ï ç à ü ñ
)


def _mojibake_closure(seed: str) -> frozenset[str]:
    """The seed alphabet closed under its own corruption images (r14,
    VERDICT r13 ask #5): DOUBLE-encoded UTF-8 corrupts the chars of
    the first corruption layer, so peeling it needs repair mappings
    for every non-ASCII char that APPEARS in an expansion — and so on
    to a fixed point (47 chars from the 16-char seed; bounded by the
    cp1252 image set, so termination is structural). The chain stays
    sound under the wider alphabet because UTF-8 is self-
    synchronizing: no expansion is a prefix or an internal substring
    of another at any position except its own start, so replace order
    beyond longest-first cannot matter (pytest + hypothesis pin the
    algebra: one chain pass peels EXACTLY one corruption layer)."""
    alpha = set(seed)
    while True:
        new = {
            ch
            for c in alpha
            for ch in _utf8_as_cp1252(c)
            if ord(ch) >= 0x80 and ch not in alpha
        }
        if not new:
            return frozenset(alpha)
        alpha |= new


_MOJIBAKE_ALPHABET = _mojibake_closure(_MOJIBAKE_CHARS)
_UTF8_REPAIRS = sorted(
    ((_utf8_as_cp1252(c), c) for c in _MOJIBAKE_ALPHABET),
    key=lambda p: (-len(p[0]), p[0]),
)

#: class-2 corruption (cp1252-as-latin-1) only touches 0x80-0x9F —
#: bytes >= 0xA0 decode identically either way. 1:1 by construction.
_C1_REPAIRS = tuple(
    (chr(b), bytes((b,)).decode("cp1252"))
    for b in range(0x80, 0xA0)
    if b not in _CP1252_UNDEFINED
)
_C1_FROM = "".join(c for c, _ in _C1_REPAIRS)
_C1_TO = "".join(t for _, t in _C1_REPAIRS)


def _rx(s: str) -> str:
    """Regex-safe literal: C1/control chars as \\x{..} escapes (both
    Java regex and RE2 accept them), everything else as-is — none of
    the mojibake alphabet contains regex metacharacters."""
    return "".join(
        f"\\x{{{ord(ch):04X}}}" if ord(ch) < 0xA0 and ord(ch) >= 0x7F
        else ch
        for ch in s
    )


#: detection alternation for class-1 signatures (longest first: both
#: engines match leftmost-first, so ordering fixes the count).
_UTF8_SIG_RE = "|".join(_rx(m) for m, _ in _UTF8_REPAIRS)
#: detection class for class-2 signatures: any C1 control character.
_C1_SIG_RE = r"[\x{0080}-\x{009F}]"


def repair_mojibake(c: Column, rounds: int = 2) -> Column:
    """Repair both corruption classes: the class-1 replace chain runs
    ``rounds`` times — each pass peels EXACTLY one UTF-8-as-cp1252
    corruption layer (pytest-pinned), so rounds=2 also inverts
    DOUBLE-encoded UTF-8 — then the C1 translate once (class-1
    expansions contain C1 pass-through characters that must be
    consumed by their replace entries before the translate sees
    them).

    Semantics tradeoff, stated honestly (review finding r14): a
    LITERAL mojibake sequence in clean text (a document *about*
    encoding bugs quoting "Ã©") is indistinguishable from one more
    corruption layer, so iterating normalizes it — the same
    fixed-point choice ftfy makes. rounds=1 repairs single-encoding
    only and never touches such mentions; rounds=2 (default, the
    recipe's crawl setting) additionally inverts double-encoding at
    the cost of normalizing mentions. Signature-free clean text is a
    fixed point at any rounds."""
    for _ in range(rounds):
        for moji, true in _UTF8_REPAIRS:
            c = F.replace(c, F.lit(moji), F.lit(true))
    return F.translate(c, _C1_FROM, _C1_TO)


def repair_mojibake_sql(expr: str, rounds: int = 2) -> str:
    """DuckDB twin of :func:`repair_mojibake` over ``expr`` — the
    same computed literals (C1 code points spliced via chr() so the
    generated SQL text stays printable)."""
    out = expr
    for _ in range(rounds):
        for moji, true in _UTF8_REPAIRS:
            out = f"replace({out}, {_sql_str(moji)}, {_sql_str(true)})"
    frm = _sql_str(_C1_FROM)
    to = _sql_str(_C1_TO)
    return f"translate({out}, {frm}, {to})"


def _sql_str(s: str) -> str:
    """A DuckDB string literal for ``s``: printable runs quoted,
    C0/C1/control chars as chr(<code point>) concatenations."""
    parts: list[str] = []
    run = ""
    for ch in s:
        if ord(ch) < 0x20 or 0x7F <= ord(ch) < 0xA0:
            if run:
                parts.append("'" + run.replace("'", "''") + "'")
                run = ""
            parts.append(f"chr({ord(ch)})")
        else:
            run += ch
    if run:
        parts.append("'" + run.replace("'", "''") + "'")
    if not parts:
        return "''"
    if len(parts) == 1:
        return parts[0]
    # one flat varargs concat, NOT a '||' chain: the NUL-interleaved
    # UTF-16 fixture payload has ~120 parts, and DuckDB binds a
    # left-nested || chain recursively — >128 parts exceeds its
    # binder recursion limit (hit by the recipe twin's deeper CTE
    # stack before any gate saw it)
    return "concat(" + ", ".join(parts) + ")"


# --- UTF-16 / BOM corruption lane (r14, VERDICT r13 ask #5) ---------
#
# Class 3 of the wire-corruption families: UTF-16 bytes run through a
# single-byte decoder. A UTF-16LE page read as latin-1 interleaves a
# NUL after every ASCII char and turns the BOM (FF FE) into a literal
# "ÿþ" prefix (BE: NULs before chars, "þÿ"). NUL is never legitimate
# text, so its presence is the detection signal and the repair is
# gated on it — NUL-free text passes through untouched. The UTF-8 BOM
# misread as cp1252 ("ï»¿") and a stray real BOM char (U+FEFF) are
# byte-order METADATA, never content, and are stripped outright.

_NUL = "\x00"
_U16LE_BOM_AS_L1 = "\xff\xfe"
_U16BE_BOM_AS_L1 = "\xfe\xff"
_UTF8_BOM_AS_CP1252 = _utf8_as_cp1252("﻿")  # "ï»¿"


def _utf16le_as_latin1(s: str) -> str:
    """What BOM + ``s`` (ASCII) looks like after its UTF-16LE bytes
    are (mis)decoded as latin-1 — the fixture's class-5 corruption."""
    return "".join(chr(b) for b in ("﻿" + s).encode("utf-16-le"))


#: a BOM pair is a UTF-16 artifact only where the NUL interleaving
#: PROVES it: LE = 'ÿþ' followed by (char, NUL), BE = 'þÿ' followed
#: by (NUL, char). The NUL inside the pattern is the evidence, so the
#: rewrite is inherently gated — a legitimate interior 'ÿþ' letter
#: run in NUL-free (or even stray-NUL) text never matches (review
#: finding r14: the first cut stripped BOM pairs globally whenever
#: any NUL existed, deleting legitimate content far from the BOM).
_U16LE_MID_RE = "\xff\xfe([\\s\\S]\\x00)"
_U16BE_MID_RE = "\xfe\xff(\\x00[\\s\\S])"


def repair_bom_utf16(c: Column) -> Column:
    """Strip UTF-16-as-latin-1 artifacts: BOM pairs where the NUL
    interleaving proves them (see the pattern note above) or at the
    string PREFIX (the degenerate empty-payload case — a bare BOM
    pair and nothing else), then every NUL (never legitimate
    content), then the UTF-8-BOM mojibake ("ï»¿") and stray real BOM
    chars (format metadata wherever they appear)."""
    out = F.regexp_replace(c, _U16LE_MID_RE, "$1")
    out = F.regexp_replace(out, _U16BE_MID_RE, "$1")
    # Prefix strip is gated like the interior patterns: a leading BOM
    # pair is a UTF-16 artifact only when NULs in the remainder prove
    # it, or when the pair IS the whole string (bare BOM, empty
    # payload). NUL-free text that legitimately starts with 'ÿþ'/'þÿ'
    # passes through untouched (advisor finding r14: the ungated
    # strip was a silent false-positive repair both twins shared).
    bom_prefix = out.startswith(_U16LE_BOM_AS_L1) | out.startswith(
        _U16BE_BOM_AS_L1
    )
    nul_evidence = out.contains(_NUL) | (F.length(out) == F.lit(2))
    out = F.when(
        bom_prefix & nul_evidence, F.substring(out, 3, 2**31 - 1)
    ).otherwise(out)
    out = F.replace(out, F.lit(_NUL), F.lit(""))
    out = F.replace(out, F.lit(_UTF8_BOM_AS_CP1252), F.lit(""))
    return F.replace(out, F.lit("﻿"), F.lit(""))


def repair_bom_utf16_sql(expr: str) -> str:
    nul = "chr(0)"
    le = _sql_str(_U16LE_BOM_AS_L1)
    be = _sql_str(_U16BE_BOM_AS_L1)
    le_re = f"({le} || '([\\s\\S]\\x00)')"
    be_re = f"({be} || '(\\x00[\\s\\S])')"
    out = f"regexp_replace({expr}, {le_re}, '\\1', 'g')"
    out = f"regexp_replace({out}, {be_re}, '\\1', 'g')"
    out = (
        f"CASE WHEN (starts_with({out}, {le})"
        f" OR starts_with({out}, {be}))"
        f" AND (contains({out}, {nul}) OR length({out}) = 2)"
        f" THEN substr({out}, 3) ELSE {out} END"
    )
    out = f"replace({out}, {nul}, '')"
    out = f"replace({out}, {_sql_str(_UTF8_BOM_AS_CP1252)}, '')"
    return f"replace({out}, {_sql_str(chr(0xFEFF))}, '')"


#: one-pass corruption detector (r15, VERDICT r14 ask #2): a single
#: regex scan that fires iff :func:`repair_charset` could change the
#: text — any class-1 mojibake signature, any C1 control or NUL
#: (covers the class-2 translate and every NUL-evidenced UTF-16
#: artifact), the UTF-8-BOM mojibake "ï»¿", a stray real BOM char,
#: or the bare BOM-lookalike pair (the len==2 prefix-strip case).
#: Superset proof: every replace/translate/strip the repair lane
#: performs keys on one of exactly these characters or literals, so
#: signal-free text is a fixed point — hypothesis-pinned in
#: tests/test_llmdata.py. Clean documents (the overwhelming majority
#: of a real crawl) pay ONE regexp scan instead of the ~190-replace
#: expression tree.
_CHARSET_SIGNAL_RE = (
    "[\\x{0000}\\x{0080}-\\x{009F}\\x{FEFF}]|ï»¿"
    "|^(\\x{00FF}\\x{00FE}|\\x{00FE}\\x{00FF})$|"
    + _UTF8_SIG_RE
)


def charset_corrupt_signal(c: Column) -> Column:
    """True iff the repair lane could change ``c`` (see
    :data:`_CHARSET_SIGNAL_RE`)."""
    return c.rlike(_CHARSET_SIGNAL_RE)


def charset_corrupt_signal_sql(expr: str) -> str:
    re = _CHARSET_SIGNAL_RE.replace("'", "''")
    return f"regexp_matches({expr}, '{re}')"


def repair_charset(c: Column) -> Column:
    """The full repair lane: BOM/UTF-16 artifacts first (NULs inside
    text would split the literal mojibake patterns), then the
    mojibake chain at two rounds (single AND double encoding), then
    the C1 translate — gated behind :func:`charset_corrupt_signal`
    so signal-free text short-circuits past the whole chain (r15;
    CaseWhen codegen evaluates only the taken branch, so clean rows
    cost one regex scan). Repair-on-clean is identity, so the gate
    is semantics-free."""
    return F.when(
        charset_corrupt_signal(c), repair_mojibake(repair_bom_utf16(c))
    ).otherwise(c)


def repair_charset_sql(expr: str) -> str:
    """Twin: the same detector gate around the same chain. ``expr``
    is spliced three times (signal, repair, passthrough) — callers
    with a heavy expression should bind it to a CTE/subquery column
    first (as :func:`charset_repaired_sql` does)."""
    sig = charset_corrupt_signal_sql(expr)
    rep = repair_mojibake_sql(repair_bom_utf16_sql(expr))
    return f"CASE WHEN {sig} THEN {rep} ELSE {expr} END"


def _cp1252_as_latin1(s: str) -> str:
    """What ``s`` looks like after its cp1252 bytes are (mis)decoded
    as latin-1 — the class-2 corruption. Only the 0x80-0x9F block
    changes; ASCII and bytes >= 0xA0 decode identically either way."""
    out = []
    for ch in s:
        b = ch.encode("cp1252", errors="replace")
        if len(b) == 1 and 0x80 <= b[0] < 0xA0:
            out.append(chr(b[0]))
        else:
            out.append(ch)
    return "".join(out)


#: the fixture payload (every non-ASCII char is in _MOJIBAKE_CHARS,
#: so class-1 and class-2 corruption are both exactly invertible and
#: the three non-ASCII classes repair to the SAME string).
_CHARSET_PAYLOAD = (
    "Café review — “Crème brûlée”"
    " isn’t naïve… ça coûte 12€"
)
_CHARSET_PAYLOAD_ASCII = (
    "Cafe review - \"Creme brulee\" isn't naive... ca coute 12 EUR"
)

#: doc_id % 6 -> (declared charset, payload as it arrives). Classes
#: 1 and 2 are the two mojibake families; their declarations are the
#: ones that CAUSED them (bytes were UTF-8 but the page declared
#: iso-8859-1; bytes were cp1252 but the page declared utf-8 and a
#: latin-1 decoder ran). Classes 0 and 3 are clean controls, one per
#: declaration family, so charset_conflict discriminates. r14 widens
#: the matrix (VERDICT r13 ask #5): class 4 is DOUBLE-encoded UTF-8
#: (two corruption rounds — repair iterates to the fixed point) and
#: class 5 is UTF-16LE-with-BOM read by a latin-1 decoder
#: (NUL-interleaved ASCII behind a "ÿþ" prefix).
_CHARSET_CLASSES = (
    ("utf-8", _CHARSET_PAYLOAD),
    ("iso-8859-1", _utf8_as_cp1252(_CHARSET_PAYLOAD)),
    ("utf-8", _cp1252_as_latin1(_CHARSET_PAYLOAD)),
    ("windows-1252", _CHARSET_PAYLOAD_ASCII),
    ("utf-8", _utf8_as_cp1252(_utf8_as_cp1252(_CHARSET_PAYLOAD))),
    ("utf-16le", _utf16le_as_latin1(_CHARSET_PAYLOAD_ASCII)),
)


def _charset_class5() -> str:
    return _CHARSET_CLASSES[5][1]


def _mojibake_augmented(text_col: str = "text") -> Column:
    """Fixture (repo convention — ``_html_wrapped``, ``_url_col``):
    the synthetic corpus is clean UTF-8, so a deterministic
    doc_id-keyed mixed-encoding head is synthesized — a meta-charset
    declaration plus a punctuation-rich payload corrupted per class —
    in front of the document text."""
    cls = F.col("doc_id") % 6
    decl = (
        F.when(cls == 1, F.lit("iso-8859-1"))
        .when(cls == 3, F.lit("windows-1252"))
        .when(cls == 5, F.lit("utf-16le"))
        .otherwise(F.lit("utf-8"))
    )
    payload = (
        F.when(cls == 0, F.lit(_CHARSET_CLASSES[0][1]))
        .when(cls == 1, F.lit(_CHARSET_CLASSES[1][1]))
        .when(cls == 2, F.lit(_CHARSET_CLASSES[2][1]))
        .when(cls == 3, F.lit(_CHARSET_CLASSES[3][1]))
        .when(cls == 4, F.lit(_CHARSET_CLASSES[4][1]))
        .otherwise(F.lit(_charset_class5()))
    )
    return F.concat(
        F.lit('<meta charset="'), decl, F.lit('"/> '),
        payload, F.lit(" "), F.col(text_col),
    )


def _mojibake_augment_sql(text_col: str = "text") -> str:
    decl = (
        "CASE WHEN doc_id % 6 = 1 THEN 'iso-8859-1'"
        " WHEN doc_id % 6 = 3 THEN 'windows-1252'"
        " WHEN doc_id % 6 = 5 THEN 'utf-16le'"
        " ELSE 'utf-8' END"
    )
    payload = (
        f"CASE WHEN doc_id % 6 = 0 THEN {_sql_str(_CHARSET_CLASSES[0][1])}"
        f" WHEN doc_id % 6 = 1 THEN {_sql_str(_CHARSET_CLASSES[1][1])}"
        f" WHEN doc_id % 6 = 2 THEN {_sql_str(_CHARSET_CLASSES[2][1])}"
        f" WHEN doc_id % 6 = 3 THEN {_sql_str(_CHARSET_CLASSES[3][1])}"
        f" WHEN doc_id % 6 = 4 THEN {_sql_str(_CHARSET_CLASSES[4][1])}"
        f" ELSE {_sql_str(_charset_class5())} END"
    )
    return (
        f"('<meta charset=\"' || {decl} || '\"/> ' || {payload}"
        f" || ' ' || {text_col})"
    )


def _chain_once(c: Column) -> Column:
    """One round of the class-1 replace chain (no translate) — peels
    exactly one UTF-8-as-cp1252 layer; used to tell single from
    DOUBLE encoding (signatures surviving one round = another layer
    underneath)."""
    for moji, true in _UTF8_REPAIRS:
        c = F.replace(c, F.lit(moji), F.lit(true))
    return c


def _chain_once_sql(expr: str) -> str:
    out = expr
    for moji, true in _UTF8_REPAIRS:
        out = f"replace({out}, {_sql_str(moji)}, {_sql_str(true)})"
    return out


def charset_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mojibake detection + repair over the mixed-encoding fixture
    corpus, errors-as-data (every row gets a verdict; nothing
    raises):

    - ``n_utf8_sigs``: class-1 signature count (the literal mojibake
      alternation, longest-first — both engines match leftmost-first
      so counts agree);
    - ``n_c1``: C1 control characters REMAINING after class-1
      signatures are stripped (the ” expansion legitimately contains
      a WHATWG C1 pass-through — counting it twice would misclassify
      class-1 docs as mixed);
    - ``n_nul`` (r14): NUL count — the UTF-16-as-single-byte
      signature (NUL is never legitimate text);
    - ``enc_class``: clean / utf8_as_cp1252 / utf8_double /
      cp1252_as_latin1 / utf16_as_latin1 / mixed — ``utf8_double``
      discriminated by signatures SURVIVING one chain round (one
      round peels exactly one layer, so survivors prove a second);
    - ``charset_conflict``: the meta declaration disagrees with the
      observed byte evidence — any class-1 signature, C1 controls
      under a utf-8 declaration, or any NUL;
    - ``text_fixed``: :func:`repair_charset` output (BOM/UTF-16
      lane + two mojibake rounds + C1 translate);
    - ``residual_sigs``: signatures (incl. NULs) remaining in
      ``text_fixed`` (the self-check — 0 everywhere on this corpus).
    """
    aug = _mojibake_augmented(text_col)
    base = docs.select(
        "doc_id",
        F.regexp_extract(aug, r'charset="([^"]+)"', 1).alias("decl_charset"),
        F.size(F.regexp_extract_all(aug, F.lit(_UTF8_SIG_RE), F.lit(0)))
        .cast("bigint").alias("n_utf8_sigs"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(aug, _UTF8_SIG_RE, ""),
                F.lit(_C1_SIG_RE), F.lit(0),
            )
        ).cast("bigint").alias("n_c1"),
        F.size(
            F.regexp_extract_all(aug, F.lit(r"\x{0000}"), F.lit(0))
        ).cast("bigint").alias("n_nul"),
        F.size(
            F.regexp_extract_all(
                _chain_once(aug), F.lit(_UTF8_SIG_RE), F.lit(0)
            )
        ).cast("bigint").alias("_n_sigs_r1"),
        repair_charset(aug).alias("text_fixed"),
    )
    fixed_sigs = (
        F.size(
            F.regexp_extract_all(
                F.col("text_fixed"), F.lit(_UTF8_SIG_RE), F.lit(0)
            )
        )
        + F.size(
            F.regexp_extract_all(
                F.col("text_fixed"), F.lit(_C1_SIG_RE), F.lit(0)
            )
        )
        + F.size(
            F.regexp_extract_all(
                F.col("text_fixed"), F.lit(r"\x{0000}"), F.lit(0)
            )
        )
    )
    enc_class = (
        F.when(F.col("n_nul") > 0, "utf16_as_latin1")
        .when(
            (F.col("n_utf8_sigs") > 0) & (F.col("_n_sigs_r1") > 0),
            "utf8_double",
        )
        .when((F.col("n_utf8_sigs") > 0) & (F.col("n_c1") > 0), "mixed")
        .when(F.col("n_utf8_sigs") > 0, "utf8_as_cp1252")
        .when(F.col("n_c1") > 0, "cp1252_as_latin1")
        .otherwise("clean")
    )
    conflict = (
        (F.col("n_utf8_sigs") > 0)
        | ((F.col("n_c1") > 0) & (F.col("decl_charset") == "utf-8"))
        | (F.col("n_nul") > 0)
    )
    return base.select(
        "doc_id",
        "decl_charset",
        "n_utf8_sigs",
        "n_c1",
        "n_nul",
        enc_class.alias("enc_class"),
        conflict.alias("charset_conflict"),
        "text_fixed",
        fixed_sigs.cast("bigint").alias("residual_sigs"),
    )


def charset_signals_sql(
    text_col: str = "text", table: str = "documents"
) -> str:
    aug = _mojibake_augment_sql(text_col)
    sig_re = _UTF8_SIG_RE.replace("'", "''")
    c1_re = _C1_SIG_RE.replace("'", "''")
    fixed = repair_charset_sql("aug")
    r1 = _chain_once_sql("aug")
    return f"""
WITH raw AS (SELECT doc_id, {aug} AS aug FROM {table}),
base AS (
  SELECT doc_id,
         regexp_extract(aug, 'charset="([^"]+)"', 1) AS decl_charset,
         CAST(len(regexp_extract_all(aug, '{sig_re}')) AS BIGINT)
           AS n_utf8_sigs,
         CAST(len(regexp_extract_all(
           regexp_replace(aug, '{sig_re}', '', 'g'), '{c1_re}')) AS BIGINT)
           AS n_c1,
         CAST(len(regexp_extract_all(aug, '\\x00')) AS BIGINT) AS n_nul,
         CAST(len(regexp_extract_all({r1}, '{sig_re}')) AS BIGINT)
           AS _n_sigs_r1,
         {fixed} AS text_fixed
  FROM raw
)
SELECT doc_id, decl_charset, n_utf8_sigs, n_c1, n_nul,
       CASE WHEN n_nul > 0 THEN 'utf16_as_latin1'
            WHEN n_utf8_sigs > 0 AND _n_sigs_r1 > 0 THEN 'utf8_double'
            WHEN n_utf8_sigs > 0 AND n_c1 > 0 THEN 'mixed'
            WHEN n_utf8_sigs > 0 THEN 'utf8_as_cp1252'
            WHEN n_c1 > 0 THEN 'cp1252_as_latin1'
            ELSE 'clean' END AS enc_class,
       (n_utf8_sigs > 0 OR (n_c1 > 0 AND decl_charset = 'utf-8')
        OR n_nul > 0) AS charset_conflict,
       text_fixed,
       CAST(len(regexp_extract_all(text_fixed, '{sig_re}'))
            + len(regexp_extract_all(text_fixed, '{c1_re}'))
            + len(regexp_extract_all(text_fixed, '\\x00')) AS BIGINT)
         AS residual_sigs
FROM base
"""


#: the fixture's meta head, stripped by the recipe stage after the
#: declaration has been consumed (a real pipeline reads it to pick
#: the decoder, then discards it from the training text).
_CHARSET_META_RE = r'^<meta charset="[^"]+"/> '


def charset_repaired(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The recipe's charset stage: mixed-encoding fixture in, the
    SAME relation out with ``text_col`` repaired in place (meta head
    consumed and stripped) — what a real pipeline's transcode pass
    produces ahead of HTML extraction. Repair is a pure column
    expression, so this is a ``withColumn``, NOT a join-back: the
    first cut joined (doc_id, text_fixed) onto docs and paid a
    needless self-join shuffle for a scan-shaped stage."""
    fixed = repair_charset(_mojibake_augmented(text_col))
    return docs.withColumn(
        text_col, F.regexp_replace(fixed, _CHARSET_META_RE, "")
    )


def charset_repaired_sql(
    text_col: str = "text", table: str = "documents"
) -> str:
    """Twin: ``SELECT * REPLACE`` — same no-join shape. The
    augmented text binds to a subquery column first because the
    gated :func:`repair_charset_sql` splices its input three times
    (signal / repair / passthrough)."""
    fixed = repair_charset_sql("_aug")
    meta_re = _CHARSET_META_RE.replace("'", "''")
    return (
        f"SELECT * EXCLUDE (_aug) REPLACE ("
        f"regexp_replace({fixed}, '{meta_re}', '') AS {text_col})"
        f" FROM (SELECT *, {_mojibake_augment_sql(text_col)} AS _aug"
        f" FROM {table})"
    )
