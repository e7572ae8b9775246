"""Frequency sketches: corpus heavy hitters, exact and bounded-memory.

Vocabulary/term-frequency analysis over a training corpus (stopword
discovery, boilerplate tokens, tokenizer-vocab candidates). Two
forms:

- ``exact_heavy_hitters``: explode -> groupBy(term) -> top-k. The
  per-term partial agg combines map-side, so the shuffle carries one
  row per (task, distinct term) — correct at any scale where the
  distinct-term cardinality is shuffle-safe (natural language: tens
  of millions of types; fine). The DuckDB-oracle-checkable baseline.
- ``misra_gries_heavy_hitters``: per-partition Misra-Gries counters
  capped at ``capacity`` entries (Arrow-batched ``mapInPandas``),
  then one tiny groupBy-sum merge. Shuffle volume is bounded by
  capacity x partitions REGARDLESS of vocabulary size — the shape for
  adversarial/unbounded token streams (URLs, hashes, code) where the
  distinct-term relation itself is too wide. Standard guarantee: any
  term with true frequency > n/capacity is present in the merged
  summary, and each merged count under-estimates the true count by
  at most n/capacity (per-partition decrements only ever subtract);
  pinned by ``tests/test_sketch.py`` against the exact counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _toks(text_col: str):
    # single definition of the package tokenization (functions/text.py)
    from ts_data_pipeline_spark.functions.text import toks_col

    return toks_col(text_col)


def exact_heavy_hitters(
    docs: DataFrame, k: int = 25, text_col: str = "text"
) -> DataFrame:
    """Top-k corpus terms by exact frequency (count desc, term asc)."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term", "freq", "rank"
    )


def exact_heavy_hitters_sql(
    k: int = 25, table: str = "documents", text_col: str = "text"
) -> str:
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t != '')"
    return f"""
WITH counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({toks}) AS term FROM {table})
  GROUP BY term
),
top AS (SELECT * FROM counts ORDER BY freq DESC, term ASC LIMIT {k})
SELECT term, freq,
       row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
FROM top
"""


def misra_gries_heavy_hitters(
    docs: DataFrame,
    k: int = 25,
    capacity: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Bounded-memory heavy hitters: per-partition Misra-Gries
    summaries merged by a capacity-bounded groupBy-sum.

    Returns (term, freq_lb, rank) for the top-k surviving terms,
    where ``freq_lb`` is the summed lower-bound counter (true freq -
    freq_lb <= n/capacity). Candidate generation never shuffles more
    than capacity rows per input partition.
    """
    from pyspark.sql import Window

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                for term in str(text).lower().split(" "):
                    if not term:
                        continue
                    if term in counters:
                        counters[term] += 1
                    elif len(counters) < capacity:
                        counters[term] = 1
                    else:
                        # decrement-all step; drop zeros
                        dead = []
                        for t in counters:
                            counters[t] -= 1
                            if counters[t] == 0:
                                dead.append(t)
                        for t in dead:
                            del counters[t]
        yield pd.DataFrame(
            {"term": list(counters), "freq_lb": list(counters.values())}
        )

    partials = docs.select(text_col).mapInPandas(
        summarize, "term string, freq_lb long"
    )
    merged = partials.groupBy("term").agg(F.sum("freq_lb").alias("freq_lb"))
    top = merged.orderBy(F.col("freq_lb").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("freq_lb").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term", "freq_lb", "rank"
    )


def vocab_coverage(
    docs: DataFrame,
    targets_permyriad: tuple[int, ...] = (5000, 9000, 9900, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each coverage target, the
    smallest frequency-ranked vocabulary that covers at least that
    share of all token occurrences — the sizing question every
    tokenizer/vocab decision starts from ("how many types cover 99%
    of the corpus?").

    Returns one row per target: ``coverage_permyriad`` (target in
    1/10000ths, so thresholds stay in EXACT integer arithmetic —
    ``cum * 10000 >= total * permyriad`` — with zero float-rounding
    exposure cross-engine), ``vocab_size`` (min rank achieving it),
    ``tokens_covered`` (occurrences under that prefix), and
    ``total_tokens``.

    Scale shape: the token explode combines map-side into a
    vocab-sized relation; the global prefix sum over (freq desc, term
    asc) is the two-phase range-partitioned form (sampling.py::
    token_budget_select) — NEVER a single-partition global window.
    The range exchange is pinned with an eager localCheckpoint so the
    per-partition bases and the within-partition running sums observe
    one physical partition assignment (the sampled range boundaries
    are not bit-reproducible across recomputes). Targets and the
    1-row total are broadcast; the final argmin join broadcasts the
    |targets|-row side. Works unchanged when the vocabulary itself is
    shuffle-wide (URLs/code tokens): nothing here is driver-sized.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    part = (
        vocab.repartitionByRange(F.col("cnt").desc(), F.col("term").asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = part.groupBy("_pid").agg(
        F.sum("cnt").alias("_pt"), F.count(F.lit(1)).alias("_pn")
    )
    across = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    bases = per_part.select(
        "_pid",
        F.coalesce(F.sum("_pt").over(across), F.lit(0)).alias("_base"),
        F.coalesce(F.sum("_pn").over(across), F.lit(0)).alias("_rbase"),
    )
    order = (F.col("cnt").desc(), F.col("term").asc())
    within = Window.partitionBy("_pid").orderBy(*order)
    pref = (
        part.withColumn(
            "_cum",
            F.sum("cnt").over(within.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_rn", F.row_number().over(within))
        .join(F.broadcast(bases), "_pid")
        .select(
            (F.col("_base") + F.col("_cum")).alias("tokens_covered"),
            (F.col("_rbase") + F.col("_rn")).alias("rank"),
        )
    )
    total = vocab.agg(F.sum("cnt").alias("total_tokens"))
    targets = spark.createDataFrame(
        [(int(p),) for p in targets_permyriad], "coverage_permyriad long"
    )
    minranks = (
        pref.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(targets))
        .where(
            F.col("tokens_covered") * F.lit(10000)
            >= F.col("total_tokens") * F.col("coverage_permyriad")
        )
        .groupBy("coverage_permyriad")
        .agg(F.min("rank").alias("vocab_size"))
    )
    return (
        pref.join(
            F.broadcast(minranks), pref["rank"] == minranks["vocab_size"]
        )
        .crossJoin(F.broadcast(total))
        .select(
            "coverage_permyriad", "vocab_size", "tokens_covered",
            "total_tokens",
        )
    )


def vocab_coverage_sql(
    targets_permyriad: tuple[int, ...] = (5000, 9000, 9900, 10000),
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle: the flat single-window form of the same curve."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t != '')"
    values = ", ".join(f"({int(p)})" for p in targets_permyriad)
    return f"""
WITH vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({toks}) AS term FROM {table})
  GROUP BY term
),
pref AS (
  SELECT SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS tokens_covered,
         row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank,
         SUM(cnt) OVER () AS total_tokens
  FROM vocab
),
m AS (
  SELECT t.pm AS coverage_permyriad, MIN(rank) AS vocab_size
  FROM pref, (VALUES {values}) t(pm)
  WHERE tokens_covered * 10000 >= total_tokens * t.pm
  GROUP BY t.pm
)
SELECT m.coverage_permyriad, m.vocab_size,
       CAST(p.tokens_covered AS BIGINT) AS tokens_covered,
       CAST(p.total_tokens AS BIGINT) AS total_tokens
FROM m JOIN pref p ON p.rank = m.vocab_size
"""


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005)


def _cms_lanes(depth: int, width: int):
    """THE lane construction, shared by cell build and point probe —
    one md5 of 'cms:' || term sliced into per-row u32 lanes, each
    reduced mod width. A single definition: if build and probe ever
    diverged, estimates would silently stop addressing the cells that
    were incremented and the never-undercount guarantee would break.
    """
    if not 1 <= depth <= 4:
        raise ValueError("depth must be 1..4 (u32 lanes of one md5)")
    h = F.md5(F.concat(F.lit("cms:"), F.col("term")))
    return F.array(
        *[
            (
                F.conv(F.substring(h, 8 * r + 1, 8), 16, 10).cast("bigint")
                % width
            )
            for r in range(depth)
        ]
    )


def count_min_cells(
    docs: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """The CMS table itself: (r, bucket, cnt) for depth rows of width
    buckets.

    Each token occurrence increments one bucket per hash row; the
    groupBy partial-aggregates map-side, so the shuffle carries at
    most depth x width rows PER TASK no matter how large the
    vocabulary or corpus is — the fixed-size-summary shape that exact
    term counting cannot give (compare ``exact_heavy_hitters``, whose
    shuffle is one row per distinct term). Hashing is the package's
    engine-portable md5 (functions/portable_hash.py) sliced into one
    independent u32 lane per hash row — md5 is 128 bits = four u32s,
    so depth <= 4 costs ONE digest per token occurrence, not depth —
    and the DuckDB oracle reproduces every cell exactly.
    """
    return (
        docs.select(F.explode(_toks(text_col)).alias("term"))
        .select(F.posexplode(_cms_lanes(depth, width)).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimates(
    docs: DataFrame,
    depth: int = 4,
    width: int = 1024,
    k: int = 25,
    text_col: str = "text",
) -> DataFrame:
    """Point-query the sketch for the exact top-k terms and report
    estimate vs truth: (term, freq_exact, freq_cms, rank).

    freq_cms = min over hash rows of the probed cell — always >=
    freq_exact (CMS never under-counts), and over-counts by more than
    2n/width with probability < (1/2)^depth per query. The cells
    relation is depth x width rows BY CONSTRUCTION, so it broadcasts
    regardless of corpus size; the probe side is k x depth rows. The
    expensive relations (token stream, term counts) are never joined
    against each other.
    """
    cells = count_min_cells(docs, depth=depth, width=width, text_col=text_col)
    probes = exact_heavy_hitters(docs, k=k, text_col=text_col)
    probed = probes.select(
        "term",
        F.col("freq").alias("freq_exact"),
        "rank",
        F.posexplode(_cms_lanes(depth, width)).alias("r", "bucket"),
    )
    return (
        probed.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("term", "freq_exact", "rank")
        .agg(F.min("cnt").alias("freq_cms"))
        .select("term", "freq_exact", "freq_cms", "rank")
    )


def count_min_estimates_sql(
    depth: int = 4,
    width: int = 1024,
    k: int = 25,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`count_min_estimates` — same md5 digest
    sliced into per-row u32 lanes, same min-over-rows estimate."""

    def lane(r: int) -> str:
        # u32 from hex digits [8r+1 .. 8r+8] of md5('cms:' || term)
        terms = " + ".join(
            f"(strpos('0123456789abcdef', substring(md5('cms:' || term),"
            f" {8 * r + i}, 1)) - 1) * {16 ** (8 - i)}"
            for i in range(1, 9)
        )
        return f"(({terms}) % {width})"

    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t != '')"
    lanes = ", ".join(
        f"({r}, {lane(r)})" for r in range(depth)
    )
    return f"""
WITH toks AS (
  SELECT unnest({toks}) AS term FROM {table}
),
hashed AS (
  SELECT lv.* FROM toks, LATERAL (VALUES {lanes}) lv(r, bucket)
),
cells AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY r, bucket
),
counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({toks}) AS term FROM {table})
  GROUP BY term
),
top AS (
  SELECT term, freq,
         row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM counts ORDER BY freq DESC, term ASC LIMIT {k}
),
probes AS (
  SELECT term, freq AS freq_exact, rank, lv.r, lv.bucket
  FROM top, LATERAL (VALUES {lanes}) lv(r, bucket)
)
SELECT p.term, p.freq_exact, MIN(c.cnt) AS freq_cms, p.rank
FROM probes p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
GROUP BY p.term, p.freq_exact, p.rank
"""


# ---------------------------------------------------------------------------
# Mergeable aggregation state (incremental materialized-view
# maintenance): per-key (n, s, vmin, vmax, m2) summaries that COMBINE
# by pure column algebra — the streaming-upkeep primitive behind
# "merge tonight's partition into the running per-key stats without
# rescanning history". m2 merges by the parallel/Chan update
# (Chan, Golub & LeVeque 1983), the same algebra Spark's own partial
# aggregation uses internally; exposing it as DATA makes the partial
# state storable, shippable, and mergeable across batches/engines.


def summary_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Per-key mergeable summary: (keys..., n, s, vmin, vmax, m2)
    where m2 = sum((x - mean)^2) = var_pop * n. One map-side-
    combinable groupBy; NULL values drop (they carry no state).

    Carried-state convention: s and m2 are ROUND(.., 4) — the grid
    coarse enough that summation-order ulp cannot cross a boundary —
    and downstream consumers derive mean/var/std from the state
    (``summary_stats``) rather than gating rounded divisions."""
    g = df.filter(F.col(value_col).isNotNull()).groupBy(*key_cols)
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(value_col), 4).alias("s"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        F.round(F.var_pop(value_col) * F.count(F.lit(1)), 4).alias("m2"),
    )


def merge_summary_states(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Combine two summary-state relations into one — pure column
    algebra over a full-outer key join, no re-scan of either input's
    source rows:

        n   = na + nb
        s   = sa + sb
        min/max = least/greatest
        m2  = m2a + m2b + (sb*na - sa*nb)^2 / (na*nb*(na+nb))

    (the delta^2 * na*nb/n parallel-variance update, written over
    sums so no intermediate mean is materialized). A key present on
    one side passes through unchanged — the identity-element case a
    nightly merge hits constantly (new keys arrive, cold keys don't).
    Scale shape: one shuffle on the key (or none, when both states
    are bucketed on it — the upsert sink's layout); state relations
    are |keys|-sized, not |rows|-sized.

    Output m2 is ROUND(.., 4) (carried-state convention). Merging is
    associative up to that rounding grid, so batch order does not
    change gated values."""
    na, nb = F.col("a.n"), F.col("b.n")
    sa, sb = F.col("a.s"), F.col("b.s")
    both_m2 = (
        F.col("a.m2") + F.col("b.m2")
        + F.pow(sb * na - sa * nb, 2) / (na * nb * (na + nb))
    )
    j = a.alias("a").join(b.alias("b"), key_cols, "full_outer")
    one_sided = F.col("a.n").isNull() | F.col("b.n").isNull()
    pick = lambda c: F.coalesce(F.col(f"a.{c}"), F.col(f"b.{c}"))
    return j.select(
        *key_cols,
        F.when(one_sided, pick("n")).otherwise(na + nb).alias("n"),
        F.round(
            F.when(one_sided, pick("s")).otherwise(sa + sb), 4
        ).alias("s"),
        F.when(one_sided, pick("vmin"))
        .otherwise(F.least("a.vmin", "b.vmin")).alias("vmin"),
        F.when(one_sided, pick("vmax"))
        .otherwise(F.greatest("a.vmax", "b.vmax")).alias("vmax"),
        F.round(
            F.when(one_sided, pick("m2")).otherwise(both_m2), 4
        ).alias("m2"),
    )


def summary_stats(state: DataFrame) -> DataFrame:
    """Derived statistics from a summary state: mean/var/std. NOT for
    hash gates (derived divisions half-tie across engines — gate the
    carried state); for consumers."""
    return state.select(
        "*",
        (F.col("s") / F.col("n")).alias("mean"),
        (F.col("m2") / F.col("n")).alias("var_pop"),
        F.sqrt(F.col("m2") / F.col("n")).alias("std_pop"),
    )


def summary_state_merge_sql(
    split_expr: str = "event_id % 2",
    key_col: str = "event_type",
    value_col: str = "value",
    table: str = "events",
) -> str:
    """DuckDB twin of summary_state-per-half + merge_summary_states:
    the same per-half aggregates (4-dp carried rounding) and the same
    sum-form Chan update, so the MERGE PATH itself is what the gate
    compares — not a single-pass recomputation that would hide a
    broken merge formula."""
    return f"""
WITH halves AS (
  SELECT {key_col} AS key, {split_expr} AS half,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM({value_col}), 4) AS s,
         MIN({value_col}) AS vmin,
         MAX({value_col}) AS vmax,
         ROUND(var_pop({value_col}) * COUNT(*), 4) AS m2
  FROM {table} WHERE {value_col} IS NOT NULL
  GROUP BY 1, 2
),
a AS (SELECT * FROM halves WHERE half = 0),
b AS (SELECT * FROM halves WHERE half = 1)
SELECT COALESCE(a.key, b.key) AS key,
       CASE WHEN a.n IS NULL OR b.n IS NULL
            THEN COALESCE(a.n, b.n) ELSE a.n + b.n END AS n,
       ROUND(CASE WHEN a.n IS NULL OR b.n IS NULL
            THEN COALESCE(a.s, b.s) ELSE a.s + b.s END, 4) AS s,
       CASE WHEN a.n IS NULL OR b.n IS NULL
            THEN COALESCE(a.vmin, b.vmin)
            ELSE LEAST(a.vmin, b.vmin) END AS vmin,
       CASE WHEN a.n IS NULL OR b.n IS NULL
            THEN COALESCE(a.vmax, b.vmax)
            ELSE GREATEST(a.vmax, b.vmax) END AS vmax,
       ROUND(CASE WHEN a.n IS NULL OR b.n IS NULL
            THEN COALESCE(a.m2, b.m2)
            ELSE a.m2 + b.m2
                 + POW(b.s * a.n - a.s * b.n, 2)
                   / (a.n * b.n * (a.n + b.n)) END, 4) AS m2
FROM a FULL OUTER JOIN b ON a.key = b.key
"""


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram state: the quantile companion to
# summary_state. Bins are FIXED (lo, hi, n_bins declared up front),
# so two states merge by element-wise vector addition — exactly the
# property t-digest/KLL buy with adaptive bins at the cost of
# approximation knobs; the fixed grid is the deterministic,
# oracle-replayable form, and the estimation error is bounded by the
# declared bin width instead of a probabilistic guarantee.


def histogram_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    *,
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 20,
) -> DataFrame:
    """Per-key fixed-bin histogram: (keys..., n, bins array<bigint>
    of length n_bins + 2) — bin 0 is the underflow (< lo), bin
    n_bins + 1 the overflow (>= hi), interior bin i covers
    [lo + (i-1)*w, lo + i*w) with w = (hi-lo)/n_bins. One map-side-
    combinable groupBy over (key, bin); the dense array assembles
    from the sparse counts with zeros filled, so states are directly
    zip-addable regardless of which bins a partition saw."""
    w = (hi - lo) / n_bins
    b = (
        F.when(F.col(value_col) < lo, F.lit(0))
        .when(F.col(value_col) >= hi, F.lit(n_bins + 1))
        .otherwise(F.floor((F.col(value_col) - lo) / w).cast("int") + 1)
    )
    sparse = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dense = (
        sparse.groupBy(*key_cols)
        .agg(
            F.sum("c").alias("n"),
            F.map_from_entries(
                F.collect_list(F.struct("bin", "c"))
            ).alias("m"),
        )
        .select(
            *key_cols,
            "n",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bins + 1)),
                lambda i: F.coalesce(
                    F.element_at("m", i.cast("int")), F.lit(0).cast("bigint")
                ),
            ).alias("bins"),
        )
    )
    return dense


def merge_histogram_states(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Element-wise vector addition over a full-outer key join — the
    merge is exact (no re-binning), associative, and commutative, so
    batch arrival order can never change the merged state. One-sided
    keys pass through unchanged (identity element)."""
    j = a.alias("a").join(b.alias("b"), key_cols, "full_outer")
    one_sided = F.col("a.n").isNull() | F.col("b.n").isNull()
    return j.select(
        *key_cols,
        F.when(one_sided, F.coalesce("a.n", "b.n"))
        .otherwise(F.col("a.n") + F.col("b.n")).alias("n"),
        F.when(one_sided, F.coalesce("a.bins", "b.bins"))
        .otherwise(
            F.zip_with("a.bins", "b.bins", lambda x, y: x + y)
        ).alias("bins"),
    )


def histogram_quantile(
    state: DataFrame,
    q: float,
    *,
    lo: float = 0.0,
    hi: float = 100.0,
) -> DataFrame:
    """Estimate the q-quantile from a histogram state by linear
    interpolation within the first bin whose cumulative count reaches
    the rank q * n — the Prometheus histogram_quantile convention:
    lo_bin + w * (rank - cum_before) / bin_count. Under/overflow bins
    clamp to lo/hi (their width is unknown). Derived estimate — NOT
    for hash gates (gate the carried bins); error is bounded by one
    interior bin width."""
    n_total = F.col("n")
    rank = F.lit(float(q)) * n_total.cast("double")
    cum = F.expr(
        "transform(bins, (c, i) -> "
        "aggregate(slice(bins, 1, i + 1), 0L, (acc, x) -> acc + x))"
    )
    n_bins = F.size("bins") - 2
    w = (F.lit(hi) - F.lit(lo)) / n_bins
    # first index (1-based) whose cumulative count >= rank
    hit = F.filter(
        F.arrays_zip(
            F.sequence(F.lit(1), F.size("bins")).alias("i"),
            cum.alias("c"),
        ),
        lambda s: s["c"].cast("double") >= rank,
    )[0]
    first_hit = hit["i"]
    bin0 = first_hit - 2  # interior bin index, 0-based (may be -1/overflow)
    bin_count = F.element_at("bins", first_hit).cast("double")
    cum_before = hit["c"].cast("double") - bin_count
    frac = (rank - cum_before) / bin_count
    est = (
        F.when(first_hit == 1, F.lit(lo))
        .when(first_hit == F.size("bins"), F.lit(hi))
        .otherwise(F.lit(lo) + (bin0.cast("double") + frac) * w)
    )
    return state.select(
        *[c for c in state.columns if c not in ("n", "bins")],
        "n",
        F.round(est, 6).alias(f"q{int(q * 100)}"),
    )


def histogram_state_merge_sql(
    *,
    split_expr: str = "event_id % 2",
    key_col: str = "event_type",
    value_col: str = "value",
    table: str = "events",
    lo: float = 0.0,
    hi: float = 1000.0,
    n_bins: int = 20,
) -> str:
    """DuckDB twin of the exploded merged histogram. Because the
    merge is EXACT integer addition over a fixed grid, the direct
    whole-input histogram is value-identical to halves+merge — and it
    still gates the merge path hard: a dropped one-sided key, a
    misaligned zip, or a broken bin formula all diverge from the
    direct count. The dense grid (every bin per key, zeros included)
    mirrors the Spark side's assembled array."""
    w = (hi - lo) / n_bins
    bin_expr = (
        f"CASE WHEN v < {lo} THEN 0 "
        f"WHEN v >= {hi} THEN {n_bins + 1} "
        f"ELSE CAST(FLOOR((v - {lo}) / {w!r}) AS INT) + 1 END"
    )
    return f"""
WITH src AS (
  SELECT {key_col} AS key, {value_col} AS v
  FROM {table} WHERE {value_col} IS NOT NULL
),
counts AS (
  SELECT key, {bin_expr} AS bin, COUNT(*) AS c
  FROM src GROUP BY 1, 2
),
keys AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY 1),
grid AS (SELECT k.key, k.n, CAST(r.range AS INT) AS bin
         FROM keys k, range(0, {n_bins + 2}) r)
SELECT g.key, g.n, CAST(g.bin AS BIGINT) AS bin,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt
FROM grid g LEFT JOIN counts c ON g.key = c.key AND g.bin = c.bin
"""


# ---------------------------------------------------------------------------
# Streaming maintenance of the mergeable state: foreachBatch folds
# each micro-batch's per-key partials into a stored state with
# exactly-once semantics — the incremental-materialized-view loop the
# mergeable algebra exists for.


# The ops classes were hoisted to operators/fsio in r12 so the
# exactly-once upsert sink (streaming/upsert_sink) shares the SAME
# primitive interface and Hadoop-FS portability story; these aliases
# keep this module's r11 names (and its tests) stable.
from ts_data_pipeline_spark.operators.fsio import (  # noqa: E402
    HadoopOps as _HadoopStateOps,
    PosixOps as _PosixStateOps,
    resolve_ops as _state_ops,
)


def _latest_version(path: str, ops=None) -> int:
    """The committed version (batch id) of a summary-state dir, or
    -1 when none has committed yet."""
    import json

    ops = ops or _PosixStateOps()
    p = ops.join(path, "_LATEST")
    if not ops.exists(p):
        return -1
    return int(json.loads(ops.read_text(p))["batch_id"])


def read_summary_state(spark, path: str) -> DataFrame:
    """The committed merged state (raises if nothing committed).

    Spark resolves the version dir's files LAZILY — a reader that
    holds this DataFrame across ``keep_versions`` further commits
    races the writer's pruning. Readers with a long window should
    use :func:`pinned_summary_state` (or pin/release explicitly),
    which the pruner honors.
    """
    ops = _state_ops(spark)
    latest = _latest_version(path, ops)
    if latest < 0:
        raise FileNotFoundError(f"no committed summary state at {path}")
    return spark.read.parquet(ops.join(path, f"v{latest}"))


def _pinned_versions(path: str, ops=None) -> set[int]:
    """Versions protected from pruning by live reader pins."""
    import json

    ops = ops or _PosixStateOps()
    pinned: set[int] = set()
    for name in ops.listdir(path):
        if name.startswith("_PIN_") and name.endswith(".json"):
            try:
                pinned.add(
                    int(
                        json.loads(ops.read_text(ops.join(path, name)))[
                            "batch_id"
                        ]
                    )
                )
            except (Exception,):  # noqa: BLE001 — mid-write/mid-delete
                continue  # a pin mid-write/mid-delete protects nothing
    return pinned


def pin_version(path: str, spark=None) -> str:
    """Pin the CURRENT committed version against pruning (VERDICT r9
    ask #6 — the slow-reader hazard): writes an atomic
    ``_PIN_<uuid>.json`` naming the version; :func:`state_sink`'s
    pruner skips pinned versions, so a reader holding the returned
    DataFrame across many commits keeps its files. Returns the pin
    token to pass to :func:`release_pin`.

    Protocol: pin FIRST, then read. The pin lands before the read
    ever resolves files, and the writer only prunes versions already
    ``keep_versions`` commits old — the just-committed version a pin
    names is never in that window, so the pin/prune race cannot
    remove a version between pin write and read. That leaves one
    window the docstring's claim did not cover (r10 advisor): between
    ``_latest_version()`` and the pin file landing, ``keep_versions``+
    further commits could age the chosen version into the prune
    window before the pruner ever sees the pin. Closed by VALIDATING
    after the write: if the pinned version dir is gone (or was
    superseded past the retention floor), drop the stale pin and
    retry on the then-current version — the loop terminates because
    each retry pins a strictly newer version and a quiescent writer
    stops aging them.

    ``spark`` routes filesystem access through the Hadoop FS API
    (r11 — URIs/object stores; the bare-path form stays driver-local
    POSIX for no-session callers).
    """
    import json
    import uuid

    ops = _state_ops(spark)
    for _ in range(64):  # bound: 64 full retention windows mid-call
        latest = _latest_version(path, ops)
        if latest < 0:
            raise FileNotFoundError(f"no committed summary state at {path}")
        token = ops.join(path, f"_PIN_{uuid.uuid4().hex}.json")
        ops.replace_text(token, json.dumps({"batch_id": latest}))
        # validate-after-write: the pruner honors pins it LISTS, so a
        # version dir still present now is protected from every prune
        # that starts after this point; absent means we lost the race.
        if ops.isdir(ops.join(path, f"v{latest}")):
            return token
        ops.remove_file(token)
    raise RuntimeError(
        f"pin_version: writer outpaced pinning 64 times at {path}"
    )


def release_pin(path: str, token: str, spark=None) -> None:
    """Release a reader pin; the next commit's pruning reclaims the
    version (if it is outside the retention window)."""
    if token.rsplit("/", 1)[0] != path.rstrip("/"):
        raise ValueError(f"pin token {token!r} does not belong to {path!r}")
    _state_ops(spark).remove_file(token)  # double release is a no-op


def pinned_summary_state(spark, path: str):
    """Context manager: pin -> read -> release. The safe form of
    :func:`read_summary_state` for readers whose consumption spans
    further commits (exports, slow joins, driver-side iteration)::

        with pinned_summary_state(spark, path) as df:
            df.write.parquet(...)   # files cannot be pruned away
    """
    import contextlib

    @contextlib.contextmanager
    def _cm():
        import json

        ops = _state_ops(spark)
        token = pin_version(path, spark)
        try:
            v = json.loads(ops.read_text(token))["batch_id"]
            yield spark.read.parquet(ops.join(path, f"v{v}"))
        finally:
            release_pin(path, token, spark)

    return _cm()


def state_sink(path: str, partial_fn, merge_fn, keep_versions: int = 2):
    """Generic exactly-once foreachBatch state maintenance for ANY
    mergeable per-key state (summaries, histograms, future sketches):

    - ``partial_fn(batch_df) -> state_df`` computes the micro-batch's
      partial state; ``merge_fn(stored, partial) -> state_df``
      combines it with the stored state;
    - state is |keys|-sized BY CONSTRUCTION, so each batch writes the
      FULL merged state as a new version dir ``v{batch_id}`` (the
      row-scale upsert table does bucket surgery instead — here a
      full rewrite IS the bounded-I/O choice);
    - the ``_LATEST`` pointer (JSON, written temp + os.replace —
      atomic) commits the version; within one checkpointed run batch
      ids are monotonic and only the LAST committed batch can be
      re-delivered (restart recovery), so ``batch_id == committed``
      is the idempotent no-op and ``batch_id < committed`` can ONLY
      mean a different run (fresh checkpoint resetting ids to 0) —
      that raises loudly instead of silently dropping every
      micro-batch until ids catch up;
    - a crash AFTER the version write but BEFORE the pointer leaves
      an orphan dir: the re-delivered batch recomputes and overwrites
      it from the still-committed predecessor, then commits — no
      partial state is ever observable through the pointer;
    - after a successful pointer commit, only the newest
      ``keep_versions`` version dirs survive (default 2: the current
      batch + its committed predecessor, the recovery base for a
      re-delivery), so storage holds a bounded number of full state
      copies, not one per batch. PRUNING vs LAZY READERS: a Spark
      read of ``v{N}`` resolves files lazily, so a reader holding a
      DataFrame across ``keep_versions`` further commits would hit
      FileNotFound when its version is pruned (r9 review finding) —
      slow readers pin their version (:func:`pin_version` /
      :func:`pinned_summary_state`) and the pruner skips pinned
      versions until release (r10); quick readers need nothing.

    Single-writer per path (the streaming-query contract); readers go
    through :func:`read_summary_state`.
    """
    import json

    if keep_versions < 2:
        # the recovery base REQUIRES the committed predecessor (a
        # re-delivered batch recomputes from it), so fewer than 2
        # retained versions can never be honored — raise instead of
        # silently clamping a caller's explicit request (r9 advisor)
        raise ValueError(
            f"keep_versions={keep_versions}: state_sink retains at "
            "least 2 versions (current + committed predecessor, the "
            "re-delivery recovery base)"
        )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        # all filesystem access through the Hadoop FS API (r11): the
        # sink always has a session at hand, so the commit protocol
        # runs identically on local paths, file:// URIs, HDFS and
        # object stores — the IVF-maintenance convention
        ops = _state_ops(batch_df.sparkSession)
        latest = _latest_version(path, ops)
        if batch_id == latest:
            return  # re-delivery of the committed batch: no-op
        if batch_id < latest:
            raise ValueError(
                f"state_sink at {path}: batch id {batch_id} regressed "
                f"below committed {latest} — this stream is running "
                "with a DIFFERENT checkpoint than the one that built "
                "this state (fresh checkpoints restart ids at 0). "
                "Point the sink at a new path or resume the original "
                "checkpoint; silently dropping batches would lose data."
            )
        partial = partial_fn(batch_df)
        if latest >= 0:
            stored = batch_df.sparkSession.read.parquet(
                ops.join(path, f"v{latest}")
            )
            merged = merge_fn(stored, partial)
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(
            ops.join(path, f"v{batch_id}")
        )
        ops.replace_text(
            ops.join(path, "_LATEST"), json.dumps({"batch_id": batch_id})
        )
        versions = []
        for name in ops.listdir(path):
            if name.startswith("v"):
                try:
                    versions.append(int(name[1:]))
                except ValueError:
                    continue
        # retention floor: reader pins (pin_version) protect their
        # version from pruning — the r9 slow-reader hazard becomes a
        # non-event instead of a FileNotFound mid-read. Prune is
        # RENAME-FIRST (r10 advisor's list-then-delete straddle):
        # atomically rename v{n} -> _trash_v{n}, re-list pins, restore
        # if pinned else rmtree the trash. Interleaving argument: a
        # pin written BEFORE the re-list is seen and the version is
        # restored; a pin written AFTER the re-list means the reader's
        # validate-after-write isdir (pin_version) runs after the
        # rename already hid the dir, so the reader drops the stale
        # pin and retries on the current version. Either way no
        # reader is ever stranded on a removed version.
        for name in list(ops.listdir(path)):
            # crash recovery: a _trash_ dir from a run that died
            # between rename and rmtree/restore — restore if pinned
            # (the reader's files come back), else finish the delete
            if name.startswith("_trash_v"):
                try:
                    v = int(name[len("_trash_v"):])
                except ValueError:
                    continue
                if v in _pinned_versions(path, ops):
                    ops.rename(
                        ops.join(path, name), ops.join(path, f"v{v}")
                    )
                else:
                    ops.rmtree(ops.join(path, name))
        for v in sorted(versions, reverse=True)[keep_versions:]:
            vdir = ops.join(path, f"v{v}")
            trash = ops.join(path, f"_trash_v{v}")
            if not ops.rename(vdir, trash):
                continue  # already gone (a prior sweep removed it)
            if v in _pinned_versions(path, ops):
                ops.rename(trash, vdir)  # pinned after all — restore
            else:
                ops.rmtree(trash)

    return fb


def summary_state_sink(
    path: str,
    key_cols: list[str],
    value_col: str = "value",
):
    """foreachBatch body maintaining the per-key SUMMARY state
    (:func:`summary_state` partials folded by
    :func:`merge_summary_states`) — see :func:`state_sink` for the
    commit protocol."""
    return state_sink(
        path,
        lambda b: summary_state(b, key_cols, value_col),
        lambda a, b: merge_summary_states(a, b, key_cols),
    )


def histogram_state_sink(
    path: str,
    key_cols: list[str],
    value_col: str = "value",
    *,
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 20,
):
    """foreachBatch body maintaining the per-key HISTOGRAM state
    (:func:`histogram_state` partials vector-added by
    :func:`merge_histogram_states`) — exact integer merge, so the
    maintained state equals the batch recomputation bin-for-bin."""
    return state_sink(
        path,
        lambda b: histogram_state(
            b, key_cols, value_col, lo=lo, hi=hi, n_bins=n_bins
        ),
        lambda a, b: merge_histogram_states(a, b, key_cols),
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count state: real Apache DataSketches HLL
# (Spark's hll_sketch_agg/hll_union builtins) — the third member of
# the mergeable-state family. Register-wise max makes the union of
# sketches EXACTLY the sketch of the union, so incremental
# maintenance loses nothing vs a full recompute.


def distinct_count_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    lgk: int = 12,
) -> DataFrame:
    """Per-key HLL sketch state: (keys..., n_rows, hll binary). The
    sketch is JVM-side DataSketches (no Python hop); lgk=12 is
    Spark's default (~1.6% relative error, 2^12 registers)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll"),
        )
    )


def merge_distinct_states(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Register-wise HLL union over a full-outer key join — the
    sketch of the UNION, exactly, with one-sided keys passing
    through (identity element, like the other mergeable states)."""
    j = a.alias("a").join(b.alias("b"), key_cols, "full_outer")
    one_sided = F.col("a.hll").isNull() | F.col("b.hll").isNull()
    return j.select(
        *key_cols,
        F.when(one_sided, F.coalesce("a.n_rows", "b.n_rows"))
        .otherwise(F.col("a.n_rows") + F.col("b.n_rows"))
        .alias("n_rows"),
        F.when(one_sided, F.coalesce("a.hll", "b.hll"))
        .otherwise(F.hll_union("a.hll", "b.hll"))
        .alias("hll"),
    )


def distinct_count_estimate(state: DataFrame) -> DataFrame:
    """Materialize the estimate column from a sketch state."""
    return state.select(
        "*", F.hll_sketch_estimate("hll").alias("n_distinct_est")
    )
