"""Trade enrichment expressions (reference operators P1-P17).

Each function mirrors one per-record transform from the reference's
Python services, re-expressed as a pure ``Column`` so Catalyst can
fold, prune, and pipeline it (the reference applies these
row-at-a-time in hand-written callbacks).

Reference citations are per-function; thresholds carry the
reference's literal values and callers scale them to their data
(FIXTURES.md maps the 75k/250k/1M premium cutoffs onto the driver
tables' value range as 75/250/400).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Premium buckets — /root/reference/option_trades/utils.py:94-100.
LARGE_TRADE_THRESHOLD = 75_000.0
WHALE_THRESHOLD = 250_000.0
MILLIONAIRE_THRESHOLD = 1_000_000.0


def position_type(tags: Column, otype: Column) -> Column:
    """P3 — position-type tag: long_/short_/neutral_/no_side_ + otype.

    /root/reference/option_trades/utils.py:84-91,99: the prefix is
    derived from tag membership, in priority order — ask_side ->
    long_, bid_side -> short_, an explicit ``no_side`` tag ->
    neutral_, and NO side tag at all -> no_side_ (the default).
    The neutral_/no_side_ distinction matters: a trade the venue
    explicitly marked sideless reads differently from one whose side
    simply wasn't reported.
    """
    prefix = (
        F.when(F.array_contains(tags, "ask_side"), F.lit("long_"))
        .when(F.array_contains(tags, "bid_side"), F.lit("short_"))
        .when(F.array_contains(tags, "no_side"), F.lit("neutral_"))
        .otherwise(F.lit("no_side_"))
    )
    return F.concat(prefix, otype)


def premium_bucket_tags(premium: Column,
                        large: float = LARGE_TRADE_THRESHOLD,
                        whale: float = WHALE_THRESHOLD,
                        millionaire: float = MILLIONAIRE_THRESHOLD) -> Column:
    """P4 — premium bucket tags as an array column.

    large_trade (>large), whale (whale..millionaire), millionaire
    (>millionaire) — /root/reference/option_trades/utils.py:94-100.
    Returns ARRAY<STRING> with nulls compacted out.
    """
    return F.array_compact(
        F.array(
            F.when(premium > large, F.lit("large_trade")),
            F.when((premium > whale) & (premium <= millionaire), F.lit("whale")),
            F.when(premium > millionaire, F.lit("millionaire")),
        )
    )


def merge_tags(*tag_arrays: Column) -> Column:
    """P6 — tag merge (tags.extend(report_flags)).

    /root/reference/option_trades/utils.py:81-83. Plain concat —
    the reference keeps duplicates, so no array_union here.
    """
    return F.concat(*tag_arrays)


def darkpool_side(price: Column, bid: Column, ask: Column) -> Column:
    """P8 — nearest-of-NBBO side classification.

    Closer to bid -> 'S', closer to ask -> 'B', tie -> 'N'
    (/root/reference/darkpool_trades/main.py:71-78, Decimal math —
    works unchanged on DecimalType columns here).
    """
    d_bid = F.abs(price - bid)
    d_ask = F.abs(price - ask)
    return (
        F.when(d_bid < d_ask, F.lit("S"))
        .when(d_bid > d_ask, F.lit("B"))
        .otherwise(F.lit("N"))
    )


def side_confidence(price: Column, bid: Column, ask: Column) -> Column:
    """P9 — sigmoid side-confidence score in [-1, 1].

    ``2*sigmoid((p-mid)/(ask-bid)) - 1``
    (/root/reference/darkpool_trades/main.py:80-86). Pure closed-form
    expression — no UDF.
    """
    mid = (bid + ask) / 2
    z = (price - mid) / (ask - bid)
    return F.lit(2.0) / (F.lit(1.0) + F.exp(-z)) - F.lit(1.0)


def sentiment_from_side(side: Column) -> Column:
    """P10 — sentiment tag from side: B->bullish, S->bearish, N->neutral.

    /root/reference/darkpool_trades/main.py:109-117.
    """
    return (
        F.when(side == "B", F.lit("sentiment:bullish"))
        .when(side == "S", F.lit("sentiment:bearish"))
        .otherwise(F.lit("sentiment:neutral"))
    )


def condition_tags(*conds: Column) -> Column:
    """P10 — ``condition:<code>`` tag per non-null condition field.

    /root/reference/darkpool_trades/main.py:104-108.
    """
    return F.array_compact(
        F.array(*[F.when(c.isNotNull(), F.concat(F.lit("condition:"), c.cast("string")))
                  for c in conds])
    )


def deterministic_key(*parts: Column) -> Column:
    """P11 — sha256 hex digest of concatenated fields as message key.

    /root/reference/darkpool_trades/main.py:88-92.
    """
    return F.sha2(F.concat_ws("", *[p.cast("string") for p in parts]), 256)
