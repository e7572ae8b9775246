"""Property-based pins (hypothesis) for the round-6 structures:
Morton portability/roundtrip, CMS never-undercount, bloom
no-false-negative. Each property batches its generated cases into ONE
Spark job (per-example jobs would take minutes)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ts_data_pipeline_spark.operators import bloom, layout, sketch


def _py_morton(xq: int, yq: int, bits: int) -> int:
    code = 0
    for b in range(bits):
        code |= ((xq >> b) & 1) << (2 * b)
        code |= ((yq >> b) & 1) << (2 * b + 1)
    return code


def test_morton_spark_matches_python_and_roundtrips(spark, oracle):
    """The Spark and DuckDB interleave expressions must agree with
    the reference Python interleave on arbitrary quantized coords,
    and the code must decode back to (xq, yq) — bijectivity."""
    pairs: list[tuple[int, int]] = []

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 255), st.integers(0, 255))
    def collect(x, y):
        pairs.append((x, y))

    collect()
    pairs.extend([(0, 0), (255, 255), (0, 255), (255, 0), (1, 128)])

    bits = 8
    code_spark = layout._morton_terms(
        "xq", "yq", bits, layout._SPARK_SHL, layout._SPARK_SHR
    )
    df = spark.createDataFrame(pairs, "xq long, yq long")
    got = {
        (r.xq, r.yq): r.code
        for r in df.withColumn("code", F.expr(code_spark)).collect()
    }
    code_duck = layout._morton_terms(
        "xq", "yq", bits, layout._DUCK_SHL, layout._DUCK_SHR
    )
    for xq, yq in pairs:
        want = _py_morton(xq, yq, bits)
        assert got[(xq, yq)] == want, (xq, yq)
        duck = oracle.execute(
            f"SELECT {code_duck} FROM (SELECT ? AS xq, ? AS yq)", [xq, yq]
        ).fetchone()[0]
        assert duck == want, (xq, yq)
        # decode (bijectivity): de-interleave even/odd bits
        dx = sum(((want >> (2 * b)) & 1) << b for b in range(bits))
        dy = sum(((want >> (2 * b + 1)) & 1) << b for b in range(bits))
        assert (dx, dy) == (xq, yq)


def test_cms_never_undercounts_on_random_corpora(spark):
    """CMS guarantee under adversarial tiny widths: estimates are >=
    exact for EVERY term of a hypothesis-generated corpus."""
    docs: list[str] = []

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=3),
            min_size=1,
            max_size=12,
        )
    )
    def collect(words):
        docs.append(" ".join(words))

    collect()
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    exact = {
        r.term: r.freq
        for r in sketch.exact_heavy_hitters(df, k=100_000).collect()
    }
    est = sketch.count_min_estimates(df, depth=3, width=16, k=100_000)
    rows = est.collect()
    assert {r.term for r in rows} == set(exact)
    for r in rows:
        assert r.freq_cms >= r.freq_exact == exact[r.term], r


def test_bloom_membership_complete_on_random_keys(spark):
    """No false negatives, ever: every inserted key passes the probe
    for hypothesis-generated key sets, across filter widths."""
    keysets: list[list[str]] = []

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="ascii", exclude_characters="'\"\\\x00"
                ),
                max_size=12,
            ),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def collect(ks):
        keysets.append(ks)

    collect()
    # one build over the union; probing the same rows must keep all
    all_keys = sorted({k for ks in keysets for k in ks})
    df = spark.createDataFrame([(k,) for k in all_keys], "k string")
    for num_bits in (256, 65536):
        words = bloom.bloom_build_words(df, "k", num_bits=num_bits)
        kept = bloom.bloom_prune(df, words, "k").count()
        assert kept == len(all_keys), (num_bits, kept, len(all_keys))


def test_stratified_split_exact_for_arbitrary_fracs(spark):
    """Property: for hypothesis-generated fraction vectors and
    stratum shapes, every stratum's split sizes hit the floor
    boundaries exactly and the splits partition the stratum."""
    import math

    from ts_data_pipeline_spark.operators import sampling

    cases: list[tuple[list[int], list[float]]] = []

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(st.integers(1, 40), min_size=1, max_size=4),
        st.lists(st.floats(0.05, 0.9), min_size=1, max_size=3),
    )
    def collect(sizes, raw):
        total = sum(raw) + 0.1  # leave room for the remainder split
        cases.append((sizes, [r / total for r in raw]))

    collect()
    for idx, (sizes, fr) in enumerate(cases[:6]):  # 6 spark runs max
        rows = []
        doc = 0
        for s_i, n in enumerate(sizes):
            for _ in range(n):
                rows.append((doc, f"s{s_i}"))
                doc += 1
        docs = spark.createDataFrame(rows, "doc_id long, source string")
        names = [f"f{i}" for i in range(len(fr))] + ["rest"]
        fracs = dict(zip(names, fr + [1 - sum(fr)]))
        got = sampling.stratified_split(docs, fracs).collect()
        assert len(got) == len(rows), idx
        by: dict = {}
        for r in got:
            by.setdefault(r.stratum, {}).setdefault(r.split, 0)
            by[r.stratum][r.split] += 1
        for s_i, n in enumerate(sizes):
            splits = by.get(f"s{s_i}", {})
            assert sum(splits.values()) == n
            cum = 0.0
            prev_cut = 0
            for name in names[:-1]:
                cum += fracs[name]
                cut = math.floor(n * cum)
                assert splits.get(name, 0) == cut - prev_cut, (
                    idx, s_i, name, splits)
                prev_cut = cut
            assert splits.get("rest", 0) == n - prev_cut


def test_duplicated_spans_superset_cover_property(spark):
    """Property (hypothesis): for ANY pair of random token documents
    that share a planted verbatim run of >= k tokens, BOTH documents
    get a span covering the full planted run (the shingle method is a
    superset cover — no duplicate >= k tokens is ever missed), and no
    span ever extends more than k-1 tokens past a region whose
    shingles are genuinely duplicated. Cases batch into ONE Spark job
    (per-example jobs would take minutes)."""
    import random

    from pyspark.sql import Row

    from ts_data_pipeline_spark.operators import dedup

    k = 3
    cases: list[tuple[int, list[str], int, int]] = []  # (doc_id, toks, plant_at, plant_len)

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(3, 8),    # planted run length (>= k)
        st.integers(0, 6),    # left padding length
        st.integers(0, 6),    # right padding length
        st.integers(0, 10**6),
    )
    def collect(run_len, lpad, rpad, seed):
        rng = random.Random(seed)
        base = len(cases) * 2
        # unique filler tokens per document (seeded uniqueness via the
        # doc index) so only the planted run is shared
        run = [f"shared{seed}tok{j}" for j in range(run_len)]
        a = ([f"a{base}u{j}" for j in range(lpad)] + run
             + [f"a{base}v{j}" for j in range(rpad)])
        b = ([f"b{base}u{j}" for j in range(rpad)] + run
             + [f"b{base}v{j}" for j in range(lpad)])
        cases.append((base, a, lpad, run_len))
        cases.append((base + 1, b, rpad, run_len))

    collect()

    docs = spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(toks)) for d, toks, _, _ in cases]
    )
    spans = {}
    for r in dedup.duplicated_spans(docs, k=k).collect():
        spans.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))

    for doc_id, toks, at, run_len in cases:
        covering = [
            (s, e) for s, e in spans.get(doc_id, [])
            if s <= at and e >= at + run_len - 1
        ]
        assert covering, (doc_id, at, run_len, spans.get(doc_id))
        # bounded overcount: every span edge stays within k-1 tokens
        # of the planted run (the only duplicated content)
        for s, e in spans.get(doc_id, []):
            assert s >= at - (k - 1), (doc_id, s, at)
            assert e <= at + run_len - 1 + (k - 1), (doc_id, e)


def test_queryspec_differential_fuzz(spark, oracle):
    """Differential fuzz of the QuerySpec evaluator (r15, VERDICT r14
    ask #3): ~100 RANDOM valid specs — tag filters x numeric/string
    aggs x group-by-time x interpolation x group-by-tags x
    ordering/paging (reference contract getDataRequest.ts:18-57) —
    each run through plans/queryspec.evaluate AND the generic
    oracle_sql generator, compared row-for-row at sf0.001. The
    enumerated telemetry gates pin the known combinations; this pins
    the cross products nobody enumerated.

    Float compare: 1e-9 relative tolerance, plus a forgiveness
    predicate for EXACTLY the known benign class the fuzz's first run
    surfaced — Linear interpolation of 2-dp data at dyadic bucket
    ratios produces exact decimal half-ties at the shared
    ROUND(...,4) grain (e.g. 82.10125), where each engine's double
    lands on the opposite side (the BENCH_NOTES rounded-division tie
    class). Forgiven iff the two values are ADJACENT 4-dp grid points
    whose midpoint is a half-tie; anything else — wrong rows, NULL
    structure, >1e-4 drift, non-tie 1e-4 drift — still fails.

    Parameter ids are drawn from the data's parameters and from exotic
    names absent from it (both engines return all-NULL or zero-count
    columns under quoted aliases); Equal/NotEqual value lists mix the
    data's tag values with quote, backtick, backslash, %, _ and
    non-ASCII values. Like patterns keep the data's own alphabet: a
    ``\\`` there is a LIKE escape in Spark and a plain character in
    DuckDB, a dialect difference rather than a bug."""
    import numpy as np
    import pandas as pd

    from conftest import SF_DIR, normalize
    from ts_data_pipeline_spark.plans import queryspec as qs
    from ts_data_pipeline_spark.queries.telemetry import PV_SQL, _pv

    params = ["view", "click", "purchase", "signup", "error"]
    exotic = ["it's", 'dq"x', "we`ird", "a.b", "back\\slash", "pct%_x",
              "tempé"]
    param = st.one_of(st.sampled_from(params), st.sampled_from(exotic))
    num_aggs = ["Mean", "Max", "Min", "First", "Last", "Sum", "Count",
                "Median", "Spread", "CountDistinct", "P90", "P99"]
    str_aggs = ["First", "Last", "Count"]
    durations = ["5 minutes", "15 minutes", "30 minutes", "1 hour",
                 "2 hours", "3 hours", "6 hours", "12 hours", "1 day"]
    interps = ["None", "Null", "Previous", "Linear"]

    def spec_strategy():
        day = st.integers(1, 29)
        ts_pair = st.tuples(day, day).filter(lambda p: p[0] < p[1]).map(
            lambda p: (f"2024-01-{p[0]:02d} 00:00:00",
                       f"2024-01-{p[1]:02d} 00:00:00")
        )
        tagval = st.one_of(st.integers(0, 99).map(str),
                           st.sampled_from(exotic))
        tag_filter = st.one_of(
            st.tuples(st.sampled_from(["Equal", "NotEqual"]), tagval)
            .map(lambda t: qs.TagFilter("k", t[0], t[1])),
            st.tuples(st.sampled_from(["Equal", "NotEqual"]),
                      st.lists(tagval, min_size=1, max_size=4))
            .map(lambda t: qs.TagFilter("k", t[0], t[1])),
            st.tuples(st.sampled_from(["Like", "NotLike"]),
                      st.sampled_from(["9%", "1%", "%3", "%7%", "4_"]))
            .map(lambda t: qs.TagFilter("k", t[0], t[1])),
        )
        naggs = st.lists(
            st.tuples(param, st.sampled_from(num_aggs)),
            min_size=1, max_size=4, unique=True,
        ).map(lambda l: [qs.NumericAggregation(p, a) for p, a in l])
        saggs = st.lists(
            st.tuples(param, st.sampled_from(str_aggs)),
            min_size=0, max_size=2, unique=True,
        ).map(lambda l: [qs.StringAggregation(p, a) for p, a in l])
        streams = st.one_of(
            st.none(),
            st.lists(st.integers(0, 20).map(str), min_size=1,
                     max_size=5, unique=True),
        )
        gbt = st.one_of(
            st.none(),
            st.tuples(st.sampled_from(durations), st.sampled_from(interps))
            .map(lambda t: qs.GroupByTime(*t)),
        )

        def build(draw_tuple):
            (na, sa, ts_rng, sids, tfs, g, tags, want_order, page) = draw_tuple
            from_ts, to_ts = ts_rng
            orderings = []
            paging = None
            if g is not None and want_order:
                orderings = [qs.Ordering("bucket", "Desc" if page else "Asc")]
                if tags:
                    orderings.append(qs.Ordering("tag_k", "Asc"))
                if page is not None:
                    paging = qs.Paging(*page)
            return qs.QuerySpec(
                numeric_aggregations=na,
                string_aggregations=sa,
                from_ts=from_ts,
                to_ts=to_ts,
                stream_ids=sids,
                tag_filters=tfs,
                group_by_time=g,
                group_by_tags=["k"] if tags else [],
                orderings=orderings,
                paging=paging,
            )

        return st.tuples(
            naggs, saggs, ts_pair, streams,
            st.lists(tag_filter, max_size=2),
            gbt, st.booleans(), st.booleans(),
            st.one_of(st.none(),
                      st.tuples(st.integers(0, 2), st.integers(1, 40))),
        ).map(build)

    # raw passthrough specs ('None' aggregation, no bucketing)
    def raw_strategy():
        return st.tuples(
            st.lists(param, min_size=1, max_size=3, unique=True),
            st.booleans(),
            st.integers(1, 29),
        ).map(lambda t: qs.QuerySpec(
            numeric_aggregations=[
                qs.NumericAggregation(p, "None") for p in t[0]
            ],
            string_aggregations=(
                [qs.StringAggregation(t[0][0], "None")] if t[1] else []
            ),
            from_ts=f"2024-01-{t[2]:02d} 00:00:00",
            group_by_tags=["k"] if t[1] else [],
        ))

    specs: list = []

    @settings(max_examples=90, deadline=None)
    @given(spec_strategy())
    def collect(s):
        specs.append(s)

    @settings(max_examples=10, deadline=None)
    @given(raw_strategy())
    def collect_raw(s):
        specs.append(s)

    collect()
    collect_raw()

    pv = _pv(spark, SF_DIR)
    failures = []
    for i, spec in enumerate(specs):
        sdf = qs.evaluate(pv, spec).toPandas()
        odf = oracle.execute(
            qs.oracle_sql(spec, PV_SQL.strip())
        ).df()
        a, b = normalize(sdf), normalize(odf)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            for c in a.columns:
                av, bv = a[c], b[c]
                if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                    x = av.astype(float).to_numpy()
                    y = bv.astype(float).to_numpy()
                    close = np.isclose(x, y, rtol=1e-9, atol=1e-9,
                                       equal_nan=True)
                    d = np.abs(x - y)
                    m2 = (x + y) * 1e4  # odd integer at a half-tie
                    with np.errstate(invalid="ignore"):
                        tie = (
                            (np.abs(d - 1e-4) < 1e-9)
                            & (np.abs(m2 - np.round(m2)) < 1e-6)
                            & (np.nan_to_num(np.round(m2)) % 2 == 1)
                        )
                    ok &= bool(np.all(close | tie))
                else:
                    ok &= av.where(av.notna(), None).equals(
                        bv.where(bv.notna(), None)
                    )
                if not ok:
                    break
        if not ok:
            failures.append((i, spec))
    assert not failures, (
        f"{len(failures)}/{len(specs)} diverged; first: {failures[0]}"
    )
