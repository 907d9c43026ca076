"""Property-based invariants (SURVEY §5): OHLC sanity, resample volume
conservation, upsert idempotency, dedup stability — on generated series.

One shared SparkSession (conftest), small generated frames, bounded
examples: each property runs a handful of Spark jobs, not hundreds.
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.resample import ohlc_resample
from global_stock_data_warehouse_spark.operators.upsert import dedup_last_writer

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from global_stock_data_warehouse_spark.session import get_spark

        _spark = get_spark("gsdw-props")
    return _spark


bars_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=120),  # day offset from 2024-01-01
        st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _mk_bars(rows):
    base = dt.date(2024, 1, 1)
    data = [
        (sym, base + dt.timedelta(days=off), float(px), float(px), float(px), float(px), 1)
        for sym, off, px in rows
    ]
    return _get_spark().createDataFrame(
        data,
        "symbol string, date date, open double, high double, low double, "
        "close double, volume bigint",
    )


@given(bars_strategy)
@SLOW
def test_resample_ohlc_invariants(rows):
    bars = _mk_bars(rows)
    for freq in ("W", "M"):
        out = ohlc_resample(bars, freq).collect()
        for r in out:
            assert r.low <= r.open <= r.high
            assert r.low <= r.close <= r.high
        # volume conservation: buckets partition the rows
        assert sum(r.volume for r in out) == len(rows)
        # bucket labels are canonical period ENDS
        for r in out:
            if freq == "W":
                assert r.period_end.isoweekday() == 5  # Friday
            else:
                nxt = r.period_end + dt.timedelta(days=1)
                assert nxt.day == 1  # last day of month
        # label never precedes its members: the earliest label covers the
        # earliest raw date, the latest label the latest raw date
        min_d = min(r.date for r in _mk_bars(rows).select("date").collect())
        assert all(r.period_end >= min_d for r in out)


@given(bars_strategy)
@SLOW
def test_dedup_last_writer_is_idempotent_and_keyed(rows):
    df = _mk_bars(rows).withColumn("_v", F.col("volume"))
    once = dedup_last_writer(df, ("symbol", "date"), "close")
    # exactly one row per key
    n_keys = df.select("symbol", "date").distinct().count()
    assert once.count() == n_keys
    # applying again changes nothing
    twice = dedup_last_writer(once, ("symbol", "date"), "close")
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))
    # winner is the max close per key
    max_close = {
        (r.symbol, r.date): r.mx
        for r in df.groupBy("symbol", "date").agg(F.max("close").alias("mx")).collect()
    }
    for r in once.collect():
        assert r.close == max_close[(r.symbol, r.date)]


docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
    ),
    min_size=1,
    max_size=15,
)


@given(docs_strategy)
@SLOW
def test_pack_sequences_invariants(rows):
    """Packing conservation: within each shard, consecutive docs tile the
    token stream — doc i+1 starts exactly where doc i ended, spans cover
    ceil(tokens/ctx) windows, and cum equals the running token total."""
    from global_stock_data_warehouse_spark.operators.corpus import pack_sequences

    spark = _get_spark()
    data = [(i, " ".join(toks), shard) for i, (shard, toks) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, text string, source string")
    out = sorted(
        pack_sequences(df, ctx_len=5).collect(), key=lambda r: (r.source, r.doc_id)
    )
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.source, []).append(r)
    for shard, rs in by_shard.items():
        run = 0
        for r in rs:
            assert r.cum_tokens == run + r.n_tokens
            assert r.seq_first == run // 5
            assert r.seq_last == max((run + r.n_tokens - 1) // 5, r.seq_first)
            assert r.n_seqs == r.seq_last - r.seq_first + 1
            run += r.n_tokens


@given(docs_strategy)
@SLOW
def test_decontaminate_marks_exactly_eval_overlaps(rows):
    """A doc is contaminated iff it shares a bigram with the eval split —
    checked against a pure-python reimplementation."""
    from global_stock_data_warehouse_spark.operators.corpus import decontaminate

    spark = _get_spark()
    data = [(i, " ".join(toks)) for i, (_, toks) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    train = df.filter("doc_id % 3 != 0")
    ev = df.filter("doc_id % 3 = 0")

    def bigrams(text):
        t = text.split()
        return {" ".join(t[i : i + 2]) for i in range(len(t) - 1)}

    ev_grams = set().union(*(bigrams(t) for i, t in data if i % 3 == 0)) if data else set()
    expect = {
        i: len(bigrams(t) & ev_grams) for i, t in data if i % 3 != 0
    }
    got = {r.doc_id: r.n_collisions for r in decontaminate(train, ev, n=2).collect()}
    assert got == expect


def test_sql_view_surface(spark):
    """register_views exposes every table to spark.sql, with the same
    column types the queries see."""
    import os

    from global_stock_data_warehouse_spark.sources.registry import register_views

    register_views(spark, os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001"))
    row = spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY n DESC LIMIT 1
        """
    ).first()
    assert row.n > 0
    # one reader: events.ts is session-tz TIMESTAMP whatever the parquet
    # generation on disk (NTZ micros here), so ts.cast('long') works
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


# ---------------------------------------------------------------------------
# Behavioral-analytics invariants
# ---------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),     # user_id
        st.integers(min_value=0, max_value=40),    # day offset
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=40,
)


def _mk_events(rows):
    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(days=d, minutes=i), t)
        for i, (u, d, t) in enumerate(rows)
    ]
    return _get_spark().createDataFrame(
        data, ["event_id", "user_id", "ts", "event_type"]
    )


@given(events_strategy)
@SLOW
def test_transition_rows_normalize_to_one(rows):
    from global_stock_data_warehouse_spark.operators.behavior import event_transitions

    out = event_transitions(_mk_events(rows)).collect()
    by_from = {}
    for r in out:
        by_from.setdefault(r.from_type, []).append(r)
    for from_type, grp in by_from.items():
        assert abs(sum(r.p for r in grp) - 1.0) < 1e-4, from_type
        # n-weighted: p == n / total(from_type) at 6dp
        total = sum(r.n for r in grp)
        for r in grp:
            assert abs(r.p - r.n / total) < 1e-6


@given(events_strategy)
@SLOW
def test_cohort_offset_zero_covers_every_user(rows):
    from global_stock_data_warehouse_spark.operators.behavior import cohort_retention

    ev = _mk_events(rows)
    out = cohort_retention(ev, period_days=7).collect()
    n_users = ev.select("user_id").distinct().count()
    # every user is active at their own offset 0, cohorts partition users
    assert sum(r.n_users for r in out if r.period_offset == 0) == n_users
    # retention never exceeds the cohort's own size
    cohort0 = {r.cohort_start: r.n_users for r in out if r.period_offset == 0}
    for r in out:
        assert r.n_users <= cohort0[r.cohort_start], r


@given(events_strategy)
@SLOW
def test_hopping_window_conserves_events(rows):
    from global_stock_data_warehouse_spark.operators.behavior import hopping_window_agg

    ev = _mk_events(rows).withColumn("value", F.lit(1.0))
    out = hopping_window_agg(ev, size="14 days", slide="7 days").collect()
    # size/slide = 2: every event lands in exactly two windows
    assert sum(r.n_events for r in out) == 2 * len(rows)
    assert all(r.n_events >= 1 for r in out)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)),
    min_size=1,
    max_size=40,
)


@given(edges_strategy)
@SLOW
def test_triangle_count_matches_brute_force(pairs):
    from itertools import combinations

    from global_stock_data_warehouse_spark.operators.graph import triangle_count

    spark = _get_spark()
    df = spark.createDataFrame(pairs, ["src", "dst"])
    out = {r.node: r.n_triangles for r in triangle_count(df, k=100).collect()}

    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = {v for e in und for v in e}
    expected: dict[int, int] = {}
    for u, v, w in combinations(sorted(nodes), 3):
        if {(u, v), (u, w), (v, w)} <= und:
            for x in (u, v, w):
                expected[x] = expected.get(x, 0) + 1
    assert out == expected


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=24), min_size=1, max_size=8))
@SLOW
def test_remove_duplicate_spans_conservation(texts):
    from global_stock_data_warehouse_spark.operators.corpus import (
        remove_duplicate_spans,
    )

    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = remove_duplicate_spans(df, n=2, min_count=2).collect()
    assert len(out) == len(texts)
    by_id = {r.doc_id: r for r in out}
    for i, t in enumerate(texts):
        toks = t.split()
        r = by_id[i]
        kept = r.clean_text.split() if r.clean_text else []
        # conservation: kept + removed == original token count
        assert len(kept) + r.n_removed == len(toks)
        assert 0 <= r.n_removed <= len(toks)
        # kept tokens are a subsequence of the original token stream
        it = iter(toks)
        assert all(any(tok == o for o in it) for tok in kept)


@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.text(alphabet="xy ", min_size=1, max_size=20)),
        min_size=1,
        max_size=10,
    )
)
@SLOW
def test_source_kl_is_nonnegative_gibbs(rows):
    from global_stock_data_warehouse_spark.operators.corpus import (
        source_kl_divergence,
    )

    spark = _get_spark()
    data = [(i, t, src) for i, (src, t) in enumerate(rows) if t.strip()]
    if not data:
        return
    df = spark.createDataFrame(data, ["doc_id", "text", "source"])
    out = source_kl_divergence(df).collect()
    # Gibbs' inequality: KL(p || q) >= 0 for every source (the 1e-9
    # fixed-point quantization can dip a true 0 by at most one grid step)
    assert all(r.kl_nats >= -1e-8 for r in out)
    # a lone source IS the corpus -> exactly zero
    srcs = {s for s, _ in rows}
    if len(srcs) == 1 and out:
        assert out[0].kl_nats == 0.0


@given(
    st.lists(
        st.lists(st.floats(-50, 50, allow_nan=False, width=32), min_size=3, max_size=3),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_quantize_embeddings_bounds_and_extremes(vecs):
    from global_stock_data_warehouse_spark.operators.similarity import (
        quantize_embeddings,
    )

    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    out = quantize_embeddings(df).collect()
    assert len(out) == 3 * len(vecs)
    by_dim: dict[int, list] = {}
    for r in out:
        assert 0 <= r.code <= 255
        by_dim.setdefault(r.dim, []).append((r.vec_id, r.code))
    # per dim: the min value must encode to 0 and the max to 255 (or the
    # dim is constant and everything is 0)
    for d, pairs in by_dim.items():
        codes = [c for _, c in pairs]
        vals = [vecs[i][d] for i, _ in pairs]
        if min(vals) == max(vals):
            assert set(codes) == {0}
        else:
            assert min(codes) == 0 and max(codes) == 255


@given(
    n_shared=st.integers(min_value=0, max_value=80),
    n_a=st.integers(min_value=0, max_value=60),
    n_b=st.integers(min_value=0, max_value=60),
)
@SLOW
def test_kmv_overlap_error_envelope(n_shared, n_a, n_b):
    """Beyer et al. 2007 error envelope for the KMV Jaccard estimator,
    quantitatively: with a merged sketch of size k the intersection count
    is hypergeometric, so |est - J| <= 5*sqrt(J(1-J)/k) + 1/k (failure
    probability < 1e-6 per draw); with union <= k the sketch IS the union
    and the estimate must be exact. Hypothesis drives the vocabulary
    structure through disjoint (J=0), nested (B subset of A), identical
    (J=1), and generic-overlap regimes.
    """
    import math

    from global_stock_data_warehouse_spark.operators.corpus import (
        source_overlap_kmv,
    )

    if n_shared + n_a == 0 or n_shared + n_b == 0:
        return  # a tokenless source contributes no sketch — nothing to test
    spark = _get_spark()
    vocab_a = [f"s{i}" for i in range(n_shared)] + [f"a{i}" for i in range(n_a)]
    vocab_b = [f"s{i}" for i in range(n_shared)] + [f"b{i}" for i in range(n_b)]
    df = spark.createDataFrame(
        [(0, " ".join(vocab_a), "sa"), (1, " ".join(vocab_b), "sb")],
        "doc_id long, text string, source string",
    )
    k = 64
    rows = source_overlap_kmv(df, k=k).collect()
    assert len(rows) == 1
    est = rows[0].est_jaccard
    union = n_shared + n_a + n_b
    j = n_shared / union
    if union <= k:
        assert abs(est - j) < 1e-6  # whole union in the sketch -> exact
    else:
        sigma = math.sqrt(j * (1.0 - j) / k)
        assert abs(est - j) <= 5.0 * sigma + 1.0 / k


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@SLOW
def test_collocations_conserve_pair_volume(docs, window):
    """Total pair count over all emitted (a,b) groups must equal the exact
    per-doc combinatorial volume sum_docs sum_i min(window, len-1-i) —
    no pair lost, none double-counted, none crossing documents."""
    from global_stock_data_warehouse_spark.operators.corpus import collocations

    spark = _get_spark()
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = collocations(df, window=window, min_count=1, k=1_000_000).collect()
    expected = sum(
        min(window, len(toks) - 1 - i)
        for toks in docs
        for i in range(len(toks))
    )
    assert sum(r.n for r in out) == expected


@given(edges_strategy)
@SLOW
def test_leakage_safe_split_component_coherent(pairs):
    """PROPERTY: under any pair graph, two docs connected by ANY path get
    the same split AND the same group_key (= their component min); docs
    with no edges get group_key == their own id. (The classic leakage bug
    is exactly a transitive pair straddling train/test.)"""
    from global_stock_data_warehouse_spark.operators.corpus import leakage_safe_split

    spark = _get_spark()
    docs = spark.range(12).select(F.col("id").alias("doc_id"))
    real = [(a, b) for a, b in pairs if a != b]
    if not real:
        real = [(0, 1)]
    pf = spark.createDataFrame(real, "id_a long, id_b long")
    out = {r.doc_id: r for r in leakage_safe_split(docs, pf).collect()}
    assert len(out) == 12

    # driver-side union-find ground truth
    parent = list(range(12))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in range(12)}
    linked = {v for e in real for v in e}
    for i in range(12):
        expected_key = comp[i] if i in linked else i
        assert out[i].group_key == expected_key, (i, out[i])
        assert out[i].split == out[expected_key].split


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ),
    min_size=1,
    max_size=25,
)


@given(edges_strategy)
@SLOW
def test_link_prediction_matches_bruteforce(rows):
    """Distributed common-neighbors link prediction == a python
    brute-force over the same canonical undirected graph (counts, degree
    attribution, adjacency exclusion, jaccard)."""
    from global_stock_data_warehouse_spark.operators.graph import link_prediction

    spark = _get_spark()
    edges = spark.createDataFrame(rows, "src int, dst int")
    got = {
        (r.u, r.v): (r.common_neighbors, r.deg_u, r.deg_v, r.jaccard)
        for r in link_prediction(edges, k=1000, min_common=1).collect()
    }
    # brute force
    und = {(min(a, b), max(a, b)) for a, b in rows if a != b}
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in und:
                continue
            cn = len(nbrs[u] & nbrs[v])
            if cn >= 1:
                j = round(cn / (len(nbrs[u]) + len(nbrs[v]) - cn), 6)
                want[(u, v)] = (cn, len(nbrs[u]), len(nbrs[v]), j)
    assert got == want


values_strategy = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 30)),
    min_size=2,
    max_size=40,
)


@given(values_strategy)
@SLOW
def test_ks_drift_matches_bruteforce_ecdf(rows):
    """ks_d equals the brute-force max ECDF gap vs the pool; always in
    [0, 1]; a group identical to the pool scores 0."""
    from global_stock_data_warehouse_spark.operators.profile import ks_drift

    spark = _get_spark()
    df = spark.createDataFrame(rows, "source string, n_chars int")
    got = {r.source: r.ks_d for r in ks_drift(df).collect()}
    vals = sorted({v for _, v in rows})
    n_total = len(rows)
    for grp in {g for g, _ in rows}:
        sample = [v for g, v in rows if g == grp]
        d = max(
            abs(
                sum(1 for x in sample if x <= v) / len(sample)
                - sum(1 for _, x in rows if x <= v) / n_total
            )
            for v in vals
        )
        assert abs(got[grp] - round(d, 6)) <= 1e-9
        assert 0.0 <= got[grp] <= 1.0


pps_strategy = st.lists(
    st.integers(min_value=0, max_value=500),  # weights incl. zeros
    min_size=1,
    max_size=60,
)


@given(pps_strategy, st.integers(min_value=1, max_value=40))
@SLOW
def test_pps_systematic_madow_guarantee(weights, k):
    """Madow systematic-sampling guarantee, property-tested: total
    multiplicity is EXACTLY k, and every doc's pick count is within the
    floor/ceil bracket of its proportional share w*k/T (the defining
    property of systematic PPS — no doc can be over- or under-sampled
    by a full stride)."""
    from global_stock_data_warehouse_spark.operators.corpus import (
        pps_systematic_sample,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        list(enumerate(weights)), "doc_id long, n_chars long"
    )
    out = {r.doc_id: r.n_picks for r in pps_systematic_sample(df, k=k).collect()}
    total = sum(w for w in weights if w and w > 0)
    if total == 0:
        assert out == {}
        return
    assert sum(out.values()) == k
    for doc_id, w in enumerate(weights):
        share = (w or 0) * k / total
        picks = out.get(doc_id, 0)
        assert math.floor(share) <= picks <= math.ceil(share), (
            doc_id, w, k, total, picks, share,
        )


# --- r9: split adjustment recovers injected splits exactly -------------------

split_series_strategy = st.tuples(
    st.lists(
        st.floats(min_value=50.0, max_value=200.0, allow_nan=False),
        min_size=3,
        max_size=12,
    ),
    st.lists(st.sampled_from([2, 3, 4, 5]), min_size=0, max_size=3),
)


@given(split_series_strategy)
@SLOW
def test_split_adjustment_recovers_injected_splits(data):
    """Inject exact k:1 splits into a smooth series; the operator must
    recover every injected ratio and the exact cumulative factor, and
    the adjusted series must be free of split-band jumps."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        split_adjusted_prices,
    )

    base_vals, ratios = data
    spark = _get_spark()
    # Build the underlying series INLINE so both guarantees hold at
    # once: (a) a split day's raw value is pinned to the previous day's
    # (a split is only detectable when the price is continuous across
    # it), and (b) every OTHER day's move is clamped inside [1/1.5,
    # 1.5x] RELATIVE TO THE PINNED NEIGHBOR — clamping before pinning
    # let a post-split day sit 1.96x below the pinned value and fire a
    # spurious 2:1 detection (hypothesis found it).
    split_days = {1 + 2 * j: ratios[j] for j in range(len(ratios)) if 1 + 2 * j < len(base_vals)}
    vals = [base_vals[0]]
    for i, v in enumerate(base_vals[1:], start=1):
        prev = vals[-1]
        if i in split_days:
            vals.append(prev)  # flat across the split
        else:
            vals.append(min(max(v, prev / 1.5), prev * 1.5))
    factor = 1
    out_vals = []
    split_at = {}
    for i, v in enumerate(vals):
        if i in split_days:
            k = split_days[i]
            factor *= k
            split_at[i] = k
        out_vals.append(v / factor)
    rows = [
        (1, i, dt.datetime(2024, 1, 1 + i, 12), float(v))
        for i, v in enumerate(out_vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    got = split_adjusted_prices(daily_close(df)).orderBy("d").collect()
    for i, r in enumerate(got):
        want_ratio = split_at.get(i, 1)
        assert r.split_ratio == want_ratio, (i, out_vals)
    # cumulative factor at the first row == product of all injected ratios
    total = 1
    for k in split_at.values():
        total *= k
    assert got[0].adj_factor == total
    # backward adjustment maps every bar onto the LATEST price scale:
    # adj(i) = underlying(i) / total_factor — i.e. the adjusted series
    # is the smooth underlying series, uniformly rescaled (continuous
    # across every split)
    for i, r in enumerate(got):
        want = vals[i] / total
        assert abs(r.adj_close - want) < 1e-4 * max(1.0, want)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # entity
            st.integers(min_value=0, max_value=5),  # day
            st.floats(min_value=1.0, max_value=500.0, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
@SLOW
def test_index_return_matches_pandas_oracle(rows):
    """index_daily_return == a pandas recomputation of the same
    fixed-point weighted mean on arbitrary small bar sets."""
    import pandas as pd

    from global_stock_data_warehouse_spark.operators.pricing import (
        index_daily_return,
    )
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1 + day, 12), float(v))
        for i, (u, day, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id long, event_id long, ts timestamp, value double"
    )
    got = {r.d: r for r in index_daily_return(daily_close(df)).collect()}

    # pandas oracle: same daily-close (last by ts,event_id), same fixed point
    pdf = pd.DataFrame(bars, columns=["u", "e", "ts", "v"])
    pdf["d"] = pdf["ts"].dt.date
    daily = (
        pdf.sort_values(["ts", "e"]).groupby(["u", "d"], as_index=False).last()
    )
    import math

    per_date = {}
    for u, g in daily.groupby("u"):
        g = g.sort_values("d")
        w = max(1, math.floor(g["v"].iloc[0] + 0.5))
        prev = None
        for _, row in g.iterrows():
            if prev is not None and prev > 0:
                ret_fx = math.floor((row["v"] / prev - 1.0) * 1e6 + 0.5)
                per_date.setdefault(row["d"], []).append((w, ret_fx))
            prev = row["v"]
    for d, legs in per_date.items():
        num = sum(w * r for w, r in legs)
        den = sum(w for w, _ in legs)
        want = math.floor(num / den / 1e6 * 1e6 + 0.5) / 1e6
        assert got[d].n_members == len(legs)
        assert got[d].index_return == want, (d, legs)
    assert set(got) == set(per_date)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=60),
            st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_underwater_spells_matches_pandas_oracle(rows):
    """r10: underwater_spells == a pandas recomputation (close < running
    cummax, run-length encoded) on arbitrary small bar sets — the
    strict-compare + change-flag pipeline has no float rounding to hide
    behind, so the match must be exact."""
    import pandas as pd

    from global_stock_data_warehouse_spark.operators.pricing import (
        underwater_spells,
    )
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=day), float(v))
        for i, (u, day, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id string, event_id long, ts timestamp, value double"
    )
    got = {r.user_id: r for r in underwater_spells(daily_close(df)).collect()}

    pdf = pd.DataFrame(bars, columns=["u", "e", "ts", "v"])
    pdf["d"] = pdf["ts"].dt.date
    daily = pdf.sort_values(["ts", "e"]).groupby(["u", "d"], as_index=False).last()
    for u, g in daily.groupby("u"):
        g = g.sort_values("d")
        uw = (g["v"] < g["v"].cummax()).tolist()
        n_days = sum(uw)
        spells, longest, run = 0, 0, 0
        prev = None
        for flag in uw:
            if flag:
                run = run + 1 if prev else 1
                if run == 1:
                    spells += 1
                longest = max(longest, run)
            else:
                run = 0
            prev = flag
        assert got[u].n_underwater_days == n_days, (u, uw)
        assert got[u].n_spells == spells, (u, uw)
        assert got[u].longest_spell == longest, (u, uw)
    assert set(got) == set(daily["u"])


@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, 2]),
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=23),
            st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_volume_profile_conserves_dollars_and_shares(rows):
    """r11: volume_profile_by_hour conserves total (floored) dollars
    across hours, keeps every share in [0, 1], and the shares sum to <=
    1 with deficit bounded by the per-hour flooring (24 * 1e-6). Events
    land at arbitrary hours to exercise every clock bucket."""
    import math

    from global_stock_data_warehouse_spark.operators.pricing import (
        volume_profile_by_hour,
    )

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1, hour, 5) + dt.timedelta(days=day), float(v))
        for i, (u, day, hour, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id long, event_id long, ts timestamp, value double"
    )
    out = volume_profile_by_hour(df).collect()
    assert len(out) <= 24
    # per-hour floored-cents oracle
    cents = {}
    for u, day, hour, v in rows:
        cents[hour] = cents.get(hour, 0) + math.floor(v * 100 + 0.5)
    total_dollars = sum(c // 100 for c in cents.values())
    assert {r.hour_of_day for r in out} == set(cents)
    for r in out:
        want_c = cents[r.hour_of_day]
        assert r.n_events == sum(1 for _, _, h, _ in rows if h == r.hour_of_day)
        assert r.dollar_volume == math.floor(want_c / 100.0 * 1e4 + 0.5) / 1e4
        if total_dollars == 0:
            assert r.volume_share is None
        else:
            assert 0.0 <= r.volume_share <= 1.0
    if total_dollars > 0:
        s = sum(r.volume_share for r in out)
        assert s <= 1.0 + 1e-9 and s >= 1.0 - 24e-6 - 1e-9, s


@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, 2, 3]),
            st.integers(min_value=0, max_value=90),
            st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_calendar_coverage_bounds(rows):
    """r11: trading_calendar_coverage keeps 0 < coverage <= 1,
    n_days <= n_expected, n_expected <= |market calendar|, and a
    single-bar entity is always complete (span 1/1)."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        trading_calendar_coverage,
    )
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=day), float(v))
        for i, (u, day, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id long, event_id long, ts timestamp, value double"
    )
    n_cal = len({(day) for _, day, _ in rows})
    days_per_user = {}
    for u, day, _ in rows:
        days_per_user.setdefault(u, set()).add(day)
    out = {r.user_id: r for r in trading_calendar_coverage(daily_close(df)).collect()}
    assert set(out) == set(days_per_user)
    for u, r in out.items():
        assert r.n_days == len(days_per_user[u])
        assert r.n_days <= r.n_expected <= n_cal
        assert 0.0 < r.coverage <= 1.0
        if r.n_days == r.n_expected:
            assert r.coverage == 1.0 and r.is_complete == 1


@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, 2]),
            st.integers(min_value=0, max_value=90),
            st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
@SLOW
def test_turn_of_month_partitions_return_days(rows):
    """r11: turn_of_month buckets partition the return-day population —
    bucket n_obs sums to the total number of (entity, day) legs with a
    positive previous close, and up_share stays in [0, 1]."""
    from global_stock_data_warehouse_spark.operators.pricing import (
        turn_of_month_effect,
    )
    from global_stock_data_warehouse_spark.operators.timeseries import daily_close

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=day), float(v))
        for i, (u, day, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id long, event_id long, ts timestamp, value double"
    )
    days_per_user = {}
    for u, day, _ in rows:
        days_per_user.setdefault(u, set()).add(day)
    n_return_days = sum(len(d) - 1 for d in days_per_user.values())
    out = turn_of_month_effect(daily_close(df)).collect()
    assert sum(r.n_obs for r in out) == n_return_days
    for r in out:
        assert r.month_bucket in {"first3", "last3", "middle"}
        assert 0.0 <= r.up_share <= 1.0


@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, 2]),
            st.integers(min_value=0, max_value=60),
            st.floats(min_value=0.5, max_value=1000.0, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
@SLOW
def test_amihud_matches_pandas_oracle(rows):
    """r11: amihud_illiquidity == a pandas recomputation of the same
    fixed-point pipeline (max_by daily close, floored-cents dollar
    volume, winsorized basis-point returns, one bigint floor-division
    per day) on arbitrary small bar sets — every intermediate is an
    exact integer, so the match must be bit-exact."""
    import math

    from global_stock_data_warehouse_spark.operators.pricing import (
        amihud_illiquidity,
    )

    spark = _get_spark()
    bars = [
        (u, i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=day), float(v))
        for i, (u, day, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        bars, "user_id long, event_id long, ts timestamp, value double"
    )
    got = {r.user_id: r for r in amihud_illiquidity(df).collect()}

    # pandas-free oracle: pure-python recomputation
    per_user_day = {}
    for u, eid, ts, v in bars:
        d = ts.date()
        rec = per_user_day.setdefault((u, d), {"close": None, "key": None, "cents": 0})
        if rec["key"] is None or (ts, eid) > rec["key"]:
            rec["key"], rec["close"] = (ts, eid), v
        rec["cents"] += math.floor(v * 100 + 0.5)
    want = {}
    by_user = {}
    for (u, d), rec in per_user_day.items():
        by_user.setdefault(u, []).append((d, rec))
    for u, recs in by_user.items():
        recs.sort()
        legs = []
        prev = None
        for d, rec in recs:
            if prev is not None and prev > 0 and rec["cents"] > 0:
                ret_bp = math.floor((rec["close"] / prev - 1.0) * 1e4 + 0.5)
                ret_bp = max(-10_000, min(10_000, ret_bp))
                legs.append(abs(ret_bp) * 10_000_000_000 // rec["cents"])
            prev = rec["close"]
        if legs:
            want[u] = (
                len(legs),
                math.floor(sum(legs) / len(legs) / 1e6 * 1e6 + 0.5) / 1e6,
                math.floor(max(legs) / 1e6 * 1e6 + 0.5) / 1e6,
            )
    assert set(got) == set(want)
    for u, (n, mean_a, worst_a) in want.items():
        assert got[u].n_days == n
        assert got[u].amihud == mean_a, (u, rows)
        assert got[u].amihud_worst_day == worst_a, (u, rows)
