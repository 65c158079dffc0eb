"""Extension-operator guarantees that the oracle can't express:
approximate methods measured against their exact baselines.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from streams_spark.registry import load_all

REGISTRY = load_all()


def _rows(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir).collect()


@pytest.mark.parametrize("row", ["d_minhash_lsh", "d_minhash_lsh_md5"])
def test_minhash_lsh_verified_pairs_match_exact(spark, sf_dir, row):
    """Both MinHash-LSH rows (b=16, r=4) verify candidates to exact
    Jaccard: every pair they report is a d_ngram_jaccard pair with the
    same value, and every exact pair at jaccard >= 0.8 is found
    (high-sim recall ≈ 1)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _rows(spark, sf_dir, "d_ngram_jaccard")
    }
    approx = {(r.doc_a, r.doc_b): r.jaccard for r in _rows(spark, sf_dir, row)}
    assert set(approx) <= set(exact)  # verified pairs are true pairs
    for k, v in approx.items():
        assert abs(v - exact[k]) < 1e-9
    high_sim = {k for k, j in exact.items() if j >= 0.8}
    assert high_sim <= set(approx), "LSH missed a high-similarity pair"


def test_minhash_signatures_are_computed_once(spark, sf_dir):
    """d_minhash_lsh materializes its 64-min signature table before the
    band self-join: across the final plans of every SQL execution one
    call starts (as the SQL status store records them: the operator
    tree, then one detail block per numbered node), the map-side min
    aggregate over the permutation columns runs exactly once, not once
    per join side."""
    import re

    from streams_spark.operators.dedup import NUM_PERM

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    _rows(spark, sf_dir, "d_minhash_lsh")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = 0
    for e in executions():
        if e.executionId() <= before:
            continue
        desc = e.physicalPlanDescription()
        final_tree = desc.split("\n\n")[0].split("== Initial Plan ==")[0]
        blocks = {
            b.split(")")[0].lstrip("("): b
            for b in re.split(r"\n(?=\(\d+\) )", desc)
        }
        runs += sum(
            f"partial_min(h{NUM_PERM - 1}" in blocks[node]
            for node in re.findall(r"HashAggregate \((\d+)\)", final_tree)
        )
    assert runs == 1


def test_ann_lsh_is_subset_of_bruteforce_candidates(spark, sf_dir):
    """Bucketed ANN returns only true corpus vectors with correct cosines:
    every (query, neighbor, cos) it returns must appear in the brute-force
    scoring (same rounded cosine)."""
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _rows(spark, sf_dir, "s_cosine_topk")
    }
    ann = _rows(spark, sf_dir, "s_ann_lsh_topk")
    assert len(ann) > 0
    for r in ann:
        if (r.query_id, r.neighbor_id) in brute:
            assert abs(brute[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_centroid_search_matches_bruteforce_within_probed_partitions(
    spark, sf_dir
):
    """IVF search must return the true top-k restricted to probed
    partitions — so every hit it shares with brute force must carry the
    same cosine, and each query returns exactly TOP_K rows."""
    res = _rows(spark, sf_dir, "s_centroid_search")
    per_query: dict[int, list] = {}
    for r in res:
        per_query.setdefault(r.query_id, []).append(r)
    assert len(per_query) == 10
    for q, rows in per_query.items():
        assert len(rows) == 5
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_exact_dedup_consistency(spark, sf_dir):
    stats = _rows(spark, sf_dir, "d_exact_stats")[0]
    groups = _rows(spark, sf_dir, "d_exact_dup_groups")
    dup_rows = sum(r.n_copies - 1 for r in groups)
    assert stats.n_dup_rows == dup_rows


def test_stratified_sample_rates(spark, sf_dir):
    """The deterministic md5-bucket draw hits the requested per-stratum
    fractions within binomial noise (3 sigma)."""
    from streams_spark.registry import load_all

    sampled = {
        r.lang: r.n_sampled
        for r in load_all()["d_sample_stratified"].fn(spark, sf_dir).collect()
    }
    from streams_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    totals = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from streams_spark.operators.dedup import STRATIFIED_FRACTIONS

    for lang, frac in STRATIFIED_FRACTIONS.items():
        n = totals.get(lang, 0)
        if n < 20:
            continue
        got = sampled.get(lang, 0)
        sigma = (n * frac * (1 - frac)) ** 0.5
        assert abs(got - n * frac) <= 3 * sigma + 1, (lang, got, n * frac)


def test_dup_cluster_label_propagation_on_chain(spark, tmp_path):
    """Min-label propagation must converge on a CHAIN (worst-case
    diameter), not just on cliques: docs 0-1-2-3-4 pairwise-similar only
    to neighbors all land in cluster 0, and a separate pair lands in its
    own cluster."""
    import streams_spark.operators.dedup as D
    from pyspark.sql import functions as F

    from streams_spark import cache

    # build texts so consecutive docs share >50% 3-gram overlap but
    # non-neighbors don't: sliding windows over a long word sequence
    # stride-2 windows of width 12: neighbors share 10 tokens (J≈0.67),
    # skip-neighbors share 8 (J≈0.43 < 0.5) — a true chain of diameter 4
    words = [f"w{i}" for i in range(40)]
    texts = {i: " ".join(words[i * 2 : i * 2 + 12]) for i in range(5)}
    texts[10] = "zz aa bb cc dd ee ff gg"
    texts[11] = "zz aa bb cc dd ee ff hh"
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    import streams_spark.sources.tables as T
    orig = T.load_table
    cache.clear()  # don't reuse real-corpus signatures
    try:
        T.load_table = lambda _s, _d, name: docs  # only documents is read
        D.load_table = T.load_table
        out = {
            r.doc_id: r.cluster_id
            for r in D.d_dup_clusters(spark, "ignored").collect()
        }
    finally:
        T.load_table = orig
        D.load_table = orig
        cache.clear()  # drop the fake-corpus signatures
    chain = {d: c for d, c in out.items() if d < 5}
    assert set(chain.values()) == {0}, out  # whole chain collapses to min id
    assert out.get(10) == 10 and out.get(11) == 10, out


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """GK sketch at accuracy=10000 must land within 1% of the exact
    percentile on the test corpus (it is exact up to rank error n/10000,
    which is sub-row here — allow 1% for interpolation differences:
    percentile() interpolates between ranks, the sketch returns a real
    element)."""
    exact = {r.l_returnflag: r for r in _rows(spark, sf_dir, "q_percentiles")}
    approx = {
        r.l_returnflag: r for r in _rows(spark, sf_dir, "q_approx_percentile")
    }
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a.median_qty - e.median_qty) <= 0.01 * max(e.median_qty, 1)
        assert abs(a.p90_price - e.p90_price) <= 0.01 * max(e.p90_price, 1)


def test_contamination_flags_constructed_overlap(spark):
    """A corpus doc sharing exactly one 13-gram with a probe doc is
    flagged with n_overlap=1; a disjoint doc is not flagged."""
    import streams_spark.operators.text as X

    shared = " ".join(f"s{i}" for i in range(13))
    docs = spark.createDataFrame(
        [
            (10, "a b " + shared),            # probe (id % 10 == 0)
            (7, shared + " x y"),             # corpus: 3 13-grams, 1 shared
            (8, " ".join(f"u{i}" for i in range(20))),  # corpus: disjoint
        ],
        "doc_id long, text string",
    )
    import streams_spark.sources.tables as T
    orig = T.load_table
    try:
        T.load_table = lambda _s, _d, name: docs
        X.load_table = T.load_table
        out = {r.doc_id: r for r in X.t_contamination(spark, "ignored").collect()}
    finally:
        T.load_table = orig
        X.load_table = orig
    assert set(out) == {7}, out
    assert out[7].n_overlap == 1 and out[7].n_ngrams == 3
    assert abs(out[7].contaminated_frac - round(1 / 3, 6)) < 1e-9


def test_window_frames_semantics(spark, sf_dir):
    from streams_spark.registry import load_all

    df = load_all()["q_window_frames"].fn(spark, sf_dir).toPandas()
    # trailing-7d spend includes the current order, so it is >= 0 and the
    # quartile labels cover 1..4; percent_rank/cume_dist are in [0, 1]
    assert (df.trailing_7d_spend > 0).all()
    assert set(df.price_quartile.unique()) == {1, 2, 3, 4}
    assert df.price_pct_rank.between(0, 1).all()
    assert df.price_cume_dist.between(0, 1).all()


def test_unigram_lm_scores_rare_docs_lower(spark, sf_dir):
    from streams_spark.registry import load_all

    df = load_all()["t_unigram_lm"].fn(spark, sf_dir).toPandas()
    # log-probabilities are strictly negative and finite
    assert (df.avg_logprob < 0).all()
    assert df.avg_logprob.notna().all()
    # every document is scored exactly once
    assert df.doc_id.is_unique


def test_corpus_shuffle_is_deterministic_and_contiguous(spark, sf_dir):
    from streams_spark.registry import load_all

    fn = load_all()["p_corpus_shuffle"].fn
    a = fn(spark, sf_dir).toPandas().sort_values(["shard", "pos"])
    b = fn(spark, sf_dir).toPandas().sort_values(["shard", "pos"])
    # same order on rerun (seeded key, not rand())
    assert (a.doc_id.values == b.doc_id.values).all()
    # every doc appears exactly once; positions are 1..n per shard
    assert a.doc_id.is_unique
    for _, grp in a.groupby("shard"):
        assert list(grp.pos) == list(range(1, len(grp) + 1))
    # the order is actually shuffled, not doc_id order
    assert list(a.doc_id) != sorted(a.doc_id)


def test_dup_spans_finds_planted_passage(spark):
    """Two docs sharing a 12-token passage inside otherwise-unique text
    must both be flagged with a merged span covering the shared run."""
    from streams_spark.operators.dedup import d_dup_spans

    shared = " ".join(f"shared{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon zeta eta theta"),
        (2, "one two three four " + shared + " five six seven eight nine"),
        (3, " ".join(f"unique{i}" for i in range(30))),
    ]
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r.doc_id: r for r in d_dup_spans(spark, td).collect()}
    assert set(out) == {1, 2}
    # the 12-token shared run yields 3 overlapping 10-gram spans that must
    # merge into ONE island of exactly 12 tokens in each doc
    for d in (1, 2):
        assert out[d].n_dup_spans == 1
        assert out[d].dup_tokens == 12


def test_containment_finds_excerpt_jaccard_misses(spark):
    """A 15-token excerpt inside a 120-token page: containment ~1.0 but
    Jaccard far below its 0.5 threshold — only d_containment reports it."""
    from streams_spark import cache
    from streams_spark.operators.dedup import d_containment, d_ngram_jaccard

    excerpt = " ".join(f"quote{i}" for i in range(15))
    page = (
        " ".join(f"body{i}" for i in range(60))
        + " " + excerpt + " "
        + " ".join(f"tail{i}" for i in range(45))
    )
    rows = [(1, excerpt), (2, page), (3, " ".join(f"x{i}" for i in range(30)))]
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        cache.clear()
        try:
            cont = d_containment(spark, td).collect()
            jac = d_ngram_jaccard(spark, td).collect()
        finally:
            cache.clear()
    assert [(r.doc_a, r.doc_b) for r in cont] == [(1, 2)]
    assert cont[0].containment == 1.0
    assert jac == []


def test_char_entropy_exact_value(spark):
    """'aabb' has exactly 1 bit of character entropy; 'aaaa' zero."""
    from streams_spark.operators.text import t_char_entropy

    rows = [(1, "aabb", "en"), (2, "aaaa", "zz")]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.lang: r for r in t_char_entropy(spark, td).collect()}
    assert out["en"].avg_entropy == 1.0
    assert out["zz"].avg_entropy == 0.0


def test_source_priority_keeps_lowest_source(spark):
    """Identical content under src9/src2/src11 -> src2's copy is canonical
    (numeric rank 2 < 9 < 11 — lexicographic order would pick src11 last
    wrongly)."""
    from streams_spark.operators.pipeline import p_source_priority

    rows = [
        (1, "same text", "src9"),
        (2, "same text", "src2"),
        (3, "same text", "src11"),
        (4, "unique", "src9"),
    ]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in p_source_priority(spark, td).collect()}
    assert out["src2"].n_canonical == 1 and out["src2"].n_shadowed == 0
    assert out["src9"].n_canonical == 1  # the unique doc
    assert out["src9"].n_shadowed == 1
    assert out["src11"].n_canonical == 0 and out["src11"].n_shadowed == 1


def test_rolling_dau_window_semantics(spark):
    """Day 8 must not count a user last seen on day 1 (outside the 7-day
    window); day 7 must."""
    from streams_spark.operators.windowed import w_rolling_dau

    base = 1_700_000_000_000_000_000  # epoch nanos, midnight-ish anchor
    day = 86_400 * 1_000_000_000

    def ev(eid, d, user):
        return (eid, base + d * day, user, "view", 1.0, "{}")

    rows = [ev(1, 0, 100), ev(2, 0, 101), ev(3, 6, 101), ev(4, 7, 102)]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(td, "events.parquet"))
        out = sorted(w_rolling_dau(spark, td).collect(), key=lambda r: r.day)
    assert [r.dau for r in out] == [2, 1, 1]
    # day 6 window covers day 0: users 100,101 + 101 -> 2 distinct
    assert out[1].dau7 == 2
    # day 7 window covers days 1..7: only 101 (day 6) and 102 (day 7)
    assert out[2].dau7 == 2


def test_salted_join_matches_plain_join(spark):
    """salted_join is result-identical to the plain inner equi-join,
    including a hot key carrying most rows and a key with no match."""
    from streams_spark.functions.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 1), (3, 9)], "k long, v long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, tag string")
    got = sorted(
        salted_join(big, small, "k", n_salts=4).collect(),
        key=lambda r: (r.k, r.v),
    )
    want = sorted(big.join(small, "k").collect(), key=lambda r: (r.k, r.v))
    assert got == want and len(got) == 501


def test_rolling_median_even_frame_interpolates(spark):
    """Two-element frame -> mean of the two middles, matching DuckDB's
    interpolated median."""
    from streams_spark.operators.windowed import w_rolling_median

    base = 1_700_000_000_000_000_000
    rows = [
        (1, base, 7, "view", 10.0, "{}"),
        (2, base + 60_000_000_000, 7, "view", 20.0, "{}"),
        (3, base + 120_000_000_000, 7, "view", 30.0, "{}"),
    ]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(td, "events.parquet"))
        out = {r.event_id: r.med5 for r in w_rolling_median(spark, td).collect()}
    assert out == {1: 10.0, 2: 15.0, 3: 20.0}


def test_heavy_hitters_deterministic_ties(spark):
    """Equal-count terms order by term lexicographically; frac sums the
    whole corpus, not just the returned k."""
    from streams_spark.operators.text import t_heavy_hitters

    rows = [(1, "b b a a c"), (2, "d")]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = t_heavy_hitters(spark, td).collect()
    assert [r.term for r in out] == ["a", "b", "c", "d"]
    assert out[0].frac == round(2 / 6, 6)


def test_full_outer_keeps_one_sided_nations(spark):
    """A nation with only customers and one with only suppliers both
    survive with zero-filled counts."""
    from streams_spark.operators.relational import q_full_outer

    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, 10, 9000.0), (2, 10, 1.0), (3, 20, 8000.0)],
            "c_custkey long, c_nationkey long, c_acctbal double",
        ).write.parquet(os.path.join(td, "customer.parquet"))
        spark.createDataFrame(
            [(1, 20, 9000.0), (2, 30, 7000.0)],
            "s_suppkey long, s_nationkey long, s_acctbal double",
        ).write.parquet(os.path.join(td, "supplier.parquet"))
        out = {r.nationkey: r for r in q_full_outer(spark, td).collect()}
    assert out[10].n_customers == 1 and out[10].n_suppliers == 0
    assert out[20].n_customers == 1 and out[20].n_suppliers == 1
    assert out[30].n_customers == 0 and out[30].n_suppliers == 1


def test_outliers_flags_planted_spike(spark):
    """99 unit values + one huge spike -> exactly one >2.5-sigma outlier."""
    from streams_spark.operators.relational import q_outliers

    base = 1_700_000_000_000_000_000
    rows = [
        (i, base + i * 1_000_000_000, 1, "view", 1.0 + (i % 3) * 0.01, "{}")
        for i in range(99)
    ] + [(99, base, 1, "view", 1000.0, "{}")]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(td, "events.parquet"))
        out = q_outliers(spark, td).collect()
    assert len(out) == 1
    assert out[0].n_events == 100 and out[0].n_outliers == 1


def test_incremental_dedup_classification(spark):
    """Incoming docs (id%10==9): one dup-of-corpus, one in-batch dup
    pair (first copy novel, second flagged), one novel."""
    from streams_spark.operators.dedup import d_incremental_dedup

    rows = [
        (0, "corpus text"),
        (1, "other corpus text"),
        (9, "corpus text"),        # dup vs corpus
        (19, "fresh pair"),        # novel (first of pair)
        (29, "fresh pair"),        # dup in batch
        (39, "totally new"),       # novel
    ]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = d_incremental_dedup(spark, td).collect()[0]
    assert out.n_incoming == 4
    assert out.n_dup_vs_corpus == 1
    assert out.n_dup_in_batch == 1
    assert out.n_novel == 2


def test_pq_train_converges_on_two_point_corpus(spark):
    """Vectors alternate between two exact patterns; both are in the
    deterministic init window, so every subspace quantizes losslessly."""
    from streams_spark.operators.similarity import s_pq_train

    a = [float(i % 7) for i in range(64)]
    b = [float((i * 3) % 5) + 10.0 for i in range(64)]
    rows = [(i, a if i % 2 == 0 else b, i % 3) for i in range(20)]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        out = s_pq_train(spark, td).collect()
    assert len(out) == 8
    for r in out:
        assert r.n_vecs == 20
        assert r.inertia == 0.0
        assert r.used_codes <= 2


def test_pq_search_adc_ranks_same_pattern_first(spark):
    """On the two-pattern corpus PQ is lossless, so every probe's ADC
    top-5 is exactly the five lowest ids sharing its pattern (distance
    zero), ranked by id."""
    from streams_spark.operators.similarity import s_pq_search

    a = [float(i % 7) for i in range(64)]
    b = [float((i * 3) % 5) + 10.0 for i in range(64)]
    rows = [(i, a if i % 2 == 0 else b, i % 3) for i in range(30)]
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        out = s_pq_search(spark, td).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q, rs in by_q.items():
        same = [i for i in range(30) if i % 2 == q % 2 and i != q][:5]
        assert [r.neighbor_id for r in sorted(rs, key=lambda r: r.rnk)] == same
        assert all(r.adc6 == 0.0 for r in rs)


def test_ohlc_bar_invariants(spark, sf_dir):
    out = _rows(spark, sf_dir, "w_ohlc_bars")
    assert out
    for r in out:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        assert r.n_ticks >= 1
        if r.n_ticks == 1:
            assert r.open == r.close == r.high == r.low


def test_pareto_cum_share_monotone_and_complete(spark, sf_dir):
    out = sorted(_rows(spark, sf_dir, "w_pareto_customers"), key=lambda r: r.rnk)
    assert out[0].abc_class == "A"
    assert abs(out[-1].cum_share - 1.0) < 1e-6
    shares = [r.cum_share for r in out]
    assert shares == sorted(shares)
    revs = [r.revenue for r in out]
    assert revs == sorted(revs, reverse=True)


def test_latest_entity_state_one_row_per_entity(spark, sf_dir):
    out = _rows(spark, sf_dir, "v_latest_entity_state")
    keys = [(r.space, r.user_id) for r in out]
    assert len(keys) == len(set(keys))
    # the reconstructed state must carry each entity's maximal timestamp
    from streams_spark.sources.event_log import event_log

    heads = {
        (r.space, r.user_id): r.head
        for r in event_log(spark, sf_dir)
        .groupBy("space", "user_id")
        .agg({"timestamp": "max"})
        .withColumnRenamed("max(timestamp)", "head")
        .collect()
    }
    for r in out:
        assert r.timestamp == heads[(r.space, r.user_id)]


def test_watermark_lag_zero_for_head_segment(spark, sf_dir):
    out = _rows(spark, sf_dir, "v_watermark_lag")
    by_space = {}
    for r in out:
        by_space.setdefault(r.space, []).append(r)
    for space, rows in by_space.items():
        lags = [r.lag_seconds for r in rows]
        assert min(lags) == 0, space
        assert all(lag >= 0 for lag in lags)


def test_attribution_partitions_all_purchases(spark, sf_dir):
    out = _rows(spark, sf_dir, "w_attribution")
    assert {r.attribution for r in out} <= {"attributed", "organic"}
    n_purchases = sum(r.n_purchases for r in out)
    from streams_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    expected = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert n_purchases == expected


def test_pii_redact_census_consistent(spark, sf_dir):
    out = _rows(spark, sf_dir, "t_pii_redact")
    from streams_spark.sources.tables import load_table

    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs_total
    for r in out:
        assert 0 <= r.docs_with_pii <= r.n_docs
        hits = r.total_emails + r.total_ipv4 + r.total_phones
        assert hits >= r.docs_with_pii or hits == 0
        # redaction shrinks or grows by a bounded amount per hit, never
        # touches a hit-free doc
        if hits == 0:
            assert r.chars_redacted_delta == 0


def test_scd2_intervals_cover_all_users(spark, sf_dir):
    out = _rows(spark, sf_dir, "w_scd2_user_state")
    from streams_spark.sources.tables import load_table

    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    # every user has exactly one open (current) interval
    assert sum(r.n_intervals for r in out if r.is_current) == n_users
    for r in out:
        assert r.n_intervals >= r.n_users >= 1
        if r.is_current:
            assert r.avg_duration_sec is None
        else:
            assert r.avg_duration_sec >= 0


def test_weighted_sample_biases_toward_long_docs(spark, sf_dir):
    out = _rows(spark, sf_dir, "p_weighted_sample")
    from streams_spark.operators.pipeline import SAMPLE_K
    from streams_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    expect = min(SAMPLE_K, n_docs)
    assert len(out) == expect
    assert len({r.doc_id for r in out}) == expect  # without replacement
    if n_docs > SAMPLE_K:
        corpus_avg = docs.agg({"n_chars": "avg"}).collect()[0][0]
        sample_avg = sum(r.n_chars for r in out) / len(out)
        assert sample_avg > corpus_avg  # length-weighted draw


def test_domain_cap_bounds(spark, sf_dir):
    out = _rows(spark, sf_dir, "p_domain_cap")
    from streams_spark.operators.pipeline import DOMAIN_CAP

    for r in out:
        assert r.n_kept <= DOMAIN_CAP
        assert r.n_kept + r.n_dropped == r.n_docs
        assert r.n_kept == min(r.n_docs, DOMAIN_CAP)


def test_merge_upsert_branch_partition(spark, sf_dir):
    out = _rows(spark, sf_dir, "q_merge_upsert")
    from streams_spark.sources.tables import load_table

    n_cust = load_table(spark, sf_dir, "customer").count()
    by_action = {}
    for r in out:
        by_action.setdefault(r.action, []).append(r)
    assert len(by_action.get("insert", [])) + len(
        by_action.get("update", [])
    ) + len(by_action.get("keep", [])) == len(out)
    # every dim row survives the merge exactly once
    assert len(by_action.get("update", [])) + len(by_action.get("keep", [])) == n_cust
    for r in by_action.get("insert", []):
        assert r.old_acctbal is None and r.n_change_events > 0
    for r in by_action.get("keep", []):
        assert r.n_change_events == 0 and r.new_acctbal == r.old_acctbal
    for r in by_action.get("update", []):
        assert r.n_change_events > 0


def test_range_search_is_topk_superset_above_radius(spark, sf_dir):
    """Radius search must contain every top-k hit whose cosine clears the
    radius, with identical rounded cosines (same probes, same corpus)."""
    from streams_spark.operators.similarity import RANGE_T

    topk = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _rows(spark, sf_dir, "s_cosine_topk")
        if r.cos_sim >= RANGE_T
    }
    rng = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _rows(spark, sf_dir, "s_range_search")
    }
    assert set(topk) <= set(rng)
    for k in topk:
        assert abs(topk[k] - rng[k]) < 1e-9
    assert all(c >= RANGE_T for c in rng.values())


def test_mode_median_invariants(spark, sf_dir):
    """One row per nation; the modal priority really is a maximal-count
    priority for its nation; median lies within the group's range."""
    import pyspark.sql.functions as F

    from streams_spark.sources.tables import load_table

    rows = _rows(spark, sf_dir, "q_mode_median")
    assert len(rows) == len({r.n_name for r in rows})
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    counts = {
        (r.n_name, r.o_orderpriority): r.cnt
        for r in base.groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    bounds = {
        r.n_name: (r.lo, r.hi)
        for r in base.groupBy("n_name")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
        .collect()
    }
    for r in rows:
        max_cnt = max(c for (n, _), c in counts.items() if n == r.n_name)
        assert counts[(r.n_name, r.mode_priority)] == max_cnt
        lo, hi = bounds[r.n_name]
        assert lo <= r.median_price <= hi


def test_ewma_matches_pandas(spark, sf_dir):
    """Engine EWMA equals a direct per-day recomputation with the same
    decay and horizon (weights renormalized over observed days)."""
    from streams_spark.operators.windowed import EWMA_DECAY, EWMA_HORIZON

    rows = sorted(_rows(spark, sf_dir, "w_ewma"), key=lambda r: r.day)
    daily = {r.day: r.rev for r in rows}
    for r in rows:
        num = den = 0.0
        for d, v in daily.items():
            k = (r.day - d).days
            if 0 <= k <= EWMA_HORIZON:
                w = EWMA_DECAY**k
                num += v * w
                den += w
        assert abs(r.ewma_rev - num / den) < 1e-3


def test_interpolation_exact_on_observed_and_bounded_on_gaps(spark, sf_dir):
    """Observed hours pass through unchanged (is_gap=False); interior gap
    values lie between their bracketing observations."""
    rows = _rows(spark, sf_dir, "w_interpolate")
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    n_gaps = 0
    for series in by_type.values():
        series.sort(key=lambda r: r.hour)
        obs = [(i, r.value_interp) for i, r in enumerate(series) if not r.is_gap]
        for i, r in enumerate(series):
            if not r.is_gap:
                continue
            n_gaps += 1
            prevs = [v for j, v in obs if j < i]
            nexts = [v for j, v in obs if j > i]
            if prevs and nexts:
                lo, hi = min(prevs[-1], nexts[0]), max(prevs[-1], nexts[0])
                assert lo - 1e-9 <= r.value_interp <= hi + 1e-9
    assert n_gaps > 0, "sf0.001 spine has no gaps — test is vacuous"


def test_c4_rules_flags_consistent(spark, sf_dir):
    """keep == AND of its flags; n_words matches a direct split; flags
    actually discriminate (both outcomes occur) on the corpus."""
    rows = _rows(spark, sf_dir, "t_c4_rules")
    for r in rows:
        assert r.keep == (
            r.word_count_ok and r.mean_len_ok and r.has_stopword and r.no_long_word
        )
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows)


def test_segment_manifest_consistent_with_offsets(spark, sf_dir):
    """Manifest bounds agree with the verb surface: last_sequence equals
    GetSegmentOffset's head sequence and n_entries == last - first + 1
    (the gapless-produce invariant)."""
    man = {(r.space, r.segment): r for r in _rows(spark, sf_dir, "v_segment_manifest")}
    assert len(man) > 0
    for r in man.values():
        assert r.first_sequence == 1
        assert r.n_entries == r.last_sequence - r.first_sequence + 1
        assert r.first_timestamp <= r.last_timestamp
        assert r.payload_bytes > 0


def test_string_agg_sorted_and_complete(spark, sf_dir):
    """Each region's nation list is comma-sorted and matches its count."""
    rows = _rows(spark, sf_dir, "q_string_agg")
    assert len(rows) == 5
    for r in rows:
        names = r.nations.split(",")
        assert names == sorted(names)
        assert len(names) == r.n_nations


def test_anomaly_mad_flags_are_extreme(spark, sf_dir):
    """Every flagged event has |robust_z| > 3 on the raw value; the
    OUTPUT z is floor-rounded to 4dp, so a raw z in (3, 3.00005) can
    round to exactly 3.0 — assert against the rounded contract (>= 3.0).
    Flagged set is a strict subset of the corpus."""
    import pyspark.sql.functions as F

    from streams_spark.sources.tables import load_table

    rows = _rows(spark, sf_dir, "w_anomaly_mad")
    total = load_table(spark, sf_dir, "events").count()
    assert 0 < len(rows) < total
    for r in rows:
        assert abs(r.robust_z) >= 3.0


def test_maxsim_bounds(spark, sf_dir):
    """MaxSim of k query vectors lies in [-k, k]; every (query, cand)
    label pair with query < N_QUERY_LABELS appears exactly once."""
    from streams_spark.operators.similarity import N_QUERY_LABELS

    rows = _rows(spark, sf_dir, "s_maxsim")
    seen = set()
    for r in rows:
        assert r.query_label < N_QUERY_LABELS
        assert r.cand_label != r.query_label
        assert -r.n_query_vecs <= r.maxsim <= r.n_query_vecs
        seen.add((r.query_label, r.cand_label))
    assert len(seen) == len(rows)


def test_curriculum_phases_ordered_by_length(spark, sf_dir):
    """Phases are 1..3, roughly balanced, and max(len in phase p) <=
    min(len in phase p+1) never inverts (cutoff semantics)."""
    rows = _rows(spark, sf_dir, "p_curriculum")
    by_phase: dict = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r.n_words)
    assert set(by_phase) == {1, 2, 3}
    assert max(by_phase[1]) <= min(by_phase[3])
    for p in (1, 2, 3):
        assert len(by_phase[p]) >= len(rows) // 6


def test_semdedup_keep_rule(spark, sf_dir):
    """One row per vector; every flagged dup really has a lower-id
    same-label neighbor above the threshold (spot-check via the exact
    pairwise query at test scale)."""
    from streams_spark.functions.vector import as_double_array, cosine
    from streams_spark.operators.dedup import SEMDEDUP_T
    from streams_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    rows = _rows(spark, sf_dir, "d_semdedup")
    emb_n = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == emb_n
    flagged = {r.vec_id for r in rows if r.is_semantic_dup}
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    a = emb.select("label", F.col("vec_id").alias("a_id"), F.col("v").alias("av"))
    pairs = (
        a.join(emb, "label")
        .where(F.col("a_id") < F.col("vec_id"))
        .where(F.round(cosine(F.col("av"), F.col("v")), 6) >= SEMDEDUP_T)
        .select("vec_id")
        .distinct()
    )
    assert flagged == {r.vec_id for r in pairs.collect()}


def test_transitive_containment_multi_hop(spark, sf_dir):
    """The recursive closure really chains: on a synthetic 3-link path
    a->b->c->d it must emit (a,c,2), (a,d,3), (b,d,2) alongside the
    direct edges; corpus run agrees with direct containment at depth 1."""
    from streams_spark.operators.dedup import _TRANSITIVE_SQL

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40)], "src long, dst long"
    )
    edges.createOrReplaceTempView("cont_edges")
    try:
        got = {
            (r.excerpt_id, r.container_id): r.min_hops
            for r in spark.sql(_TRANSITIVE_SQL).collect()
        }
    finally:
        spark.catalog.dropTempView("cont_edges")
    assert got == {
        (10, 20): 1, (20, 30): 1, (30, 40): 1,
        (10, 30): 2, (20, 40): 2, (10, 40): 3,
    }

    direct = {
        tuple(sorted((r.doc_a, r.doc_b)))
        for r in _rows(spark, sf_dir, "d_containment")
    }
    closure = _rows(spark, sf_dir, "d_transitive_containment")
    depth1 = {
        tuple(sorted((r.excerpt_id, r.container_id)))
        for r in closure
        if r.min_hops == 1
    }
    assert depth1 == direct


def test_bitmap_distinct_matches_plain_distinct(spark, sf_dir):
    """Bitmap-sketch distinct equals countDistinct at both grains, and
    region counts are consistent with their nations (<= sum, >= max)."""
    import pyspark.sql.functions as F

    from streams_spark.sources.tables import load_table

    rows = _rows(spark, sf_dir, "q_bitmap_distinct")
    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    nat = {
        (r.r_name, r.n_name): r.d
        for r in base.groupBy("r_name", "n_name")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    reg = {
        r.r_name: r.d
        for r in base.groupBy("r_name")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    assert len(rows) == len(nat)
    for r in rows:
        assert r.nation_distinct == nat[(r.r_name, r.n_name)]
        assert r.region_distinct == reg[r.r_name]


def test_ccnet_buckets_are_score_ordered(spark, sf_dir):
    """Every head score >= every middle score >= every tail score, and
    all three buckets are populated."""
    rows = _rows(spark, sf_dir, "t_ccnet_buckets")
    by = {}
    for r in rows:
        by.setdefault(r.bucket, []).append(r.avg_logprob)
    assert set(by) == {"head", "middle", "tail"}
    assert min(by["head"]) >= max(by["middle"])
    assert min(by["middle"]) >= max(by["tail"])


def test_bm25_ranking_properties(spark, sf_dir):
    """BM25 ranks are 1..k with non-increasing scores; every ranked doc
    actually contains at least one query term."""
    from pyspark.sql import functions as F

    from streams_spark.operators.text import BM25_QUERY, BM25_TOPK

    rows = _rows(spark, sf_dir, "t_bm25")
    assert 0 < len(rows) <= BM25_TOPK
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)

    from streams_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin([r.doc_id for r in rows]))
        .collect()
    }
    for r in rows:
        assert any(t in texts[r.doc_id].split(" ") for t in BM25_QUERY)


def test_zipf_fit_slope_is_negative(spark, sf_dir):
    """Frequency must fall with rank: the fitted log-log slope is
    strictly negative, and n_terms matches the true vocabulary size."""
    from pyspark.sql import functions as F

    from streams_spark.sources.tables import load_table

    (row,) = _rows(spark, sf_dir, "t_zipf_fit")
    assert row.zipf_slope < 0
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
        .collect()[0]
        .v
    )
    assert row.n_terms == vocab


def test_temperature_mix_flattens_distribution(spark, sf_dir):
    """Temperature sampling must (a) renormalize to 1, (b) up-weight
    tail languages and down-weight the head, (c) preserve order."""
    rows = _rows(spark, sf_dir, "p_temperature_mix")
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-3
    head = max(rows, key=lambda r: r.n_docs)
    tail = min(rows, key=lambda r: r.n_docs)
    assert head.boost < 1.0 < tail.boost
    # flattened shares keep the raw ordering (alpha > 0)
    by_raw = sorted(rows, key=lambda r: r.p_raw)
    assert [r.lang for r in by_raw] == [
        r.lang for r in sorted(rows, key=lambda r: r.p_temp)
    ]


def test_multiprobe_recall_superset_of_single_probe(spark, sf_dir):
    """Multi-probe candidates strictly contain single-probe candidates,
    so per-query result quality never degrades: for every query, the
    k-th best multi-probe cosine >= the k-th best single-probe cosine,
    and any (query, neighbor) both return carries the same cosine."""
    single = _rows(spark, sf_dir, "s_ann_lsh_topk")
    multi = _rows(spark, sf_dir, "s_multiprobe_lsh")
    assert len(multi) >= len(single)

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, {})[r.neighbor_id] = r.cos_sim
        return out

    s, m = by_query(single), by_query(multi)
    assert set(s) <= set(m)
    for q in s:
        worst_s = min(s[q].values())
        worst_m = min(m[q].values())
        assert len(m[q]) >= len(s[q])
        if len(m[q]) == len(s[q]):
            assert worst_m >= worst_s
        for n in set(s[q]) & set(m[q]):
            assert abs(s[q][n] - m[q][n]) < 1e-9


def test_cluster_survivors_consistency(spark, sf_dir):
    """Survivor selection is consistent with the cluster labels: one
    survivor per cluster, the survivor belongs to its cluster and is a
    maximal-length member, and member counts add up."""
    clusters = _rows(spark, sf_dir, "d_dup_clusters")
    survivors = _rows(spark, sf_dir, "d_cluster_survivors")
    members: dict[int, list[int]] = {}
    for r in clusters:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert {r.cluster_id for r in survivors} == set(members)
    from streams_spark.sources.tables import load_table

    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in survivors:
        assert r.survivor_doc_id in members[r.cluster_id]
        assert r.n_members == len(members[r.cluster_id])
        best = max(chars[d] for d in members[r.cluster_id])
        assert chars[r.survivor_doc_id] == best
        assert r.n_chars_dropped == sum(
            chars[d] for d in members[r.cluster_id]
        ) - chars[r.survivor_doc_id]


def test_ivf_pq_consistent_with_full_pq(spark, sf_dir):
    """IVF-PQ is PQ restricted to the probed partitions: every (query,
    neighbor) it returns carries the SAME asymmetric distance the
    unrouted PQ search computes, each query returns at most TOP_K rows
    in non-decreasing ADC order, and no neighbor comes from outside the
    query's routed partitions (asserted via the full-PQ twin: any shared
    pair agrees bit-for-bit on adc6)."""
    from streams_spark.operators.similarity import TOP_K

    full = {
        (r.query_id, r.neighbor_id): r.adc6
        for r in _rows(spark, sf_dir, "s_pq_search")
    }
    routed = _rows(spark, sf_dir, "s_ivf_pq_search")
    assert routed
    per_query: dict[int, list] = {}
    for r in routed:
        per_query.setdefault(r.query_id, []).append(r)
    for q, rows in per_query.items():
        assert len(rows) <= TOP_K
        ds = [r.adc6 for r in sorted(rows, key=lambda r: r.rnk)]
        assert ds == sorted(ds)
    shared = [r for r in routed if (r.query_id, r.neighbor_id) in full]
    assert shared, "IVF-PQ and PQ share no pairs — routing is broken"
    for r in shared:
        assert abs(full[(r.query_id, r.neighbor_id)] - r.adc6) < 1e-12


def test_hll_union_close_to_exact(spark, sf_dir):
    """HLL estimates (per-group and merged) must land within 5% of exact
    distinct counts at the default lgConfigK=12 (relative error ~1.6%;
    5% allows small-cardinality wobble), and the merged row must cover
    at least the largest group (union can only grow)."""
    from pyspark.sql import functions as F

    from streams_spark.sources.tables import load_table

    rows = {r.o_orderpriority: r for r in _rows(spark, sf_dir, "q_hll_union")}
    orders = load_table(spark, sf_dir, "orders")
    exact_rows = (
        orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    )
    exact = {r.o_orderpriority: r.n for r in exact_rows}
    exact["ALL"] = (
        orders.agg(F.countDistinct("o_custkey").alias("n")).collect()[0].n
    )
    assert set(rows) == set(exact)
    for k, e in exact.items():
        got = rows[k].est_customers
        assert abs(got - e) <= max(0.05 * e, 3), (k, got, e)
    assert rows["ALL"].est_customers >= max(
        r.est_customers for k, r in rows.items() if k != "ALL"
    )


def test_source_divergence_properties(spark, sf_dir):
    """JSD is bounded by ln 2, non-negative, covers every unordered
    source pair exactly once."""
    import math

    from streams_spark.sources.tables import load_table

    rows = _rows(spark, sf_dir, "t_source_divergence")
    sources = sorted(
        r.source
        for r in load_table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .collect()
    )
    n = len(sources)
    assert len(rows) == n * (n - 1) // 2
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert -1e-9 <= r.jsd <= math.log(2) + 1e-9


def test_dup_graph_stats_consistent_with_components(spark, sf_dir):
    """Graph profile agrees with the pair list and cluster labels it is
    derived from."""
    (g,) = _rows(spark, sf_dir, "d_dup_graph_stats")
    pairs = _rows(spark, sf_dir, "d_ngram_jaccard")
    clusters = _rows(spark, sf_dir, "d_dup_clusters")
    assert g.n_edges == len(pairs)
    assert g.n_nodes == len(clusters)
    sizes: dict[int, int] = {}
    for r in clusters:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    assert g.n_clusters == len(sizes)
    assert g.max_cluster_size == max(sizes.values())
    deg: dict[int, int] = {}
    for p in pairs:
        deg[p.doc_a] = deg.get(p.doc_a, 0) + 1
        deg[p.doc_b] = deg.get(p.doc_b, 0) + 1
    assert g.max_degree == max(deg.values())


def test_epoch_plan_budget_and_caps(spark, sf_dir):
    """Targets partition the budget by share (within floor rounding),
    epochs never exceed the cap, and exhausted flags agree with the
    uncapped ratio."""
    from streams_spark.operators.pipeline import (
        MAX_EPOCHS,
        PLAN_BUDGET_TOKENS,
    )

    rows = _rows(spark, sf_dir, "p_epoch_plan")
    assert rows
    total_target = sum(r.target_tokens for r in rows)
    assert PLAN_BUDGET_TOKENS - len(rows) <= total_target <= PLAN_BUDGET_TOKENS
    assert abs(sum(r.mix_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0 < r.epochs <= MAX_EPOCHS
        assert r.exhausted == (r.target_tokens / r.n_tokens > MAX_EPOCHS)
        if not r.exhausted:
            assert abs(r.epochs - round(r.target_tokens / r.n_tokens, 4)) < 1e-3


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Chunk layout invariants: chunk 0 always exists, consecutive
    starts step by CHUNK_STRIDE, every chunk is 1..CHUNK_TOKENS tokens,
    and the final chunk reaches the document's last token (full
    coverage: doc token count == last start + last chunk size)."""
    from streams_spark.operators.text import CHUNK_STRIDE, CHUNK_TOKENS

    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    per_doc: dict[int, list] = {}
    for r in _rows(spark, sf_dir, "t_chunk_overlap"):
        assert 1 <= r.chunk_tokens <= CHUNK_TOKENS
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(docs)
    for doc_id, rows in per_doc.items():
        ids = sorted(r.chunk_id for r in rows)
        assert ids == list(range(len(ids)))  # dense 0..k
        last = max(rows, key=lambda r: r.chunk_id)
        covered = last.chunk_id * CHUNK_STRIDE + last.chunk_tokens
        assert covered >= docs[doc_id]  # tail chunk reaches the end


def test_cusum_matches_sequential_recursion(spark, sf_dir):
    """The prefix-sum/running-min closed form must equal the textbook
    sequential recursion S_i = max(0, S_{i-1} + (x_i - mu)) replayed in
    Python per event type."""
    rows = _rows(spark, sf_dir, "w_cusum")
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("day_avg"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r)
    import math

    expect = {}
    for et, days in by_type.items():
        days.sort(key=lambda r: r.day)
        xs = [r.day_avg for r in days]
        mu = sum(xs) / len(xs)
        var = sum((x - mu) ** 2 for x in xs) / (len(xs) - 1)
        sigma = math.sqrt(var)
        s = 0.0
        for r, x in zip(days, xs):
            s = max(0.0, s + (x - mu))
            expect[(et, r.day)] = s / sigma
    assert len(rows) == len(expect)
    for r in rows:
        assert abs(r.cusum_sigmas - expect[(r.event_type, r.day)]) < 1e-3
        assert r.drift == (expect[(r.event_type, r.day)] > 3.0 + 1e-12) or abs(
            expect[(r.event_type, r.day)] - 3.0
        ) < 1e-9


def test_embedding_stats_shape_and_bounds(spark, sf_dir):
    """One row per dimension; mean within [min,max]; std nonnegative;
    n equals the corpus size for every dim."""
    rows = _rows(spark, sf_dir, "s_embedding_stats")
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    dims = sorted(r.dim for r in rows)
    assert dims == list(range(len(dims)))
    for r in rows:
        assert r.n == n_vecs
        assert r.min_v - 1e-4 <= r.mean_v <= r.max_v + 1e-4
        assert r.std_v >= 0


def test_split_leakage_totals_match_prefix_groups(spark, sf_dir):
    """Group/doc totals must reconcile with d_prefix_dedup's universe:
    sum(n_docs) == corpus size, and every group counted leaky has
    n_splits >= 2."""
    rows = _rows(spark, sf_dir, "p_split_leakage")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        if r.n_splits == 1:
            assert r.train_eval_leaks == 0
        else:
            assert r.n_splits >= 2 and r.n_groups >= r.train_eval_leaks


def test_skyline_is_exact_pareto_frontier(spark, sf_dir):
    """Sort-based skyline must equal the brute-force O(n^2) dominance
    scan computed driver-side, and be mutually non-dominating."""
    rows = _rows(spark, sf_dir, "q_skyline")
    pts = [
        (r.p_partkey, float(r.p_retailprice), r.p_size)
        for r in spark.read.parquet(f"{sf_dir}/part.parquet").select(
            "p_partkey", "p_retailprice", "p_size"
        ).collect()
    ]
    brute = {
        k
        for k, price, size in pts
        if not any(
            q_price < price and q_size < size for _, q_price, q_size in pts
        )
    }
    got = {r.p_partkey for r in rows}
    assert got == brute


def test_pagerank_mass_and_structure(spark, sf_dir):
    """Rank mass conserves to 1 over the graph (symmetric edges, no
    dangling nodes), every rank is positive, and the node set equals the
    near-dup pair universe."""
    rows = _rows(spark, sf_dir, "d_pagerank")
    pairs = _rows(spark, sf_dir, "d_ngram_jaccard")
    nodes = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert {r.doc_id for r in rows} == nodes
    assert all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-4


def test_bigram_lm_orders_fluency(spark, sf_dir):
    """Bigram LM must assign every doc a negative mean log-prob, cover
    every doc with >= 2 tokens, and its probabilities must be proper
    (avg_logprob >= ln of the smallest possible interpolated term)."""
    rows = _rows(spark, sf_dir, "t_bigram_lm")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    want = {d.doc_id for d in docs if len(d.text.split(" ")) >= 2}
    assert {r.doc_id for r in rows} == want
    ntok = {d.doc_id: len(d.text.split(" ")) for d in docs}
    for r in rows:
        assert r.n_bigrams == ntok[r.doc_id] - 1
        assert r.avg_logprob < 0


def test_novelty_first_doc_scores_one_and_mass_conserves(spark, sf_dir):
    """The lowest doc_id owns all its grams (novelty exactly 1.0), and
    total novel grams across docs equals the distinct-gram universe."""
    rows = _rows(spark, sf_dir, "t_novelty")
    first = min(r.doc_id for r in rows)
    by_id = {r.doc_id: r for r in rows}
    assert by_id[first].novelty == 1.0
    from streams_spark.operators.dedup import shingle_table
    import pyspark.sql.functions as F

    universe = (
        shingle_table(spark, sf_dir)
        .select(F.explode("hs").alias("h"))
        .distinct()
        .count()
    )
    assert sum(r.novel_grams for r in rows) == universe
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.novel_grams <= r.n_grams


def test_bpe_pairs_ranked_and_weighted(spark, sf_dir):
    """Exactly BPE_TOP_K rows, ranks dense 1..K, counts non-increasing,
    and the top pair's count matches a direct recount from raw text."""
    rows = sorted(_rows(spark, sf_dir, "t_bpe_pairs"), key=lambda r: r.rnk)
    from streams_spark.operators.text import BPE_TOP_K

    assert [r.rnk for r in rows] == list(range(1, BPE_TOP_K + 1))
    assert all(a.n >= b.n for a, b in zip(rows, rows[1:]))
    top = rows[0]
    from collections import Counter

    counts: Counter = Counter()
    for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        for w in d.text.split(" "):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    assert counts[top.pair] == top.n
    assert top.n == max(counts.values())


def test_dataset_card_reconciles_with_corpus(spark, sf_dir):
    """Single row; totals match direct counts; dup docs consistent with
    d_prefix_dedup's groups (sum over groups of size-1)."""
    [card] = _rows(spark, sf_dir, "p_dataset_card")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    assert card.n_docs == len(docs)
    assert card.n_tokens == sum(len(d.text.split(" ")) for d in docs)
    assert card.n_sources == len({d.source for d in docs})
    assert card.n_langs == len({d.lang for d in docs})
    dup_from_groups = sum(
        r.n_docs - 1 for r in _rows(spark, sf_dir, "d_prefix_dedup")
    )
    assert card.dup_docs == dup_from_groups
    assert 0.0 <= card.dup_rate <= 1.0


def test_seasonality_residuals_center_near_zero(spark, sf_dir):
    """Additive-model residuals must be event-weighted centered (the
    grand identity): sum(n * residual) ~ 0; full 7x24 grid when every
    cell has data."""
    rows = _rows(spark, sf_dir, "w_seasonality")
    assert all(1 <= r.dow <= 7 and 0 <= r.hod <= 23 for r in rows)
    total = sum(r.n_events for r in rows)
    weighted = sum(r.n_events * r.residual for r in rows)
    assert abs(weighted / total) < 1e-3


def test_tfidf_cosine_prefix_filter_is_exact(spark, sf_dir):
    """The AllPairs-filtered plan must equal a brute-force recompute of
    idf-weighted shingle cosine done driver-side (exactness of the
    prefix filter), and pairs must be canonical (doc_a < doc_b)."""
    import math
    from collections import Counter

    rows = _rows(spark, sf_dir, "d_tfidf_cosine")
    from streams_spark.operators.dedup import TFIDF_COS_T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    sh = {}
    for d in docs:
        w = d.text.split(" ")
        k = max(len(w) - 2, 1)
        sh[d.doc_id] = {" ".join(w[i : i + 3]) for i in range(k)}
    n = float(len(sh))
    dfc: Counter = Counter()
    for s in sh.values():
        dfc.update(s)
    idf = {f: math.log(n / c) for f, c in dfc.items()}
    norms = {
        d: math.sqrt(sum(idf[f] ** 2 for f in s)) for d, s in sh.items()
    }
    ids = sorted(sh)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = sh[a] & sh[b]
            if not common:
                continue
            cos = sum(idf[f] ** 2 for f in common) / (norms[a] * norms[b])
            if cos >= TFIDF_COS_T:
                expect[(a, b)] = cos
    got = {(r.doc_a, r.doc_b): r.cos_sim for r in rows}
    assert set(got) == set(expect)
    for k, c in got.items():
        assert k[0] < k[1]
        assert abs(c - expect[k]) < 1e-3


def test_media_dedup_reconciles_with_corpus(spark, sf_dir):
    """Three modalities; payload totals equal the corpus; dup counts
    consistent (n_payloads - n_distinct == dup_docs)."""
    rows = _rows(spark, sf_dir, "m_media_dedup")
    assert {r.media_type for r in rows} == {"image", "audio", "video"}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_payloads for r in rows) == n_docs
    for r in rows:
        assert r.n_payloads - r.n_distinct == r.dup_docs
        assert r.max_group >= 1


def test_centroid_shift_bounds_and_sizes(spark, sf_dir):
    """One row per label; halves partition each label's vectors; and
    the cosine equals a driver-side recompute of the half-centroids
    (exactness — no directional assumption: the synthetic labels are
    weak direction clusters, which is precisely what a drift monitor
    reports)."""
    rows = _rows(spark, sf_dir, "s_centroid_shift")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    from collections import Counter

    per_label = Counter(r.label for r in emb)
    assert {r.label for r in rows} == set(per_label)
    import math

    sums: dict[tuple[int, int], list] = {}
    counts: dict[tuple[int, int], int] = {}
    for e in emb:
        key = (e.label, e.vec_id % 2)
        v = [float(x) for x in e.embedding]
        if key not in sums:
            sums[key] = [0.0] * len(v)
            counts[key] = 0
        sums[key] = [a + b for a, b in zip(sums[key], v)]
        counts[key] += 1
    for r in rows:
        assert r.n_a + r.n_b == per_label[r.label]
        assert -1.0 - 1e-4 <= r.centroid_cos <= 1.0 + 1e-4
        ca = [x / counts[(r.label, 0)] for x in sums[(r.label, 0)]]
        cb = [x / counts[(r.label, 1)] for x in sums[(r.label, 1)]]
        dot = sum(a * b for a, b in zip(ca, cb))
        na = math.sqrt(sum(a * a for a in ca))
        nb = math.sqrt(sum(b * b for b in cb))
        assert abs(r.centroid_cos - dot / (na * nb)) < 1e-3


def test_star_cc_equals_label_propagation(spark, sf_dir):
    """Both CC algorithms must produce identical (doc_id, cluster_id)
    assignments — roots are component minima either way."""
    a = {(r.doc_id, r.cluster_id) for r in _rows(spark, sf_dir, "d_dup_clusters")}
    b = {
        (r.doc_id, r.cluster_id)
        for r in _rows(spark, sf_dir, "d_dup_clusters_star")
    }
    assert a == b and len(a) > 0


def test_drawdown_nonnegative_and_bounded(spark, sf_dir):
    """Drawdowns are >= 0; pct within [0,1] for positive-value curves;
    n_points totals the user's purchase count."""
    rows = _rows(spark, sf_dir, "w_drawdown")
    from pyspark.sql import functions as F

    counts = {
        r.user_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id for r in rows} == set(counts)
    for r in rows:
        assert r.n_points == counts[r.user_id]
        assert r.max_drawdown >= 0
        assert 0 <= r.max_drawdown_pct <= 1 + 1e-9


def test_wow_change_first_week_null_and_deltas_consistent(spark, sf_dir):
    """Each type's earliest week has NULL deltas; other weeks'
    n_delta telescopes back to the weekly counts."""
    rows = _rows(spark, sf_dir, "w_wow_change")
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, weeks in by_type.items():
        weeks.sort(key=lambda r: r.week)
        assert weeks[0].n_delta is None and weeks[0].pct_change is None
        for prev, cur in zip(weeks, weeks[1:]):
            assert cur.n_delta == cur.n_events - prev.n_events


def test_diversity_gram_identity_matches_bruteforce(spark, sf_dir):
    """The O(n) Gram-identity mean must equal the O(n^2) pairwise mean
    recomputed driver-side per label."""
    import math
    from collections import defaultdict

    rows = _rows(spark, sf_dir, "s_diversity")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label = defaultdict(list)
    for e in emb:
        v = [float(x) for x in e.embedding]
        n = math.sqrt(sum(x * x for x in v))
        by_label[e.label].append([x / n for x in v])
    expect = {}
    for lab, vs in by_label.items():
        if len(vs) < 2:
            continue
        tot, cnt = 0.0, 0
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                tot += sum(a * b for a, b in zip(vs[i], vs[j]))
                cnt += 1
        expect[lab] = (tot / cnt, len(vs))
    assert {r.label for r in rows} == set(expect)
    for r in rows:
        m, n = expect[r.label]
        assert r.n_vectors == n
        assert abs(r.mean_pairwise_cos - m) < 1e-3


def test_langid_confusion_totals_and_diagonal(spark, sf_dir):
    """Confusion cells cover the corpus; diagonal cells are exactly the
    correct=True rows; accuracy consistent with t_lang_id."""
    rows = _rows(spark, sf_dir, "t_langid_confusion")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.correct == (r.actual_lang == r.predicted_lang)
    scored = _rows(spark, sf_dir, "t_lang_id")
    acc_direct = sum(
        1 for s in scored if s.actual_lang == s.predicted_lang
    )
    acc_matrix = sum(r.n_docs for r in rows if r.correct)
    assert acc_direct == acc_matrix


def test_pad_efficiency_bucketing_strictly_helps(spark, sf_dir):
    """Both schemes carry the same real tokens; the bucketed scheme
    never wastes more than naive (equal only if lengths are uniform);
    waste ratio consistent with the raw counts."""
    rows = {r.scheme: r for r in _rows(spark, sf_dir, "p_pad_efficiency")}
    assert set(rows) == {"naive", "bucketed"}
    n, b = rows["naive"], rows["bucketed"]
    assert n.real_tokens == b.real_tokens
    assert b.pad_tokens <= n.pad_tokens
    for r in (n, b):
        expect = r.pad_tokens / (r.real_tokens + r.pad_tokens)
        assert abs(r.waste - expect) < 1e-3


def test_snapshot_diff_telescopes(spark, sf_dir):
    """Deltas must telescope to the raw snapshot aggregates: total
    order_delta == orders in [T1, T2); unchanged bucket has zero
    order delta; inserts are customers with no pre-T1 orders."""
    from pyspark.sql import functions as F

    from streams_spark.operators.relational import SNAP_T1, SNAP_T2

    rows = {r.change: r for r in _rows(spark, sf_dir, "q_snapshot_diff")}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    window_orders = orders.where(
        (F.col("o_orderdate") >= SNAP_T1) & (F.col("o_orderdate") < SNAP_T2)
    ).count()
    assert sum(r.order_delta for r in rows.values()) == window_orders
    if "unchanged" in rows:
        assert rows["unchanged"].order_delta == 0
    assert rows["insert"].n_customers == (
        orders.where(F.col("o_orderdate") < SNAP_T2)
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first"))
        .where(F.col("first") >= SNAP_T1)
        .count()
    )


def test_binary_search_recall_against_exact(spark, sf_dir):
    """Each query returns TOP_K ranked rows; shared hits with the exact
    brute-force search carry identical cosines; shortlist recall@k is
    substantial (sign bits preserve most direction info at 64 dims)."""
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _rows(spark, sf_dir, "s_cosine_topk")
    }
    rows = _rows(spark, sf_dir, "s_binary_search")
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        if (r.query_id, r.neighbor_id) in exact:
            assert abs(exact[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    from streams_spark.operators.similarity import TOP_K

    hits = sum(1 for k in exact if k in {(r.query_id, r.neighbor_id) for r in rows})
    assert len(per_q) == 10
    for q, rs in per_q.items():
        assert sorted(r.rnk for r in rs) == list(range(1, TOP_K + 1))
    assert hits / len(exact) >= 0.4, f"recall {hits/len(exact):.2f}"


def test_e2e_pipeline_consistent_with_stage_ops(spark, sf_dir):
    """The fused pipeline's totals must be reproducible from the
    stage rules applied independently driver-side."""
    import hashlib

    rows = _rows(spark, sf_dir, "p_e2e_pipeline")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    seen, expect = set(), {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        toks = d.text.split(" ")
        if not (10 <= len(toks) <= 5000):
            continue
        fp = hashlib.md5(" ".join(toks[:8]).encode()).hexdigest()
        if fp in seen:
            continue
        seen.add(fp)
        h = hashlib.md5(str(d.doc_id).encode()).hexdigest()
        b = int(h[:4], 16) % 100
        split = "train" if b < 80 else ("val" if b < 90 else "test")
        import re

        n = int(re.search(r"(\d+)", d.source).group(1))
        tier = 0 if n < 5 else (1 if n < 10 else 2)
        if int(h[4:8], 16) % 10 >= {0: 8, 1: 5, 2: 2}[tier]:
            continue
        k = (split, tier)
        nd, nt = expect.get(k, (0, 0))
        expect[k] = (nd + 1, nt + len(toks))
    got = {(r.split, r.tier): (r.n_docs, r.n_tokens) for r in rows}
    assert got == expect
    # plan-shape guarantee: the fused pipeline pays exactly 2 exchanges
    # (dedup window + final rollup) over ONE scan
    from streams_spark.plans.inspect import operator_counts
    from streams_spark.registry import load_all

    counts = operator_counts(load_all()["p_e2e_pipeline"].fn(spark, sf_dir))
    assert counts.get("Exchange", 0) == 2
    assert counts.get("Scan", 0) == 1


def test_mrl_search_recall_against_exact(spark, sf_dir):
    """TOP_K ranked rows per query; shared hits with brute force carry
    identical cosines; prefix-dim shortlist keeps reasonable recall
    even on non-MRL-trained synthetic embeddings."""
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _rows(spark, sf_dir, "s_cosine_topk")
    }
    rows = _rows(spark, sf_dir, "s_mrl_search")
    from streams_spark.operators.similarity import TOP_K

    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        if (r.query_id, r.neighbor_id) in exact:
            assert abs(exact[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    assert len(per_q) == 10
    for rs in per_q.values():
        assert sorted(r.rnk for r in rs) == list(range(1, TOP_K + 1))
    got = {(r.query_id, r.neighbor_id) for r in rows}
    hits = sum(1 for k in exact if k in got)
    assert hits / len(exact) >= 0.3, f"recall {hits/len(exact):.2f}"


@pytest.mark.parametrize(
    "row, exchanges, broadcasts",
    [
        ("s_cosine_topk", 1, 1),
        ("s_nearest_neighbor", 1, 1),
        ("s_range_search", 0, 1),
        ("s_ann_lsh_topk", 1, 1),
        ("s_multiprobe_lsh", 1, 1),
        ("s_centroid_search", 3, 2),
        ("s_binary_search", 1, 1),
        ("s_mrl_search", 1, 1),
        ("s_knn_classify", 1, 1),
        ("s_maxsim", 2, 1),
        ("s_kmeans_train", 1, 0),
        ("s_pq_search", 17, 11),
        ("s_ivf_pq_search", 20, 14),
        ("s_recall_eval", 6, 3),
        ("s_hybrid_search", 5, 4),
        ("t_bm25", 5, 3),
    ],
)
def test_vector_search_plan_shape(spark, sf_dir, row, exchanges, broadcasts):
    """The probe side stays a broadcast and each row keeps its shuffle
    count: pre-AQE Exchange and BroadcastExchange counts of the vector
    search rows (and t_bm25, whose scorer s_hybrid_search shares)."""
    from streams_spark.plans.inspect import operator_counts

    counts = operator_counts(REGISTRY[row].fn(spark, sf_dir))
    assert (counts.get("Exchange", 0), counts.get("BroadcastExchange", 0)) == (
        exchanges,
        broadcasts,
    )


@pytest.mark.parametrize("row", ["s_recall_eval", "q9_profit_by_nation_year"])
def test_operator_counts_ignore_the_aqe_final_plan(spark, sf_dir, row):
    """operator_counts reads the pre-AQE plan whether or not the query
    has run: after collect() the formatted plan also lists AQE's final
    plan (query stages, AQE shuffle reads, re-planned exchanges), which
    must not join the counts."""
    from streams_spark.plans.inspect import operator_counts

    df = REGISTRY[row].fn(spark, sf_dir)
    before = operator_counts(df)
    df.collect()
    assert operator_counts(df) == before


def test_operator_counts_read_node_headers_only(spark, sf_dir):
    """A Window's `Arguments:` line holds `count(1)
    windowspecdefinition(...)`; only the node headers count, so the
    two-window row reads two Windows and no phantom operator."""
    from streams_spark.plans.inspect import operator_counts

    counts = operator_counts(REGISTRY["m_video_pixel_dedup"].fn(spark, sf_dir))
    assert counts["Window"] == 2
    assert "windowspecdefinition" not in counts


@pytest.mark.parametrize(
    "row, counts",
    [
        (
            "q1_pricing_summary",
            {
                "Exchange": 1, "Filter": 1, "HashAggregate": 2, "Project": 1,
                "Scan": 1,
            },
        ),
        (
            "q2_min_cost_supplier",
            {
                "BroadcastExchange": 7, "BroadcastHashJoin": 7, "Exchange": 3,
                "Filter": 10, "HashAggregate": 2, "Project": 11, "Scan": 9, "Sort": 3,
                "SortMergeJoin": 1, "Window": 1,
            },
        ),
        (
            "q3_shipping_priority",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 1,
                "Filter": 3, "HashAggregate": 2, "Project": 4, "Scan": 3,
                "TakeOrderedAndProject": 1,
            },
        ),
        (
            "q4_order_priority",
            {
                "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1,
                "Filter": 2, "HashAggregate": 2, "Project": 1, "Scan": 2,
            },
        ),
        (
            "q5_local_supplier_volume",
            {
                "BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange": 3,
                "Filter": 6, "HashAggregate": 2, "Project": 7, "Scan": 6, "Sort": 2,
                "SortMergeJoin": 1,
            },
        ),
        (
            "q6_forecast_revenue",
            {
                "Exchange": 1, "Filter": 1, "HashAggregate": 2, "Project": 1,
                "Scan": 1,
            },
        ),
        (
            "q7_nation_volume",
            {
                "BroadcastExchange": 5, "BroadcastHashJoin": 5, "Exchange": 1,
                "Filter": 6, "HashAggregate": 2, "Project": 7, "Scan": 6,
            },
        ),
        (
            "q8_market_share",
            {
                "BroadcastExchange": 6, "BroadcastHashJoin": 6, "Exchange": 3,
                "Filter": 8, "HashAggregate": 2, "Project": 10, "Scan": 8, "Sort": 2,
                "SortMergeJoin": 1,
            },
        ),
        (
            "q9_profit_by_nation_year",
            {
                "BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange": 1,
                "Filter": 5, "HashAggregate": 2, "Project": 5, "Scan": 5,
            },
        ),
        (
            "q10_returned_items",
            {
                "BroadcastExchange": 3, "BroadcastHashJoin": 3, "Exchange": 1,
                "Filter": 4, "HashAggregate": 2, "Project": 5, "Scan": 4,
                "TakeOrderedAndProject": 1,
            },
        ),
        (
            "q11_important_stock",
            {
                "BroadcastExchange": 5, "BroadcastHashJoin": 4,
                "BroadcastNestedLoopJoin": 1, "Exchange": 3, "Filter": 8,
                "HashAggregate": 6, "Project": 7, "Scan": 6,
            },
        ),
        (
            "q12_late_shipments",
            {
                "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1,
                "Filter": 2, "HashAggregate": 2, "Project": 1, "Scan": 2,
            },
        ),
        (
            "q13_order_distribution",
            {
                "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 2,
                "Filter": 1, "HashAggregate": 4, "Project": 2, "Scan": 2,
            },
        ),
        (
            "q14_promo_revenue",
            {
                "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1,
                "Filter": 2, "HashAggregate": 2, "Project": 2, "Scan": 2,
            },
        ),
        (
            "q15_top_supplier",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 3,
                "Filter": 5, "HashAggregate": 6, "Project": 4, "Scan": 3,
            },
        ),
        (
            "q16_supplier_part_count",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 3,
                "Filter": 3, "HashAggregate": 6, "Project": 2, "Scan": 3,
            },
        ),
        (
            "q17_small_qty_revenue",
            {
                "BroadcastExchange": 3, "BroadcastHashJoin": 3, "Exchange": 2,
                "Filter": 5, "HashAggregate": 4, "Project": 5, "Scan": 4,
            },
        ),
        (
            "q18_large_volume_customer",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 1,
                "Filter": 4, "HashAggregate": 2, "Project": 3, "Scan": 3,
            },
        ),
        (
            "q19_disjunctive_revenue",
            {
                "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1,
                "Filter": 2, "HashAggregate": 2, "Project": 1, "Scan": 2,
            },
        ),
        (
            "q20_promotion_suppliers",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 1,
                "Filter": 4, "HashAggregate": 2, "Project": 4, "Scan": 3,
            },
        ),
        (
            "q21_waiting_suppliers",
            {
                "BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange": 1,
                "Filter": 5, "HashAggregate": 2, "Project": 6, "Scan": 5,
            },
        ),
        (
            "q22_sales_opportunity",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 1,
                "BroadcastNestedLoopJoin": 1, "Exchange": 2, "Filter": 4,
                "HashAggregate": 4, "Project": 4, "Scan": 3,
            },
        ),
        (
            "w_topk_suppliers_per_nation",
            {
                "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 2,
                "Filter": 4, "HashAggregate": 2, "Project": 3, "Scan": 3, "Sort": 2,
                "Window": 1, "WindowGroupLimit": 2,
            },
        ),
    ],
)
def test_tpch_plan_shape(spark, sf_dir, row, counts):
    """Each TPC-H row (and w_topk_suppliers_per_nation, which shares
    their revenue and nation pieces) keeps its pre-AQE physical plan:
    the full operator census below the one AdaptiveSparkPlan root,
    joins, broadcasts, exchanges and projections alike."""
    from streams_spark.plans.inspect import operator_counts

    got = operator_counts(REGISTRY[row].fn(spark, sf_dir))
    assert got.pop("AdaptiveSparkPlan") == 1
    assert dict(got) == counts


def _tool(name):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        f"{name}.py",
    )
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "row, keys, table, measure",
    [
        (
            "q_rollup_revenue",
            ("l_returnflag", "l_linestatus"),
            "lineitem",
            "l_extendedprice * (1 - l_discount)",
        ),
        (
            "q_cube_orders",
            ("o_orderstatus", "o_orderpriority"),
            "orders",
            "o_totalprice",
        ),
    ],
)
def test_grand_total_row(
    spark, sf_dir, tmp_path, monkeypatch, row, keys, table, measure
):
    """The () grouping set of the rollup and cube rows. Over empty
    tables Spark's Expand emits no row at all, so the row synthesizes
    exactly one: NULL keys, NULL sum, n = 0. Over data the row keeps
    Spark's own () row, which equals the whole-table aggregate."""
    from streams_spark.sources.tables import load_table

    fuzz = _tool("fuzz_oracle")
    monkeypatch.setattr(fuzz, "FUZZ_ROOT", str(tmp_path))
    empty = fuzz.build_degenerate_dir(sf_dir, "empty")
    assert [tuple(r) for r in REGISTRY[row].fn(spark, empty).collect()] == [
        (None, None, None, 0)
    ]

    rows = REGISTRY[row].fn(spark, sf_dir).collect()
    grand = [tuple(r)[2:] for r in rows if all(r[k] is None for k in keys)]
    whole = load_table(spark, sf_dir, table).selectExpr(
        f"round(sum({measure}), 2)", "count(1)"
    )
    assert grand == [tuple(whole.first())]


def test_benford_probabilities_and_coverage(spark, sf_dir):
    """Nine digits, observed frequencies sum to ~1, theoretical curve
    is the Benford distribution, and the audit flags TPC-H's uniform
    generator (max deviation well above a Benford-conforming corpus)."""
    rows = sorted(_rows(spark, sf_dir, "q_benford"), key=lambda r: r.digit)
    import math

    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.observed for r in rows) - 1.0) < 1e-2
    for r in rows:
        assert abs(r.benford - math.log10(1 + 1 / r.digit)) < 1e-3
        assert abs(r.abs_dev - abs(r.observed - r.benford)) < 1e-3
    assert max(r.abs_dev for r in rows) > 0.05  # uniform prices != Benford


def test_quality_ablation_monotone_and_consistent(spark, sf_dir):
    """Dropping any rule can only grow the survivor set; no_rules is
    the corpus; none_ablated matches t_c4_rules' keep count."""
    rows = {r.ablated: r.n_survivors for r in _rows(spark, sf_dir, "p_quality_ablation")}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert rows["no_rules"] == n_docs
    base = rows["none_ablated"]
    for k in ("word_count", "mean_len", "stopword", "long_word"):
        assert base <= rows[k] <= n_docs
    keep = sum(1 for r in _rows(spark, sf_dir, "t_c4_rules") if r.keep)
    assert base == keep


@pytest.mark.parametrize("row", ["d_simhash", "d_simhash_md5"])
def test_simhash_invariants_and_identical_sets(spark, sf_dir, row):
    """Structural invariants (doc_a < doc_b, 0 <= hamming <= 3) plus the
    one hard recall guarantee SimHash makes: documents with IDENTICAL
    distinct-token sets get identical signatures, so every such pair
    MUST appear with hamming 0. (High shingle-Jaccard pairs need not
    pass the tight <= 3 gate — that is the point of the gate.)"""
    rows = _rows(spark, sf_dir, row)
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_set: dict[frozenset, list] = {}
    for d in docs:
        by_set.setdefault(frozenset(d.text.split(" ")), []).append(d.doc_id)
    for ids in by_set.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert got.get((ids[i], ids[j])) == 0


def test_flagship_stream_consistent_with_batch_flagship(spark, sf_dir):
    """The streaming twin's per-(space,hour,segment) counts and revenue
    must reconcile with the batch flagship on the spaces both cover
    (batch adds offset pruning on 'click', so click differs; purchase
    and error rows must match exactly)."""
    batch = {
        (r.space, r.hour, r.c_mktsegment): (r.n_events, r.total_value)
        for r in _rows(spark, sf_dir, "v_flagship_consume_enrich")
        if r.space in ("purchase", "error")
    }
    stream = {
        (r.space, r.window_start, r.c_mktsegment): (r.n_events, r.total_value)
        for r in _rows(spark, sf_dir, "st_flagship_stream")
        if r.space in ("purchase", "error")
    }
    assert batch.keys() == stream.keys()
    for k, (n, v) in batch.items():
        assert stream[k][0] == n
        assert abs(stream[k][1] - v) < 0.02


def test_kmv_estimate_within_error_bounds(spark, sf_dir):
    """KMV estimates must sit within ~4 standard errors of truth
    (sigma ~ n/sqrt(k-2)), and small groups (< k distinct) must be
    exact."""
    import math

    from streams_spark.operators.relational import KMV_K

    rows = _rows(spark, sf_dir, "q_kmv_distinct")
    assert len(rows) == 5
    for r in rows:
        if r.exact_distinct < KMV_K:
            assert r.kmv_estimate == r.exact_distinct
        else:
            sigma = r.exact_distinct / math.sqrt(KMV_K - 2)
            assert abs(r.kmv_estimate - r.exact_distinct) <= 4 * sigma, r


def test_cdc_chunks_reconstruct_and_realign(spark, sf_dir):
    """Content-defined chunking is lossless and shift-invariant:
    (a) per-doc chunks tile [0, n) exactly (concatenation reconstructs
    the payload), and (b) for a payload equal to another payload with a
    prefix prepended, every chunk after the first boundary of the
    shorter doc reappears verbatim — the realignment property that
    fixed-size blocking lacks."""
    import pyspark.sql.functions as F

    from streams_spark.operators.multimodal import (
        CDC_WINDOW,
        cdc_chunk_table,
    )

    chunks = cdc_chunk_table(spark, sf_dir).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.start)
        assert rs[0].start == 0
        assert rs[-1].end == len(docs[doc_id])
        for a, b in zip(rs, rs[1:]):
            assert a.end == b.start, "chunks must tile without gaps"

    # (b) realignment: re-chunk one payload with a synthetic prefix via
    # the same boundary rule, computed directly in SQL on a 2-row frame
    base_id = max(by_doc, key=lambda d: len(by_doc[d]))
    text = docs[base_id]
    shifted = "zqj7 " + text
    two = spark.createDataFrame(
        [("orig", text), ("shift", shifted)], "k string, s string"
    )
    probe = two.select(
        "k",
        "s",
        F.explode(
            F.sequence(F.lit(CDC_WINDOW), F.length("s"))
        ).alias("i"),
    )
    h16 = F.conv(
        F.substring(
            F.md5(F.substring("s", F.col("i") - CDC_WINDOW + 1, CDC_WINDOW)),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    bounds = {"orig": [], "shift": []}
    for r in probe.where(h16 % 32 == 0).select("k", "i").collect():
        bounds[r.k].append(r.i)
    for bs in bounds.values():
        bs.sort()

    def chunk_set(s, bs):
        cuts = [0] + list(bs) + [len(s)]
        return {s[a:b] for a, b in zip(cuts, cuts[1:]) if b > a}

    shift_chunks = chunk_set(shifted, bounds["shift"])
    assert bounds["orig"], "chose the doc with the most chunks"
    first_b = bounds["orig"][0]
    # every orig chunk at/after the first boundary must reappear
    # verbatim in the shifted payload's chunking
    cuts = [0] + bounds["orig"] + [len(text)]
    after_first = {
        text[a:b] for a, b in zip(cuts, cuts[1:]) if a >= first_b and b > a
    }
    assert after_first <= shift_chunks, (
        "chunks after the first boundary must survive a prefix shift"
    )


def test_dsir_selects_target_like_documents(spark, sf_dir):
    """DSIR selection must actually target the distribution: the
    English share among selected docs exceeds the corpus English share
    (the importance ratio rewards target-LM-likely tokens), and
    exactly the top decile (by count) is kept."""
    from streams_spark.sources.tables import load_table

    rows = _rows(spark, sf_dir, "p_dsir_resample")
    docs = load_table(spark, sf_dir, "documents").select("lang").collect()
    n_docs = len(docs)
    corpus_en = sum(1 for r in docs if r.lang == "en") / n_docs
    sel_en = sum(1 for r in rows if r.lang == "en") / len(rows)
    assert sel_en > corpus_en
    assert len(rows) <= max(1, round(0.12 * n_docs))


def test_closure_semi_naive_matches_recursive_cte(spark):
    """The semi-naive loop and the recursive-CTE reference are the same
    operator: on a DAG with a chain, a diamond (two paths
    of different length to the same node) and a disconnected edge, both
    emit identical (pair -> min_hops) maps; min_hops is the SHORTEST
    path even when a longer derivation exists."""
    from streams_spark.operators.dedup import (
        _TRANSITIVE_SQL,
        _closure_semi_naive,
    )

    #      1 -> 2 -> 3 -> 4   (chain)
    #      5 -> 6, 5 -> 7 -> 6 -> 8   (diamond: 5->6 direct and via 7)
    #      90 -> 91   (island)
    edge_rows = [
        (1, 2), (2, 3), (3, 4),
        (5, 6), (5, 7), (7, 6), (6, 8),
        (90, 91),
    ]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")

    got_iter = {
        (r.excerpt_id, r.container_id): r.min_hops
        for r in _closure_semi_naive(edges, len(edge_rows)).collect()
    }
    edges.createOrReplaceTempView("cont_edges")
    try:
        got_cte = {
            (r.excerpt_id, r.container_id): r.min_hops
            for r in spark.sql(_TRANSITIVE_SQL).collect()
        }
    finally:
        spark.catalog.dropTempView("cont_edges")
    assert got_iter == got_cte
    assert got_iter[(5, 6)] == 1  # shortest path wins over 5->7->6
    assert got_iter[(5, 8)] == 2  # via the direct 5->6 edge, not 3 hops
    assert got_iter[(1, 4)] == 3 and (90, 91) in got_iter


def test_closure_semi_naive_empty_edges(spark):
    from streams_spark.operators.dedup import _closure_semi_naive

    out = _closure_semi_naive(
        spark.createDataFrame([], "src long, dst long"), 0
    )
    assert out.count() == 0
    assert out.columns == ["excerpt_id", "container_id", "min_hops"]


def test_closure_semi_naive_chain_longer_than_cc_cap(spark):
    """A 30-edge chain takes 30 rounds, more than the CC loops' cap of
    20: the closure's cap follows its edge count."""
    from streams_spark.operators.dedup import _closure_semi_naive

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    got = {
        (r.excerpt_id, r.container_id): r.min_hops
        for r in _closure_semi_naive(edges, 30).collect()
    }
    assert got[(0, 30)] == 30
    assert len(got) == 30 * 31 // 2


def _chain6(spark):
    """The 6-node path 0-1-2-3-4-5 as canonical (u, v < u) edges and as
    a bidirected (src, dst) list."""
    from pyspark.sql import functions as F

    canon = spark.createDataFrame(
        [(i + 1, i) for i in range(5)], "u long, v long"
    )
    bidir = canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).union(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    return canon, bidir


def test_cc_min_label_raises_at_round_cap(spark):
    """Min-label needs a round per hop of the chain; two rounds cannot
    converge, so the loop raises instead of returning wrong labels."""
    from streams_spark.operators.dedup import cc_min_label

    _, bidir = _chain6(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_min_label(bidir, max_rounds=2)


def test_cc_star_raises_at_round_cap(spark):
    """One star round reshapes the chain, so its checksum changes and
    a cap of one round raises."""
    from streams_spark.operators.dedup import cc_star

    canon, _ = _chain6(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_star(canon, max_rounds=1)


def test_grid_percentile_matches_exact_rank_on_grid(spark, sf_dir):
    """The grid-quantile estimate equals the exact rank statistic
    computed over grid-quantized values (numpy recompute), and sits
    within one grid pitch of the true discrete percentile."""
    import numpy as np

    from streams_spark.sources.tables import load_table

    got = {
        r.l_returnflag: (r.n_rows, r.grid_median_qty, r.grid_p90_price)
        for r in _rows(spark, sf_dir, "q_grid_percentile")
    }
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_flag: dict = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, ([], []))
        by_flag[r.l_returnflag][0].append(r.l_quantity)
        by_flag[r.l_returnflag][1].append(r.l_extendedprice)
    assert set(got) == set(by_flag)
    for flag, (qty, price) in by_flag.items():
        n = len(qty)
        qcells = np.sort(np.floor(np.array(qty) * 100).astype(np.int64))
        pcells = np.sort(np.floor(np.array(price)).astype(np.int64))
        # smallest cell with cum >= rank  ==  sorted[rank-1], rank=ceil(qn)
        want_med = qcells[-(-n // 2) - 1] / 100.0
        want_p90 = float(pcells[-(-9 * n // 10) - 1])
        assert got[flag] == (n, want_med, want_p90)
        exact_med = float(np.sort(qty)[-(-n // 2) - 1])
        exact_p90 = float(np.sort(price)[-(-9 * n // 10) - 1])
        assert 0 <= exact_med - got[flag][1] < 0.01 + 1e-9
        assert 0 <= exact_p90 - got[flag][2] < 1.0


def test_kmv_setops_matches_python_recompute(spark, sf_dir):
    """q_kmv_setops must equal a from-scratch pure-Python KMV
    implementation on the same parquet (exact counts AND the sketch
    estimates — the estimates are deterministic md5 arithmetic), and
    estimates stay within 50% of exact (k=64 => ~12.7% std; the fixed
    md5 draw on this corpus sits ~2 sigma low, so the bound is loose
    on purpose)."""
    import hashlib

    from streams_spark.operators.relational import _KMV_U, KMV_K
    from streams_spark.sources.tables import load_table

    got = {
        (r.prio_a, r.prio_b): (
            r.exact_a, r.exact_b, r.exact_inter, r.exact_union,
            r.kmv_inter, r.kmv_union,
        )
        for r in _rows(spark, sf_dir, "q_kmv_setops")
    }
    d = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .collect()
    )
    sets: dict = {}
    for r in d:
        sets.setdefault(r.o_orderpriority, set()).add(r.o_custkey)

    def h(c):
        return int(hashlib.md5(str(c).encode()).hexdigest()[:15], 16)

    def sketch(cs):
        return sorted(h(c) for c in cs)[:KMV_K]

    import math

    want = {}
    for pa in sorted(sets):
        for pb in sorted(sets):
            if pa >= pb:
                continue
            A, B = sets[pa], sets[pb]
            sa, sb = sketch(A), sketch(B)
            tha = _KMV_U if len(sa) < KMV_K else sa[-1]
            thb = _KMV_U if len(sb) < KMV_K else sb[-1]
            theta = min(tha, thb)
            cb = len({x for x in sa if x < theta} & {x for x in sb if x < theta})
            kmv_inter = math.floor(cb * float(_KMV_U) / theta + 0.5)
            merged = sorted(set(sa) | set(sb))
            if len(merged) < KMV_K:
                kmv_union = len(merged)
            else:
                kmv_union = math.floor(
                    (KMV_K - 1) * float(_KMV_U) / merged[KMV_K - 1] + 0.5
                )
            want[(pa, pb)] = (
                len(A), len(B), len(A & B), len(A | B), kmv_inter, kmv_union,
            )
    assert got == want
    for (pa, pb), (_, _, ei, eu, ki, ku) in want.items():
        assert abs(ki - ei) <= 0.5 * eu
        assert abs(ku - eu) <= 0.5 * eu


def test_tier_and_priority_survive_digitless_sources(spark):
    """Under ANSI mode, a digit-less source name must fall through to
    tier 2 / rank-last (try_cast), not throw CAST_INVALID_INPUT."""
    import pyspark.sql.functions as F

    from streams_spark.operators.pipeline import _tier

    df = spark.createDataFrame(
        [("web",), ("src3",), ("src7",), ("ab",)], "source string"
    )
    got = {
        r.source: r.tier
        for r in df.select(
            "source", _tier(F.col("source")).alias("tier")
        ).collect()
    }
    assert got == {"web": 2, "src3": 0, "src7": 1, "ab": 2}
    # the priority expression: digit-less suffix orders LAST, no throw
    prio = F.substring("source", 4, 10).try_cast("int")
    ranked = df.orderBy(F.asc_nulls_last(prio)).collect()
    assert ranked[-1].source in ("web", "ab")


def test_ingest_guard_counts_nonfinite_and_null(spark):
    """p_ingest_guard must classify every measurement row exactly:
    known injected NaN / +-Inf / NULL counts per event_type, with the
    finite min/max untouched by the garbage (the finite-measurement
    precondition the time-series family rests on)."""
    import math

    import streams_spark.operators.pipeline as P
    import streams_spark.sources.tables as T

    rows = []
    # type 'a': 4 finite, 1 NaN, 1 +Inf, 1 NULL
    for i, v in enumerate([1.0, 2.5, -3.0, 10.0, float("nan"),
                           float("inf"), None]):
        rows.append((i, "a", v))
    # type 'b': 2 finite, 1 -Inf
    for i, v in enumerate([7.0, 8.0, float("-inf")], start=100):
        rows.append((i, "b", v))
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )

    orig = T.load_table
    try:
        P.load_table = lambda _s, _d, name: ev
        out = {
            r.event_type: r
            for r in P.p_ingest_guard(spark, "unused").collect()
        }
    finally:
        P.load_table = orig

    a, b = out["a"], out["b"]
    assert (a.n_rows, a.n_null, a.n_nonfinite, a.n_finite) == (7, 1, 2, 4)
    assert (a.min_finite, a.max_finite) == (-3.0, 10.0)
    assert (b.n_rows, b.n_null, b.n_nonfinite, b.n_finite) == (3, 0, 1, 2)
    assert (b.min_finite, b.max_finite) == (7.0, 8.0)
    assert not any(
        math.isnan(x) or math.isinf(x)
        for r in (a, b)
        for x in (r.min_finite, r.max_finite)
    )


def test_prefix_jaccard_equals_inverted_index(spark, sf_dir):
    """The df-ordered PPJoin prefix formulation is an exact rewrite:
    identical (doc_a, doc_b, jaccard) rows as the inverted-index join
    (the prefix theorem guarantees completeness for J >= t; the
    array_intersect verify guarantees precision)."""
    a = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _rows(spark, sf_dir, "d_ngram_jaccard")
    }
    b = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _rows(spark, sf_dir, "d_ngram_jaccard_prefix")
    }
    assert a == b and len(a) > 0


def test_jaccard_regime_dispatch(spark, sf_dir):
    """The auto dispatcher picks the measured regime on both fixture
    classes (VERDICT r8 #4): a low-redundancy corpus probes under
    PPJOIN_HOT_DF_RATIO and gets the co-occurrence aggregate; a corpus
    where 30% of docs share a boilerplate paragraph probes above it
    and gets the PPJoin prefix join. Either way the result set is the
    same exact pair set as d_ngram_jaccard."""
    import os
    import tempfile

    from streams_spark import cache
    from streams_spark.operators.dedup import (
        PPJOIN_HOT_DF_RATIO,
        d_ngram_jaccard,
        d_ngram_jaccard_auto,
        jaccard_regime,
        shingle_table,
    )

    boiler = " ".join(f"legal{i}" for i in range(12))
    low_rows = [
        (i, " ".join(f"doc{i}tok{j}" for j in range(20))) for i in range(40)
    ]
    high_rows = [
        (
            i,
            " ".join(f"doc{i}tok{j}" for j in range(20))
            + (" " + boiler if i % 10 < 3 else ""),
        )
        for i in range(40)
    ]
    for rows, expected in ((low_rows, "cooccurrence"), (high_rows, "prefix")):
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).write.parquet(os.path.join(td, "documents.parquet"))
            cache.clear()
            try:
                regime, ratio = jaccard_regime(shingle_table(spark, td))
                assert regime == expected, (regime, ratio)
                if expected == "prefix":
                    assert ratio >= PPJOIN_HOT_DF_RATIO
                else:
                    assert ratio < PPJOIN_HOT_DF_RATIO
                auto = {
                    (r.doc_a, r.doc_b, r.jaccard)
                    for r in d_ngram_jaccard_auto(spark, td).collect()
                }
                exact = {
                    (r.doc_a, r.doc_b, r.jaccard)
                    for r in d_ngram_jaccard(spark, td).collect()
                }
                assert auto == exact
            finally:
                cache.clear()
