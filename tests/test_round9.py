"""Round-9 (driver round 5) regression tests: the ADVICE fixes
(histogram-sketch argmin quantiles, CDC seq tie-break, distinct
negative samples) plus the scale fixes (linear trending decay,
single-scan observability, ANN-shortlisted bipartite align) and the
array-output canonicalization sweep."""

import pytest

from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


# ------------------------------------------- histogram sketch argmin


def test_histsketch_outlier_stretched_bins_stay_in_range(spark):
    """ADVICE (high): with min-over-ALL-qualifying-bins the median of
    values in [0, 9.9] plus one outlier at 1000 extrapolated to ~-72
    (negative — below the data minimum). The argmin-by-bin fix must
    keep every estimate inside [data_min, data_max]."""
    from module8_movies_etl_spark.operators.sketches import (
        histogram_sketch_quantiles,
    )

    vals = [i / 10.0 for i in range(100)] + [1000.0]  # [0, 9.9] + outlier
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    r = histogram_sketch_quantiles(df, "k", "v", n_bins=64).collect()[0]
    width = 1000.0 / 64
    for q in ("est_q50", "est_q95", "est_q99"):
        assert 0.0 <= r[q] <= 1000.0, (q, r[q])
    # all of [0, 9.9] lands in bin 0 → p50/p95 interpolate inside bin 0
    assert r["est_q50"] <= width and r["est_q95"] <= width


def test_histsketch_estimate_within_bin_width_of_truth(spark):
    """The docstring's 'error bounded by the bin width' claim, pinned
    on a skewed (non-uniform) distribution."""
    from module8_movies_etl_spark.operators.sketches import (
        histogram_sketch_quantiles,
    )

    vals = [float(i * i) / 1000.0 for i in range(1, 1001)]  # quadratic ramp
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    r = histogram_sketch_quantiles(df, "k", "v", n_bins=64).collect()[0]
    lo, hi = vals[0], vals[-1]
    width = (hi - lo) / 64
    svals = sorted(vals)
    for q, name in ((0.5, "est_q50"), (0.95, "est_q95"), (0.99, "est_q99")):
        exact = svals[max(0, int(q * len(svals)) - 1)]
        assert abs(r[name] - exact) <= 2 * width, (name, r[name], exact)


# ------------------------------------------------- CDC seq tie-break


def test_apply_cdc_equal_seq_deterministic_tiebreak(spark):
    """ADVICE: two delta rows for the same key with EQUAL sequence
    numbers must resolve deterministically — delete beats upsert
    (asc(_op): 'D' < 'U'), exactly like the no-seq path."""
    from module8_movies_etl_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    delta = spark.createDataFrame(
        [(1, "new", "U", 7), (1, "old", "D", 7), (2, "keep2", "U", 3)],
        "k int, v string, op string, seq int",
    )
    out = apply_cdc(base, delta, "k", op_col="op", seq_col="seq")
    rows = {r["k"]: r["v"] for r in out.collect()}
    # key 1: equal-seq D vs U → D wins deterministically → key deleted
    assert rows == {2: "keep2"}
    # run twice under different partitioning: identical survivor set
    out2 = apply_cdc(
        base.repartition(7), delta.repartition(5), "k", op_col="op",
        seq_col="seq",
    )
    assert {r["k"]: r["v"] for r in out2.collect()} == rows


def test_apply_cdc_equal_seq_upserts_pick_lowest_hash(spark):
    from module8_movies_etl_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([], "k int, v string")
    delta = spark.createDataFrame(
        [(1, "a", "U", 5), (1, "b", "U", 5)],
        "k int, v string, op string, seq int",
    )
    r1 = apply_cdc(base, delta, "k", op_col="op", seq_col="seq").collect()
    r2 = apply_cdc(
        base, delta.repartition(4), "k", op_col="op", seq_col="seq"
    ).collect()
    assert len(r1) == 1 and r1 == r2


# ------------------------------------------ distinct negative samples


def test_negative_samples_distinct_in_tiny_groups(spark):
    """ADVICE: with n=3, k=4, stride=1 the modular positions repeat;
    each anchor must emit DISTINCT neg_ids (lowest neg_idx wins)."""
    from module8_movies_etl_spark.operators.curation import negative_samples

    df = spark.createDataFrame(
        [(i, "g") for i in range(3)], "doc_id int, lang string"
    )
    out = negative_samples(df, "doc_id", "lang", k=4).collect()
    per_anchor = {}
    for r in out:
        per_anchor.setdefault(r["doc_id"], []).append((r["neg_idx"], r["neg_id"]))
    for anchor, negs in per_anchor.items():
        ids = [n for _, n in negs]
        assert len(ids) == len(set(ids)), (anchor, negs)
        assert anchor not in ids
        # n=3 → exactly the 2 other members survive
        assert len(ids) == 2


# ------------------------------------- ANN-shortlisted bipartite align


def test_bipartite_align_ann_recall_vs_exact(spark):
    """VERDICT #6: the LSH-shortlisted alignment must (a) cover every
    probe, (b) agree with the exact cross-product alignment on ≥95% of
    match_ids, and (c) have no full crossJoin in its plan (only the
    bounded |misses|×|right| fallback leg)."""
    from module8_movies_etl_spark.operators.similarity import (
        bipartite_align,
        bipartite_align_ann,
    )

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    left = emb.filter(F.pmod(F.col("label"), F.lit(2)) == 0)
    right = emb.filter(F.pmod(F.col("label"), F.lit(2)) == 1)
    exact = {
        r["vec_id"]: r["match_id"] for r in bipartite_align(left, right).collect()
    }
    ann_df = bipartite_align_ann(left, right)
    ann = {r["vec_id"]: r["match_id"] for r in ann_df.collect()}
    assert set(ann) == set(exact)  # every probe aligned
    agree = sum(1 for k in exact if ann[k] == exact[k])
    recall = agree / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95"
    # |right| >= 2, so EVERY probe must carry a real runner-up margin
    # (sub-2-candidate shortlists take the exact fallback)
    margins = [r["margin"] for r in ann_df.collect()]
    assert all(m is not None for m in margins), margins.count(None)


def test_ewma_degenerate_alphas(spark):
    """Review fix: alpha=0 (q=1, no decay) must not divide by zero —
    it falls back to the full-prefix fold where e_i = x_0; alpha=1
    keeps only the newest term (e_i = x_i)."""
    from module8_movies_etl_spark.operators.timeseries import ewma_smooth

    rows = [("k", f"2024-01-01 0{h}:00:00", float(h + 1)) for h in range(5)]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    e0 = ewma_smooth(df, "k", "ts", "v", 3600, alpha=0.0)
    vals0 = {r["bucket_start"]: r["ewma"] for r in e0.collect()}
    assert all(abs(v - 1.0) < 1e-12 for v in vals0.values()), vals0
    e1 = ewma_smooth(df, "k", "ts", "v", 3600, alpha=1.0)
    vals1 = sorted(r["ewma"] for r in e1.collect())
    assert vals1 == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_pivot_count_fixed_null_semantics(spark):
    """Review fix: absent values and all-NULL pivot groups both emit
    0 (histogram semantics), documented as DIFFERENT from the general
    pivot-count's NULL-for-absent-slot behavior."""
    from module8_movies_etl_spark.operators.pivot import (
        pivot_count,
        pivot_count_fixed,
    )

    df = spark.createDataFrame(
        [(1, "A"), (2, "N"), (3, None)], "k int, f string"
    )
    fixed = {r["k"]: r for r in
             pivot_count_fixed(df, "k", "f", ["A", "N", "R"]).collect()}
    assert fixed[1]["R"] == 0 and fixed[1]["A"] == 1   # absent -> 0
    assert fixed[3]["A"] == 0 and fixed[3]["R"] == 0   # all-NULL grp -> 0
    gen = {r["k"]: r for r in
           pivot_count(df, "k", "f", values=["A", "N", "R"]).collect()}
    assert gen[1]["R"] is None  # the general form's documented contrast


# ------------------------------------- NULL handling in robust stats


def test_winsorize_preserves_null(spark):
    """Review fix: greatest/least skip NULL args, so an unguarded clip
    fabricated the lower percentile for missing values."""
    from module8_movies_etl_spark.operators.robust import winsorize

    vals = [(float(i),) for i in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(vals, "v double")
    out = winsorize(df, "v", 0.01, 0.99, out_col="w").collect()
    nulls = [r for r in out if r["v"] is None]
    assert len(nulls) == 1 and nulls[0]["w"] is None
    clipped = {r["v"]: r["w"] for r in out if r["v"] is not None}
    assert clipped[1.0] > 1.0 and clipped[100.0] < 100.0  # clip works


def test_equidepth_excludes_null(spark):
    """Review fix: NULL values used to collapse into bin 1 via
    greatest() null skipping; they must be excluded entirely."""
    from module8_movies_etl_spark.operators.robust import equidepth_histogram

    vals = [(float(i),) for i in range(1, 81)] + [(None,)] * 20
    df = spark.createDataFrame(vals, "v double")
    out = equidepth_histogram(df, "v", n_bins=8).collect()
    assert sum(r["n_rows"] for r in out) == 80  # NULLs not counted


def test_skyline_excludes_null_coordinates(spark):
    from module8_movies_etl_spark.operators.robust import skyline_2d

    df = spark.createDataFrame(
        [("g", 1, 5, 10), ("g", 2, None, 1), ("g", 3, 3, 20)],
        "k string, id int, x int, y int",
    )
    out = skyline_2d(df, "k", F.col("x"), F.col("y"), "id").collect()
    ids = {r["id"] for r in out}
    assert 2 not in ids        # NULL-coordinate row excluded by rule
    assert ids == {1, 3}       # neither survivor dominates the other


def test_pagerank_empty_graph(spark):
    """Review fix: an empty pair graph returns an empty frame instead
    of ZeroDivisionError on the node count."""
    from module8_movies_etl_spark.operators.graphs import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank(empty)
    assert out.columns == ["node", "rank"] and out.count() == 0


# --------------------------- stats/sketches review batch (round 5)


def test_cms_estimate_absent_item_is_zero(spark):
    """Review fix: probing an item the build stream never saw must
    return 0 (left join + coalesce), not vanish or overestimate."""
    from module8_movies_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    build = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, "w string")
    grid = cms_build(build, "w", depth=4, width=256)
    probes = spark.createDataFrame(
        [("a",), ("zqx_never_seen",)], "w string"
    )
    out = {r["w"]: r["cms_estimate"] for r in
           cms_estimate(grid, probes, "w", depth=4, width=256).collect()}
    assert set(out) == {"a", "zqx_never_seen"}  # probe row not dropped
    assert out["a"] >= 5
    # with 8 build occurrences over 4x256 cells, at least one of the
    # unseen item's 4 cells is empty -> count-min returns 0
    assert out["zqx_never_seen"] == 0


def test_chi2_excludes_null_categories(spark):
    from module8_movies_etl_spark.operators.stats import chi2_independence

    df = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"), (None, "p"),
         ("x", None)],
        "a string, b string",
    )
    r = chi2_independence(df, "a", "b").collect()[0]
    assert r["n"] == 4  # NULL-category rows excluded
    assert r["chi2"] is not None and r["chi2"] == r["chi2"]  # not NaN


def test_chi2_empty_input_returns_empty(spark):
    from module8_movies_etl_spark.operators.stats import chi2_independence

    df = spark.createDataFrame([], "a string, b string")
    assert chi2_independence(df, "a", "b").count() == 0


def test_mad_outlier_empty_input_returns_empty(spark):
    from module8_movies_etl_spark.operators.stats import mad_outlier_counts

    df = spark.createDataFrame([], "k string, v double")
    out = mad_outlier_counts(df, "k", "v")
    assert out.count() == 0
    assert out.columns == ["k", "n", "med", "mad", "n_outliers"]


def test_bootstrap_tiny_key_no_nan(spark):
    """Review fix: a 1-row key draws all-zero Poisson weights in ~37%
    of replicates; those must be skipped, not averaged into NaN."""
    import math

    from module8_movies_etl_spark.operators.stats import bootstrap_mean_ci

    df = spark.createDataFrame([("solo", 1, 42.0)], "k string, id int, v double")
    r = bootstrap_mean_ci(df, "k", "v", "id", n_replicates=100).collect()[0]
    for c in ("ci_lo", "ci_hi", "mean_full"):
        assert r[c] is not None and not math.isnan(r[c]), (c, r[c])
    assert r["ci_lo"] == r["ci_hi"] == 42.0  # every surviving mean is 42


def test_group_trend_pairwise_complete(spark):
    """Review fix: rows with NULL x or y are excluded from n AND the
    co-moments (REGR_* semantics) in both the native and grouped-map
    paths, which must also preserve the key's type."""
    from module8_movies_etl_spark.operators.stats import (
        group_trend,
        group_trend_applyinpandas,
    )

    rows = [(1, 0, 0.0), (1, 1, 1.0), (1, 2, None), (1, None, 5.0),
            (2, 0, None)]
    df = spark.createDataFrame(rows, "k int, x int, y double")
    nat = {r["k"]: r for r in group_trend(df, "k", "x", "y", 1.0).collect()}
    assert nat[1]["n"] == 2 and abs(nat[1]["slope"] - 1.0) < 1e-9
    assert 2 not in nat  # no complete pair -> group vanishes
    gm = {r["k"]: r for r in
          group_trend_applyinpandas(df, "k", "x", "y", 1.0).collect()}
    assert set(gm) == {1} and gm[1]["n"] == 2
    assert isinstance(list(gm)[0], int)  # key type preserved, not str


def test_rolling_avg_divides_by_nonnull_count(spark):
    from module8_movies_etl_spark.operators.timeseries import (
        rolling_window_stats,
    )

    rows = [("k", i, i, v) for i, v in enumerate([10.0, None, 20.0])]
    df = spark.createDataFrame(rows, "k string, ts long, id long, v double")
    out = {r["id"]: r for r in
           rolling_window_stats(df, "k", "ts", "id", "v", frame=3).collect()}
    assert out[2]["roll_n"] == 3          # frame row count unchanged
    assert out[2]["roll_sum"] == 30.0
    assert out[2]["roll_avg"] == 15.0     # 30/2 non-null, not 30/3


def test_kmv_rolling_exact_count_not_capped(spark):
    """Review fix: n_exact_bucket reports the true per-bucket distinct
    count even above k."""
    from module8_movies_etl_spark.operators.sketches import (
        kmv_rolling_distinct,
    )

    rows = [("2024-01-01 00:%02d:%02d" % (m, s), (m * 60 + s))
            for m in range(3) for s in range(0, 60, 2)]  # 90 distinct
    df = spark.createDataFrame(rows, "ts string, v long").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    r = kmv_rolling_distinct(df, "ts", "v", 3600, 24, k=64).collect()[0]
    assert r["n_exact_bucket"] == 90  # not capped at 64


# ------------------------- functions/pipeline review batch (round 5)


def test_asof_null_payload_not_backfilled(spark):
    """Review fix: the matched right row's NULL payload cell must stay
    NULL — per-column last(ignorenulls) used to patch it with a stale
    value from an OLDER right row (mixing columns across rows)."""
    from module8_movies_etl_spark.operators.asof import asof_join_backward

    right = spark.createDataFrame(
        [("k", 1, 5.0), ("k", 2, None)], "k string, rts int, price double"
    )
    left = spark.createDataFrame([("k", 3)], "k string, lts int")
    r = asof_join_backward(
        left, right, ["k"], "lts", "rts", ["price"]
    ).collect()[0]
    assert r["asof_rts"] == 2
    assert r["asof_price"] is None  # NOT 5.0 from the ts=1 row


def test_rename_consolidation_variant_beats_target(spark):
    """Review fix: the reference's movie[new] = movie.pop(old)
    OVERWRITES the target, so a record with both 'Producer(s)' and
    'Produced by' keeps the VARIANT's value."""
    from module8_movies_etl_spark.functions.cleaning import coalesce_first
    from module8_movies_etl_spark.pipelines.movies_etl import (
        RENAME_CONSOLIDATION,
    )

    df = spark.createDataFrame(
        [("X", "Y")], "`Producer(s)` string, `Produced by` string"
    )
    out = df.select(
        coalesce_first(df, *RENAME_CONSOLIDATION["Producer(s)"]).alias("p")
    ).collect()[0]
    assert out["p"] == "Y"  # the variant, not the pre-existing target
    # and the canonical target still survives when no variant exists
    df2 = spark.createDataFrame([("X",)], "`Producer(s)` string")
    out2 = df2.select(
        coalesce_first(df2, *RENAME_CONSOLIDATION["Producer(s)"]).alias("p")
    ).collect()[0]
    assert out2["p"] == "X"


def test_left_join_small_fills_dotted_columns(spark):
    """Review fix: na.fill skips dotted names ('rating_0.5' - the
    reference pivot's own output); the coalesce-based fill must not."""
    from module8_movies_etl_spark.operators.joins import left_join_small

    fact = spark.createDataFrame([(1,), (2,)], "id int")
    small = spark.createDataFrame([(1, 7)], "id int, `rating_0.5` int")
    out = {r["id"]: r for r in
           left_join_small(fact, small, on="id", fill_zero=["rating_0.5"],
                           bounded=True).collect()}
    assert out[1]["rating_0.5"] == 7
    assert out[2]["rating_0.5"] == 0  # filled despite the dot


def test_salted_join_rejects_right_full(spark):
    from module8_movies_etl_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, 10)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "k int, d string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(fact, dim, on="k", spread_col="v", how="full")


def test_null_prune_empty_input_keeps_nothing(spark):
    """Review fix: reference semantics - null_count < 0.9*0 is false
    for every column, so an empty frame keeps NO columns."""
    from module8_movies_etl_spark.operators.filters import null_prune

    df = spark.createDataFrame([], "a string, b int").filter(F.lit(False))
    assert null_prune(df) == []


def test_bloom_fp_rate_conditions_on_nonmembers(spark):
    from module8_movies_etl_spark.operators.sketches import bloom_build_probe

    build = spark.createDataFrame([(i,) for i in range(10)], "k int")
    probes = spark.createDataFrame([(i,) for i in range(20)], "p int")
    r = bloom_build_probe(build, "k", probes, "p", 4096, 3).collect()[0]
    assert r["n_members"] == 10 and r["n_probe"] == 20
    expected = r["n_false_pos"] / (r["n_probe"] - r["n_members"])
    assert abs(r["fp_rate"] - round(expected, 6)) < 1e-9


# ---------------------------------------- BPE-regex pretoken counting


def test_bpe_pretoken_counts_known_values(spark):
    from module8_movies_etl_spark.operators.text import bpe_pretoken_stats

    rows = [
        (1, "Hello world"),        # 2 words, 2 pretokens
        (2, "it's x=42"),          # it|'s| x|=|42 -> 5 pretokens, 2 words
        (3, ""),                   # empty -> 0/0, ratio NULL
        (4, "   "),                # ws-only: 0 words, 1 ws-run pretoken
    ]
    df = spark.createDataFrame(rows, "doc_id int, t string")
    out = {r["doc_id"]: r for r in bpe_pretoken_stats(df, "doc_id", "t").collect()}
    assert out[1]["n_ws_tokens"] == 2 and out[1]["n_bpe_pretokens"] == 2
    assert out[2]["n_ws_tokens"] == 2 and out[2]["n_bpe_pretokens"] == 5
    assert out[3]["n_ws_tokens"] == 0 and out[3]["n_bpe_pretokens"] == 0
    assert out[3]["chars_per_pretoken"] is None
    assert out[4]["n_ws_tokens"] == 0 and out[4]["n_bpe_pretokens"] == 1


# ------------------------------------------- sliding-window chunking


def test_chunk_documents_cover_and_overlap(spark):
    from module8_movies_etl_spark.operators.curation import chunk_documents

    text = "abcdefghij" * 100  # 1000 chars
    df = spark.createDataFrame([(1, text), (2, ""), (3, "short")],
                               "doc_id int, t string")
    out = chunk_documents(df, "doc_id", "t", chunk_chars=512, stride=384)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"]))
    d1 = [r for r in rows if r["doc_id"] == 1]
    # starts 1, 385, 769 — last start <= len; window past end not emitted
    assert [r["chunk_start"] for r in d1] == [1, 385, 769]
    assert [r["chunk_len"] for r in d1] == [512, 512, 232]
    # consecutive chunks overlap by chunk-stride = 128 chars
    assert d1[0]["chunk_start"] + 512 - d1[1]["chunk_start"] == 128
    # full coverage: last chunk reaches the end
    assert d1[-1]["chunk_start"] + d1[-1]["chunk_len"] - 1 == 1000
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_len"] == 0  # empty doc survives
    d3 = [r for r in rows if r["doc_id"] == 3]
    assert len(d3) == 1 and d3[0]["chunk_len"] == 5


# ------------------------------------- temperature mixture weights


def test_mixture_temperature_weights_properties(spark):
    from module8_movies_etl_spark.operators.curation import (
        mixture_temperature_weights,
    )

    rows = [("en",)] * 80 + [("de",)] * 15 + [("fi",)] * 5
    df = spark.createDataFrame(rows, "lang string")
    out = {r["lang"]: r for r in
           mixture_temperature_weights(df, "lang", alpha=0.3).collect()}
    assert abs(sum(r["p_samp"] for r in out.values()) - 1.0) < 1e-4
    assert abs(sum(r["p_raw"] for r in out.values()) - 1.0) < 1e-4
    # temperature up-weights scarce groups, down-weights dominant ones
    assert out["fi"]["boost"] > 1.0 > out["en"]["boost"]
    # alpha=1 would be proportional; 0 < alpha < 1 keeps ordering
    assert out["en"]["p_samp"] > out["de"]["p_samp"] > out["fi"]["p_samp"]


# ---------------------------------------------- plan-shape pins (r5)


def test_chunk_and_bpe_plans_have_no_exchange(spark):
    """Both round-5 scan-shaped ops must stay narrow: no Exchange
    anywhere in the physical plan (the chunk fan-out is a per-row
    explode; the token counts are per-row regexp_count)."""
    import module8_movies_etl_spark.plans.benchmark_queries as bq

    for name in ("chunk_documents_sliding", "bpe_pretoken_stats_docs"):
        df = bq.QUERIES[name](spark, SF0001)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)


def test_flagship_pivot_single_exchange(spark):
    """pivot_count_fixed lowers the known-domain pivot to ONE exchange
    on the index key (the general pivot path plans two)."""
    import module8_movies_etl_spark.plans.benchmark_queries as bq

    df = bq.QUERIES["flagship_order_histogram"](spark, SF0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# -------------------------------------------- property-based (r5 ops)


def test_bpe_vs_ws_token_count_property(spark):
    """Every whitespace token decomposes into >=1 pretokens and
    whitespace runs only add matches, so n_bpe >= n_ws for ANY text."""
    from hypothesis import given, settings, strategies as st

    from module8_movies_etl_spark.operators.text import bpe_pretoken_stats

    texts = st.lists(
        st.text(alphabet=st.characters(codec="utf-8",
                                       exclude_characters="\x00"),
                max_size=60),
        min_size=1, max_size=8,
    )

    @settings(max_examples=15, deadline=None)
    @given(texts)
    def check(ts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(ts)], "doc_id int, t string"
        )
        for r in bpe_pretoken_stats(df, "doc_id", "t").collect():
            assert r["n_bpe_pretokens"] >= r["n_ws_tokens"], r

    check()


def test_chunk_reconstruction_property(spark):
    """At stride == chunk_chars (no overlap) the concatenation of the
    chunks must reconstruct the document exactly — for any length,
    including empty and shorter-than-one-chunk texts."""
    from hypothesis import given, settings, strategies as st

    from module8_movies_etl_spark.operators.curation import chunk_documents
    from pyspark.sql import functions as SF

    @settings(max_examples=10, deadline=None)
    @given(st.text(alphabet="ab x", max_size=300), st.integers(5, 50))
    def check(text, chunk):
        df = spark.createDataFrame([(1, text)], "doc_id int, t string")
        out = chunk_documents(df, "doc_id", "t",
                              chunk_chars=chunk, stride=chunk)
        rows = sorted(out.collect(), key=lambda r: r["chunk_idx"])
        # reconstruct via (start, len) spans: contiguous, full cover
        pos = 1
        total = 0
        for r in rows:
            assert r["chunk_start"] == pos
            pos += r["chunk_len"]
            total += r["chunk_len"]
        assert total == len(text)

    check()


# ------------------------------------------------ label propagation


def test_label_propagation_splits_bridged_triangles(spark):
    """Hand-traced golden (round 9): two triangles joined by one
    bridge edge. Connected components would merge everything; four
    LPA rounds settle on the two dense cores — communities {1,2,3}
    (label 1) and {4,5,6} (label 3), traced round by round by hand
    with the min-label tie rule."""
    from module8_movies_etl_spark.operators.graphs import label_propagation

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: (r["community"], r["community_size"])
        for r in label_propagation(pairs, n_rounds=4).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (3, 3), 5: (3, 3), 6: (3, 3),
    }


# --------------------------------------------------- join-MV refresh


def test_refresh_join_mv_hand_golden(spark):
    """Signed delta-join maintenance (round 9): update retracts the
    old row and adds the new one, delete only retracts, an insert on
    a fresh key adds, and a group whose last row is deleted VANISHES
    — row-identical to recomputing over the post-CDC snapshot."""
    from module8_movies_etl_spark.operators.cdc import refresh_join_mv

    base = spark.createDataFrame(
        # (order, cust, cents): groups via dim below — cust 1,2 -> g10;
        # cust 3 -> g20 (single row: its delete must vanish the group)
        [(1, 1, 100), (2, 2, 200), (3, 3, 300)],
        "o long, cust long, cents long",
    )
    dim = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 30)], "c long, g long"
    )
    delta = spark.createDataFrame(
        [
            (2, 2, 250, "U"),   # update: 200 -> 250
            (3, 3, 0, "D"),     # delete the only g20 row
            (9, 4, 700, "U"),   # insert a brand-new key in a new group
        ],
        "o long, cust long, cents long, op string",
    )
    mv = spark.createDataFrame(
        [(10, 300, 2), (20, 300, 1)], "g long, revenue long, n long"
    )
    got = sorted(
        (r["g"], r["revenue"], r["n"])
        for r in refresh_join_mv(
            mv, base, delta, dim,
            fact_key="o", join_key_fact="cust", join_key_dim="c",
            group_col="g", sum_cols={"revenue": "cents"}, count_name="n",
        ).collect()
    )
    # post-CDC snapshot: (1,1,100), (2,2,250), (9,4,700)
    # -> g10: 350/2; g20 gone; g30: 700/1
    assert got == [(10, 350, 2), (30, 700, 1)]
