"""Plan-quality regression tests (the 100 TB posture, pinned) and
partitioned-write → partition-pruning round trip."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from module8_movies_etl_spark.plans import benchmark_queries as bq
from module8_movies_etl_spark.sources import read_table, write_parquet

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = bq.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    assert re.search(r"PushedFilters: \[IsNotNull\(l_shipdate\), LessThanOrEqual", plan)
    plan = plan_of(spark, "filter_project_dates")
    assert "EqualTo(o_orderstatus,F)" in plan


def test_column_pruning_reaches_scan(spark):
    # the star join must read only the join/agg columns, never the wide row
    plan = plan_of(spark, "star_join_revenue")
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    orders_read = next(r for r in reads if "o_custkey" in r)
    assert set(orders_read.split(",")) == {"o_custkey:bigint", "o_totalprice:double"}


def test_dimensions_broadcast(spark):
    plan = plan_of(spark, "star_join_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_flagship_histogram_broadcasts_at_small_sf(spark):
    # the size-checked policy broadcasts while the estimate fits
    plan = plan_of(spark, "flagship_order_histogram")
    assert "BroadcastHashJoin" in plan


def test_left_join_small_policy_is_size_checked(spark):
    """The 100 TB contract: a fact-keyed aggregate above the size
    ceiling must NOT be force-broadcast (it would OOM at scale); a
    caller-asserted bounded side must be broadcast regardless of the
    session's autoBroadcastJoinThreshold."""
    from module8_movies_etl_spark.operators import joins

    li = read_table(spark, SF, "lineitem")
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    hist = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # estimate exceeds a zero threshold -> no hint -> shuffle join
        over = joins.left_join_small(o, hist, on="o_orderkey", broadcast_threshold=0)
        assert "SortMergeJoin" in over._jdf.queryExecution().executedPlan().toString()
        # caller-asserted bounded side -> explicit broadcast survives
        # even with auto-broadcast disabled
        bounded = joins.left_join_small(o, hist, on="o_orderkey", bounded=True)
        assert "BroadcastHashJoin" in bounded._jdf.queryExecution().executedPlan().toString()
        # default policy at bench scale: estimate fits the 64 MB
        # ceiling -> broadcast
        auto = joins.left_join_small(o, hist, on="o_orderkey")
        assert "BroadcastHashJoin" in auto._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "order_limit_top5")
    assert "TakeOrderedAndProject" in plan


def test_grouped_topk_uses_group_limit(spark):
    # rank-filter pushdown: WindowGroupLimit keeps per-group top-k
    # instead of ranking every row then filtering
    plan = plan_of(spark, "topk_orders_per_customer")
    assert "WindowGroupLimit" in plan


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    out = str(tmp_path / "orders_by_status")
    o = read_table(spark, SF, "orders")
    write_parquet(o, out, partition_by=["o_orderstatus"])

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition filter, not a data filter: pruned at planning
    assert re.search(r"PartitionFilters: \[.*o_orderstatus.*\]", plan)
    n_f = o.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == n_f


def test_jdbc_sink_roundtrip(spark, tmp_path):
    """S4 executed for real: write_jdbc → embedded Derby (ships in
    Spark's jars for the metastore; Spark has a built-in DerbyDialect)
    → read back via spark.read.jdbc and compare values. Exercises the
    executor-parallel path that replaces the reference's driver-side
    1M-row chunk loop (challenge.py:317-325)."""
    from module8_movies_etl_spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/etl_db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    region = read_table(spark, SF, "region").select(
        "r_regionkey", "r_name"
    )
    write_jdbc(
        region, url, "region_sink", mode="overwrite",
        num_partitions=2, batch_size=1000, properties=props,
    )
    back = spark.read.jdbc(url, "region_sink", properties=props)
    # Derby folds unquoted identifiers to upper case → compare positionally
    want = {(r[0], r[1]) for r in region.collect()}
    got = {(r[0], r[1]) for r in back.collect()}
    assert got == want


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed by the join key → the
    SortMergeJoin plans with ZERO Exchange operators (the 100 TB
    shuffle-elimination contract of sources.bucketing), and bucket
    sorting also removes the per-task Sort."""
    from module8_movies_etl_spark.sources import bucketing

    o = read_table(spark, SF, "orders")
    c = read_table(spark, SF, "customer")
    bucketing.write_bucketed(
        o, "orders_b", ["o_custkey"], 8, path=str(tmp_path / "ob")
    )
    bucketing.write_bucketed(
        c, "customer_b", ["c_custkey"], 8, path=str(tmp_path / "cb")
    )
    try:
        # the merge hint (on an input side, pre-join) rules out the
        # broadcast plan so the exchange question is meaningful
        no_bcast = (
            spark.table("orders_b")
            .hint("merge")
            .join(
                spark.table("customer_b"),
                on=F.col("o_custkey") == F.col("c_custkey"),
            )
        )
        plan = no_bcast._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # row parity with the plain (shuffled) join
        expected = o.join(c, o.o_custkey == c.c_custkey).count()
        assert no_bcast.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_dynamic_partition_pruning_on_fact_join(spark, tmp_path):
    """DPP: joining a partitioned fact to a FILTERED dim must inject a
    runtime partition-pruning subquery into the fact scan — at 100 TB
    this is the difference between scanning one region's partitions
    and scanning everything."""
    out = str(tmp_path / "orders_by_cust_bucket")
    o = read_table(spark, SF, "orders").withColumn(
        "cust_bucket", F.pmod("o_custkey", F.lit(10))
    )
    write_parquet(o, out, partition_by=["cust_bucket"])

    dim = (
        spark.range(10)
        .withColumnRenamed("id", "cust_bucket")
        .filter(F.col("cust_bucket") < 2)
    )
    fact = spark.read.parquet(out)
    joined = fact.join(dim.hint("broadcast"), "cust_bucket")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    expected = o.filter(F.col("cust_bucket") < 2).count()
    assert joined.count() == expected


def test_aqe_skew_join_splits_hot_key(spark):
    """AQE skew handling: a sort-merge join where one key holds ~90%
    of the left rows must be re-planned with the skewed partition
    SPLIT (the executed plan marks the join ``skew=true``). Thresholds
    are scoped down so test-sized data crosses them; the salting
    fallbacks in the dedup family cover cases AQE cannot see."""
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # thresholds scoped far down: the hot partition is a run of one
    # constant key, which the shuffle codec compresses to ~a few KB
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).withColumn(
            "k", F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id"))
        )
        right = spark.range(50_000).withColumnRenamed("id", "k")
        # no aggregation downstream: AQE only splits a skewed join
        # partition when nothing later requires the join's hash
        # distribution. collect() drives THIS DataFrame's own
        # QueryExecution (df.count() would plan a separate one whose
        # adaptive plan never finalizes on the inspected object).
        joined = left.join(right, "k").select("k")
        rows = joined.collect()
        assert len(rows) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC carries the same pushdown contract as parquet: values
    round-trip and an equality filter reaches the scan as a pushed
    filter."""
    from module8_movies_etl_spark.sources import read_orc, write_orc

    out = str(tmp_path / "orders_orc")
    o = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_orc(o, out)
    back = read_orc(spark, out)
    assert back.count() == o.count()
    filtered = back.filter(F.col("o_orderstatus") == "F")
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(r"PushedFilters: \[.*o_orderstatus.*\]", plan)
    assert filtered.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_csv_json_sink_roundtrip(spark, tmp_path):
    """The reference's actual outputs were CSVs (.MISSING_LARGE_BLOBS);
    csv/json sinks round-trip values through their text encodings."""
    from module8_movies_etl_spark.sources import write_csv, write_json

    o = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    csv_out = str(tmp_path / "orders_csv")
    write_csv(o, csv_out)
    back_csv = spark.read.csv(csv_out, header=True, inferSchema=True)
    assert back_csv.count() == o.count()
    assert sorted(back_csv.columns) == sorted(o.columns)
    assert (
        back_csv.agg(F.sum("o_orderkey")).first()[0]
        == o.agg(F.sum("o_orderkey")).first()[0]
    )

    json_out = str(tmp_path / "orders_json")
    write_json(o, json_out)
    back_json = spark.read.json(json_out)
    assert back_json.count() == o.count()
    assert (
        back_json.agg(F.sum("o_orderkey")).first()[0]
        == o.agg(F.sum("o_orderkey")).first()[0]
    )


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """100 TB posture: when a selective dimension filter feeds a
    SHUFFLE join (dim too big to broadcast), Spark injects a runtime
    Bloom filter — the fact scan drops non-joining rows BEFORE its
    shuffle (might_contain(bloom_filter_agg(dim keys)) on the fact
    side). Thresholds are sized for clusters, so the test scopes
    bench-scale values; the assert pins that our plans stay
    injection-eligible (equi-join + creation-side filter)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Files written under different compatible schemas union on read
    with mergeSchema; columns absent in a file read as NULL."""
    from module8_movies_etl_spark.sources.readers import read_parquet_evolving

    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.mode("append").parquet(base)
    spark.createDataFrame([(2, 3.5)], ["id", "v2"]).write.mode("append").parquet(base)
    out = read_parquet_evolving(spark, base)
    assert sorted(out.columns) == ["id", "v1", "v2"]
    rows = {r["id"]: (r["v1"], r["v2"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: (None, 3.5)}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64 tiny files -> a handful after the REBALANCE rewrite, same
    rows; the pre-compact dir is gone."""
    import os

    from module8_movies_etl_spark.sources.writers import compact_parquet

    path = str(tmp_path / "fragmented")
    spark.range(1000).repartition(64).write.parquet(path)
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before >= 32
    after = compact_parquet(spark, path)
    assert after < before / 4
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "__pre_compact")


def test_split_is_single_shuffle(spark):
    """hash_split is a narrow md5 projection: the whole
    train_val_test_split query must shuffle exactly once (the final
    group-by) — the split decision itself never moves data."""
    plan = plan_of(spark, "train_val_test_split")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_postings_index_has_no_join(spark):
    """The inverted index is pure aggregation: term-keyed exchanges
    only (two-phase distinct agg), never a self-join."""
    plan = plan_of(spark, "postings_index")
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_salted_join_carries_salt_key(spark):
    """The salted join must key on (user_id, _s): salt appears in the
    join condition, the dim side is replicated via explode, and the
    fact side salts with pmod(hash(...)). If an edit silently drops
    the salt from the key the result would still be wrong-at-scale
    correct-at-test, so pin the plan shape."""
    plan = plan_of(spark, "salted_skew_join")
    assert "_s" in plan, plan
    assert "explode" in plan.lower(), plan
    assert "pmod" in plan.lower(), plan


def test_revenue_share_dims_broadcast(spark):
    """Share-of-total rides on the nation-grain aggregate: both dims
    broadcast (no fact-side shuffle for the joins) and no
    SortMergeJoin anywhere."""
    plan = plan_of(spark, "revenue_share_by_nation")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_trend_is_single_aggregate(spark):
    """Exact-co-moment OLS is ONE partial+final hash aggregate: a
    single exchange, no join, no window over the fact table."""
    plan = plan_of(spark, "trend_slope_by_type")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_chi2_single_fact_pass(spark):
    """Chi-square reads the fact table once per grid derivation:
    everything after the contingency-cell aggregate is constant-size
    (the |A|x|B| grid completion, marginal windows, and the scalar
    fold all run over the driver-fetched cell table — broadcast
    joins only, no fact-table SortMergeJoin, and the visible plan
    contains NO parquet scan at all (the one fact pass happened at
    cell-fetch time)."""
    plan = plan_of(spark, "chi2_status_priority")
    assert plan.count("Scan parquet") == 0, plan
    assert "SortMergeJoin" not in plan, plan


def test_gap_fill_spine_is_generated(spark):
    """The dense spine comes from sequence()+explode (a Generate
    node), not a driver loop or a range-table join; the bucket-grain
    aggregate is snapshot-backed so the fact table is scanned once
    (eagerly, at snapshot time — the visible plan only reads the
    tiny bucket-grain scratch table)."""
    plan = plan_of(spark, "gap_fill_hourly")
    assert "Generate" in plan, plan
    assert "sequence" in plan.lower(), plan
    assert "SortMergeJoin" not in plan, plan


def test_perplexity_no_anti_union_blowup(spark):
    """Empty docs surface via ONE outer join: the anti-join + union
    formulation re-derived the scoring pipeline twice (10 corpus
    scans); the left-join shape halves that. Pin the ceiling."""
    plan = plan_of(spark, "doc_perplexity_unigram")
    assert plan.count("Scan parquet") <= 6, plan
    assert "Union" not in plan, plan


def test_triangle_census_reads_only_snapshot(spark):
    """count_triangles snapshots the pair list on entry: the visible
    plan's five consumers all read the tiny scratch edge table — the
    embedding corpus is scanned only once, eagerly, at snapshot time
    (an 'embeddings' scan in this plan would mean each consumer
    re-runs the whole LSH pair pipeline)."""
    plan = plan_of(spark, "triangle_count_dupgraph")
    assert "embeddings" not in plan, plan


def test_grouped_map_uses_arrow_grouped_map(spark):
    """The grouped-map extension point must plan as FlatMapGroupsInPandas
    (Arrow grouped map) over ONE key shuffle — not a collect, not a
    row-at-a-time PythonUDF."""
    plan = plan_of(spark, "trend_slope_grouped_map")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 native XML source: schema'd write -> read round trip
    preserves values and types (the third semi-structured ingest
    beside ragged JSON and VARIANT)."""
    from module8_movies_etl_spark.sources.readers import read_xml
    from module8_movies_etl_spark.sources.writers import write_xml

    df = spark.createDataFrame(
        [(1, "a & b", 2.5), (2, "<tag>", None)],
        "id int, s string, v double",
    )
    path = str(tmp_path / "xmlrt")
    write_xml(df, path, row_tag="rec", root_tag="recs")
    back = read_xml(spark, path, row_tag="rec")
    got = sorted(
        (r["id"], r["s"], r["v"]) for r in back.collect()
    )
    assert got == [(1, "a & b", 2.5), (2, "<tag>", None)]


def test_keyset_page_pushes_boundary_and_takes_ordered(spark):
    """Keyset pagination's contract: the boundary predicate reaches
    the scan (PushedFilters on price/orderkey) and the page itself is
    TakeOrderedAndProject — constant cost per page, no global sort,
    no OFFSET discard."""
    plan = plan_of(spark, "keyset_page_orders")
    assert "TakeOrderedAndProject" in plan, plan
    assert re.search(r"PushedFilters: \[.*(LessThan|Or)", plan), plan


def test_containment_postings_prefix_filtered(spark):
    """The general containment path must be the asymmetric
    prefix-filtered index, not the round-3 plain (block, token)
    equi-join (quadratic on hot tokens). Pinned plan shape: a
    DF-ranking window feeds the probe prefix, and candidates verify
    via array_intersect — neither existed in the unfiltered plan."""
    from module8_movies_etl_spark.operators.dedup import containment_pairs

    d = read_table(spark, SF, "documents")
    df = containment_pairs(
        d, "doc_id", "text", ["lang"], threshold=0.9, strategy="postings"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "row_number" in plan, plan           # DF-rank window (prefix)
    assert "array_intersect" in plan, plan      # exact verification
    # probe side is filtered to its prefix BEFORE the join: the rank
    # bound sz - ceil(t*sz) + 1 appears as a filter, not post-join
    assert re.search(r"CEIL\(+0\.9 \* ", plan, re.IGNORECASE), plan


def test_containment_postings_prefix_probe_size(spark):
    """Behavioral pin of the prefix bound: each doc posts exactly
    |x| − ⌈t·|x|⌉ + 1 probe tokens (the AllPairs prefix length
    transferred to containment's smaller-set overlap bound)."""
    import math

    from module8_movies_etl_spark.operators.dedup import _distinct_tokens

    t = 0.9
    d = read_table(spark, SF, "documents").limit(50)
    sizes = {
        r["doc_id"]: r["sz"]
        for r in d.select(
            "doc_id", F.size(_distinct_tokens("text", 1)).alias("sz")
        ).collect()
    }
    # replicate the probe construction exactly as the operator builds it
    docs = d.select(
        F.col("doc_id").alias("_id"),
        "lang",
        _distinct_tokens("text", 1).alias("_words"),
    ).withColumn("sz", F.size("_words"))
    postings = docs.select("_id", "lang", "sz", F.explode("_words").alias("w"))
    from pyspark.sql import Window

    dfreq = postings.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    ranked = postings.join(dfreq, "w").withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("w").asc())
        ),
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    got = {
        r["_id"]: r["n"]
        for r in ranked.filter(F.col("_r") <= prefix_len)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for doc, sz in sizes.items():
        assert got[doc] == sz - math.ceil(t * sz) + 1, (doc, sz, got[doc])


def test_multitouch_single_user_shuffle(spark):
    """Attribution's contract: the reverse running-min window, the
    per-conversion count and the weight-sum windows all ride ONE user
    hash partitioning — no self-join of the event table, no second
    wide exchange keyed on the fact rows."""
    plan = plan_of(spark, "multitouch_attribution")
    assert "Join" not in plan, plan
    # formatted mode puts the partitioning on an Arguments: line
    n_ex = len(re.findall(r"hashpartitioning\(", plan))
    assert 1 <= n_ex <= 2, plan  # user window + (user, conv) windows


def test_interval_coverage_shares_key_partitioning(spark):
    """The sweep windows, the island aggregate and the final per-key
    aggregate all cluster on the key: partitioning by k satisfies
    grouping on (k, seg), so exactly one wide exchange appears."""
    plan = plan_of(spark, "session_coverage_by_type")
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan


def test_compaction_plan_windows_only(spark):
    """Compaction planning is pure window arithmetic over the file
    inventory — no joins; the (part) window reuses nothing from the
    (part, file) aggregate but the (part, bin) window reuses the
    (part) partitioning."""
    plan = plan_of(spark, "compaction_plan_files")
    assert "Join" not in plan, plan
    assert 1 <= len(re.findall(r"hashpartitioning\(", plan)) <= 2, plan


def test_bootstrap_fanout_is_mapside(spark):
    """The B-way replicate fan-out must be a generator in the scan
    stage (explode of sequence), not a join against a replicate table;
    the only wide exchanges are the pre-fan repartition and the
    (key, replicate) aggregate."""
    plan = plan_of(spark, "bootstrap_ci_price")
    assert re.search(r"[Ee]xplode|Generate", plan), plan
    assert "conv(" not in plan.lower(), plan  # hex compare, not conv()


def test_bloom_probe_is_hash_join_not_array_scan(spark):
    """Bloom membership must probe via broadcast hash joins: an
    array_contains over the m-bit table is an O(m) scan per hash per
    row (measured 9.6 s at sf0.1 vs 0.9 s as joins)."""
    plan = plan_of(spark, "bloom_filter_vip_orders")
    assert "array_contains" not in plan.lower(), plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_bipartite_align_ann_shortlists_no_full_cross(spark):
    """Round-5 shape: alignment candidates come from an EQUI-join of
    the two sides' LSH band keys — never a full |left|x|right| cross
    product. The only permitted cross leg is the bounded fallback
    (probes with zero band hits x right), which sits behind the
    left-anti miss filter."""
    import re

    plan = plan_of(spark, "align_embeddings_bipartite")
    # band-key candidate generation is an equi-join on bk
    assert "[bk#" in plan, plan
    # exactly one cross-join NODE: the |misses|x|right| fallback
    n_cross = len(
        re.findall(r"\(\d+\) (?:BroadcastNestedLoopJoin|CartesianProduct)", plan)
    )
    assert n_cross <= 1, plan
    # the miss detection anti-join is present (fallback is gated)
    assert "LeftAnti" in plan, plan
