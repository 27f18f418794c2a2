"""Regression tests for the round-2 scale fixes: persist-free dedup
pipelines, deterministic dedup_by_key default, single-scan null_prune,
and session-conf hygiene in read_table — plus job-free table reads
(footer-pinned schemas) and the SQL view registration built on them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from module8_movies_etl_spark.operators import dedup, filters
from module8_movies_etl_spark.sources import read_table
from module8_movies_etl_spark.sources.readers import TPCH_TABLES

SF = "/root/testdata/sf0.001"


def test_dedup_pipelines_leave_no_cached_storage(spark):
    """minhash/simhash pair generation must not accumulate executor
    storage across invocations (the round-1 persist leak)."""
    d = read_table(spark, SF, "documents").filter(F.col("doc_id") < 120)
    # Delta assertion: other test modules may legitimately hold cached
    # fixtures in the shared session; the dedup calls themselves must
    # not add any persistent RDDs.
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(2):
        dedup.minhash_lsh_pairs(d, "doc_id", "text").count()
        dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=12).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_dedup_by_key_default_is_deterministic(spark):
    """With no order_by, the survivor per key is the lexicographically
    smallest remaining-columns row — identical across partitionings."""
    rows = [(k, p, v) for k in range(20) for p, v in (("b", 2), ("a", 9), ("a", 1))]
    df = spark.createDataFrame(rows, "k int, payload string, v int")
    got1 = sorted(
        filters.dedup_by_key(df.repartition(7), ["k"]).collect()
    )
    got2 = sorted(
        filters.dedup_by_key(df.repartition(3, "v"), ["k"]).collect()
    )
    assert got1 == got2
    assert all(r.payload == "a" and r.v == 1 for r in got1)


def test_null_prune_is_single_job(spark):
    """Row count is folded into the null-count aggregate: one scan of
    the input, not two (2x scan cost at 100 TB)."""
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 20 == 0, F.col("id")).alias("sparse_95"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("half_null"),
    )
    tracker = spark.sparkContext.statusTracker()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    # AQE submits one job per materialized stage; disable it so job
    # count == query count for the assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = set(tracker.getJobIdsForGroup(None))
        kept = filters.null_prune(df, threshold=0.9)
        after = set(tracker.getJobIdsForGroup(None))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert kept == ["id", "half_null"]
    assert len(after - before) == 1


def test_read_table_starts_no_job(spark):
    """The schema comes from the parquet footer on the driver, so
    building a table's DataFrame launches no inference job. The
    listener bus is drained so no job start is missed."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    for name in TPCH_TABLES:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        read_table(spark, SF, name)
        bus.waitUntilEmpty()
        assert set(tracker.getJobIdsForGroup(None)) == before, name


# Spark-written, so its footer carries Spark's own schema JSON.
_TYPED_SQL = """
SELECT cast(id AS tinyint) AS c_tinyint, cast(id AS smallint) AS c_smallint,
       cast(id AS int) AS c_int, id AS c_bigint, cast(id AS float) AS c_float,
       cast(id AS double) AS c_double, cast(id AS decimal(12, 3)) AS c_decimal,
       cast(id AS string) AS c_string, id % 2 = 0 AS c_boolean,
       cast(cast(id AS string) AS binary) AS c_binary,
       date_add(DATE'2020-01-01', cast(id AS int)) AS c_date,
       timestamp_seconds(id) AS c_timestamp,
       cast(timestamp_seconds(id) AS timestamp_ntz) AS c_timestamp_ntz,
       array(id, id + 1) AS c_array, map(cast(id AS string), id) AS c_map,
       named_struct('a', id, 'b', cast(id AS string)) AS c_struct
FROM range(5)
"""


def test_read_table_schema_matches_inference(spark, tmp_path):
    """``read_table``'s footer schema equals what ``spark.read.parquet``
    infers, for the pyarrow-written test tables, for a Spark-written
    table with every column family, and for a pyarrow-written table
    whose physical types Arrow maps differently from Spark (unsigned
    integers, INT96 timestamps), under both timestamp-inference
    settings."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.sql(_TYPED_SQL).write.parquet(str(tmp_path / "t.parquet"))
    unsigned = {f"c_uint{b}": pa.array([1, 2**b - 1], getattr(pa, f"uint{b}")())
                for b in (8, 16, 32, 64)}
    pq.write_table(
        pa.table({**unsigned, "c_int96": [datetime.datetime(2020, 1, 1), None]}),
        str(tmp_path / "u.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        for ntz in ("false", "true"):
            spark.conf.set(key, ntz)
            local = [(str(tmp_path), "t"), (str(tmp_path), "u")]
            for sf_dir, name in [(SF, n) for n in TPCH_TABLES] + local:
                path = f"{sf_dir}/{name}.parquet"
                got = read_table(spark, sf_dir, name)
                assert got.schema == spark.read.parquet(path).schema, (ntz, name)
            typed = read_table(spark, str(tmp_path), "t")
            assert sorted(typed.collect()) == sorted(
                spark.read.parquet(str(tmp_path / "t.parquet")).collect()
            )
    finally:
        spark.conf.set(key, prev)
    assert dict(typed.dtypes)["c_timestamp_ntz"] == "timestamp_ntz"


def test_snapshot_of_empty_frame_keeps_schema(spark, tmp_path, monkeypatch):
    """An empty snapshot still writes a footer, and the re-read takes
    its column names and types from it."""
    from module8_movies_etl_spark.sources.scratch import snapshot

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    df = spark.sql(_TYPED_SQL).limit(0)
    out = snapshot(df)
    assert out.dtypes == df.dtypes
    assert out.count() == 0


def test_register_tables_skips_missing_but_raises_on_corrupt(spark, tmp_path):
    """A missing table stays unregistered; a present but unreadable
    one is an error, not a silently missing view."""
    import shutil

    from module8_movies_etl_spark.plans.sql_api import register_tables

    for name in TPCH_TABLES:
        if name != "embeddings":
            shutil.copy(f"{SF}/{name}.parquet", tmp_path / f"{name}.parquet")
    got = register_tables(spark, str(tmp_path))
    assert got == [n for n in TPCH_TABLES if n != "embeddings"]
    (tmp_path / "region.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="parquet"):
        register_tables(spark, str(tmp_path))


def test_embedding_near_dups_join_is_salted(spark):
    """The band-bucket self-join must key on (bucket, salt) so a hot
    bucket's pair set spreads over `salt` tasks instead of landing on
    one; and the pair frame must carry ids only (vectors join back
    later by id, outside the band x salt replication)."""
    from module8_movies_etl_spark.operators import similarity

    emb = read_table(spark, SF, "embeddings")
    out = similarity.embedding_near_dups(emb, threshold=0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"Join [^\n]*\[_bk#\d+L?, _s#\d+L?\]", plan)
    assert m, f"salted join key not found in plan:\n{plan[:2000]}"
    assert out.count() > 0


def test_read_table_restores_nanos_conf(spark):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    df = read_table(spark, SF, "events")
    assert df.count() > 0
    assert spark.conf.get(key, None) == prev
    # and the ns->us conversion still happened
    assert dict(df.dtypes)["ts"] == "timestamp"
