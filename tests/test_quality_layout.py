"""Batch-4 operators: DQ audit, Z-order layout, incremental MV
refresh. Oracle parity is covered by test_oracle_parity."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from module8_movies_etl_spark.operators import cdc, layout, quality

SF = "/root/testdata/sf0.001"


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_dq_audit_detects_planted_violations(spark):
    orders = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (1, 10, 6.0),     # duplicate PK
            (2, None, 7.0),   # null FK (also an orphan: no customer match)
            (3, 99, -1.0),    # orphan customer + nonpositive price
            (4, 10, 8.0),
        ],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    lineitem = spark.createDataFrame(
        [(1, 1), (2, 77)], ["li_id", "l_orderkey"]
    )  # 77 is an orphan lineitem
    customer = spark.createDataFrame([(10,)], ["c_custkey"])
    got = {
        r["metric"]: r["value"]
        for r in quality.dq_audit(orders, lineitem, customer).collect()
    }
    assert got == {
        "orders_rows": 5,
        "null_custkey": 1,
        "dup_orderkeys": 1,
        "fk_orphan_orders": 2,
        "fk_orphan_lineitems": 1,
        "nonpositive_price": 1,
    }


def test_dq_audit_clean_on_testdata(spark):
    """The synthetic tables are referentially clean — the audit's
    violation metrics must all be zero (and rows > 0)."""
    got = {
        r["metric"]: r["value"]
        for r in quality.dq_audit(
            spark.read.parquet(f"{SF}/orders.parquet"),
            spark.read.parquet(f"{SF}/lineitem.parquet"),
            spark.read.parquet(f"{SF}/customer.parquet"),
        ).collect()
    }
    assert got["orders_rows"] > 0
    assert got["dup_orderkeys"] == 0 and got["fk_orphan_orders"] == 0


def test_morton_code_interleave(spark):
    """Hand-check: x=0b11, y=0b01 -> z = x0 + y0<<1 + x1<<2 + y1<<3
    = 1 + 2 + 4 + 0 = 7."""
    df = spark.createDataFrame([(3, 1)], ["x", "y"])
    z = df.select(
        layout.morton_code(F.col("x"), F.col("y"), bits=4).alias("z")
    ).first()["z"]
    assert z == 7


def test_morton_locality_beats_single_column_sort(spark):
    """Writing files in Z order must bound BOTH columns per chunk:
    the mean per-chunk custkey range under Z order should be far
    below a date-sorted layout's (which leaves custkey unsorted)."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey", F.unix_timestamp("o_orderdate").alias("d")
    )
    rows = o.collect()
    days = [(r["o_custkey"], r["d"] // 86400) for r in rows]
    xmin, xmax = min(t[0] for t in days), max(t[0] for t in days)
    ymin, ymax = min(t[1] for t in days), max(t[1] for t in days)

    def scale(v, lo, hi, bits=10):
        return (v - lo) * ((1 << bits) - 1) // max(hi - lo, 1)

    def interleave(x, y, bits=10):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    zsorted = sorted(
        days,
        key=lambda t: interleave(
            scale(t[0], xmin, xmax), scale(t[1], ymin, ymax)
        ),
    )
    dsorted = sorted(days, key=lambda t: t[1])
    n_chunks = 16
    sz = len(days) // n_chunks

    def mean_key_range(ordered):
        spans = []
        for c in range(n_chunks):
            chunk = ordered[c * sz : (c + 1) * sz]
            ks = [t[0] for t in chunk]
            spans.append(max(ks) - min(ks))
        return sum(spans) / len(spans)

    assert mean_key_range(zsorted) < 0.7 * mean_key_range(dsorted)


def test_zorder_by_plan_is_range_partitioned(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    days = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    plan = _plan(spark, layout.zorder_by(o, F.col("o_custkey"), days, n_files=8))
    assert "rangepartitioning" in plan.lower()
    assert re.search(r"\(\d+\) Sort", plan)


def test_refresh_mv_matches_direct_aggregation(spark):
    """Partial-merge refresh == direct aggregation over base+delta."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    base_mv = (
        o.filter(F.col("o_orderkey") % 4 != 0)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum(dec).alias("total_rev"))
    )
    merged = cdc.refresh_grouped_mv(
        base_mv,
        o.filter(F.col("o_orderkey") % 4 == 0),
        "o_orderstatus",
        agg_exprs={"n_orders": F.count(F.lit(1)), "total_rev": F.sum(dec)},
        merge_exprs={"n_orders": F.sum("n_orders"), "total_rev": F.sum("total_rev")},
    )
    direct = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(dec).alias("total_rev")
    )
    m = {r["o_orderstatus"]: (r["n_orders"], r["total_rev"]) for r in merged.collect()}
    d = {r["o_orderstatus"]: (r["n_orders"], r["total_rev"]) for r in direct.collect()}
    assert m == d


def test_dp_geometric_mechanism_matches_python_replay(spark, sf_dir):
    """The DP release (round 9): noise must equal an independent
    plain-Python replay of the geometric mechanism's inverse CDF on
    the same md5 bits, and the suppression gate must actually fire
    somewhere at fixture scale."""
    import hashlib
    import math

    from module8_movies_etl_spark.plans.benchmark_queries import QUERIES
    from module8_movies_etl_spark.sources.readers import read_table

    def noise_py(key: str, eps: float = 0.5, zmax: int = 40) -> int:
        u = int(hashlib.md5(key.encode()).hexdigest()[:7], 16)
        alpha = math.exp(-eps)
        zs = list(range(-zmax, zmax + 1))
        weights = [alpha ** abs(z) for z in zs]
        tot = sum(weights)
        acc = 0.0
        for z, w in zip(zs[:-1], weights[:-1]):
            acc += w / tot
            if u < min(int(acc * (1 << 28)), (1 << 28) - 1):
                return z
        return zmax

    true_counts = {
        (r["lang"], r["source"]): r["n"]
        for r in read_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = QUERIES["dp_noisy_group_counts"](spark, sf_dir).collect()
    assert len(rows) == len(true_counts) > 0
    suppressed = 0
    for r in rows:
        key = f"{r['lang']}|{r['source']}|dp1"
        want = true_counts[(r["lang"], r["source"])] + noise_py(key)
        assert r["noisy_count"] == want, (r, want)
        assert r["released"] == (r["noisy_count"] >= 5)
        assert r["released_count"] == (
            r["noisy_count"] if r["released"] else None
        )
        if not r["released"]:
            suppressed += 1
    assert suppressed > 0, "suppression gate never fired — fixture drifted"
