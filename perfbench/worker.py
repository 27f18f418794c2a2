"""One workload run inside a fresh process (the process a user's job
would be): build the session with the package defaults, measure passes
for the window (the first one traced in a traced run), check the
outputs outside the measured passes, and write the result as JSON for
``run.py``.

Not meant to be started by hand; ``run.py`` starts it with the inputs
already generated and the scratch/shuffle dirs pointed at a fresh run
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from probe import GROUP_PROP, EngineCounters, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MB = 1e6


def traced_pass(spark, wl, cores: int) -> tuple[dict, list, list]:
    """The first pass with every layer boundary wrapped; returns the
    per-layer metrics, the pass's operations and its spans."""
    tracer = Tracer(spark, os.environ.get("SPARK_GRAFT_SCRATCH"))
    eng = EngineCounters(spark)
    wl.trace_setup(tracer)
    sc = spark.sparkContext
    before = eng.snapshot()
    sc.setLocalProperty(GROUP_PROP, "pb.run")
    t0 = time.perf_counter()
    try:
        ops = wl.run_pass(spark, tracer)
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty(GROUP_PROP, None)
        tracer.restore()
    after = eng.snapshot()
    d = {k: after[k] - before[k] for k in after}
    jobs = {g: eng.jobs(g) for g in tracer.groups | {"pb.run"}}

    def njobs(*names):
        return sum(len(jobs.get(f"pb.{n}", [])) for n in names)

    all_jobs = [j for ids in jobs.values() for j in ids]
    t = tracer.total
    sink = t("sink") + t("sources.write_parquet")
    build = t("plans.build")
    task_s = d["totalDuration"] / 1000.0
    layer = {
        "sources.read_table_s": t("sources.read_table"),
        "sources.read_table_calls": tracer.count("sources.read_table"),
        "sources.read_table_jobs": njobs("sources.read_table"),
        "sources.read_csv_s": t("sources.read_csv"),
        "sources.read_json_records_s": t("sources.read_json_records"),
        "sources.read_jobs": njobs("sources.read_csv", "sources.read_json_records"),
        "sources.write_parquet_s": t("sources.write_parquet"),
        "sources.write_mb": tracer.write_bytes / MB,
        "sources.scratch_snapshot_s": t("sources.scratch_snapshot"),
        "sources.scratch_snapshots": tracer.count("sources.scratch_snapshot"),
        "sources.scratch_mb": tracer.scratch_peak / MB,
        "pipelines.build_s": t("pipelines.build"),
        "plans.build_s": build,
        "plans.build_jobs": njobs("plans.build", "sources.read_table", "sources.scratch_snapshot"),
        "plans.build_share": build / (build + t("engine.plan") + sink) if build else 0.0,
        "engine.plan_s": t("engine.plan"),
        "engine.exec_s": sink,
        "engine.jobs": len(all_jobs),
        "engine.stages": eng.stages(all_jobs),
        "engine.tasks": d["totalTasks"],
        "engine.failed_tasks": d["failedTasks"],
        "engine.task_s": task_s,
        "engine.gc_s": d["totalGCTime"] / 1000.0,
        "engine.shuffle_write_mb": d["totalShuffleWrite"] / MB,
        "engine.shuffle_read_mb": d["totalShuffleRead"] / MB,
        "engine.input_mb": d["totalInputBytes"] / MB,
        "engine.core_util": task_s / (wall * cores),
        "trace.pass_s": wall,
    }
    for mod in ("dedup", "similarity", "text", "graphs", "curation"):
        layer[f"operators.{mod}.call_s"] = t(f"operators.{mod}")
        layer[f"operators.{mod}.calls"] = tracer.count(f"operators.{mod}")
    for stage in ("wiki_transform", "kaggle_transform", "rating_histogram", "merge_movies"):
        layer[f"pipelines.{stage}_s"] = 0.0
    layer.update(wl.profile(spark))
    return layer, ops, tracer.dump()


def warm_engine(spark) -> None:
    """Pay the session's one-time costs before measuring: the first
    parquet write and read, shuffle, broadcast join, window, Arrow
    collect and Python worker start. Without this the workload's first
    query carries them (2-4 s on whichever query a seed puts first).
    The ETL job's JSON and CSV readers stay cold: its order is fixed, so
    their first use always lands on the same step."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(20_000).withColumn("k", F.col("id") % 97)
    keys = spark.range(97).withColumnRenamed("id", "k")
    agg = df.groupBy("k").agg(F.sum("id").alias("s")).join(F.broadcast(keys), "k")
    rank = F.row_number().over(Window.partitionBy(F.col("k") % 7).orderBy("s"))
    path = os.path.join(os.environ["PERFBENCH_RUN_DIR"], "warm.parquet")
    agg.withColumn("r", rank).orderBy("k").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).toPandas()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.inputs) as f:
        inputs = json.load(f)
    wl = WORKLOADS[args.workload]()

    t_import = time.perf_counter()
    from module8_movies_etl_spark.session import cpu_count, get_spark

    spark = get_spark()
    t_session = time.perf_counter()
    spark.range(1000).count()
    t_first = time.perf_counter()
    warm_engine(spark)
    wl.setup(spark, inputs)
    t_ready = time.perf_counter()

    passes: list[float] = []
    ops: list = []
    result = {"setup_s": t_ready - args.spawned_at}
    t0 = time.perf_counter()
    if args.trace:
        layer, ops, result["spans"] = traced_pass(spark, wl, cpu_count())
        wl.after_pass()
        passes.append(layer["trace.pass_s"])
        result["layer"] = {"session.get_spark_s": t_session - t_import,
                           "session.first_action_s": t_first - t_session, **layer}
    while not passes or time.perf_counter() - t0 < args.seconds:
        ps = time.perf_counter()
        ops += wl.run_pass(spark)
        passes.append(time.perf_counter() - ps)
        wl.after_pass()
    t_window = time.perf_counter()
    result.update(passes=passes, ops=ops, mismatches=wl.check(spark))
    t_checked = time.perf_counter()
    spark.stop()
    print(f"perfbench worker: setup {t_ready - args.spawned_at:.1f} s, window "
          f"{t_window - t0:.1f} s, check {t_checked - t_window:.1f} s, stop "
          f"{time.perf_counter() - t_checked:.1f} s")
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    sys.stdout = sys.stderr  # keep run.py's stdout for its report
    main()
