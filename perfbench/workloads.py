"""The benchmark's workloads.

Each workload prepares its inputs from the seed (untimed, in the parent
process), then in the worker: ``run_pass`` repeatedly while the measured
window lasts (at least once), ``after_pass`` after each pass's time is
taken, ``check`` the outputs after the window, and, in a traced run,
``profile`` adds the per-layer numbers only a workload can produce.
The first pass runs in a fresh session and is the one ``pass_s``
reports: the JIT keeps warming for many passes after it (an ``olap_mix``
pass falls from 7.1 s to 3.8 s over nine passes), so a pass after one
warm-up pass is neither steady nor what a newly submitted job pays.

A pass returns its operations as ``(name, seconds, error)`` tuples; an
operation is one catalog query (query-function call plus sink) or one
step of the ETL job (a read, the pipeline build, a write).
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback

import datagen
from probe import dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
# The package's seed-42 sf0.01 test tables (TESTDATA.md), unchanged: the
# tables its DuckDB oracles are verified on. Read-only.
TABLES = os.path.join(HERE, "tables", "sf0.01")

# -- catalog workloads --------------------------------------------------------

# 16 of the 40 relational catalog entries: a run (fresh JVM, one measured
# pass, one unmeasured pass for the oracle check) has to fit about 50 s
# of the benchmark's budget. Kept:
# the flagship, the movie-column parsers and casts, the reshaping
# operators and the TPC-H shapes with the most joins.
OLAP_QUERIES = [
    "flagship_order_histogram", "pricing_summary", "star_join_revenue",
    "parse_currency", "parse_multiformat_dates", "lenient_casts",
    "exact_dedup_survivors", "pivot_status_by_priority", "cube_revenue_status",
    "topk_orders_per_customer", "full_outer_reconcile", "fill_zero_conflict",
    "tpch_q3_unshipped_topn", "tpch_q5_local_supplier", "tpch_q9_product_profit",
    "tpch_q18_large_orders",
]

# One entry per operator module the curation layer claims (``bm25`` is
# ``operators.curation``'s), to fit a run's share of the budget:
# ``cosine_topk_ivf`` is the ANN path (``cosine_topk_lsh`` would add
# 4 s), and ``kcore_dupgraph`` stands in for ``pagerank_dupgraph``, the
# same duplicate graph at a third of the run time.
CURATION_QUERIES = [
    "fuzzy_dedup_clusters", "cosine_topk_ivf",
    "tokenize_documents", "bm25_keyword_search", "kcore_dupgraph",
]

# Oracles trained from the tables' own sample (IVF centroids): the
# registered ones target the tables at the package's default location,
# so they are rebuilt for the benchmark's copy, as the parity tests do.
SF_SPECIFIC_ORACLES = {"cosine_topk_ivf": "_cosine_topk_ivf_oracle"}


class _Collected:
    """A collected result standing in for a DataFrame in
    ``oracle_check.compare``, which only calls ``toPandas``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class CatalogWorkload:
    """A closed loop with one client over the fixed tables: every query
    of the set per pass. ``shuffle``: the seed orders the queries, as
    independent ad hoc queries arrive; otherwise they run in the listed
    order, as a batch job's fixed steps do. (Whichever query runs first
    in a fresh session pays 1-3 s of one-time costs for its operator
    family, so a shuffled batch would make the seed, not the program,
    move ``pass_s``.)

    ``sink``: ``"noop"`` executes each result into Spark's noop sink in
    the measured passes, and ``check`` collects every result again
    after the window for the oracle check; ``"collect"`` collects each
    result to the client (``toPandas``) in the measured passes and
    checks the first pass's results, for long queries where a second,
    unmeasured pass does not fit a run."""

    def __init__(self, name: str, queries: list[str], shuffle: bool, sink: str):
        self.name = name
        self.queries = list(queries)
        self.shuffle = shuffle
        self.sink = sink

    def prepare(self, data_dir: str, seed: int) -> dict:
        order = list(self.queries)
        if self.shuffle:
            random.Random(seed).shuffle(order)
        return {"tables": TABLES, "order": order}

    def setup(self, spark, inputs: dict) -> None:
        from module8_movies_etl_spark.plans import benchmark_queries as bq

        self.bq = bq
        self.sf = inputs["tables"]
        self.order = inputs["order"]
        self.results: dict[str, object] = {}
        self.raised: set[str] = set()

    def _sink(self, df):
        if self.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.toPandas()

    def run_pass(self, spark, tracer=None) -> list[tuple[str, float, str | None]]:
        ops = []
        keep = self.sink == "collect" and not self.results
        for q in self.order:
            t0 = time.perf_counter()
            err = None
            try:
                if tracer is None:
                    pdf = self._sink(self.bq.QUERIES[q](spark, self.sf))
                else:
                    pdf = self._traced_query(spark, tracer, q)
                if keep:
                    self.results[q] = pdf
            except Exception as exc:  # reported as a failed operation
                traceback.print_exc()
                err = f"{q}: {type(exc).__name__}: {str(exc)[:300]}"
                self.raised.add(q)
            ops.append((q, time.perf_counter() - t0, err))
        return ops

    def after_pass(self) -> None:
        pass

    def _traced_query(self, spark, tracer, q):
        with tracer.span(f"query.{q}"):  # the parent of this query's spans
            with tracer.span("plans.build", job_group=True):
                df = self.bq.QUERIES[q](spark, self.sf)
            with tracer.span("engine.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("sink", job_group=True):
                return self._sink(df)

    def check(self, spark) -> dict[str, str]:
        """Query name -> mismatch, for every query that does not match
        its oracle (within-tolerance float drift is not a mismatch).
        Queries that raised in a measured pass are already failures."""
        from tests.oracle_check import compare, duckdb_con

        con = duckdb_con(self.sf)
        bad = {}
        for q in self.queries:
            if q in self.raised:
                continue
            try:
                if q not in self.results:  # the noop sink kept nothing
                    self.results[q] = self.bq.QUERIES[q](spark, self.sf).toPandas()
                oracle = self.bq.ORACLE[q]
                if q in SF_SPECIFIC_ORACLES:
                    oracle = getattr(self.bq, SF_SPECIFIC_ORACLES[q])(sf_dir=self.sf)
                errs = [e for e in compare(_Collected(self.results[q]), con, oracle, q)
                        if "WARNING" not in e]
            except Exception as exc:
                errs = [f"{q}: check failed: {type(exc).__name__}: {exc}"]
            if errs:
                bad[q] = "; ".join(errs)[:500]
        return bad

    def trace_setup(self, tracer) -> None:
        from module8_movies_etl_spark.operators import curation, dedup, graphs, similarity, text
        from module8_movies_etl_spark.sources import readers, scratch

        tracer.patch(readers.read_table, tracer.wrap(readers.read_table, "sources.read_table",
                                                     job_group=True))
        for fn in (scratch.snapshot, scratch.local_snapshot):
            tracer.patch(fn, tracer.wrap(fn, "sources.scratch_snapshot", job_group=True))
        for mod in (dedup, similarity, text, graphs, curation):
            tracer.patch_module_functions(mod, "operators." + mod.__name__.rsplit(".", 1)[1])

    def profile(self, spark) -> dict:
        return {}


# -- the paper's ETL job ------------------------------------------------------

class EtlWorkload:
    """The paper's pipeline as a batch job: read the three inputs, run
    ``run_pipeline``, write the three outputs as parquet. One pass is
    one job; every pass's outputs are checked against what the
    generator planted."""

    name = "etl_movies"

    def prepare(self, data_dir: str, seed: int) -> dict:
        return datagen.write_movie_inputs(os.path.join(data_dir, "movies"), seed)

    def setup(self, spark, inputs: dict) -> None:
        from module8_movies_etl_spark.pipelines import movies_etl
        from module8_movies_etl_spark.sources import readers, writers

        self.m, self.readers, self.writers = movies_etl, readers, writers
        self.inputs = inputs
        self.out_root = os.path.join(os.environ["PERFBENCH_RUN_DIR"], "out")
        self.n = 0
        self.written: list[str] = []  # outputs of passes not yet checked
        self.failures: dict[str, str] = {}

    def _read(self, spark):
        r, p = self.readers, self.inputs["paths"]
        return [
            ("read_json_records", lambda: r.read_json_records(spark, p["wiki"])),
            ("read_csv_kaggle", lambda: r.read_csv(spark, p["kaggle"])),
            ("read_csv_ratings", lambda: r.read_csv(spark, p["ratings"])),
        ]

    def run_pass(self, spark, tracer=None) -> list[tuple[str, float, str | None]]:
        ops: list[tuple[str, float, str | None]] = []
        out_dir = os.path.join(self.out_root, f"pass{self.n}")
        self.n += 1
        frames = []

        def step(name, fn):
            t0 = time.perf_counter()
            try:
                res = fn()
                ops.append((name, time.perf_counter() - t0, None))
                return res
            except Exception as exc:  # reported as a failed operation
                traceback.print_exc()
                ops.append((name, time.perf_counter() - t0,
                            f"{name}: {type(exc).__name__}: {str(exc)[:300]}"))
                raise

        try:
            for name, fn in self._read(spark):
                frames.append(step(name, fn))
            out = step("run_pipeline", lambda: self.m.run_pipeline(*frames))
            for table in ("movies", "movies_ratings", "ratings"):
                step(f"write_{table}", lambda t=table: self.writers.write_parquet(
                    out[t], os.path.join(out_dir, t)))
        except Exception:
            return ops
        self.written.append(out_dir)
        return ops

    def after_pass(self) -> None:
        """Check the outputs of the pass just measured, then delete them."""
        for out_dir in self.written:
            bad = check_etl_outputs(out_dir, self.inputs["expect"])
            if bad:
                self.failures[os.path.basename(out_dir)] = bad
            shutil.rmtree(out_dir, ignore_errors=True)
        self.written.clear()

    def check(self, spark) -> dict[str, str]:
        return dict(self.failures)

    def trace_setup(self, tracer) -> None:
        from module8_movies_etl_spark.sources import readers, writers

        tracer.patch(readers.read_csv, tracer.wrap(readers.read_csv, "sources.read_csv",
                                                   job_group=True))
        tracer.patch(readers.read_json_records, tracer.wrap(
            readers.read_json_records, "sources.read_json_records", job_group=True))

        def written(args, kwargs, _out):
            path = args[1] if len(args) > 1 else kwargs["path"]
            tracer.write_bytes += dir_bytes(path)

        tracer.patch(writers.write_parquet, tracer.wrap(
            writers.write_parquet, "sources.write_parquet", job_group=True, on_return=written))
        tracer.patch(self.m.run_pipeline, tracer.wrap(self.m.run_pipeline, "pipelines.build"))

    def profile(self, spark) -> dict:
        """Build and force each pipeline stage on its own (noop sink) and
        report its self time, building included (``wiki_transform``'s
        null-column pruning runs a job while it builds): the three input
        stages are cached as they are forced, so forcing the merge runs
        only the merge."""
        def stage(build):
            t0 = time.perf_counter()
            df = build().cache()
            df.write.format("noop").mode("overwrite").save()
            return df, time.perf_counter() - t0

        wiki, kaggle, ratings = (fn() for _, fn in self._read(spark))
        (w, tw), (k, tk), (h, th) = (stage(lambda: self.m.wiki_transform(wiki)),
                                     stage(lambda: self.m.kaggle_transform(kaggle)),
                                     stage(lambda: self.m.rating_histogram(ratings)))
        merged, tm = stage(lambda: self.m.merge_movies(w, k, h))
        for df in (w, k, h, merged):
            df.unpersist()
        return {
            "pipelines.wiki_transform_s": tw,
            "pipelines.kaggle_transform_s": tk,
            "pipelines.rating_histogram_s": th,
            "pipelines.merge_movies_s": tm,
        }


def check_etl_outputs(out_dir: str, expect: dict) -> str | None:
    """Compare one pass's parquet outputs (read with pyarrow, not the
    engine under test) with the generator's planted expectations."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def table(name, cols=None):
        return ds.dataset(os.path.join(out_dir, name), format="parquet").to_table(columns=cols)

    problems = []
    movies = table("movies", ["imdb_id", "budget", "runtime", "revenue"])
    rated = table("movies_ratings")
    n_ratings = table("ratings", ["movieId"]).num_rows
    if movies.num_rows != expect["movies_rows"]:
        problems.append(f"movies rows {movies.num_rows} != {expect['movies_rows']}")
    if rated.num_rows != expect["movies_rows"]:
        problems.append(f"movies_ratings rows {rated.num_rows} != {expect['movies_rows']}")
    if n_ratings != expect["ratings_rows"]:
        problems.append(f"ratings rows {n_ratings} != {expect['ratings_rows']}")
    by_id = {r["imdb_id"]: r for r in movies.to_pylist()}
    for imdb, budget in expect["budget_filled"].items():
        got = by_id.get(imdb, {}).get("budget")
        if got is None or float(got) != float(budget):
            problems.append(f"budget of {imdb} not filled from wiki: {got} != {budget}")
            break
    for imdb, minutes in expect["runtime_filled"].items():
        got = by_id.get(imdb, {}).get("runtime")
        if minutes is not None and (got is None or float(got) != float(minutes)):
            problems.append(f"runtime of {imdb} not filled from wiki: {got} != {minutes}")
            break
    for imdb in expect["revenue_null"]:
        if by_id.get(imdb, {}).get("revenue", 0) is not None:
            problems.append(f"NULL revenue of {imdb} was filled")
            break
    rating_cols = [c for c in rated.column_names if c.startswith("rating_")]
    if len(rating_cols) != 10:
        problems.append(f"rating histogram has {len(rating_cols)} columns, not 10")
    else:
        total = sum(pc.sum(rated[c]).as_py() or 0 for c in rating_cols)
        if total != expect["rated_in_movies"]:
            problems.append(f"histogram counts {total} != {expect['rated_in_movies']}")
        hist_ids = rated.column("imdb_id").to_pylist()
        row_sums = [sum(vals) for vals in zip(*(rated[c].to_pylist() for c in rating_cols))]
        zero = {i for i, s in zip(hist_ids, row_sums) if s == 0}
        if zero != set(expect["unrated"]):
            problems.append(f"{len(zero)} zero-filled movies, expected {len(expect['unrated'])}")
    return "; ".join(problems) or None


WORKLOADS = {
    "etl_movies": EtlWorkload,
    "olap_mix": lambda: CatalogWorkload("olap_mix", OLAP_QUERIES, shuffle=True, sink="noop"),
    "curation_batch": lambda: CatalogWorkload("curation_batch", CURATION_QUERIES,
                                              shuffle=False, sink="collect"),
}
