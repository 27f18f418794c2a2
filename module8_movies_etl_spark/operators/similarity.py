"""Similarity search over embedding columns (SURVEY.md §2.13).

- ``cosine_topk``      brute-force exact top-k (the correctness baseline)
- ``cosine_topk_lsh``  random-hyperplane-LSH bucketed ANN (the scale path)
- ``embedding_near_dups`` cosine near-duplicate pairs

Vectors are ``array<float>`` columns; all math happens JVM-side via
higher-order functions (``zip_with`` + ``aggregate``) in double
precision — no UDFs, no collect. Brute force is a broadcast
nested-loop join: queries are broadcast (they are few), the corpus
streams — at 100 TB of vectors the corpus side never shuffles; the
LSH variant prunes the candidate set by ~bucket-count×.

ZERO-NORM vectors are excluded at every scoring entry point (and the
oracles mirror the filter): cosine is undefined for them, and left in
they would surface as NULL-similarity rows that still occupy top-k
rank slots (Spark's Divide yields NULL on a zero divisor, DuckDB
yields NaN — a cross-engine divergence as well as a semantic one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right fold (deterministic summation order).

    The interpreted higher-order fold IS the fast JVM form here: a
    plan-time unroll to a flat element_at chain was tried (round 3)
    and measured 4-7× SLOWER — the 64-term-per-plane expressions blow
    the 64 KB codegen method limit, and Spark's interpreted eval of a
    flat Add tree is slower per row than the specialized fold loop.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return dot(da, db) / (l2_norm(da) * l2_norm(db))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    ``queries`` (small) is broadcast against the streaming corpus;
    ranking is a window over (query, similarity desc) with the corpus
    id as a deterministic tiebreak. Output: (query_id, neighbor_id,
    cosine_sim), k rows per query.
    """
    # norms are per-ROW projections (computed once per side); only the
    # dot product runs per pair — the higher-order-function folds are
    # interpreted, so per-pair work is the term to minimize
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def plane_weights(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: parity of the first md5
    nibble of ``"{p}:{d}"`` (table 0) or ``"t{table}:{p}:{d}"`` —
    ``table`` selects an INDEPENDENT plane set for multi-table LSH.
    Computed driver-side (hashlib) — they are plan-time constants, so
    shipping them as literals costs nothing, while building them as
    per-row md5 expressions costs n_planes×dim hash evaluations per
    row (measured: dominates the whole LSH query)."""
    import hashlib

    def key(p: int, d: int) -> str:
        return f"{p}:{d}" if table == 0 else f"t{table}:{p}:{d}"

    return [
        [
            1.0 if int(hashlib.md5(key(p, d).encode()).hexdigest()[0], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def random_project(
    vec: Column, out_dim: int = 8, dim: int = 64, table: int = 31
) -> list[Column]:
    """Johnson-Lindenstrauss random projection to ``out_dim`` columns
    ``p0..p{out_dim-1}`` using the deterministic ±1 plane family
    (Achlioptas sign matrix — same md5-derived weights as the LSH
    planes, under an independent ``table`` salt).

    The 100 TB role: shrink embeddings BEFORE the shuffle-heavy
    stages — an 8-d projection is 8× less shuffle bytes for candidate
    generation, with the JL guarantee that pairwise distances distort
    by at most ~(1±ε). Every arithmetic step is an IEEE multiply/add
    in a fixed left-to-right fold, so projections replay bit-for-bit
    in any engine (the oracle rebuilds the identical ± chain in SQL).
    """
    v = _as_double(vec)
    return [
        dot(v, F.array(*[F.lit(w) for w in ws])).alias(f"p{j}")
        for j, ws in enumerate(plane_weights(out_dim, dim, table))
    ]


def hyperplane_bucket(
    vec: Column, n_planes: int = 12, dim: int = 64, table: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id (deterministic planes).

    Plane p's weight for dimension d is derived from md5 of the
    (table, p, d) key — a reproducible pseudo-random ±1 hyperplane, no
    RNG state. Bucket = concat of sign bits → one long. Distinct
    ``table`` values give statistically independent bucketings (the
    multi-table LSH recall lever).
    """
    v = _as_double(vec)
    bucket = F.lit(0).cast("long")
    for ws in plane_weights(n_planes, dim, table):
        weights = F.array(*[F.lit(w) for w in ws])
        proj = dot(v, weights)
        bit = F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bucket = F.shiftleft(bucket, 1).bitwiseOR(bit)
    return bucket


def hyperplane_bucket_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int = 64,
    tables: tuple[int, ...] = (0,),
) -> DataFrame:
    """(id, _b{t} per table) — all hyperplane buckets in ONE Arrow
    batch matmul. The scale path for bucket computation.

    Semantics are identical to ``hyperplane_bucket`` (same md5-derived
    ±1 planes, same ``proj > 0`` sign rule, same MSB-first bit pack);
    the arithmetic is a (batch × dim) · (dim × tables·planes) float64
    matmul instead of tables×planes interpreted array folds per row.
    Measured at sf0.1: the fold form spent ~90% of the LSH queries'
    time computing buckets; the batch form makes it negligible (BLAS
    does ~10⁸ mul-adds/core/ms; Arrow transfer is the only overhead).

    Summation-order caveat, documented: BLAS accumulates in a
    different order than the left-to-right fold, so a projection would
    need |Σ ±vᵢ| ≲ 1e-13 for the SIGN (the only thing kept) to flip
    vs the fold form — parity over every vector × table in the test
    corpus is pinned by ``test_bucket_batch_matches_expression``.
    """
    import numpy as np
    import pandas as pd

    weights = np.array(
        [w for t in tables for w in plane_weights(n_planes, dim, t)],
        dtype=np.float64,
    )  # (len(tables)*n_planes, dim)
    shifts = np.array(
        [1 << (n_planes - 1 - p) for p in range(n_planes)], dtype=np.int64
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"{id_col} {id_type}"] + [f"_b{t} long" for t in tables]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (v @ weights.T) > 0  # (n, tables*planes)
            out = {id_col: pdf[id_col]}
            for i, t in enumerate(tables):
                chunk = bits[:, i * n_planes : (i + 1) * n_planes]
                out[f"_b{t}"] = (chunk * shifts).sum(axis=1)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 2,
    n_tables: int = 6,
) -> DataFrame:
    """ANN top-k: multi-table, multi-probe hyperplane LSH (OR over
    ``n_tables`` independent plane sets), exact cosine on the
    candidate set.

    Recall levers, compounding (round-2/3 fixes — a single table with
    hamming-1 probing plateaued at ≈0.35 recall@5; 4 tables at
    hamming-1 reached 0.70; 6 tables at hamming-2 clears the 0.8
    target with margin):

    - ``n_tables`` INDEPENDENT bucketings; a true neighbor is found if
      it collides in ANY table — recall 1-(1-p)^L instead of p.
    - ``probe_hamming`` probes every bucket within that hamming
      distance of the query's bucket (flip each subset of ≤h sign
      bits) — probe factor Σ C(n_planes, i) on the SMALL query side
      only; the corpus index stays one row per table per vector.

    Scale shape: the corpus index is (id, table:bucket) pairs — ids
    only, one row per table per vector; the 64-double vectors never
    enter the bucket join and join back by id AFTER the candidate
    distinct. All joins are equi-joins (hash-partitioned lookups); the
    probe explosion multiplies only the broadcast query side.
    """
    from itertools import combinations

    def bucket_cols(df: DataFrame, out_id: str) -> DataFrame:
        # one Arrow matmul for ALL tables' buckets; downstream key
        # expressions reference the bucket columns as cheap attrs
        return hyperplane_bucket_table(
            df, id_col, vec_col, n_planes, dim, tables=tuple(range(n_tables))
        ).withColumnRenamed(id_col, out_id)

    c_idx = bucket_cols(corpus, "neighbor_id").select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{t}:"), F.col(f"_b{t}").cast("string"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tk"),
    )
    flip_masks = [0] + [
        sum(1 << i for i in bits)
        for h in range(1, probe_hamming + 1)
        for bits in combinations(range(n_planes), h)
    ]
    probe_keys = [
        F.concat(
            F.lit(f"{t}:"),
            (F.col(f"_b{t}").bitwiseXOR(F.lit(m)) if m else F.col(f"_b{t}")).cast(
                "string"
            ),
        )
        for t in range(n_tables)
        for m in flip_masks
    ]
    q_idx = bucket_cols(queries, "query_id").select(
        "query_id",
        F.explode(F.array(*probe_keys)).alias("tk"),
    )
    cand = (
        c_idx.join(F.broadcast(q_idx), "tk")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        # shuffle raw pairs before distinct: near-zero per-mapper
        # reduction makes partial-agg hash maps spill (measured)
        .repartition(F.col("query_id"), F.col("neighbor_id"))
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_rows: int = 512,
    iters: int = 5,
) -> list[list[float]]:
    """Deterministic spherical k-means centroids for IVF, trained
    driver-side on a bounded sample.

    Scale posture: training collects at most ``sample_rows`` vectors
    (ORDER BY id — deterministic, a few hundred KB regardless of
    corpus size); Lloyd iterations are numpy float64 with
    deterministic init (every ⌊n/k⌋-th sample vector) and NO RNG, so
    the centroids are reproducible plan-time constants — which is
    what lets the DuckDB oracle replay the whole IVF pipeline.
    Empty clusters keep their previous centroid.
    """
    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_ivf_centroids: empty corpus — an IVF index needs at "
            "least one vector to train on"
        )
    return lloyd_spherical([list(r[1]) for r in rows], n_centroids, iters)


def lloyd_spherical(
    sample: list[list[float]], n_centroids: int, iters: int = 5
) -> list[list[float]]:
    """Shared deterministic Lloyd core (numpy float64, stable argmax
    ties→lowest index, no RNG) — called by ``train_ivf_centroids`` AND
    by the oracle generator on the same sample, so both sides embed
    bit-identical centroids."""
    import numpy as np

    v = np.array(sample, dtype=np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    step = max(len(v) // n_centroids, 1)
    c = v[::step][:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(v @ c.T, axis=1)
        for j in range(len(c)):
            members = v[assign == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    c[j] = m / norm
    return [[float(x) for x in row] for row in c]


def ivf_assign_table(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """(id, _cell, _cr) — each vector's ``n_probe`` nearest centroid
    cells by cosine, rank 1 = nearest. One Arrow-batch float64 matmul
    per partition (same scale shape as ``hyperplane_bucket_table``);
    ties break toward the lower centroid index (numpy argsort is
    stable), matching the oracle's ``ORDER BY sim DESC, cid ASC``.
    """
    import numpy as np
    import pandas as pd

    c = np.array(centroids, dtype=np.float64)  # (k, dim), pre-normalized
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, _cell int, _cr int"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (v / norms) @ c.T  # (n, k)
            # stable argsort on -sims → descending sim, ties by cid
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(n_probe),
                    "_cell": order.reshape(-1).astype("int32"),
                    "_cr": np.tile(
                        np.arange(1, n_probe + 1, dtype="int32"), n
                    ),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization — the
    partition-pruning counterpart to ``cosine_topk_lsh``.

    Corpus vectors are assigned to their nearest spherical-k-means
    cell (one int per vector — the inverted file); each query probes
    its ``n_probe`` nearest cells and re-ranks candidates with exact
    cosine. At scale the corpus side is one narrow (id, cell) table;
    writing it partitioned by cell turns probes into partition-pruned
    scans of ~n_probe/k of the data. Candidates are id-only; vectors
    join back AFTER the cell join, as in the LSH path.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids
        )
    c_cells = ivf_assign_table(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("neighbor_id"), "_cell"
    )
    q_cells = ivf_assign_table(
        queries, centroids, id_col, vec_col, n_probe=n_probe
    ).select(F.col(id_col).alias("query_id"), "_cell")
    cand = (
        c_cells.join(F.broadcast(q_cells), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    dim: int = 64,
    n_bands: int = 3,
    salt: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED hyperplane-LSH
    blocking: candidates share at least one of ``n_bands`` bucket
    bands (``n_planes / n_bands`` sign bits each); cosine is verified
    exactly on the candidate set. Returns (id_a, id_b, cosine_sim),
    id_a < id_b.

    100 TB shape (round-1 fix): the single-bucket form had 2^6 = 64
    buckets total — a hot bucket's full n²/64 pair set landed on one
    task, and 64 partitions cannot spread any real corpus. Now:

    - ``n_planes`` is higher (2^12 bucket space) and split into bands;
      OR-ing bands recovers the recall a 12-bit exact match would
      lose (same trade as MinHash banding).
    - The self-join goes through ``_salted_bucket_pairs`` — a hot band
      bucket spreads over ``salt`` tasks.
    - Candidates are id-PAIRS ONLY (no vectors): distinct first, then
      the 64-double vectors join back by id. Replicating vectors
      through the band × salt explosion would multiply shuffle volume
      by bands×salt; two id-keyed joins do not.
    """
    from .dedup import _dedup_pairs, _salted_bucket_pairs

    # One composite-key salted self-join over exploded band rows +
    # distinct. First-match emission (_banded_first_match_pairs) was
    # tried in round 3 and measured slower HERE (unlike minhash/
    # simhash): the candidate set is small, so the distinct is cheap
    # and the first-match payload/filter overhead dominates.
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1
    buckets = hyperplane_bucket_table(
        df, id_col, vec_col, n_planes, dim, tables=(0,)
    ).withColumnRenamed("_b0", "_bucket")
    bands = buckets.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.shiftright(F.col("_bucket"), (n_bands - 1 - i) * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    )
    cand = _dedup_pairs(
        _salted_bucket_pairs(bands, id_col, "bk", salt=salt).select("id_a", "id_b")
    )
    v = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        l2_norm(_as_double(F.col(vec_col))).alias("_n"),
    ).filter(F.col("_n") > 0)
    joined = cand.join(
        v.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("v_a"),
            F.col("_n").alias("n_a"),
        ),
        "id_a",
    ).join(
        v.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("v_b"),
            F.col("_n").alias("n_b"),
        ),
        "id_b",
    )
    sim = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        joined.select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the ANN memory-scale path: vectors
# compress to m small codes (here 8 codes × 4 bits = 8 bytes vs 256
# bytes of raw float32), and candidate scoring reads ONLY the codes
# via ADC lookup tables; raw vectors are touched only for the final
# exact re-rank of a small shortlist. At 100 TB of embeddings the
# code table is ~1/32 the size of the vector table — the difference
# between an index that fits in cluster memory and one that doesn't.
#
# Determinism/oracle discipline (same as IVF): codebooks are trained
# driver-side on a bounded deterministic sample with a shared no-RNG
# Lloyd core, so they are plan-time constants both the Spark path and
# the DuckDB oracle embed. Every dot/dist accumulation that must
# compare bit-identically across engines is written in FIXED
# left-to-right order on both sides (sequential-over-dimension numpy
# accumulation here, explicit `t0 + t1 + ...` chains in the SQL).
# ---------------------------------------------------------------------------


def lloyd_l2(
    sample: list[list[float]], n_centroids: int, iters: int = 5
) -> list[list[float]]:
    """Deterministic L2 Lloyd (plain k-means) for PQ sub-codebooks:
    init every ⌊n/k⌋-th sample vector, stable argmin (ties→lowest
    index), mean update, empty clusters keep their centroid, no RNG.
    Shared by the Spark trainer and the oracle generator, so both
    embed bit-identical codebooks."""
    import numpy as np

    v = np.array(sample, dtype=np.float64)
    step = max(len(v) // n_centroids, 1)
    c = v[::step][:n_centroids].copy()
    for _ in range(iters):
        d2 = ((v[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        assign = np.argmin(d2, axis=1)
        for j in range(len(c)):
            members = v[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return [[float(x) for x in row] for row in c]


def pq_codebooks_from_sample(
    sample: list[list[float]], m: int = 8, n_codes: int = 16, iters: int = 5
) -> list[list[list[float]]]:
    """m sub-codebooks (m × n_codes × dim/m) from a raw-vector sample —
    the single training routine both engines' replicas call."""
    if not sample:
        raise ValueError(
            "pq_codebooks_from_sample: empty sample — PQ codebooks need "
            "at least one training vector"
        )
    dim = len(sample[0])
    dsub = dim // m
    return [
        lloyd_l2([v[j * dsub : (j + 1) * dsub] for v in sample], n_codes, iters)
        for j in range(m)
    ]


def train_pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_rows: int = 512,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Bounded deterministic sample (ORDER BY id LIMIT n — a few
    hundred KB regardless of corpus size) → shared PQ trainer."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_rows).collect()
    )
    return pq_codebooks_from_sample(
        [list(r[1]) for r in rows], m=m, n_codes=n_codes, iters=iters
    )


def _seq_dot(a, b):
    """Sequential-over-last-axis accumulation: a ⊙ b summed d=0,1,…
    in FIXED order — bit-matches the oracle's explicit `t0 + t1 + …`
    chains (numpy's pairwise/BLAS summation would not)."""
    import numpy as np

    acc = np.zeros(np.broadcast(a[..., 0], b[..., 0]).shape, dtype=np.float64)
    for d in range(a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def pq_encode_table(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, c0..c{m-1}) — each vector's per-subspace code: argmin over
    centroids of ||x_sub − c||², compared via t = ||c||² − 2·x_sub·c
    (the ||x_sub||² term is constant per row and dropped). One Arrow
    batch per partition; stable argmin (ties→lowest code). The t
    formula, the ||c||² literals, and the sequential x·c order are
    IDENTICAL to the oracle's SQL, so codes match bit-for-bit."""
    import numpy as np
    import pandas as pd

    cb = np.array(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, n_codes, dsub = cb.shape
    cnorm = np.array(
        [[_seq_dot(c, c) for c in cb[j]] for j in range(m)], dtype=np.float64
    )  # (m, k)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"{id_col} {id_type}"] + [f"c{j} int" for j in range(m)])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = {id_col: pdf[id_col]}
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]  # (n, dsub)
                # x·c per code, sequential over d
                xc = _seq_dot(sub[:, None, :], cb[j][None, :, :])  # (n, k)
                t = cnorm[j][None, :] - 2.0 * xc
                out[f"c{j}"] = np.argmin(t, axis=1).astype("int32")
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    n_codes: int = 64,
    shortlist: int = 64,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k via PQ-ADC: asymmetric-distance shortlist over the
    8-byte code table, exact cosine re-rank of the shortlist.

    Plan shape: the query set is SMALL by contract (ANN queries are a
    probe set, not a table) — it is collected once driver-side and its
    per-subspace lookup tables (query_sub · centroid, nq × m × k
    doubles) ship as plan constants inside the scoring UDF. Scoring
    reads ONLY (id, codes): one narrow Arrow pass, sequential-over-m
    LUT accumulation, no raw vectors. The raw vectors enter exactly
    once, joining back to the ≤ shortlist×nq candidate ids for the
    exact re-rank — at 100 TB the 32×-smaller code table is the only
    thing scanned per query batch.

    Shortlist ranks by approximate DOT (vectors near-unit-norm in
    this corpus); the exact re-rank restores true cosine order.
    Recall is pinned against the brute-force truth by
    test_pq_recall_floor.
    """
    import numpy as np

    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, id_col, vec_col, m=m, n_codes=n_codes
        )
    cb = np.array(codebooks, dtype=np.float64)  # (m, k, dsub)
    _, _, dsub = cb.shape
    q_rows = sorted(
        queries.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    # zero-norm probes have undefined cosine — excluded like every
    # other ANN path
    q_rows = [r for r in q_rows if any(x != 0 for x in r[1])]
    if not q_rows:
        # empty probe set degrades to an empty result like the
        # pure-DataFrame ANN paths (np.array([]) is 1-D and the LUT
        # slicing below would raise instead)
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {corpus.schema[id_col].dataType.simpleString()}, "
            f"neighbor_id "
            f"{corpus.schema[id_col].dataType.simpleString()}, "
            "cosine_sim double, rank int",
        )
    q_ids = [r[0] for r in q_rows]
    qv = np.array([list(r[1]) for r in q_rows], dtype=np.float64)  # (nq, dim)
    # LUT[qi, j, code] = q_sub · c — sequential over d, like the SQL
    lut = np.stack(
        [
            _seq_dot(
                qv[:, j * dsub : (j + 1) * dsub][:, None, :], cb[j][None, :, :]
            )
            for j in range(m)
        ],
        axis=1,
    )  # (nq, m, k)

    codes = pq_encode_table(corpus, codebooks, id_col, vec_col)
    import pandas as pd

    nq = len(q_ids)
    q_id_arr = np.array(q_ids)
    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = f"query_id {id_type}, neighbor_id {id_type}, approx double"

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            code_mat = np.stack(
                [pdf[f"c{j}"].to_numpy() for j in range(m)], axis=1
            )  # (n, m)
            # approx[n, q]: sequential over m — matches `t0 + t1 + …`
            acc = np.zeros((n, nq), dtype=np.float64)
            for j in range(m):
                acc = acc + lut[:, j, code_mat[:, j]].T  # (n, nq)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_id_arr, n),
                    "neighbor_id": ids.repeat(nq),
                    "approx": acc.reshape(-1),
                }
            )

    scored = codes.mapInPandas(score, schema).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv_df = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    cv_df = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
        l2_norm(_as_double(F.col(vec_col))).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    rescored = (
        cand.join(F.broadcast(qv_df), "query_id")
        .join(cv_df, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def bipartite_align(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitext-style ALIGNMENT mining: for every LEFT vector, its
    nearest RIGHT vector by cosine plus the margin over the runner-up
    — the parallel-corpus mining step (align candidate translations /
    caption-image pairs across two partitions) where the MARGIN, not
    the raw similarity, is the accept signal (Artetxe & Schwenk's
    margin criterion, here the absolute top1−top2 gap).

    Physical shape mirrors ``cosine_topk``: the right side is
    broadcast (it is the index side — pre-filter or shard it when it
    outgrows broadcast; the LSH-bucketed variant for two UNbounded
    sides is ``embedding_near_dups``'s banded join with a side tag),
    the left side streams, and per-left ranking is one window.

    Returns (id, match_id, cosine_sim, margin) — margin NULL when the
    right side has a single vector.
    """
    l_ = left.select(
        F.col(id_col).alias("_a"),
        _as_double(F.col(vec_col)).alias("_av"),
        l2_norm(_as_double(F.col(vec_col))).alias("_an"),
    ).filter(F.col("_an") > 0)
    r_ = right.select(
        F.col(id_col).alias("_b"),
        _as_double(F.col(vec_col)).alias("_bv"),
        l2_norm(_as_double(F.col(vec_col))).alias("_bn"),
    ).filter(F.col("_bn") > 0)
    scored = l_.crossJoin(F.broadcast(r_)).select(
        "_a",
        "_b",
        (dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn"))).alias(
            "_sim"
        ),
    )
    w = Window.partitionBy("_a").orderBy(F.desc("_sim"), F.col("_b"))
    top2 = scored.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= 2
    )
    return top2.groupBy(F.col("_a").alias(id_col)).agg(
        F.max(F.when(F.col("_r") == 1, F.col("_b"))).alias("match_id"),
        F.round(F.max(F.when(F.col("_r") == 1, F.col("_sim"))), 6).alias(
            "cosine_sim"
        ),
        F.round(
            F.max(F.when(F.col("_r") == 1, F.col("_sim")))
            - F.max(F.when(F.col("_r") == 2, F.col("_sim"))),
            6,
        ).alias("margin"),
    )


def _prep_side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Project (id, double vector, L2 norm) and drop zero-norm rows —
    the shared entry stage of the ANN alignment (see the zero-norm
    rationale in ``bipartite_align_ann``)."""
    v = _as_double(F.col(vec_col))
    return df.select(
        F.col(id_col), v.alias(vec_col), l2_norm(v).alias("_n")
    ).filter(F.col("_n") > 0)


def _ann_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    n_bands: int,
    bucket_cap: int | None = 128,
    coverage_min: int = 2,
) -> DataFrame:
    """Deduped (``_a``, ``_b``) candidate set of the ANN alignment:
    banded-LSH collisions plus the exact-scan fallback rows for
    probes whose bands caught fewer than ``coverage_min`` right-side
    vectors (2 for alignment — the margin needs a runner-up;
    0 disables the fallback entirely for consumers like
    decontamination where an uncovered probe simply has no hit).
    Inputs must already be ``_prep_side``-projected. This set is the
    alignment's DRIVING VOLUME — every pair here is exact-rescored —
    so the scale sweep in ``BENCH_SCALE3.json`` counts it directly.

    Band geometry (bits per band, extraction mask) is derived HERE
    from (n_planes, n_bands) — callers cannot pass a disagreeing
    split, which would silently shift every band extraction.

    ``bucket_cap`` is the HOT-BUCKET guard (round-11 fix — the
    minhash ``max_bucket`` playbook ported to the hyperplane index):
    each right-side band bucket keeps only its first ``bucket_cap``
    members by id, so a probe scores at most n_bands × bucket_cap
    banded candidates and total candidate volume is LINEAR in probes
    instead of tracking the cross product. Without it the round-10
    audit measured 92% of the full cross product admitted at BOTH
    sf0.1 and sf1.0 (weak-match corpus: every band bucket is hot).
    The truncation is deterministic (smallest ids win — the oracle
    replays the same rank), and its recall trade is measured, not
    assumed: tools/sim numbers in the round-11 commit show top-1
    agreement vs the exact alignment of 0.967/0.953/0.953 at
    sf0.001/0.1/1.0 with candidates cut 10.6× at sf1.0; the pinned
    ≥0.95 recall test (tests/test_round9.py) stays green. Pass
    ``bucket_cap=None`` to disable (recall-first mode)."""
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1

    def bands(df: DataFrame, out_id: str) -> DataFrame:
        b = hyperplane_bucket_table(
            df, id_col, vec_col, n_planes, dim, tables=(0,)
        ).withColumnRenamed("_b0", "_bucket")
        return b.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"{i}:"),
                            F.shiftright(
                                F.col("_bucket"), (n_bands - 1 - i) * band_bits
                            )
                            .bitwiseAND(F.lit(mask))
                            .cast("string"),
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("bk"),
        )

    lb = bands(left, "_a")
    rb = bands(right, "_b")
    if bucket_cap is not None:
        # Keep the first `bucket_cap` right-side members of every band
        # bucket, by id — deterministic, and the rank shuffle lands on
        # the SAME key (bk) the candidate join uses next, so AQE plans
        # one co-partitioned exchange for both.
        rb = (
            rb.withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy("bk").orderBy("_b")),
            )
            .filter(F.col("_rk") <= bucket_cap)
            .drop("_rk")
        )
    raw = lb.join(rb, "bk").select("_a", "_b")
    if coverage_min <= 0:
        return raw.distinct()
    # Dedup + coverage on ONE probe-keyed exchange (r12): hash-
    # partitioning by _a alone satisfies the (_a, _b) dedup aggregate
    # (same _a ⟹ same partition ⟹ same pair colocated) AND the
    # per-probe coverage count window, so the repartition exchange
    # feeds both — the pre-r12 shape paid a (_a, _b) distinct
    # exchange, a separate groupBy(_a) coverage exchange, and then a
    # FULL re-distinct of the fallback union. Skew is bounded by
    # construction: a probe carries at most n_bands × bucket_cap
    # banded candidates. The explicit repartition-before-distinct is
    # the _dedup_pairs rationale (near-zero per-mapper reduction makes
    # the partial-agg hash maps spill).
    cand = raw.repartition("_a").dropDuplicates(["_a", "_b"]).withColumn(
        "_nc", F.count(F.lit(1)).over(Window.partitionBy("_a"))
    )
    # Disjoint split instead of union-then-distinct: a missed probe's
    # banded candidates (0 or coverage_min-1 pairs) are a SUBSET of
    # its exact-scan fallback rows, so dropping them here and emitting
    # the full right side for those probes yields the identical pair
    # set with no dedup pass over the union — kept and fallback rows
    # can never share a probe id. (A duplicate pair would occupy both
    # top-2 window slots and zero the margin, hence the care.)
    kept = cand.filter(F.col("_nc") >= coverage_min).drop("_nc")
    l_ids = left.select(F.col(id_col).alias("_a"))
    r_ids = right.select(F.col(id_col).alias("_b"))
    missed = l_ids.join(kept.select("_a"), "_a", "left_anti")
    return kept.unionByName(missed.crossJoin(r_ids)).distinct()


def bipartite_align_scored_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 36,
    dim: int = 64,
    n_bands: int = 12,
    bucket_cap: int | None = 128,
) -> DataFrame:
    """The exact pair set ``bipartite_align_ann`` rescores — its
    driving volume. Exposed for scale measurement: time scales with
    THIS count, not with the k-bounded output. With the round-11
    hot-bucket cap the count is ≤ |left| × n_bands × bucket_cap plus
    fallback rows — linear in probes (measured 768k at sf0.1, 8.64M
    at sf1.0 = exponent ~1.05 in rows, vs 92% of the cross product
    before the cap)."""
    return _ann_candidate_pairs(
        _prep_side(left, id_col, vec_col),
        _prep_side(right, id_col, vec_col),
        id_col,
        vec_col,
        n_planes,
        dim,
        n_bands,
        bucket_cap,
    )


def bipartite_align_ann(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 36,
    dim: int = 64,
    n_bands: int = 12,
    bucket_cap: int | None = 128,
) -> DataFrame:
    """``bipartite_align`` at bitext-mining scale: the candidate set
    comes from banded hyperplane LSH (same deterministic md5-derived
    planes and band split as ``embedding_near_dups``), the shortlist is
    exact-rescored, and the top1−top2 margin is computed over it — so
    neither side is ever broadcast whole and no cross product appears
    in the plan.

    Contract parity with the exact form: every LEFT id still aligns,
    and every probe has a real runner-up margin whenever |right| ≥ 2.
    Probes whose LSH bands catch FEWER THAN TWO right-side vectors
    (rare — a same-direction pair agrees on a sign band with high
    probability) fall back to an exact scan of the right side for
    JUST those probes, so the fallback cross join is
    |misses|×|right|, not |left|×|right|; the threshold is 2, not 1,
    because the margin (the documented accept signal) needs a
    runner-up — a 1-candidate shortlist would emit margin NULL and a
    consumer thresholding on margin would silently drop the pair.
    Margin is relative to the shortlist runner-up — the standard
    mining practice (the runner-up is itself a nearest candidate, and
    a margin computed against a far-away vector would be inflated
    anyway).

    Scale shape: both band indexes are (id, band-key) rows — ids only;
    the bands equi-join (AQE skew-join spreads a hot band), candidates
    dedupe as id pairs, and the 64-double vectors join back BY ID
    after dedup, exactly like the near-dup path. Work is
    |candidates| + |misses|·|right| dot products instead of
    |left|·|right|.

    Band sizing is recall-driven and DATA-DEPENDENT: a pair at angle θ
    collides per b-bit band with (1−θ/π)^b, any of L bands →
    1−(1−p^b)^L. The 12×3-bit default clears 0.95 top-1 recall even
    on the test corpus's WEAK matches (median top-1 cosine ≈ 0.39 →
    p ≈ 0.63, the adversarial regime for LSH: the bulk of the pair
    space sits at p ≈ 0.5, so band geometry alone separates poorly —
    the round-10 audit measured 92% of the cross product admitted by
    the old 9×2-bit bands). The scale lever is therefore the
    ``bucket_cap``: each right-side band bucket keeps its first
    ``bucket_cap`` members by id, bounding candidates at
    |left| × n_bands × bucket_cap — LINEAR in probes at every corpus
    size (measured: 768k at sf0.1, 8.64M at sf1.0 — exponent ~1.05 in
    rows, a 10.6× cut vs the uncapped 91.7M — while measured top-1
    agreement vs the exact alignment stays 0.967/0.953/0.953 at
    sf0.001/0.1/1.0). On real bitext corpora, where accepted pairs sit
    at cosine ≥ 0.8 (p ≥ 0.8), the same config prunes far more before
    the cap even binds and recall goes to ~1; the residual 100 TB
    sizing rule is unchanged — band bits grow with log2|right| to
    hold expected bucket occupancy constant, so the cap's truncation
    (the only recall cost) stays rare. Time scales with the CANDIDATE
    count (``bipartite_align_scored_pairs``), not the k-bounded
    output — that is the driving volume the scale sweep in
    ``BENCH_SCALE3.json`` measures.
    """
    # Zero-norm vectors have no cosine direction: they can neither be
    # aligned nor serve as a match. Drop them BEFORE banding so they
    # also do not count toward the >=2-candidate coverage threshold —
    # a probe whose band hits are {real vector, zero-norm vector}
    # must still take the exact-scan fallback to get a real runner-up
    # (filtering only at scoring would run after coverage was
    # decided, skewing it). The norm is projected ONCE per side and
    # reused by the scoring stage below, so the interpreted 64-element
    # fold is not re-derived in a second lineage expression.
    left = _prep_side(left, id_col, vec_col)
    right = _prep_side(right, id_col, vec_col)
    all_cand = _ann_candidate_pairs(
        left, right, id_col, vec_col, n_planes, dim, n_bands, bucket_cap
    )
    # _prep already projected the norm and dropped zero-norm rows
    lv = left.select(
        F.col(id_col).alias("_a"),
        F.col(vec_col).alias("_av"),
        F.col("_n").alias("_an"),
    )
    rv = right.select(
        F.col(id_col).alias("_b"),
        F.col(vec_col).alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    scored = (
        all_cand.join(lv, "_a")
        .join(rv, "_b")
        .select(
            "_a",
            "_b",
            (
                dot(F.col("_av"), F.col("_bv"))
                / (F.col("_an") * F.col("_bn"))
            ).alias("_sim"),
        )
    )
    w = Window.partitionBy("_a").orderBy(F.desc("_sim"), F.col("_b"))
    top2 = scored.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= 2
    )
    return top2.groupBy(F.col("_a").alias(id_col)).agg(
        F.max(F.when(F.col("_r") == 1, F.col("_b"))).alias("match_id"),
        F.round(F.max(F.when(F.col("_r") == 1, F.col("_sim"))), 6).alias(
            "cosine_sim"
        ),
        F.round(
            F.max(F.when(F.col("_r") == 1, F.col("_sim")))
            - F.max(F.when(F.col("_r") == 2, F.col("_sim"))),
            6,
        ).alias("margin"),
    )


def _decon_pick_best(scored: DataFrame, id_col: str) -> DataFrame:
    """(corpus ``_b``, benchmark ``_a``, ``_sim``) hits → the drop
    manifest: best match per corpus vector (max cosine, ties by min
    benchmark id), cosine rounded to 6 dp for the cross-engine hash."""
    w = Window.partitionBy("_b").orderBy(F.desc("_sim"), F.col("_a"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            F.col("_b").alias(id_col),
            F.col("_a").alias("benchmark_id"),
            F.round("_sim", 6).alias("cosine_sim"),
        )
    )


def semantic_decontaminate(
    benchmark: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """SEMANTIC benchmark decontamination (round 11): flag every
    training-corpus vector whose cosine to ANY benchmark vector is
    ≥ ``threshold`` — the embedding-level complement of the n-gram
    ``decontaminate_ngram`` (paraphrased eval leakage has no shared
    n-grams but lands at high cosine; GPT-3 appendix C / Gopher §A.3
    both had to do this pass). Returns the DROP MANIFEST: one row per
    contaminated corpus vector with its best-matching benchmark id
    and rounded cosine — what an audited pipeline stores alongside
    the cleaned corpus.

    This is the EXACT broadcast form and the production default:
    decontamination is recall-critical (a missed hit silently
    inflates eval numbers) and the benchmark side is BOUNDED by
    nature (an eval suite), so broadcasting it over one corpus scan
    is linear in corpus rows with recall 1.0 by construction. The
    capped-LSH variant (``semantic_decontaminate_lsh``) exists for
    the two-unbounded-sides case (corpus-vs-corpus contamination) —
    and the round-11 recall audit is WHY exact is the default here:
    the alignment-tuned 12 × 3-bit + cap-128 geometry measured only
    0.40 recall at sf0.1 on this corpus (the cap truncates buckets
    whose width exceeds it), which an alignment can absorb but a
    decontamination pass cannot
    (``decontamination_recall_audit``).
    """
    b = _prep_side(benchmark, id_col, vec_col)
    c = _prep_side(corpus, id_col, vec_col)
    bv = b.select(
        F.col(id_col).alias("_a"),
        F.col(vec_col).alias("_av"),
        F.col("_n").alias("_an"),
    )
    cv = c.select(
        F.col(id_col).alias("_b"),
        F.col(vec_col).alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    scored = (
        cv.crossJoin(F.broadcast(bv))
        .select(
            "_a",
            "_b",
            (
                dot(F.col("_av"), F.col("_bv"))
                / (F.col("_an") * F.col("_bn"))
            ).alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
    )
    return _decon_pick_best(scored, id_col)


def semantic_decontaminate_lsh(
    benchmark: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_planes: int = 36,
    dim: int = 64,
    n_bands: int = 12,
    bucket_cap: int | None = 128,
) -> DataFrame:
    """The capped-LSH variant of ``semantic_decontaminate`` for the
    case where BOTH sides are unbounded (corpus-vs-corpus
    contamination, where no side broadcasts): candidates from the
    capped banded-hyperplane generator (``_ann_candidate_pairs`` with
    ``coverage_min=0`` — no runner-up fallback needed), bounded at
    |probe side| × n_bands × bucket_cap, then exact rescoring at the
    threshold. Approximate by design; its measured recall against the
    exact form is the catalog's ``decontamination_recall_audit``
    (0.40 at sf0.1 with the default geometry — raise bits/cap, or use
    the exact broadcast form whenever one side is bounded)."""
    b = _prep_side(benchmark, id_col, vec_col)
    c = _prep_side(corpus, id_col, vec_col)
    cand = _ann_candidate_pairs(
        b, c, id_col, vec_col, n_planes, dim, n_bands, bucket_cap,
        coverage_min=0,
    )
    bv = b.select(
        F.col(id_col).alias("_a"),
        F.col(vec_col).alias("_av"),
        F.col("_n").alias("_an"),
    )
    cv = c.select(
        F.col(id_col).alias("_b"),
        F.col(vec_col).alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    scored = (
        cand.join(bv, "_a")
        .join(cv, "_b")
        .select(
            "_a",
            "_b",
            (
                dot(F.col("_av"), F.col("_bv"))
                / (F.col("_an") * F.col("_bn"))
            ).alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
    )
    return _decon_pick_best(scored, id_col)


def semantic_decontaminate_recall(
    benchmark: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 36,
    dim: int = 64,
    n_bands: int = 12,
    bucket_cap: int | None = 128,
) -> DataFrame:
    """RECALL AUDIT for ``semantic_decontaminate`` — the
    lsh_recall_audit pattern applied to the decontamination pass: the
    capped-LSH flag set is a SUBSET of the brute-force flag set (same
    threshold, exact rescoring — only candidate GENERATION is
    approximate), so recall = |lsh| / |brute| exactly, reported as
    one scalar row (n_brute, n_lsh, recall).

    The brute leg is |benchmark| × |corpus| dot products with the
    benchmark side broadcast — LINEAR in corpus rows because an eval
    suite is bounded by nature (this is the audit you can afford
    corpus-wide; the LSH pass is what you ship). NULL-safe: recall is
    NULL when brute finds nothing to flag.
    """
    b = _prep_side(benchmark, id_col, vec_col)
    c = _prep_side(corpus, id_col, vec_col)
    bv = b.select(
        F.col(id_col).alias("_a"),
        F.col(vec_col).alias("_av"),
        F.col("_n").alias("_an"),
    )
    cv = c.select(
        F.col(id_col).alias("_b"),
        F.col(vec_col).alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    brute = (
        cv.crossJoin(F.broadcast(bv))
        .select(
            "_b",
            (
                dot(F.col("_av"), F.col("_bv"))
                / (F.col("_an") * F.col("_bn"))
            ).alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
        .select("_b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_brute"))
    )
    lsh = semantic_decontaminate_lsh(
        benchmark, corpus, id_col, vec_col, threshold,
        n_planes, dim, n_bands, bucket_cap,
    ).agg(F.count(F.lit(1)).alias("n_lsh"))
    return brute.crossJoin(lsh).select(
        "n_brute",
        "n_lsh",
        F.when(
            F.col("n_brute") > 0,
            F.round(
                F.col("n_lsh").cast("double")
                / F.col("n_brute").cast("double"),
                4,
            ),
        ).alias("recall"),
    )


def knn_shapley_values(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    panel: int = 16,
    scale: int = 1_000_000,
) -> DataFrame:
    """DATA VALUATION: exact KNN-Shapley value of every training
    point (Jia et al. 2019, "Efficient task-specific data valuation
    for nearest neighbor algorithms") — the per-example influence
    score an LLM-data pipeline uses to rank, prune, or pay for
    training data. For the KNN utility the Shapley value — normally
    2^n subset enumerations — collapses to ONE closed-form recurrence
    over training points sorted by distance to each validation point:

        s_(n)  = 1[y_(n) = y_val] / n
        s_(i)  = s_(i+1)
                 + (1[y_(i)=y_val] - 1[y_(i+1)=y_val])
                   · min(K, i) / (K · i)

    (pinned against brute-force Shapley over all n! permutations on a
    micro fixture in tests/test_round13.py). The reported value is
    the mean over a deterministic validation PANEL (the first
    ``panel`` ids by md5 order — a distributed top-k, no global
    window), which is the Shapley value for the panel-accuracy
    utility by linearity.

    Exactness across engines: components are integer-quantized
    (round(x·scale)) so squared L2 distances are EXACT BIGINTs and
    the per-validation ranking (dist², id tiebreak) is a total order
    no float ulp can flip; each recurrence term is an exact integer
    ratio; only the final reverse cumulative sum and panel mean are
    IEEE, absorbed by round(6) — the PageRank-oracle tolerance
    pattern.

    Scale shape: |panel| × n scored rows from a broadcast cross
    join (panel is constant-size at every sf); the per-validation
    ranking is a window over panel-id partitions — parallelism =
    panel size, each partition a full n·log n sort, the honest cost
    of EXACT KNN-Shapley (the production scale path is Jia et al.'s
    LSH variant: rank only an ANN shortlist per validation point,
    exactly this engine's ``cosine_topk_lsh`` machinery).
    """
    from pyspark.sql import Window

    q = emb.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lab"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x * scale, 0).cast("long"),
        ).alias("_v"),
    )
    sel = (
        q.orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(panel)
        .select(
            F.col("_id").alias("_vid"),
            F.col("_lab").alias("_vlab"),
            F.col("_v").alias("_vv"),
        )
    )
    train = q.join(
        F.broadcast(sel.select(F.col("_vid").alias("_id"))), "_id", "left_anti"
    )
    dist2 = F.aggregate(
        F.zip_with("_v", "_vv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = train.crossJoin(F.broadcast(sel)).select(
        "_vid",
        F.col("_id"),
        (F.col("_lab") == F.col("_vlab")).cast("int").alias("_eq"),
        dist2.alias("_d2"),
    )
    w = Window.partitionBy("_vid").orderBy("_d2", "_id")
    ranked = pairs.select(
        "_vid",
        "_id",
        "_eq",
        F.row_number().over(w).alias("_r"),
        F.lead("_eq").over(w).alias("_eqn"),
        F.count(F.lit(1)).over(Window.partitionBy("_vid")).alias("_n"),
    )
    term = F.when(
        F.col("_eqn").isNull(),
        F.col("_eq").cast("double") / F.col("_n"),
    ).otherwise(
        ((F.col("_eq") - F.col("_eqn")) * F.least(F.lit(k), F.col("_r")))
        / (float(k) * F.col("_r"))
    )
    rev = Window.partitionBy("_vid").orderBy(F.desc("_r")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    shap = ranked.select(
        "_vid", "_id", F.sum(term).over(rev).alias("_s")
    )
    return (
        shap.groupBy("_id")
        # + 0.0 normalizes IEEE negative zero: round() of a tiny
        # negative mean yields -0.0, whose string/hash form differs
        # from 0.0 across engines (the oracle adds the same + 0)
        .agg((F.round(F.avg("_s"), 6) + F.lit(0.0)).alias("knn_shapley"))
        .select(F.col("_id").alias(id_col), "knn_shapley")
    )


def mmr_topk(
    emb: DataFrame,
    probe_id: int = 0,
    pool: int = 30,
    k: int = 10,
    lam_num: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    greedy top-``k`` selection from a ``pool``-sized relevance
    shortlist, trading query similarity against redundancy with the
    already-selected set — the DIVERSIFICATION rung of the retrieval
    ladder beside fusion (``hybrid_search_rrf``) and pure relevance
    (``cosine_topk``). mmr(c) = λ·sim(q,c) − (1−λ)·max_{s∈S}
    sim(c,s), λ = ``lam_num``/10.

    Exactness contract: every similarity is quantized ONCE to an e6
    integer (round(1e6·cosine) — the same single-rounding boundary
    the rest of the catalog uses for cross-engine doubles), and the
    greedy itself is pure integer arithmetic (mmr_e7 = lam·sim_e6 −
    (10−lam)·max_pair_e6), so selection order is bit-reproducible
    and SQL-replayable by unrolling one CTE layer per pick. Ties:
    max score, then min id — both engines.

    Scale shape: one corpus scan scores the broadcast probe
    (linear), the pool cut is TakeOrderedAndProject, and everything
    after runs on a SNAPSHOTTED ``pool``-row panel: the pool×pool
    pair matrix is a broadcast self-join (bounded, stated here: at
    most ``pool²`` = O(10³) rows at any corpus size) and the greedy
    is one Arrow grouped-map over that panel — corpus size never
    enters the post-cut stages. The greedy is inherently sequential
    (each pick conditions the next), so panel-grain Python is the
    right tool, not a distributed window.
    """
    import pandas as pd

    from ..sources.scratch import snapshot

    v = emb.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        l2_norm(_as_double(F.col(vec_col))).alias("_n"),
    ).filter(F.col("_n") > 0)
    q = v.filter(F.col("_id") == probe_id).select(
        F.col("_v").alias("_qv"), F.col("_n").alias("_qn")
    )
    cand = snapshot(
        v.filter(F.col("_id") != probe_id)
        .crossJoin(F.broadcast(q))
        .select(
            "_id",
            "_v",
            "_n",
            F.round(
                F.lit(1_000_000.0)
                * dot(F.col("_v"), F.col("_qv"))
                / (F.col("_n") * F.col("_qn"))
            )
            .cast("long")
            .alias("_simq"),
        )
        .orderBy(F.desc("_simq"), F.col("_id"))
        .limit(pool),
        prefix="mmr_pool_",
    )
    a, b = cand.alias("a"), cand.alias("b")
    psim = (
        a.join(F.broadcast(b), F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("_a"),
            F.col("b._id").alias("_b"),
            F.round(
                F.lit(1_000_000.0)
                * dot(F.col("a._v"), F.col("b._v"))
                / (F.col("a._n") * F.col("b._n"))
            )
            .cast("long")
            .alias("_s"),
        )
    )
    tagged = cand.select(
        F.lit("q").alias("_kind"),
        F.col("_id").alias("_a"),
        F.lit(None).cast("long").alias("_b"),
        F.col("_simq").alias("_s"),
    ).unionByName(
        psim.select(F.lit("p").alias("_kind"), "_a", "_b", "_s")
    )

    lam_rest = 10 - lam_num

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # (column names start with "_", which itertuples would mangle)
        qq = pdf[pdf["_kind"] == "q"]
        simq = {int(a): int(s) for a, s in zip(qq["_a"], qq["_s"])}
        pp = pdf[pdf["_kind"] == "p"]
        pair = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(pp["_a"], pp["_b"], pp["_s"])
        }
        sel: list[int] = []
        out = []
        remaining = dict(simq)
        for pos in range(1, k + 1):
            if not remaining:
                break
            best_id, best_m = None, None
            for cid, sq in remaining.items():
                m = lam_num * sq
                if sel:
                    m -= lam_rest * max(pair[(cid, s)] for s in sel)
                if best_m is None or m > best_m or (
                    m == best_m and cid < best_id
                ):
                    best_id, best_m = cid, m
            out.append((pos, best_id, best_m))
            sel.append(best_id)
            del remaining[best_id]
        return pd.DataFrame(out, columns=["pos", "vec_id", "mmr_e7"])

    return (
        tagged.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(_greedy, schema="pos long, vec_id long, mmr_e7 long")
        .select("pos", "vec_id", "mmr_e7")
    )
