"""Similarity search over embedding columns: brute-force cosine top-k and an
LSH-bucketed approximate variant.

Embeddings are ``array<float>`` columns. Two paths:

- **brute force** (:func:`cosine_topk`): broadcast the (small) probe set,
  compute the dot product with ``zip_with``/``aggregate`` — sequential
  left-to-right double accumulation, so the result is bit-identical across
  engines and parallelism levels — and rank with a window. Exact baseline.
- **LSH** (:func:`lsh_ann_topk`): random-hyperplane signatures (deterministic
  planes from a seeded counter hash), bucket on the signature prefix, search
  only within candidate buckets (multi-probe over the query's bucket). An IVF
  variant would swap the hash for learned centroids; the Spark plumbing —
  bucket column, co-partitioned join, per-bucket ranking — is identical.

Scale notes (100 TB of vectors): brute force is O(N) per probe but fully
scan-parallel and shuffle-free (probe set broadcast); use it when the probe
set is small. LSH turns the scan into a bucket-pruned join: signatures are
computed once (mapInPandas, numpy matmul per Arrow batch), bucketing is a
narrow transformation, and the candidate join shuffles only bucket-matched
rows. Ranking ties are broken on (rounded similarity, neighbor id) so results
are stable under any float library's last-bit wobble.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tstore_spark.plans.scope import op_scope, scoped_cache

# ---------------------------------------------------------------------------
# exact cosine helpers (JVM expressions, sequential double accumulation)
# ---------------------------------------------------------------------------


def dot_product(a, b) -> F.Column:
    """Sequential-order double dot product of two array<float|double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> F.Column:
    return F.sqrt(dot_product(a, a))


def cosine(a, b) -> F.Column:
    """NULL (never a crash) for zero-norm vectors: the session runs Spark 4
    ANSI mode, where an unguarded x/0.0 throws DIVIDE_BY_ZERO and one
    all-zeros embedding (padding row, failed embedding call) would kill the
    whole query. NULL scores sink below every real score (desc = NULLS
    LAST) and fail every `>= threshold` filter, so zero vectors simply
    never match."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)


def cosine_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors of each probe (probes broadcast).

    Returns (query_id, neighbor_id, rank, cos_sim). Rank orders by rounded
    similarity then neighbor id — deterministic under float wobble.
    """
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q")
    )
    joined = vectors.crossJoin(F.broadcast(p)).where(F.col(id_col) != F.col("query_id"))
    sim = F.round(cosine(F.col(vec_col), F.col("_q")), round_digits)
    ranked = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("cos_sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        ),
    )
    return ranked.where(F.col("rank") <= k).select("query_id", "neighbor_id", "rank", "cos_sim")


# ---------------------------------------------------------------------------
# LSH (random hyperplanes, deterministic planes)
# ---------------------------------------------------------------------------


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: counter-hash -> N(0,1) via
    Box-Muller. Pure function of (dim, n_planes, seed)."""
    n = dim * n_planes
    idx = np.arange(n, dtype=np.uint64)

    def h(stream: int) -> np.ndarray:
        x = idx + np.uint64(seed * 1_000_003 + stream)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    u1, u2 = np.clip(h(1), 1e-12, None), h(2)
    normal = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
    return normal.reshape(n_planes, dim)


def add_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Append the sign-pattern bucket id (int) of each vector.

    mapInPandas: one numpy matmul per Arrow batch — vectorized, no per-row
    Python. The bucket is a pure function of the vector, so bucketing is
    reproducible at any parallelism (usable as a write-time partition key).
    """
    planes = _planes(dim, n_planes, seed)
    fields = ", ".join(f"{name} {dtype}" for name, dtype in df.dtypes)
    schema = f"{fields}, {out_col} long"

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
                signs = (mat @ planes.T) > 0
                pdf = pdf.copy()
                pdf[out_col] = signs.dot(1 << np.arange(n_planes)).astype(np.int64)
            yield pdf

    return df.mapInPandas(assign, schema=schema)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 4,
    n_tables: int = 32,
    seed: int = 42,
    round_digits: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim >= threshold).

    method='exact': all-pairs — the oracle baseline, O(N^2), only for bounded
    inputs. method='lsh': OR-amplified multi-table hyperplane bucketing —
    a pair is a candidate if it shares a bucket in ANY of ``n_tables``
    tables of ``n_planes`` planes (the same amplification
    :func:`lsh_ann_topk` uses; a single table is a documented recall trap —
    at cos 0.45 ten planes agree with probability ~1.5%). With the defaults
    (4 planes x 32 tables) a threshold-0.45 pair is a candidate with
    p ≥ 1-(1-0.648^4)^32 ≈ 99.8%, rising steeply with similarity; verify is
    exact cosine, so precision is always 1. Only (id, table, bucket) rows
    ride the explode — vectors join back per deduplicated candidate pair.
    """
    v = vectors.select(F.col(id_col), F.col(vec_col))
    if method == "exact":
        # Exact result, but NOT an all-pairs interpreted-HOF evaluation:
        # a vectorized numpy prefilter finds candidate pairs at
        # (threshold - 1e-3), then the surviving few are re-scored with the
        # SAME Catalyst fold expression as before, so the emitted cos_sim
        # bits (and the oracle hash) are unchanged. The margin dwarfs the
        # worst-case float64 accumulation difference (~1e-12 for 64 terms),
        # so recall is exact by construction. Measured 87.6 s -> ~2 s at
        # 5000x64. The probe side is a driver-collected matrix — this path
        # is for oracle/verification scales (<= ~200k vectors); beyond
        # that use method='lsh'.
        pdf = v.toPandas()
        if not len(pdf):
            spark = vectors.sparkSession
            return spark.createDataFrame(
                [], f"id_a {dict(v.dtypes)[id_col]}, id_b {dict(v.dtypes)[id_col]}, cos_sim double"
            )
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)))
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = np.inf  # zero vectors can never pass the threshold
        # the prefilter must keep every pair the FINAL rounded filter could
        # accept: rounding at round_digits admits true cosines down to
        # threshold - 0.5*10^-round_digits, plus float slack
        margin = float(threshold) - 0.6 * 10.0 ** (-round_digits)
        spark = vectors.sparkSession

        def _prefilter(batches):
            for bdf in batches:
                if len(bdf):
                    a_ids = bdf[id_col].to_numpy()
                    a_mat = np.vstack(
                        bdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64))
                    )
                    a_norm = np.sqrt((a_mat * a_mat).sum(axis=1))
                    a_norm[a_norm == 0] = np.inf
                    cos = (a_mat @ mat.T) / np.outer(a_norm, norms)
                    ia, ib = np.nonzero(cos >= margin)
                    keep = a_ids[ia] < ids[ib]
                    yield pd.DataFrame(
                        {"_ida": a_ids[ia][keep], "_idb": ids[ib][keep]}
                    )
                else:
                    yield pd.DataFrame({"_ida": [], "_idb": []})

        id_dtype = dict(v.dtypes)[id_col]
        pair_ids = v.mapInPandas(_prefilter, schema=f"_ida {id_dtype}, _idb {id_dtype}")
        cand = (
            pair_ids.join(v.alias("a"), F.col("_ida") == F.col(f"a.{id_col}"))
            .join(F.broadcast(v.alias("b")), F.col("_idb") == F.col(f"b.{id_col}"))
        )
    elif method == "lsh":
        if dim is None:
            raise ValueError("dim is required for method='lsh'")
        vt = add_lsh_tables(v, dim, n_tables, n_planes, seed, vec_col)
        e = vt.select(
            F.col(id_col), F.posexplode("lsh_buckets").alias("_t", "_bkt")
        )
        ea, eb = e.alias("ea"), e.alias("eb")
        # shuffle_hash: the bucket table and the vector lookups are all
        # DATA-PROPORTIONAL — AQE must never plan a broadcast for either
        # side (a corpus-sized broadcast is a driver OOM; same hazard class
        # dedup's band joins carried, fixed round 4)
        pair_ids = (
            ea.join(
                eb.hint("shuffle_hash"),
                (F.col("ea._t") == F.col("eb._t"))
                & (F.col("ea._bkt") == F.col("eb._bkt"))
                & (F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}")),
            )
            .select(
                F.col(f"ea.{id_col}").alias("_ida"), F.col(f"eb.{id_col}").alias("_idb")
            )
            .dropDuplicates()
        )
        cand = (
            pair_ids.join(
                v.alias("a").hint("shuffle_hash"), F.col("_ida") == F.col(f"a.{id_col}")
            )
            .join(
                v.alias("b").hint("shuffle_hash"), F.col("_idb") == F.col(f"b.{id_col}")
            )
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    sim = F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), round_digits)
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def ivf_build_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means on an id-ordered sample.

    The sample is bounded driver-side work (the classic IVF training step);
    init is the first k sample vectors and ties break on lowest centroid
    index, so the codebook is a pure function of the data. The expensive
    part — assigning the full corpus — stays distributed (:func:`ivf_assign`).
    """
    pdf = vectors.orderBy(id_col).limit(sample).select(vec_col).toPandas()
    x = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    cent = x[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin: first (lowest index) wins ties
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_cluster",
) -> DataFrame:
    """Append nearest-centroid id — one numpy matmul per Arrow batch.

    Like the LSH bucket, the cluster id is a pure function of the vector:
    usable as a write-time partition key so probes scan only n_probe
    partitions of the corpus at query time.
    """
    cent = centroids
    cnorm = (cent**2).sum(axis=1)
    fields = ", ".join(f"{name} {dtype}" for name, dtype in df.dtypes)
    schema = f"{fields}, {out_col} int"

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
                d2 = cnorm[None, :] - 2.0 * (mat @ cent.T)  # + |x|^2, constant per row
                pdf = pdf.copy()
                pdf[out_col] = d2.argmin(axis=1).astype(np.int32)
            yield pdf

    return df.mapInPandas(assign, schema=schema)


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: search only the probe's n_probe nearest
    clusters. Same output shape as :func:`cosine_topk`."""
    if centroids is None:
        centroids = ivf_build_centroids(vectors, dim, n_centroids, id_col=id_col, vec_col=vec_col)
    v = ivf_assign(vectors, centroids, vec_col)

    cent = centroids
    cnorm = (cent**2).sum(axis=1)

    p_pdf = probes.select(id_col, vec_col).toPandas()
    mat = np.vstack(p_pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)))
    d2 = cnorm[None, :] - 2.0 * (mat @ cent.T)
    near = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]  # stable: deterministic ties
    # carry the probe id through with ITS OWN dtype (string ids are as valid
    # as longs — cosine_topk/lsh_ann_topk already handle them generically;
    # a hardcoded int(q) crashed on 'doc_00017'-style keys)
    id_type = dict(probes.dtypes)[id_col]
    probe_rows = [
        (q.item() if hasattr(q, "item") else q, [float(x) for x in p_pdf[vec_col].iloc[i]], int(c))
        for i, q in enumerate(p_pdf[id_col])
        for c in near[i]
    ]
    p = vectors.sparkSession.createDataFrame(
        probe_rows, schema=f"query_id {id_type}, _q array<float>, ivf_cluster int"
    )

    cand = v.join(F.broadcast(p), "ivf_cluster").where(F.col(id_col) != F.col("query_id"))
    sim = F.round(cosine(F.col(vec_col), F.col("_q")), round_digits)
    ranked = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("cos_sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        ),
    )
    return ranked.where(F.col("rank") <= k).select("query_id", "neighbor_id", "rank", "cos_sim")


def assign_nearest_seed(
    vectors: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_id_col: str = "seed_id",
    seed_vec_col: str = "seed_vec",
    out_col: str = "cluster",
    round_digits: int = 6,
) -> DataFrame:
    """Append nearest-seed cluster ids using pure Catalyst expressions: the
    (small) seed set is broadcast, squared distance is the fixed-order
    expression ``dot(x,x) − 2·dot(x,c) + dot(c,c)`` rounded to
    ``round_digits``, and ties break on lowest seed id — so an oracle engine
    mirroring the expression reproduces the assignment bit-for-bit. This is
    the JVM/oracle twin of :func:`ivf_assign` (same semantics, numpy batch
    kernel) for seed sets small enough to broadcast."""
    s = seeds.select(F.col(seed_id_col).alias("_sid"), F.col(seed_vec_col).alias("_sv"))
    x = F.col(vec_col)
    d2 = F.round(
        dot_product(x, x) - 2.0 * dot_product(x, F.col("_sv")) + dot_product(F.col("_sv"), F.col("_sv")),
        round_digits,
    )
    cand = vectors.crossJoin(F.broadcast(s)).withColumn("_d2", d2)
    w = Window.partitionBy(id_col).orderBy(F.asc("_d2"), F.asc("_sid"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_d2", "_rn")
        .withColumnRenamed("_sid", out_col)
        .drop("_sv")
    )


@op_scope()
def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.8,
    seeds: DataFrame | None = None,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
    max_cluster_rows: int | None = None,
    dim: int | None = None,
    guard_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, §3):
    cluster the embeddings, compute pairwise cosine only WITHIN clusters,
    and drop every vector that has a lower-id cluster-mate with similarity
    ≥ ``threshold`` (the deterministic min-id survivor rule, matching
    :func:`tstore_spark.operators.dedup.exact_dedup_groups`). Returns all
    input ids as ``(id, cluster, keep)``.

    Clustering: pass ``seeds`` (``seed_id``/``seed_vec`` columns — e.g. a
    fixed id-prefix of the corpus) for the broadcast Catalyst assignment
    that an oracle can mirror in SQL, or ``centroids`` (trained with
    :func:`ivf_build_centroids`) for the numpy batch path. Exactly one of
    the two.

    Scale guard: within-cluster pairing is O(size²) per cluster. With
    ``max_cluster_rows`` set, clusters above it are sub-bucketed by a
    deterministic ``guard_planes``-plane LSH signature (requires ``dim``)
    before pairing — recall inside a giant cluster drops to same-bucket
    pairs, which is the documented LSH trade (near-identical vectors share
    buckets with high probability), and the worst-case pair count becomes
    cluster²/2^planes in expectation instead of cluster².
    """
    if (seeds is None) == (centroids is None):
        raise ValueError("pass exactly one of seeds= or centroids=")
    v = vectors.select(id_col, vec_col)
    if seeds is not None:
        assigned = assign_nearest_seed(v, seeds, id_col, vec_col)
    else:
        assigned = ivf_assign(v, centroids, vec_col, out_col="cluster")
    join_keys = ["cluster"]
    if max_cluster_rows is not None:
        if dim is None:
            raise ValueError("dim is required when max_cluster_rows is set")
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
        assigned = (
            add_lsh_bucket(assigned, dim, guard_planes, seed, vec_col, out_col="_sub")
            .join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_sub", F.when(F.col("_csz") > max_cluster_rows, F.col("_sub")).otherwise(F.lit(0))
            )
            .drop("_csz")
        )
        join_keys = ["cluster", "_sub"]
    # reused by the pair join (both sides) + output. Scoped: a long-lived
    # session calling semantic_dedup per corpus shard would otherwise
    # accumulate one cached copy of the FULL embedding column per call.
    assigned = scoped_cache(assigned)
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim = F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), round_digits)
    dup_ids = (
        a.join(
            b,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in join_keys]
            + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
        )
        .where(sim >= F.lit(threshold))
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dup_ids.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def add_lsh_tables(
    df: DataFrame,
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_buckets",
) -> DataFrame:
    """Append an ``array<long>`` of per-table bucket ids (OR-amplified LSH).

    One numpy matmul per Arrow batch computes ALL n_tables*n_planes plane
    projections at once; bucket t is the sign pattern of table t's planes.
    Deterministic pure function of the vector (same planes at any
    parallelism), so the arrays are usable as write-time index columns.
    """
    planes = _planes(dim, n_tables * n_planes, seed).reshape(n_tables, n_planes, dim)
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    fields = ", ".join(f"{name} {dtype}" for name, dtype in df.dtypes)
    schema = f"{fields}, {out_col} array<bigint>"

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
                signs = ((mat @ flat.T) > 0).reshape(len(pdf), n_tables, n_planes)
                buckets = signs.dot(weights)  # (n, n_tables)
                pdf = pdf.copy()
                pdf[out_col] = list(buckets)
            yield pdf

    return df.mapInPandas(assign, schema=schema)


def lsh_ann_topk(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
) -> DataFrame:
    """Approximate top-k via multi-table LSH (OR-amplification): a vector is
    a candidate for a probe if they share a bucket in ANY of ``n_tables``
    independent tables of ``n_planes`` hyperplanes each.

    P(candidate | angle θ) = 1 - (1 - p^m)^L with p = 1 - θ/π — the standard
    (Indyk-Motwani) amplification; a single table (the previous design) has
    near-zero recall for weak neighbors. Tune m up / L down for more pruning
    when true neighbors are close (cos >= 0.7); the defaults favor recall on
    near-orthogonal corpora.

    Plan shape (scale path): signatures are computed per-batch (one matmul);
    the candidate join explodes ONLY (id, table, bucket) triplets — the heavy
    vector column never rides through the explode — probes broadcast, the
    (query, neighbor) set is deduped, and exact cosine runs once per
    candidate pair. Same output shape as :func:`cosine_topk`.
    """
    sig_v = add_lsh_tables(vectors, dim, n_tables, n_planes, seed, vec_col)
    sig_p = add_lsh_tables(probes, dim, n_tables, n_planes, seed, vec_col)

    ex_v = sig_v.select(
        F.col(id_col), F.posexplode("lsh_buckets").alias("table", "bucket")
    )
    ex_p = sig_p.select(
        F.col(id_col).alias("query_id"), F.posexplode("lsh_buckets").alias("table", "bucket")
    )
    cand = (
        ex_v.join(F.broadcast(ex_p), ["table", "bucket"])
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    p = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"))
    # corpus vector lookup pinned to shuffle_hash: the (id, vec) side is
    # data-proportional and must never be AQE-broadcast (probes stay an
    # explicit broadcast — they are the small side by contract)
    scored = cand.join(
        vectors.select(id_col, vec_col).hint("shuffle_hash"), id_col
    ).join(F.broadcast(p), "query_id")
    sim = F.round(cosine(F.col(vec_col), F.col("_q")), round_digits)
    ranked = scored.select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("cos_sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        ),
    )
    return ranked.where(F.col("rank") <= k).select("query_id", "neighbor_id", "rank", "cos_sim")


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    eval_vec_col: str = "embedding",
    round_digits: int = 3,
) -> DataFrame:
    """Embedding-level decontamination: flag corpus rows whose embedding is
    within ``threshold`` cosine of ANY eval-set vector — the semantic
    complement of :func:`tstore_spark.operators.corpus.decontaminate`'s
    exact n-gram probe (paraphrased eval leakage has no shared 13-gram but
    lands next to the eval item in embedding space).

    Shape mirrors the n-gram path: the EVAL side broadcasts (benchmark
    suites are thousands of rows, never corpus-sized) and the corpus side
    is touched once — a broadcast nested-loop scoring pass, then ONE
    map-side-combined max-struct aggregate per corpus id, so the shuffle
    carries one row per corpus document, not |corpus|x|eval| pairs. For an
    eval set too large to broadcast, prefilter candidates with
    :func:`lsh_ann_topk` and score only those pairs.

    Returns every corpus id with ``max_eval_sim`` (cosine rounded
    ``round_digits``, the cosine_topk float discipline), the matching
    ``matched_eval_id`` (ties at equal similarity break to the LARGER eval
    id — the max-struct order, mirrored in the oracle), and
    ``contaminated``. Zero-norm vectors never match (cosine() yields NULL,
    filtered before the aggregate); a corpus row with no scorable eval
    pair keeps NULL similarity and ``contaminated = false``.
    """
    ev = eval_set.select(
        F.col(eval_id_col).alias("__eval_id"), F.col(eval_vec_col).alias("__eval_vec")
    )
    sim = F.round(cosine(F.col(vec_col), F.col("__eval_vec")), round_digits)
    pairs = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(ev))
        .select(F.col(id_col), sim.alias("__sim"), F.col("__eval_id"))
        .where(F.col("__sim").isNotNull())
    )
    best = pairs.groupBy(id_col).agg(
        F.max(F.struct(F.col("__sim"), F.col("__eval_id"))).alias("__best")
    )
    return (
        corpus.select(id_col)
        .distinct()
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__best.__sim").alias("max_eval_sim"),
            F.col("__best.__eval_id").alias("matched_eval_id"),
            F.coalesce(
                F.col("__best.__sim") >= F.lit(float(threshold)), F.lit(False)
            ).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (the ANN memory-reduction path)
# ---------------------------------------------------------------------------


def sq8_bounds(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension exact [lo, hi] training bounds: ``(dim, lo, hi)`` —
    one posexplode + one map-side-combined groupBy. Exact min/max are
    order-independent, so the codebook is deterministic (no sampling)."""
    ex = vectors.select(F.posexplode(vec_col).alias("dim", "_v"))
    return ex.groupBy("dim").agg(
        F.min(F.col("_v").cast("double")).alias("lo"),
        F.max(F.col("_v").cast("double")).alias("hi"),
    )


def sq8_code_expr(value, lo, hi):
    """uint8 code for one component: ``least(floor((v−lo)/(hi−lo)·256),
    255)``, constant dimensions (hi==lo) code 0. floor — NEVER round:
    floor of a double is identical in every engine, while round's
    half-tie rule differs (the repo's oracle discipline), so the entire
    code table is cross-engine EXACT."""
    scaled = (value.cast("double") - lo) / (hi - lo) * F.lit(256.0)
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.least(F.floor(scaled), F.lit(255)).cast("int")
    )


def sq8_quantize(
    vectors: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, codes array<int>)`` — 4× (vs float32; 8× vs float64) smaller
    vectors for the ANN candidate stage. The bounds table is tiny (one
    row per dimension): broadcast-joined to the exploded components, then
    the codes re-assemble in dimension order (array_sort on (dim, code)
    structs — exact integers, deterministic).

    Scale shape: explode + broadcast join + one groupBy keyed by id; no
    driver work, no sampling. At 10^12 docs the code table is the thing
    that FITS in cluster memory where the float vectors do not — scan the
    codes for candidates, then rescore survivors on the full vectors
    (:func:`sq8_topk`)."""
    ex = vectors.select(F.col(id_col), F.posexplode(vec_col).alias("dim", "_v"))
    coded = ex.join(F.broadcast(bounds), "dim").select(
        id_col,
        F.struct(
            F.col("dim"),
            sq8_code_expr(F.col("_v"), F.col("lo"), F.col("hi")).alias("code"),
        ).alias("_dc"),
    )
    return coded.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list("_dc")), lambda s: s["code"]
        ).alias("codes")
    )


def sq8_topk(
    codes: DataFrame,
    probe_codes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Approximate top-k by INTEGER dot product over the uint8 codes —
    ``(query_id, neighbor_id, rank, code_dot)``. Codes are CENTERED
    (``code − 128``) before the multiply: for roughly zero-centered
    training data the centered code is the component up to a per-dim
    affine scale, so the integer dot tracks the true inner product where
    the raw unsigned dot would be swamped by the +128 offsets. The
    candidate scan touches only the quantized table (the memory win);
    rescore the survivors on the original vectors with
    :func:`cosine_topk` semantics when exact ordering matters. code_dot
    is an exact bigint (zip_with multiply + integer fold), so ranking is
    deterministic at any parallelism with NO float wobble — and the whole
    operator is replicable in ANSI SQL (the gate hashes it exactly)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    p = probe_codes.select(
        F.col(id_col).alias("query_id"), F.col(codes_col).alias("_q")
    )
    joined = codes.crossJoin(F.broadcast(p)).where(
        F.col(id_col) != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(codes_col), F.col("_q"),
            lambda x, y: (x.cast("long") - F.lit(128))
            * (y.cast("long") - F.lit(128)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ranked = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"), dot.alias("code_dot")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("code_dot"), F.asc("neighbor_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "rank", "code_dot"
    )
