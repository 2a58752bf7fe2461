"""Exact distributed k-means (Lloyd) over embedding columns.

The clustering step training-data pipelines run before cluster-scoped work
(SemDeDup pruning, IVF partition assignment, per-cluster sampling quotas) —
here as an EXACT operator in the repo's discipline:

* **Integer lattice.** Vectors are quantized once: ``floor(double(x) * 1e6)``
  per coordinate (floor, never round — half-tie rounding is the one place
  engines disagree; floor of a double is bit-defined). Distances are then
  exact BIGINT sums of squared integer differences, and centroid updates are
  exact integer floor-means — so every iteration, assignment, and final
  ``dist2`` is ONE integer, bit-identical at any parallelism and in any
  engine that can floor a double (the DuckDB twin).
* **Deterministic init.** Centroid ``j`` starts at the vector with the
  (j+1)-th smallest id — data-defined, no RNG (k-means++ would add recall,
  not correctness; seed it upstream if needed by passing ``init_ids``).
* **Lloyd on DataFrames.** Assignment is a pure Catalyst expression (k
  fold-over-zip distance expressions, argmin = position of array_min, ties
  to the smallest cluster); the update is one groupBy with dim integer sums.
  Centroids live driver-side between iterations — k×dim longs, the bounded
  driver state of the classic Spark Lloyd (same posture as the IVF codebook
  sample); for k beyond broadcast range shard the update join instead.

Scale shape: each iteration = one scan of the cached quantized vectors +
one k-row shuffle. No cross-row double sums anywhere (the repo's oracle
discipline): coordinate sums are integer, means are floor-divided integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tstore_spark.plans.scope import op_scope, scoped_cache

#: lattice resolution: 1e-6 per cell, exact for |x| < 9e12.
SCALE = 10**6


def quantize_expr(vec_col) -> "F.Column":
    """``array<long>`` lattice coordinates of a float/double vector."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.floor(x.cast("double") * SCALE).cast("long"))


def _assign(q_df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Exact int64 assignment as ONE Arrow kernel: ``|x|² − 2x·c + |c|²``
    entirely in integer numpy (matmul on int64 is exact — no BLAS float
    path), argmin ties to the first (smallest) cluster like the SQL twin's
    ``ORDER BY d, cluster``. A k-expression Catalyst fold works too but
    compiles k×dim-literal trees per iteration — measured 10× slower on
    plan time alone."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.int64)
    c2 = (cent * cent).sum(axis=1)

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                x = np.vstack(pdf["_q"].map(lambda v: np.asarray(v, dtype=np.int64)))
                d2 = (x * x).sum(axis=1)[:, None] - 2 * (x @ cent.T) + c2[None, :]
                cl = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"],
                        "cluster": cl.astype(np.int32),
                        "dist2": d2[np.arange(len(cl)), cl],
                    }
                )

    id_type = dict(q_df.dtypes)["_id"]
    return q_df.mapInPandas(kernel, schema=f"_id {id_type}, cluster int, dist2 long")


@op_scope()
def kmeans_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iterations: int = 3,
    init_ids: list | None = None,
) -> DataFrame:
    """Run ``iterations`` Lloyd updates and return the final assignment:
    ``(id_col, cluster int, dist2 bigint)`` — the exact squared lattice
    distance to the point's final centroid. Clusters are labeled 0..k-1 in
    ASCENDING init-id order (explicit ``init_ids`` are sorted first — the
    labeling is a function of the id set, not the list order); a cluster
    that empties keeps its previous centroid (it can re-acquire points
    later).

    ``init_ids``: optional explicit seed ids (e.g. a k-means++ pick made
    upstream); default = the k smallest ids present.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    q = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), quantize_expr(vec_col).alias("_q")
    )
    if init_ids is not None:
        if len(init_ids) != k:
            raise ValueError(f"init_ids must have exactly k={k} entries")
        seed = q.where(F.col("_id").isin(list(init_ids))).orderBy("_id").collect()
    else:
        seed = q.orderBy("_id").limit(k).collect()
    if len(seed) < k:
        raise ValueError(f"need at least k={k} vectors, found {len(seed)}")
    centroids = [list(r["_q"]) for r in seed]
    dim = len(centroids[0])
    # dimension guard rides the vector column itself (never pruned away):
    # a ragged corpus aborts instead of scoring garbage distances
    q = scoped_cache(
        q.select(
            "_id",
            F.when(F.size("_q") == dim, F.col("_q")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"kmeans_exact: expected dim {dim}, got ragged vector at id "),
                        F.col("_id").cast("string"),
                    )
                )
            ).alias("_q"),
        )
    )
    import numpy as np
    import pandas as pd

    for _ in range(iterations):
        cent = np.asarray(centroids, dtype=np.int64)
        c2 = (cent * cent).sum(axis=1)

        def update_kernel(batches, cent=cent, c2=c2):
            # assign + per-cluster partial sums in ONE pass over the
            # partition; emits <= k tiny rows regardless of partition size
            acc_n = np.zeros(k, dtype=np.int64)
            acc_s = np.zeros((k, dim), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.vstack(pdf["_q"].map(lambda v: np.asarray(v, dtype=np.int64)))
                d2 = (x * x).sum(axis=1)[:, None] - 2 * (x @ cent.T) + c2[None, :]
                cl = d2.argmin(axis=1)
                acc_n += np.bincount(cl, minlength=k)
                for j in np.unique(cl):
                    acc_s[j] += x[cl == j].sum(axis=0)
            live = np.flatnonzero(acc_n)
            yield pd.DataFrame(
                {
                    "cluster": live.astype(np.int32),
                    "n": acc_n[live],
                    "s": [acc_s[j].tolist() for j in live],
                }
            )

        partials = q.mapInPandas(update_kernel, schema="cluster int, n long, s array<long>")
        # one k×dim-row aggregation merges the per-partition partials; the
        # per-cluster count rides the same groupBy (constant across dims)
        stats = (
            partials.select("cluster", "n", F.posexplode("s").alias("_i", "_v"))
            .groupBy("cluster", "_i")
            .agg(F.sum("_v").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        # floor-mean: coordinate sums are exact longs, Python // is floor —
        # the twin computes the same floor via the pmod identity
        fresh: dict[int, list[int]] = {}
        for r in stats:
            fresh.setdefault(r["cluster"], [0] * dim)[r["_i"]] = r["s"] // r["n"]
        centroids = [fresh.get(j, centroids[j]) for j in range(k)]
    return _assign(q, centroids).select(
        F.col("_id").alias(id_col), "cluster", "dist2"
    )


def kmeans_oracle_sql(
    emb_sql: str,
    k: int = 10,
    iterations: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`kmeans_exact` (default init), generated from
    the same constants: the whole Lloyd recursion relationally — assignment
    is a points × centroids cross join (k rows) + per-id argmin window,
    the update per-dim integer sums re-listed in index order, floor-mean
    via the pmod identity (sums may be negative; ``//`` alone is not
    portable). MATERIALIZED CTEs — each stage is referenced repeatedly.
    ``emb_sql`` must yield ``(id, vec)`` with a float/double array column.
    """
    d2 = (
        f"CAST(list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> (p.v[i] - c.cent[i]) * (p.v[i] - c.cent[i])), 'sum') AS BIGINT)"
    )
    parts = [
        f"src AS ({emb_sql})",
        f"q AS MATERIALIZED (SELECT id, list_transform(vec, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS v "
        f"FROM src WHERE vec IS NOT NULL)",
        f"c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY id) - 1 "
        f"AS INTEGER) AS cluster, v AS cent FROM "
        f"(SELECT id, v FROM q ORDER BY id LIMIT {k}))",
    ]
    prev = "c0"
    for t in range(1, iterations + 1):
        parts += [
            f"a{t} AS MATERIALIZED (SELECT id, v, cluster FROM ("
            f"SELECT p.id, p.v, c.cluster, "
            f"row_number() OVER (PARTITION BY p.id ORDER BY {d2}, c.cluster) AS rn "
            f"FROM q p CROSS JOIN {prev} c) WHERE rn = 1)",
            f"u{t} AS (SELECT cluster, ui.i AS i, CAST(SUM(v[ui.i]) AS BIGINT) AS s, "
            f"CAST(COUNT(*) AS BIGINT) AS n "
            f"FROM a{t}, unnest(range(1, {dim + 1})) ui(i) GROUP BY cluster, ui.i)",
            f"m{t} AS (SELECT cluster, "
            f"list((s - ((s % n + n) % n)) // n ORDER BY i) AS cent "
            f"FROM u{t} GROUP BY cluster)",
            f"c{t} AS MATERIALIZED (SELECT cluster, cent FROM m{t} "
            f"UNION ALL SELECT cluster, cent FROM {prev} "
            f"WHERE cluster NOT IN (SELECT cluster FROM m{t}))",
        ]
        prev = f"c{t}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id AS {id_col}, cluster, d2 AS dist2 FROM ("
        f"SELECT p.id, c.cluster, {d2} AS d2, "
        f"row_number() OVER (PARTITION BY p.id ORDER BY {d2}, c.cluster) AS rn "
        f"FROM q p CROSS JOIN {prev} c) WHERE rn = 1"
    )
