"""Prefix-filtering exact Jaccard join: lossless vs the full shared-shingle
join, candidate volume bounded by rare-gram frequency."""

import numpy as np
import pandas as pd
import pytest

from tstore_spark.operators.dedup import (
    prefix_jaccard_pairs,
    shingle_jaccard_pairs_exact,
)

WORDS = [f"w{i}" for i in range(120)]


def _corpus(spark, n_docs=60, seed=11):
    """Random word docs with planted overlap structure: consecutive docs
    share a sliding window of the vocabulary, giving a full spectrum of
    Jaccard values (incl. values near common thresholds)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        start = (i * 3) % 80
        base = WORDS[start : start + 25]
        extra = list(rng.choice(WORDS, size=6, replace=False))
        rows.append((i, " ".join(base + extra)))
    # exact duplicate pair + a boilerplate-heavy block (hot common grams)
    rows.append((1000, rows[0][1]))
    rows.append((1001, " ".join(WORDS[:30])))
    rows.append((1002, " ".join(WORDS[:30] + ["tailA"])))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_prefix_join_equals_exact_join(spark, threshold):
    docs = _corpus(spark)
    got = _pairs(prefix_jaccard_pairs(docs, threshold=threshold))
    want = _pairs(shingle_jaccard_pairs_exact(docs, threshold=threshold))
    assert want, "fixture must produce pairs at this threshold"
    assert got == want  # identical pairs AND identical jaccard bits


def test_prefix_join_finds_exact_duplicate_at_one(spark):
    docs = _corpus(spark)
    got = {(a, b): j for a, b, j in _pairs(prefix_jaccard_pairs(docs, threshold=1.0))}
    assert got[(0, 1000)] == 1.0


def test_prefix_postings_are_smaller_than_full_postings(spark):
    """The scale claim: prefix postings shrink with the threshold and are a
    strict subset of the full exploded postings."""
    from tstore_spark.operators.dedup import exploded_hashed_shingles

    docs = _corpus(spark)
    full = exploded_hashed_shingles(docs).count()
    sizes = {}
    for t in (0.5, 0.9):
        # rebuild the prefix table exactly as the operator does
        from pyspark.sql import functions as F

        from tstore_spark.operators import dedup as DD

        sh = DD.with_hashed_shingles(docs)
        ex = sh.select(F.col("doc_id"), F.explode("shingles").alias("gram"))
        freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        ordered = ex.join(freq, "gram").groupBy("doc_id").agg(
            F.array_sort(F.collect_list(F.struct("_df", "gram"))).alias("_ord")
        )
        s = F.size("_ord")
        p = s - F.ceil(s * F.lit(t - 1e-4) - F.lit(1e-9)).cast("int") + F.lit(1)
        sizes[t] = ordered.select(
            F.explode(F.transform(F.slice("_ord", F.lit(1), p), lambda x: x["gram"]))
        ).count()
    assert sizes[0.9] < sizes[0.5] < full


def test_candidate_budget_guard(spark):
    pdf = pd.DataFrame(
        {"doc_id": range(40), "text": ["same exact text for everyone"] * 40}
    )
    docs = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="candidate pairs"):
        prefix_jaccard_pairs(docs, threshold=0.9, max_candidates=100)
    with pytest.raises(ValueError, match="threshold"):
        prefix_jaccard_pairs(docs, threshold=0.0)


def test_deterministic_across_parallelism(spark):
    docs = _corpus(spark)

    def run(parts):
        return _pairs(prefix_jaccard_pairs(docs.repartition(parts), threshold=0.4))

    assert run(1) == run(16)
