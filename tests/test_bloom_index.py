"""Per-file Bloom index: JVM-side build, no-false-negative pruning (never
loses rows), and real file skipping on a hash-clustered layout where zone
maps are structurally blind (every file's [min, max] spans the domain)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstore_spark.sources.bloom_index import (
    bloom_file_index,
    prune_paths_point,
    pruned_point_read,
)

M = 1 << 12  # small filter: 100 distinct keys/file at 40 bits/key
K = 5


@pytest.fixture(scope="module")
def hashed_root(spark, tmp_path_factory):
    """16 files hash-clustered on k: each key's rows land in exactly ONE
    file, so a point probe should plan ~1 file. k in [0, 1600), 10 rows
    per key; k=7 rows carry NULLs in v to exercise null payloads."""
    root = str(tmp_path_factory.mktemp("bi") / "tbl")
    pdf = pd.DataFrame(
        {"k": [i % 1600 for i in range(16000)], "v": range(16000)}
    )
    (
        spark.createDataFrame(pdf)
        .repartition(16, "k")
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def test_index_one_row_per_file_exact_counts(spark, hashed_root):
    idx = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K).collect()
    n_files = sum(
        1 for _p, _d, fs in os.walk(hashed_root) for f in fs if f.endswith(".parquet")
    )
    assert len(idx) == n_files == 16
    assert sum(r["n_items"] for r in idx) == 16000
    for r in idx:
        assert len(r["words"]) == M // 64


def test_no_false_negatives_every_key(spark, hashed_root):
    """The one-sided Bloom guarantee, exhaustively: every present key's file
    survives pruning — checked by comparing pruned rows to the full scan."""
    idx = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    for probe in [0, 1, 599, 1599]:
        got, report = pruned_point_read(
            spark, hashed_root, idx, "k", [probe], m_bits=M, k=K
        )
        exp = spark.read.parquet(hashed_root).where(F.col("k") == probe)
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
        assert got.count() == 10
        assert report["files_read"] < report["files_total"]


def test_point_probe_plans_few_files(spark, hashed_root):
    """Hash clustering puts each key in ONE file; at 40 bits/key the false-
    file rate is ~1%, so a 2-key probe should plan <= a handful of files —
    and never more than a strict subset."""
    idx = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    paths, total = prune_paths_point(idx, [42, 1337], cast_to="bigint", m_bits=M, k=K)
    assert total == 16
    assert 1 <= len(paths) <= 4


def test_absent_key_reads_nothing_or_fp_only(spark, hashed_root):
    idx = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    got, report = pruned_point_read(
        spark, hashed_root, idx, "k", [999_999], m_bits=M, k=K
    )
    assert got.count() == 0  # exact predicate re-applied regardless of fps
    assert report["files_read"] <= 2  # ~1% false-file rate


def test_multi_value_in_probe(spark, hashed_root):
    idx = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    vals = [3, 800, 1401]
    got, report = pruned_point_read(spark, hashed_root, idx, "k", vals, m_bits=M, k=K)
    exp = spark.read.parquet(hashed_root).where(F.col("k").isin(vals))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert report["files_read"] < report["files_total"]


def test_string_column_and_type_discipline(spark, tmp_path):
    """String keys hash through the same xxhash64 family; the probe casts
    literals to the STORED type so build and probe hash identical bits."""
    root = str(tmp_path / "s")
    pdf = pd.DataFrame({"u": [f"https://h{i % 40}.example/p{i}" for i in range(4000)]})
    spark.createDataFrame(pdf).repartition(8, "u").write.parquet(root)
    idx = bloom_file_index(spark, root, "u", m_bits=M, k=K)
    probe = "https://h7.example/p7"
    got, report = pruned_point_read(spark, root, idx, "u", [probe], m_bits=M, k=K)
    assert got.count() == 1
    assert report["files_read"] < report["files_total"]


def test_null_values_and_empty_files_conservative(spark, tmp_path):
    """A file whose indexed column is all NULL gets a NULL-words row and is
    conservatively kept; NULL rows never count as items."""
    root = str(tmp_path / "n")
    spark.createDataFrame(
        [(None, 1), (None, 2)], "k int, v int"
    ).coalesce(1).write.parquet(root)
    spark.createDataFrame(
        [(5, 3), (6, 4)], "k int, v int"
    ).coalesce(1).write.mode("append").parquet(root)
    idx = bloom_file_index(spark, root, "k", m_bits=M, k=K)
    rows = {r["path"]: r for r in idx.collect()}
    assert sum(r["n_items"] for r in rows.values()) == 2
    assert sum(1 for r in rows.values() if r["words"] is None) == 1
    paths, total = prune_paths_point(idx, [5], cast_to="int", m_bits=M, k=K)
    assert total == 2 and len(paths) == 2  # value file + conservative NULL file
    got, _ = pruned_point_read(spark, root, idx, "k", [5], m_bits=M, k=K)
    assert [r["v"] for r in got.collect()] == [3]


def test_index_deterministic_across_parallelism(spark, hashed_root):
    """bit_or word state is order-independent: the manifest is bit-identical
    whatever the shuffle parallelism."""
    a = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K, materialize=False)
    b = (
        bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K, materialize=False)
        .repartition(13)
    )
    ha = a.orderBy("path").select(F.sha2(F.to_json(F.struct("*")), 256)).collect()
    hb = b.orderBy("path").select(F.sha2(F.to_json(F.struct("*")), 256)).collect()
    assert ha == hb


def test_materialize_evicts_prior_index(spark, hashed_root):
    from pyspark import StorageLevel

    from tstore_spark.plans.scope import op_scope

    first = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    assert first.storageLevel != StorageLevel.NONE
    second = bloom_file_index(spark, hashed_root, "k", m_bits=M, k=K)
    assert first.storageLevel == StorageLevel.NONE
    assert second.storageLevel != StorageLevel.NONE
    with op_scope():  # the next top-level call releases the live index
        pass
    assert second.storageLevel == StorageLevel.NONE
