"""Zone maps: footer-only stats collection, conservative pruning (never
loses rows), and real file skipping on a range-clustered layout."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstore_spark.sources.zonemaps import prune_paths, pruned_read, zone_maps


@pytest.fixture(scope="module")
def clustered_root(spark, tmp_path_factory):
    """16 files range-clustered on k: file i holds k in [i*1000, (i+1)*1000)."""
    root = str(tmp_path_factory.mktemp("zm") / "tbl")
    pdf = pd.DataFrame({"k": range(16000), "v": [i % 7 for i in range(16000)]})
    (
        spark.createDataFrame(pdf)
        .repartitionByRange(16, "k")
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def test_zone_maps_one_row_per_file(spark, clustered_root):
    zm = zone_maps(spark, clustered_root, ["k"]).collect()
    n_files = sum(
        1 for _p, _d, fs in os.walk(clustered_root) for f in fs if f.endswith(".parquet")
    )
    assert len(zm) == n_files == 16
    assert sum(r["row_count"] for r in zm) == 16000
    for r in zm:
        assert r["k_min"] <= r["k_max"]


def test_pruning_skips_files_on_clustered_layout(spark, clustered_root):
    zm = zone_maps(spark, clustered_root, ["k"])
    paths, total = prune_paths(zm, {"k": (4200, 4300)})
    assert total == 16
    assert len(paths) == 1  # range clustering => one file covers [4000, 5000)


def test_pruned_read_equals_full_scan(spark, clustered_root):
    zm = zone_maps(spark, clustered_root, ["k"])
    got, report = pruned_read(spark, clustered_root, zm, {"k": (1500, 9001)})
    exp = (
        spark.read.parquet(clustered_root)
        .where((F.col("k") >= 1500) & (F.col("k") <= 9001))
    )
    assert report["files_read"] < report["files_total"]
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_empty_range_reads_nothing(spark, clustered_root):
    zm = zone_maps(spark, clustered_root, ["k"])
    got, report = pruned_read(spark, clustered_root, zm, {"k": (99999, 100001)})
    assert report["files_read"] == 0
    assert got.count() == 0


def test_open_bounds(spark, clustered_root):
    zm = zone_maps(spark, clustered_root, ["k"])
    got, report = pruned_read(spark, clustered_root, zm, {"k": (15500, None)})
    assert report["files_read"] == 1
    assert got.count() == 500


def test_clustered_compaction_enables_skipping(spark, pages_sdf, tmp_path):
    """compact_archive(cluster_by=['domain']) + zone maps => a single-domain
    probe plans a strict subset of files, with identical rows."""
    from tstore_spark.functions.urls import domain_of
    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import PAGES_DIR, write_archive
    from tstore_spark.sources.compact import compact_archive

    base = str(tmp_path / "archive")
    pages = pages_sdf.withColumn("domain", domain_of("url"))
    tsl = TSLong.wrap(
        pages, id_var="domain", time_var="warc_ts",
        ts_vars={"content": ["url", "html", "text", "lang"]},
    )
    write_archive(tsl, base, num_buckets=1, check_static_uniqueness=False)
    root = os.path.join(base, PAGES_DIR)
    # fragment, then compact with range clustering on domain at a small
    # target so each directory keeps several (now domain-sliced) files
    frag = spark.read.option("basePath", root).parquet(root).repartition(8)
    frag.write.mode("overwrite").partitionBy("p_day", "p_bucket").parquet(root)
    n_rows = spark.read.parquet(root).count()
    compact_archive(spark, base, target_file_bytes=40_000, cluster_by=["domain"])
    assert spark.read.parquet(root).count() == n_rows  # compaction lossless

    zm = zone_maps(spark, root, ["domain"])
    dom = pages.select("domain").orderBy("domain").head()["domain"]
    got, report = pruned_read(spark, root, zm, {"domain": (dom, dom)})
    exp = spark.read.option("basePath", root).parquet(root).where(F.col("domain") == dom)
    assert report["files_read"] < report["files_total"]
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_prune_filter_runs_distributed(spark):
    """prune_paths ships ONE agg row to the driver: survivors ride a
    collect_list over a when(keep) (NULL for losers, which collect_list
    skips) — the full file list is never materialized driver-side."""
    zm = spark.createDataFrame(
        [
            ("f_lo", 100, 0, 999),
            ("f_mid", 100, 1000, 1999),
            ("f_hi", 100, 2000, 2999),
            ("f_nostats", 100, None, None),  # conservative: always kept
        ],
        "path string, row_count long, k_min int, k_max int",
    )
    paths, total = prune_paths(zm, {"k": (1500, 1600)})
    assert total == 4
    assert paths == ["f_mid", "f_nostats"]
    # unbounded ranges keep everything
    paths, total = prune_paths(zm, {"k": (None, None)})
    assert sorted(paths) == ["f_hi", "f_lo", "f_mid", "f_nostats"]


def test_materialize_evicts_prior_manifest(spark, clustered_root):
    """Repeated zone_maps(materialize=True) calls must not accumulate cached
    manifests in a long-lived session (bench loops, maintenance jobs)."""
    from pyspark import StorageLevel

    from tstore_spark.plans.scope import op_scope

    first = zone_maps(spark, clustered_root, ["k"])
    assert first.storageLevel != StorageLevel.NONE
    second = zone_maps(spark, clustered_root, ["k"])
    assert second.storageLevel != StorageLevel.NONE
    assert first.storageLevel == StorageLevel.NONE  # evicted by the refresh
    with op_scope():  # the next top-level call releases the live manifest
        pass
    assert second.storageLevel == StorageLevel.NONE


# ---------------------------------------------------------------------------
# persistent manifest + incremental refresh
# ---------------------------------------------------------------------------


def _write_slice(spark, root, lo, hi, sub):
    spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/{sub}")


def test_manifest_save_load_refresh(spark, tmp_path):
    from tstore_spark.sources.zonemaps import (
        load_zone_maps,
        prune_paths,
        refresh_zone_maps,
        save_zone_maps,
        zone_maps,
    )

    root = str(tmp_path / "tbl")
    _write_slice(spark, root, 0, 1000, "part=a")
    saved = save_zone_maps(spark, root, ["v"])
    assert load_zone_maps(spark, root).count() == saved.count() >= 1

    # append a new slice: refresh must pick it up and match a full rebuild
    _write_slice(spark, root, 1000, 2000, "part=b")
    refreshed = refresh_zone_maps(spark, root, ["v"])
    full = zone_maps(spark, root, ["v"], materialize=False)
    got = sorted(map(tuple, refreshed.collect()))
    exp = sorted(map(tuple, full.collect()))
    assert got == exp and len(got) >= 2

    # manifest files themselves are never indexed as data
    assert not any("_zonemaps" in r["path"] for r in refreshed.collect())

    # pruning over the refreshed manifest stays exact
    keep, total = prune_paths(refreshed, {"v": (3000, 3500)})
    assert total == len(got)
    back = spark.read.parquet(*keep).where("v between 3000 and 3500")
    assert back.count() == 251


def test_manifest_refresh_drops_vanished_files(spark, tmp_path):
    import shutil

    from tstore_spark.sources.zonemaps import refresh_zone_maps, save_zone_maps

    root = str(tmp_path / "tbl2")
    _write_slice(spark, root, 0, 100, "part=a")
    _write_slice(spark, root, 100, 200, "part=b")
    save_zone_maps(spark, root, ["v"])
    shutil.rmtree(f"{root}/part=a")
    refreshed = refresh_zone_maps(spark, root, ["v"])
    assert all("part=b" in r["path"] for r in refreshed.collect())


def test_manifest_refresh_rebuilds_on_column_change(spark, tmp_path):
    from tstore_spark.sources.zonemaps import refresh_zone_maps, save_zone_maps

    root = str(tmp_path / "tbl3")
    _write_slice(spark, root, 0, 100, "part=a")
    save_zone_maps(spark, root, ["v"])
    refreshed = refresh_zone_maps(spark, root, ["k", "v"])
    assert {"k_min", "k_max", "v_min", "v_max"} <= set(refreshed.columns)
