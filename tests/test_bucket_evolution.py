"""Bucket-spec evolution: metadata-only rebucketing with per-era pruning."""

import os
import time
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from tstore_spark.model.tslong import TSLong
from tstore_spark.sources.archive import (
    append_archive,
    bucket_expr_for_specs,
    bucket_specs,
    evolve_buckets,
    open_archive,
    read_metadata_all,
    write_archive,
)
from tstore_spark.sources.merge import merge_upsert


def _ts(spark, ids, days):
    rows = []
    for d in days:
        for i in ids:
            rows.append((str(i), pd.Timestamp(f"{d} 12:00:00"), float(len(i))))
    pdf = pd.DataFrame(rows, columns=["sensor", "t", "v"])
    df = spark.createDataFrame(pdf)
    return TSLong.wrap(df, id_var="sensor", time_var="t", ts_vars={"m": ["v"]})


@pytest.fixture()
def evolved_archive(spark, tmp_path):
    base = str(tmp_path / "arch")
    ids = [f"s{i}" for i in range(12)]
    write_archive(_ts(spark, ids, ["2024-01-01", "2024-01-02"]), base,
                  num_buckets=2, check_static_uniqueness=False)
    evolve_buckets(base, 8, "2024-02-01")
    # post-evolution append spans BOTH eras: late January data must land
    # under the old 2-bucket spec, February under the new 8-bucket one
    append_archive(_ts(spark, ids, ["2024-01-03", "2024-02-05"]), base)
    return base, ids


def test_physical_layout_per_era(spark, evolved_archive):
    base, _ = evolved_archive
    pages = os.path.join(base, "pages")
    for day, max_buckets in [
        ("2024-01-01", 2), ("2024-01-02", 2), ("2024-01-03", 2), ("2024-02-05", 8)
    ]:
        bs = {
            int(e.split("=")[1])
            for e in os.listdir(os.path.join(pages, f"p_day={day}"))
            if e.startswith("p_bucket=")
        }
        assert bs and max(bs) < max_buckets, (day, bs)
    # the new era actually uses buckets beyond the old spec's range
    feb = {
        int(e.split("=")[1])
        for e in os.listdir(os.path.join(pages, "p_day=2024-02-05"))
        if e.startswith("p_bucket=")
    }
    assert max(feb) >= 2


def test_metadata_roundtrip_and_append_preserves_specs(spark, evolved_archive):
    base, _ = evolved_archive
    _, n, meta = read_metadata_all(base)
    assert n == 8
    assert bucket_specs(meta) == [("0001-01-01", 2), ("2024-02-01", 8)]


def _jobs_while(spark, build):
    """Spark jobs registered in a fresh job group while ``build()`` runs.
    A marker job in a second group runs after it: once the status tracker
    lists the marker, every earlier job of the probe group is listed too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = f"probe-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "probe")
    try:
        build()
        sc.setJobGroup(marker, "marker")
        spark.range(1).collect()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(marker), "marker job never registered"
        return len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_id_filtered_read_exact_across_eras(spark, evolved_archive, scan_files_read):
    base, ids = evolved_archive
    total_files = sum(
        f.endswith(".parquet") for _root, _dirs, files in os.walk(os.path.join(base, "pages"))
        for f in files
    )
    assert total_files == 12
    for probe in (["s0"], ["s3", "s11"], ids):
        got = open_archive(spark, base, ids=probe, with_attributes=False).df
        assert got.count() == 4 * len(probe)  # 4 days x 1 row/day/id
        assert {r["sensor"] for r in got.select("sensor").distinct().collect()} == set(probe)
    # each era prunes to the probe's buckets under the spec owning its days
    for probe, files in ((["s0"], 4), (["s3", "s11"], 5)):
        read = scan_files_read(
            lambda: open_archive(spark, base, ids=probe, with_attributes=False).df
        )
        assert read == files, (probe, read)
        # building the open computes no bucket on the cluster
        jobs = _jobs_while(
            spark, lambda: open_archive(spark, base, ids=probe, with_attributes=False)
        )
        assert jobs == 0, (probe, jobs)


def test_evolution_guards(spark, tmp_path):
    base = str(tmp_path / "arch2")
    write_archive(_ts(spark, ["a", "b"], ["2024-03-10"]), base,
                  num_buckets=2, check_static_uniqueness=False)
    with pytest.raises(ValueError, match="already exist"):
        evolve_buckets(base, 8, "2024-03-01")  # overlaps stored partition
    with pytest.raises(ValueError, match="must be positive"):
        evolve_buckets(base, 0, "2024-04-01")
    evolve_buckets(base, 8, "2024-04-01")
    with pytest.raises(ValueError, match="must be after"):
        evolve_buckets(base, 16, "2024-04-01")  # not strictly after current


def test_merge_targets_old_spec_buckets(spark, evolved_archive):
    base, _ = evolved_archive
    # restate one January row (old era) and one February row (new era)
    upd = spark.createDataFrame(
        pd.DataFrame(
            [
                ("s5", pd.Timestamp("2024-01-02 12:00:00"), 99.0),
                ("s5", pd.Timestamp("2024-02-05 12:00:00"), 77.0),
            ],
            columns=["sensor", "t", "v"],
        )
    )
    res = merge_upsert(spark, base, upd)
    assert res["rows_updated"] == 2 and res["partitions_created"] == 0
    got = open_archive(spark, base, ids=["s5"], with_attributes=False).df
    vals = {str(r["t"]): r["v"] for r in got.collect()}
    assert vals["2024-01-02 12:00:00"] == 99.0
    assert vals["2024-02-05 12:00:00"] == 77.0
    assert got.count() == 4  # no duplicate rows appeared


def test_bucket_expr_single_spec_matches_bucket_column(spark):
    from tstore_spark.functions.timeparts import bucket_column

    df = spark.createDataFrame(
        [(f"id{i}", f"2024-0{1 + i % 2}-01") for i in range(20)],
        "k string, d string",
    ).withColumn("d", F.col("d").cast("date"))
    one = df.select(bucket_expr_for_specs("k", "d", [("0001-01-01", 8)]).alias("b")).collect()
    ref = df.select(bucket_column("k", 8).alias("b")).collect()
    assert [r["b"] for r in one] == [r["b"] for r in ref]
