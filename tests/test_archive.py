"""Archive write/read: golden layout, round-trip, filters, pruning, retention.

Mirrors the reference's golden-directory + round-trip + filter-monotonicity
style (tstore/tests/test_tslong.py:270-403)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstore_spark.datagen import attrs_pandas
from tstore_spark.functions.timeparts import bucket_column
from tstore_spark.functions.urls import domain_of
from tstore_spark.model.tslong import TSLong
from tstore_spark.sources.archive import apply_retention, open_archive, write_archive


@pytest.fixture(scope="module")
def archive_dir(spark, pages_sdf, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("archive"))
    pages = pages_sdf.withColumn("domain", domain_of("url"))
    tsl = TSLong.wrap(
        pages, id_var="domain", time_var="warc_ts",
        ts_vars={"content": ["url", "html", "text", "lang"]},
    )
    attrs = spark.createDataFrame(attrs_pandas())
    write_archive(tsl, base, attrs=attrs, num_buckets=4)
    return base


def test_golden_layout(archive_dir):
    assert os.path.isfile(os.path.join(archive_dir, "tstore_metadata.json"))
    assert os.path.isdir(os.path.join(archive_dir, "attributes"))
    pages_root = os.path.join(archive_dir, "pages")
    days = sorted(d for d in os.listdir(pages_root) if d.startswith("p_day="))
    assert days == [f"p_day=2024-01-0{i}" for i in range(1, 8)]
    buckets = sorted(os.listdir(os.path.join(pages_root, days[0])))
    assert all(b.startswith("p_bucket=") for b in buckets)


def test_roundtrip_counts(spark, archive_dir, pages_pdf):
    got = open_archive(spark, archive_dir)
    assert got.df.count() == len(pages_pdf)
    # hidden partition columns never reach the logical schema
    assert "p_day" not in got.df.columns and "p_bucket" not in got.df.columns
    # attrs joined in as statics
    assert "static_var1" in got.df.columns


def test_text_byte_identity(spark, archive_dir, pages_pdf):
    """The invariant from input_hint: byte-identical text per url after a
    full write/read cycle (sha256 over UTF-8 bytes)."""
    import hashlib

    got = open_archive(spark, archive_dir, with_attributes=False).df.select("url", "text").toPandas()
    exp = pages_pdf.drop_duplicates("url")[["url", "text"]]
    merged = got.drop_duplicates("url").merge(exp, on="url", suffixes=("_got", "_exp"))
    assert len(merged) == exp["url"].nunique()
    h = lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest()
    assert (merged["text_got"].map(h) == merged["text_exp"].map(h)).all()


@pytest.mark.parametrize("inclusive,expected_cmp", [("both", "<="), ("left", "<"), ("right", "<="), ("neither", "<")])
def test_time_filters(spark, archive_dir, pages_pdf, inclusive, expected_cmp):
    start, end = "2024-01-02", "2024-01-04"
    got = open_archive(
        spark, archive_dir, start_time=start, end_time=end, inclusive=inclusive, with_attributes=False
    ).df.count()
    s, e = pd.Timestamp(start), pd.Timestamp(end)
    ts = pages_pdf["warc_ts"]
    mask = {
        "both": (ts >= s) & (ts <= e),
        "left": (ts >= s) & (ts < e),
        "right": (ts > s) & (ts <= e),
        "neither": (ts > s) & (ts < e),
    }[inclusive]
    assert got == int(mask.sum())


def test_filter_monotonicity(spark, archive_dir):
    """Filtered reads <= unfiltered (reference test_tslong.py:322-403)."""
    full = open_archive(spark, archive_dir, with_attributes=False).df.count()
    both = open_archive(spark, archive_dir, start_time="2024-01-02", end_time="2024-01-04",
                        inclusive="both", with_attributes=False).df.count()
    neither = open_archive(spark, archive_dir, start_time="2024-01-02", end_time="2024-01-04",
                           inclusive="neither", with_attributes=False).df.count()
    assert neither <= both <= full


def test_id_filter_and_partition_pruning(spark, archive_dir, pages_pdf, scan_files_read):
    dom = "d00.example.com"
    got = open_archive(spark, archive_dir, ids=[dom], with_attributes=False)
    exp = pages_pdf["url"].str.contains(f"//{dom}/").sum()
    assert got.df.count() == exp
    # pruning proof: the scan reads exactly the files under dom's bucket
    # directories (every day), and that is fewer than the whole table
    b = spark.range(1).select(bucket_column(F.lit(dom), 4).alias("b")).first()["b"]
    pages = os.path.join(archive_dir, "pages")
    files = [
        sub
        for day in os.listdir(pages) if day.startswith("p_day=")
        for sub in os.listdir(os.path.join(pages, day))
        for f in os.listdir(os.path.join(pages, day, sub)) if f.endswith(".parquet")
    ]
    expected = files.count(f"p_bucket={b}")
    assert 0 < expected < len(files)
    read = scan_files_read(
        lambda: open_archive(spark, archive_dir, ids=[dom], with_attributes=False).df
    )
    assert read == expected


def test_column_selection(spark, archive_dir):
    got = open_archive(spark, archive_dir, columns=["text", "lang"], with_attributes=False)
    assert set(got.df.columns) == {"domain", "warc_ts", "text", "lang"}


def test_retention(spark, archive_dir, tmp_path):
    """Retention drops whole p_day partitions below the cutoff."""
    import shutil

    base = str(tmp_path / "ret")
    shutil.copytree(archive_dir, base)
    dropped = apply_retention(base, "pages", "2024-01-04")
    assert dropped == [f"p_day=2024-01-0{i}" for i in (1, 2, 3)]
    left = open_archive(spark, base, with_attributes=False).df
    assert left.where("warc_ts < timestamp'2024-01-04'").count() == 0
    assert left.count() > 0
