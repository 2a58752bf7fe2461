"""The on-disk archive — tstore's "TStore" layout re-expressed for Spark.

Reference layout (tstore/archive/io.py:28-48):

    <base_dir>/tstore_metadata.yaml     # id_var, ts_variables, partitioning
    <base_dir>/_attributes.parquet      # one row per id: statics
    <base_dir>/<id>/<var>/year=Y/month=M/part-*.parquet

Spark-native layout (this module):

    <base_dir>/tstore_metadata.json     # descriptor + bucket count
    <base_dir>/attributes/              # dimension table (broadcast at read)
    <base_dir>/pages/p_day=D/p_bucket=B/part-*.parquet
    <base_dir>/rollup_1m|1h|1d/p_day=D/...
    <base_dir>/lineage/  metrics/       # small bookkeeping tables

``p_day``/``p_bucket`` emulate Iceberg's hidden ``days(warc_ts)`` /
``bucket(N, url)`` transforms (no Iceberg runtime jar in this sandbox): they
are derived at write, pruned by Catalyst on time/id predicates, and dropped
from the logical schema at read — so queries never see them, exactly like
hidden partitioning. The per-id directory fan-out of the reference (a Python
loop, tstore/tslong/pandas.py:93-139) becomes a single distributed
``repartition(p_day, p_bucket).sortWithinPartitions(time)`` write.

Scale notes: one file set per (day, bucket); choose ``num_buckets`` so a
bucket-day is ~0.5-1 GB at target scale. Sorting within partitions by
(url, warc_ts) gives Parquet min/max stats that make id-range row-group
skipping effective.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tstore_spark.functions.filters import time_range_filter
from tstore_spark.functions.timeparts import bucket_column
from tstore_spark.model.descriptor import TableDescriptor
from tstore_spark.model.tslong import TSLong

METADATA_FILE = "tstore_metadata.json"
PAGES_DIR = "pages"
ATTRS_DIR = "attributes"


# -- metadata (reference tstore/archive/metadata/{writers,readers}.py) -------

def write_metadata(
    base_dir: str,
    descriptor: TableDescriptor,
    num_buckets: int,
    fact_schema_json: str | None = None,
    extra_meta: dict | None = None,
) -> None:
    """Write the descriptor as BOTH json and yaml (same dict) — the yaml
    mirror matches the reference's metadata format family
    (tstore/archive/metadata/writers.py:22-35) so yaml-first tooling can
    introspect a Spark-native archive; read_metadata accepts either.

    ``fact_schema_json`` records the fact table's unified schema (Iceberg's
    schema-in-metadata pattern): readers pass it to the parquet scan, so
    schema EVOLUTION (columns added by later appends) needs no mergeSchema
    footer sweep — old files null-fill the new columns at scan time."""
    meta = descriptor.to_dict() | {"num_buckets": num_buckets, "tstore_structure": "spark-hidden-partition"}
    if fact_schema_json is not None:
        meta["fact_schema"] = fact_schema_json
    # carry forward keys owned by other metadata writers (bucket_specs from
    # evolve_buckets) — an append must never drop an evolution record
    meta |= extra_meta or {}
    os.makedirs(base_dir, exist_ok=True)
    with open(os.path.join(base_dir, METADATA_FILE), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    import yaml

    with open(os.path.join(base_dir, METADATA_FILE.replace(".json", ".yaml")), "w") as f:
        yaml.dump(meta, f)


def read_metadata_all(base_dir: str) -> tuple[TableDescriptor, int, dict]:
    json_path = os.path.join(base_dir, METADATA_FILE)
    if os.path.exists(json_path):
        with open(json_path) as f:
            meta = json.load(f)
    else:
        import yaml

        with open(os.path.join(base_dir, METADATA_FILE.replace(".json", ".yaml"))) as f:
            meta = yaml.safe_load(f)
    return TableDescriptor.from_dict(meta), int(meta["num_buckets"]), meta


def read_metadata(base_dir: str) -> tuple[TableDescriptor, int]:
    d, n, _ = read_metadata_all(base_dir)
    return d, n


# -- bucket-spec evolution (Iceberg partition-spec evolution, bucket(N) only) -

#: sentinel from_day for the initial spec — earlier than any real p_day
_SPEC_EPOCH = "0001-01-01"


def bucket_specs(meta: dict) -> list[tuple[str, int]]:
    """``[(from_day, num_buckets), ...]`` ascending by day; the last entry
    is the CURRENT spec. A legacy archive (no ``bucket_specs`` key) has
    one spec covering all time — ``num_buckets`` keeps meaning "current
    spec" either way, so pre-evolution metadata stays readable."""
    if "bucket_specs" in meta:
        specs = [(s["from_day"], int(s["num_buckets"])) for s in meta["bucket_specs"]]
        return sorted(specs)
    return [(_SPEC_EPOCH, int(meta["num_buckets"]))]


def bucket_expr_for_specs(
    id_col: str | Column, day_col: str | Column, specs: list[tuple[str, int]]
) -> Column:
    """Per-row bucket under the spec owning the row's day: a CASE chain
    from the newest spec down (first match wins). Pure codegen — spec
    evolution adds one comparison per historical spec, nothing else.

    This is the one bucket definition: appends derive ``p_bucket`` with it,
    and :func:`open_archive` prunes id reads with it applied to literal ids
    (``p_bucket IN (bucket(lit(id)), ...)``), so reads find exactly the
    directories writes chose."""
    day = F.col(day_col) if isinstance(day_col, str) else day_col
    expr = bucket_column(id_col, specs[0][1])
    for from_day, n in specs[1:]:
        expr = F.when(
            day >= F.lit(from_day).cast("date"), bucket_column(id_col, n)
        ).otherwise(expr)
    return expr


def evolve_buckets(base_dir: str, new_num_buckets: int, from_day: str) -> None:
    """Change the bucket count for data from ``from_day`` onward — the
    Iceberg partition-spec-evolution move (spec change is METADATA ONLY;
    not one stored file is rewritten). Old days keep their old spec
    forever: appends landing on a pre-``from_day`` day still bucket under
    the spec that owns that day, and reads prune per day range.

    Guard: no partition may already exist at ``from_day`` or later — a
    directory written under the old spec inside the new spec's day range
    would misprune (the exact corruption Iceberg's per-file spec_id
    prevents; with day-ranged specs the same safety comes from refusing
    the overlap). Pick a ``from_day`` just past the newest ingested day.
    """
    d, _n, meta = read_metadata_all(base_dir)
    if int(new_num_buckets) <= 0:
        raise ValueError("new_num_buckets must be positive")
    specs = bucket_specs(meta)
    if from_day <= specs[-1][0]:
        raise ValueError(
            f"from_day {from_day!r} must be after the current spec's start "
            f"{specs[-1][0]!r}"
        )
    pages = os.path.join(base_dir, PAGES_DIR)
    if os.path.isdir(pages):
        clash = [
            e for e in os.listdir(pages)
            if e.startswith("p_day=") and e.split("=", 1)[1] >= from_day
        ]
        if clash:
            raise ValueError(
                f"cannot evolve buckets from {from_day}: partitions already "
                f"exist at/after it under the current spec ({sorted(clash)[:3]}...); "
                "choose a from_day after the newest ingested day"
            )
    specs = specs + [(from_day, int(new_num_buckets))]
    meta = meta | {
        "bucket_specs": [
            {"from_day": fd, "num_buckets": n} for fd, n in specs
        ],
        "num_buckets": int(new_num_buckets),
    }
    with open(os.path.join(base_dir, METADATA_FILE), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    import yaml

    with open(os.path.join(base_dir, METADATA_FILE.replace(".json", ".yaml")), "w") as f:
        yaml.dump(meta, f)


# -- write path (reference write lifecycle, SURVEY §3.1) ----------------------

def write_archive(
    tslong: TSLong,
    base_dir: str,
    attrs: DataFrame | None = None,
    num_buckets: int = 8,
    mode: str = "overwrite",
    check_static_uniqueness: bool = True,
    stats_columns: dict | None = None,
) -> None:
    """Write the long table + attributes + metadata in one distributed pass.

    stats_columns: name -> Column of ingest-time derived stats (e.g.
    ``{"html_bytes": F.octet_length("html"), "text_len": F.length("text")}``)
    materialized alongside the payloads. Downstream rollups then scan the
    narrow stat columns and Parquet prunes the payloads entirely — the
    difference between a payload-bandwidth scan and a metadata scan at 100 TB.

    Backend seam: when the session carries a real Iceberg catalog
    (sources/iceberg_archive — runtime jar detected at session build), the
    fact table lands in a catalog table with NATIVE hidden partitioning;
    otherwise this emulated parquet layout (the sandbox default).
    """
    from tstore_spark.sources import iceberg_archive as _ice

    if _ice.iceberg_enabled(tslong.df.sparkSession):
        return _ice.write_archive_iceberg(
            tslong, base_dir, attrs, num_buckets, mode,
            check_static_uniqueness, stats_columns,
        )
    d = tslong.descriptor
    df = tslong.df

    if check_static_uniqueness and d.static_vars:
        tslong.check_static_uniqueness()

    # attributes dimension: distinct (id, statics) — reference tslong/pandas.py:59-81
    if attrs is None and d.static_vars:
        attrs = df.select(d.id_var, *d.static_vars).dropDuplicates([d.id_var])
    if attrs is not None:
        attrs.coalesce(1).write.mode(mode).parquet(os.path.join(base_dir, ATTRS_DIR))

    # fact table: hidden-partition emulation; statics live in the dimension only
    fact_cols = [d.id_var, d.time_var, *d.ts_columns]
    fact = df.select(*fact_cols)
    for name, col in (stats_columns or {}).items():
        fact = fact.withColumn(name, col)
    fact = (
        fact.withColumn("p_day", F.to_date(F.col(d.time_var)))
        .withColumn("p_bucket", bucket_column(d.id_var, num_buckets))
    )
    (
        fact.repartition("p_day", "p_bucket")
        .sortWithinPartitions(d.id_var, d.time_var)
        .write.mode(mode)
        .partitionBy("p_day", "p_bucket")
        .parquet(os.path.join(base_dir, PAGES_DIR))
    )
    write_metadata(
        base_dir, d, num_buckets,
        fact_schema_json=fact.drop("p_day", "p_bucket").schema.json(),
    )


def append_archive(
    tslong: TSLong,
    base_dir: str,
    stats_columns: dict | None = None,
) -> None:
    """Append a batch to an existing archive, EVOLVING the schema when the
    batch carries new ts variables.

    Compatibility contract: same id/time vars; existing columns keep their
    meaning (types must match — parquet enforces it at read). New columns
    simply appear in the metadata's unified ``fact_schema``; historical
    files never get rewritten — readers null-fill the new columns at scan
    time because :func:`open_archive` passes the metadata schema to the
    parquet source (no mergeSchema footer sweep, the Iceberg
    schema-in-metadata pattern). That makes adding a variable an O(metadata)
    operation at any archive size."""
    from pyspark.sql.types import StructType

    d_old, num_buckets, meta = read_metadata_all(base_dir)
    d_new = tslong.descriptor
    if (d_new.id_var, d_new.time_var) != (d_old.id_var, d_old.time_var):
        raise ValueError(
            f"append id/time vars ({d_new.id_var!r}, {d_new.time_var!r}) do not "
            f"match archive ({d_old.id_var!r}, {d_old.time_var!r})"
        )

    merged_ts_vars = {g: list(cols) for g, cols in d_old.ts_vars.items()}
    for g, cols in d_new.ts_vars.items():
        tgt = merged_ts_vars.setdefault(g, [])
        tgt.extend(c for c in cols if c not in tgt)
    merged = TableDescriptor(
        d_old.id_var, d_old.time_var, merged_ts_vars, d_old.static_vars, d_old.partitioning
    )

    fact = tslong.df.select(d_new.id_var, d_new.time_var, *d_new.ts_columns)
    for name, col in (stats_columns or {}).items():
        fact = fact.withColumn(name, col)
    fact = fact.withColumn("p_day", F.to_date(F.col(d_new.time_var)))
    # bucket under the spec that owns each row's DAY (spec evolution: rows
    # landing on pre-evolution days keep the old bucket count forever)
    fact = fact.withColumn(
        "p_bucket", bucket_expr_for_specs(d_new.id_var, "p_day", bucket_specs(meta))
    )

    # unified schema = old unified schema ∪ new batch columns (order: old
    # first, then newly introduced) with type-conflict detection. Validation
    # happens BEFORE any file lands: a rejected append must leave the archive
    # byte-identical (no mixed-type data files under pages/, no stale
    # metadata) — the Iceberg commit discipline, schema check then write.
    new_schema = fact.drop("p_day", "p_bucket").schema
    if "fact_schema" in meta:
        old_schema = StructType.fromJson(json.loads(meta["fact_schema"]))
    else:
        # pre-evolution archive (metadata without fact_schema): the unified
        # schema is whatever the STORED files carry — read it from a file
        # footer (one-footer schema inference), never from the new batch,
        # which may carry fewer ts columns than the historical files and
        # would silently drop them from every later read.
        stored = tslong.df.sparkSession.read.parquet(os.path.join(base_dir, PAGES_DIR))
        old_schema = StructType(
            [f for f in stored.schema.fields if f.name not in ("p_day", "p_bucket")]
        )
    by_name = {f.name: f for f in old_schema.fields}
    for f_new in new_schema.fields:
        if f_new.name in by_name:
            if by_name[f_new.name].dataType != f_new.dataType:
                raise ValueError(
                    f"column {f_new.name!r} type changed: archive has "
                    f"{by_name[f_new.name].dataType}, batch has {f_new.dataType}"
                )
        else:
            old_schema = old_schema.add(f_new)
            by_name[f_new.name] = f_new

    (
        fact.repartition("p_day", "p_bucket")
        .sortWithinPartitions(d_new.id_var, d_new.time_var)
        .write.mode("append")
        .partitionBy("p_day", "p_bucket")
        .parquet(os.path.join(base_dir, PAGES_DIR))
    )
    write_metadata(
        base_dir,
        merged,
        num_buckets,
        fact_schema_json=old_schema.json(),
        extra_meta={"bucket_specs": meta["bucket_specs"]} if "bucket_specs" in meta else None,
    )


# -- read path (reference read lifecycle, SURVEY §3.2) ------------------------

def fact_reader(spark: SparkSession, meta: dict):
    """DataFrameReader honoring the archive's unified ``fact_schema``.

    Every scan of the pages table — reads AND maintenance rewrites — must go
    through this: a bare ``spark.read.parquet`` infers the schema from one
    sampled footer, so on a schema-evolved archive it can miss columns that
    only newer files carry, and a compaction/merge/delete rewrite would then
    silently drop those columns from the partitions it replaces. Partition
    columns (p_day/p_bucket) are appended by partition discovery as usual.
    """
    reader = spark.read
    if "fact_schema" in meta:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(meta["fact_schema"])))
    return reader


def open_archive(
    spark: SparkSession,
    base_dir: str,
    ts_variables: list[str] | None = None,
    start_time=None,
    end_time=None,
    inclusive: str = "both",
    ids: list[str] | None = None,
    columns: list[str] | None = None,
    with_attributes: bool = True,
) -> TSLong:
    """Open the archive as a TSLong; one Catalyst plan does scan + prune +
    filter + broadcast-join (the reference's steps 2-4 collapsed).

    ``ids`` prune bucket directories with the write path's own bucket rule,
    :func:`bucket_expr_for_specs`, over literal ids: a partition-column-only
    predicate, so building the open runs no Spark job. With one bucket spec
    Catalyst folds it to ``p_bucket IN (<ints>)``; on an evolved archive each
    entry is a CASE over ``p_day`` that partition pruning evaluates per
    directory.

    Backend seam: an archive whose metadata says ``backend: iceberg`` (and a
    session with the catalog bound) reads the real catalog table; everything
    else reads the emulated parquet layout."""
    d, num_buckets, meta = read_metadata_all(base_dir)
    if meta.get("backend") == "iceberg":
        from tstore_spark.sources import iceberg_archive as _ice

        if _ice.iceberg_enabled(spark):
            return _ice.open_archive_iceberg(
                spark, base_dir, ts_variables, start_time, end_time,
                inclusive, ids, columns, with_attributes,
            )
        raise ValueError(
            f"archive at {base_dir!r} was written to an Iceberg catalog but "
            "this session has no Iceberg runtime/catalog configured"
        )
    # schema-on-read from metadata (Iceberg pattern): after evolution, files
    # written before a column existed null-fill it at scan time — no
    # mergeSchema footer sweep over the whole archive.
    df = fact_reader(spark, meta).parquet(os.path.join(base_dir, PAGES_DIR))

    # partition pruning: day from the time range, bucket from the id list
    if start_time is not None or end_time is not None:
        is_ntz = dict(df.dtypes).get(d.time_var) == "timestamp_ntz"
        df = df.where(time_range_filter(d.time_var, start_time, end_time, inclusive, ntz=is_ntz))
        if start_time is not None:
            df = df.where(F.col("p_day") >= F.to_date(F.lit(str(start_time))))
        if end_time is not None:
            df = df.where(F.col("p_day") <= F.to_date(F.lit(str(end_time))))
    if ids is not None:
        ids = [str(i) for i in ids]
        df = df.where(F.col(d.id_var).isin(ids))
        specs = bucket_specs(meta)
        df = df.where(
            F.col("p_bucket").isin([bucket_expr_for_specs(F.lit(v), "p_day", specs) for v in ids])
        )

    df = df.drop("p_day", "p_bucket")  # hidden partitioning: logical schema never sees them

    statics: list[str] = []
    if with_attributes and os.path.isdir(os.path.join(base_dir, ATTRS_DIR)):
        attrs = spark.read.parquet(os.path.join(base_dir, ATTRS_DIR))
        statics = [c for c in attrs.columns if c != d.id_var]
        df = df.join(F.broadcast(attrs), d.id_var, "left")

    wrapped = TSLong(
        df,
        TableDescriptor(d.id_var, d.time_var, d.ts_vars, statics, d.partitioning),
    )
    return wrapped.query(ts_variables=ts_variables, columns=columns) if (ts_variables or columns) else wrapped


# -- retention (north rule: per-tier expiry) ----------------------------------

def apply_retention(base_dir: str, table: str, keep_days_after: str) -> list[str]:
    """Drop partition directories with p_day < cutoff. With Iceberg this is
    ``DELETE WHERE`` + ``expire_snapshots``; on the Parquet fallback it is
    partition-directory removal — an O(#partitions) metadata operation either
    way, never a data rewrite."""
    root = os.path.join(base_dir, table)
    dropped = []
    if not os.path.isdir(root):
        return dropped
    for entry in sorted(os.listdir(root)):
        if entry.startswith("p_day=") and entry.split("=", 1)[1] < keep_days_after:
            shutil.rmtree(os.path.join(root, entry))
            dropped.append(entry)
    return dropped
