"""The two workloads. Each times only calls into the public functions of
``sources``, ``plans``, ``operators`` and ``model`` (through :class:`Tracer`)
and checks every result; a failed check is a failed operation."""

from __future__ import annotations

import json
import shutil
import time
from collections import defaultdict
from pathlib import Path

from perfbench import inputs

HARNESS = "perfbench"
LAYERS = (
    "sources.archive",
    "plans.pipeline",
    "operators.rollup",
    "operators.gorilla",
    "model",
    "operators.gapfill",
    "operators.downsample",
    "operators.tierselect",
    "operators.corpus",
    "operators.dedup",
    "operators.graph",
)


def classify(group: str | None, call_site: str | None) -> str | None:
    """Layer of a Spark job from its job group and Python call site.

    ``run_rollup_pipeline`` runs under the ``plans.pipeline`` group; its own
    jobs (``day_fingerprints``) carry a call site in ``plans/``, while the
    tier writes, where the rollup cascade runs, are DataFrameWriter jobs with
    no Python call site and belong to ``operators.rollup``."""
    if group not in LAYERS:
        return None
    if group == "plans.pipeline" and "plans/" not in (call_site or ""):
        return "operators.rollup"
    return group


class Tracer:
    """Sets the Spark job group of each public call to its layer and records
    the call's build time (until it returns) and wall time (until the
    benchmark has forced its result)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.wall_s = 0.0  # all traced calls so far: an operation's latency
        self.sc.setJobGroup(HARNESS, HARNESS)

    def call(self, layer: str, fn, *args, force=None, **kwargs):
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            t1 = time.perf_counter()
            if force is not None:
                out = force(out)
            t2 = time.perf_counter()
        finally:
            self.sc.setJobGroup(HARNESS, HARNESS)
        span = self.spans[layer]
        span["build_s"] += t1 - t0
        span["wall_s"] += t2 - t0
        self.wall_s += t2 - t0
        return out

    def reset(self) -> None:
        self.spans.clear()


def digest(df) -> tuple[int, int]:
    """Order-independent (xor of row hashes, row count) over every column."""
    from pyspark.sql import functions as F

    row_json = F.to_json(F.struct(*sorted(df.columns)))
    r = df.agg(F.bit_xor(F.xxhash64(row_json)).alias("x"), F.count(F.lit(1)).alias("n")).head()
    return int(r["x"] or 0), int(r["n"])


class Workload:
    name = ""
    unit = ""  # what one unit of units_per_s is
    sizes: dict = {}
    #: operations run before the measured window
    warm_ops = 0
    #: the measured window is whole rounds of this many operations ...
    round_ops = 1
    #: ... as many as fill --seconds at this nominal round time (4-core host)
    round_s = 50.0

    def __init__(self, spark, seed: int, tracer: Tracer, run_dir: Path):
        self.spark, self.seed, self.t, self.run_dir = spark, seed, tracer, run_dir
        self.counts: dict[str, float] = defaultdict(float)

    def build_inputs(self) -> float:
        """Build or find the cached inputs; seconds spent building."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Open the cached inputs in this session (paid on every run)."""
        raise NotImplementedError

    def op(self) -> tuple[int, list[str]]:
        """One closed-loop operation: (units of work, failed checks)."""
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        return []

    def layer_extras(self, totals: dict, n_ops: int) -> dict[str, float]:
        """Layer-specific per-layer metrics of the measured window."""
        return {}


# -- archive_batch ------------------------------------------------------------

class ArchiveBatch(Workload):
    """The batch jobs over one crawl, back to back in one cold JVM as a
    ``spark-submit`` user runs them (so the cold start is measured, not
    warmed away):

    1. ingest: write_archive -> run_rollup_pipeline -> compress_tier (written)
       -> the pipeline again, which must skip all 7 days -> apply_retention,
       from an empty output directory;
    2. the corpus job as public calls: corpus_filter plus the repetition
       gates, the MinHash near-dup prune, deterministic_split and a
       partitioned write, each step materialized so its jobs are its own;
    3. connected_components, pagerank(iterations=5), k_core(k=2) and
       bfs_hops over the planted community host graph."""

    name = "archive_batch"
    unit = "pages + docs + edges"
    sizes = {"pages": 5_000, "days": 7, "domains": 50, "docs": 500,
             "tokens_per_doc": inputs.CORPUS_TOKENS, "edges": 600, "community": 6}

    def build_inputs(self) -> float:
        s, seed = self.sizes, self.seed

        def graph(tmp: Path) -> None:
            edges, with_tails, n_hosts = inputs.host_graph(s["edges"], s["community"], seed)
            edges.to_parquet(tmp / "edges.parquet", index=False)
            with_tails.to_parquet(tmp / "with_tails.parquet", index=False)
            (tmp / "counts.json").write_text(json.dumps([n_hosts, len(edges)]))

        self.pages_in, a = inputs.cached(
            "pages", seed, s["pages"], lambda tmp: inputs.write_pages(tmp / "pages", s["pages"], seed))
        self.corpus, b = inputs.cached(
            "corpus", seed, s["docs"],
            lambda tmp: inputs.corpus_docs(s["docs"], seed).to_parquet(tmp / "docs.parquet", index=False))
        self.graph, c = inputs.cached("graph", seed, s["edges"], graph)
        return a + b + c

    def prepare(self) -> None:
        spark = self.spark
        self.pages = spark.read.parquet(str(self.pages_in / "pages"))
        self.input_bytes = inputs.dir_bytes(self.pages_in / "pages")
        self.docs = spark.read.parquet(str(self.corpus / "docs.parquet"))
        self.truth = inputs.corpus_truth(self.sizes["docs"])
        self.edges = spark.read.parquet(str(self.graph / "edges.parquet"))
        self.with_tails = spark.read.parquet(str(self.graph / "with_tails.parquet"))
        self.n_hosts, self.n_edges = json.loads((self.graph / "counts.json").read_text())
        self.digests_1d = []

    def op(self) -> tuple[int, list[str]]:
        bad = self.ingest() + self.corpus_job() + self.graph_calls()
        return self.sizes["pages"] + self.sizes["docs"] + self.n_edges, bad

    def ingest(self) -> list[str]:
        from tstore_spark import TSLong
        from tstore_spark.operators.gorilla import compress_tier
        from tstore_spark.plans.pipeline import read_tier, run_rollup_pipeline
        from tstore_spark.sources.archive import apply_retention, open_archive, write_archive

        t, spark = self.t, self.spark
        out = self.run_dir / "ingest"
        shutil.rmtree(out, ignore_errors=True)  # every batch starts from an empty output
        base, tiers, chunks = str(out / "archive"), str(out / "tiers"), str(out / "chunks")
        bad = []

        tl = t.call("model", TSLong.wrap, self.pages, id_var="url", time_var="warc_ts",
                    ts_vars={"content": ["html", "text", "lang"]})
        t.call("sources.archive", write_archive, tl, base, stats_columns=inputs.stats_columns())
        arch = t.call("sources.archive", open_archive, spark, base, with_attributes=False)
        first = t.call("plans.pipeline", run_rollup_pipeline, spark, arch.df, tiers,
                       run_id="first")
        t1m = t.call("plans.pipeline", read_tier, spark, tiers, "1m")
        t.call("operators.gorilla", compress_tier, t1m,
               force=lambda df: df.write.parquet(chunks))
        stored = sum(inputs.dir_bytes(p) for p in (base, tiers, chunks))
        again = t.call("plans.pipeline", run_rollup_pipeline, spark, arch.df, tiers,
                       run_id="resume")
        dropped = t.call("sources.archive", apply_retention, tiers, "rollup_1m", inputs.RETAIN_FROM)

        if first["days_processed"] != inputs.DAYS:
            bad.append(f"pipeline processed {first['days_processed']}")
        if again["days_processed"] or again["days_skipped"] != inputs.DAYS:
            bad.append(f"resume processed {again['days_processed']}")
        if dropped != [f"p_day={d}" for d in inputs.DAYS if d < inputs.RETAIN_FROM]:
            bad.append(f"retention dropped {dropped}")
        # held to the from-raw recomputation in final_checks, after the
        # measured window, so a first run of a seed measures the same JVM
        self.digests_1d.append(list(digest(read_tier(spark, tiers, "1d"))))
        self.counts["days_skipped"] += len(first["days_skipped"]) + len(again["days_skipped"])
        self.counts["days_seen"] += 2 * len(inputs.DAYS)
        self.counts["stored_bytes"] += stored
        self.counts["input_bytes"] += self.input_bytes
        return bad

    def corpus_job(self) -> list[str]:
        from pyspark.sql import functions as F

        from tstore_spark.functions import text as TX
        from tstore_spark.operators.corpus import corpus_filter
        from tstore_spark.operators.dedup import minhash_near_dup_pairs
        from tstore_spark.operators.sampling import deterministic_split

        t, docs = self.t, self.docs
        out = str(self.run_dir / "corpus")

        def admit():
            ids = corpus_filter(docs, min_quality=0.3, min_tokens=5, max_tokens=100_000)
            toks = TX.tokens("text")
            return (
                docs.join(ids.select("doc_id"), "doc_id", "left_semi")
                .withColumn("_toks", toks)
                .where((TX.dup_line_fraction("text") <= 0.3)
                       & (TX.top_bigram_fraction("text", toks=F.col("_toks")) <= 0.2))
                .drop("_toks")
            )

        admitted = t.call("operators.corpus", admit,
                          force=lambda df: df.localCheckpoint(eager=True))
        losers = t.call(
            "operators.dedup", minhash_near_dup_pairs, admitted, threshold=0.85, bands=16,
            force=lambda p: p.select(F.col("id_b").alias("doc_id")).distinct()
            .localCheckpoint(eager=True))
        pruned = admitted.join(losers, "doc_id", "left_anti")
        t.call("operators.corpus", deterministic_split, pruned, "doc_id",
               {"train": 0.95, "eval": 0.05}, seed=self.seed,
               force=lambda df: df.write.mode("overwrite").partitionBy("split").parquet(out))

        got = (admitted.count(), losers.count(), self.spark.read.parquet(out).count())
        self.counts["admitted"] += got[0]
        self.counts["pairs"] += got[1]
        want = (self.truth["admitted"], self.truth["near_pairs"], self.truth["docs_out"])
        return [] if got == want else [f"corpus admitted/pruned/out {got} != {want}"]

    def graph_calls(self) -> list[str]:
        from pyspark.sql import functions as F

        from tstore_spark.operators.graph import bfs_hops, connected_components, k_core, pagerank

        t, size = self.t, self.sizes["community"]
        bad = []
        sizes = t.call("operators.graph", connected_components, self.edges, force=lambda df: {
            r["n"]: r["k"] for r in df.groupBy("component_id").agg(F.count(F.lit(1)).alias("n"))
            .groupBy("n").agg(F.count(F.lit(1)).alias("k")).collect()})
        if sizes != {size: self.n_hosts // size}:
            bad.append(f"components {sizes}")
        mass, n_ranked = t.call("operators.graph", pagerank, self.edges, iterations=5,
                                force=lambda df: df.agg(F.sum("rank"), F.count(F.lit(1))).head())
        if not (0 < mass <= 10**12) or n_ranked != self.n_hosts:
            bad.append(f"pagerank mass {mass} over {n_ranked} nodes")
        n_core, min_deg, tails_in_core = t.call(
            "operators.graph", k_core, self.with_tails, k=2, max_rounds=12,
            force=lambda df: df.agg(F.count(F.lit(1)), F.min("degree"),
                                    F.count(F.when(F.col("node").startswith("t"), 1))).head())
        if (n_core, tails_in_core) != (self.n_hosts, 0) or min_deg < 2:
            bad.append(f"k_core {(n_core, min_deg, tails_in_core)}")
        n_reach, tail_reach, max_hops = t.call(
            "operators.graph", bfs_hops, self.with_tails, ["h0"], max_hops=600,
            directed=False,
            force=lambda df: df.agg(F.count(F.lit(1)),
                                    F.count(F.when(F.col("node").startswith("t0_"), 1)),
                                    F.max("hops")).head())
        if (n_reach, tail_reach) != (size + inputs.TAIL, inputs.TAIL):
            bad.append(f"bfs reached {(n_reach, tail_reach)}")
        self.counts["bfs_rounds"] += max_hops + 1
        return bad

    def reference_1d(self) -> list[int]:
        """Digest of the 1d tier recomputed from the raw pages, skipping the
        cascade. It is kept with the cached input, so every run of a seed
        must match the same value."""
        from tstore_spark.operators.rollup import rollup_from_raw

        path = self.pages_in / "tier_1d_digest.json"
        if not path.exists():
            path.write_text(json.dumps(digest(rollup_from_raw(self.pages, "1d"))))
        return json.loads(path.read_text())

    def final_checks(self) -> list[str]:
        """Every batch's 1d tier matches the from-raw recomputation, and a
        Gorilla chunk sample round-trips losslessly."""
        from pyspark.sql import functions as F

        from tstore_spark.operators.gorilla import chunk_stats_summary, decompress_chunks
        from tstore_spark.plans.pipeline import read_tier

        ref = self.reference_1d()
        bad = [f"batch {i}: 1d tier digest differs from the from-raw recomputation"
               for i, d in enumerate(self.digests_1d) if d != ref]
        out = self.run_dir / "ingest"
        chunks = self.spark.read.parquet(str(out / "chunks"))
        sample = chunks.where(F.col("p_day") >= F.lit(inputs.RETAIN_FROM).cast("date")).limit(20)
        t1m = read_tier(self.spark, str(out / "tiers"), "1m").select(
            "domain", "window_start", F.col("doc_count").cast("double").alias("doc_count"))
        dec = decompress_chunks(sample).select("domain", "window_start", "doc_count")
        n_dec = dec.count()
        if n_dec == 0 or dec.exceptAll(t1m).count() != 0:
            bad.append("Gorilla chunks do not round-trip")
        self.gorilla_ratio = chunk_stats_summary(chunks)["ratio"]
        return bad

    def layer_extras(self, totals: dict, n_ops: int) -> dict[str, float]:
        c = self.counts
        jobs = totals.get("operators.graph", {}).get("jobs", 0)
        return {
            "sources.archive.stored_bytes_per_input_byte": c["stored_bytes"] / c["input_bytes"],
            "plans.pipeline.resume_days_skipped_frac": c["days_skipped"] / c["days_seen"],
            "operators.gorilla.ratio": self.gorilla_ratio,
            "operators.corpus.admitted_frac": c["admitted"] / (n_ops * self.sizes["docs"]),
            "operators.dedup.near_dup_pairs": c["pairs"] / n_ops,
            # every graph job over every BFS round: the per-round job cost of
            # the four iterative calls, with BFS rounds as the common yardstick
            "operators.graph.jobs_per_round": jobs / c["bfs_rounds"],
        }


# -- archive_query ------------------------------------------------------------

class ArchiveQuery(Workload):
    """A closed loop with one client over a prebuilt archive: the eight query
    types in a fixed round-robin order, each with seeded parameters."""

    name = "archive_query"
    unit = "queries"
    sizes = {"pages": 30_000, "events": 100_000, "query_pool": 48}
    #: one warm session serves many queries: warm it with one round first
    warm_ops = round_ops = len(inputs.QUERY_TYPES)
    round_s = 8.0
    #: the archive is built once per checkout from this data seed; --seed
    #: draws the query parameters
    data_seed = 0

    def build_inputs(self) -> float:
        s = self.sizes
        self.input, gen_s = inputs.cached(
            "query", self.data_seed, s["pages"],
            lambda tmp: inputs.build_query_archive(
                self.spark, self.data_seed, s["pages"], s["events"], tmp))
        self.pool, pool_s = inputs.cached(
            "querypool", self.seed, s["query_pool"],
            lambda tmp: (tmp / "queries.json").write_text(json.dumps(inputs.query_pool(
                str(self.input / "pages"), str(self.input / "events.parquet"), self.seed,
                s["query_pool"]))))
        return gen_s + pool_s

    def prepare(self) -> None:
        from tstore_spark.plans.pipeline import read_tier

        spark, root = self.spark, self.input
        self.base = str(root / "archive")
        self.t1h = read_tier(spark, str(root / "tiers"), "1h")
        self.t1m = read_tier(spark, str(root / "tiers"), "1m")
        self.chunks = spark.read.parquet(str(root / "chunks"))
        self.metric = {t: spark.read.parquet(str(root / "metric" / t)) for t in ("1m", "1h", "1d")}
        self.queries = json.loads((self.pool / "queries.json").read_text())
        self.pages_files = sum(1 for _ in (root / "archive" / "pages").rglob("*.parquet"))
        self.next = 0

    def op(self) -> tuple[int, list[str]]:
        q = self.queries[self.next % len(self.queries)]
        self.next += 1
        got = getattr(self, "_q_" + q["kind"])(q)
        return 1, ([] if got == q["expect"] else [f"{q['kind']}: got {got!r:.200}"])

    def _open(self, q, **kw):
        from tstore_spark.sources.archive import open_archive

        return self.t.call("sources.archive", open_archive, self.spark, self.base, ids=q["ids"],
                           with_attributes=False, **kw)

    def _q_archive_range(self, q):
        from pyspark.sql import functions as F

        r = self._open(q, start_time=f"{q['day']} 00:00:00", end_time=f"{q['day']} 23:59:59",
                       force=lambda tl: tl.df.agg(F.count(F.lit(1)), F.sum("text_len")).head())
        return [int(r[0]), int(r[1] or 0)]

    def _q_tsdf(self, q):
        from pyspark.sql import functions as F

        tl = self._open(q)
        r = self.t.call("model", tl.to_tsdf, force=lambda nested: nested.df.agg(
            F.count(F.lit(1)), F.sum(F.size("content"))).head())
        return [int(r[0]), int(r[1])]

    def _q_tswide(self, q):
        from pyspark.sql import functions as F

        tl = self._open(q)
        cols = [f"text_len({u})" for u in q["ids"]]

        def force(wide):
            return wide.df.agg(
                F.count(F.lit(1)), sum(F.count(F.col(f"`{c}`")) for c in cols)).head()

        r = self.t.call("model", tl.to_tswide, values=["text_len"], force=force)
        return [int(r[0]), int(r[1])]

    def _q_gap_fill(self, q):
        from pyspark.sql import functions as F

        from tstore_spark.operators.gapfill import gap_fill

        r = self.t.call(
            "operators.gapfill", gap_fill, self.t1h.where(F.col("domain").isin(q["domains"])), "1h",
            force=lambda df: df.agg(F.count(F.lit(1)), F.count(F.when(F.col("gap_filled"), 1)),
                                    F.sum("doc_count")).head())
        return [int(r[0]), int(r[1]), int(r[2])]

    def _q_decompress(self, q):
        from pyspark.sql import functions as F

        from tstore_spark.operators.gorilla import decompress_chunks

        sel = self.chunks.where((F.col("domain") == q["domain"])
                                & (F.col("p_day") == F.lit(q["day"]).cast("date")))
        rows = self.t.call("operators.gorilla", decompress_chunks, sel,
                           force=lambda df: df.select("window_start", "doc_count").collect())
        return sorted([_epoch_us(t), int(v)] for t, v in rows)

    def _q_m4(self, q):
        from pyspark.sql import functions as F

        from tstore_spark.operators.downsample import m4_downsample

        rows = self.t.call(
            "operators.downsample", m4_downsample, self.t1m.where(F.col("domain") == q["domain"]),
            "domain", "window_start", "doc_count", inputs.M4_BUCKETS,
            t_range=(inputs.T_LO, inputs.T_HI),
            force=lambda df: df.select("bucket", "n_points", "v_min", "v_max").collect())
        return sorted([int(b), int(n), float(a), float(z)] for b, n, a, z in rows)

    def _q_lttb(self, q):
        from pyspark.sql import functions as F

        from tstore_spark.operators.downsample import lttb_downsample

        rows = self.t.call(
            "operators.downsample", lttb_downsample, self.t1m.where(F.col("domain") == q["domain"]),
            "domain", "window_start", "doc_count", inputs.LTTB_POINTS,
            force=lambda df: df.select("window_start", "doc_count").collect())
        pts = sorted([_epoch_us(t), int(v)] for t, v in rows)
        return [len(pts), pts[0], pts[-1]]

    def _q_range_aggregate(self, q):
        from tstore_spark.operators.tierselect import range_aggregate

        rows = self.t.call(
            "operators.tierselect", range_aggregate, self.metric, q["start"], q["end"],
            force=lambda df: df.select("event_type", "event_count", "value_cents").collect())
        return sorted([a, int(b), int(c)] for a, b, c in rows)

    def layer_extras(self, totals: dict, n_ops: int) -> dict[str, float]:
        arch = totals.get("sources.archive", {})
        scans = arch.get("scans", 0)
        frac = arch.get("files_read", 0) / (scans * self.pages_files) if scans else 0.0
        return {"sources.archive.files_read_frac": frac}


def _epoch_us(ts) -> int:
    """Epoch microseconds of a naive UTC datetime (the session is UTC)."""
    import calendar

    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


WORKLOADS = {w.name: w for w in (ArchiveBatch, ArchiveQuery)}
