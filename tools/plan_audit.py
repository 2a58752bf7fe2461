"""Physical-plan audit: assert the plans we ship are the plans we want.

Checks, per representative query:
- Parquet scans carry PushedFilters / pruned ReadSchema (no full-width scans)
- broadcast joins where a dimension is joined (no SMJ for attrs/nation)
- whole-stage codegen present in the aggregation pipeline
- no CartesianProduct anywhere except the (intentional, broadcast-bounded)
  similarity cross join

Usage: python tools/plan_audit.py [sf_dir]   (prints PASS/FAIL per check)
"""

from __future__ import annotations

import io
import re
import sys

sys.path.insert(0, ".")

from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(sf_dir: str) -> int:
    import __spark_entry__ as E
    from tstore_spark.session import get_spark

    spark = get_spark("plan_audit", master="local[4]")
    qs = E.queries()
    failures: list[str] = []

    def check(name: str, cond: bool, why: str) -> None:
        print(("PASS " if cond else "FAIL ") + f"{name}: {why}")
        if not cond:
            failures.append(name)

    # 1. filter pushdown + column pruning on the TPC-H filter query
    p = plan_of(qs["q1_pricing_summary"](spark, sf_dir))
    check("q1.pushdown", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p,
          "shipdate predicate reaches the parquet scan")
    check("q1.pruning", "l_orderkey" not in p.split("ReadSchema")[1][:400] if "ReadSchema" in p else False,
          "unused columns pruned from ReadSchema")
    # AQE formatted plans omit codegen ids until executed; HashAggregate (as
    # opposed to ObjectHashAggregate/SortAggregate) is the codegen-capable op
    check("q1.codegen", "codegen id" in p or "WholeStageCodegen" in p or "\n+- HashAggregate" in p or "HashAggregate (" in p,
          "agg pipeline is codegen-capable (HashAggregate)")

    # 2. broadcast join for the dimension
    p = plan_of(qs["customer_nation_join"](spark, sf_dir))
    check("nation.broadcast", "BroadcastHashJoin" in p, "nation dim broadcast, no SMJ")

    # 3. q3: both filters pushed, customer broadcast
    p = plan_of(qs["q3_top_orders"](spark, sf_dir))
    check("q3.pushdown", p.count("PushedFilters: [IsNotNull(") >= 2, "both date filters pushed")
    check("q3.broadcast", "BroadcastHashJoin" in p, "customer side broadcast")

    # 4. rollup: single scan of events (no self-join of aggregates)
    p = plan_of(qs["rollup_1m"](spark, sf_dir))
    check("rollup.single_scan", p.count("Location: InMemoryFileIndex") == 1,
          "one events scan, no join of two aggs")
    check("rollup.partial_agg", "HashAggregate" in p, "two-stage hash aggregation")

    # 5. time filter: partition-prunable predicate at scan
    p = plan_of(qs["time_filter_left"](spark, sf_dir))
    check("timefilter.pushdown", "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in p,
          "time range pushed to scan")

    # 6. no cartesian products outside similarity brute force
    for name in ["rollup_1h", "gap_fill_1h", "dedup_exact", "token_jaccard_pairs",
                 "minhash_near_dup", "simhash_near_dup", "sessions_batch",
                 "rollup_1h_ddsketch", "doc_repetition", "train_eval_split"]:
        p = plan_of(qs[name](spark, sf_dir))
        check(f"{name}.no_cartesian", "CartesianProduct" not in p, "no accidental cross join")

    # 6a2. range joins: the whole point is NOT being a nested loop — assert
    # the bucketed equi-join survived optimization (an inequality-only join
    # would show BroadcastNestedLoopJoin/CartesianProduct)
    for name in ["interval_join_counts", "interval_overlap_pairs"]:
        p = plan_of(qs[name](spark, sf_dir))
        check(f"{name}.no_cartesian",
              "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
              "range join is bucketed equi, not nested loop")

    # 6b. corpus filter: ONE scan of documents (window dedup, no self-join)
    p = plan_of(qs["corpus_filter"](spark, sf_dir))
    check("corpus_filter.single_scan", p.count("Location: InMemoryFileIndex") == 1,
          "one documents scan — dedup via window, not groupBy+semi-join")
    check("corpus_filter.no_cartesian", "CartesianProduct" not in p, "no cross join")

    # 6c. token packing: every Window is per-bucket — a global (empty
    # partition spec) ordered window would serialize the corpus into ONE task
    p = plan_of(qs["token_packing"](spark, sf_dir))
    check("token_packing.no_global_window",
          "windowspecdefinition(_bkt" in p and ", [], [" not in p,
          "prefix-sum windows partition by bucket (no single-task global sort)")
    check("token_packing.broadcast_bases", "BroadcastHashJoin" in p,
          "per-bucket base offsets broadcast")

    # 6d. decontamination: eval-gram probe broadcast — corpus side streams
    p = plan_of(qs["decontaminate"](spark, sf_dir))
    check("decontaminate.broadcast_eval", "BroadcastHashJoin" in p,
          "eval grams broadcast, corpus never shuffles into the join")
    check("decontaminate.no_cartesian", "CartesianProduct" not in p, "equi join on gram hash")

    # 7. multi-table LSH ANN: probe side broadcast, candidate join is hash equi
    p = plan_of(qs["ann_lsh"](spark, sf_dir))
    check("ann_lsh.broadcast", "BroadcastHashJoin" in p, "probe signatures broadcast")
    check("ann_lsh.no_cartesian", "CartesianProduct" not in p, "bucket join is equi, not cross")

    # 8. reference-layout reader: attrs broadcast, no cartesian in the align join
    from tstore_spark.sources import tstore_layout as TL
    import tempfile

    from tstore_spark.model.tslong import TSLong as _TSL
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "value")
    tl = _TSL.wrap(ev, id_var="user_id", time_var="ts", ts_vars={"metrics": ["value"]})
    ref_dir = tempfile.mkdtemp(prefix="plan_audit_ref_")
    TL.to_tstore(tl, ref_dir)
    p = plan_of(TL.open_tstore(spark, ref_dir).df)
    check("tstore_layout.broadcast_attrs", "BroadcastHashJoin" in p or "_attributes" not in p,
          "attrs dim broadcast at read")
    check("tstore_layout.no_cartesian", "CartesianProduct" not in p, "align join is equi")

    # 11. bloom probe: the bitset rides a BROADCAST nested-loop (single-row
    # build side), never an unbounded CartesianProduct; membership join is equi
    p = plan_of(qs["bloom_new_docs"](spark, sf_dir))
    check("bloom.broadcast_bitset", "BroadcastNestedLoopJoin Cross BuildRight" in p,
          "single-row bitset broadcast to the probe side")
    check("bloom.no_cartesian", "CartesianProduct" not in p, "no unbounded cross join")

    # 12. CMS: sketch side broadcast at estimation; probes never shuffle wide
    p = plan_of(qs["cms_heavy_hitters"](spark, sf_dir))
    check("cms.broadcast_sketch", "BroadcastHashJoin" in p, "d*w cell table broadcast")
    check("cms.no_cartesian", "CartesianProduct" not in p, "cell join is equi")

    # 13. stratified sample: per-stratum counts broadcast; the window input is
    # the prefiltered slice (predicate visible in the join condition)
    p = plan_of(qs["stratified_sample"](spark, sf_dir))
    check("stratified.broadcast_counts", "BroadcastHashJoin" in p,
          "stratum-count table broadcast")
    check("stratified.prefilter", "_cnt" in p and "30" in p,
          "hash cutoff bounds the window input")

    # 14. bucketed co-located join: same-bucketed tables join with NO Exchange
    # on either side (the 100 TB bucket-once-join-forever strategy)
    from pyspark.sql import functions as F

    from tstore_spark.sources.bucketed import bucketed_join, write_bucketed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_id", "value")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    write_bucketed(ev, "pa_bkt_events", "user_id", num_buckets=8, sort_cols=["user_id"])
    write_bucketed(dim, "pa_bkt_users", "user_id", num_buckets=8, sort_cols=["user_id"])
    p = plan_of(bucketed_join(spark, "pa_bkt_events", "pa_bkt_users", "user_id"))
    check("bucketed.no_exchange", "Exchange" not in p,
          "bucket-aligned join reads co-located buckets, zero shuffle")
    check("bucketed.smj", "SortMergeJoin" in p, "merge join over pre-sorted buckets")
    spark.sql("DROP TABLE IF EXISTS pa_bkt_events")
    spark.sql("DROP TABLE IF EXISTS pa_bkt_users")

    # 15b. bucketed search index: a term equality probe reads ONE bucket
    from tstore_spark.operators.search import build_inverted_index
    from tstore_spark.sources.bucketed import write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    idx = build_inverted_index(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    write_bucketed(idx, "pa_search_idx", "token", num_buckets=8, sort_cols=["token"])
    p = plan_of(spark.table("pa_search_idx").where(F.col("token") == "spark"))
    check("search.bucket_pruned", "SelectedBucketsCount: 1 out of 8" in p,
          "term lookup opens one bucket of the persisted index")
    spark.sql("DROP TABLE IF EXISTS pa_search_idx")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")

    # 15. z-order key: a pure Catalyst projection — whole-stage codegen, no
    # Python evaluation, no shuffle beyond the single range repartition the
    # clustered rewrite needs anyway
    from tstore_spark.sources.zorder import with_zorder_key

    zin = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    p = plan_of(with_zorder_key(zin, ["value", "event_id"],
                                bounds={"value": (0.0, 600.0), "event_id": (0.0, 1e6)}))
    check("zorder.jvm_key", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "bit-interleave is Catalyst shift/and/or, not a UDF")
    check("zorder.codegen", "codegen id" in p, "key evaluates inside codegen")
    check("zorder.no_shuffle", "Exchange" not in p,
          "key projection alone adds no shuffle")

    # 16. PageRank: every per-iteration join is a hash equi-join (never a
    # nested loop), and the rank/share derivation stays JVM-side
    p = plan_of(qs["pagerank_hosts"](spark, sf_dir))
    check("pagerank.no_cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "contribution joins are equi, not nested loop")
    check("pagerank.jvm", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "integer recursion is Catalyst expressions, no Python")

    # 17. RRF fusion: tiny ranked lists fuse via broadcast joins. The rank
    # windows are single-partition BY DESIGN (WindowExec warns "No Partition
    # Defined") — every one of them must sit above a TakeOrdered limit, so
    # its input is the bounded top-N, never the corpus. In explain output a
    # parent prints before its child: the first Window node must appear
    # after no... (ordering check: every Window is preceded in tree order
    # only by nodes of its own bounded branch, i.e. TakeOrdered count >=
    # Window count and the first TakeOrdered appears before the last Window
    # ends its subtree — approximated by count parity below).
    p = plan_of(qs["rrf_fusion"](spark, sf_dir))
    check("rrf.no_cartesian", "CartesianProduct" not in p, "fusion joins are equi")
    check("rrf.bounded_windows",
          len(re.findall(r"TakeOrderedAndProject", p))
          >= len(re.findall(r"\(\d+\) Window\b", p)) > 0,
          "each single-partition rank window rides a TakeOrdered top-N, "
          "never the corpus")

    # 18. containment: candidates from the shared-shingle equi-join
    p = plan_of(qs["containment_pairs"](spark, sf_dir))
    check("containment.no_cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "pair generation is the gram equi-join, never all-pairs")

    # 19. triangles: wedge generation + closure are equi-joins (the degree
    # orientation exists precisely so hubs never cross-product), all JVM
    p = plan_of(qs["triangle_counts"](spark, sf_dir))
    check("triangles.no_cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "wedge + closure joins are equi, never all-pairs")
    check("triangles.jvm", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "orientation and closure are Catalyst expressions")

    # 20. KMV sketch build: the bottom-k window sorts only the prefiltered
    # O(k) rows per group — the plan must show a partitioned window, never
    # a global (empty-partition) sort — and stays JVM-side
    p = plan_of(qs["kmv_returning_users"](spark, sf_dir))
    check("kmv.jvm", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "sketch build/merge/estimate are Catalyst expressions")
    check("kmv.no_cartesian", "CartesianProduct" not in p,
          "pairing is the day equi-join")

    # 21a. skew profile: the top-N keys must plan as TakeOrdered — a global
    # row_number window would sort EVERY key's count in one task (the exact
    # hot-reducer shape the probe diagnoses)
    p = plan_of(qs["skew_profile"](spark, sf_dir))
    check("skew_profile.take_ordered", "TakeOrderedAndProject" in p,
          "top-N is TakeOrdered, never a whole-table single-partition sort")
    check("skew_profile.bounded_window",
          len(re.findall(r"TakeOrderedAndProject", p))
          >= len(re.findall(r"\(\d+\) Window\b", p)) > 0,
          "the single-partition rank window (WindowExec warns by design) "
          "rides the <= top_n TakeOrdered rows only")

    # 21b. Bloom file index build: ONE column-pruned scan (ReadSchema carries
    # only the indexed column), all hashing JVM-side, aggregation map-side
    # combined (partial bit_or before the exchange)
    import re as _re

    from tstore_spark.sources.bloom_index import bloom_file_index

    bi_root = "/tmp/pa_bloom_idx"
    spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    ).repartition(4, "user_id").write.mode("overwrite").parquet(bi_root)
    p = plan_of(bloom_file_index(spark, bi_root, "user_id", materialize=False))
    read_schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", p)
    data_reads = [s for s in read_schemas if "user_id" in s]
    check("bloom_index.column_pruned",
          bool(data_reads) and all(s == "user_id:bigint" for s in data_reads),
          "index build scans ONLY the indexed column")
    check("bloom_index.jvm", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "bit positions are xxhash64 Catalyst expressions, no Python")
    check("bloom_index.partial_agg", p.count("HashAggregate") >= 4,
          "bit_or word merge is map-side combined before each exchange")

    # 23. prefix-filter similarity join: candidate generation is the prefix
    # equi-join — never a cross join — and scoring stays JVM-side
    p = plan_of(qs["prefix_jaccard"](spark, sf_dir))
    check("prefix_jaccard.no_cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "candidates from the prefix-gram equi-join, never all-pairs")
    check("prefix_jaccard.jvm",
          "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "shingling/ordering/scoring are Catalyst expressions")

    # 22. cube: ONE scan; the Expand row-multiplier sits ABOVE the finest-
    # grain pre-aggregate (distinct dim combos), never over the raw rows
    p = plan_of(qs["cube_doc_stats"](spark, sf_dir))
    check("cube.single_scan", p.count("Location: InMemoryFileIndex") == 1,
          "all margins from one documents scan")
    # tree portion prints root-first: a HashAggregate BELOW Expand (after it
    # in the text, before the numbered details) is the finest-grain pre-agg
    tree = p.split("(1) ")[0]
    check("cube.pre_aggregated",
          "Expand" in tree and "HashAggregate" in tree[tree.find("Expand"):],
          "Expand consumes the pre-aggregate, not raw rows")
    check("cube.jvm", "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "margins are Catalyst aggregates, no Python")

    # 21. stream-stream attribution join (batch twin plan): key equi-join
    # with the time range as a post-filter, never a nested loop
    from tstore_spark.streaming.stream_join import attribution_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type")
    p = plan_of(attribution_join(
        ev.where("event_type = 'view'").drop("event_type"),
        ev.where("event_type = 'click'").drop("event_type"),
        "user_id", max_delay="2 hours"))
    check("stream_join.no_cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "attribution join is the key equi-join + range filter")

    # 23. duplicate spans: the pair generation is an equi-join on the
    # n-gram (hash-partitionable), never a nested loop / cartesian; the
    # maximal-run merge is a windowed aggregate, not a Python stage.
    # The boilerplate-df guard rides as a broadcast 1-ROW cross (the
    # in-plan raise pattern) — that BuildRight Cross shape is allowed;
    # anything else nested-loop-shaped is not.
    p = plan_of(qs["duplicate_spans"](spark, sf_dir))
    bnlj_lines = [ln for ln in p.splitlines()
                  if "BroadcastNestedLoopJoin" in ln
                  and not ln.lstrip().startswith("(")]
    check("spans.equi_join",
          "CartesianProduct" not in p
          and all("Cross BuildRight" in ln for ln in bnlj_lines)
          and ("BroadcastHashJoin" in p or "SortMergeJoin" in p),
          "n-gram postings pair-join is an equi-join (1-row guard cross allowed)")
    check("spans.jvm", "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "gram build + island merge stay in Catalyst")

    # 23b. blocklists: the domain-suffix filter is a pure equi-join chain
    # (the whole point of the suffix explode — no endswith nested loop);
    # the substring matcher stays JVM codegen end to end
    p = plan_of(qs["domain_blocklist"](spark, sf_dir))
    check("blocklist.suffix_equi",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "domain suffix blocking is equi-join only")
    p = plan_of(qs["blocklist_hits"](spark, sf_dir))
    check("blocklist.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "substring matching is contains/replace codegen, no Python")

    # 24. robots: URL decisions join rules on host (equi), LIKE matching is
    # a filter above it — no nested loop over (urls x rules)
    p = plan_of(qs["robots_filter"](spark, sf_dir))
    check("robots.no_cartesian",
          "CartesianProduct" not in p,
          "url x rules matching is the host equi-join")

    # 25. readability: a pure per-row projection — no shuffle at all
    p = plan_of(qs["readability"](spark, sf_dir))
    check("readability.no_shuffle", "Exchange" not in p,
          "counts and scores are projections over the scan")

    # 26. classifier: lexicon broadcast (corpus never shuffles by token),
    # pure JVM path
    p = plan_of(qs["classifier_score"](spark, sf_dir))
    check("classifier.broadcast",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "weight table broadcast; no corpus shuffle on token")
    check("classifier.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "tokenize + score stay in codegen")

    # 27. semantic decontamination: eval side broadcast, single partial-agg
    # shuffle on corpus id
    p = plan_of(qs["semantic_decontam"](spark, sf_dir))
    check("decontam.broadcast",
          "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
          "eval embeddings broadcast to the corpus scan")
    check("decontam.partial_agg", "HashAggregate" in p or "SortAggregate" in p,
          "max-struct aggregate combines map-side")

    # 28. epoch shuffle: a pure projection — zero exchange in the plan
    p = plan_of(qs["epoch_shuffle"](spark, sf_dir))
    check("epoch_shuffle.no_shuffle", "Exchange" not in p,
          "order key + shard are projections over the scan")

    # 29. postings compression: one shuffle (the token/block group), no
    # per-token global window
    p = plan_of(qs["postings_roundtrip"](spark, sf_dir))
    check("postings.no_window", "Window" not in p,
          "range blocks avoid the per-token rank window")

    # 30. priority sampling: the k+1 survivors are PINNED (localCheckpoint)
    # so tau and the output share one input scan — the final plan reads the
    # checkpoint, never the parquet twice; the TakeOrdered heap selection
    # ran inside the pin (asserted by its pytest plan test). The WindowExec
    # "No Partition Defined" warnings this audit run prints come from that
    # pinned branch: the global rank window evaluates over the <= k+1
    # TakeOrdered rows (bounded by the sample budget, never the population)
    # — same contract as rrf.bounded_windows / skew_profile.bounded_window.
    p = plan_of(qs["priority_sample"](spark, sf_dir))
    check("priority_sample.checkpoint_pin",
          "Scan ExistingRDD" in p and "InMemoryFileIndex" not in p,
          "both branches read the pinned k+1 rows, not the input again")
    check("priority_sample.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "md5 variate + priority are codegen expressions")

    # 31. upsampling: projection + explode — zero shuffle
    p = plan_of(qs["upsample_mixture"](spark, sf_dir))
    check("upsample.no_shuffle", "Exchange" not in p,
          "copy count + explode are projections over the scan")

    # 32. recrawl intervals: the lag window and the per-url aggregate
    # share ONE hash exchange
    p = plan_of(qs["recrawl_schedule"](spark, sf_dir))
    check("recrawl.single_exchange",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "window and groupBy reuse the same url partitioning")

    # 33. sitemap + cdx parsing: pure codegen projections (the only
    # exchange in each gate query is the frontier/survivor groupBy)
    p = plan_of(qs["sitemap_urls"](spark, sf_dir))
    check("sitemap.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "XML block extraction is regexp codegen, never Python")
    p = plan_of(qs["cdx_latest"](spark, sf_dir))
    check("cdx.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "line grammar + JSON paths stay in codegen")
    check("cdx.single_exchange",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "one survivor groupBy; the parse itself never shuffles")

    # 34. prometheus histogram: ONE aggregation carries every bucket
    # counter (map-side combined); quantiles are projections over it
    p = plan_of(qs["histogram_quantile"](spark, sf_dir))
    check("promhist.single_exchange",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "all le_* counters + n_total ride one groupBy")
    check("promhist.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "counter sums + CASE-chain interpolation are codegen")

    # 35. interval algebra: the sweep is windows over ONE keyed exchange
    # per input union — never a pairwise interval-overlap join
    p = plan_of(qs["interval_difference"](spark, sf_dir))
    check("interval_diff.no_join",
          "Join" not in p,
          "two-counter sweep replaces the quadratic overlap join")
    check("interval_diff.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "boundary deltas + running sums are codegen windows")

    # 36. dsir features: equi-joins on the feature key only — no cartesian,
    # no Python; the explode runs over the hoisted token projection
    p = plan_of(qs["dsir_features"](spark, sf_dir))
    check("dsir.no_cartesian",
          "Cartesian" not in p and "BroadcastNestedLoop" not in p,
          "distribution joins are feature equi-joins")
    check("dsir.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "tokenize + bigram zip + counts stay in codegen")

    # 37. calibration: every bucket counter rides ONE map-side-combined
    # groupBy into <= n_buckets rows; ratios are projections
    p = plan_of(qs["calibration_report"](spark, sf_dir))
    check("calibration.single_exchange",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "n/n_pos/conf_micros share one bucket groupBy")
    check("calibration.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "md5 variates + bucket algebra are codegen")

    # 38. per-group priority sampling: rank-limit pushdown bounds the
    # exchange payload to (k+1) rows per group per map partition
    p = plan_of(qs["priority_sample_groups"](spark, sf_dir))
    check("priority_groups.window_group_limit",
          "WindowGroupLimit" in p,
          "per-partition top-(k+1) heaps before the shuffle")
    check("priority_groups.single_exchange",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "rank + tau windows share one group Exchange")

    # 39. attribution + path mining: one user-key equi-join each (lookback
    # predicate rides the join filter) — never a cartesian; the path rank
    # cap pushes to WindowGroupLimit
    p = plan_of(qs["attribution_credits"](spark, sf_dir))
    check("attribution.no_cartesian",
          "Cartesian" not in p and "BroadcastNestedLoop" not in p,
          "touch-conversion pairing is a user equi-join")
    p = plan_of(qs["conversion_paths"](spark, sf_dir))
    check("paths.window_group_limit", "WindowGroupLimit" in p,
          "last-k cap bounds the per-conversion rows before the fold")

    # 40. sq8: codes assemble via one id groupBy over the broadcast-joined
    # bounds; the candidate stage is a broadcast probe join, all JVM
    p = plan_of(qs["sq8_ann"](spark, sf_dir))
    check("sq8.broadcast_probes", "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p,
          "probes broadcast to the code scan")
    check("sq8.jvm",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "codes + integer dots are codegen expressions")

    # 41. HLL distincts: built-in sketch aggregates + sketches.hll_estimate,
    # so no estimator UDF rides any HLL plan
    for name in ("hll_distinct_users", "hll_union_daily", "hyperball_centrality"):
        p = plan_of(qs[name](spark, sf_dir))
        check(f"{name}.jvm",
              "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
              "HLL build, union and estimate are built-in JVM expressions")

    spark.stop()
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))
