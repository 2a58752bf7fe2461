"""End-to-end drive of the tstore_spark surface, from a user's seat.

Run from OUTSIDE the repo so executors import the installed/zipped package
by name (the spark-submit --py-files posture; a driver-side sys.path hack
does not reach Python workers):

    cd /tmp && PYTHONPATH=/root/repo python /root/repo/tools/drive_e2e.py

Covers the verify skill's canonical flow (archive write/open/filter ->
rollup pipeline -> gap_fill -> Gorilla roundtrip -> rerun-skip ->
retention), the round-2 additions (z-order + zone-map prune on the second
dimension, z-ordered compaction, streaming 1m->1h cascade), and the
round-3 surface (graph layer, robust stats, rank fusion, containment +
duplicate spans, KMV, bigram LM, streaming attribution join). Every check
prints PASS/FAIL and the script exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np  # noqa: F401  (imported to fail fast if env is broken)
import pandas as pd


def main() -> int:
    from pyspark.sql import functions as F

    from tstore_spark import TSLong
    from tstore_spark.datagen import pages_spark
    from tstore_spark.session import get_spark

    spark = get_spark(app_name="drive_e2e", master="local[8]")
    tmp = tempfile.mkdtemp(prefix="drive_e2e_")
    n_checks = 0

    def check(name: str, cond: bool) -> None:
        nonlocal n_checks
        n_checks += 1
        print(("PASS " if cond else "FAIL ") + name, flush=True)
        if not cond:
            raise AssertionError(name)

    try:
        # ------------------------------------------------------------------
        # 1. archive write / open / filter / error probes
        # ------------------------------------------------------------------
        from tstore_spark.sources.archive import (
            apply_retention,
            open_archive,
            write_archive,
        )

        pages = pages_spark(spark, rows=20_000).cache()
        n = pages.count()
        base = f"{tmp}/arch"
        tl = TSLong.wrap(
            pages, id_var="url", time_var="warc_ts",
            ts_vars={"content": ["html", "text", "lang"]},
        )
        write_archive(
            tl, base,
            stats_columns={
                "html_bytes": F.octet_length("html"),
                "text_len": F.length("text"),
            },
        )
        back = open_archive(spark, base, with_attributes=False)
        check("archive roundtrip row count", back.df.count() == n)

        lo, hi = pages.agg(F.min("warc_ts"), F.max("warc_ts")).first()
        mid = lo + (hi - lo) / 2
        filt = open_archive(
            spark, base, start_time=lo, end_time=mid,
            inclusive="left", with_attributes=False,
        )
        expect = pages.where(
            (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(mid))
        ).count()
        check("time-filtered open matches predicate", filt.df.count() == expect)

        for probe, kw in [
            ("reversed range", dict(start_time=hi, end_time=lo)),
            ("bad inclusive", dict(start_time=lo, end_time=hi, inclusive="sideways")),
        ]:
            try:
                open_archive(spark, base, with_attributes=False, **kw)
                check(f"{probe} raises ValueError", False)
            except ValueError:
                check(f"{probe} raises ValueError", True)

        # ------------------------------------------------------------------
        # 2. rollup pipeline -> gap_fill -> Gorilla roundtrip -> rerun/retention
        # ------------------------------------------------------------------
        from tstore_spark.operators.gapfill import gap_fill
        from tstore_spark.operators.gorilla import compress_tier, decompress_chunks
        from tstore_spark.plans.pipeline import read_tier, run_rollup_pipeline

        rb = f"{tmp}/rollup"
        s1 = run_rollup_pipeline(spark, pages, rb)
        check("pipeline processed pending days",
              len(s1["days_processed"]) > 0 and not s1["days_skipped"])
        check("1h tier non-empty", read_tier(spark, rb, "1h").count() > 0)

        t1m = read_tier(spark, rb, "1m")
        gf = gap_fill(t1m, "1m")
        check("gap_fill emits flag column and only adds rows",
              "gap_filled" in gf.columns and gf.count() >= t1m.count())

        chunks = compress_tier(t1m)
        dec = decompress_chunks(chunks)
        t1m_d = t1m.select("domain", "window_start",
                           F.col("doc_count").cast("double").alias("doc_count"))
        diff = t1m_d.exceptAll(dec.select("domain", "window_start", "doc_count")).count()
        check("gorilla compress->decompress lossless",
              diff == 0 and dec.count() == t1m.count())

        s2 = run_rollup_pipeline(spark, pages, rb)
        check("rerun skips every completed day",
              not s2["days_processed"] and len(s2["days_skipped"]) == len(s1["days_processed"]))

        days = sorted(s1["days_processed"])
        dropped = apply_retention(rb, "rollup_1m", days[len(days) // 2])
        check("retention dropped old 1m partitions", len(dropped) >= 1)

        # ------------------------------------------------------------------
        # 3. z-order write + zone-map prune on the SECOND dimension;
        #    z-ordered compaction of the pages archive (numeric stat cols)
        # ------------------------------------------------------------------
        from tstore_spark.sources.compact import compact_archive
        from tstore_spark.sources.zonemaps import prune_paths, zone_maps
        from tstore_spark.sources.zorder import zorder_write

        zsrc = pages.select(
            "url",
            F.octet_length("html").alias("b"),
            F.xxhash64("url").alias("h"),
        )
        zdir = f"{tmp}/z"
        zorder_write(zsrc, zdir, ["b", "h"], n_files=16)
        zm = zone_maps(spark, zdir, ["b", "h"])
        hmin, hmax = zsrc.agg(F.min("h"), F.max("h")).first()
        span = (hmax - hmin) // 64
        probe_lo = hmin + (hmax - hmin) // 2
        keep, total = prune_paths(zm, {"h": (probe_lo, probe_lo + span)})
        check("zone maps prune on second z dimension",
              total == 16 and 0 < len(keep) < total)

        before = open_archive(spark, base, with_attributes=False).df.count()
        compact_archive(spark, base, zorder_by=["html_bytes", "text_len"])
        after = open_archive(spark, base, with_attributes=False).df.count()
        check("z-ordered compaction preserves rows", before == after == n)

        # ------------------------------------------------------------------
        # 4. streaming 1m->1h cascade over a file stream (availableNow)
        # ------------------------------------------------------------------
        from tstore_spark.operators.rollup import rollup_all_tiers
        from tstore_spark.streaming.stream_rollup import (
            read_pages_stream,
            stream_rollup_cascade_1h,
            write_stream_tier,
        )

        sdir = f"{tmp}/stream_in"
        pages.write.mode("overwrite").parquet(sdir)
        ps = read_pages_stream(spark, sdir, pages.schema)
        q = write_stream_tier(
            stream_rollup_cascade_1h(ps), f"{tmp}/stream_1h", f"{tmp}/ckpt_1h"
        )
        q.awaitTermination()
        got = spark.read.parquet(f"{tmp}/stream_1h").count()
        batch_1h = rollup_all_tiers(pages)["1h"].count()
        check("streaming cascade emits closed 1h windows",
              0 < got <= batch_1h)

        # ------------------------------------------------------------------
        # 5. graph layer: links -> host edges -> degrees/pagerank/components;
        #    planted triangle
        # ------------------------------------------------------------------
        from tstore_spark.operators import graph as G

        linked = spark.createDataFrame(pd.DataFrame({
            "url": [f"http://h{i}.com/p" for i in range(6)],
            "html": [
                f'<a href="http://h{(i + 1) % 6}.com/x">a</a>'
                f'<a href="http://h{(i + 2) % 6}.com/y">b</a>'
                for i in range(6)
            ],
        }))
        edges = G.host_edges(G.extract_links(linked))
        check("host graph: 6 nodes, 12 edges",
              G.host_degrees(edges).count() == 6 and edges.count() == 12)
        pr = G.pagerank(edges, iterations=3)
        check("pagerank covers every node", pr.count() == 6)
        cc = G.connected_components(edges)
        check("one connected component",
              cc.select("component_id").distinct().count() == 1)

        tri = G.triangle_counts(spark.createDataFrame(
            pd.DataFrame({"src": ["a", "b", "c", "c"], "dst": ["b", "c", "a", "d"]})
        ))
        check("planted triangle counted once per member",
              {r["node"]: r["n_triangles"] for r in tri.collect()}
              == {"a": 1, "b": 1, "c": 1})

        # ------------------------------------------------------------------
        # 6. robust stats + rank fusion
        # ------------------------------------------------------------------
        from tstore_spark.operators.ranking import ranked_by, rrf_fuse
        from tstore_spark.operators.robust import mad_scores, winsorize

        ev = spark.createDataFrame(pd.DataFrame({
            "k": ["a"] * 20 + ["b"] * 20,
            "v": list(range(20)) + [5] * 19 + [500],
        }))
        ms = {(r["k"], r["v"]): r["is_outlier"] for r in mad_scores(ev, "k", "v").collect()}
        check("MAD flags the planted spike, not the ramp",
              ms[("b", 500)] and not any(f for (k, _), f in ms.items() if k == "a"))
        wz = winsorize(ev, "k", "v")
        check("winsorize clips the spike",
              max(r["winsorized"] for r in wz.collect() if r["k"] == "b") < 500)

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(10), "x": range(10), "y": [9 - i for i in range(10)],
        }))
        ra = ranked_by(docs, "doc_id", F.desc("x"), limit=5)
        rb2 = ranked_by(docs, "doc_id", F.desc("y"), limit=5)
        fused = rrf_fuse([ra, rb2], top=3)
        check("rrf fusion returns top-3 with scores",
              fused.count() == 3 and "rrf_score" in fused.columns)

        # ------------------------------------------------------------------
        # 7. dedup: containment + exact duplicate spans
        # ------------------------------------------------------------------
        from tstore_spark.operators.dedup import containment_pairs, duplicate_spans

        quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        dd = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                quote + " tail one two three",
                "lead in " + quote + " different ending",
                "nothing shared here at all in this one document",
            ],
        }))
        cp = containment_pairs(dd, threshold=0.3)
        check("containment finds the quote relation", cp.count() >= 1)
        spans = duplicate_spans(dd, n=10).collect()
        check("duplicate span localizes the quote",
              [(r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
               for r in spans] == [(1, 2, 0, 2, 10)])

        # ------------------------------------------------------------------
        # 8. KMV sketch + bigram LM scoring
        # ------------------------------------------------------------------
        from tstore_spark.operators.kmv import kmv_estimate, kmv_sketch
        from tstore_spark.operators.lm import bigram_counts, lm_score, unigram_counts

        users = spark.createDataFrame(pd.DataFrame({
            "day": ["d1"] * 30 + ["d2"] * 30,
            "uid": [f"u{i}" for i in range(30)] + [f"u{i}" for i in range(15, 45)],
        }))
        sk = kmv_sketch(users, ["day"], "uid", k=64)
        est = sk.select("day", kmv_estimate("kmv", k=64).alias("est")).collect()
        check("KMV exact below capacity", all(r["est"] == 30 for r in est))

        uni, bi = unigram_counts(dd), bigram_counts(dd)
        scored = lm_score(dd, uni, bi, vocab_size=uni.count())
        check("LM scores every doc",
              scored.where(F.col("cross_entropy").isNotNull()).count() == 3)

        # ------------------------------------------------------------------
        # 8b. round-3 late surface: k-core, BFS, exact k-means, changepoint,
        #     WARC ingestion, robots filtering, deletion vectors
        # ------------------------------------------------------------------
        from tstore_spark.operators.changepoint import best_changepoint
        from tstore_spark.operators.graph import bfs_hops, k_core
        from tstore_spark.operators.kmeans import kmeans_exact

        ge = spark.createDataFrame(pd.DataFrame(
            [(i, i + 1) for i in range(6)]
            + [(100 + i, 100 + (i + 1) % 4) for i in range(4)]
            + [(0, 100)],
            columns=["src", "dst"],
        ))
        core = {r["node"] for r in k_core(ge, k=2, max_rounds=10).collect()}
        check("k-core peels the pendant path", core == {100, 101, 102, 103})
        hops = {r["node"]: r["hops"] for r in
                bfs_hops(ge, [0], directed=False, max_hops=10).collect()}
        check("BFS hop gradient from seed", hops[6] == 6 and hops[100] == 1)

        emb = spark.createDataFrame(pd.DataFrame({
            "vec_id": range(40),
            "embedding": [[float(i % 2) * 2, float(i % 2) * 2 + 0.01 * i] for i in range(40)],
        }))
        km = kmeans_exact(emb, k=2, iterations=3).collect()
        by_par = {r["vec_id"] % 2 for r in km}
        check("k-means assigns every vector", len(km) == 40 and by_par == {0, 1})

        cp = best_changepoint(
            spark.createDataFrame(pd.DataFrame(
                [("s", i, 10 if i < 25 else 300) for i in range(40)],
                columns=["k", "t", "v"],
            )), "k", "t", "v",
        ).collect()[0]
        check("changepoint finds the planted shift", cp["cp_index"] == 25)

        from tstore_spark.sources.warc import read_warc, warc_bytes
        from datetime import datetime as _dt

        wdir = f"{tmp}/warc"
        os.makedirs(wdir)
        recs = [{"url": f"http://w{i}.com/", "ts": _dt(2024, 3, 1, 12, i),
                 "payload": f"<html>{i}</html>".encode()} for i in range(6)]
        with open(f"{wdir}/a.warc.gz", "wb") as f:
            f.write(warc_bytes(recs, compress=True))
        warc_df = read_warc(spark, wdir)
        check("WARC gzip round trip", warc_df.count() == 6
              and warc_df.where("url = 'http://w3.com/'").head()["html"] == b"<html>3</html>")

        from tstore_spark.operators.robots import parse_robots, robots_allowed

        rb = spark.createDataFrame(pd.DataFrame({
            "host": ["w1.com"],
            "robots_txt": ["User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"],
        }))
        dec = {r["url"]: r["allowed"] for r in robots_allowed(
            spark.createDataFrame(pd.DataFrame({"url": [
                "http://w1.com/private/x", "http://w1.com/private/ok/y",
                "http://w1.com/open"]})),
            parse_robots(rb),
        ).collect()}
        check("robots precedence decisions",
              dec == {"http://w1.com/private/x": False,
                      "http://w1.com/private/ok/y": True,
                      "http://w1.com/open": True})

        from tstore_spark.operators.dedup import duplicate_spans as _dspans  # noqa: F401
        from tstore_spark.sources.deletion_vectors import (
            delete_where_dv, purge_deletes, read_with_deletes,
        )

        n_err = pages.where(F.col("lang") == "de").count()
        if n_err:
            s_dv = delete_where_dv(spark, base, F.col("lang") == "de")
            mor_n = read_with_deletes(spark, base).count()
            check("deletion vectors: MoR scan hides tombstoned rows",
                  s_dv["rows_deleted"] == n_err and mor_n == n - n_err)
            purge_deletes(spark, base)
            check("deletion vectors: purge rewrites physically",
                  open_archive(spark, base, with_attributes=False).df.count() == n - n_err)
        else:
            check("deletion vectors: fixture has no 'de' rows (skipped)", True)

        # ------------------------------------------------------------------
        # 9. streaming attribution join vs its batch twin
        # ------------------------------------------------------------------
        from tstore_spark.streaming.stream_join import attribution_join

        imps = pd.DataFrame({
            "k": [f"k{i}" for i in range(40)],
            "ts": pd.to_datetime("2024-03-01 12:00:00")
            + pd.to_timedelta(range(40), unit="m"),
        })
        convs = imps.assign(ts=imps.ts + pd.to_timedelta(3, unit="m")).iloc[::2]
        li, ri = f"{tmp}/imps", f"{tmp}/convs"
        spark.createDataFrame(imps).write.mode("overwrite").parquet(li)
        spark.createDataFrame(convs).write.mode("overwrite").parquet(ri)
        batch_n = attribution_join(
            spark.read.parquet(li), spark.read.parquet(ri), "k",
            time_col="ts", max_delay="10 minutes",
        ).count()
        ls = spark.readStream.schema("k string, ts timestamp").parquet(li)
        rs = spark.readStream.schema("k string, ts timestamp").parquet(ri)
        joined = attribution_join(ls, rs, "k", time_col="ts",
                                  max_delay="10 minutes", watermark="2 hours")
        sq = (joined.writeStream.format("parquet")
              .option("path", f"{tmp}/attr_out")
              .option("checkpointLocation", f"{tmp}/attr_ckpt")
              .outputMode("append").trigger(availableNow=True).start())
        sq.awaitTermination()
        stream_n = spark.read.parquet(f"{tmp}/attr_out").count()
        check("stream attribution == batch twin",
              stream_n == batch_n == len(convs))

        # ------------------------------------------------------------------
        # 9a2. semantic decontamination: leaked eval embedding flags
        # ------------------------------------------------------------------
        from tstore_spark.operators.similarity import semantic_decontaminate

        sd_corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        sd_eval = spark.createDataFrame(
            [(10, [2.0, 0.0])], "eval_id long, embedding array<double>"
        )
        sd = {r["vec_id"]: r for r in
              semantic_decontaminate(sd_corpus, sd_eval, threshold=0.9).collect()}
        check("semantic decontamination flags the leaked eval row",
              sd[1]["contaminated"] and not sd[2]["contaminated"]
              and sd[3]["max_eval_sim"] is None and not sd[3]["contaminated"])

        # ------------------------------------------------------------------
        # 9b. posting-list compression: index -> varint blocks -> decode
        # ------------------------------------------------------------------
        from tstore_spark.operators.postings import (
            compress_postings,
            decompress_postings,
            postings_stats,
        )
        from tstore_spark.operators.search import build_inverted_index

        pdocs = spark.createDataFrame(
            [(i, "alpha beta" if i % 2 else "alpha") for i in range(300)],
            "doc_id long, text string",
        )
        pidx = build_inverted_index(pdocs)
        pchunks = compress_postings(pidx, block_span=128).cache()
        pback = decompress_postings(pchunks, block_span=128)
        check("postings: varint block roundtrip lossless",
              {tuple(r) for r in pback.collect()}
              == {tuple(r) for r in pidx.collect()})
        pstats = {r["token"]: r for r in postings_stats(pchunks).collect()}
        check("postings: range blocks + compression ratio",
              pstats["alpha"]["n_blocks"] == 3
              and pstats["alpha"]["ratio_vs_raw16"] > 4.0)
        pchunks.unpersist()

        # 9b2. Hilbert-clustered layout: write + two-dimension pruning
        # ------------------------------------------------------------------
        from tstore_spark.sources.hilbert import hilbert_write
        from tstore_spark.sources.zonemaps import prune_paths as _pp
        from tstore_spark.sources.zonemaps import zone_maps as _zm

        hdf = spark.range(4096).select(
            F.col("id").alias("rid"),
            ((F.col("id") * 7919) % 4096).alias("hx"),
            (F.col("id") % 4096).alias("hy"),
        )
        hroot = f"{tmp}/hilbert"
        hilbert_write(hdf, hroot, ["hx", "hy"], n_files=16, bits=8)
        hzm = _zm(spark, hroot, ["hx", "hy"])
        hx_paths, htotal = _pp(hzm, {"hx": (0, 511)})
        hy_paths, _ = _pp(hzm, {"hy": (0, 511)})
        check("hilbert layout prunes on both dimensions",
              htotal == 16 and len(hx_paths) < 16 and len(hy_paths) < 16
              and spark.read.parquet(hroot).count() == 4096)

        # ------------------------------------------------------------------
        # 9a0. bucket-spec evolution: metadata-only rebucket, both eras read
        # ------------------------------------------------------------------
        from tstore_spark.sources.archive import append_archive, evolve_buckets

        ev_base2 = f"{tmp}/spec_evo"
        ids2 = [f"u{i}" for i in range(10)]
        import pandas as _pd

        def _mk(days):
            rows = [(i, _pd.Timestamp(f"{d} 06:00:00"), 1.0)
                    for d in days for i in ids2]
            return TSLong.wrap(
                spark.createDataFrame(_pd.DataFrame(rows, columns=["uid", "t", "v"])),
                id_var="uid", time_var="t", ts_vars={"m": ["v"]},
            )

        write_archive(_mk(["2024-05-01"]), ev_base2, num_buckets=2,
                      check_static_uniqueness=False)
        evolve_buckets(ev_base2, 8, "2024-06-01")
        append_archive(_mk(["2024-05-02", "2024-06-02"]), ev_base2)
        got_evo = open_archive(spark, ev_base2, ids=["u3", "u7"],
                               with_attributes=False).df
        check("bucket-spec evolution: id-filtered read exact across eras",
              got_evo.count() == 6
              and {r["uid"] for r in got_evo.select("uid").distinct().collect()}
              == {"u3", "u7"})

        # ------------------------------------------------------------------
        # 9a3. paragraph-grain dedup: boilerplate survives once
        # ------------------------------------------------------------------
        from tstore_spark.operators.corpus import dedup_paragraphs

        pd_docs = spark.createDataFrame(
            [(1, "keep me\n\nBOILER"), (2, "BOILER\n\nother"), (3, "BOILER")],
            "doc_id long, text string",
        )
        pd_out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(pd_docs).collect()}
        check("paragraph dedup keeps boilerplate only at first occurrence",
              pd_out == {1: "keep me\n\nBOILER", 2: "other", 3: ""})

        # ------------------------------------------------------------------
        # 9b3. salted join: hot-key replication == plain join
        # ------------------------------------------------------------------
        from tstore_spark.operators.skew import salted_join

        sj_fact = spark.createDataFrame(
            [(i, "hot" if i % 5 else f"cold{i}") for i in range(200)],
            "rid long, k string",
        )
        sj_dim = spark.createDataFrame(
            [("hot", 1), ("cold0", 2)], "k string, lab int"
        )
        check("salted join row-identical to plain join",
              sorted(map(tuple, salted_join(sj_fact, sj_dim, ["k"], "rid")
                         .select("rid", "lab").collect()))
              == sorted(map(tuple, sj_fact.join(sj_dim, ["k"])
                            .select("rid", "lab").collect())))

        # ------------------------------------------------------------------
        # 9c. training-pipeline ops: classifier gate, crawl schedule,
        #     epoch shuffle
        # ------------------------------------------------------------------
        from tstore_spark.operators.classify import classifier_filter
        from tstore_spark.operators.crawl import crawl_schedule, fetcher_load
        from tstore_spark.operators.sampling import write_epoch_shards

        cdocs = spark.createDataFrame(
            [(1, "good good text"), (2, "spam spam spam")],
            "doc_id long, text string",
        )
        clex = spark.createDataFrame(
            [("good", 5), ("spam", -5)], "token string, weight long"
        )
        check("classifier filter keeps only the quality doc",
              [r["doc_id"] for r in classifier_filter(cdocs, clex, 0).collect()]
              == [1])

        cfront = spark.createDataFrame(
            [(f"https://h{i % 2}.ex/{i}", f"h{i % 2}.ex", i % 3)
             for i in range(10)],
            "url string, host string, prio int",
        )
        csched = crawl_schedule(cfront, priority_col="prio", delay_ms=100)
        cload = fetcher_load(csched).collect()
        check("crawl schedule: polite slots + fetcher ownership",
              csched.where(F.col("slot") == 0).count() == 2
              and sum(r["n_urls"] for r in cload) == 10
              and max(r["makespan_ms"] for r in cload) == 400)

        from tstore_spark.operators.crawl import plan_crawl_round
        from tstore_spark.operators.robots import parse_robots as _pr

        cr_pages = spark.createDataFrame(
            [("https://s.ex/p",
              '<a href="https://t.ex/ok">a</a><a href="https://t.ex/no/x">b</a>'
              '<a href="https://t.ex/old">c</a>')],
            "url string, html string",
        )
        cr_sched = plan_crawl_round(
            cr_pages,
            seen_urls=spark.createDataFrame([("https://t.ex/old",)], "url string"),
            robots_rules=_pr(spark.createDataFrame(
                [("t.ex", "User-agent: *\nDisallow: /no/")],
                "host string, robots_txt string")),
        )
        check("crawl round: links -> unseen -> robots -> schedule",
              [r["url"] for r in cr_sched.collect()] == ["https://t.ex/ok"])

        # sitemap discovery -> frontier; recrawl intervals from history
        from tstore_spark.operators.crawl import recrawl_intervals
        from tstore_spark.operators.sitemaps import (
            frontier_candidates,
            parse_sitemaps,
        )

        sm_df = spark.createDataFrame(
            [("https://t.ex/sitemap.xml",
              "<urlset><url><loc>https://t.ex/ok</loc>"
              "<lastmod>2024-05-01</lastmod></url>"
              "<url><loc><![CDATA[https://t.ex/q?a=1&b=2]]></loc></url>"
              "<url><loc>https://evil.ex/x</loc></url></urlset>")],
            "sitemap_url string, body string",
        )
        sm_front = frontier_candidates(
            parse_sitemaps(sm_df),
            crawl_ledger=spark.createDataFrame([("https://t.ex/ok",)], "url string"),
        )
        check("sitemap: parse + same-host + ledger anti-join",
              [r["loc"] for r in sm_front.collect()] == ["https://t.ex/q?a=1&b=2"])

        rc_obs = spark.createDataFrame(
            [("https://t.ex/hot", r, f"v{r}") for r in range(6)]
            + [("https://t.ex/cold", r, "same") for r in range(6)],
            "url string, crawl_round long, content_sig string",
        )
        rc = {r["url"]: r for r in recrawl_intervals(rc_obs, max_interval=4).collect()}
        check("recrawl intervals: hot revisits every round, cold backs off",
              rc["https://t.ex/hot"]["revisit_every"] == 1
              and rc["https://t.ex/cold"]["revisit_every"] == 4)

        # CDX index: gz file -> typed captures -> latest per urlkey
        import gzip as _gzip

        from tstore_spark.sources.cdx import latest_captures, open_cdx

        cdx_path = f"{tmp}/index.cdx.gz"
        with _gzip.open(cdx_path, "wt") as fh:
            fh.write(
                'com,t)/p 20240301120000 {"url": "https://t.ex/p", "digest": "A",'
                ' "status": "200", "length": "10", "offset": "0",'
                ' "filename": "c0.warc.gz", "mime": "text/html"}\n'
                'com,t)/p 20240401120000 {"url": "https://t.ex/p", "digest": "B",'
                ' "status": "-", "length": "11", "offset": "9",'
                ' "filename": "c1.warc.gz", "mime": "warc/revisit"}\n'
            )
        cdx_last = latest_captures(open_cdx(spark, cdx_path)).collect()
        check("cdx: gz parse + latest capture survives with typed fields",
              len(cdx_last) == 1 and cdx_last[0]["digest"] == "B"
              and cdx_last[0]["status"] is None
              and cdx_last[0]["length"] == 11)

        # sampling: fixed-budget priority sample + fractional upsampling
        from tstore_spark.operators.sampling import (
            priority_sample,
            upsample_mixture,
        )

        sdocs = spark.range(0, 40).select(
            F.col("id").alias("doc_id"), (F.col("id") + 1).cast("double").alias("wq")
        )
        psamp = priority_sample(sdocs, "doc_id", "wq", k=3)
        check("priority sample: budget k with HT weights >= true weights",
              psamp.count() == 3
              and psamp.where(F.col("est_w") < F.col("weight")).count() == 0)
        upc = upsample_mixture(cdocs, "doc_id", 2.0).count()
        check("upsample: integer factor doubles the corpus",
              upc == cdocs.count() * 2)

        epath = f"{tmp}/epoch_shards"
        write_epoch_shards(cdocs.union(cdocs.selectExpr("doc_id+10", "text")),
                           epath, "doc_id", n_shards=2, epoch=0)
        eback = spark.read.parquet(epath)
        check("epoch shuffle shards cover every row",
              eback.count() == 4
              and eback.select("doc_id").distinct().count() == 4)

        # ------------------------------------------------------------------
        # 10. fifth-session ops: BPE, blocklists, normalization, JSON
        #     flattening, streaming CDC apply
        # ------------------------------------------------------------------
        from tstore_spark.operators.bpe import bpe_encode, bpe_train

        corpus = spark.createDataFrame(
            [(1, "low low lower lowest"), (2, "new newer newest")],
            "doc_id long, text string",
        )
        mt = bpe_train(corpus, merges=3).collect()
        check("bpe: 3 merges learned with positive counts",
              len(mt) == 3 and all(r["pair_count"] > 0 for r in mt))
        texts = {1: "low low lower lowest", 2: "new newer newest"}
        enc = bpe_encode(corpus, [(r["lhs"], r["rhs"]) for r in mt]).collect()
        check("bpe: encode compresses below the letter count",
              all(0 < r["bpe_token_count"] < sum(c.isalnum() for c in texts[r["doc_id"]])
                  for r in enc))

        from tstore_spark.operators.blocklist import (
            blocklist_filter,
            domain_blocklist_filter,
        )

        bl = blocklist_filter(corpus, ["lowest"])
        check("blocklist: substring hit drops the doc",
              sorted(r["doc_id"] for r in bl.collect()) == [2])
        urls = spark.createDataFrame(
            [(1, "https://a.bad.example/x"), (2, "https://good.org/y")],
            "doc_id long, url string",
        )
        check("blocklist: subdomain blocked via suffix equi-join",
              [r["doc_id"] for r in domain_blocklist_filter(urls, ["bad.example"]).collect()] == [2])

        from tstore_spark.operators.corpus import normalize_text

        dec = spark.createDataFrame([(1, "café")], "doc_id long, text string")
        check("normalize_text: NFC composes",
              normalize_text(dec).collect()[0]["norm_text"] == "café")

        from tstore_spark.operators.jsonflat import flatten_json

        meta = spark.createDataFrame(
            [(1, '{"a": {"b": 7}, "c": "x"}'), (2, '{"c": "y"}')],
            "doc_id long, meta string",
        )
        flat = {r["doc_id"]: r.asDict() for r in flatten_json(meta, "meta").collect()}
        check("jsonflat: discovery + extraction",
              flat[1]["a.b"] == "7" and flat[2]["a.b"] is None and flat[2]["c"] == "y")

        from tstore_spark.sources.archive import open_archive as _oa
        from tstore_spark.streaming.stream_merge import apply_stream_upserts

        ev_base = f"{tmp}/smerge_archive"
        ev = spark.createDataFrame(
            pd.DataFrame({
                "event_id": list(range(20)),
                "ts": pd.to_datetime("2024-03-01 12:00:00")
                + pd.to_timedelta(range(20), unit="m"),
                "value": [float(i) for i in range(20)],
            })
        )
        write_archive(
            TSLong.wrap(ev, id_var="event_id", time_var="ts",
                        ts_vars={"metrics": ["value"]}),
            ev_base, num_buckets=2, check_static_uniqueness=False,
        )
        chg = f"{tmp}/smerge_changes"
        for i in range(2):
            ev.limit(5).select(
                "event_id", "ts", (F.col("value") + 100.0 * (i + 1)).alias("value")
            ).withColumn("seq", F.lit(i)).coalesce(1).write.parquet(f"{chg}/f{i}")
        schema = spark.read.parquet(f"{chg}/f0").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(chg + "/f*"))
        q = apply_stream_upserts(stream, ev_base, order_col="seq")
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("stream CDC apply did not finish in 120s")
        final = _oa(spark, ev_base, with_attributes=False).df
        updated = final.where(F.col("value") >= 200.0).count()
        check("stream CDC apply: last micro-batch wins",
              final.count() == 20 and updated == 5)

        # -- eighth session: prometheus histograms, interval algebra, DSIR --
        from tstore_spark.operators.promhist import (
            histogram_quantile, le_bucket_counts, merge_bucket_counts,
        )

        lat = spark.createDataFrame(
            pd.DataFrame({
                "svc": ["api"] * 80 + ["db"] * 20,
                "shard": [i % 4 for i in range(100)],
                "ms": [float(1 + (i * 7) % 90) for i in range(100)],
            })
        )
        bounds = [5.0, 10.0, 25.0, 50.0, 75.0]
        per_shard = le_bucket_counts(lat, ["svc", "shard"], "ms", bounds)
        rolled = merge_bucket_counts(per_shard, ["svc"], len(bounds))
        qv = {r["svc"]: r["q_0_5"]
              for r in histogram_quantile(rolled, [0.5], bounds, ["svc"]).collect()}
        direct = {r["svc"]: r["q_0_5"]
                  for r in histogram_quantile(
                      le_bucket_counts(lat, ["svc"], "ms", bounds),
                      [0.5], bounds, ["svc"]).collect()}
        check("promhist: shard-merged quantile == direct quantile",
              qv == direct and all(0 < v <= 75.0 for v in qv.values()))

        from tstore_spark.operators.coverage import (
            interval_difference, interval_union,
        )

        sched = spark.createDataFrame(pd.DataFrame({
            "k": ["w"] * 2,
            "s": pd.to_datetime(["2024-03-01 00:00", "2024-03-01 02:00"]),
            "e": pd.to_datetime(["2024-03-01 01:00", "2024-03-01 03:00"]),
        }))
        seen = spark.createDataFrame(pd.DataFrame({
            "k": ["w"],
            "s": pd.to_datetime(["2024-03-01 00:30"]),
            "e": pd.to_datetime(["2024-03-01 02:30"]),
        }))
        uni = interval_union(sched, "k", "s", "e").collect()
        down = interval_difference(sched, seen, "k", "s", "e").collect()
        check("interval algebra: 2 scheduled islands, 2 uncovered half-hours",
              len(uni) == 2
              and sorted(r["duration_micros"] for r in down) == [1800000000] * 2)

        from tstore_spark.operators.dsir import dsir_log_weights, dsir_resample

        pool = pages.select(
            F.col("url").alias("doc_id"), F.col("text")
        ).limit(300)
        tgt = pool.where(F.length("text") > 0).limit(30)
        w = dsir_log_weights(pool, tgt, num_buckets=256)
        sel = dsir_resample(w, 20, id_col="doc_id")
        check("dsir: hashed-bucket weights finite, resample draws exactly k",
              sel.count() == 20
              and w.where(F.col("log_weight").isNull()).count() == 0)

        from tstore_spark.operators.classify import (
            calibration_report, expected_calibration_error,
        )

        probs = spark.createDataFrame(
            pd.DataFrame({
                "id": range(500),
                "prob": [((i * 37) % 1000) / 1000.0 for i in range(500)],
                "label": [1 if (i * 17) % 1000 < (i * 37) % 1000 else 0
                          for i in range(500)],
            })
        )
        rep = calibration_report(probs, "prob", "label")
        ece = expected_calibration_error(rep)
        check("calibration: 10 buckets, ECE finite and bounded",
              rep.count() == 10 and 0.0 <= ece <= 1.0)

        from tstore_spark.functions.urls import domain_of
        from tstore_spark.operators.sampling import priority_sample_per_group

        pg = priority_sample_per_group(
            pages.select(domain_of("url").alias("dom"), "url",
                         F.length("text").alias("w")),
            "dom", "url", "w", k=5)
        per = {r["dom"]: r["cnt"] for r in
               pg.groupBy("dom").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        check("per-group priority sample: budget respected in every group",
              per and all(v <= 5 for v in per.values()))

        from tstore_spark.operators.graph import hyperball, neighborhood_exact

        hb_edges = spark.createDataFrame(
            [(f"h{i}", f"h{(i + 1) % 12}") for i in range(12)]
            + [("hub", f"h{i}") for i in range(0, 12, 3)],
            "src string, dst string")
        nx = {r["id"]: r["ball_3"]
              for r in neighborhood_exact(hb_edges, 3).collect()}
        hbal = {r["id"]: r["ball_3"] for r in hyperball(hb_edges, 3, p=12).collect()}
        check("hyperball: estimates track exact 3-balls on the ring+hub",
              set(nx) == set(hbal)
              and all(abs(hbal[v] - nx[v]) <= 0.25 * nx[v] + 0.5 for v in nx))

        from tstore_spark.operators.behavior import attribute_conversions

        t0 = pd.Timestamp("2024-05-01")
        touches = spark.createDataFrame(pd.DataFrame({
            "user_id": [1, 1, 2], "event_id": [10, 11, 20],
            "ts": [t0, t0 + pd.Timedelta(hours=1), t0],
        }).astype({"ts": "datetime64[us]"}))
        convs = spark.createDataFrame(pd.DataFrame({
            "user_id": [1, 2], "event_id": [100, 200],
            "ts": [t0 + pd.Timedelta(hours=2), t0 + pd.Timedelta(minutes=5)],
            "cents": [301, 500],
        }).astype({"ts": "datetime64[us]"}))
        att = attribute_conversions(touches, convs, "linear",
                                    value_cents_col="cents")
        per_conv = {r["conv_id"]: r["total"] for r in att.groupBy("conv_id")
                    .agg(F.sum("credit_cents").alias("total")).collect()}
        check("attribution: credits sum exactly to conversion cents",
              per_conv == {100: 301, 200: 500})

        from tstore_spark.operators.graph import clustering_coefficient

        cc = {r["node"]: r["clustering"] for r in clustering_coefficient(
            spark.createDataFrame(
                [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
                "src string, dst string")).collect()}
        check("clustering coefficient: triangle node 1/3, pendant 0",
              abs(cc["a"] - 1 / 3) < 1e-12 and cc["d"] == 0.0)

        from tstore_spark.operators.behavior import conversion_paths

        typed_touches = touches.withColumn(
            "event_type",
            F.when(F.col("event_id") % 2 == 0, "view").otherwise("click"),
        )
        paths = {r["path"]: r["n_conversions"] for r in conversion_paths(
            typed_touches, convs, steps=2).collect()}
        check("conversion paths: every conversion in a bucket",
              sum(paths.values()) == 2)

        from tstore_spark.operators.downsample import (
            sdt_bound_check, swinging_door,
        )

        ramp = spark.createDataFrame(pd.DataFrame({
            "key": ["r"] * 60,
            "ts": pd.date_range("2024-04-01", periods=60, freq="min"),
            "cents": [100 + 7 * i + (40 if i == 30 else 0) for i in range(60)],
        }).astype({"ts": "datetime64[us]"}))
        kept = swinging_door(ramp, "key", "ts", "cents", epsilon_cents=10)
        chk = sdt_bound_check(ramp, kept, 10).collect()[0]
        check("swinging door: bound holds, ramp compresses hard",
              chk["within_bound"] and chk["n_kept"] <= 6)

        from tstore_spark.operators.similarity import (
            sq8_bounds, sq8_quantize, sq8_topk,
        )

        evecs = spark.createDataFrame(
            [(i, [float((i * 13 + d * 7) % 29) - 14.0 for d in range(8)])
             for i in range(50)],
            "vec_id long, embedding array<double>")
        sqc = sq8_quantize(evecs, sq8_bounds(evecs))
        topk = sq8_topk(sqc, sqc.where(F.col("vec_id") < 2), k=5)
        check("sq8: codes bounded, candidate top-5 per probe",
              sqc.count() == 50 and topk.groupBy("query_id").count()
              .agg(F.min("count")).first()[0] == 5)

        from tstore_spark.operators.coverage import out_of_order_profile

        disorder = spark.createDataFrame(pd.DataFrame({
            "k": ["s"] * 5, "seq": range(5),
            "ts": pd.to_datetime(["2024-06-01 00:00", "2024-06-01 00:10",
                                  "2024-06-01 00:05", "2024-06-01 00:20",
                                  "2024-06-01 00:19"]),
        }).astype({"ts": "datetime64[us]"}))
        oo = out_of_order_profile(disorder, "k", "seq", "ts").collect()[0]
        check("disorder profile: watermark = worst regression",
              oo["n_late"] == 2 and oo["max_lateness_us"] == 5 * 60 * 1_000_000)

        from tstore_spark.operators.dedup import fellegi_sunter

        fs_recs = spark.createDataFrame(
            [(1, "en", "a"), (2, "en", "a"), (3, "fr", "b")],
            "doc_id long, lang string, source string")
        fs = fellegi_sunter(
            spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long"),
            fs_recs, {"lang": (1000, -500), "source": (500, -250)},
            upper_milli=1200, lower_milli=-600)
        dec = {(r["id_a"], r["id_b"]): r["decision"] for r in fs.collect()}
        check("record linkage: agree pair matches, disagree pair rejected",
              dec == {(1, 2): "match", (1, 3): "non_match"})

        from tstore_spark.streaming.monitor import (
            assert_watermark_monotone, observe_event_time, progress_report,
        )

        msrc = f"{tmp}/monitor_src"
        mdf = spark.createDataFrame(pd.DataFrame({
            "ts": pd.date_range("2024-07-01", periods=120, freq="min"),
            "v": [float(i) for i in range(120)],
        }).astype({"ts": "datetime64[us]"}))
        mdf.repartition(3).write.parquet(msrc)
        mstream = (spark.readStream.schema(mdf.schema)
                   .option("maxFilesPerTrigger", 1).parquet(msrc))
        mstream = mstream.withColumn(
            "ts_z", F.timestamp_seconds(
                F.col("ts").cast("string").cast("timestamp").cast("long")))
        magg = (observe_event_time(mstream, "ts")
                .withWatermark("ts_z", "5 minutes")
                .groupBy(F.window("ts_z", "30 minutes"))
                .agg(F.count(F.lit(1)).alias("n")))
        mq = (magg.writeStream.format("parquet")
              .option("path", f"{tmp}/monitor_out")
              .option("checkpointLocation", f"{tmp}/monitor_ckpt")
              .outputMode("append").trigger(availableNow=True).start())
        if not mq.awaitTermination(120):
            mq.stop()
            raise RuntimeError("stream monitor query did not finish in 120s")
        mrep = progress_report(mq)
        assert_watermark_monotone(mrep)
        check("stream monitor: observed rows == input, watermark monotone",
              sum(r.get("obs_rows") or 0 for r in mrep) == 120)

        # ---- round 4: streaming gap-fill over a closing tier stream
        from tstore_spark.operators.gapfill import gap_fill
        from tstore_spark.streaming.stream_gapfill import (
            read_filled, stream_gap_fill,
        )

        gsrc = f"{tmp}/gf_src"
        grows = []
        # hours 0,1,4 close under the final watermark (max ts = 07:02);
        # hour 7 itself never closes, so the emitted gaps are exactly 2,3
        # (bracketed by closed 1 and 4) — 5,6 wait for hour 7's close
        for h in [0, 1, 4, 7]:
            for j in range(3):
                grows.append({"key": "k", "ts": pd.Timestamp("2024-07-02")
                              + pd.Timedelta(hours=h, minutes=j),
                              "v": float(100 * h + j)})
        gdf = spark.createDataFrame(pd.DataFrame(grows).astype({"ts": "datetime64[us]"}))
        gi = gdf.select(
            "key",
            F.timestamp_seconds(
                F.col("ts").cast("string").cast("timestamp").cast("long")
            ).alias("ts"), "v")
        gi.coalesce(1).write.parquet(gsrc)
        gtier = (spark.readStream.schema(gi.schema).parquet(gsrc)
                 .withWatermark("ts", "0 seconds")
                 .groupBy(F.window("ts", "1 hour"), "key")
                 .agg(F.count(F.lit(1)).alias("doc_count"),
                      F.sum("v").cast("double").alias("metric"))
                 .select("key", F.col("window.start").alias("window_start"),
                         "doc_count", "metric"))
        gq = stream_gap_fill(gtier, f"{tmp}/gf_out", f"{tmp}/gf_ckpt",
                             f"{tmp}/gf_state", tier="1h", key="key",
                             zero_fill=["doc_count"], interp_cols=["metric"])
        if not gq.awaitTermination(120):
            gq.stop()
            raise RuntimeError("stream gap-fill did not finish in 120s")
        gf = read_filled(spark, f"{tmp}/gf_out")
        n_gap = gf.where("gap_filled").count()
        interp_ok = gf.where("gap_filled").where(
            F.col("metric").isNotNull() & (F.col("doc_count") == 0)).count() == n_gap
        check("stream gap-fill: interior gaps synthesized + interpolated",
              n_gap == 2 and interp_ok and gf.count() == 5)

        # ---- round 4: JPEG decode is real (strict media path)
        from tstore_spark.functions.media_codecs import (
            decode_jpeg, encode_jpeg, image_features,
        )
        from tstore_spark.operators.multimodal import decode_and_featurize

        jarr = np.zeros((16, 24, 3), np.uint8)
        jarr[..., 0] = np.arange(24)[None, :] * 10 % 256
        jarr[..., 1] = np.arange(16)[:, None] * 14 % 256
        jdf = spark.createDataFrame(pd.DataFrame({
            "media_id": [1], "blob": [bytearray(encode_jpeg(jarr))]}))
        jout = decode_and_featurize(jdf, "media_id", "blob", feature_dim=8,
                                    strict=True).collect()[0]
        jwant = image_features(decode_jpeg(encode_jpeg(jarr)), 8)
        check("strict media decode: baseline JPEG pixels are real",
              all(abs(jout[f"f{i}"] - jwant[i]) < 1e-9 for i in range(8)))

        # ---- round 4: Iceberg seam resolves to emulated here, loud if stamped
        from tstore_spark.sources import iceberg_archive as IA

        check("iceberg seam: sandbox resolves emulated (no jar, no catalog)",
              not IA.iceberg_enabled(spark))

        print(f"\nALL {n_checks} CHECKS PASS")
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
