"""Seeded benchmark inputs and their on-disk cache.

Every input is a pure function of the seed and its size. A built input is
kept under ``perfbench/.work/inputs/<kind>-s<seed>-n<size>-<hash>``, where the
hash covers this module (all the generators) and the library sources (the
query workload builds its archive with the library), so repeat runs with a
seed skip generation and ``setup_s`` counts only what a user pays on every
run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
#: built inputs kept per kind; the oldest beyond this are deleted
KEEP_PER_KIND = 12

# corpus planting scheme (the dedup_stress blocks): in every block of 100 docs
# the doc with id % 100 == 1 is a near-dup of id-1 (same text plus one token)
# and the doc with id % 100 == 2 an exact dup of id-2
NEAR_DUP_SUFFIX = " extratoken"
CORPUS_VOCAB = 10_000
CORPUS_TOKENS = 60


def source_hash() -> str:
    h = hashlib.sha1()
    for p in [Path(__file__).resolve(), *sorted((ROOT / "tstore_spark").rglob("*.py"))]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:10]


def cached(kind: str, seed: int, size: int, build) -> tuple[Path, float]:
    """Path of the built input, building it with ``build(tmp_dir)`` on a miss.
    Returns (path, seconds spent building; 0.0 on a hit)."""
    root = WORK / "inputs"
    path = root / f"{kind}-s{seed}-n{size}-{source_hash()}"
    if (path / "_DONE").exists():
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").touch()
    tmp.rename(path)
    siblings = sorted(
        (p for p in root.glob(f"{kind}-*") if (p / "_DONE").exists()),
        key=lambda p: (p / "_DONE").stat().st_mtime,
    )
    for old in siblings[:-KEEP_PER_KIND]:
        shutil.rmtree(old, ignore_errors=True)
    return path, time.perf_counter() - t0


def dir_bytes(path: Path | str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- pages -------------------------------------------------------------------

def write_pages(path: Path, rows: int, seed: int) -> None:
    """The ``datagen`` pages (the rows ``pages_spark`` would generate) as
    Parquet, in 4 files; timestamps are stored as UTC instants, so Spark
    reads them as TIMESTAMP like its own writes."""
    from tstore_spark.datagen import pages_pandas

    pdf = pages_pandas(rows=rows, seed=seed)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        pdf.iloc[part].to_parquet(path / f"part-{i}.parquet", index=False)


# -- archive (both workloads) ---------------------------------------------

DAYS = [f"2024-01-0{d}" for d in range(1, 8)]
RETAIN_FROM = "2024-01-04"


def stats_columns():
    """The archive's ingest-time stat columns (the rollup reads these)."""
    from pyspark.sql import functions as F

    return {"html_bytes": F.octet_length("html"), "text_len": F.length("text")}


# -- query workload ------------------------------------------------------------

QUERY_TYPES = ("archive_range", "tsdf", "tswide", "gap_fill", "decompress", "m4", "lttb",
               "range_aggregate")
#: share of all pages a domain holds, for the domains queries draw from
MID_DOMAIN = (0.01, 0.05)
M4_BUCKETS = 48
LTTB_POINTS = 60
T_LO, T_HI = "2024-01-01 00:00:00", "2024-01-07 23:59:00"


def _minute_series(con, domain: str, day: str | None = None) -> list[tuple]:
    where = f"split_part(url, '/', 3) = '{domain}'"
    if day:
        where += f" AND CAST(warc_ts AS DATE) = DATE '{day}'"
    return con.execute(
        f"SELECT epoch_us(date_trunc('minute', warc_ts)) AS e, count(*) AS n "
        f"FROM pages WHERE {where} GROUP BY 1 ORDER BY 1"
    ).fetchall()


def build_query_archive(spark, seed: int, rows: int, n_events: int, tmp: Path) -> None:
    """Archive, rollup tiers, Gorilla chunks and metric tiers, built with the
    library from the raw pages and events, which are kept beside them."""
    from tstore_spark import TSLong
    from tstore_spark.operators.gorilla import compress_tier
    from tstore_spark.operators.metric_rollup import metric_rollup_all_tiers
    from tstore_spark.plans.pipeline import read_tier, run_rollup_pipeline
    from tstore_spark.sources.archive import open_archive, write_archive

    pages_dir = str(tmp / "pages")
    write_pages(tmp / "pages", rows, seed)
    pages = spark.read.parquet(pages_dir)
    tl = TSLong.wrap(pages, id_var="url", time_var="warc_ts",
                     ts_vars={"content": ["html", "text", "lang"]})
    write_archive(tl, str(tmp / "archive"), stats_columns=stats_columns())
    run_rollup_pipeline(spark, open_archive(spark, str(tmp / "archive"), with_attributes=False).df,
                        str(tmp / "tiers"))
    compress_tier(read_tier(spark, str(tmp / "tiers"), "1m")).write.parquet(str(tmp / "chunks"))
    events(n_events, seed).to_parquet(tmp / "events.parquet", index=False)
    ev = spark.read.parquet(str(tmp / "events.parquet"))
    for tier, df in metric_rollup_all_tiers(ev, id_sketch=True).items():
        df.write.parquet(str(tmp / "metric" / tier))


def query_pool(pages_dir: str, events_path: str, seed: int, pool: int) -> list[dict]:
    """Seeded query instances with their expected answers, computed by DuckDB
    from the raw Parquet."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # wall-clock UTC timestamps, whichever way the Parquet stores them
    con.execute("CREATE VIEW pages AS SELECT url, text, CAST(warc_ts AS TIMESTAMP) AS warc_ts "
                f"FROM read_parquet('{pages_dir}/*.parquet')")
    rng = np.random.default_rng(seed + 7)
    # mid-sized domains only (a few % of the pages each): a query's cost then
    # hardly depends on which domain the seed draws, so seeds vary the
    # parameters without moving the latency
    domains = [r[0] for r in con.execute(
        "SELECT split_part(url, '/', 3) d FROM pages GROUP BY 1 "
        f"HAVING count(*) BETWEEN {MID_DOMAIN[0]} * (SELECT count(*) FROM pages) "
        f"AND {MID_DOMAIN[1]} * (SELECT count(*) FROM pages) ORDER BY 1").fetchall()]
    queries = []
    for i in range(pool):
        kind = QUERY_TYPES[i % len(QUERY_TYPES)]
        day = DAYS[int(rng.integers(0, len(DAYS)))]
        dom = domains[int(rng.integers(0, len(domains)))]
        q = {"kind": kind}
        if kind in ("archive_range", "tsdf", "tswide"):
            n_ids = 20 if kind == "archive_range" else 5
            # archive_range: ids crawled on the day; tsdf/tswide: ids crawled
            # several times, so each id contributes a series
            cond = (f"WHERE CAST(warc_ts AS DATE) = DATE '{day}' GROUP BY url"
                    if kind == "archive_range" else "GROUP BY url HAVING count(*) > 2")
            cand = [r[0] for r in con.execute(
                f"SELECT url FROM pages {cond} ORDER BY url").fetchall()]
            ids = sorted(rng.choice(cand, size=min(n_ids, len(cand)), replace=False).tolist())
            id_list = ",".join(f"'{u}'" for u in ids)
            q.update(ids=ids, day=day)
            if kind == "archive_range":
                n, s = con.execute(
                    f"SELECT count(*), sum(length(text)) FROM pages WHERE url IN ({id_list}) "
                    f"AND CAST(warc_ts AS DATE) = DATE '{day}'").fetchone()
                q["expect"] = [int(n), int(s or 0)]
            else:
                n, n_ids_seen, n_times = con.execute(
                    f"SELECT count(*), count(DISTINCT url), count(DISTINCT warc_ts) "
                    f"FROM pages WHERE url IN ({id_list})").fetchone()
                q["expect"] = [int(n_ids_seen), int(n)] if kind == "tsdf" else [int(n_times), int(n)]
        elif kind == "gap_fill":
            subset = sorted(rng.choice(domains, size=5, replace=False).tolist())
            dl = ",".join(f"'{d}'" for d in subset)
            grid, real, docs = con.execute(
                "SELECT sum((epoch(hi) - epoch(lo)) // 3600 + 1), sum(nh), sum(n) FROM ("
                "SELECT min(h) lo, max(h) hi, count(DISTINCT h) nh, count(*) n FROM ("
                f"SELECT split_part(url, '/', 3) d, date_trunc('hour', warc_ts) h FROM pages"
                f") WHERE d IN ({dl}) GROUP BY d)").fetchone()
            q.update(domains=subset, expect=[int(grid), int(grid) - int(real), int(docs)])
        elif kind == "decompress":
            q.update(domain=dom, day=day,
                     expect=[list(r) for r in _minute_series(con, dom, day)])
        elif kind == "m4":
            lo = int(con.execute(f"SELECT epoch_us(TIMESTAMP '{T_LO}')").fetchone()[0])
            hi = int(con.execute(f"SELECT epoch_us(TIMESTAMP '{T_HI}')").fetchone()[0])
            span = hi - lo + 1
            rows_ = con.execute(
                f"SELECT ((e - {lo}) * {M4_BUCKETS}) // {span} b, count(*), min(n), max(n) FROM ("
                f"SELECT epoch_us(date_trunc('minute', warc_ts)) e, count(*) n FROM pages "
                f"WHERE split_part(url, '/', 3) = '{dom}' GROUP BY 1) GROUP BY 1 ORDER BY 1"
            ).fetchall()
            q.update(domain=dom, expect=[[int(b), int(c), float(a), float(z)] for b, c, a, z in rows_])
        elif kind == "lttb":
            series = _minute_series(con, dom)
            # LTTB keeps both endpoints and min(target, n) points
            q.update(domain=dom, expect=[min(LTTB_POINTS, len(series)), series[0], series[-1]])
        else:  # range_aggregate over two days from a random minute: 1m, 1h and 1d tiles
            start = int(rng.integers(0, 4 * 1440)) * 60
            end = start + 2 * 86_400
            t0 = (EVENT_BASE + np.timedelta64(start, "s")).strftime("%Y-%m-%d %H:%M:%S")
            t1 = (EVENT_BASE + np.timedelta64(end, "s")).strftime("%Y-%m-%d %H:%M:%S")
            rows_ = con.execute(
                "SELECT event_type, count(*), CAST(sum(round(value * 100)) AS BIGINT) "
                f"FROM read_parquet('{events_path}') WHERE ts >= TIMESTAMP '{t0}' "
                f"AND ts < TIMESTAMP '{t1}' GROUP BY 1 ORDER BY 1").fetchall()
            q.update(start=t0, end=t1, expect=[[a, int(b), int(c)] for a, b, c in rows_])
        queries.append(q)
    con.close()
    return queries



# -- corpus ------------------------------------------------------------------

def corpus_docs(n_docs: int, seed: int) -> pd.DataFrame:
    """``(doc_id, text)`` with planted duplicates. One token in three is an
    English stopword, so the default ``lang="en"`` gate admits every doc;
    the rest are drawn from a 10k-word vocabulary, so unrelated docs share
    almost no shingles."""
    from tstore_spark.functions.text import EN_STOPWORDS

    rng = np.random.default_rng(seed)
    words = rng.integers(0, CORPUS_VOCAB, size=(n_docs, CORPUS_TOKENS))
    stops = rng.integers(0, len(EN_STOPWORDS), size=(n_docs, CORPUS_TOKENS))
    ids = np.arange(n_docs, dtype=np.int64)
    # duplicates regenerate their block head's tokens
    src = np.where(ids % 100 == 1, ids - 1, np.where(ids % 100 == 2, ids - 2, ids))
    words, stops = words[src], stops[src]
    stop_slot = np.arange(CORPUS_TOKENS) % 3 == 0
    texts = []
    for i in range(n_docs):
        toks = [
            EN_STOPWORDS[s] if is_stop else f"w{w}"
            for w, s, is_stop in zip(words[i], stops[i], stop_slot)
        ]
        text = " ".join(toks)
        texts.append(text + NEAR_DUP_SUFFIX if i % 100 == 1 else text)
    return pd.DataFrame({"doc_id": ids, "text": texts})


def corpus_truth(n_docs: int) -> dict:
    """Planted counts: exact dups removed by the admission dedup, near dups by
    the MinHash prune."""
    exact = sum(1 for i in range(n_docs) if i % 100 == 2)
    near = sum(1 for i in range(n_docs) if i % 100 == 1)
    return {"admitted": n_docs - exact, "near_pairs": near, "docs_out": n_docs - exact - near}


# -- events (the metric-rollup input of the query workload) -----------------

EVENT_TYPES = ["view", "click", "cart", "buy", "share", "search", "login", "logout"]
EVENT_DAYS = 7
EVENT_BASE = pd.Timestamp("2024-01-01")


def events(n_events: int, seed: int) -> pd.DataFrame:
    """``(event_type, ts, value, user_id)`` over the archive's 7 days; values
    carry whole cents so every sum is an exact integer."""
    rng = np.random.default_rng(seed + 1_000_003)
    secs = rng.integers(0, EVENT_DAYS * 86_400, size=n_events)
    return pd.DataFrame(
        {
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
            "ts": (EVENT_BASE + pd.to_timedelta(secs, unit="s")).astype("datetime64[us]"),
            "value": rng.integers(1, 100_000, size=n_events) / 100.0,
            "user_id": np.char.mod("u%05d", rng.integers(0, 5_000, n_events)),
        }
    )


# -- host graph --------------------------------------------------------------

TAIL = 1  # pendant-tail length hung off every community's anchor


def host_graph(n_edges: int, community: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, int]:
    """``(edges, with_tails, n_hosts)``: the ``graph_stress.synth_host_graph``
    community graph, drawn with numpy so that building it runs nothing in the
    JVM the benchmark then measures. Every community of ``community`` hosts
    is a ring plus seeded chords inside it; ``with_tails`` adds a 1-node
    pendant tail to each community's anchor (its first host). Truth: every
    component has ``community`` hosts, the 2-core peels exactly the tails,
    and BFS from ``h0`` reaches community 0's hosts and its tail."""
    n_hosts = max(community, (n_edges // 2) - ((n_edges // 2) % community))
    hosts = np.arange(n_hosts)
    rng = np.random.default_rng(seed + 2_000_003)
    src = rng.integers(0, n_hosts, max(0, n_edges - n_hosts))
    dst = src - src % community + rng.integers(0, community, len(src))
    keep = src != dst
    src = np.concatenate([hosts, src[keep]])
    dst = np.concatenate([hosts - hosts % community + (hosts + 1) % community, dst[keep]])
    edges = pd.DataFrame({"src": np.char.add("h", src.astype(str)),
                          "dst": np.char.add("h", dst.astype(str))}).drop_duplicates()
    anchors = np.arange(0, n_hosts, community)
    comm = np.char.add("t", (anchors // community).astype(str))
    chain = [np.char.add("h", anchors.astype(str))] + [np.char.add(comm, f"_{i}") for i in range(TAIL)]
    tails = pd.DataFrame({"src": np.concatenate(chain[:-1]), "dst": np.concatenate(chain[1:])})
    return edges, pd.concat([edges, tails], ignore_index=True), n_hosts
