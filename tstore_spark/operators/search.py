"""Full-text search — inverted index, conjunctive queries, BM25 ranking.

The reference stores and filters time-series variables; a webtext archive
also needs to FIND documents. Classic IR over a 100 TB corpus decomposes
into exactly the shapes Spark does well:

* ``build_inverted_index`` — the index IS a DataFrame ``(token, doc_id,
  tf)``: one explode + one groupBy, no driver-side dict and no
  ``collect_set`` posting arrays (a stopword's posting list is
  corpus-sized — as a flat table it spreads over the cluster; as an array
  column it is a single-row bomb). Persist it partitioned/bucketed by
  ``token`` and term lookups become partition-pruned scans.
* ``search_all_terms`` — conjunctive (AND) query as posting-list
  intersection: filter the index to the query terms (an ``isin`` that
  pushes into the scan), then ONE groupBy counting matched terms per doc;
  a doc survives iff it matched all of them. No joins, no explode, no
  per-term passes — shuffle carries only postings of the query terms.
* ``term_stats`` / ``bm25_topk`` — document frequency + total tf per term
  (exact integers), and BM25 ranking: idf and length normalization are a
  broadcast-sized per-term table joined onto the candidate postings, the
  score is one sum-aggregate per doc, and the top-k is a ``TakeOrdered``
  (never a full sort).

Scale: every step is bounded by |postings of query terms|, not corpus
size, once the index exists; building the index is one shuffle of the
tokenized corpus (the same hoisted-tokenization discipline as
functions/text.py — tokens computed once, JVM-side regex split).

Persisting the index: ``sources.bucketed.write_bucketed(idx, table,
"token")`` makes every term lookup a bucket-pruned scan — with
``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` (the
planner otherwise de-buckets scans that feed no hash-partitioned
operator) an equality probe reads ``SelectedBucketsCount: 1 out of N``
files (proven in test_search.py + plan_audit). At 100 TB that turns
"scan the index" into "open one bucket's files".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tstore_spark.plans.scope import op_scope, scoped_cache

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(text_col: str):
    """Lowercased alphanumeric tokens, JVM-side; empties dropped (regex
    split yields '' at string edges)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda t: t != F.lit("")
    )


def build_inverted_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Posting table ``(token, doc_id, tf)`` — tf is the within-doc term
    count. One explode of the hoisted token array + one groupBy."""
    tok = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    )
    return tok.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("tf"))


def append_to_index(
    new_docs: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Incremental index maintenance (crawl-over-crawl): postings are keyed
    by (token, doc), so a batch of NEW documents only ADDS rows — their
    postings append to the bucketed table as new per-bucket files while
    every existing file stays byte-untouched. Per-crawl work is
    proportional to the new batch, never the accumulated index. The caller
    guarantees new doc ids are disjoint from indexed ones (the same
    new-batch contract as dedup's incremental path). ``num_buckets`` and
    ``sort_cols`` must match the existing table's bucket spec exactly —
    Spark refuses a mismatched append."""
    from tstore_spark.sources.bucketed import write_bucketed

    write_bucketed(
        build_inverted_index(new_docs, text_col=text_col, id_col=id_col),
        table,
        "token",
        num_buckets=num_buckets,
        sort_cols=sort_cols,
        mode="append",
    )


def build_positional_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional posting table ``(doc_id, pos, token)`` (0-based token
    positions) — ``posexplode`` of the same hoisted token array. Roughly
    |tokens| rows; build it once and persist bucketed by token, like the
    tf index."""
    return docs.select(
        F.col(id_col), F.posexplode(_tokens(text_col)).alias("pos", "token")
    )


def phrase_search(
    pindex: DataFrame, phrase: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Docs containing the terms CONSECUTIVELY, in order: a k-way self-join
    of per-term postings on (doc, pos - offset). Each join side is the
    filtered posting set of ONE term — postings-bounded, never corpus-sized;
    order is preserved (no sorting/dedup of the phrase)."""
    terms = [w.lower().strip() for w in phrase]
    if len(terms) < 2 or any(not w for w in terms):
        raise ValueError("phrase_search needs >= 2 non-empty terms")
    out = (
        pindex.where(F.col("token") == terms[0])
        .select(F.col(id_col).alias("_doc"), F.col("pos").alias("_anchor"))
    )
    for i, w in enumerate(terms[1:], start=1):
        nxt = pindex.where(F.col("token") == w).select(
            F.col(id_col).alias("_doc2"), (F.col("pos") - i).alias("_anchor2")
        )
        out = out.join(
            nxt,
            (out["_doc"] == nxt["_doc2"]) & (out["_anchor"] == nxt["_anchor2"]),
        ).select("_doc", "_anchor")
    return out.select(F.col("_doc").alias(id_col)).distinct()


def proximity_search(
    pindex: DataFrame,
    term_a: str,
    term_b: str,
    max_distance: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs where ``term_a`` and ``term_b`` occur within ``max_distance``
    token positions of each other (either order): the two per-term posting
    sets joined per doc with a band predicate on positions. Each join side
    is one term's postings — postings-bounded, never corpus-sized; a doc
    qualifies if ANY position pair is close enough."""
    a, b = term_a.lower().strip(), term_b.lower().strip()
    if not a or not b or max_distance < 1:
        raise ValueError("proximity_search needs two non-empty terms and max_distance >= 1")
    pa = pindex.where(F.col("token") == a).select(
        F.col(id_col).alias("_doc"), F.col("pos").alias("_pa")
    )
    pb = pindex.where(F.col("token") == b).select(
        F.col(id_col).alias("_doc2"), F.col("pos").alias("_pb")
    )
    pairs = pa.join(
        pb,
        (pa["_doc"] == pb["_doc2"])
        & (F.abs(pa["_pa"] - pb["_pb"]) <= max_distance),
    )
    return pairs.select(F.col("_doc").alias(id_col)).distinct()


def _norm_terms(terms: list[str]) -> list[str]:
    t = sorted({w.lower().strip() for w in terms if w and w.strip()})
    if not t:
        raise ValueError("search needs at least one non-empty term")
    return t


def search_all_terms(
    index: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Docs containing EVERY term (conjunctive search): the index holds one
    row per (token, doc), so a plain count after the term filter equals the
    number of distinct query terms the doc matched."""
    t = _norm_terms(terms)
    hits = (
        index.where(F.col("token").isin(t))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_matched"))
    )
    return hits.where(F.col("_matched") == len(t)).select(id_col)


def term_stats(index: DataFrame, terms: list[str], id_col: str = "doc_id") -> DataFrame:
    """Exact integer ``(token, df, tf_total)`` for the given terms — the
    inputs BM25's idf needs, kept oracle-checkable (no floats)."""
    t = _norm_terms(terms)
    return (
        index.where(F.col("token").isin(t))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
        )
    )


def doc_lengths(index: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc token count ``(id, _dl)`` from the posting table — the
    corpus-wide statistic every BM25 query needs. Compute (and persist)
    ONCE per index, then pass to :func:`bm25_topk`: interactive query loads
    must not pay a full-index aggregation per query."""
    return index.groupBy(id_col).agg(F.sum("tf").alias("_dl"))


@op_scope()
def bm25_topk(
    index: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    dl: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs by BM25 over the query terms.

    idf uses the standard Robertson form ``ln(1 + (N - df + .5)/(df + .5))``.
    N (corpus size) and per-doc length come from the index itself (sum of
    tf), so no second pass over raw text. The per-term table (df, idf) is
    tiny — broadcast onto the candidate postings; ``orderBy(...).limit(k)``
    plans as TakeOrdered, never a full sort. Ties break on doc id for
    determinism.

    ``dl``: a precomputed :func:`doc_lengths` table (persist it for
    interactive loads). When absent it is computed here and scope-cached so
    the N/avgdl action and the scoring join share ONE aggregation — the
    previous shape re-ran the full-index groupBy per query, twice."""
    t = _norm_terms(terms)
    if dl is None:
        dl = scoped_cache(doc_lengths(index, id_col))
    n_docs, avgdl = dl.agg(F.count(F.lit(1)), F.avg("_dl")).head()
    if not n_docs:
        raise ValueError("empty index")
    stats = term_stats(index, t, id_col=id_col).withColumn(
        "_idf",
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    )
    cand = (
        index.where(F.col("token").isin(t))
        .join(F.broadcast(stats.select("token", "_idf")), "token")
        .join(dl, id_col)
    )
    score = F.col("_idf") * (
        (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("_dl") / float(avgdl)))
    )
    return (
        cand.groupBy(id_col)
        .agg(F.sum(score).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def bm25_reference(
    texts: dict[int, str], terms: list[str], k: int, k1: float = 1.2, b: float = 0.75
) -> list[tuple[int, float]]:
    """Straight-line Python BM25 for tests (same tokenizer semantics)."""
    import re

    toks = {d: [w for w in re.split(TOKEN_SPLIT, s.lower()) if w] for d, s in texts.items()}
    toks = {d: v for d, v in toks.items() if v}  # zero-token docs are not in
    # the index, so they are not corpus members for N/avgdl either
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    t = _norm_terms(terms)
    dfs = {w: sum(1 for v in toks.values() if w in v) for w in t}
    out = []
    for d, v in toks.items():
        s = 0.0
        for w in t:
            tf = v.count(w)
            if not tf or not dfs[w]:
                continue
            idf = math.log(1 + (n - dfs[w] + 0.5) / (dfs[w] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@op_scope()
def more_like_this(
    index: DataFrame,
    query_ids: list,
    k: int = 10,
    max_terms: int = 25,
    max_df_ratio: float = 0.5,
    id_col: str = "doc_id",
    n_docs: int | None = None,
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Top-k similar documents per query document — Lucene's MoreLikeThis,
    through the posting table.

    Relevance model: each query doc contributes its ``max_terms`` most
    characteristic terms (highest ``tf_q * idf``); a candidate's score is
    ``sum over shared terms of tf_q * tf_c * greatest(1, idf_scale div
    df)`` — the classic tf*idf dot product with the idf taken as INTEGER
    ``max(1, scale/df)`` instead of ``ln(N/df)``. The swap is deliberate:
    ln is not IEEE-portable across engines (the BM25 lesson), while
    integer division and integer sums are bit-exact everywhere, so the
    whole ranking is oracle-checkable. The integer idf is monotone
    NON-INCREASING in df with floor granularity (dfs sharing a quotient
    tie, and every df ≥ ``idf_scale`` collapses to weight 1 — never 0, so
    a shared term always contributes); raise ``idf_scale`` for finer
    mid-frequency resolution on corpora within a few orders of magnitude
    of it (scores stay inside int64 for tf products up to ~9e18/scale).

    Scale shape: the query docs' own postings are a bounded probe
    (broadcast); candidate generation touches ONLY postings of the
    selected query terms (one semi-join into the index, scope-cached so
    the df pass and the scoring pass share the scan); terms with
    ``df > max_df_ratio * N`` are dropped BEFORE candidates exist — the
    stopword guard that is also the scale valve (a boilerplate term's
    posting list is corpus-sized). Per-query top-k is a row_number window
    partitioned by query doc. Ties break (score desc, candidate id asc).

    ``n_docs``: corpus size for the max-df cutoff; pass it when known
    (e.g. from a persisted :func:`doc_lengths` count) to skip the
    distinct-count aggregation here."""
    from pyspark.sql.window import Window

    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    max_df = None
    if max_df_ratio < 1.0:  # ratio >= 1 keeps every term: skip the N count
        if n_docs is None:
            n_docs = index.select(id_col).distinct().count()
        if not n_docs:
            raise ValueError("empty index")
        max_df = int(max_df_ratio * n_docs)

    qpost = index.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "token", F.col("tf").alias("_tf_q")
    )
    # one semi-join bounds everything downstream to postings of query terms;
    # cached so the df pass and the scoring pass share the scan. A caller
    # whose own scoped index must stay warm calls this inside its op_scope.
    qterm_post = scoped_cache(
        index.join(F.broadcast(qpost.select("token").distinct()), "token")
    )
    dfs = qterm_post.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))

    w = Window.partitionBy("query_id").orderBy(F.desc("_w"), F.col("token"))
    sel = qpost.join(F.broadcast(dfs), "token")
    if max_df is not None:
        sel = sel.where(F.col("_df") <= max_df)
    sel = (
        sel.withColumn(
            "_w",
            F.col("_tf_q")
            * F.expr(f"greatest(CAST({idf_scale} AS BIGINT) div _df, CAST(1 AS BIGINT))"),
        )
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= max_terms)
        .select("query_id", "token", "_w")
    )

    topw = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        qterm_post.join(F.broadcast(sel), "token")
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("_w") * F.col("tf")).alias("score"))
        .withColumn("rank", F.row_number().over(topw))
        .where(F.col("rank") <= k)
    )


def doc_keywords(
    index: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    idf_scale: int = 1_000_000,
    min_token_len: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the ``k`` most characteristic
    terms of every document — ``(doc_id, token, tf, df, score, rank)``
    with ``score = tf * greatest(1, idf_scale div df)``, the
    :func:`more_like_this` integer tf-idf (ln() is not IEEE-portable
    across engines; integer division is — the BM25 lesson). The classic
    corpus-annotation primitive: topic tags for routing/mixture labeling,
    distilled doc descriptors for clustering.

    Semantics: df = number of documents containing the token (exactly the
    posting-row count per token); tokens shorter than ``min_token_len``
    are dropped (single letters and digits dominate raw tf and carry no
    topical signal — the cheap stopword proxy that needs no wordlist, and
    a parameter so the twin can mirror it). Ties break (score desc, token
    asc) — total order, bit-identical ranks at any parallelism.

    Scale shape: one token-grain df aggregation (map-side combined), one
    equi-join back on token (both sides posting-shaped; at corpus scale
    persist the index bucketed by token — sources/bucketed.py — and the
    join co-locates), one per-doc row_number window over doc-grain rows.
    No driver collects, no floats anywhere.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.window import Window

    base = index.where(F.length("token") >= min_token_len)
    dfs = base.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = base.join(dfs, "token").withColumn(
        "score",
        F.col("tf")
        * F.expr(f"greatest(CAST({idf_scale} AS BIGINT) div df, CAST(1 AS BIGINT))"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "score", "rank")
    )


def doc_keywords_oracle_sql(
    postings_sql: str,
    k: int = 5,
    idf_scale: int = 1_000_000,
    min_token_len: int = 3,
) -> str:
    """DuckDB twin of :func:`doc_keywords`. ``postings_sql`` must yield
    ``(doc_id, token, tf)`` rows (one per doc-token)."""
    return f"""
        WITH p AS ({postings_sql}),
        base AS (SELECT * FROM p WHERE length(token) >= {min_token_len}),
        dfs AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                FROM base GROUP BY token),
        scored AS (
            SELECT b.doc_id, b.token, CAST(b.tf AS BIGINT) AS tf, d.df,
                   CAST(b.tf AS BIGINT)
                     * GREATEST({idf_scale} // d.df, 1) AS score
            FROM base b JOIN dfs d USING (token))
        SELECT doc_id, token, tf, df, score,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, token) AS rank
              FROM scored)
        WHERE rank <= {k}
    """
