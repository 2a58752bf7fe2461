"""Host-link graph operators: link extraction, degrees, exact PageRank.

Web-corpus counterpart of the reference's per-id series model: the "series"
is the crawl's host graph. Nothing here exists in the reference
(ltelab/tstore has no graph layer); the operators follow the repo's two
standing rules:

* **Exact under parallelism.** PageRank is computed in scaled integer
  arithmetic: ranks are longs in units of ``scale`` (default 1e12), each
  edge carries ``rank div out_degree`` (integer division, the remainder
  leaks deterministically), and every per-node update is
  ``base + (damping_pct * sum(shares)) div 100``. Sums of longs are
  order-independent, so the result is bit-identical at any partitioning —
  and replicable by any SQL engine with ``//`` (the oracle).
* **JVM-side hot path.** Link extraction is ``regexp_extract_all`` over the
  decoded html (codegen), host derivation is ``parse_url`` — no Python.

Scale shape: each iteration is one node-sized join (ranks ⋈ out-degree,
both keyed by node) followed by one edge-sized join (edges ⋈ per-source
share, keyed by src) and one ``groupBy(dst)`` aggregation — the classic
Pregel-on-DataFrames plan, all shuffles on uniform-hash keys. Lineage is
cut per iteration with ``localCheckpoint`` (the same guard
``dedup_clusters`` uses) so a 20-iteration run does not compound a
20-deep plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: href attribute matcher — double- or single-quoted values.
HREF_RE = r"""href=["']([^"']*)["']"""


def extract_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """All ``href`` targets per page: ``(src_url, href)`` rows.

    The html column may be BINARY (the pages schema) or STRING; binary is
    decoded as UTF-8 JVM-side. Pages with no links produce no rows
    (explode of an empty array), so the edge table is link-proportional,
    not page-proportional.
    """
    h = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        h = F.decode(h, "UTF-8")
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(F.regexp_extract_all(h, F.lit(HREF_RE), 1)).alias("href"),
    )


#: full anchor matcher: href value (group 1) + anchor text (group 2).
ANCHOR_RE = r"""<a\s[^>]*href=["']([^"']*)["'][^>]*>([^<]*)</a>"""


def extract_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """``(src_url, href, anchor)`` rows — each link with its anchor text.

    Anchor text is the classic off-page ranking signal (what OTHER pages
    call a target). Two ``regexp_extract_all`` passes over the same pattern
    (group 1 = href, group 2 = text) are zipped positionally — alignment is
    guaranteed because both scans see identical matches. All JVM-side.
    """
    h = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        h = F.decode(h, "UTF-8")
    hrefs = F.regexp_extract_all(h, F.lit(ANCHOR_RE), 1)
    texts = F.regexp_extract_all(h, F.lit(ANCHOR_RE), 2)
    z = F.explode(F.arrays_zip(hrefs.alias("href"), texts.alias("anchor")))
    return pages.select(F.col(url_col).alias("src_url"), z.alias("_z")).select(
        "src_url", F.col("_z.href").alias("href"), F.col("_z.anchor").alias("anchor")
    )


def anchor_term_profile(
    anchors: DataFrame,
    dst_col: str = "href",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target-host anchor-term counts: ``(host, term, n)`` — the
    aggregated "what the web calls this host" profile search rankers use.

    Tokenization is the SEARCH layer's (lowercase ``[a-z0-9]+`` runs,
    ``search.TOKEN_SPLIT``) — profile terms must join against inverted-index
    tokens, so a whitespace tokenizer (which keeps punctuation glued to
    terms) would silently miss every punctuated anchor. Counts are exact
    integers from one explode + one map-side-combined groupBy — the
    inverted-index build shape, term-proportional state.
    """
    from tstore_spark.operators.search import TOKEN_SPLIT

    toks = F.filter(
        F.split(F.lower(F.col(anchor_col)), TOKEN_SPLIT), lambda t: t != F.lit("")
    )
    host = F.parse_url(F.col(dst_col), F.lit("HOST"))
    return (
        anchors.select(host.alias("host"), F.explode(toks).alias("term"))
        .where(F.col("host").isNotNull())
        .groupBy("host", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def host_edges(links: DataFrame, src_col: str = "src_url", dst_col: str = "href") -> DataFrame:
    """Distinct host→host edges from a ``(src_url, href)`` link table.

    Self-loops and links whose host cannot be parsed (relative hrefs,
    mailto:, fragments) are dropped — relative links stay on the same
    host and would only add self-loops.
    """
    e = links.select(
        F.parse_url(F.col(src_col), F.lit("HOST")).alias("src"),
        F.parse_url(F.col(dst_col), F.lit("HOST")).alias("dst"),
    )
    return e.where(
        F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("src") != F.col("dst"))
    ).distinct()


def host_degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node out/in degree over the full node set (missing side = 0)."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(F.count("*").alias("in_degree"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Exact integer PageRank: ``(node, rank)`` with rank a long in units
    of ``scale`` (i.e. ``rank / scale`` ≈ the conventional probability).

    Semantics (every step pure integer arithmetic, mirrored verbatim by
    the SQL oracle):

    * nodes = distinct(src) ∪ distinct(dst), N = |nodes|
    * r₀(v) = ``scale // N`` for every v
    * share(u→v) = ``r(u) div out_degree(u)`` — integer division; the
      remainder (< out_degree) leaks, identically in every engine
    * r'(v) = ``((100 - damping_pct) * (scale // N)) // 100
      + (damping_pct * Σ share(u→v)) // 100``

    Dangling-node mass (nodes with no out-edges) leaks rather than being
    redistributed — a deliberate simplification that keeps the per-node
    update free of a global aggregate per iteration; ranks are therefore
    a deterministic lower fixpoint of the classic formulation. Multi-edges
    must be deduplicated by the caller (``host_edges`` already does).

    ``iterations`` is a fixed count, not a convergence test — convergence
    deltas are float-order-dependent; a fixed integer recursion is not.
    """
    # freeze the edge input once: without this, the edge list's full lineage
    # (e.g. html regexp link extraction) would recompute on EVERY iteration's
    # join — the same guard dedup_clusters applies to its edges
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=True
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    out_deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # one scalar to the driver — bounded, documented
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    r0 = scale // n
    base = ((100 - damping_pct) * r0) // 100

    nodes = nodes.localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(r0).cast("long"))
    for _ in range(iterations):
        # node-sized join first: per-source share, then one edge join
        share = ranks.join(out_deg, "node").select(
            F.col("node").alias("src"),
            F.expr("rank div deg").alias("share"),
        )
        contrib = (
            e.join(share, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Exact integer PERSONALIZED PageRank: ``(node, rank)`` with the
    teleport restricted to ``seeds`` — rank mass flows only from the seed
    set, so scores measure proximity-to-seeds rather than global
    importance. With a trusted-host whitelist as seeds this is TrustRank
    (Gyöngyi et al., VLDB 2004): spam farms that sustain high global
    PageRank through self-linking collect ~zero trust because no seed
    path reaches them. With a single seed it is the classic
    related-hosts / recommendation primitive.

    Identical integer semantics to :func:`pagerank` except the teleport
    vector: r₀(v) = ``scale // |S|`` for seeds, 0 otherwise; the per-node
    base term ``((100-d) * (scale // |S|)) // 100`` is added only to
    seeds. Dangling mass leaks deterministically (same rationale). Seeds
    absent from the node set still emit rows (they hold teleport mass by
    definition); duplicate seeds raise.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed list")
    if len(set(seeds)) != len(seeds):
        raise ValueError("personalized_pagerank: duplicate seeds")
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=True
    )
    node_type = dict(e.dtypes)["src"]
    seed_df = spark.createDataFrame([(s,) for s in seeds], f"node {node_type}")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(seed_df)
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    r0 = scale // len(seeds)
    base = ((100 - damping_pct) * r0) // 100
    is_seed = F.col("node").isin(seeds)
    ranks = nodes.withColumn(
        "rank", F.when(is_seed, F.lit(r0)).otherwise(F.lit(0)).cast("long")
    )
    for _ in range(iterations):
        share = ranks.join(out_deg, "node").select(
            F.col("node").alias("src"),
            F.expr("rank div deg").alias("share"),
        )
        contrib = (
            e.join(share, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    n_seeds: int,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank`, generated from the
    same constants. ``seeds_sql`` must yield the distinct seed ``node``
    rows and ``n_seeds`` their exact count (a literal, so the generated
    arithmetic is constant-folded identically in both engines)."""
    r0 = scale // n_seeds
    base = ((100 - damping_pct) * r0) // 100
    parts = [
        f"e AS ({edges_sql})",
        f"seeds AS ({seeds_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e "
        "UNION SELECT node FROM seeds)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src)",
        f"r0 AS (SELECT n.node, CAST(CASE WHEN s.node IS NOT NULL THEN {r0} "
        f"ELSE 0 END AS BIGINT) AS rank "
        f"FROM nodes n LEFT JOIN seeds s ON n.node = s.node)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS (SELECT n.node, "
            f"CAST(CASE WHEN sd.node IS NOT NULL THEN {base} ELSE 0 END AS BIGINT)"
            f" + ({damping_pct} * COALESCE(s.c, 0)) // 100 AS rank "
            f"FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node LEFT JOIN ("
            f"SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS c "
            f"FROM e JOIN {prev} r ON e.src = r.node JOIN deg d ON d.node = e.src "
            f"GROUP BY e.dst) s ON n.node = s.node)"
        )
        prev = f"r{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}"
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components of the undirected graph: one row per node,
    ``(node, component_id)`` where the component id is the MINIMUM node in
    the component (lexicographic min for string hosts).

    Delegates to the near-dup survivor machinery
    (``dedup.dedup_clusters`` — min-label propagation to fixpoint,
    localCheckpoint per round, bit-identical at any parallelism); the label
    type is whatever the node type is, so host strings work unchanged.
    Use for mirror-farm detection: components of the mutual-link (or
    near-dup-pair) host graph are candidate mirror families.
    """
    from tstore_spark.operators.dedup import dedup_clusters

    pairs = edges.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
    return dedup_clusters(pairs).select(
        "node", F.col("cluster_id").alias("component_id")
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Every distinct triangle of the undirected graph, one row each:
    ``(node_a, node_b, node_c)`` sorted ascending within the row.

    Scale shape — the classic degree-orientation trick (Cohen's MapReduce
    triangle counting): canonical undirected edges are ORIENTED from the
    (degree, node)-smaller endpoint to the larger, which turns the graph
    into a DAG where every out-neighborhood has O(sqrt(m)) size even around
    celebrity hubs. Wedges are then one self-equi-join on the oriented
    source (never the raw neighborhood cross product on a hub), closed by
    one semi-join back to the canonical edge set. Every triangle has
    exactly one vertex whose two triangle edges both point outward, so each
    is emitted exactly once — no post-dedup. All joins are equi-joins on
    uniform hash keys; output is a pure function of the edge SET, so it is
    bit-identical at any parallelism.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("_da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("_db")), "b")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .select(
            F.col("e1.u").alias("u"),
            F.col("e1.v").alias("v"),
            F.col("e2.v").alias("w"),
        )
    )
    closed = wedges.join(
        und,
        (F.least("v", "w") == F.col("a")) & (F.greatest("v", "w") == F.col("b")),
        "left_semi",
    )
    tri = closed.select(F.array_sort(F.array("u", "v", "w")).alias("_t"))
    return tri.select(
        F.col("_t")[0].alias("node_a"),
        F.col("_t")[1].alias("node_b"),
        F.col("_t")[2].alias("node_c"),
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation: ``(node, n_triangles)`` for every
    node in at least one triangle (left-join against your node universe for
    zeros). Exact integer counts — the local-clustering numerator, and the
    standard spam/mirror-farm signal on host graphs (dense mutual-link
    cliques light up, organic hubs do not)."""
    tri = triangles(edges, src, dst)
    # One explode over the enumerated triangles, not three unionAll branches
    # of the same plan: the degree-join + wedge-join cascade (the dominant
    # cost) runs once instead of three times. The array is 3 cheap column
    # refs, so the never-explode-expensive-array-COLUMNs rule doesn't apply.
    nodes = tri.select(
        F.explode(F.array("node_a", "node_b", "node_c")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`pagerank`, generated from the same constants
    so the two recursions cannot drift. ``edges_sql`` must yield distinct
    ``(src, dst)`` rows. Integer division is ``//`` (DuckDB) vs ``div``
    (Spark) — identical on the non-negative longs used here; HUGEINT sums
    are cast back to BIGINT per the repo's oracle discipline.
    """
    parts = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank FROM nodes)",
    ]
    base = (
        f"CAST((({100 - damping_pct}) * ({scale} // (SELECT n FROM nn))) // 100 AS BIGINT)"
    )
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS (SELECT n.node, {base} + ({damping_pct} * COALESCE(s.c, 0)) // 100 AS rank "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS c "
            f"FROM e JOIN {prev} r ON e.src = r.node JOIN deg d ON d.node = e.src "
            f"GROUP BY e.dst) s ON n.node = s.node)"
        )
        prev = f"r{i}"
    return (
        "WITH " + ", ".join(parts) + f" SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**9,
) -> DataFrame:
    """Exact integer HITS (Kleinberg hubs & authorities): ``(node, hub,
    authority)`` with both scores longs in units of ``scale`` (the best
    hub / best authority each iteration holds exactly ``scale``).

    Classic HITS normalizes by the L2 norm — a float whose accumulation
    order is engine-dependent. This variant max-normalizes with pure
    integer arithmetic, preserving the ranking (max-norm and L2-norm
    normalization are positive scalings of the same fixpoint direction)
    while keeping every intermediate bit-exact:

    * h₀(v) = ``scale`` for every node
    * raw_a(v) = Σ over in-edges (u→v) of h(u); then
      a(v) = ``raw_a(v) div ceil(max_raw_a / scale)`` — the max rides the
      plan as a broadcast 1-row aggregate, never a driver action. Dividing
      by the ceil-divisor (instead of computing ``raw * scale div max``)
      keeps every intermediate ≤ max_degree × scale, so nothing ever
      multiplies two ``scale``-sized quantities: the top score lands in
      [scale/2, scale] rather than exactly at ``scale``, which is
      irrelevant for ranking but removes the int64 overflow the
      multiply-first form hits at in-degree ≥ 10.
    * raw_h(u) = Σ over out-edges (u→v) of a(v); h(u) normalized the same

    Overflow bound: normalized scores ≤ ``scale`` and raw sums
    ≤ max_degree × scale, so the default ``scale = 10^9`` is safe to
    in/out-degrees of ~9×10^9 — beyond any real host graph. Multi-edges
    must be deduplicated by the caller
    (``host_edges`` already does). ``iterations`` is a fixed count, not a
    convergence test, for the same determinism reason as :func:`pagerank`.
    Bipartite link graphs are the natural input: sources score as hubs,
    targets as authorities.

    Reference: Kleinberg, "Authoritative sources in a hyperlinked
    environment" (JACM 1999)."""
    if iterations < 1:
        raise ValueError(f"hits needs iterations >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=True
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.withColumn("h", F.lit(scale).cast("long"))

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.greatest(F.coalesce(F.max("raw"), F.lit(1)), F.lit(1)).alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(
                f"raw div greatest((_mx + CAST({scale} AS BIGINT) - 1) "
                f"div CAST({scale} AS BIGINT), CAST(1 AS BIGINT))"
            ).alias(col),
        )

    auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("raw"))
        )
        auth = _norm(raw_a, "a").localCheckpoint(eager=False)
        raw_h = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("raw"))
        )
        hub = _norm(raw_h, "h").localCheckpoint(eager=False)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("long").alias("authority"),
        )
    )


def hits_oracle_sql(edges_sql: str, iterations: int = 3, scale: int = 10**9) -> str:
    """DuckDB twin of :func:`hits`, generated from the same constants so
    the two recursions cannot drift. ``edges_sql`` must yield distinct
    ``(src, dst)`` rows; HUGEINT sums cast back to BIGINT per the repo's
    oracle discipline."""
    parts = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iterations + 1):
        parts += [
            f"ra{i} AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS raw "
            f"FROM e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst)",
            f"a{i} AS (SELECT node, CAST(raw // GREATEST((GREATEST(COALESCE("
            f"(SELECT MAX(raw) FROM ra{i}), 1), 1) + {scale} - 1) // {scale}, 1) "
            f"AS BIGINT) AS a FROM ra{i})",
            f"rh{i} AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS raw "
            f"FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src)",
            f"h{i} AS (SELECT node, CAST(raw // GREATEST((GREATEST(COALESCE("
            f"(SELECT MAX(raw) FROM rh{i}), 1), 1) + {scale} - 1) // {scale}, 1) "
            f"AS BIGINT) AS h FROM rh{i})",
        ]
        prev_h = f"h{i}"
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT n.node, CAST(COALESCE(h.h, 0) AS BIGINT) AS hub, "
        f"CAST(COALESCE(a.a, 0) AS BIGINT) AS authority "
        f"FROM nodes n LEFT JOIN {prev_h} h ON n.node = h.node "
        f"LEFT JOIN a{iterations} a ON n.node = a.node"
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    num_partitions: int | None = None,
) -> DataFrame:
    """The k-core of the undirected graph: ``(node, degree)`` for every
    node of the maximal subgraph in which ALL nodes have degree >= ``k``
    (``degree`` is the node's degree WITHIN the core). The standard
    nucleus/periphery decomposition signal — link-farm and mirror-clique
    hosts sit in deep cores while organic long-tail hosts peel away — and
    the classic preprocessing cut before expensive clique/community work.

    Algorithm: iterative peeling (Matula/Beck) — drop every node with
    degree < k and every edge touching it, recompute, repeat to fixpoint.
    Peeling is confluent (the k-core is unique regardless of removal
    order), so the synchronized whole-round variant computed here returns
    exactly the textbook core. Raises if ``max_rounds`` passes without a
    fixpoint (rounds needed is bounded by the longest chain the peel eats
    end-to-end — a path graph at k=2 peels one node per end per round).

    Scale shape: each round is ONE checkpointed job — edge-sized degree
    aggregation plus two semi-joins of the edge list against the
    surviving-node set (uniform hash keys), lineage cut per round, the
    dedup_clusters discipline — followed by a count over the in-memory
    checkpoint blocks. Fixpoint detection is edge-count equality (peeling
    removes a node only by removing its incident edges, so an unchanged
    edge count IS the fixpoint). State is the surviving edge list itself,
    monotonically shrinking. Exact integer degrees, set-valued output ⇒
    bit-identical at any parallelism.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .repartition(n_part, "a")
        .localCheckpoint(eager=True)
    )
    prev_edges = cur.count()
    for _ in range(max_rounds):
        if prev_edges == 0:
            break
        keep = degrees(cur).where(F.col("degree") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .repartition(n_part, "a")
            .localCheckpoint(eager=True)
        )
        n = nxt.count()
        cur = nxt
        if n == prev_edges:
            return degrees(cur)  # fixpoint: every surviving node has degree >= k
        prev_edges = n
    else:
        raise ValueError(
            f"k_core did not converge in {max_rounds} rounds: the graph has "
            "a longer peel chain — raise max_rounds"
        )
    return degrees(cur)  # graph peeled empty: typed empty (node, degree) frame


def k_core_oracle_sql(edges_sql: str, k: int = 2, rounds: int = 30) -> str:
    """DuckDB twin of :func:`k_core`, generated from the same constants:
    the peel unrolled ``rounds`` times (MATERIALIZED CTEs — each round's
    edge set is referenced three times, inlining would go exponential).
    Exact when the Spark side converges within the same ``rounds`` (it
    raises otherwise), because extra rounds past the fixpoint are no-ops.
    """
    parts = [
        f"raw AS MATERIALIZED ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM raw WHERE src <> dst)",
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts += [
            f"d{i} AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree "
            f"FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}) "
            f"GROUP BY node)",
            f"e{i} AS MATERIALIZED (SELECT a, b FROM {prev} "
            f"WHERE a IN (SELECT node FROM d{i} WHERE degree >= {k}) "
            f"AND b IN (SELECT node FROM d{i} WHERE degree >= {k}))",
        ]
        prev = f"e{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM ("
        f"SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}) "
        f"GROUP BY node"
    )


def bfs_hops(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Minimum hop distance from a seed set: ``(node, hops)`` for every
    node reachable within ``max_hops`` (seeds themselves at 0). The crawl
    analytics primitive — distance-from-seed-whitelist is the classic
    frontier-quality signal (CommonCrawl-style seed curation), and
    bounded-depth BFS IS the crawl-depth cap, so ``max_hops`` is a
    semantic, not a convergence guard: both this and the SQL twin run
    exactly the same bounded recursion (the loop merely early-stops once a
    frontier round discovers nothing, which cannot change the answer).

    Multi-source BFS on DataFrames: the frontier (nodes first reached last
    round) joins the edge list, discoveries fold in via a min-groupBy —
    per-round work is frontier-edge-sized, not graph-sized, and lineage is
    cut per round (the dedup_clusters discipline). Exact integers,
    set-valued output ⇒ bit-identical at any parallelism.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if not seeds:
        raise ValueError("seeds must be a non-empty list of node ids")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionAll(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
    e = e.where(F.col("_s") != F.col("_d")).distinct().repartition(n_part, "_s").localCheckpoint(eager=True)

    node_type = dict(e.dtypes)["_s"]
    seed_df = spark.createDataFrame([(s,) for s in seeds], f"node {node_type}").distinct()
    dist = seed_df.select("node", F.lit(0).alias("hops")).repartition(n_part, "node").localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        reached = (
            e.join(frontier.withColumnRenamed("node", "_s").select("_s"), "_s")
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hops"))
        )
        dist = (
            dist.unionByName(reached)
            .repartition(n_part, "node")
            .localCheckpoint(eager=True)
        )
        frontier = dist.where(F.col("hops") == h)
        if frontier.limit(1).count() == 0:
            break
    return dist


def bfs_hops_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    max_hops: int = 10,
    directed: bool = True,
) -> str:
    """DuckDB twin of :func:`bfs_hops`, the same bounded recursion unrolled
    (MATERIALIZED — each round's distance set feeds two references).
    ``edges_sql`` must yield ``(src, dst)``; ``seeds_sql`` one ``node``
    column (duplicates fine)."""
    und = (
        "SELECT src AS s, dst AS d FROM raw UNION ALL SELECT dst, src FROM raw"
        if not directed
        else "SELECT src AS s, dst AS d FROM raw"
    )
    parts = [
        f"raw AS ({edges_sql})",
        f"e AS MATERIALIZED (SELECT DISTINCT s, d FROM ({und}) WHERE s <> d)",
        f"d0 AS MATERIALIZED (SELECT DISTINCT node, 0 AS hops FROM ({seeds_sql}))",
    ]
    prev = "d0"
    for h in range(1, max_hops + 1):
        parts.append(
            f"d{h} AS MATERIALIZED (SELECT node, MIN(hops) AS hops FROM ("
            f"SELECT node, hops FROM {prev} UNION ALL "
            f"SELECT e.d AS node, {h} AS hops FROM e "
            f"JOIN {prev} p ON e.s = p.node AND p.hops = {h - 1}) GROUP BY node)"
        )
        prev = f"d{h}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, CAST(hops AS INTEGER) AS hops FROM {prev}"
    )


def resolve_redirects(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Resolve redirect chains to their terminal targets: one row per
    redirecting URL — ``(url, final_url, resolved)`` — where ``final_url``
    is the first target that does not itself redirect. The crawl-map
    primitive behind canonical-URL consolidation (an alias family's
    signals — links, duplicates, clicks — must attribute to the terminal
    page, not to hop k of a 301 chain).

    Pointer doubling (the classic O(log chain-length) find-root): each
    round rewrites every pointer to its pointer's pointer —
    ``f ← f∘f`` — so a length-L chain resolves in ⌈log₂ L⌉ rounds, NOT L
    rounds (a 1000-hop pathological chain is 10 rounds). ``resolved`` is
    FALSE for URLs whose pointer still redirects after ``max_rounds``
    doublings: redirect CYCLES (they never terminate — the caller's spam
    signal) and chains longer than 2^max_rounds (at the default, a
    65k-hop chain — not a thing a real crawl produces). ``max_rounds`` is
    therefore a semantic bound like bfs_hops' depth cap, and the SQL twin
    runs the identical doubling.

    Input must be a FUNCTION: one outgoing redirect per ``src``
    (duplicate sources raise in-plan — resolution would be ambiguous).
    Each round is one self-equi-join on uniform keys, lineage cut per
    round; rounds are log-bounded, no convergence action needed.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    spark = redirects.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    dup = F.count(F.lit(1)).over(Window.partitionBy("_s"))
    cur = (
        redirects.select(F.col(src).alias("_s"), F.col(dst).alias("_p"))
        .select(
            F.when(dup == 1, F.col("_s")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("resolve_redirects: duplicate source url (ambiguous map): "),
                        F.col("_s").cast("string"),
                    )
                )
            ).alias("_s"),
            "_p",
        )
        .repartition(n_part, "_s")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nxt = cur.select(F.col("_s").alias("_ns"), F.col("_p").alias("_np"))
        cur = (
            cur.join(nxt, cur["_p"] == nxt["_ns"], "left")
            .select("_s", F.coalesce("_np", "_p").alias("_p"))
            .repartition(n_part, "_s")
            .localCheckpoint(eager=True)
        )
    domain = cur.select(F.col("_s").alias("_p")).distinct()
    return (
        cur.join(domain.withColumn("_redirects", F.lit(True)), "_p", "left")
        .select(
            F.col("_s").alias("url"),
            F.col("_p").alias("final_url"),
            F.coalesce(~F.col("_redirects"), F.lit(True)).alias("resolved"),
        )
    )


def resolve_redirects_oracle_sql(
    redirects_sql: str, max_rounds: int = 16
) -> str:
    """DuckDB twin of :func:`resolve_redirects`: the identical pointer
    doubling unrolled (MATERIALIZED — each round self-joins)."""
    parts = [
        f"r0 AS MATERIALIZED (SELECT src AS s, dst AS p FROM ({redirects_sql}))",
    ]
    prev = "r0"
    for i in range(1, max_rounds + 1):
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT a.s, COALESCE(b.p, a.p) AS p "
            f"FROM {prev} a LEFT JOIN {prev} b ON a.p = b.s)"
        )
        prev = f"r{i}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT a.s AS url, a.p AS final_url, "
        f"(a.p NOT IN (SELECT s FROM {prev})) AS resolved FROM {prev} a"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made
    deterministic: ``(node, community)`` after a FIXED number of rounds,
    each node adopting the most frequent label among its (undirected)
    neighbors, ties broken toward the smallest label. Where
    ``connected_components`` answers reachability, LPA answers DENSITY —
    two mirror farms bridged by a single stray link are one component but
    two communities.

    Determinism contract (the repo rule): classic LPA breaks ties
    randomly and updates asynchronously — irreproducible by construction.
    Here rounds are synchronous, the argmax is (count DESC, label ASC),
    and ``iterations`` is fixed (synchronous LPA can oscillate on
    bipartite-ish structures; a fixed budget is honest where a
    convergence test would hide the oscillation). Exact counts + total
    tie order ⇒ bit-identical at any parallelism, twinned in SQL by
    ``label_propagation_oracle_sql``.

    Scale shape per round: one edge×labels equi-join, one (node, label)
    count aggregation, one per-node argmax window over label-grain rows —
    all uniform-hash shuffles, lineage cut per round.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .unionAll(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .repartition(n_part, "_s")
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("_s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )
    pick = Window.partitionBy("node").orderBy(F.desc("_n"), F.asc("community"))
    for _ in range(iterations):
        msgs = e.join(
            labels.select(F.col("node").alias("_s"), "community"), "_s"
        ).select(F.col("_d").alias("node"), "community")
        labels = (
            msgs.groupBy("node", "community")
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_rk", F.row_number().over(pick))
            .where(F.col("_rk") == 1)
            .select("node", "community")
            .repartition(n_part, "node")
            .localCheckpoint(eager=True)
        )
    return labels


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    doubling_rounds: int = 7,
    max_pairs: int = 2_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bounded directed reachability closure: distinct ``(s, d)`` pairs
    with a directed path of length 1..2^``doubling_rounds`` from s to d
    (``s = d`` rows appear exactly when s lies on a cycle).

    Pointer doubling on PAIRS — round k composes the current closure with
    itself (``C ∪ C∘C``), so path length doubles per round: the default 7
    rounds cover 128 hops, beyond any real host-graph diameter. Early-stops
    at the fixpoint (an unchanged pair count IS the fixpoint — composition
    only adds pairs), which cannot change the answer, so an SQL twin that
    runs all rounds unconditionally matches exactly.

    Scale shape — the honest quadratic guard (the token-Jaccard
    discipline): a reachability closure is inherently output-sized
    Θ(Σ|reach(v)|). That is fine on host-level graphs (10^5–10^6 hosts
    with bounded reach — the bow-tie / mirror-family use case) and
    catastrophic on page-level graphs with giant reachable sets, so every
    round counts the (checkpointed, so already-paid) closure and raises
    loudly once it exceeds ``max_pairs`` instead of melting. Each round is
    one self-equi-join on uniform hash keys + distinct, lineage cut per
    round. Set-valued output ⇒ bit-identical at any parallelism.
    """
    if doubling_rounds < 1:
        raise ValueError(f"doubling_rounds must be >= 1, got {doubling_rounds}")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    c = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition(n_part, "s")
        .localCheckpoint(eager=True)
    )
    prev = c.count()
    for _ in range(doubling_rounds):
        if prev > max_pairs:
            raise ValueError(
                f"transitive_closure exceeded max_pairs={max_pairs} "
                f"({prev} reachability pairs): page-level graphs with giant "
                "reachable sets need the component/bfs operators, not a closure"
            )
        step = (
            c.alias("x")
            .join(c.alias("y"), F.col("x.d") == F.col("y.s"))
            .select(F.col("x.s").alias("s"), F.col("y.d").alias("d"))
        )
        nxt = (
            c.unionByName(step)
            .distinct()
            .repartition(n_part, "s")
            .localCheckpoint(eager=True)
        )
        n = nxt.count()
        c = nxt
        if n == prev:
            break  # fixpoint: further composition is a no-op (twin runs it anyway)
        prev = n
    return c


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    doubling_rounds: int = 7,
    max_pairs: int = 2_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Strongly connected components: ``(node, scc_id)`` for every node of
    the directed graph, where the id is the MINIMUM node mutually reachable
    with it (itself included) — the web bow-tie primitive (the giant SCC is
    the bow-tie core; link rings and mirror farms surface as nontrivial
    SCCs where ``connected_components`` would blur them into one blob).

    Exact whenever every SCC's internal diameter is <= 2^``doubling_rounds``
    hops (128 at the default — a cycle of 10^38 nodes would be needed to
    break it at host granularity): mutual reachability is the intersection
    of the bounded :func:`transitive_closure` with its own transpose (one
    self-join), and the id is a per-node MIN over that pair set. Inherits
    the closure's loud ``max_pairs`` guard; set/min-valued output ⇒
    bit-identical at any parallelism. Singleton SCCs (DAG nodes) map to
    themselves via the left join's coalesce.
    """
    c = transitive_closure(
        edges, src, dst,
        doubling_rounds=doubling_rounds, max_pairs=max_pairs,
        num_partitions=num_partitions,
    )
    mutual = c.alias("f").join(
        c.alias("r"),
        (F.col("f.s") == F.col("r.d")) & (F.col("f.d") == F.col("r.s")),
        "left_semi",
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    best = mutual.groupBy(F.col("s").alias("node")).agg(F.min("d").alias("_m"))
    return nodes.join(best, "node", "left").select(
        "node",
        F.least(F.col("node"), F.coalesce(F.col("_m"), F.col("node"))).alias("scc_id"),
    )


def scc_oracle_sql(edges_sql: str, doubling_rounds: int = 7) -> str:
    """DuckDB twin of :func:`scc`: the identical pair doubling unrolled
    (MATERIALIZED — each round's closure is referenced twice), then the
    same transpose-intersection + per-node MIN. Exact when the Spark side
    converges within the same rounds (its guard raises otherwise; rounds
    past the fixpoint are no-ops)."""
    parts = [
        f"raw AS ({edges_sql})",
        "c0 AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS d FROM raw)",
    ]
    prev = "c0"
    for i in range(1, doubling_rounds + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT DISTINCT s, d FROM ("
            f"SELECT s, d FROM {prev} UNION ALL "
            f"SELECT x.s, y.d FROM {prev} x JOIN {prev} y ON x.d = y.s))"
        )
        prev = f"c{i}"
    return (
        "WITH " + ", ".join(parts) + f", "
        f"nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw), "
        f"m AS (SELECT f.s, f.d FROM {prev} f JOIN {prev} r "
        f"ON f.s = r.d AND f.d = r.s) "
        f"SELECT n.node, LEAST(n.node, COALESCE(MIN(m.d), n.node)) AS scc_id "
        f"FROM nodes n LEFT JOIN m ON m.s = n.node GROUP BY n.node"
    )


def cocitation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_out_degree: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Co-citation counts: ``(node_a, node_b, n_common)`` for every pair of
    targets linked by at least one COMMON source (``node_a < node_b``,
    ``n_common`` = exact number of distinct common sources). The classic
    off-page similarity signal (Small 1973): two hosts the web repeatedly
    cites together are topically related even if they never link each
    other — the "related hosts" primitive search engines derive from the
    link graph.

    Scale shape: per-source pair enumeration is quadratic in out-degree,
    so sources with out-degree > ``max_out_degree`` are EXCLUDED before
    pairing — the standard co-citation cap (a directory page linking 10^5
    hosts asserts almost nothing about any pair, while its pair set alone
    would be 10^10 rows). The cap is a semantic parameter applied
    identically by the SQL twin, not a silent truncation: degree filtering
    is one aggregate + semi-join, pairing one self-equi-join on the source
    key, counting one map-side-combined groupBy — all uniform-hash
    shuffles. Exact integers ⇒ bit-identical at any parallelism.
    """
    if max_out_degree < 2:
        raise ValueError(f"max_out_degree must be >= 2, got {max_out_degree}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    keep = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .where(F.col("_deg") <= max_out_degree)
        .select("s")
    )
    e = e.join(keep, "s", "left_semi")
    if num_partitions:
        e = e.repartition(num_partitions, "s")
    pairs = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.d") < F.col("y.d")),
        )
        .select(F.col("x.d").alias("node_a"), F.col("y.d").alias("node_b"))
    )
    return pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )


def bibliographic_coupling(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_in_degree: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bibliographic-coupling counts (Kessler 1963): ``(node_a, node_b,
    n_common)`` for every pair of SOURCES that link at least one common
    target — the transpose of :func:`cocitation` (two pages citing the
    same references are related), with the cap now on target IN-degree
    (everyone links example.com; that asserts nothing about any pair of
    its citers). Same exact-integer, guarded-quadratic shape."""
    return cocitation(
        edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")),
        max_out_degree=max_in_degree,
        num_partitions=num_partitions,
    )


def cocitation_oracle_sql(edges_sql: str, max_out_degree: int = 1000) -> str:
    """DuckDB twin of :func:`cocitation` — identical degree cap, pairing
    and counting."""
    return f"""
        WITH raw AS ({edges_sql}),
        e AS (SELECT DISTINCT src AS s, dst AS d FROM raw),
        keep AS (SELECT s FROM e GROUP BY s HAVING COUNT(*) <= {max_out_degree}),
        ek AS (SELECT e.s, e.d FROM e JOIN keep k ON e.s = k.s)
        SELECT x.d AS node_a, y.d AS node_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM ek x JOIN ek y ON x.s = y.s AND x.d < y.d
        GROUP BY x.d, y.d
    """


def label_propagation_oracle_sql(
    edges_sql: str, iterations: int = 4
) -> str:
    """DuckDB twin of :func:`label_propagation` — the identical rounds
    unrolled (MATERIALIZED: each round's labels feed a join)."""
    parts = [
        f"raw AS ({edges_sql})",
        "e AS MATERIALIZED (SELECT DISTINCT s, d FROM ("
        "SELECT src AS s, dst AS d FROM raw UNION ALL "
        "SELECT dst, src FROM raw) WHERE s <> d)",
        "l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS community FROM e)",
    ]
    prev = "l0"
    for i in range(1, iterations + 1):
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node, community FROM ("
            f"SELECT e.d AS node, p.community, COUNT(*) AS n, "
            f"row_number() OVER (PARTITION BY e.d "
            f"ORDER BY COUNT(*) DESC, p.community ASC) AS rk "
            f"FROM e JOIN {prev} p ON e.s = p.node "
            f"GROUP BY e.d, p.community) WHERE rk = 1)"
        )
        prev = f"l{i}"
    return "WITH " + ", ".join(parts) + f" SELECT node, community FROM {prev}"


def neighborhood_exact(
    edges: DataFrame,
    t_max: int,
    direction: str = "out",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """EXACT t-neighborhood sizes per node: ``(id, ball_0..ball_{t_max})``
    where ``ball_t = |{u : d(id -> u) <= t}|`` (``direction="in"`` reverses
    edges: who reaches me). One reachable-PAIR table iterated t rounds —
    O(Σ|B(v,t)|) state, the verification path for :func:`hyperball` at
    test/gate scale (at corpus scale the pair table is exactly what
    HyperBall's sketches exist to avoid)."""
    if t_max < 1:
        raise ValueError(f"t_max must be >= 1, got {t_max}")
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    e = e.dropDuplicates(["src", "dst"]).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    pairs = nodes.select(F.col("id").alias("o"), F.col("id").alias("n"))
    pairs = pairs.localCheckpoint(eager=False)
    wide = nodes.select("id", F.lit(1).cast("long").alias("ball_0"))
    for t in range(1, t_max + 1):
        step = pairs.join(e, pairs["n"] == e["src"]).select(
            F.col("o"), F.col("dst").alias("n")
        )
        pairs = (
            pairs.unionByName(step)
            .dropDuplicates(["o", "n"])
            .localCheckpoint(eager=False)
        )
        cnt = pairs.groupBy("o").agg(F.count(F.lit(1)).alias(f"ball_{t}"))
        wide = wide.join(cnt.withColumnRenamed("o", "id"), "id")
    return wide


def hyperball(
    edges: DataFrame,
    t_max: int = 3,
    p: int = 10,
    direction: str = "out",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013): the neighborhood function and
    harmonic centrality of EVERY node via HLL counters propagated along
    edges — ``(id, ball_0..ball_{t_max}, harmonic_est)``.

    Each node starts with the sketch of {itself}; round t replaces every
    node's sketch with the union of its own and its successors' sketches,
    so after t rounds the sketch counts ``B(v, t) = {u : d(v,u) <= t}``
    (the sketch of a union IS the union of sketches). ``harmonic_est``
    folds the ball increments: ``sum_t (|B(v,t)| - |B(v,t-1)|) / t`` —
    with ``direction="in"`` this estimates harmonic centrality (sum of 1/d
    over nodes that REACH v), the centrality Boldi-Vigna recommend for web
    graphs.

    Counters are Spark's built-in HLL sketches with lgK ``p``
    (``hll_sketch_agg`` / ``hll_union_agg``), estimated through
    ``sketches.hll_estimate``, so every estimate is identical at any
    parallelism and no Python runs.

    Scale shape (the reason this operator exists): state is ONE sketch of
    at most 2^p registers per node — the exact pair table
    :func:`neighborhood_exact` carries is replaced by a CONSTANT-size
    counter, which is what makes neighborhood functions computable on
    billion-node graphs. Each round is one edge join + one sketch-union
    groupBy by node id, lineage cut per round with localCheckpoint — the
    module's standing Pregel-on-DataFrames shape.
    """
    from tstore_spark.operators.sketches import hll_estimate

    if t_max < 1:
        raise ValueError(f"t_max must be >= 1, got {t_max}")
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    e = e.dropDuplicates(["src", "dst"]).localCheckpoint(eager=False)
    nodes = e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id")))
    state = (
        nodes.groupBy("id")
        .agg(F.hll_sketch_agg("id", p).alias("hll"))
        .localCheckpoint(eager=False)
    )

    def _est(st: DataFrame, t: int) -> DataFrame:
        return st.select("id", hll_estimate("hll").alias(f"ball_{t}"))

    wide = _est(state, 0)
    for t in range(1, t_max + 1):
        prop = e.join(state.withColumnRenamed("id", "dst"), "dst").select(
            F.col("src").alias("id"), "hll"
        )
        state = (
            state.unionByName(prop)
            .groupBy("id")
            .agg(F.hll_union_agg("hll").alias("hll"))
            .localCheckpoint(eager=False)
        )
        wide = wide.join(_est(state, t), "id")
    harmonic = F.lit(0.0)
    for t in range(1, t_max + 1):
        harmonic = harmonic + (
            F.col(f"ball_{t}") - F.col(f"ball_{t-1}")
        ) / F.lit(float(t))
    return wide.withColumn("harmonic_est", harmonic)


def hyperball_oracle_sql(edges_sql: str, t_max: int = 3) -> str:
    """DuckDB twin of the :func:`hyperball` gate row: EXACT t-ball sizes
    via one distance-bounded recursive reachability CTE (UNION dedups
    (origin, node, depth) triples; ball_t = distinct nodes within t), the
    identical harmonic fold, and TRUE for the estimator-invariant column
    (the Spark side computes the actual HLL-vs-exact bound — the
    hll_distinct_users gate pattern)."""
    balls = ", ".join(
        f"CAST(COUNT(DISTINCT CASE WHEN d <= {t} THEN n END) AS BIGINT) AS ball_{t}"
        for t in range(1, t_max + 1)
    )
    harm = " + ".join(
        f"(ball_{t} - {'1' if t == 1 else f'ball_{t-1}'}) / {float(t)!r}"
        for t in range(1, t_max + 1)
    )
    return f"""
        WITH RECURSIVE raw AS MATERIALIZED ({edges_sql}),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        r AS (
            SELECT id AS o, id AS n, 0 AS d FROM nodes
            UNION
            SELECT r.o, e.dst AS n, r.d + 1 AS d
            FROM r JOIN e ON e.src = r.n WHERE r.d < {t_max}),
        b AS (SELECT o AS id, {balls} FROM r GROUP BY o)
        SELECT id, ball_1{"".join(f", ball_{t}" for t in range(2, t_max + 1))},
               {harm} AS harmonic_exact,
               TRUE AS est_within
        FROM b
    """


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node over the undirected simple
    graph: ``(node, degree, n_triangles, clustering)`` with
    ``clustering = 2·T / (d·(d−1))`` for ``d >= 2`` and 0.0 otherwise —
    the closed-wedge fraction, the standard link-farm-vs-organic-hub
    discriminator on host graphs (a mutual-link clique scores ~1, a real
    hub ~0). Exact integer degree + triangle counts (the
    :func:`triangle_counts` orientation trick bounds the wedge join at
    O(sqrt(m)) per node); the coefficient is ONE fixed division over
    them, engine-reproducible."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tc = triangle_counts(edges, src, dst)
    j = deg.join(tc, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )
    d = F.col("degree")
    coef = F.when(
        d >= 2, (F.lit(2.0) * F.col("n_triangles")) / (d * (d - F.lit(1)))
    ).otherwise(F.lit(0.0))
    return j.withColumn("clustering", coef)
