"""Host-link graph operators: extraction, degrees, exact integer PageRank."""

import duckdb
import pandas as pd
import pytest

from tstore_spark.operators.graph import (
    extract_links,
    host_degrees,
    host_edges,
    pagerank,
    pagerank_oracle_sql,
)

HTML = [
    ("http://a.com/1", b'<html><a href="http://b.com/x">b</a> <a href=\'http://c.com/\'>c</a></html>'),
    ("http://b.com/1", b'<a href="http://a.com/">back</a><a href="/relative">rel</a>'),
    ("http://c.com/1", b"<html>no links</html>"),
    ("http://a.com/2", b'<a href="http://b.com/y">b again</a>'),
]


def _pure_python_pagerank(edges, iterations=3, damping_pct=85, scale=10**12):
    """The identical integer recursion, straight-line Python."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r0 = scale // n
    base = ((100 - damping_pct) * r0) // 100
    rank = {v: r0 for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += rank[u] // deg[u]
        rank = {v: base + (damping_pct * s[v]) // 100 for v in nodes}
    return rank


def test_extract_links_and_host_edges(spark):
    pages = spark.createDataFrame(pd.DataFrame(HTML, columns=["url", "html"]))
    links = extract_links(pages).toPandas()
    assert len(links) == 5  # relative link still extracted here
    edges = host_edges(extract_links(pages)).toPandas()
    got = {tuple(r) for r in edges.itertuples(index=False)}
    # relative href has no host -> dropped; multi-links a->b dedup to one edge
    assert got == {("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "a.com")}


def test_extract_links_string_column(spark):
    pages = spark.createDataFrame(
        [("http://a.com/", '<a href="http://b.com/">x</a>')], "url string, html string"
    )
    assert extract_links(pages).count() == 1


def test_host_degrees(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("c", "b")], "src string, dst string"
    )
    deg = {r["node"]: (r["out_degree"], r["in_degree"]) for r in host_degrees(edges).collect()}
    assert deg == {"a": (2, 0), "b": (0, 2), "c": (1, 1)}


EDGES = [
    ("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"),
    ("a", "b"), ("d", "a"),
]


def test_pagerank_matches_pure_python(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4).collect()}
    want = _pure_python_pagerank(EDGES, iterations=4)
    assert got == want
    # leaf-only nodes sit at the base level, below the well-linked nodes
    assert got["c"] == got["d"] < got["hub"]


def test_pagerank_deterministic_across_partitioning(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    a = sorted(map(tuple, pagerank(e.repartition(7), iterations=3).collect()))
    b = sorted(map(tuple, pagerank(e.coalesce(1), iterations=3).collect()))
    assert a == b


def test_pagerank_oracle_sql_parity(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    vals = ", ".join(f"('{s}', '{d}')" for s, d in EDGES)
    sql = pagerank_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=3)
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want


def test_pagerank_empty_edges(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e).count() == 0


def test_connected_components_hosts(spark):
    from tstore_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("x.org", "y.org"), ("lone.net", "lone2.net")],
        "src string, dst string",
    )
    comp = {r["node"]: r["component_id"] for r in connected_components(edges).collect()}
    assert comp["a.com"] == comp["b.com"] == comp["c.com"] == "a.com"
    assert comp["x.org"] == comp["y.org"] == "x.org"
    assert comp["lone.net"] == comp["lone2.net"] == "lone.net"


def test_extract_anchors_and_term_profile(spark):
    from tstore_spark.operators.graph import anchor_term_profile, extract_anchors

    pages = spark.createDataFrame(
        [
            ("http://s.com/1",
             b'<a href="http://a.com/p">Buy Cheap Widgets</a>'
             b"<a href='http://b.com/q'>widgets review</a>"),
            ("http://s.com/2", b'<a class="x" href="http://a.com/r">cheap WIDGETS</a>'),
            ("http://s.com/3", b"<p>no links</p>"),
        ],
        "url string, html binary",
    )
    anchors = extract_anchors(pages).collect()
    assert {(r["href"], r["anchor"]) for r in anchors} == {
        ("http://a.com/p", "Buy Cheap Widgets"),
        ("http://b.com/q", "widgets review"),
        ("http://a.com/r", "cheap WIDGETS"),
    }
    prof = {(r["host"], r["term"]): r["n"]
            for r in anchor_term_profile(extract_anchors(pages)).collect()}
    assert prof[("a.com", "widgets")] == 2
    assert prof[("a.com", "cheap")] == 2
    assert prof[("b.com", "review")] == 1
    assert ("b.com", "buy") not in prof


def test_anchor_terms_use_search_tokenizer(spark):
    # punctuated anchors must yield the SAME tokens the inverted index holds
    from tstore_spark.operators.graph import anchor_term_profile, extract_anchors

    pages = spark.createDataFrame(
        [("http://s.com/1", b'<a href="http://a.com/p">Buy Widgets! Now</a>')],
        "url string, html binary",
    )
    prof = {r["term"] for r in anchor_term_profile(extract_anchors(pages)).collect()}
    assert prof == {"buy", "widgets", "now"}  # no 'widgets!'


def _brute_triangles(pairs):
    """All distinct triangles of an undirected edge list, sorted triples."""
    import itertools

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in und for n in e})
    out = set()
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            out.add((a, b, c))
    return sorted(out)


def test_triangles_match_brute_force(spark):
    from tstore_spark.operators.graph import triangle_counts, triangles

    # deterministic pseudo-random graph with a hub (orientation stress)
    pairs = [(f"h{i % 13}", f"h{(i * 7 + 3) % 13}") for i in range(60)]
    pairs += [(f"h{i % 13}", f"h{(i * 5 + 1) % 13}") for i in range(60)]
    pairs += [(f"h{i % 13}", f"h{(i * 3 + 4) % 13}") for i in range(60)]
    pairs += [("hub", f"h{i}") for i in range(13)]  # hub touches everyone
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))

    got = sorted(
        (r["node_a"], r["node_b"], r["node_c"]) for r in triangles(df).collect()
    )
    want = _brute_triangles(pairs)
    assert got == want and len(want) > 20

    counts = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    brute_counts = {}
    for t in want:
        for n in t:
            brute_counts[n] = brute_counts.get(n, 0) + 1
    assert counts == brute_counts


def test_triangles_ignore_direction_self_loops_and_dups(spark):
    from tstore_spark.operators.graph import triangles

    pairs = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),  # one triangle, both dirs
        ("a", "a"),                                       # self loop
        ("c", "a"), ("c", "a"),                           # duplicates
        ("c", "d"),                                       # dangling edge
    ]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    got = [(r["node_a"], r["node_b"], r["node_c"]) for r in triangles(df).collect()]
    assert got == [("a", "b", "c")]


def test_triangles_deterministic_across_partitioning(spark):
    from tstore_spark.operators.graph import triangles

    pairs = [(f"h{i % 9}", f"h{(i * 5 + 2) % 9}") for i in range(40)]
    pairs += [(f"h{i % 9}", f"h{(i * 2 + 3) % 9}") for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    a = sorted(map(tuple, triangles(df.repartition(1)).collect()))
    b = sorted(map(tuple, triangles(df.repartition(16)).collect()))
    assert a == b and len(a) > 0


def _pure_python_hits(edges, iterations=3, scale=10**9):
    """The identical integer ceil-divisor recursion, straight-line."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {v: scale for v in nodes}
    auth = {}
    for _ in range(iterations):
        raw_a = {}
        for u, v in edges:
            raw_a[v] = raw_a.get(v, 0) + hub.get(u, 0)
        mx = max(max(raw_a.values(), default=1), 1)
        d = max((mx + scale - 1) // scale, 1)
        auth = {v: r // d for v, r in raw_a.items()}
        raw_h = {}
        for u, v in edges:
            raw_h[u] = raw_h.get(u, 0) + auth.get(v, 0)
        mx = max(max(raw_h.values(), default=1), 1)
        d = max((mx + scale - 1) // scale, 1)
        hub = {u: r // d for u, r in raw_h.items()}
    return {v: (hub.get(v, 0), auth.get(v, 0)) for v in nodes}


def test_hits_matches_pure_python(spark):
    from tstore_spark.operators.graph import hits

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(edges, iterations=3).collect()}
    assert got == _pure_python_hits(EDGES, iterations=3)


def test_hits_star_semantics(spark):
    """All spokes point at the center: center is THE authority (scale) with
    zero hub score; every spoke is an equal best hub with zero authority."""
    from tstore_spark.operators.graph import hits

    edges = [(f"s{i}", "center") for i in range(5)]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(spark.createDataFrame(edges, "src string, dst string")).collect()
    }
    assert got["center"] == (0, 10**9)
    for i in range(5):
        assert got[f"s{i}"] == (10**9, 0)


def test_hits_oracle_sql_parity(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import hits, hits_oracle_sql

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["authority"]) for r in hits(edges, iterations=2).collect()
    }
    vals = ", ".join(f"('{s}', '{d}')" for s, d in EDGES)
    sql = hits_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=2)
    want = {n: (h, a) for n, h, a in _dd.sql(sql).fetchall()}
    assert got == want


def test_hits_deterministic_across_partitioning(spark):
    from tstore_spark.operators.graph import hits

    e = spark.createDataFrame(EDGES, "src string, dst string")
    a = sorted(map(tuple, hits(e.repartition(7), iterations=3).collect()))
    b = sorted(map(tuple, hits(e.coalesce(1), iterations=3).collect()))
    assert a == b


def test_hits_empty_edges(spark):
    from tstore_spark.operators.graph import hits

    e = spark.createDataFrame([], "src string, dst string")
    assert hits(e).count() == 0


def test_hits_high_degree_no_overflow(spark):
    """In-degree >= 10 overflowed the old multiply-first normalization
    (raw * scale = degree * 1e18 > int64). The ceil-divisor form keeps
    every intermediate <= degree * scale; the Spark result must match the
    pure-Python recursion AND its own SQL twin on a 40-spoke star."""
    import duckdb as _dd

    from tstore_spark.operators.graph import hits, hits_oracle_sql

    edges = [(f"s{i}", "center") for i in range(40)]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(
            spark.createDataFrame(edges, "src string, dst string"), iterations=3
        ).collect()
    }
    assert got == _pure_python_hits(edges, iterations=3)
    assert got["center"] == (0, 10**9)
    assert all(got[f"s{i}"][0] > 0 for i in range(40))
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edges)
    sql = hits_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=3)
    want = {n: (h, a) for n, h, a in _dd.sql(sql).fetchall()}
    assert got == want


def test_hits_rejects_zero_iterations(spark):
    import pytest as _pt

    from tstore_spark.operators.graph import hits

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pt.raises(ValueError, match="iterations"):
        hits(e, iterations=0)


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------


def _brute_k_core(edges, k):
    import collections

    E = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = collections.Counter()
        for a, b in E:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= k}
        E2 = {(a, b) for (a, b) in E if a in keep and b in keep}
        if E2 == E:
            return dict(deg) if all(d >= k for d in deg.values()) else {}
        if not E2:
            return {}
        E = E2


def _kcore_fixture_edges():
    import itertools

    edges = [(i, i + 1) for i in range(12)]                      # path: peels away
    edges += list(itertools.combinations(range(100, 105), 2))    # 5-clique: 4-core
    edges += [(200, x) for x in range(201, 208)]                 # star: empty at k=2
    edges += [(0, 100)]                                          # bridge path->clique
    return edges


def test_k_core_vs_brute_and_planted_shapes(spark):
    from tstore_spark.operators.graph import k_core

    edges = _kcore_fixture_edges()
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    for k in (2, 3, 4, 5):
        got = {r["node"]: r["degree"] for r in k_core(sdf, k=k).collect()}
        assert got == _brute_k_core(edges, k), k
    # planted semantics: star and path peel away entirely; clique is the 4-core
    core2 = {r["node"] for r in k_core(sdf, k=2).collect()}
    assert core2 == set(range(100, 105))
    assert {r["degree"] for r in k_core(sdf, k=4).collect()} == {4}
    assert k_core(sdf, k=5).count() == 0


def test_k_core_oracle_parity(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import k_core, k_core_oracle_sql

    edges = _kcore_fixture_edges()
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    for k in (2, 4):
        got = sorted((r["node"], r["degree"]) for r in k_core(sdf, k=k).collect())
        sql = k_core_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", k=k, rounds=16)
        assert got == sorted(map(tuple, _dd.sql(sql).fetchall())), k


def test_k_core_convergence_guard_and_validation(spark):
    import pytest as _pt

    from tstore_spark.operators.graph import k_core

    path = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(10)], columns=["src", "dst"])
    )
    with _pt.raises(ValueError, match="did not converge"):
        k_core(path, k=2, max_rounds=2)
    with _pt.raises(ValueError, match="k must be"):
        k_core(path, k=0)
    # a long-enough budget peels the whole path to the (empty) 2-core
    assert k_core(path, k=2, max_rounds=10).count() == 0


def test_k_core_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import k_core

    edges = [(i % 37, (i * 17 + 5) % 37) for i in range(200)]
    edges += [(i % 37, (i * 29 + 11) % 37) for i in range(200)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    a = k_core(sdf, k=3, num_partitions=2).collect()
    b = k_core(sdf, k=3, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) != []


# ---------------------------------------------------------------------------
# multi-source BFS hop distance (crawl depth from seeds)
# ---------------------------------------------------------------------------


def _brute_bfs(edges, seeds, max_hops, directed):
    import collections

    adj = collections.defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            if not directed:
                adj[d].add(s)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        frontier = nxt
        if not nxt:
            break
    return dist


_BFS_EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (4, 10),
              (5, 0), (20, 21), (21, 20), (30, 31)]


def test_bfs_hops_vs_brute_directed_and_undirected(spark):
    from tstore_spark.operators.graph import bfs_hops

    sdf = spark.createDataFrame(pd.DataFrame(_BFS_EDGES, columns=["src", "dst"]))
    for directed in (True, False):
        for mh in (2, 10):
            got = {
                r["node"]: r["hops"]
                for r in bfs_hops(sdf, [0, 20], max_hops=mh, directed=directed).collect()
            }
            assert got == _brute_bfs(_BFS_EDGES, [0, 20], mh, directed), (directed, mh)
    # directed: 5 -> 0 edge never reaches 5 from seed 0; undirected does
    d = {r["node"]: r["hops"] for r in bfs_hops(sdf, [0], directed=True).collect()}
    u = {r["node"]: r["hops"] for r in bfs_hops(sdf, [0], directed=False).collect()}
    assert 5 not in d and u[5] == 1
    # unreached component omitted entirely
    assert 30 not in u and 31 not in u


def test_bfs_hops_oracle_parity(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import bfs_hops, bfs_hops_oracle_sql

    sdf = spark.createDataFrame(pd.DataFrame(_BFS_EDGES, columns=["src", "dst"]))
    vals = ", ".join(f"({s},{d})" for s, d in _BFS_EDGES)
    for directed in (True, False):
        got = sorted(
            (r["node"], r["hops"])
            for r in bfs_hops(sdf, [0, 20], max_hops=6, directed=directed).collect()
        )
        sql = bfs_hops_oracle_sql(
            f"SELECT * FROM (VALUES {vals}) t(src, dst)",
            "SELECT 0 AS node UNION ALL SELECT 20",
            max_hops=6,
            directed=directed,
        )
        assert got == sorted(map(tuple, _dd.sql(sql).fetchall())), directed


def test_bfs_hops_guards_and_seed_only(spark):
    from tstore_spark.operators.graph import bfs_hops

    sdf = spark.createDataFrame(pd.DataFrame(_BFS_EDGES, columns=["src", "dst"]))
    with pytest.raises(ValueError, match="max_hops"):
        bfs_hops(sdf, [0], max_hops=0)
    with pytest.raises(ValueError, match="seeds"):
        bfs_hops(sdf, [])
    # a seed absent from the graph still reports itself at hop 0
    got = {r["node"]: r["hops"] for r in bfs_hops(sdf, [999], max_hops=3).collect()}
    assert got == {999: 0}


def test_bfs_hops_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import bfs_hops

    edges = [(i % 53, (i * 13 + 3) % 53) for i in range(150)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    a = bfs_hops(sdf, [0], directed=False, num_partitions=2).collect()
    b = bfs_hops(sdf, [0], directed=False, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) != []


# ---------------------------------------------------------------------------
# redirect-chain resolution (pointer doubling)
# ---------------------------------------------------------------------------

_REDIRECTS = (
    [(f"c{i}", f"c{i+1}") for i in range(9)]        # 9-hop chain -> c9
    + [("x", "y"), ("y", "x")]                      # 2-cycle
    + [("self", "self")]                            # 1-cycle
    + [("a", "final"), ("b", "final")]              # direct terminals
    + [("into_cycle", "x")]                         # chain ending in a cycle
)


def test_resolve_redirects_chains_cycles_terminals(spark):
    from tstore_spark.operators.graph import resolve_redirects

    sdf = spark.createDataFrame(pd.DataFrame(_REDIRECTS, columns=["src", "dst"]))
    got = {r["url"]: (r["final_url"], r["resolved"])
           for r in resolve_redirects(sdf, max_rounds=6).collect()}
    for i in range(9):
        assert got[f"c{i}"] == ("c9", True)          # log2(9) < 6 rounds
    assert got["a"] == ("final", True) and got["b"] == ("final", True)
    assert not got["x"][1] and not got["y"][1] and not got["self"][1]
    assert not got["into_cycle"][1]                  # never terminates
    assert len(got) == len(_REDIRECTS)


def test_resolve_redirects_oracle_parity_and_log_bound(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import (
        resolve_redirects,
        resolve_redirects_oracle_sql,
    )

    sdf = spark.createDataFrame(pd.DataFrame(_REDIRECTS, columns=["src", "dst"]))
    vals = ", ".join(f"('{s}', '{d}')" for s, d in _REDIRECTS)
    for rounds in (3, 6):
        got = sorted(map(tuple, resolve_redirects(sdf, max_rounds=rounds).collect()))
        sql = resolve_redirects_oracle_sql(
            f"SELECT * FROM (VALUES {vals}) t(src, dst)", max_rounds=rounds
        )
        assert got == sorted(map(tuple, _dd.sql(sql).fetchall())), rounds
    # 3 doublings resolve chains up to 2^3 hops: c0 (9 hops) is NOT yet
    # terminal, c1 (8 hops) is — the log bound, exactly
    got3 = {r["url"]: r["resolved"]
            for r in resolve_redirects(sdf, max_rounds=3).collect()}
    assert not got3["c0"] and got3["c1"]


def test_resolve_redirects_guards(spark):
    import pyspark.errors

    from tstore_spark.operators.graph import resolve_redirects

    dup = spark.createDataFrame(
        pd.DataFrame([("u", "a"), ("u", "b")], columns=["src", "dst"])
    )
    with pytest.raises(pyspark.errors.PySparkException, match="duplicate source"):
        resolve_redirects(dup).collect()
    with pytest.raises(ValueError, match="max_rounds"):
        resolve_redirects(dup, max_rounds=0)


def test_resolve_redirects_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import resolve_redirects

    chain = [(f"u{i}", f"u{i+1}") for i in range(200)]
    sdf = spark.createDataFrame(pd.DataFrame(chain, columns=["src", "dst"]))
    a = resolve_redirects(sdf, max_rounds=8, num_partitions=2).collect()
    b = resolve_redirects(sdf, max_rounds=8, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["final_url"] == "u200" and r["resolved"] for r in a)


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _brute_lpa(edges, iters):
    import collections

    und = collections.defaultdict(set)
    for s, d in edges:
        if s != d:
            und[s].add(d)
            und[d].add(s)
    lab = {n: n for n in und}
    for _ in range(iters):
        lab = {
            n: min(
                collections.Counter(lab[m] for m in und[n]).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for n in und
        }
    return lab


_LPA_EDGES = (
    [(a, b) for a in range(6) for b in range(a + 1, 6)]            # clique A
    + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]  # clique B
    + [(5, 100)]                                                    # bridge
    + [(200 + i, 200 + (i + 1) % 5) for i in range(5)]              # 5-cycle
)


def test_label_propagation_vs_brute_and_cliques(spark):
    from tstore_spark.operators.graph import label_propagation

    sdf = spark.createDataFrame(pd.DataFrame(_LPA_EDGES, columns=["src", "dst"]))
    for it in (1, 4):
        got = {r["node"]: r["community"]
               for r in label_propagation(sdf, iterations=it).collect()}
        assert got == _brute_lpa(_LPA_EDGES, it), it
    got = {r["node"]: r["community"]
           for r in label_propagation(sdf, iterations=4).collect()}
    # bridged cliques: one COMPONENT but two COMMUNITIES
    a, b = {got[i] for i in range(6)}, {got[i] for i in range(100, 106)}
    assert a == {0} and b == {100}
    with pytest.raises(ValueError, match="iterations"):
        label_propagation(sdf, iterations=0)


def test_label_propagation_oracle_parity(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import (
        label_propagation,
        label_propagation_oracle_sql,
    )

    sdf = spark.createDataFrame(pd.DataFrame(_LPA_EDGES, columns=["src", "dst"]))
    vals = ", ".join(f"({s}, {d})" for s, d in _LPA_EDGES)
    got = sorted(
        map(tuple, label_propagation(sdf, iterations=4).collect())
    )
    sql = label_propagation_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iterations=4
    )
    assert got == sorted(map(tuple, _dd.sql(sql).fetchall()))


def test_label_propagation_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import label_propagation

    edges = [(i % 41, (i * 13 + 3) % 41) for i in range(150)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    a = label_propagation(sdf, iterations=3, num_partitions=2).collect()
    b = label_propagation(sdf, iterations=3, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) != []


# ---------------------------------------------------------------- SCC


def _brute_scc(edges):
    """Tarjan-free brute force: per-node DFS reach sets, mutual-min ids."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)

    def reach(v):
        seen, stack = set(), [v]
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    r = {v: reach(v) for v in nodes}
    return {
        v: min([v] + [u for u in nodes if u in r[v] and v in r[u]])
        for v in nodes
    }


_SCC_EDGES = (
    [(i, i + 1) for i in range(5)]            # path: singleton SCCs
    + [(10, 11), (11, 12), (12, 10)]          # 3-cycle
    + [(20, 21), (21, 20), (21, 22), (22, 23), (23, 21)]  # nested cycles
    + [(4, 10), (12, 20)]                     # DAG links between them
    + [(30, 30)]                              # self-loop
)


def test_scc_vs_brute(spark):
    from tstore_spark.operators.graph import scc

    sdf = spark.createDataFrame(pd.DataFrame(_SCC_EDGES, columns=["src", "dst"]))
    got = {r["node"]: r["scc_id"] for r in scc(sdf).collect()}
    assert got == _brute_scc(_SCC_EDGES)
    # the planted structure, explicitly
    assert got[10] == got[11] == got[12] == 10
    assert got[20] == got[21] == got[22] == got[23] == 20
    assert len({got[i] for i in range(5)}) == 5


def test_scc_oracle_parity_and_guard(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import scc, scc_oracle_sql, transitive_closure

    sdf = spark.createDataFrame(pd.DataFrame(_SCC_EDGES, columns=["src", "dst"]))
    got = sorted(map(tuple, scc(sdf, doubling_rounds=4).collect()))
    vals = ", ".join(f"({s}, {d})" for s, d in _SCC_EDGES)
    sql = scc_oracle_sql(f"SELECT * FROM (VALUES {vals}) t(src, dst)", doubling_rounds=4)
    assert got == sorted(map(tuple, _dd.sql(sql).fetchall()))
    with pytest.raises(ValueError, match="max_pairs"):
        transitive_closure(sdf, max_pairs=3).count()


def test_scc_long_cycle_needs_doubling(spark):
    from tstore_spark.operators.graph import scc

    # 40-node directed cycle: diameter 39 > 2^5 would fail at rounds=5? no:
    # 2^5=32 < 39 hops -> with rounds 5 the closure is still the full cycle
    # because doubling composes the CLOSURE (1..2^k hops), 2^6=64 >= 39. Use
    # rounds=6 and verify one SCC; rounds high default also fine.
    edges = [(i, (i + 1) % 40) for i in range(40)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["scc_id"] for r in scc(sdf, doubling_rounds=6).collect()}
    assert set(got.values()) == {0} and len(got) == 40


def test_scc_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import scc

    edges = [(i % 23, (i * 7 + 2) % 23) for i in range(60)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    a = scc(sdf, num_partitions=2).collect()
    b = scc(sdf, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) != []


# ---------------------------------------------------------- co-citation


def test_cocitation_vs_brute(spark):
    from tstore_spark.operators.graph import cocitation

    edges = [
        ("s1", "a"), ("s1", "b"), ("s1", "c"),
        ("s2", "a"), ("s2", "b"),
        ("s3", "a"), ("s3", "b"), ("s3", "a"),  # dup edge dedups
        ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
    ]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {
        (r["node_a"], r["node_b"]): r["n_common"]
        for r in cocitation(sdf, max_out_degree=3).collect()
    }
    # hub (out-degree 4 > 3) excluded; s3's duplicate edge counted once
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}

    from tstore_spark.operators.graph import bibliographic_coupling

    coup = {
        (r["node_a"], r["node_b"]): r["n_common"]
        for r in bibliographic_coupling(sdf, max_in_degree=10).collect()
    }
    # sources sharing targets: s1&s2 share {a,b}, etc. ("hub" now a source node)
    assert coup[("s1", "s2")] == 2 and coup[("hub", "s1")] == 3
    with pytest.raises(ValueError, match="max_out_degree"):
        cocitation(sdf, max_out_degree=1)


def test_cocitation_oracle_parity(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import cocitation, cocitation_oracle_sql

    edges = [(f"s{i % 7}", f"d{(i * 5 + j) % 11}") for i in range(40) for j in (0, 1)]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = sorted(map(tuple, cocitation(sdf, max_out_degree=20).collect()))
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edges)
    sql = cocitation_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", max_out_degree=20
    )
    assert got == sorted(map(tuple, _dd.sql(sql).fetchall())) != []


# ------------------------------------------------- personalized PageRank


def _brute_ppr(edges, seeds, iterations=3, damping_pct=85, scale=10**12):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges} | set(seeds))
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r0 = scale // len(seeds)
    base = ((100 - damping_pct) * r0) // 100
    rank = {v: (r0 if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        acc = {v: 0 for v in nodes}
        for u, v in edges:
            acc[v] += rank[u] // deg[u]
        rank = {
            v: (base if v in seeds else 0) + (damping_pct * acc[v]) // 100
            for v in nodes
        }
    return rank


def test_personalized_pagerank_vs_brute_and_oracle(spark):
    import duckdb as _dd

    from tstore_spark.operators.graph import (
        personalized_pagerank,
        personalized_pagerank_oracle_sql,
    )

    edges = [("t", "a"), ("a", "b"), ("b", "a"), ("spam1", "spam2"),
             ("spam2", "spam1"), ("b", "c"), ("x", "t")]
    seeds = ["t"]
    sdf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["rank"] for r in personalized_pagerank(sdf, seeds).collect()}
    assert got == _brute_ppr(edges, seeds)
    # the trust story: the disconnected spam ring holds ZERO trust even
    # though its global pagerank is self-sustaining
    assert got["spam1"] == 0 and got["spam2"] == 0 and got["a"] > 0
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edges)
    sql = personalized_pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)",
        "SELECT 't' AS node",
        n_seeds=1,
    )
    assert sorted(got.items()) == sorted(_dd.sql(sql).fetchall())
    with pytest.raises(ValueError, match="duplicate seeds"):
        personalized_pagerank(sdf, ["t", "t"])
    with pytest.raises(ValueError, match="non-empty"):
        personalized_pagerank(sdf, [])


def test_personalized_pagerank_seed_not_in_graph(spark):
    from tstore_spark.operators.graph import personalized_pagerank

    sdf = spark.createDataFrame(
        pd.DataFrame([("a", "b")], columns=["src", "dst"])
    )
    got = {r["node"]: r["rank"] for r in personalized_pagerank(sdf, ["zz"]).collect()}
    # isolated seed keeps only its teleport base; graph nodes get nothing
    assert set(got) == {"a", "b", "zz"}
    assert got["zz"] > 0 and got["a"] == 0 and got["b"] == 0


# ---------------------------------------------------------------------------
# HyperBall neighborhood function + harmonic centrality
# ---------------------------------------------------------------------------


def _hb_edges(spark):
    # path a->b->c->d, a cycle x->y->z->x, and a hub h -> a,x
    rows = [("a", "b"), ("b", "c"), ("c", "d"),
            ("x", "y"), ("y", "z"), ("z", "x"),
            ("h", "a"), ("h", "x")]
    return spark.createDataFrame(rows, "src string, dst string")


def _exact_balls(rows, t_max, direction="out"):
    from collections import defaultdict

    adj = defaultdict(set)
    nodes = set()
    for s, d in rows:
        nodes |= {s, d}
        if direction == "out":
            adj[s].add(d)
        else:
            adj[d].add(s)
    out = {}
    for v in nodes:
        ball = {v}
        balls = [1]
        for _ in range(t_max):
            ball = ball | {w for u in ball for w in adj[u]}
            balls.append(len(ball))
        out[v] = balls
    return out


def test_neighborhood_exact_matches_brute_force(spark):
    from tstore_spark.operators.graph import neighborhood_exact

    e = _hb_edges(spark)
    rows = [tuple(r) for r in e.collect()]
    for direction in ("out", "in"):
        got = {r["id"]: [r[f"ball_{t}"] for t in range(4)]
               for r in neighborhood_exact(e, 3, direction=direction).collect()}
        assert got == _exact_balls(rows, 3, direction)


def test_hyperball_tracks_exact_balls(spark):
    from tstore_spark.operators.graph import hyperball

    e = _hb_edges(spark)
    rows = [tuple(r) for r in e.collect()]
    want = _exact_balls(rows, 3, "out")
    got = {r["id"]: r for r in hyperball(e, t_max=3, p=10).collect()}
    assert set(got) == set(want)
    for v, balls in want.items():
        for t in range(4):
            est = got[v][f"ball_{t}"]
            assert abs(est - balls[t]) <= 0.1 * balls[t] + 0.1, (v, t)
    # harmonic estimate folds the increments
    for v in want:
        harm = sum((want[v][t] - want[v][t - 1]) / t for t in range(1, 4))
        assert abs(got[v]["harmonic_est"] - harm) <= 0.15 * harm + 0.15, v


def test_hyperball_in_direction_is_reverse_reachability(spark):
    from tstore_spark.operators.graph import hyperball

    e = _hb_edges(spark)
    got = {r["id"]: r["ball_3"] for r in hyperball(e, 3, direction="in").collect()}
    # d is reached by a,b,c,h within 3 (plus itself-ish); h is reached by none
    assert got["h"] < got["d"]


def test_hyperball_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import hyperball

    e = _hb_edges(spark)
    a = sorted(map(tuple, hyperball(e.repartition(1), 2, p=8).collect()))
    b = sorted(map(tuple, hyperball(e.repartition(7), 2, p=8).collect()))
    assert a == b  # exact bits: hll_estimate is layout-independent


def test_hyperball_guards(spark):
    import pytest as _pt

    from tstore_spark.operators.graph import hyperball, neighborhood_exact

    e = _hb_edges(spark)
    with _pt.raises(ValueError, match="t_max"):
        hyperball(e, t_max=0)
    with _pt.raises(ValueError, match="direction"):
        hyperball(e, direction="both")
    with _pt.raises(ValueError, match="t_max"):
        neighborhood_exact(e, 0)


def test_clustering_coefficient_matches_brute_force(spark):
    from itertools import combinations

    from tstore_spark.operators.graph import clustering_coefficient

    # triangle abc + pendant d on a + square wxyz (no triangles)
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
            ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"),
            ("b", "a")]  # duplicate reversed edge: simple-graph dedup
    e = spark.createDataFrame(rows, "src string, dst string")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in clustering_coefficient(e).collect()}

    adj = {}
    for s, d in rows:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    for v, nb in adj.items():
        t = sum(1 for x, y in combinations(sorted(nb), 2) if y in adj[x])
        deg = len(nb)
        coef = (2.0 * t) / (deg * (deg - 1)) if deg >= 2 else 0.0
        assert got[v] == (deg, t, coef), v
    assert got["a"][2] == pytest.approx(1 / 3)  # 1 triangle of 3 wedge pairs
    assert got["d"] == (1, 0, 0.0)
    assert got["w"][1] == 0


def test_clustering_deterministic_across_parallelism(spark):
    from tstore_spark.operators.graph import clustering_coefficient

    rows = [(f"n{i % 20}", f"n{(i * 7 + 3) % 20}") for i in range(500)]
    e = spark.createDataFrame(rows, "src string, dst string")
    a = sorted(map(tuple, clustering_coefficient(e.repartition(1)).collect()))
    b = sorted(map(tuple, clustering_coefficient(e.repartition(13)).collect()))
    assert a == b
