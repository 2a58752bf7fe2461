"""Deduplication operators for web-text corpora: exact, MinHash+LSH, SimHash,
and n-gram/token Jaccard verification.

Four tiers of the standard training-data dedup stack, each Spark-first:

- **exact**: hash-groupBy on a canonical fingerprint (md5 of normalized
  text). One shuffle on the hash, min-id wins — fully distributed.
- **MinHash + LSH**: word-shingles -> k minhashes (xxhash64 with k seeds,
  all JVM-side expressions) -> b bands of r rows -> band-hash equi-self-join
  -> candidate pairs -> exact Jaccard verify on the shingle sets. The classic
  Broder/LSH construction (cf. MMDS ch.3) with zero Python in the signature
  path.
- **SimHash**: 64-bit Charikar signature per document via a vectorized Arrow
  UDF (numpy bit-twiddling over stable blake2b token hashes), near-dup pairs
  by Hamming distance <= k using band-partitioned self-join (pigeonhole: any
  pair within distance k shares at least one of k+1 bands exactly).
- **Jaccard verify**: exact token/shingle Jaccard as a JVM expression
  (array_distinct / array_intersect sizes).

Scale notes (100 TB): the LSH self-join shuffles on (band_idx, band_hash) —
uniform by construction (hashes), so no skew; candidate verification touches
only the bucketed pairs, never the n^2 cross join. Signatures are ~k*8 bytes
per doc — a fraction of the text column. For byte-range dedup across crawls,
run per-day partitions first, then a cross-day pass over surviving pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from tstore_spark.functions.text import fingerprint, tokens
from tstore_spark.plans.scope import op_scope, scoped_cache

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: (keep_id = min id, n_copies).

    The survivor set of exact dedup; anti-join the input against it on
    ``keep_id`` to drop duplicates.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The deduplicated table itself (first id per fingerprint survives)."""
    w = exact_dedup_groups(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(w, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + exact Jaccard (JVM expressions)
# ---------------------------------------------------------------------------


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), as an array column.

    String shingles are the readable/debuggable form; the hot paths use
    :func:`with_hashed_shingles` (identity-equivalent int64 shingles, ~20x
    cheaper to build — no per-shingle slice+concat string work)."""
    toks = tokens(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def with_hashed_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """(id, shingles array<long>): distinct int64 word-n-gram shingles.

    Tokens hash once (xxhash64 per token); a shingle hash combines the n
    consecutive token hashes with one more xxhash64 — zero string
    slicing/concatenation. The token-hash array is HOISTED into a named
    column first: referencing a transform() expression k times re-evaluates
    it k times per element (measured 90x slower un-hoisted). Shingle
    identity equals the string form's up to xxhash64 collisions (~1e-14 per
    pair-union). Short docs (< n tokens) yield one shingle over the
    available tokens (out-of-range token slots are null and xxhash64 skips
    nulls), mirroring word_shingles' single truncated shingle.
    """
    staged = _staged_token_hashes(df, id_col, text_col)
    sh = _hashed_shingle_expr(F.col("_th"), n)
    return staged.select(F.col(id_col), sh.alias(out_col))


def _staged_token_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda x: F.xxhash64(x)).alias("_th"),
    )


def staged_token_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The shared tokenize+hash pass: ``(id, _th, _tl)``.

    ``_th`` = per-token xxhash64 array (NULL text coalesced to ''), ``_tl`` =
    trimmed text length (0 marks the empty/NULL doc — ``split`` returns
    ``[""]`` there, so array emptiness cannot distinguish it). Tokenizing +
    hashing is the dominant doc-proportional cost of every pair operator;
    when a caller composes several of them over the SAME corpus (the
    sketch-plus-exact invariant gates), build this frame once, cache it, and
    pass it as ``token_hashes=`` to each — the pass then runs once total
    instead of once per operator."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    return df.select(
        F.col(id_col),
        F.transform(tokens(c), lambda t: F.xxhash64(t)).alias("_th"),
        F.length(F.trim(c)).alias("_tl"),
    )


def _hashed_shingle_expr(th: Column, n: int) -> Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(th) - F.lit(n), F.lit(0))),
            # F.get is 0-based and null (not error) out of range — ANSI-safe
            lambda i: F.xxhash64(*[F.get(th, i + k) for k in range(n)]),
        )
    )


def exploded_hashed_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    gram_col: str = "gram",
) -> DataFrame:
    """(id, gram) rows — one per distinct hashed word n-gram.

    Deliberately NOT ``with_hashed_shingles(...).select(explode(col))``:
    exploding a shingle ARRAY COLUMN makes InferFiltersFromGenerate add a
    ``size(col) > 0`` filter which predicate pushdown then rewrites through
    the projections, inlining the entire shingle construction (token hashing
    re-expanded once per n-gram slot) into one giant interpreted Filter —
    measured ~30x slower at sf0.1. Exploding the EXPRESSION keeps the plan a
    bare Generate over the hoisted token-hash projection, where the work is
    done exactly once per document."""
    staged = _staged_token_hashes(df, id_col, text_col)
    sh = _hashed_shingle_expr(F.col("_th"), n)
    return staged.select(F.col(id_col), F.explode(sh).alias(gram_col))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


#: default per-block candidate budget: a block of B docs generates B*(B-1)/2
#: pairs; 10M pairs per block keeps the worst single task bounded
MAX_BLOCK_CANDIDATES = 10_000_000


@op_scope()
def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "source",
    threshold: float = 0.8,
    max_block_candidates: int | None = MAX_BLOCK_CANDIDATES,
) -> DataFrame:
    """All-pairs token Jaccard within a blocking key (same-source pairs).

    Blocking bounds the quadratic term — but only if no single block is
    huge, so the operator refuses hot blocks: if any block's pair count
    B*(B-1)/2 exceeds ``max_block_candidates``, it raises with the offending
    keys and the instruction to route that corpus through
    :func:`minhash_near_dup_pairs` (banded LSH — linear in docs) instead.
    The guard is one narrow count-by-key over the blocking column (cheap
    next to the pairwise join it protects); ``max_block_candidates=None``
    disables it. Same guard pattern as ``TSLong.to_tswide``'s id cap.
    """
    if block_col is None and max_block_candidates is not None:
        # unblocked = one global block: guard on the total row count
        n = df.count()
        if n * (n - 1) // 2 > max_block_candidates:
            raise ValueError(
                f"unblocked all-pairs over {n} docs = {n*(n-1)//2} candidate "
                f"pairs (> {max_block_candidates}); use minhash_near_dup_pairs"
            )
    elif block_col is not None and max_block_candidates is not None:
        hot = (
            df.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") * (F.col("_n") - 1) / 2 > max_block_candidates)
            .limit(5)
            .collect()
        )
        if hot:
            keys = [r[block_col] for r in hot]
            raise ValueError(
                f"block(s) {keys} exceed {max_block_candidates} candidate pairs "
                "— quadratic blow-up; route this corpus through "
                "minhash_near_dup_pairs (banded LSH) instead"
            )
    # tokens are hashed to int64 once per doc BEFORE the pairwise join:
    # array_intersect/array_union over longs is markedly cheaper than over
    # strings, and the set sizes (hence Jaccard) are unchanged up to xxhash64
    # collisions within a doc pair's union (~10^2 tokens -> P(collision)
    # ~ 1e-14, negligible even at corpus scale since only per-pair unions
    # matter, never the global vocabulary)
    d = df.select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.array_distinct(F.transform(tokens(text_col), lambda t: F.xxhash64(t))).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    a = d.alias("a")
    b = d.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    # length-ratio prefilter (implied by the threshold, so results are
    # unchanged): J(A,B) >= t forces t*|larger| <= |smaller| — evaluated on
    # two ints before the expensive array intersect/union
    cond = cond & (
        F.least(F.col("a.n_toks"), F.col("b.n_toks"))
        >= F.lit(threshold) * F.greatest(F.col("a.n_toks"), F.col("b.n_toks"))
    )
    # intersection-only Jaccard: |A∪B| = |A| + |B| - |A∩B| for distinct
    # arrays, so the expensive array_union per pair is replaced by two ints
    # already at hand — bit-identical result (same integers into the same
    # division). The pared table is MATERIALIZED (scoped cache of 4 ints per
    # surviving candidate — bounded by max_block_candidates) before the
    # threshold filter: left lazy, Catalyst substitutes the filter's jaccard
    # expression back into the JOIN condition, re-running array_intersect for
    # every raw block pair instead of only the length-filtered survivors
    # (measured ~8x slower at sf0.1: 622k vs 41k intersects).
    pared = scoped_cache(
        a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).alias("_inter"),
            (F.col("a.n_toks") + F.col("b.n_toks")).alias("_tot"),
        )
    )
    u = F.col("_tot") - F.col("_inter")
    return (
        pared.select(
            "id_a",
            "id_b",
            F.round(
                F.when(u == 0, F.lit(0.0)).otherwise(F.col("_inter") / u), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


@op_scope()
def shingle_jaccard_pairs_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    token_hashes: DataFrame | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard pairs via the shared-shingle equi-join — the
    SQL oracle's semantics, distributed: any J>0 pair shares >= 1 shingle,
    so the equi-join's candidate set has perfect recall; intersections are
    counted in one groupBy; J = inter / (|A| + |B| - inter) on exact ints.

    Quadratic in per-gram document frequency — this is the ground-truth /
    verification path (gate scale), not the corpus-scale sketch path
    (:func:`minhash_near_dup_pairs`); at scale apply the same rare-shingle
    restriction as :func:`containment_pairs` ``max_gram_df``.

    The join carries each side's shingle-set size and prunes on the
    length-ratio bound implied by the threshold (J >= t forces
    t*|larger| <= |smaller| — the :func:`token_jaccard_pairs` prefilter), so
    results are unchanged while mismatched-size candidates never reach the
    intersection count; the slack (t - 1e-4) keeps the emitted
    ``round(J, 4) >= t`` filter from dropping a boundary pair.
    """
    # the exploded table is consumed 3x (sizes + both join sides): cache it
    # or the doc-proportional tokenize+hash work runs three times
    staged = (
        token_hashes
        if token_hashes is not None
        else _staged_token_hashes(df, id_col, text_col)
    )
    # The shingle ARRAY is built exactly once into a scoped cache; size and
    # explode then read the cached column. Exploding a column is the
    # InferFiltersFromGenerate hazard (see exploded_hashed_shingles) ONLY
    # when the array construction sits in the same optimizable plan — here
    # the cache boundary (InMemoryRelation) stops the pushdown, so the
    # inferred size>0 filter lands on the cache scan, never re-inlines the
    # gram hashing. The size rides every gram row so the length-ratio prune
    # happens IN the join condition and the old two sizes-lookup joins
    # disappear.
    arr = scoped_cache(
        staged.select(F.col(id_col), _hashed_shingle_expr(F.col("_th"), n).alias("_sh"))
    )
    ex = arr.select(
        F.col(id_col), F.size("_sh").alias("_n"), F.explode("_sh").alias("gram")
    )
    t_eff = max(float(threshold) - 1e-4, 1e-12)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a._n") * F.lit(t_eff) <= F.col("b._n"))
            & (F.col("b._n") * F.lit(t_eff) <= F.col("a._n")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    j = F.round(F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")), 4)
    return inter.select("id_a", "id_b", j.alias("jaccard")).where(
        F.col("jaccard") >= F.lit(float(threshold))
    )


@op_scope()
def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_candidates: int | None = MAX_BLOCK_CANDIDATES,
) -> DataFrame:
    """EXACT shingle-Jaccard pairs via prefix filtering (AllPairs,
    Chaudhuri et al. ICDE'06 / Bayardo WWW'07) — same output as
    :func:`shingle_jaccard_pairs_exact`, but the candidate join touches
    only each document's PREFIX: its ⌊(1−t)·|A|⌋+1 globally RAREST
    shingles (canonical order = ascending document frequency, shingle hash
    tiebreak). Any pair with J ≥ t must share a prefix element in that
    order, so recall is perfect BY THEOREM, while candidate volume is
    quadratic only in rare-shingle document frequency — the classic
    exact-similarity-join scale shape (the full shared-shingle join is
    quadratic in EVERY shingle's df, boilerplate included).

    Survivors are re-scored on the full shingle sets with the identical
    integers and op order as the exact path, so emitted (id_a, id_b,
    jaccard) rows hash-match it. Because the emitted filter is
    ``round(J, 4) >= t``, every internal prune (prefix length, length
    ratio) uses a slack threshold t−1e-4 — rounding can never resurrect a
    pair the filters dropped.

    Cost shape: +1 shuffle for the global df count and +1 for the per-doc
    re-sort vs the plain join, repaid at corpus scale where common-shingle
    postings dominate. Still output-bound: a corpus of near-identical docs
    has quadratic OUTPUT; ``max_candidates`` guards the run (same valve as
    :func:`token_jaccard_pairs`, routing hot corpora to the sketch path).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # slack threshold: emitted filter is round(J,4) >= t, i.e. J >= t - 5e-5
    t_eff = max(threshold - 1e-4, 1e-12)
    sh = scoped_cache(with_hashed_shingles(df, id_col, text_col, n))
    ex = sh.select(F.col(id_col), F.explode("shingles").alias("gram"))
    # canonical order: (df asc, gram asc) — total within a doc (grams
    # distinct); struct array_sort is lexicographic over the fields. The
    # document frequency rides each posting via a count window over the
    # SAME gram exchange (round 5: one exchange; the previous
    # groupBy-then-join shape shuffled the postings twice — measured 2x)
    gw = Window.partitionBy("gram")
    ordered = (
        ex.withColumn("_df", F.count(F.lit(1)).over(gw))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("gram")))
            ).alias("_ord")
        )
    )
    s = F.size("_ord")
    # J >= t_eff ⟹ |A∩B| >= ceil(t_eff·|A|) ⟹ a shared element sits in the
    # first |A| − ceil(t_eff·|A|) + 1 of BOTH docs' canonical orders
    p = s - F.ceil(s * F.lit(t_eff) - F.lit(1e-9)).cast("int") + F.lit(1)
    prefix = scoped_cache(
        ordered.select(
            F.col(id_col),
            s.alias("_n"),
            F.explode(
                F.transform(F.slice("_ord", F.lit(1), p), lambda x: x["gram"])
            ).alias("gram"),
        )
    )
    if max_candidates is not None:
        est = (
            prefix.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.sum(F.col("_c") * (F.col("_c") - 1) / 2).alias("_pairs"))
            .first()["_pairs"]
        )
        if est is not None and est > max_candidates:
            raise ValueError(
                f"prefix postings imply ~{int(est)} candidate pairs "
                f"(> {max_candidates}) — the corpus is near-duplicate-dense; "
                "route it through minhash_near_dup_pairs (banded LSH) or "
                "raise max_candidates"
            )
    a = prefix.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"), "gram")
    b = prefix.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"), "gram")
    cand = (
        a.join(b, "gram")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter (slack): J >= t_eff forces t_eff·|larger| <= |smaller|
            & (
                F.least("_na", "_nb")
                >= F.lit(t_eff) * F.greatest("_na", "_nb") - F.lit(1e-9)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ver = cand.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa")), "id_a"
    ).join(
        sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb")), "id_b"
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    # same integers, same op order as shingle_jaccard_pairs_exact
    j = F.round(inter / (F.size("_sa") + F.size("_sb") - inter), 4)
    return ver.select("id_a", "id_b", j.alias("jaccard")).where(
        F.col("jaccard") >= F.lit(float(threshold))
    )


@op_scope()
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment: ``(contained_id, container_id,
    containment)`` where containment = |S(a) ∩ S(b)| / |S(a)| ≥ threshold.

    Detects quotes and aggregator pages — a small doc fully embedded in a
    big one. Jaccard (and therefore minhash LSH) cannot see these: a
    200-shingle doc inside a 20k-shingle page has J ≈ 0.01 but containment
    1.0. Candidates come from a shared-shingle equi-join (a pair is
    compared iff it shares ≥ 1 shingle — exactly the oracle's semantics),
    intersections are counted per pair in one groupBy, and BOTH directions
    are emitted from each unordered pair.

    Scale: the equi-join is linear in posting-list sizes but quadratic in
    each shingle's document frequency — boilerplate shingles are the skew
    bomb. ``max_gram_df`` restricts CANDIDATE GENERATION to grams shared by
    at most that many docs (the standard rare-shingle restriction; a
    surviving pair must share ≥ 1 rare shingle — the documented recall
    trade), but the containment SCORE of every surviving pair is still
    exact: the common-gram contribution is recounted with the common
    postings semi-joined down to candidate docs first, so the expensive
    lists never all-pairs-join. (Scoring from the filtered table alone
    biased every score low by its common-gram overlap — a fully-contained
    quote made of 95% boilerplate scored 0.05.) Default None = exact,
    matching the SQL oracle.
    """
    ex = scoped_cache(exploded_hashed_shingles(df, id_col, text_col, n))
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))

    def _pair_counts(postings: DataFrame, out: str) -> DataFrame:
        a, b = postings.alias("a"), postings.alias("b")
        return (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    if max_gram_df is not None:
        gram_df = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        rare = ex.join(gram_df.where(F.col("_df") <= max_gram_df).select("gram"), "gram")
        cand = scoped_cache(_pair_counts(rare, "_inter_rare"))
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionAll(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        common = ex.join(
            gram_df.where(F.col("_df") > max_gram_df).select("gram"), "gram"
        ).join(cand_ids, id_col, "left_semi")
        inter = (
            cand.join(_pair_counts(common, "_inter_common"), ["id_a", "id_b"], "left")
            .select(
                "id_a",
                "id_b",
                (F.col("_inter_rare") + F.coalesce(F.col("_inter_common"), F.lit(0))).alias("_inter"),
            )
        )
    else:
        inter = _pair_counts(ex, "_inter")
    sized = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb")), "id_b")
    )
    thr = F.lit(float(threshold))

    def _one_side(small: str, big: str, n_small: str) -> DataFrame:
        c = F.round(F.col("_inter") / F.col(n_small), 4)
        return sized.select(
            F.col(small).alias("contained_id"),
            F.col(big).alias("container_id"),
            c.alias("containment"),
        ).where(F.col("containment") >= thr)

    return _one_side("id_a", "id_b", "_na").unionAll(_one_side("id_b", "id_a", "_nb"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of k minhashes: min over xxhash64(shingle, seed_j) per seed.

    xxhash64 is Spark's documented stable 64-bit hash; mixing in the hash
    index as a second argument gives k independent permutation
    approximations, all JVM-side.

    The seed must be captured via a def scope, NOT a lambda default arg:
    ``transform``'s lambda-arity sniffing treats a two-parameter lambda as
    ``(element, index)`` and binds the second parameter to the ELEMENT INDEX
    column — silently shadowing the default and collapsing all k "seeds"
    into one position-sensitive hash (zero recall on shifted near-dups).
    """

    def one_hash(j: int) -> Column:
        return F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(j))))

    return F.array(*[one_hash(j) for j in range(num_hashes)])


def minhash_signature_from_hashes(shingle_hashes: Column, num_hashes: int = 32) -> Column:
    """Minhash signature over PRE-HASHED shingles (``array<long>``).

    Hashing a corpus' shingle STRINGS k times is the dominant cost of the
    whole pipeline (k × total-shingle-bytes through xxhash64); hashing each
    shingle string ONCE and deriving the k permutations by re-hashing the
    64-bit value (``xxhash64(h, j)`` — 8 input bytes instead of a string) is
    the standard double-hashing construction and cuts signature cost ~k×.
    """

    def one_hash(j: int) -> Column:
        return F.array_min(F.transform(shingle_hashes, lambda h: F.xxhash64(h, F.lit(j))))

    return F.array(*[one_hash(j) for j in range(num_hashes)])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingles array<long>, sig array<long>) per document.

    ``shingles`` carries the int64-hashed distinct shingles
    (:func:`with_hashed_shingles`) — the compact representation both the
    signature AND the exact-Jaccard verify run on (set sizes are unchanged
    up to per-pair xxhash64 collisions, ~1e-14 for realistic docs — the same
    trade :func:`token_jaccard_pairs` makes), so the cached intermediate is
    a few KB of longs instead of shingle strings."""
    return with_hashed_shingles(df, id_col, text_col, shingle_n).select(
        F.col(id_col),
        "shingles",
        minhash_signature_from_hashes(F.col("shingles"), num_hashes).alias("sig"),
    )


def _minhash_band_table(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id, band, bh): explode a signature table into its LSH band hashes —
    band hash = xxhash64 over the band's slice of the signature. Shared by
    the one-shot and incremental pair operators so indexes built at crawl N
    join against batches banded at crawl N+1."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col("sig")[bi * rows + r] for r in range(rows)]).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band", "b.bh")


@op_scope()
def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    bands*rows = num_hashes; with 8 bands of 4 the S-curve crosses ~0.5 at
    ~ (1/8)^(1/4) ≈ 0.59 — candidates below threshold are filtered by the
    exact verify step, so `threshold` is the real contract, LSH only prunes.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sigs = scoped_cache(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))

    banded = _minhash_band_table(sigs, id_col, bands, rows)

    # shuffle_hash hint: the band table is DATA-PROPORTIONAL (rows = docs x
    # bands), but AQE's per-join size estimate can still pick a broadcast
    # for one side (the 64 MiB adaptive threshold, session.py) — at cluster
    # scale a broadcast of a corpus-sized table is a driver OOM (measured:
    # the 1M-doc dedup_stress OOMed an 8 GiB driver). The hint pins a
    # shuffled hash join; equi-keys (band, bh) are uniform xxhash64 output,
    # so the shuffle is skew-free.
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y").hint("shuffle_hash"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )

    return _verify_pairs(cand, sigs.select(F.col(id_col), F.col("shingles")), id_col, threshold)


def _verify_pairs(cand: DataFrame, sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    one-row-per-id shingle lookup — the shared verify contract of the
    one-shot and incremental operators (round to 4dp, filter >= threshold).

    Uses the intersection-only identity |A∪B| = |A| + |B| - |A∩B| (arrays
    are distinct) so each pair pays one array_intersect, not intersect +
    union — bit-identical Jaccard. The pared (ids, inter, tot) table is
    materialized (scoped cache, 4 ints per candidate) so the threshold
    filter cannot be substituted back into the lookup joins and re-run the
    intersect per pre-filter row (the token_jaccard_pairs plan cliff)."""
    # shuffle_hash on the lookup side: the shingle table carries a
    # corpus-proportional array<long> per row — the single heaviest thing
    # AQE could mistakenly broadcast (driver materializes the whole build
    # side). Candidates shuffle by id; lookups hash-join per partition.
    look = sh.select(F.col(id_col), F.col("shingles"), F.size("shingles").alias("_n"))
    pared = scoped_cache(
        cand.join(
            look.select(
                F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col("_n").alias("_na")
            ).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            look.select(
                F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col("_n").alias("_nb")
            ).hint("shuffle_hash"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("_inter"),
            (F.col("_na") + F.col("_nb")).alias("_tot"),
        )
    )
    u = F.col("_tot") - F.col("_inter")
    return (
        pared.select(
            "id_a",
            "id_b",
            F.round(
                F.when(u == 0, F.lit(0.0)).otherwise(F.col("_inter") / u), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistable dedup index: (id, shingles array<long>, sig array<long>)
    per document — the state crawl-over-crawl dedup carries forward.

    The 100 TB pattern: each ingested crawl writes its index partition
    (append-only parquet, partitioned by crawl day); the next crawl dedups
    against the accumulated index via :func:`incremental_minhash_near_dup`
    WITHOUT re-reading or re-hashing any corpus text. Cost of the index:
    the signature is ``num_hashes`` longs, the hashed shingle set ~8 bytes
    per token — roughly 5-10%% of the text column, the price of never
    touching corpus payloads again. ``num_hashes``/``shingle_n`` are baked
    into the index; the incremental join must be called with the same values
    (band count may vary as long as it divides num_hashes).
    """
    return minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)


@op_scope()
def incremental_minhash_near_dup(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    include_new_new: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing corpus index
    (:func:`minhash_index` output, typically read back from parquet), plus
    — by default — pairs within the new batch itself. Corpus-vs-corpus
    pairs are NEVER re-examined (they were handled when those crawls were
    ingested); that is the entire point: per-crawl work is proportional to
    the new batch, not the corpus.

    Output: (id_a, id_b, jaccard) with id_a < id_b, exact-verified — the
    same contract as :func:`minhash_near_dup_pairs`, restricted to pairs
    touching the new batch. Running it over batch N with the index of
    batches 1..N-1, for every N, yields exactly the one-shot operator's
    pair set over the full corpus (asserted by tests).

    Scale notes: only ``new_docs`` is tokenized; the two band joins shuffle
    on (band, bh) — uniform hashes, no skew — and the corpus side of the
    cross join carries 3 longs per (doc, band). Exact verification joins
    shingle sets for CANDIDATE ids only.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    new_idx = scoped_cache(
        minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle_n)
    )
    nb = scoped_cache(_minhash_band_table(new_idx, id_col, bands, rows))
    cb = _minhash_band_table(corpus_index, id_col, bands, rows)

    # cross pairs: corpus doc x new doc sharing a band bucket. Both band
    # tables are data-proportional (corpus- and batch-sized) — pin a
    # shuffled hash join so AQE can never broadcast either side (see
    # minhash_near_dup_pairs; the keys are uniform hashes, skew-free).
    cross = (
        cb.alias("x")
        .join(
            nb.alias("y").hint("shuffle_hash"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.bh") == F.col("y.bh")),
        )
        .select(F.col(f"x.{id_col}").alias("_u"), F.col(f"y.{id_col}").alias("_v"))
    )
    cands = [cross]
    if include_new_new:
        cands.append(
            nb.alias("x")
            .join(
                nb.alias("y").hint("shuffle_hash"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bh") == F.col("y.bh"))
                & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
            )
            .select(F.col(f"x.{id_col}").alias("_u"), F.col(f"y.{id_col}").alias("_v"))
        )
    from functools import reduce as _reduce

    cand = (
        _reduce(lambda a, b: a.unionByName(b), cands)
        .select(
            F.least(F.col("_u"), F.col("_v")).alias("id_a"),
            F.greatest(F.col("_u"), F.col("_v")).alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))  # same id in both inputs
        .distinct()
    )

    # shingle lookup must be ONE row per id even when a re-crawled page keeps
    # its stable doc_id in both inputs — two rows would fan the verify joins
    # out into duplicate pairs. Precedence: the NEW batch's text wins (it is
    # the current version of the page).
    sh = new_idx.select(F.col(id_col), F.col("shingles")).unionByName(
        corpus_index.select(F.col(id_col), F.col("shingles")).join(
            new_idx.select(id_col), id_col, "left_anti"
        )
    )
    return _verify_pairs(cand, sh, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def _simhash64_from_hashes(tokhashes: pd.Series) -> pd.Series:
    """64-bit Charikar SimHash from per-token 64-bit hashes.

    Token hashing happens JVM-side (``transform(tokens, xxhash64)`` in
    :func:`simhash`) — this kernel only does the bit-vote, fully batched:
    all documents' hashes are concatenated into one arena, the (tokens, 64)
    bit matrix is built once, and per-document bit sums come from a single
    segmented ``np.add.reduceat`` — no per-token (or per-document) Python in
    the hot path.
    """
    n = len(tokhashes)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    # null arrays (callers coalesce text to '', but stay defensive) vote as
    # empty -> signature 0, same as an empty document
    lens = np.fromiter(
        (0 if h is None else len(h) for h in tokhashes), dtype=np.int64, count=n
    )
    total = int(lens.sum())
    if total == 0:
        return pd.Series(out)
    arena = np.concatenate(
        [np.asarray(h, dtype=np.int64) for h in tokhashes if h is not None and len(h)]
    ).view(np.uint64)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    starts, ends = bounds[:-1], bounds[1:]
    # per-bit cumsum-diff segment sums: a (tokens,) vector per bit instead of
    # the full (tokens, 64) bit matrix — the matrix variant allocated >1 GB of
    # broadcast intermediates at 1M tokens/batch and its first-touch page
    # faults alone cost seconds (measured 7.6 s cold vs 0.2 s for this loop,
    # identical signatures). Empty docs fall out naturally: start == end ->
    # bitsum 0 -> vote 2*0 > 0 is False on every bit -> signature 0.
    sig = np.zeros(n, dtype=np.uint64)
    cs = np.empty(total + 1, dtype=np.int64)
    cs[0] = 0
    for b in range(64):
        np.cumsum(((arena >> np.uint64(b)) & np.uint64(1)).view(np.int64), out=cs[1:])
        bitsum = cs[ends] - cs[starts]
        sig |= ((2 * bitsum) > lens).astype(np.uint64) << np.uint64(b)
    return pd.Series(sig.view(np.int64))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash int64) per document.

    Per-token hashing is a JVM expression (``xxhash64`` over the token
    array — the same trick :func:`token_jaccard_pairs` uses), so the Arrow
    batch carries compact ``array<long>`` columns into the vectorized
    bit-vote kernel; empty and NULL documents hash to signature 0 (NULL
    text is coalesced to '' so the kernel never sees a null array)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    toks = tokens(c)
    hashes = F.when(
        F.length(F.trim(c)) == 0,
        F.array().cast("array<bigint>"),
    ).otherwise(F.transform(toks, lambda t: F.xxhash64(t)))
    return df.select(F.col(id_col), _simhash64_from_hashes(hashes).alias("simhash"))


@op_scope()
def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    verify_jaccard: float | None = None,
    shingle_n: int = 3,
    max_candidates: int | None = 200_000_000,
    token_hashes: DataFrame | None = None,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via band self-join.

    Pigeonhole: split 64 bits into (max_hamming+1) bands; any pair within
    distance k matches at least one band exactly — the join is equi on
    (band_idx, band_bits), so Catalyst plans a hash join, never a cross join.

    Guarded against homogeneous corpora: simhash band bits have LOW ENTROPY
    when documents share vocabulary statistics (majority-vote bits converge),
    so band buckets can go quadratic even on non-duplicate docs. The guard
    pre-counts bucket sizes (one cheap aggregation over #docs × #bands rows)
    and refuses when Σ C(bucket, 2) exceeds ``max_candidates``, pointing at
    :func:`minhash_near_dup_pairs` — whose buckets are hashes of shingle
    CONTENT, uniform by construction. ``max_candidates=None`` disables.

    ``verify_jaccard=t`` switches the operator into the standard
    sketch-then-verify shape: simhash bands generate candidates, exact
    shingle Jaccard (JVM array ops) confirms them, and the output becomes
    (id_a, id_b, jaccard >= t) — true positives only. Recall is bounded by
    the hamming cutoff: a J >= t pair whose signatures differ in more than
    ``max_hamming`` bits is missed (simhash is a near-EXACT-dup sketch;
    heavily perturbed dups belong to :func:`minhash_near_dup_pairs`).

    ``token_hashes``: a precomputed (ideally cached)
    :func:`staged_token_hashes` frame — pass it (inside one
    ``with op_scope():`` block) when composing with another pair operator
    over the same corpus so the doc-proportional tokenize+hash pass runs
    once total.
    """
    nb = max_hamming + 1
    width = 64 // nb

    def band_bits(bi: int) -> F.Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), bi * width)
        if width >= 64:  # single band == the whole signature (mask would overflow long)
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    # ONE tokenize+hash pass feeds BOTH the signature kernel and (when
    # verifying) the shingle sets — the per-doc token work is the dominant
    # doc-proportional cost and used to run twice. The staged cache holds
    # (id, token-hash array, trimmed length): a few longs per token.
    staged = (
        token_hashes
        if token_hashes is not None
        else scoped_cache(staged_token_hashes(df, id_col, text_col))
    )
    # empty/NULL docs vote with an empty arena -> signature 0 (same contract
    # as simhash()); shingles still use the single-truncated-shingle form
    sig_input = F.when(F.col("_tl") == 0, F.array().cast("array<bigint>")).otherwise(
        F.col("_th")
    )
    sigs = staged.select(F.col(id_col), _simhash64_from_hashes(sig_input).alias("simhash"))

    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), band_bits(bi).alias("bits"))
                    for bi in range(nb)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.bits")

    # hamming filter runs INSIDE the band join's projection, BEFORE the
    # distinct: a band bucket on a topically homogeneous corpus can be hot
    # (simhash band bits have low entropy there), and deduplicating the raw
    # candidate stream would shuffle every collision pair; filtering first
    # shrinks the distinct to actual near-dup survivors
    #
    # Hot-bucket salting (skew.py's replicate-one-side pattern, adapted to
    # a self-join): low-entropy band bits concentrate pair generation — at
    # sf0.1 with max_hamming=8 the hottest (band, bits) bucket holds 2251 of
    # 5000 docs' rows and would expand ~23% of ALL candidate pairs in ONE
    # reducer. AQE's skew split never fires here (the skew is in the n^2
    # pair EXPANSION, not the shuffled bytes). Fix: per-bucket salt count
    # s = ceil(n / _SALT_TARGET) (capped) from a window count over the same
    # exchange; the LEFT side replicates to every salt t in [0, s), the
    # RIGHT side keys by hash(id) % s, and the join key gains t — each pair
    # still matches exactly once (at t = salt(id_b)), so the output is
    # row-identical, while a bucket of n rows spreads its n^2/s work over s
    # reducers. Buckets at or under _SALT_TARGET get s=1: zero replication.
    #
    # ONE cached pass carries everything (round 5): the window's bucket
    # count rides along as _n, so the bucket-size guard is a row-wise
    # aggregate over this cache — the previous shape materialized a separate
    # banded cache plus a second groupBy exchange just for the guard.
    _SALT_TARGET, _SALT_CAP = 512, 32
    bw = Window.partitionBy("band", "bits")
    withs = scoped_cache(
        banded.withColumn("_n", F.count(F.lit(1)).over(bw)).withColumn(
            "_s",
            F.least(F.ceil(F.col("_n") / _SALT_TARGET), F.lit(_SALT_CAP)).cast("int"),
        )
    )

    if max_candidates is not None:
        # sum over rows of (n-1)/2 == sum over buckets of n(n-1)/2
        est = withs.agg(
            F.sum((F.col("_n") - 1) / 2).alias("_pairs")
        ).head()["_pairs"]
        if est is not None and est > max_candidates:
            raise ValueError(
                f"simhash band buckets would generate ~{int(est)} candidate "
                f"pairs (> {max_candidates}): the corpus is too homogeneous "
                "for simhash banding — use minhash_near_dup_pairs instead"
            )
    xb = withs.withColumn(
        "_t", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    )
    yb = withs.withColumn(
        "_t", F.pmod(F.xxhash64(F.col(id_col)), F.col("_s")).cast("int")
    )
    hamming = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    # shuffle_hash: banded is data-proportional — never let AQE broadcast a
    # side of the self-join (see minhash_near_dup_pairs for the measured
    # driver-OOM hazard)
    pairs = (
        xb.alias("x")
        .join(
            yb.alias("y").hint("shuffle_hash"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bits") == F.col("y.bits"))
            & (F.col("x._t") == F.col("y._t"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )
    if verify_jaccard is None:
        return pairs
    # int64-hashed shingles derived from the SAME cached token hashes the
    # signatures used (no second tokenize pass); verification shares the
    # intersection-only kernel with minhash via _verify_pairs
    sh = staged.select(
        F.col(id_col), _hashed_shingle_expr(F.col("_th"), shingle_n).alias("shingles")
    )
    return _verify_pairs(pairs, sh, id_col, verify_jaccard)


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over the pair list
# ---------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 25,
    num_partitions: int | None = None,
) -> DataFrame:
    """Connected components over an undirected near-dup pair list
    ``(id_a, id_b)`` -> one row per node ``(node, cluster_id)`` where
    ``cluster_id`` is the MINIMUM node id of the node's component.

    This is the step every production dedup pipeline needs after any of the
    pair operators (minhash/simhash/jaccard/embedding): near-duplication is
    transitive in intent (a~b, b~c => one document family), so survivors must
    be picked per *component*, not per pair — pairwise min-id survivor
    selection would keep b when (a,b) and (b,c) overlap only at b.

    Algorithm: min-label propagation to a fixpoint. Each iteration sends
    every node's current label to its neighbors and takes the min of
    (own label, incoming labels). Labels are monotonically non-increasing,
    so the fixpoint is exact; iterations needed = graph diameter. Near-dup
    components are star/clique-like (diameter 2-4 in practice), so this
    converges in a handful of rounds; ``max_iterations`` guards pathological
    chain graphs (for those, switch to the O(log n)-round large-star /
    small-star contraction of Kiveris et al., "Connected Components in
    MapReduce and Beyond").

    Scale notes (100 TB): the iteration state is (node, label) — two longs
    per *paired* document, tiny next to the corpus; each round is one
    shuffle-join (edges x labels, both pre-partitioned on the join key) plus
    one min-groupBy. ``localCheckpoint`` truncates lineage per round so the
    plan does not grow with iterations. Min-label is order-independent, so
    results are bit-identical at any parallelism.
    """
    spark = pairs.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # symmetric edge list, pre-partitioned on src so every iteration's join
    # reuses one partitioning instead of re-shuffling the edges each round
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .repartition(n_part, "src")
        .localCheckpoint(eager=True)
    )

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster_id"))
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        msgs = edges.join(
            labels.select(F.col("node").alias("src"), "cluster_id"), "src"
        ).select(F.col("dst").alias("node"), "cluster_id")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .repartition(n_part, "node")
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ValueError(
        f"dedup_clusters did not converge in {max_iterations} iterations: "
        "the pair graph has a longer path than any near-dup corpus should "
        "produce — raise max_iterations or use star-contraction"
    )


def near_dup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Keep one survivor per near-dup component (the minimum id), plus every
    document that appears in no pair. The cluster step makes survivor
    selection transitive: for pairs (a,b),(b,c) only ``a`` survives, where
    naive pairwise loser-dropping would also keep ``c`` or drop both b and c
    depending on pair order."""
    losers = (
        dedup_clusters(pairs, max_iterations=max_iterations)
        .where(F.col("cluster_id") != F.col("node"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 10,
    prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez/Stolfo): sort records by a
    blocking key, emit every pair within ``window`` positions of each other.
    The classic complement to hash blocking — near-dups whose keys are
    lexicographically adjacent (normalized-text prefixes, canonical URLs,
    name keys) pair up even when no hash bucket would catch both, and the
    candidate count is exactly ``(n - w/2)·(w-1)`` — linear, never block².

    The global rank is a DISTRIBUTED prefix sum, never a single-partition
    window (the token_pack_offsets pattern): coarse MONOTONE buckets from
    the key's ``prefix_len``-char prefix (a lexicographic prefix ordering
    agrees with the key ordering), per-bucket counts cumulated driver-side
    (bounded by the distinct-prefix count — alphabet^prefix_len, metadata-
    sized), then per-bucket ``row_number`` windows running in parallel, each
    offset by its broadcast base. Ranks are a pure function of the DATA
    ((key, id) pairs — ids must be unique; (key, id) makes the order total),
    so they are bit-identical at any parallelism and equal to the naive
    ``row_number() OVER (ORDER BY CAST(key AS STRING), id)`` row for row —
    which is the oracle. The key is cast to STRING up front so the prefix
    buckets (necessarily lexicographic) and the within-bucket ordering use
    the SAME collation — a numeric key would otherwise bucket as '10'<'9'
    while ordering 9<10 inside a bucket, silently breaking the contract.
    Candidates then come from ONE equi-join on the rank's
    ``div window`` block (each left row probes its own and the next block),
    filtered to ``0 < rank_b - rank_a < window``.

    NULL keys are excluded (engines disagree on NULL sort order; a NULL
    blocking key has no neighborhood). Keys should be ASCII-normalized
    (e.g. a lowered/whitespace-collapsed text prefix) — engines agree on
    byte order there.

    Output: (id_a, id_b, key_a, key_b, rank_dist int) with id_a's rank
    strictly below id_b's.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1, got {prefix_len}")
    staged = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(key_col).cast("string").alias("_key"),
        )
        .where(F.col("_key").isNotNull())
        .withColumn("_bkt", F.substring("_key", 1, prefix_len))
    )
    sums = staged.groupBy("_bkt").count().orderBy("_bkt").collect()
    bases, acc = [], 0
    for r in sums:
        bases.append((r["_bkt"], acc))
        acc += r["count"]
    if not bases:
        return staged.select(
            F.col("_id").alias("id_a"), F.col("_id").alias("id_b"),
            F.col("_key").alias("key_a"), F.col("_key").alias("key_b"),
            F.lit(0).cast("int").alias("rank_dist"),
        ).limit(0)
    base_df = df.sparkSession.createDataFrame(bases, "_bkt string, _base long")

    from pyspark.sql import Window

    w_rank = Window.partitionBy("_bkt").orderBy("_key", "_id")
    ranked = (
        staged.join(F.broadcast(base_df), "_bkt")
        .select(
            "_id", "_key",
            (F.col("_base") + F.row_number().over(w_rank) - 1).alias("_rank"),
        )
    )
    w = int(window)
    left = ranked.select(
        F.col("_id").alias("id_a"), F.col("_key").alias("key_a"),
        F.col("_rank").alias("_ra"),
        F.explode(
            F.array(F.expr(f"_rank div {w}"), F.expr(f"_rank div {w} + 1"))
        ).alias("_blk"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"), F.col("_key").alias("key_b"),
        F.col("_rank").alias("_rb"), F.expr(f"_rank div {w}").alias("_blk"),
    )
    return (
        left.join(right, "_blk")
        .where((F.col("_rb") > F.col("_ra")) & (F.col("_rb") - F.col("_ra") < w))
        .select(
            "id_a", "id_b", "key_a", "key_b",
            (F.col("_rb") - F.col("_ra")).cast("int").alias("rank_dist"),
        )
    )


@op_scope()
def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_span_tokens: int | None = None,
    max_gram_df: int | None = 1_000,
) -> DataFrame:
    """Exact cross-document duplicate SPANS: maximal runs of shared text of
    at least ``n`` consecutive whitespace tokens, per document pair — the
    substring-level dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), where the unit of duplication is the
    repeated PASSAGE (boilerplate paragraph, quoted article, licence block),
    not the whole document. Doc-level MinHash/SimHash structurally miss a
    300-token verbatim quote inside two otherwise-different pages; this
    operator returns its exact coordinates so a pipeline can cut the span
    from one side rather than drop a whole document.

    Output: ``(doc_a, doc_b, start_a, start_b, span_tokens)`` with
    ``doc_a < doc_b``; ``start_*`` are 0-based token offsets into each
    document's whitespace tokenization and ``span_tokens`` the shared run
    length. A run is maximal on its pair's alignment diagonal: extending it
    one token on either side breaks token equality. Tokenization is raw
    whitespace splitting, case-SENSITIVE — "duplicate" here means verbatim
    text, matching the byte-identical-text invariant the archive keeps.

    Semantics via n-gram diagonals (suffix-array-free, join-expressible):
    position ``p`` of doc A matches position ``q`` of doc B iff their
    n-grams are equal; all matches of a shared run of length ``L >= n``
    fall on one diagonal ``p - q`` as ``L - n + 1`` CONSECUTIVE positions,
    so merging consecutive-position islands per (pair, diagonal) — the
    classic gaps-and-islands ``p - row_number()`` trick — reconstructs every
    maximal span exactly. Islands are windows over candidate MATCHES (pair
    grain), never over the corpus.

    Scale shape: the posting table is one row per (doc, position) — ~token
    count of the corpus — carrying the n-gram as an INT64 hash (each token
    xxhash64-ed once, the gram one more xxhash64 over the n token hashes —
    the module's standard identity, equal to string-gram identity up to
    ~1e-14 collisions per pair; round 5 switched from string postings:
    24-byte rows make the sort-merge candidate join and the disk-persisted
    posting cache ~5x lighter at every scale). Candidate volume is uniform
    by construction except for boilerplate grams, which is why
    ``max_gram_df`` raises in-plan when any gram's document-position
    frequency exceeds it (df² pairs per gram — the token_jaccard valve; at
    web scale strip boilerplate first or lower the cap). Set
    ``min_span_tokens`` above ``n`` to keep only substantial passages.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    min_span = n if min_span_tokens is None else min_span_tokens
    if min_span < n:
        raise ValueError(f"min_span_tokens must be >= n={n}, got {min_span}")
    from pyspark.sql import Window

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    staged = (
        # hash-spread docs first: a few-file input would otherwise build the
        # n-fold gram expansion in as many tasks as there are input files
        df.repartition(n_part, id_col)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), toks.alias("_tk"))
        .where(F.size("_tk") >= n)
        .select("_id", F.transform("_tk", lambda t: F.xxhash64(t)).alias("_th"))
    )
    # one int64 gram hash per 0-based start position; posexplode's index IS
    # the position. Each token hashes once; a gram is one more xxhash64 over
    # its n token hashes (no string slicing/concat). The n-fold expansion
    # lives only inside this shuffle stage — nothing doc-proportional is
    # cached beyond the narrow (id, pos, hash) postings.
    posts = staged.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_th") - n),
                lambda p: F.xxhash64(*[F.get("_th", p + k) for k in range(n)]),
            )
        ).alias("_p", "_g"),
    )
    if max_gram_df is not None:
        from pyspark import StorageLevel

        # DISK_ONLY: the posting table is corpus-TOKEN-proportional — the
        # one intermediate in this module that must never sit in executor
        # memory (string postings OOMed an 8 GiB heap at 10^6 docs x 100
        # tokens; the hashed rows are ~5x smaller but the level stays
        # conservative). Disk blocks stream back for the guard count and
        # both join sides; the n-fold gram build still runs exactly once.
        posts = scoped_cache(posts, storage_level=StorageLevel.DISK_ONLY)
        # EAGER guard (round 5): postings already carry the 64-bit gram
        # hash, so the cap check is an 8-byte map-side-combined pass that
        # raises at CALL time. Hash collisions only MERGE counts — the cap
        # can only fire early, never late, a conservative valve. The same
        # single aggregation returns the TOTAL posting count, which picks
        # the join strategy explicitly (a DISK_ONLY cache's measured size
        # does not reach the planner — verified: it still broadcast a
        # 2 GB side at 10^6 docs): small posting tables stay un-hinted so
        # the optimizer may broadcast them; corpus-sized ones pin
        # sort-merge (broadcast collects gigabytes to the driver and
        # shuffle_hash's per-partition build map OOMs — both measured).
        stats = (
            posts.groupBy(F.col("_g").alias("_gh"))
            .agg(F.count(F.lit(1)).alias("_df"))
            .agg(
                F.sum("_df").alias("_n"),
                F.max(
                    F.when(
                        F.col("_df") > max_gram_df,
                        F.struct(F.col("_df"), F.col("_gh")),
                    )
                ).alias("_worst"),
            )
            .head()
        )
        if stats["_worst"] is not None:
            raise ValueError(
                f"duplicate_spans: n-gram exceeds max_gram_df={max_gram_df} "
                f"occurrences (boilerplate?), gram hash "
                f"{stats['_worst']['_gh']} (df={stats['_worst']['_df']})"
            )
        a = posts.alias("a")
        b = posts.alias("b")
        if (stats["_n"] or 0) > 2_000_000:
            b = b.hint("merge")
    else:
        # unguarded path: nothing materializes before the join, so the
        # planner may only have the source's estimate — pin sort-merge
        # (both sides corpus-token-proportional: broadcast collects
        # gigabytes to the driver, shuffle_hash's per-partition build map
        # OOMs; sort-merge spills and holds nothing data-proportional)
        a, b = posts.alias("a"), posts.alias("b").hint("merge")
    cand = a.join(
        b, (F.col("a._g") == F.col("b._g")) & (F.col("a._id") < F.col("b._id"))
    ).select(
        F.col("a._id").alias("doc_a"),
        F.col("b._id").alias("doc_b"),
        F.col("a._p").cast("long").alias("_pa"),
        F.col("b._p").cast("long").alias("_pb"),
    )
    diag = (F.col("_pa") - F.col("_pb")).alias("_diag")
    w = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    runs = cand.select("doc_a", "doc_b", diag, "_pa").withColumn(
        "_isl", F.col("_pa") - F.row_number().over(w)
    )
    out = (
        runs.groupBy("doc_a", "doc_b", "_diag", "_isl")
        .agg(
            F.min("_pa").alias("start_a"),
            (F.min("_pa") - F.col("_diag")).alias("start_b"),
            (F.max("_pa") - F.min("_pa") + n).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
    return out


def edit_distance_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 10,
    max_dist: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """Typo-level near-dup keys: :func:`sorted_neighborhood_pairs` candidates
    filtered to Levenshtein distance ≤ ``max_dist`` — the classic
    record-linkage combination (sorted-neighborhood blocking + edit-distance
    verify; Hernandez/Stolfo §4). Catches what shingle/MinHash methods
    cannot: single-character key variants (canonical URLs off by one path
    char, titles with a typo, near-identical short keys) whose token sets
    are already identical-or-disjoint at the shingle grain.

    Output: the neighborhood pair columns plus ``dist int`` (the exact edit
    distance, ≤ ``max_dist``).

    Scale shape: candidates are the linear sorted-neighborhood set (~n·w/2
    pairs — never block²); the verify is the JVM ``levenshtein`` with the
    THRESHOLD variant, which abandons a pair's DP early once the distance
    provably exceeds ``max_dist`` (O(max_dist·len) per pair instead of
    O(len²)) — kept rows carry the same exact distance a full evaluation
    yields, so a threshold-free engine (the DuckDB oracle) reproduces the
    rows bit-for-bit. Everything stays in whole-stage codegen; no Python.
    Like all blocking, recall is bounded by the window: key variants more
    than ``window`` sort positions apart (e.g. a typo in the FIRST
    character) need a second pass on a rotated/reversed key."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    cand = sorted_neighborhood_pairs(
        df, key_col, id_col=id_col, window=window, prefix_len=prefix_len
    )
    d = F.levenshtein(F.col("key_a"), F.col("key_b"), int(max_dist))
    return (
        cand.withColumn("dist", d.cast("int"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_span_tokens: int | None = None,
    max_gram_df: int | None = 1_000,
) -> DataFrame:
    """Cut duplicated passages instead of dropping documents — the second
    half of Lee et al. 2022: for every pair found by
    :func:`duplicate_spans`, the HIGHER-id document loses the shared run
    (the lower id keeps its copy), so corpus-wide each passage survives
    exactly at its smallest-id occurrence along pairwise links.

    Returns ``(id_col, text_col)`` for EVERY input document. Documents
    that lose spans are rebuilt from their surviving tokens joined by
    single spaces (whitespace-NORMALIZED — coordinates are token-grain, so
    the original inter-token whitespace of removed regions is
    unreconstructable); untouched documents pass through byte-identical
    (the archive invariant). Overlapping/adjacent spans merge before
    removal (running-max islands), so nested pair structure cannot
    double-delete or leave slivers.

    ``spans``: a precomputed :func:`duplicate_spans` result (else computed
    here with the given parameters). Scale shape: interval merge is one
    window over span-grain rows; token filtering is an equi-join on the
    doc id with the range test as a join filter (never a cross join);
    rebuild is one ordered collect_list per REWRITTEN doc only.
    """
    from pyspark.sql import Window

    if spans is None:
        spans = duplicate_spans(
            df, id_col=id_col, text_col=text_col, n=n,
            min_span_tokens=min_span_tokens, max_gram_df=max_gram_df,
        )
    iv = spans.select(
        F.col("doc_b").alias("_id"),
        F.col("start_b").alias("_lo"),
        (F.col("start_b") + F.col("span_tokens")).alias("_hi"),
    )
    # merge overlapping/adjacent intervals: running max of _hi over the
    # (_lo, _hi)-ordered window; a row starting beyond the previous running
    # max opens a new island
    w = Window.partitionBy("_id").orderBy("_lo", "_hi")
    prev_max = F.max("_hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = iv.withColumn(
        "_new", F.when(prev_max.isNull() | (F.col("_lo") > prev_max), 1).otherwise(0)
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    # span-grain and consumed by THREE joins below (touched semi, survivor
    # anti, marker) — without a scoped cache the whole upstream spans DAG
    # (pair join + islands) re-evaluates per consumer (measured ~3x)
    merged = scoped_cache(
        islands.groupBy("_id", "_isl").agg(
            F.min("_lo").alias("_lo"), F.max("_hi").alias("_hi")
        )
    )
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    touched_ids = merged.select("_id").distinct()
    touched = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_tk"))
        .join(touched_ids, "_id", "left_semi")
        .select("_id", F.posexplode("_tk").alias("_p", "_t"))
    )
    survivors = touched.join(
        merged,
        (touched["_id"] == merged["_id"])
        & (F.col("_p") >= F.col("_lo"))
        & (F.col("_p") < F.col("_hi")),
        "left_anti",
    )
    rebuilt = survivors.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_t"))), lambda s: s["_t"]
            ),
            " ",
        ).alias("_new_text")
    )
    # a doc whose every token was removed vanishes from `survivors`: the
    # touched-ids marker (not the rebuilt frame) decides it becomes ""
    marked = df.join(
        touched_ids.select(F.col("_id").alias(id_col), F.lit(True).alias("_touched")),
        id_col,
        "left",
    ).join(rebuilt.select(F.col("_id").alias(id_col), "_new_text"), id_col, "left")
    return marked.select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col("_touched").isNotNull(), F.coalesce("_new_text", F.lit("")))
        .otherwise(F.col(text_col))
        .alias(text_col),
    )


def fellegi_sunter(
    pairs: DataFrame,
    records: DataFrame,
    field_weights: dict,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    upper_milli: int = 2000,
    lower_milli: int = -2000,
) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring (JASA 1969) — the decision
    model that sits on top of the repo's blocking stack
    (:func:`sorted_neighborhood_pairs` / hash blocks / LSH): each
    candidate pair's per-field agreement pattern folds into a log-odds
    score, thresholded into match / possible / non_match.

    ``field_weights``: ``{field: (w_agree_milli, w_disagree_milli)}`` —
    the INTEGER milli-scaled log-odds ``ln(m/u)`` and ``ln((1−m)/(1−u))``
    from offline EM or labeled data (integer weights keep the fold exact
    and order-independent, the classifier_score convention). Agreement is
    null-safe equality (two NULLs agree — the conservative convention;
    tune per field by pre-imputing). Output: ``(id_a, id_b,
    agree_<field> booleans, score_milli, decision)``.

    Scale: two broadcast-or-hash equi-joins on the record id (each side
    of every pair fetches its field vector once) and a pure-codegen CASE
    fold — no Python, no per-field shuffles."""
    if not field_weights:
        raise ValueError("field_weights must not be empty")
    if lower_milli > upper_milli:
        raise ValueError(f"lower {lower_milli} > upper {upper_milli}")
    fields = list(field_weights)
    a = records.select(
        F.col(id_col).alias(id_a), *[F.col(f).alias(f"_a_{f}") for f in fields]
    )
    b = records.select(
        F.col(id_col).alias(id_b), *[F.col(f).alias(f"_b_{f}") for f in fields]
    )
    j = pairs.select(id_a, id_b).join(a, id_a).join(b, id_b)
    agrees = {
        f: F.col(f"_a_{f}").eqNullSafe(F.col(f"_b_{f}")) for f in fields
    }
    score = None
    for f in fields:
        wm, wu = (int(x) for x in field_weights[f])
        term = F.when(agrees[f], F.lit(wm)).otherwise(F.lit(wu))
        score = term if score is None else score + term
    decision = (
        F.when(score >= F.lit(int(upper_milli)), F.lit("match"))
        .when(score <= F.lit(int(lower_milli)), F.lit("non_match"))
        .otherwise(F.lit("possible"))
    )
    return j.select(
        id_a,
        id_b,
        *[agrees[f].alias(f"agree_{f}") for f in fields],
        score.cast("long").alias("score_milli"),
        decision.alias("decision"),
    )
