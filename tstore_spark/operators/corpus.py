"""Corpus filtering — the composed keep/drop decision of a training-data
pipeline, as one declarative operator.

A pretraining corpus pass chains: exact dedup (first copy wins) → language
gate → quality floor → length window. Each piece exists elsewhere in the
engine (operators/dedup.py, functions/text.py); this module composes them
into a single Catalyst plan so the scan happens once, the predicates all
push into it, and the only shuffle is the dedup hash-groupBy.

Scale notes (100 TB): ONE scan, ONE shuffle. The stat predicates
(lang/quality/tokens) are pure codegen expressions evaluated during the scan
— they prune rows before anything shuffles — and the dedup survivor choice
is a ``row_number`` window over the fingerprint, not a groupBy + semi-join
(which would scan the table twice and shuffle twice). Only
(id, fingerprint, two stat columns) ride the shuffle, never text.

Semantics: gates apply PER DOCUMENT before dedup, so the survivor is the
first (min-id) ADMITTED copy of each fingerprint group. The fingerprint
normalizes (trim/lower) but the stat gates see raw text, so copies that
fingerprint-equal yet differ in raw bytes (e.g. trailing whitespace) can
gate differently — a group whose min-id copy fails a gate is still kept via
its first passing copy. The driver oracle encodes the same order
(gate -> min-id), keeping the two engines row-identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tstore_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    tokens,
    word_ngrams,
    ws_token_count,
)
from tstore_spark.plans.scope import op_scope, scoped_cache


def corpus_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str | None = "en",
    min_quality: float = 0.3,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    dedup: bool = True,
) -> DataFrame:
    """Surviving documents with their admission stats:
    (id, ws_tokens, quality). First copy (min id) per fingerprint wins."""
    n = ws_token_count(text_col)
    q = quality_score(text_col)
    stats = df.select(
        F.col(id_col),
        n.alias("ws_tokens"),
        q.alias("quality"),
        *([lang_id(text_col).alias("_lang")] if lang is not None else []),
        *([fingerprint(text_col).alias("_fp")] if dedup else []),
    )
    kept = stats.where(
        (F.col("ws_tokens") >= min_tokens)
        & (F.col("ws_tokens") <= max_tokens)
        & (F.col("quality") >= F.lit(min_quality))
    )
    if lang is not None:
        kept = kept.where(F.col("_lang") == F.lit(lang)).drop("_lang")
    if dedup:
        w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
        kept = (
            kept.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_fp")
        )
    return kept


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb-style): delete every line
    that appears verbatim in at least ``min_docs`` DISTINCT documents
    (nav bars, cookie banners, footers), preserving the order of surviving
    lines. Returns (id, clean_text, n_lines, n_removed) for every input
    document — including documents that were pure boilerplate
    (clean_text = '').

    Plan shape: posexplode of the split EXPRESSION (never an array column —
    see exploded_hashed_shingles for why), one groupBy on the line string
    for document frequency, one anti-join to drop boilerplate lines, one
    groupBy to reassemble (sorted collect_list by line index — order exact),
    and a final broadcast-friendly left join to resurrect fully-removed
    docs. Two shuffles ride line STRINGS; for 100 TB runs the frequency pass
    can work on xxhash64(line) with the strings verified at the anti-join —
    same output up to 64-bit collisions.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_ln"),
    )
    # empty lines are NEVER boilerplate: '' reaches min_docs in any real
    # corpus, so the frequency rule would strip every paragraph break from
    # every document (RefinedWeb-style implementations exclude empty lines
    # from the rule for exactly this reason; mirrored in the gate oracle)
    freq = (
        lines.select("_ln", id_col)
        .distinct()
        .groupBy("_ln")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= F.lit(min_docs)) & (F.length("_ln") > 0))
        .select("_ln")
    )
    kept = lines.join(freq, "_ln", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_i"), F.col("_ln")))),
                lambda s: s["_ln"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str | None = None,
    n: int = 13,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training-set decontamination: corpus documents sharing at least
    ``min_hits`` distinct word ``n``-grams with an evaluation set (the
    GPT-3-style 13-gram overlap rule, Brown et al. 2020 app. C). Returns
    (id, n_hits) for contaminated documents — anti-join the result against
    the corpus to scrub it.

    n-grams are int64 hashes (:func:`~tstore_spark.operators.dedup.
    with_hashed_shingles` — one xxhash64 per token + one per gram, all JVM),
    so the match join carries 8-byte keys, never strings. Eval sets are
    small by definition, so the distinct eval-gram table is broadcast —
    the corpus side STREAMS through the join with no shuffle at all
    (``broadcast_eval=False`` falls back to a shuffle hash join for
    unusually large eval suites).

    Scale notes (100 TB): corpus work is one scan + explode + broadcast
    probe + one groupBy on contaminated doc ids only (the join filters
    first). Distinctness per (doc, gram) is inherited from the shingle
    sets, so ``count(*)`` after the join IS the distinct-gram hit count.
    """
    from tstore_spark.operators.dedup import exploded_hashed_shingles

    eval_id = eval_id_col or id_col
    eval_grams = (
        exploded_hashed_shingles(eval_docs, eval_id, text_col, n, gram_col="_g")
        .select("_g")
        .distinct()
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    return (
        exploded_hashed_shingles(corpus, id_col, text_col, n, gram_col="_g")
        .join(eval_grams, "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= F.lit(min_hits))
    )


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The k most frequent word n-grams corpus-wide -> (gram, cnt), ordered
    by (cnt desc, gram) with the tie broken inside the plan so the result
    is a deterministic total order.

    Corpus-analysis staple (boilerplate discovery, contamination probes,
    tokenizer-vocab sanity checks). Plan shape for 100 TB: the n-gram
    explode is an EXPRESSION over the scan (never an array column — see
    dedup.exploded_hashed_shingles for the 30x cliff that avoids), the
    count is a two-stage hash aggregate (map-side partial combine runs
    before the only shuffle), and orderBy+limit compiles to TakeOrdered —
    a per-partition top-k merged on the driver, never a full sort. Gram
    strings ride the shuffle only AFTER partial aggregation collapsed each
    partition to its distinct grams.
    """
    # hoist the token array into a named column FIRST: the transform lambda
    # in word_ngrams references the array once per gram slot, and an
    # un-hoisted split() is re-evaluated on every reference (the measured
    # 22-90x pattern — see word_bigrams / _staged_token_hashes)
    staged = df.select(tokens(text_col).alias("_toks"))
    grams = word_ngrams(text_col, n, toks=F.col("_toks"))
    return (
        staged.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    canonicalize: bool = True,
) -> DataFrame:
    """Page-level diff between two crawls of the same web: one row per
    distinct (canonical) URL seen in either crawl, with

    ``status`` ∈ ``new`` (URL only in the new crawl), ``gone`` (only in the
    old), ``changed`` (both, text fingerprint differs), ``same`` (both,
    byte-normalized text identical) — the refresh/decay accounting every
    crawl-over-crawl pipeline starts from (what to re-extract, what to
    expire, what to skip).

    Shape: each side collapses to one row per canonical URL FIRST (min
    fingerprint per URL breaks re-crawl-dup ties deterministically), then
    ONE full-outer equi-join on the URL — text never rides the shuffle,
    only (url, md5). URLs canonicalize via ``functions/urls.canonical_url``
    (tracking params stripped, host case-folded) unless ``canonicalize=
    False``.
    """
    from tstore_spark.functions.text import fingerprint
    from tstore_spark.functions.urls import canonical_url

    def side(df: DataFrame, fp_name: str, in_name: str) -> DataFrame:
        u = canonical_url(url_col) if canonicalize else F.col(url_col)
        return (
            df.select(u.alias("url"), fingerprint(text_col).alias(fp_name))
            .groupBy("url")
            .agg(F.min(fp_name).alias(fp_name), F.lit(True).alias(in_name))
        )

    # Presence is decided by the URL appearing in the crawl, NOT by the
    # fingerprint being non-null — a page whose text is NULL still exists.
    # Two NULL-text appearances of the same URL compare 'same' (null-safe).
    j = side(old, "_fp_old", "_in_old").join(
        side(new, "_fp_new", "_in_new"), "url", "full_outer"
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("new"))
        .when(F.col("_in_new").isNull(), F.lit("gone"))
        .when(F.col("_fp_old").eqNullSafe(F.col("_fp_new")), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", status.alias("status"))


def url_template_profile(
    df: DataFrame,
    url_col: str = "url",
    trap_min_urls: int = 1000,
) -> DataFrame:
    """URL-pattern mining / crawler-trap detection: collapse every URL to its
    structural template (:func:`tstore_spark.functions.urls.url_template` —
    UUIDs, long hex tokens, digit runs, query values) and profile each
    template's footprint. A handler minting unbounded URL spaces (calendar
    pages, session-id links, faceted search) shows up as ONE template with
    an enormous distinct-URL count — the signal a crawl scheduler uses to
    cap or skip the pattern.

    Output: (template, n_pages long, n_urls long, n_slots int,
    example_url string, is_trap boolean) where ``n_pages`` counts rows
    (re-crawls included), ``n_urls`` counts distinct raw URLs, ``n_slots``
    counts placeholder occurrences in the template, ``example_url`` is the
    lexicographic min (deterministic), and ``is_trap`` flags templates whose
    distinct-URL count reaches ``trap_min_urls``.

    Scale notes (100 TB): the template is a pure codegen regexp chain
    evaluated during the scan; the profile is ONE map-side-combined groupBy
    on the template (distinct-URL counting is the standard two-phase
    partial aggregate; min(url) rides the same shuffle). Nothing but
    (template, url) ever shuffles — text/html never leave the scan.
    Callers wanting tracking-param immunity should feed
    ``canonical_url(url)`` instead of the raw column.
    """
    from tstore_spark.functions.urls import url_template

    tpl = df.select(
        url_template(url_col).alias("template"), F.col(url_col).alias("_url")
    )
    slots = F.size(
        F.expr(r"regexp_extract_all(template, '\\{(uuid|hex|n)\\}', 0)")
    ).cast("int")
    return (
        tpl.groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("_url").alias("n_urls"),
            F.min("_url").alias("example_url"),
        )
        .select(
            "template",
            "n_pages",
            "n_urls",
            slots.alias("n_slots"),
            "example_url",
            (F.col("n_urls") >= F.lit(int(trap_min_urls))).alias("is_trap"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Split long documents into fixed-token-window chunks with optional
    overlap — the sequence-chunking step of an LLM training/RAG pipeline
    (token_pack_offsets PACKS short docs into budgets; this SPLITS long
    docs down to them).

    Chunks are whitespace-token windows starting every
    ``chunk_tokens − overlap_tokens`` tokens, up to the FIRST start whose
    window reaches the end of the doc — so coverage is total, the last
    chunk may be shorter, and no chunk is ever fully contained in its
    predecessor (a contained trailing chunk is pure duplication in a
    training set). A doc shorter than one window yields one chunk;
    NULL/empty texts yield zero rows. Chunk text is
    whitespace-NORMALIZED (tokens re-joined with single spaces — the
    token-window contract; byte-faithful slicing would need offsets the
    tokens don't carry). Output: ``(id, chunk_id, n_tokens, chunk_text)``
    with ``chunk_id`` the 0-based window ordinal, so (id, chunk_id) is a
    deterministic stable chunk key.

    Scale shape: pure Catalyst — one split per doc, starts from a
    generated arithmetic sequence, one explode of a (start, slice) struct
    EXPRESSION over the hoisted token array (the dedup.py explode rule:
    never explode an expensive array COLUMN through a pushable filter).
    No shuffle at all; chunking composes with the samplers and writers as
    a free map.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap_tokens < chunk_tokens, got {overlap_tokens}"
        )
    step = chunk_tokens - overlap_tokens
    staged = df.where(
        F.col(text_col).isNotNull() & (F.length(F.trim(text_col)) > 0)
    ).select(
        F.col(id_col),
        F.split(F.trim(text_col), r"\s+").alias("_toks"),
    )
    # starts: 0, step, 2·step, …, ub where ub = the smallest multiple of
    # step whose window reaches the doc end: ceil(max(n − chunk, 0) / step)
    # · step, in pure integer arithmetic
    d = F.greatest(F.size("_toks") - F.lit(chunk_tokens), F.lit(0)) + F.lit(step - 1)
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), d - F.pmod(d, F.lit(step)), F.lit(step)),
            lambda s: F.struct(
                (s / step).cast("int").alias("chunk_id"),
                F.slice("_toks", s + 1, chunk_tokens).alias("_ct"),
            ),
        )
    )
    out = staged.select(F.col(id_col), chunk.alias("_c"))
    return out.select(
        id_col,
        F.col("_c.chunk_id").alias("chunk_id"),
        F.size("_c._ct").cast("long").alias("n_tokens"),
        F.array_join("_c._ct", " ").alias("chunk_text"),
    )


@op_scope()
def term_cooccurrence(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pair_count: int = 2,
    max_doc_tokens: int = 5_000,
) -> DataFrame:
    """Document-level term co-occurrence counts — the corpus statistic
    phrase mining, query expansion, and embedding-prep pipelines start
    from: for every unordered token pair, in how many documents do both
    appear, alongside each token's document frequency and the corpus size
    (so PMI & friends are one expression away — see :func:`pmi_expr`).

    Output: ``(token_a, token_b, n_pair, df_a, df_b, n_docs)`` with
    ``token_a < token_b``, exact integers only, filtered to ``n_pair >=
    min_pair_count`` (a deterministic row set — no ranking ties).

    Scale shape: distinct tokens per doc first (one projection), pair
    generation is a per-doc self-join of the exploded postings —
    inherently quadratic in per-doc DISTINCT-token count, which is why
    docs beyond ``max_doc_tokens`` distinct tokens raise loudly (the
    token_jaccard_pairs valve; at web scale run after boilerplate removal
    or with a vocabulary restriction). df counts and the pair counts are
    map-side-combined groupBys; df/corpus-size attach via broadcast-sized
    joins on the token.
    """
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")
    # the tokenized postings feed three aggregations (pair join, df counts,
    # corpus size): scope-cache them or the doc-proportional tokenize +
    # array_distinct work runs three times per action (the
    # shingle_jaccard_pairs_exact discipline)
    staged = df.where(
        F.col(text_col).isNotNull() & (F.length(F.trim(text_col)) > 0)
    ).select(F.col(id_col).alias("_id"), F.array_distinct(tokens(text_col)).alias("_tk"))
    guarded = staged.select(
        "_id",
        F.when(F.size("_tk") <= max_doc_tokens, F.col("_tk")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"term_cooccurrence: doc exceeds max_doc_tokens="
                        f"{max_doc_tokens} distinct tokens at id "
                    ),
                    F.col("_id").cast("string"),
                )
            )
        ).alias("_tk"),
    )
    guarded = scoped_cache(guarded)
    posts = guarded.select("_id", F.explode("_tk").alias("_t"))
    a, b = posts.alias("a"), posts.alias("b")
    pairs = (
        a.join(b, (F.col("a._id") == F.col("b._id")) & (F.col("a._t") < F.col("b._t")))
        .groupBy(F.col("a._t").alias("token_a"), F.col("b._t").alias("token_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_pair_count)
    )
    dfreq = posts.groupBy(F.col("_t")).agg(F.count(F.lit(1)).alias("_df"))
    n_docs = guarded.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.join(dfreq.select(F.col("_t").alias("token_a"), F.col("_df").alias("df_a")), "token_a")
        .join(dfreq.select(F.col("_t").alias("token_b"), F.col("_df").alias("df_b")), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .select("token_a", "token_b", "n_pair", "df_a", "df_b", "n_docs")
    )


def pmi_expr(
    n_pair="n_pair", df_a="df_a", df_b="df_b", n_docs="n_docs"
):
    """Pointwise mutual information over :func:`term_cooccurrence` output:
    ``ln(n_pair · N / (df_a · df_b))``. ln is implementation-defined in
    IEEE (the BM25 lesson) so PMI is pytest-gated, never hash-gated —
    rank/filter on it downstream, gate the integers it derives from."""
    return F.log(
        F.col(n_pair).cast("double")
        * F.col(n_docs).cast("double")
        / (F.col(df_a).cast("double") * F.col(df_b).cast("double"))
    )


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic prose-complexity quality signals (filter web text that is
    either word salad or legalese before it reaches a training mix).

    Counts are exact longs from pure Catalyst expressions: ``n_words``
    (whitespace tokens), ``n_sentences`` (non-empty ``[.!?]+`` splits —
    terminator-less text is one sentence), ``n_syllables`` (per word:
    ``[aeiouy]+`` vowel groups, floor 1 — the standard heuristic; exact
    syllabification needs a dictionary and gains nothing for FILTERING).
    The two scores are then fixed chains of IEEE ops on those longs —

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
        fk_grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59

    — bit-identical in any engine that mirrors the op order (the
    rrf_fusion rule). Documents with no words score NULL. Zero shuffle:
    everything is a per-row projection.
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    syll_of = lambda w: F.greatest(  # noqa: E731 — inline, mirrored in SQL
        F.lit(1), F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0))
    )
    sents = F.size(
        F.filter(F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s) != F.lit(""))
    )
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + syll_of(w)
        ).alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    ok = (F.col("n_words") > 0) & (F.col("n_sentences") > 0)
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(ok, F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw)
        .alias("flesch"),
        F.when(ok, F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59))
        .alias("fk_grade"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str = "NFC",
    strip_marks: bool = False,
    collapse_ws: bool = False,
) -> DataFrame:
    """Unicode-normalize a text column (the CCNet text-hygiene pass: the
    same logical string must fingerprint/dedup identically whether a crawl
    emitted it precomposed or decomposed).

    ``form`` is a UAX#15 normalization form (NFC/NFKC/NFD/NFKD);
    ``strip_marks`` additionally folds accents (NFD -> drop combining
    marks -> recompose — classic accent folding); ``collapse_ws`` squeezes
    whitespace runs to single spaces and trims (that part is pure Catalyst
    and runs AFTER normalization, codegen-side).

    Spark has no normalization builtin, so the normalize step is the one
    honest Arrow kernel here (per-batch, NULL-preserving); everything
    downstream of it (fingerprints, dedup, tokenization) stays JVM. Scale
    shape: a projection — no shuffle, no state — but the kernel ships every
    column of ``df`` through Arrow, so select down to the columns you need
    BEFORE normalizing (a join-back would shuffle; this does not). DuckDB's ``nfc_normalize``
    twins the NFC form for the gate; both sides implement UAX#15, which is
    version-stable for all long-assigned codepoints.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    import pandas as pd
    import unicodedata

    def kernel(batches):
        def norm(s):
            if s is None:
                return None
            t = unicodedata.normalize(form, s)
            if strip_marks:
                t = unicodedata.normalize(
                    "NFC",
                    "".join(
                        ch
                        for ch in unicodedata.normalize("NFD", t)
                        if unicodedata.category(ch) != "Mn"
                    ),
                )
            return t

        for pdf in batches:
            pdf = pdf.copy()
            pdf["__norm"] = pdf["__raw"].map(norm)
            yield pdf

    cols = df.columns
    prepped = df.withColumn("__raw", F.col(text_col).cast("string"))
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in prepped.schema.fields)
    out = prepped.mapInPandas(kernel, schema=f"{schema}, __norm string")
    result = F.col("__norm")
    if collapse_ws:
        result = F.trim(F.regexp_replace(result, r"\s+", " "))
    return out.select(*cols, result.alias(out_col))


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-grain exact dedup with first-occurrence survival — the
    RefinedWeb/SlimPajama corpus pass between doc-level `exact_dedup` and
    substring-level `dedup.duplicate_spans`: a boilerplate paragraph
    (cookie banner, license block) pasted across thousands of pages is
    kept ONCE (in the globally first document that carries it) and cut
    everywhere else, while each host document survives with its unique
    paragraphs intact.

    Pure Catalyst: split → posexplode → md5 fingerprint → ONE groupBy
    picking the global first occurrence (min (doc, pos) struct — a total
    order, so survival is deterministic at any parallelism) → semi-join
    keep → order-preserving reassembly (array_sort over (pos, para)
    structs; no window). Shuffles carry (fingerprint, doc, pos) triples —
    never full texts except the final per-doc rebuild.

    EMPTY paragraphs (consecutive separators) are never dedup candidates
    — deduping '' would collapse every paragraph break corpus-wide, the
    exact remove_boilerplate_lines empty-line lesson.

    Returns ``(id_col, text_col)`` with the deduplicated text; documents
    whose every paragraph was cut return the empty string (row retained —
    a filter pass must never drop rows silently).
    """
    import re as _re

    # F.split takes a REGEX — escape so ``sep`` is always literal (a '.'
    # separator must not split on every character); reassembly's concat_ws
    # is literal already, so both directions agree.
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "para"),
    )
    fp = paras.where(F.col("para") != "").withColumn("_fp", F.md5("para"))
    first = fp.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("_keep")
    )
    kept_dup = (
        fp.join(first, "_fp")
        .where((F.col(id_col) == F.col("_keep.i")) & (F.col("pos") == F.col("_keep.p")))
        .select(id_col, "pos", "para")
    )
    kept = kept_dup.unionByName(
        paras.where(F.col("para") == "").select(id_col, "pos", "para")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias(text_col)
    )
    # left join keeps fully-cut documents (empty string, never a dropped row)
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
