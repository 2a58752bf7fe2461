"""Distributed BPE tokenizer training (byte-pair encoding) over a corpus.

The tokenizer-training pass an LLM data pipeline runs after cleaning/dedup
(Sennrich et al. 2016: iteratively merge the most frequent adjacent symbol
pair). The reference has no tokenizer surface; this is pipeline-layer graft
alongside lm.py (quality LM) and sampling.py (token packing), in the repo's
exactness discipline:

* **The corpus collapses to a word-frequency table first.** Classic BPE
  never merges across word boundaries, so the ONLY corpus-scale operation
  is one ``groupBy(word)`` count (map-side combined). At 10^12 documents
  that is the same shape as the search-index build; every merge iteration
  afterwards touches the DISTINCT-word table (vocabulary-sized, ~10^7-10^8
  rows for web text — bounded by Heaps' law, not corpus size).
* **Exact integer counts, total tie order.** A pair's score is the exact
  BIGINT sum of word frequencies over its (overlapping) adjacent
  occurrences; the winning pair each round is argmax by
  ``(count DESC, left ASC, right ASC)`` — binary string comparison in both
  engines, so the whole merge sequence is deterministic and
  engine-identical. No floats anywhere.
* **Greedy merge application is a pure Catalyst fold.** Applying merge
  (L, R) left-to-right with non-overlapping matches is exactly a left fold:
  append each symbol, and when the accumulator's last element is L and the
  incoming symbol is R, replace the tail with L||R. (A freshly merged token
  L||R can never itself equal L — R is non-empty — so the fold cannot
  cascade within a round; this is the standard greedy-equals-fold argument.)
  The DuckDB twin replays the SAME semantics relationally: mark matched
  positions, group consecutive matches into runs (gaps-and-islands), keep
  the odd-ranked match of each run (= even offsets = leftmost
  non-overlapping), drop consumed successors.
* **Per-round plans stay flat.** The word table is eagerly
  ``localCheckpoint``-ed each round (the dedup_clusters posture): k rounds
  are k short jobs over a bounded table, never a k-deep lambda tower and
  never a second corpus scan.

Scale valves: ``max_word_len`` drops pathological unbroken strings from
training (mirrored exactly in the oracle — a rule, not a truncation);
training on a deterministic corpus sample (``sampling.deterministic_split``)
composes upstream when even the word table must shrink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstore_spark.plans.scope import op_scope, scoped_cache

#: words longer than this never train (crawler garbage / base64 blobs);
#: the oracle applies the same rule, so it is semantics, not truncation.
DEFAULT_MAX_WORD_LEN = 64


def word_counts(
    corpus: DataFrame,
    text_col: str = "text",
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact ``(word, freq)`` over the corpus — the single corpus-scale pass
    (one explode + one map-side-combined groupBy, the search-index shape).
    Tokenization is the shared search/lm rule: lowercased ``[a-z0-9]+`` runs.

    ``tokens_col``: name of an existing ``array<string>`` token column to
    use instead of tokenizing ``text_col`` — pass it (ideally from a cached
    frame) when composing train/encode/normalize over the same corpus so the
    corpus tokenizes once total."""
    from tstore_spark.operators.search import _tokens

    toks = F.col(tokens_col) if tokens_col else _tokens(text_col)
    return (
        corpus.select(F.explode(toks).alias("word"))
        .where(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_structs(syms) -> "F.Column":
    """Adjacent (l, r) symbol pairs of an array column, JVM-side; overlapping
    occurrences all count (the lm.py bigram idiom — both engines agree)."""
    c = F.col(syms) if isinstance(syms, str) else syms
    n = F.greatest(F.size(c) - 1, F.lit(0))
    return F.arrays_zip(F.slice(c, 1, n).alias("l"), F.slice(c, 2, n).alias("r"))


def _merge_fold(syms, left: str, right: str) -> "F.Column":
    """Greedy leftmost non-overlapping application of merge (left, right):
    a left fold appending symbols, fusing when tail == left and next == right."""
    c = F.col(syms) if isinstance(syms, str) else syms
    L, R = F.lit(left), F.lit(right)
    return F.aggregate(
        F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0))),
        F.slice(c, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == L) & (x == R),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(L, R))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: Sennrich et al.'s end-of-word marker — appended to each word's final
#: character symbol so the flat token stream keeps word boundaries and
#: encoding becomes INVERTIBLE (bpe_decode_tokens); '</w>' never appears in
#: the alphanumeric token alphabet, so the marker is unambiguous
WORD_END = "</w>"


@op_scope()
def bpe_train(
    corpus: DataFrame,
    text_col: str = "text",
    merges: int = 8,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    mark_word_end: bool = False,
    round_partitions: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Learn ``merges`` BPE merge rules; returns the merge table
    ``(rank int, lhs string, rhs string, token string, pair_count bigint)``
    in training order (``token = lhs || rhs``).

    ``round_partitions``: shuffle-partition override for the k merge-round
    jobs (set + restored around the training loop). The per-round
    aggregations are VOCABULARY-sized (Heaps' law), so on a small corpus the
    session's cascade-tuned partition count is nearly all scheduling
    overhead — 16 measured ~25%% off an 8-round train at sf0.1. Leave None
    at corpus scale (10^7-10^8-row vocabularies want the session setting).

    Each round = one pair aggregation over the word table (map-side
    combined, exact BIGINT weights) + a 1-row TakeOrdered argmax + one fold
    projection; the word table is re-materialized per round via eager
    localCheckpoint so round t never replays rounds 0..t-1. Raises if the
    corpus runs out of adjacent pairs before ``merges`` rounds (a corpus
    too small to train on should fail loudly, not pad the table).

    ``mark_word_end=True`` trains with Sennrich's ``</w>`` marker on each
    word's last character symbol — learned merges then distinguish
    word-final positions and the matching :func:`bpe_encode` output is
    losslessly invertible via :func:`bpe_decode_tokens`.
    """
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    spark = corpus.sparkSession
    syms = F.split("word", "")
    if mark_word_end:
        n = F.size(syms)
        syms = F.transform(
            syms,
            lambda s, i: F.when(i == n - 1, F.concat(s, F.lit(WORD_END))).otherwise(s),
        )
    words = scoped_cache(
        word_counts(corpus, text_col, max_word_len, tokens_col=tokens_col).select(
            "freq", syms.alias("syms")
        )
    )
    rows: list[tuple] = []
    checkpoints: list[DataFrame] = []
    prior_parts = None
    if round_partitions is not None:
        prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(round_partitions)))
    try:
        for rank in range(merges):
            best = (
                words.select("freq", F.explode(_pair_structs("syms")).alias("_p"))
                .groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "l", "r")
                .limit(1)
                .collect()
            )
            if not best:
                raise ValueError(
                    f"bpe_train: corpus exhausted after {rank} merges "
                    f"(asked for {merges}) — every word is a single symbol"
                )
            l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            rows.append((rank, l, r, l + r, cnt))
            if rank + 1 < merges:
                # lazy checkpoint: materializes inside the NEXT round's
                # aggregation job (same work, half the driver round-trips of
                # the eager form — measured ~25% off an 8-round train).
                # Words reduced to one symbol can never pair again: drop
                # them so the table shrinks monotonically across rounds.
                words = (
                    words.select("freq", _merge_fold("syms", l, r).alias("syms"))
                    .where(F.size("syms") > 1)
                    .localCheckpoint(eager=False)
                )
                checkpoints.append(words)
    finally:
        if prior_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
        for df in checkpoints:
            # localCheckpoints pin blocks until unpersisted; the merge
            # table below carries no lineage into them
            try:
                df.unpersist()
            except Exception:
                pass
    return spark.createDataFrame(
        rows, schema="rank int, lhs string, rhs string, token string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame,
    merge_rows: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    mark_word_end: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Tokenize ``docs`` with a trained merge list (``(lhs, rhs)`` in rank
    order — e.g. ``[(r['lhs'], r['rhs']) for r in merge_table.collect()]``):
    per word, each merge is applied greedily in training order (Sennrich's
    apply-in-learned-order encoder). Returns
    ``(id_col, bpe_tokens array<string>, bpe_token_count int)``.

    One Arrow pass over the docs; a per-batch word->encoding memo makes the
    kernel cost proportional to DISTINCT words per batch (Zipf makes that
    small), not token count. Words beyond ``max_word_len`` pass through
    unmerged — same rule as training, where they never contributed pairs.

    ``mark_word_end=True`` (with merges trained the same way) appends
    ``</w>`` to each word's final symbol BEFORE merging — the token stream
    then carries word boundaries and :func:`bpe_decode_tokens` inverts it
    exactly back to the normalized word sequence.
    """
    pairs = [(str(l), str(r)) for l, r in merge_rows]
    import pandas as pd

    from tstore_spark.operators.search import _tokens

    def kernel(batches):
        memo: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                syms = list(word)
                if mark_word_end:
                    syms[-1] += WORD_END
                if len(word) <= max_word_len:
                    for l, r in pairs:
                        out: list[str] = []
                        for s in syms:
                            if out and out[-1] == l and s == r:
                                out[-1] = l + r
                            else:
                                out.append(s)
                        syms = out
                got = memo[word] = syms
            return got

        for pdf in batches:
            toks = pdf["_w"].map(
                lambda ws: [t for w in ws for t in enc(w)]
            )
            yield pd.DataFrame(
                {"_id": pdf["_id"], "bpe_tokens": toks, "n": toks.map(len)}
            )

    id_type = dict(docs.dtypes)[id_col]
    # NULL text tokenizes to NULL — coalesce so the kernel sees an empty doc.
    # tokens_col: reuse an existing token-array column (the word_counts
    # composition contract) instead of re-tokenizing.
    toks = F.col(tokens_col) if tokens_col else _tokens(text_col)
    prepped = docs.select(
        F.col(id_col).alias("_id"),
        F.coalesce(toks, F.array().cast("array<string>")).alias("_w"),
    )
    return prepped.mapInPandas(
        kernel, schema=f"_id {id_type}, bpe_tokens array<string>, n int"
    ).select(
        F.col("_id").alias(id_col),
        "bpe_tokens",
        F.col("n").alias("bpe_token_count"),
    )


def bpe_decode_tokens(
    encoded: DataFrame,
    tokens_col: str = "bpe_tokens",
    out_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Invert :func:`bpe_encode(mark_word_end=True)`: concatenate the token
    stream, split on the ``</w>`` word marker, rejoin with single spaces —
    exactly the normalized word sequence the tokenizer saw (lowercased
    alphanumeric words; the pipeline's detokenization contract, asserted by
    the roundtrip tests/gate). Pure Catalyst string expressions, zero
    shuffle, zero Python — the decode side costs a projection.

    Tokens produced WITHOUT the marker cannot be decoded (no boundary
    information survives); the output would be one concatenated run, so
    callers must pair this with marker-trained merges.
    """
    flat = F.array_join(F.col(tokens_col), "")
    # words = split on the marker; the final marker yields one trailing ''
    words = F.filter(F.split(flat, WORD_END, -1), lambda w: w != F.lit(""))
    return encoded.select(F.col(id_col), F.array_join(words, " ").alias(out_col))


def bpe_oracle_sql(
    docs_sql: str,
    text_col: str = "text",
    merges: int = 8,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
) -> str:
    """DuckDB twin of :func:`bpe_train`, generated from the same constants:
    the whole merge recursion unrolled as MATERIALIZED CTEs (the
    kmeans/k_core twin pattern). Each round counts pairs over exploded
    (word, pos, sym) rows, picks the argmax with the same
    ``(cnt DESC, l, r)`` total order, and applies the merge with the
    gaps-and-islands formulation of greedy leftmost non-overlapping
    matching: matched positions -> runs of consecutive matches -> keep
    odd-ranked matches per run -> drop each kept match's successor.
    ``docs_sql`` must yield the corpus with ``text_col``."""
    parts = [
        f"bpe_src AS ({docs_sql})",
        (
            "bpe_w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq,"
            " string_split(word, '') AS syms FROM (SELECT unnest(list_filter("
            f"string_split_regex(lower({text_col}), '[^a-z0-9]+'),"
            " x -> len(x) > 0)) AS word FROM bpe_src)"
            f" WHERE len(word) <= {max_word_len} GROUP BY word)"
        ),
    ]
    sel = []
    for t in range(merges):
        parts += [
            (
                f"bpe_b{t} AS MATERIALIZED (SELECT l, r, CAST(SUM(freq) AS BIGINT)"
                f" AS cnt FROM (SELECT freq, syms[i] AS l, syms[i + 1] AS r"
                f" FROM bpe_w{t}, unnest(generate_series(1, len(syms) - 1)) u(i))"
                " GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)"
            ),
        ]
        sel.append(
            f"SELECT {t} AS rank, l AS lhs, r AS rhs, l || r AS token,"
            f" cnt AS pair_count FROM bpe_b{t}"
        )
        if t + 1 < merges:
            parts += [
                (
                    f"bpe_e{t} AS (SELECT word, freq, i AS pos, syms[i] AS tok"
                    f" FROM bpe_w{t}, unnest(generate_series(1, len(syms))) u(i))"
                ),
                (
                    f"bpe_m{t} AS (SELECT e.word, e.freq, e.pos, e.tok,"
                    " (e.tok = b.l AND lead(e.tok) OVER"
                    " (PARTITION BY e.word ORDER BY e.pos) = b.r) AS hit"
                    f" FROM bpe_e{t} e CROSS JOIN bpe_b{t} b)"
                ),
                (
                    f"bpe_k{t} AS (SELECT word, pos FROM (SELECT word, pos,"
                    " row_number() OVER (PARTITION BY word, pos - rn ORDER BY pos)"
                    " AS o FROM (SELECT word, pos, row_number() OVER"
                    " (PARTITION BY word ORDER BY pos) AS rn"
                    f" FROM bpe_m{t} WHERE hit)) WHERE o % 2 = 1)"
                ),
                (
                    f"bpe_w{t + 1} AS MATERIALIZED (SELECT m.word, m.freq,"
                    " list(CASE WHEN kk.pos IS NOT NULL THEN"
                    f" (SELECT l || r FROM bpe_b{t}) ELSE m.tok END"
                    " ORDER BY m.pos) AS syms"
                    f" FROM bpe_m{t} m"
                    f" LEFT JOIN bpe_k{t} kk ON kk.word = m.word AND kk.pos = m.pos"
                    f" LEFT JOIN bpe_k{t} kp ON kp.word = m.word AND kp.pos = m.pos - 1"
                    " WHERE kp.pos IS NULL GROUP BY m.word, m.freq)"
                ),
            ]
    return "WITH " + ",\n".join(parts) + "\n" + " UNION ALL ".join(sel)
