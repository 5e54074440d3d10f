"""Distributed BPE tokenizer training and encoding.

The reference's text stack stops at token COUNTING; a training-data
pipeline also needs to LEARN the subword vocabulary (the tokenizer-
training step every LM corpus goes through). The scale-correct shape
— the one HF tokenizers/SentencePiece use — is that BPE training
never iterates over the corpus: ONE corpus pass builds the word-
frequency table (bounded cardinality: a natural-language vocabulary),
and every merge iteration runs on that vocab-sized relation. At
100 TB the corpus pass is a map-side regex + one groupBy shuffle;
the n_merges iterations afterwards are jobs over a few-hundred-
thousand-row table, lazily ``localCheckpoint``-ed so the iterative
lineage never re-executes (same stance as pagerank / integer-Lloyd).

All arithmetic is integer counts and string equality — layout-
independent and engine-exact by construction, with the deterministic
(count DESC, left ASC, right ASC) tie-break making the learned merge
list reproducible bit-for-bit (pinned against a pure-Python Sennrich
reference in tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from data_frame_spark.operators.text import TOKEN_PATTERN
from data_frame_spark.session import local_frame

END_OF_WORD = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The single corpus pass: lowercase BPE-ish words (same
    TOKEN_PATTERN as the counting/ngram operators) rolled up to a
    bounded (word, n) frequency table — the only stage whose cost
    scales with the corpus."""
    w = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
    )
    return (
        df.select(w.alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _char_split(word: Column) -> Column:
    """Initial symbol sequence: single characters plus the standard
    end-of-word marker (so merges can learn word-final units)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_OF_WORD)))


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right collapse of every adjacent (left, right)
    into their concatenation — a single fold, no per-row Python. The
    fold only captures literals, so nothing outer re-evaluates per
    element (the round-7 lambda-capture trap)."""
    merged = left + right
    return F.when(F.size(syms) < 2, syms).otherwise(
        F.aggregate(
            F.slice(syms, 2, F.size(syms) - 1),
            F.slice(syms, 1, 1),
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
    )


# The CASE guard matters: sequence(1, 0) DESCENDS (the round-7
# inverted-span trap), so a fully-merged single-symbol word would
# otherwise emit phantom out-of-range (NULL, sym) pairs.
_PAIRS = (
    "CASE WHEN size(syms) < 2"
    " THEN CAST(array() AS array<struct<l: string, r: string>>)"
    " ELSE transform(sequence(1, size(syms) - 1),"
    " i -> struct(syms[i-1] AS l, syms[i] AS r)) END"
)


def bpe_fit(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_count: int = 2,
    strict: bool = False,
) -> DataFrame:
    """Learn a BPE merge list from the corpus: per iteration, count
    every adjacent symbol pair weighted by word frequency (overlap
    counted — the Sennrich get_stats contract), take the single best
    pair by (count DESC, left ASC, right ASC), and collapse it in the
    word table. Stops early when no pair reaches ``min_count``.
    Returns (rank, left, right, pair_n) — the tokenizer artifact.

    ``strict=True`` raises instead when the corpus stops early — the
    contract an exactly-``n_merges``-row oracle replay needs (the
    DuckDB twin in queries.bpe_family_oracle_sql always emits n_merges
    rows).

    Scale shape: ``word_counts`` is the only corpus-sized stage; each
    iteration is one explode+groupBy and one TakeOrdered(1) on the
    bounded vocab table plus a narrow merge projection, checkpointed.
    """
    if n_merges < 0:
        raise ValueError("bpe_fit n_merges must be >= 0")
    spark = df.sparkSession
    # LAZY checkpoints throughout the loop (r18): each iteration's
    # argmax collect is the job that materializes the previous merge
    # projection, so fit costs ONE job per merge instead of two
    # (truncation semantics unchanged; the merge projections are
    # narrow, so the lazy boundary launches no job of its own).
    words = (
        word_counts(df, text_col)
        .select(_char_split(F.col("word")).alias("syms"), "n")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            words.select(F.explode(F.expr(_PAIRS)).alias("p"), "n")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            if strict:
                raise ValueError(
                    f"bpe_fit(strict=True): corpus sustains only {rank} of "
                    f"{n_merges} merges at min_count={min_count}"
                )
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, l, r, cnt))
        words = words.select(
            _merge_pair(F.col("syms"), l, r).alias("syms"), "n"
        ).localCheckpoint(eager=False)
    return local_frame(
        spark, merges, "rank long, left string, right string, pair_n long"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
    vocab_broadcast: bool | str = "auto",
    broadcast_max_words: int = 2_000_000,
) -> DataFrame:
    """Encode the corpus with a learned merge list: (id, subword
    array) per row, empty array for token-free documents. OOV-safe:
    merges replay on the DISTINCT words of THIS corpus (bounded
    table, one tiny job per merge), so unseen words still segment
    exactly as the BPE algorithm dictates instead of falling back.

    Scale shape: TWO corpus passes — one tokenize scan to discover
    the distinct vocabulary, one tokenize+posexplode scan as the join
    probe (re-scanning is deliberately cheaper at scale than
    persisting the exploded word stream); per-doc reassembly is one
    groupBy on the id with an array_sort — no window, no driver loop
    over data. The merge list itself is an operational constant
    (≤ n_merges rows), collected like the quantile boundary literals.

    The word→symbols lookup is SIZE-GATED (round-11 advisory):
    "vocabulary-bounded" is a soft bound — a web corpus's
    distinct-token table (typos, IDs, URLs surviving TOKEN_PATTERN)
    can reach 10^8 rows, past broadcast practicality. With the
    default ``vocab_broadcast="auto"`` the checkpointed vocab is
    counted (one cheap job on the materialized table) and broadcast
    only when ≤ ``broadcast_max_words``; above the gate — or with
    ``vocab_broadcast=False`` — the lookup is a pinned SHUFFLE_HASH
    equi-join on the word, the same no-corpus-broadcast discipline as
    ngram_contamination. ``True`` forces the broadcast for callers
    that know their vocabulary is small.
    """
    if not (vocab_broadcast is True or vocab_broadcast is False
            or vocab_broadcast == "auto"):
        # any other string is truthy and would silently FORCE the
        # broadcast, bypassing the size gate this parameter exists for
        raise ValueError(
            f"vocab_broadcast must be True, False or 'auto', got {vocab_broadcast!r}"
        )
    if isinstance(merges, DataFrame):
        mrows = merges.orderBy("rank").select("left", "right").collect()
        mlist = [(r["left"], r["right"]) for r in mrows]
    else:
        mlist = list(merges)
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0
    )
    wordsdf = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "word")
    )
    vocab = wordsdf.select("word").distinct().select(
        "word", _char_split(F.col("word")).alias("syms")
    )
    # lazy: the auto-gate count (or the final join) materializes it
    vocab = vocab.localCheckpoint(eager=False)
    if vocab_broadcast == "auto":
        # count on the lazily-checkpointed table: the count IS the
        # job that materializes it; no rescan either way
        vocab_broadcast = vocab.count() <= broadcast_max_words
    for l, r in mlist:
        vocab = vocab.select(
            "word", _merge_pair(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=False)
    if vocab_broadcast:
        joined = wordsdf.join(F.broadcast(vocab), "word")
    else:
        joined = wordsdf.join(vocab.hint("shuffle_hash"), "word")
    assembled = (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "syms"))).alias("__a")
        )
        .select(
            F.col(id_col),
            F.flatten(F.expr("transform(__a, x -> x.syms)")).alias(out_col),
        )
    )
    return df.select(id_col).join(assembled, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.array().cast("array<string>")).alias(
            out_col
        ),
    )
