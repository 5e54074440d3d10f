"""Text analysis operators for large-scale corpus pipelines.

North-star extensions (no reference analog — SURVEY §7 Phase 6):
language ID, quality scoring, token counting, document
fingerprinting. All pure Column expressions (JVM-side, codegen) —
no Python in the hot path — and every one has a SQL twin for the
oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_frame_spark.functions.texthash import md5_hash

# ---------------------------------------------------------------------------
# tokenization / shingles
# ---------------------------------------------------------------------------

#: BPE-ish word/punct splitter: words, numbers, or single punctuation
TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def normalize(col: Column) -> Column:
    """lower + whitespace collapse — the canonical form used by all
    hashing/dedup operators."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize(col), " ")


def _bind(arr: Column, body) -> Column:
    """Evaluate ``arr`` ONCE per row and pass the VALUE into ``body``
    (a lambda Column -> Column), via a one-element transform wrap.

    Why this exists (round-7 bench finding): a higher-order function
    evaluates its INPUT array once, but any outer expression CAPTURED
    in the lambda body is re-evaluated on the row for EVERY element —
    so ``transform(sequence(1, n), i -> slice(toks, i, k))`` with
    ``toks = split(regexp_replace(...))`` re-runs the whole tokenize
    per element: O(n²) regex work per document. Binding the array as
    a lambda variable makes it a cheap bound reference (6x faster on
    the gopher gram scan, 16s -> 2.5s for the full feature set at
    sf0.1). Semantically a no-op.
    """
    return F.element_at(F.transform(F.array(arr), body), 1)


def shingle_rows(
    df: "DataFrame", text_col: str, id_col: str, n: int = 3, keep_pos: bool = False
) -> "DataFrame":
    """Exploded word n-gram shingles as (id, shingle) rows.

    Formulated as posexplode + lead windows (one shuffle keyed by
    document) instead of building per-row shingle ARRAYS: Spark's
    higher-order array lambdas are interpreted per element, while
    posexplode/lead/concat_ws stay inside whole-stage codegen —
    ~3x faster and the shuffle key keeps it distributed at any
    scale. Documents shorter than n tokens contribute their whole
    normalized text (same semantics as :func:`word_shingles`).
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    leads = tok
    for i in range(1, n):
        leads = leads.withColumn(f"__t{i}", F.lead("__tok", i).over(w))
    pos_cols = ["__pos"] if keep_pos else []
    full = leads.where(F.col(f"__t{n-1}").isNotNull()).select(
        "__id",
        *pos_cols,
        F.concat_ws(" ", "__tok", *[f"__t{i}" for i in range(1, n)]).alias("__shingle"),
    )
    short = (
        df.select(
            F.col(id_col).alias("__id"),
            *( [F.lit(0).alias("__pos")] if keep_pos else [] ),
            normalize(F.col(text_col)).alias("__shingle"),
            F.size(tokens(F.col(text_col))).alias("__nt"),
        )
        .where(F.col("__nt") < n)
        .drop("__nt")
    )
    return full.unionByName(short)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>); documents shorter than
    n tokens yield their full token string as a single shingle."""

    def body(tk):
        k = F.size(tk) - F.lit(n - 1)
        return F.when(
            k <= 0, F.array(F.concat_ws(" ", tk))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            )
        )

    return _bind(tokens(col), body)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: words/numbers/punct via the BPE-ish
    regex, plus a length penalty (long words split ~every 6 chars —
    a cheap proxy for BPE fragment counts)."""
    words = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.lit(1) + F.floor(F.length(w) / F.lit(7.0)).cast("long"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with as "
    "for on at by from not but"
).split()


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals (ratios in [0,1] unless noted):
    n_chars, n_tokens, mean_token_len, punct_ratio, digit_ratio,
    stopword_ratio, unique_token_ratio — the standard cheap filters
    a pretraining pipeline applies before expensive scoring."""
    c = F.col(text_col)
    stop_arr = F.array([F.lit(s) for s in STOPWORDS])
    # one tokenize per row: (n_tok, n_stop, n_uniq) fall out of a
    # single bound pass. The struct must be PROJECTED into a real
    # column (like gopher_repetition's __gr_toks) — interpreted
    # higher-order functions sit outside codegen CSE, so embedding
    # the same tk3 expression into four output columns would re-run
    # the tokenize up to 4x per row.
    tk3 = _bind(
        tokens(c),
        lambda tk: F.struct(
            F.size(tk).alias("n"),
            F.size(
                F.filter(tk, lambda t: F.array_contains(stop_arr, t))
            ).alias("stop"),
            F.size(F.array_distinct(tk)).alias("uniq"),
        ),
    )
    base = df.withColumn("__q_tk3", tk3)
    n_tok = F.col("__q_tk3")["n"]
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    n_stop = F.col("__q_tk3")["stop"]
    n_uniq = F.col("__q_tk3")["uniq"]
    return base.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "n_tokens": n_tok.cast("long"),
            "mean_token_len": (
                (n_chars - (n_tok - 1)) / n_tok
            ).cast("double"),
            "punct_ratio": (punct / n_chars).cast("double"),
            "digit_ratio": (digits / n_chars).cast("double"),
            "stopword_ratio": (n_stop / n_tok).cast("double"),
            "unique_token_ratio": (n_uniq / n_tok).cast("double"),
        }
    ).drop("__q_tk3")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single [0,1] score: penalties for extreme length, high punct/
    digit share, low stopword share, low vocabulary diversity."""
    feat = quality_features(df, text_col)
    score = (
        F.lit(1.0)
        - F.least(F.lit(0.3), F.col("punct_ratio") * 2)
        - F.least(F.lit(0.2), F.col("digit_ratio"))
        - F.when(F.col("stopword_ratio") < 0.01, F.lit(0.2)).otherwise(F.lit(0.0))
        - F.when(F.col("unique_token_ratio") < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return feat.withColumn("quality_score", F.greatest(F.lit(0.0), score))


# ---------------------------------------------------------------------------
# repetition signals (the published large-corpus quality filters:
# repetitive documents — boilerplate, scraped menus, generation
# loops — are removed by thresholding these fractions)
# ---------------------------------------------------------------------------


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals, pure Column expressions:

    * ``dup_line_fraction`` — fraction of newline-split lines that
      are duplicates of an earlier line (1 - distinct/total).
    * ``top_bigram_fraction`` — share of word-bigram occurrences
      taken by the single most frequent bigram (0 when < 2 tokens).

    The top-bigram count is a sorted-run scan over the in-row bigram
    array (array_sort + one aggregate lambda) — O(n log n) per
    document with NO shuffle, so the whole feature set stays a
    map-only pass. A SQL twin reproduces the same integers via
    UNNEST + GROUP BY."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    nl = F.size(lines)
    dup_lines = (
        (nl - F.size(F.array_distinct(lines))).cast("double") / nl
    )
    toks = tokens(c)
    n = F.size(toks)
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def step(acc, w):
        run = (
            F.when(w == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            w.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    def body(tk):
        bgs = F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            )
        )
        return F.aggregate(bgs, acc0, step, lambda a: a["best"])

    best = _bind(toks, body)
    top_bigram = F.when(
        n >= 2, best.cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "dup_line_fraction": dup_lines.cast("double"),
            "top_bigram_fraction": top_bigram,
        }
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1)
# ---------------------------------------------------------------------------

#: Gopher table-A1 thresholds: drop when the fraction is >= these.
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _gram_run_stats(toks: Column, n: int) -> Column:
    """struct(top_mass, dup_mass) — integer char masses over the word
    ``n``-grams of one document, from a single run-length scan of the
    SORTED in-row gram array:

    * ``top_mass`` — occurrences x char-length of the most frequent
      n-gram (ties broken toward the lexicographically smallest gram,
      which the ascending sort + strict-greater update gives for
      free).
    * ``dup_mass`` — sum of occurrences x char-length over every
      n-gram that occurs >= 2 times.

    Documents with fewer than ``n`` tokens have no n-gram: (0, 0).
    """
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("\x00").alias("prev"),
        zero.alias("run"),
        zero.alias("dup"),
        zero.alias("top_run"),
        F.lit("").alias("top_gram"),
    )

    def step(acc, w):
        same = w == acc["prev"]
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        # a run just ended: fold the finished run into dup_mass
        dup = F.when(
            (~same) & (acc["run"] >= 2),
            acc["dup"] + acc["run"] * F.length(acc["prev"]).cast("long"),
        ).otherwise(acc["dup"])
        better = run > acc["top_run"]
        return F.struct(
            w.alias("prev"),
            run.alias("run"),
            dup.alias("dup"),
            F.when(better, run).otherwise(acc["top_run"]).alias("top_run"),
            F.when(better, w).otherwise(acc["top_gram"]).alias("top_gram"),
        )

    def finish(acc):
        dup = F.when(
            acc["run"] >= 2,
            acc["dup"] + acc["run"] * F.length(acc["prev"]).cast("long"),
        ).otherwise(acc["dup"])
        top = F.when(
            acc["top_run"] > 0,
            acc["top_run"] * F.length(acc["top_gram"]).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(top.alias("top_mass"), dup.alias("dup_mass"))

    def body(tk):
        k = F.size(tk) - F.lit(n - 1)
        grams = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
                )
            )
        )
        return F.aggregate(grams, acc0, step, finish)

    return _bind(toks, body)


def _gram_masses_batched(
    toks: Column, top_ns: tuple[int, ...], dup_ns: tuple[int, ...]
) -> Column:
    """Arrow-batched array<long> of every Gopher gram mass (top_ns
    masses first, then dup_ns, in declaration order) — bit-identical
    to the per-n :func:`_gram_run_stats` expressions it replaces:
    the same integer char masses (gram length = Σ token lengths +
    n−1 separator spaces = length of the concat_ws(" ") gram), the
    same most-frequent tie-break toward the lexicographically
    smallest gram STRING (ties are compared on the joined string, so
    tokens sorting differently as tuples vs joined text cannot
    diverge), and (0, 0) for documents with fewer than n tokens.
    One Counter pass per (doc, n) in C-level dict ops instead of an
    interpreted build + array_sort + run-length fold (r18
    optimization, guide §4.2)."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _masses(col: pd.Series) -> pd.Series:
        out = []
        for arr in col:
            tk = None if arr is None else list(arr)
            row = []
            for kind, ns in (("top", top_ns), ("dup", dup_ns)):
                for n in ns:
                    if tk is None or len(tk) < n:
                        row.append(0)
                        continue
                    grams = Counter(zip(*[tk[i:] for i in range(n)]))
                    if kind == "dup":
                        m = 0
                        for g, c in grams.items():
                            if c >= 2:
                                m += c * (sum(map(len, g)) + n - 1)
                        row.append(m)
                    else:
                        best = max(grams.values())
                        tied = [g for g, c in grams.items() if c == best]
                        g = (
                            tied[0]
                            if len(tied) == 1
                            else min(tied, key=lambda t: " ".join(t))
                        )
                        row.append(best * (sum(map(len, g)) + n - 1))
            out.append(row)
        return pd.Series(out)

    return _masses(toks)


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Gopher repetition-quality signals, one column pair per n:

    * ``top_{n}gram_frac`` — chars covered by occurrences of the
      single most frequent word n-gram / normalized doc chars.
    * ``dup_{n}gram_frac`` — char mass of all n-grams occurring >= 2
      times / normalized doc chars (an upper bound when duplicated
      grams overlap — the standard published approximation; the
      thresholds are calibrated against the same definition).

    100 TB shape: a per-document quality filter must not shuffle —
    all five gram masses ride ONE Arrow-batched kernel projection
    (:func:`_gram_masses_batched`, r18: C-level dict counting
    replaced the interpreted sort+run-length array lambdas, 3.5 s →
    1.26 s at sf0.1) plus pure Column fractions, so the whole pass
    stays narrow/map-only at any corpus size — one ArrowEvalPython
    node instead of an expression-fusable projection, an accepted
    trade (the expression form survives as
    :func:`_gram_run_stats`, the kernel's tested reference twin).
    """
    c = F.col(text_col)
    ltot = F.length(normalize(c)).cast("long")
    out = {}
    frac = lambda mass: F.when(
        ltot > 0, mass.cast("double") / ltot.cast("double")
    ).otherwise(F.lit(0.0))
    # tokenize ONCE into a projected column — each of the 5 gram
    # scans then reads a bound array reference instead of re-running
    # the regex tokenize (the interpreted HOFs sit outside codegen's
    # common-subexpression elimination, so the 5 copies would not
    # otherwise be shared)
    base = df.withColumn(
        "__gr_m", _gram_masses_batched(tokens(c), tuple(top_ns), tuple(dup_ns))
    )
    m = F.col("__gr_m")
    for i, n in enumerate(top_ns):
        out[f"top_{n}gram_frac"] = frac(m[i])
    for i, n in enumerate(dup_ns):
        out[f"dup_{n}gram_frac"] = frac(m[len(top_ns) + i])
    return base.withColumns(out).drop("__gr_m")


def gopher_keep(
    df: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Add the Gopher repetition keep/drop verdict over columns
    produced by :func:`gopher_repetition` (keep = every fraction
    strictly below its table-A1 threshold)."""
    cond = F.lit(True)
    for n in top_ns:
        cond = cond & (F.col(f"top_{n}gram_frac") < F.lit(GOPHER_TOP_THRESHOLDS[n]))
    for n in dup_ns:
        cond = cond & (F.col(f"dup_{n}gram_frac") < F.lit(GOPHER_DUP_THRESHOLDS[n]))
    return df.withColumn("keep", cond)


# ---------------------------------------------------------------------------
# language identification (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and of to in is you that it for".split(),
    "de": "der die und das ist nicht ein ich mit sich".split(),
    "fr": "le la les et des une est que pour dans".split(),
    "es": "el la los las que de y en un por".split(),
}


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: the language whose marker set
    hits the most tokens wins; ties and zero hits -> 'und'
    (undetermined). Pure Column arithmetic — the scores are token
    intersections computed per language."""
    def body(tk):
        scores = []
        for lang, markers in LANG_MARKERS.items():
            arr = F.array([F.lit(m) for m in markers])
            scores.append(
                F.struct(
                    F.size(
                        F.filter(tk, lambda t: F.array_contains(arr, t))
                    ).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
            )
        return F.array_max(F.array(*scores))

    # max by (hits, lang) — deterministic tie-break on language code;
    # zero hits -> undetermined. One bound tokenize feeds every
    # language's marker intersection.
    best = _bind(tokens(F.col(text_col)), body)
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------

def fingerprint(col: Column) -> Column:
    """Canonical content fingerprint: md5 of the normalized text —
    the exact-dedup key (whitespace/case-insensitive)."""
    return md5_hash(normalize(col))


def winnowed_fingerprint_rows(
    df: "DataFrame", text_col: str, id_col: str, k: int = 5, window: int = 4
) -> "DataFrame":
    """Row-based winnowing: shingle rows (posexplode+lead) -> md5 ->
    MIN over a sliding row frame per document -> distinct. One
    shuffle keyed by document; everything inside codegen. Output:
    (id, fp) distinct rows: the minimum shingle hash of each window of
    ``window`` consecutive k-token shingles (standard winnowing; a
    document shorter than one window keeps its single minimum)."""
    from pyspark.sql import Window

    sh = shingle_rows(df, text_col, id_col, k, keep_pos=True).withColumn(
        "__h", F.md5(F.col("__shingle"))
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    counted = sh.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("__id")))
    frame = w.rowsBetween(0, window - 1)
    mins = counted.withColumn("__fp", F.min("__h").over(frame)).withColumn(
        "__last_start", F.col("__n") - F.lit(window - 1)
    )
    # windows that fit entirely (start <= n-window+1); short docs keep
    # their single global min
    full = mins.where(
        (F.col("__n") >= window) & (F.col("__pos") < F.col("__last_start"))
    ).select(F.col("__id"), F.col("__fp"))
    shorts = (
        counted.where(F.col("__n") < window)
        .groupBy("__id")
        .agg(F.min("__h").alias("__fp"))
    )
    return full.unionByName(shorts).distinct()


# ---------------------------------------------------------------------------
# chunking (context-window preparation)
# ---------------------------------------------------------------------------


def chunk_rows(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> "DataFrame":
    """Split documents into fixed-size overlapping token windows —
    the standard context-window preparation step (embedding indexes,
    pretraining packing). Output: (id, chunk_idx, chunk_text,
    chunk_n_tokens); chunk i covers tokens [i*step, i*step+chunk)
    with step = chunk - overlap; the last chunk may be short, and a
    document never yields a chunk that is a pure suffix-overlap of
    the previous one (starts past the end produce nothing).

    A narrow per-row transform: tokenize -> sequence(0, n_chunks-1)
    -> explode -> slice. ZERO shuffles at any corpus size; fan-out
    is ~1/step rows per token, linear in input bytes.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # ceil((n - overlap) / step) chunks, minimum 1 (short/empty docs
    # produce one chunk = the whole document)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int")
    )
    return (
        df.select(
            F.col(id_col).alias("__id"),
            toks.alias("__tk"),
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_idx"),
        )
        .select(
            F.col("__id").alias(id_col),
            "chunk_idx",
            F.concat_ws(
                " ", F.slice(F.col("__tk"), F.col("chunk_idx") * F.lit(step) + F.lit(1), chunk_tokens)
            ).alias("chunk_text"),
        )
        .withColumn(
            "chunk_n_tokens", F.size(F.split(F.col("chunk_text"), " "))
        )
    )


# ---------------------------------------------------------------------------
# sequence packing (concat-and-carve context-window assembly)
# ---------------------------------------------------------------------------


def concat_pack(
    df: "DataFrame",
    len_col: str,
    order_by,
    capacity: int,
    out_prefix: str = "pack_",
) -> "DataFrame":
    """Concat-style sequence packing: lay the sequences end-to-end in
    a deterministic global order and carve the token stream into
    fixed-``capacity`` context windows — the standard pretraining
    "pack by concatenation" step. Each row gains
    ``{out_prefix}id``     (the pack its FIRST token lands in) and
    ``{out_prefix}offset`` (its start offset within that pack);
    a sequence whose tokens straddle a pack boundary simply continues
    into the next pack, exactly like the concatenated-token-stream
    formulation.

    ``order_by`` must be a deterministic, layout-independent key
    (e.g. :func:`data_frame_spark.operators.sampling.sample_key`
    derivatives) — NEVER partition order. The global running sum of
    ``len_col`` goes through the range-bucketed two-level primitive
    (:func:`data_frame_spark.operators.distributed.with_running_sum`):
    no partitionless window, integer token counts so offsets are
    exact at any scale.
    """
    from data_frame_spark.operators import distributed as D

    out = D.with_running_sum(df, order_by, F.col(len_col).cast("long"), "__end")
    start = F.col("__end") - F.col(len_col)
    return (
        out.withColumn(out_prefix + "id", F.floor(start / F.lit(capacity)).cast("long"))
        .withColumn(out_prefix + "offset", (start % F.lit(capacity)).cast("long"))
        .drop("__end")
    )


# ---------------------------------------------------------------------------
# denylist / PII scrubbing
# ---------------------------------------------------------------------------

#: public-shape PII patterns (email, E.164-ish phone, IPv4) — the
#: regexes use only syntax shared by Java regex and RE2, so the same
#: pattern runs in Spark and a DuckDB oracle.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # no '.' in the separator set: dotted runs are IPs/versions, and
    # letting phone eat them would shadow the ipv4 label
    "phone": r"\+?[0-9][0-9() -]{6,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact(
    df: "DataFrame",
    text_col: str,
    patterns: dict[str, str] | None = None,
    out_col: str = "redacted_text",
) -> "DataFrame":
    """Scrub every match of each labelled pattern, replacing it with
    ``<LABEL>``, and count matches per label (``n_<label>`` columns,
    counted on the ORIGINAL text). Patterns are applied in dict order
    on the accumulating text, so an earlier label wins overlapping
    matches. Pure Column expressions (regexp_replace /
    regexp_extract_all) — a zero-shuffle map-only pass at any corpus
    size."""
    patterns = PII_PATTERNS if patterns is None else patterns
    c = F.col(text_col)
    red = c
    out = df
    for label, pat in patterns.items():
        out = out.withColumn(
            f"n_{label}",
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long"),
        )
        red = F.regexp_replace(red, pat, f"<{label.upper()}>")
    return out.withColumn(out_col, red)


# ---------------------------------------------------------------------------
# TF-IDF (top characteristic terms per document)
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    top_k: int = 3,
) -> "DataFrame":
    """Top-k characteristic terms per document by raw-count TF ×
    ln(N/df) IDF (ties: higher tf first, then lexicographic term).
    Output: (id, term, tf BIGINT, df BIGINT, idf DOUBLE,
    tfidf DOUBLE, rank).

    Shuffle profile: one (id, term) count aggregate (map-side
    combined), one vocabulary-sized df aggregate, a term-keyed
    SHUFFLE_HASH join of the two (r19, guide §3.1: the sf10 audit
    caught the planner broadcast-electing the CORPUS-sized per-doc
    tf table — the explode-underestimate made the wrong side look
    small — and a raw vocabulary is itself not limit-bounded at
    100 TB, so neither side may broadcast), and a per-document
    window for the top-k (bounded per-doc partitions;
    WindowGroupLimit prunes to k before the shuffle). The corpus
    itself is scanned once.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # id_col is a primary key (one row per document), so a plain
    # count avoids the extra distinct exchange
    n_docs = df.select(F.count(F.lit(1)).alias("__nd"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", "df", F.log(F.col("__nd") / F.col("df")).alias("idf"))
    )
    scored = tf.join(dfreq.hint("shuffle_hash"), "term").withColumn(
        "tfidf", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("tfidf").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(top_k))
        .select(F.col("__id").alias(id_col), "term", "tf", "df", "idf", "tfidf", "rank")
    )


def term_counts(df: "DataFrame", text_col: str) -> "DataFrame":
    """The corpus-wide ``(__term, __c)`` token-count relation both
    self-trained LMs consume — one map-combinable shuffle over the
    exploded token stream. Exposed (optimization round 19, guide
    §2.3) so a caller running BOTH LMs over the same corpus
    (lm_nll_docs) can build it once and pass it to each via
    ``term_counts``."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("__term"))
        .groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def _require_term_counts(tc: "DataFrame") -> None:
    """Cheap schema guard on the shared precomputed count relation
    (the corpus_grams precedent): the contract is term_counts(df,
    text_col) — corpus-wide counts at the same tokenization; the
    column set is what can be asserted without re-running the pass
    the parameter exists to skip."""
    missing = {"__term", "__c"} - set(tc.columns)
    if missing:
        raise ValueError(
            "term_counts must carry columns ('__term', '__c') — the"
            f" term_counts() contract; missing {sorted(missing)} in"
            f" {tc.columns}"
        )


def unigram_lm_nll(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    vocab_size: int = 10000,
    term_counts: "DataFrame | None" = None,
) -> "DataFrame":
    """Per-document negative log-likelihood under a self-trained
    add-one-smoothed unigram LM — the CCNet-style "perplexity
    bucket" quality signal, with the LM trained on the corpus
    itself instead of an external KenLM: documents whose token
    distribution diverges from the corpus (gibberish, boilerplate,
    wrong language) score a high average NLL and can be filtered or
    bucketed downstream.

    Model: vocabulary = top ``vocab_size`` tokens by count (ties by
    token); every out-of-vocabulary token collapses into ONE unk
    type carrying the remaining mass. p(t) = (c_t + 1) / (N + V + 1)
    with V = |vocab|; p(unk) = (c_unk + 1) / (N + V + 1).

    Output: (id, n_tokens, nll_micro, avg_nll_micro) — per-token
    NLLs are quantized to integer micro-nats BEFORE summing, so the
    totals are summation-order independent and a SQL oracle
    reproduces them exactly (same recipe as retrieval.bm25_rank).

    Scale: token counts are one map-combinable shuffle; the vocab
    cap is a TakeOrderedAndProject (never a global sort); the LM
    table (≤ vocab_size rows) and the scalar params row BROADCAST
    back onto the token stream map-side; the per-doc sum is the one
    remaining corpus shuffle, keyed by document. A 100 TB corpus
    passes through exactly two data-sized shuffles, both
    map-combinable.

    ``term_counts``: an optional precomputed :func:`term_counts`
    relation (r19, guide §2.3) — lm_nll_docs trains BOTH LMs on the
    same corpus, and the corpus-wide count pass is identical in
    each, so the caller builds it once. Must be materialized (or
    checkpointed) by the caller if shared; identical results by
    construction (the count table is the same relation either way).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__term"),
    )
    if term_counts is None:
        # materialize the count table ONCE: tot/vocab/vs/lm all read
        # it, and without the checkpoint Catalyst re-derives the
        # corpus explode+shuffle per consumer (4 corpus scans
        # instead of 1)
        cnt = (
            toks.groupBy("__term")
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint(eager=False)
        )
    else:
        _require_term_counts(term_counts)
        cnt = term_counts.select("__term", "__c")
    tot = cnt.agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__dv")
    )
    vocab = (
        cnt.orderBy(F.col("__c").desc(), F.col("__term"))
        .limit(vocab_size)
        .localCheckpoint(eager=False)  # <= vocab_size rows
    )
    vs = vocab.agg(
        F.sum("__c").alias("__vc"), F.count(F.lit(1)).alias("__v")
    )
    params = (
        tot.crossJoin(vs)
        .select(
            (F.col("__n") + F.col("__v") + F.lit(1)).alias("__denom"),
            (F.col("__n") - F.col("__vc")).alias("__cunk"),
        )
    )

    def nll_micro(count_col) -> F.Column:
        p = (count_col + F.lit(1)).cast("double") / F.col("__denom").cast("double")
        return F.floor(-F.log(p) * F.lit(1e6) + F.lit(0.5)).cast("long")

    lm = vocab.crossJoin(F.broadcast(params)).select(
        "__term", nll_micro(F.col("__c")).alias("__nll")
    )
    unk = params.select(nll_micro(F.col("__cunk")).alias("__unll"))
    per = (
        toks.join(F.broadcast(lm), "__term", "left")
        .crossJoin(F.broadcast(unk))
        .select("__id", F.coalesce("__nll", "__unll").alias("__t"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("__t").alias("nll_micro"))
    )
    return per.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "nll_micro",
        F.expr("nll_micro div n_tokens").alias("avg_nll_micro"),
    )


def collocations(
    df: "DataFrame",
    text_col: str,
    min_count: int = 5,
    top_k: int = 20,
) -> "DataFrame":
    """Top collocations (adjacent word pairs) by pointwise mutual
    information: PMI = ln(p(x,y) / (p(x) p(y))) with p from corpus
    unigram/bigram counts — the classic collocation-mining signal
    ("new york" >> "of the") used for corpus inspection and
    tokenizer-merge candidates. Pairs below ``min_count`` are
    dropped (PMI is noise at tiny counts).

    Output: (w1, w2, pair_count, pmi_micro) — PMI quantized to
    integer micro-nats (FLOOR(x*1e6+0.5)) so ranking and values are
    engine-exact; ties by (w1, w2).

    Scale: bigram and unigram counts are each ONE map-combinable
    corpus shuffle (narrow shingle explode feeding both); the count
    tables are vocab-sized and checkpointed once; the PMI joins pin
    SHUFFLE_HASH on the unigram side (r19, guide §3.1 — a raw
    vocabulary is NOT limit-bounded: junk tokens push a 100 TB
    corpus's distinct-term table past the broadcast cap, and the
    checkpoint-preserved explode-underestimate means the planner's
    size election never corrects itself — the sf10 audit showed both
    unigram tables broadcast-elected), and the final top-k is a
    TakeOrderedAndProject.
    """
    toks = tokens(F.col(text_col))
    big = (
        df.select(F.explode(word_shingles(F.col(text_col), 2)).alias("bg"))
        .where(F.size(F.split(F.col("bg"), " ")) == 2)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
        .select(
            F.split(F.col("bg"), " ")[0].alias("w1"),
            F.split(F.col("bg"), " ")[1].alias("w2"),
            "c_xy",
        )
        .localCheckpoint(eager=False)  # surviving-pair-sized
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # vocab-sized
    )
    nb = df.select(F.explode(word_shingles(F.col(text_col), 2)).alias("bg")).where(
        F.size(F.split(F.col("bg"), " ")) == 2
    ).agg(F.count(F.lit(1)).alias("nb"))
    nu = uni.agg(F.sum("c").alias("nu"))

    d = "double"
    joined = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")).hint(
                "shuffle_hash"
            ),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")).hint(
                "shuffle_hash"
            ),
            "w2",
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
    )
    pxy = F.col("c_xy").cast(d) / F.col("nb").cast(d)
    px = F.col("c_x").cast(d) / F.col("nu").cast(d)
    py = F.col("c_y").cast(d) / F.col("nu").cast(d)
    pmi = F.floor(F.log(pxy / (px * py)) * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        joined.select("w1", "w2", F.col("c_xy").alias("pair_count"), pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(top_k)
    )


def bigram_lm_nll(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    vocab_size: int = 10000,
    term_counts: "DataFrame | None" = None,
) -> "DataFrame":
    """Per-document NLL under a self-trained add-one-smoothed BIGRAM
    LM — the context-aware upgrade of :func:`unigram_lm_nll`: word
    salad with a plausible unigram profile ("the of and is the")
    scores high because each token is conditioned on its predecessor.

    Model: tokens map through the top-``vocab_size`` vocabulary (ties
    by token) or collapse to '<unk>'; each document's first token
    conditions on '<s>'. p(w|v) = (c(v,w) + 1) / (c(v,·) + V + 1)
    over the V+1 mapped outcomes. Per-token NLLs quantize to integer
    micro-nats BEFORE the per-doc sum (summation-order independent,
    SQL-oracle exact — same recipe as the unigram LM).

    Scale: bigram pairs are built MAP-SIDE with an indexed array
    transform (no lag window, no doc-keyed shuffle); vocab mapping is
    two broadcast joins. Data shuffles: the vocab count, the bigram
    count (map-combinable), the score join on (prev,cur) — the
    checkpointed bigram table is size-known, so AQE turns it into a
    broadcast when it fits — and the per-doc sum. Like any
    self-trained LM it is a count pass plus a score pass over the
    corpus; the model tables in between are bounded, not corpus-sized.

    ``term_counts``: optional precomputed :func:`term_counts`
    relation — same sharing contract as :func:`unigram_lm_nll`
    (lm_nll_docs builds the corpus count pass once for both LMs);
    the vocabulary derived from it is identical by construction.
    """
    if term_counts is None:
        cnt = (
            df.select(F.explode(tokens(F.col(text_col))).alias("__term"))
            .groupBy("__term")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
    else:
        _require_term_counts(term_counts)
        cnt = term_counts.select("__term", "__c")
    vocab = (
        cnt.orderBy(F.col("__c").desc(), F.col("__term"))
        .limit(vocab_size)
        .localCheckpoint(eager=False)  # <= vocab_size rows
    )
    pairs = (
        df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk"))
        .select(
            "__id",
            F.explode(
                F.transform(
                    F.col("__tk"),
                    lambda x, i: F.struct(
                        F.when(i == 0, F.lit("<s>"))
                        .otherwise(F.element_at(F.col("__tk"), i))
                        .alias("prev"),
                        x.alias("cur"),
                    ),
                )
            ).alias("__p"),
        )
        .select(
            "__id",
            F.col("__p.prev").alias("__pr"),
            F.col("__p.cur").alias("__cr"),
        )
    )
    v_prev = vocab.select(F.col("__term").alias("__pr"), F.lit(1).alias("__inp"))
    v_cur = vocab.select(F.col("__term").alias("__cr"), F.lit(1).alias("__inc"))
    mapped = (
        pairs.join(F.broadcast(v_prev), "__pr", "left")
        .join(F.broadcast(v_cur), "__cr", "left")
        .select(
            "__id",
            F.when(F.col("__pr") == "<s>", F.lit("<s>"))
            .when(F.col("__inp").isNotNull(), F.col("__pr"))
            .otherwise(F.lit("<unk>"))
            .alias("__prev"),
            F.when(F.col("__inc").isNotNull(), F.col("__cr"))
            .otherwise(F.lit("<unk>"))
            .alias("__cur"),
        )
    )
    # share the mapped pair stream between its two consumers (the
    # bigram count and the score pass) — r19, guide §2.3: without
    # the checkpoint the scan + pair-explode + two broadcast joins
    # run twice. Narrow columns only (id + two tokens), the same
    # size class as the shingle tables the dedup family checkpoints.
    mapped = mapped.localCheckpoint(eager=False)
    # bounded model tables: bigram counts (checkpointed once — the
    # score join and the context marginal both read it) and the
    # context totals derived FROM the bigram table, never the corpus
    bgc = (
        mapped.groupBy("__prev", "__cur")
        .agg(F.count(F.lit(1)).alias("__cb"))
        .localCheckpoint(eager=False)
    )
    ctx = bgc.groupBy("__prev").agg(F.sum("__cb").alias("__cc"))
    vs = vocab.agg(F.count(F.lit(1)).alias("__v"))
    p = (F.coalesce(F.col("__cb"), F.lit(0)) + F.lit(1)).cast("double") / (
        F.col("__cc") + F.col("__v") + F.lit(1)
    ).cast("double")
    scored = (
        mapped.join(bgc, ["__prev", "__cur"], "left")
        .join(F.broadcast(ctx), "__prev")
        .crossJoin(F.broadcast(vs))
        .select(
            "__id",
            F.floor(-F.log(p) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("__t"),
        )
    )
    per = scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("__t").alias("nll_micro")
    )
    return per.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "nll_micro",
        F.expr("nll_micro div n_tokens").alias("avg_nll_micro"),
    )
