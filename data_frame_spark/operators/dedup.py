"""Deduplication family for large-scale corpus pipelines.

North-star operators (SURVEY §7 Phase 6), all shuffle-architected
for 100 TB:

* exact: md5(normalized text) groupBy — one map-combinable shuffle.
* MinHash+LSH: per-doc signature of K lexicographic-min md5 shingle
  hashes (explode -> groupBy min, ONE shuffle keyed by doc);
  signatures banded into B keys; candidate pairs join only within
  band buckets — the classic shingle->minhash->band->bucket-join
  pipeline; no O(n²) comparisons.
* SimHash: 60-bit signed bit-vote over token hashes; near-dups share
  the signature (or a band of it).
* n-gram Jaccard verification: exact |A∩B|/|A∪B| on candidate pairs
  only (explode + join on shingle hash).
* embedding cosine near-dup: see :mod:`similarity`.

All hashing is md5-based (:mod:`functions.texthash`) so a DuckDB
oracle reproduces every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators.text import normalize, shingle_rows, tokens
from data_frame_spark.functions.texthash import hash60


def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fingerprint, keep_id, dup_count): canonical row per exact
    (normalized) content group."""
    return (
        df.withColumn("__fp", F.md5(normalize(F.col(text_col))))
        .groupBy(F.col("__fp").alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def canonical_pick(
    df: DataFrame, key, id_col: str, order_col: str
) -> DataFrame:
    """Per-duplicate-group canonical representative: for each value
    of ``key`` (a Column — e.g. a content fingerprint), the member
    with the HIGHEST ``order_col`` (ties by smallest id) survives —
    the curation policy "among duplicates, keep the most complete /
    highest-quality copy" instead of exact_dedup_keys' arbitrary
    min-id.

    Output: (group_key, n_dups, canonical_id, canonical_order).
    ``id_col`` must be numeric (the tiebreak negates it inside the
    ordering struct).

    Scale: ONE map-combinable groupBy — ``max_by`` over a
    lexicographic (order, -id) struct is an ordinary aggregate with
    partial combine (planned as SortAggregate: per-partition
    group-key sorts, never a global sort), so no per-group window
    and no second shuffle, whatever the group sizes.
    """
    ordk = F.struct(
        F.col(order_col).alias("o"), (-F.col(id_col)).alias("nid")
    )
    return df.groupBy(key.alias("group_key")).agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.max_by(F.col(id_col), ordk).alias("canonical_id"),
        F.max(F.col(order_col)).alias("canonical_order"),
    )


def incremental_dedup_keys(
    batch: DataFrame,
    store: DataFrame,
    fp,
    id_col: str,
    store_fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental ingest dedup: the (fingerprint, keep_id) rows of
    a NEW batch that are not already in a persisted fingerprint
    ``store`` — the nightly-snapshot pattern where yesterday's corpus
    is never rescanned as text, only its fingerprint table.

    ``fp`` is the batch's fingerprint Column (any canonicalization:
    full-text md5, prefix, winnowing key ...); ``store`` holds one
    ``store_fp_col`` per previously ingested fingerprint.

    Output = exact_dedup_keys semantics within the batch, minus
    store hits; append it to the store to complete the cycle.

    Scale: the batch is aggregated once (map-combinable min-id per
    fingerprint) and then BROADCAST twice — first into a left-semi
    probe where the (huge) store is the streamed side, so the store
    is scanned map-side and NEVER shuffled, then the (batch-bounded)
    hit set broadcasts into the anti-join. Nothing anywhere moves
    more rows than the new batch itself.
    """
    canon = (
        batch.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )
    hits = store.select(F.col(store_fp_col).alias("fingerprint")).join(
        F.broadcast(canon.select("fingerprint")), "fingerprint", "left_semi"
    )
    return canon.join(F.broadcast(hits), "fingerprint", "left_anti")


#: prime modulus for the affine minhash family (< 2^30 so the
#: a*h multiply stays inside int64 in every engine)
MINHASH_P = 1073741789


def minhash_params(k: int) -> tuple[int, int]:
    """Deterministic affine-rehash constants (md5-derived, public)."""
    import hashlib

    a = int(hashlib.md5(f"a{k}".encode()).hexdigest()[:7], 16) % MINHASH_P | 1
    b = int(hashlib.md5(f"b{k}".encode()).hexdigest()[:7], 16) % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: ONE md5 per shingle -> 60-bit
    integer -> K affine rehashes (a_k·h + b_k) mod P; signature k is
    the min over shingles. Integer arithmetic end-to-end, so a SQL
    oracle reproduces it exactly, and the md5 cost is paid once per
    shingle, not once per (shingle, seed).
    Output: (id, mh_0..mh_{K-1} BIGINT).

    Plan: explode shingles -> ONE groupBy(id) computing all K mins
    (map-side combine does most of the work before the shuffle).

    ``shingles`` lets a pipeline that ALSO needs the shingle table
    (e.g. an exact Jaccard verify stage) tokenize the corpus once:
    pass a (__id, __shingle) DataFrame — typically the checkpointed
    distinct table shared with :func:`ngram_jaccard` — and the
    signature aggregation reads it instead of re-running the
    tokenize pipeline. MIN over duplicate shingles equals MIN over
    the distinct set, so signatures are identical either way.
    """
    base = (
        shingles
        if shingles is not None
        else shingle_rows(df, text_col, id_col, shingle_n)
    )
    sh = base.withColumn("__h", hash60(F.col("__shingle")) % F.lit(MINHASH_P))
    aggs = []
    for k in range(num_hashes):
        a, b = minhash_params(k)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{k}")
        )
    return sh.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the K minhashes into ``bands`` groups of K/bands rows;
    documents sharing ANY band key are candidate near-duplicates.
    Output: (id_a, id_b) distinct pairs, id_a < id_b.

    Shuffle profile: explode to (band, band_key, id) — groupBy-join
    on the band key only; bucket sizes are the LSH collision groups,
    so total pair fan-out is the candidate count, not n².

    ``max_bucket_size`` is the production skew guard: at corpus
    scale a single hot band bucket (boilerplate pages, templated
    documents, empty strings) grows pair fan-out QUADRATICALLY —
    one 10M-document bucket alone is 5·10^13 pairs. Capping drops
    buckets larger than the threshold from pair generation (their
    members are overwhelmingly mutual near-duplicates of one
    template; production pipelines handle those by exact-dedup or a
    per-bucket sample instead of all-pairs). The cap is computed
    with one map-combinable count over the band table — no extra
    scan of the documents. Default None keeps exact reference
    semantics (every colliding pair is produced)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + i}") for i in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key"))
        )
    exploded = signatures.select(
        F.col(id_col).alias("__id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("__id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket_size is not None:
        sizes = exploded.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("__bn")
        ).where(F.col("__bn") <= F.lit(max_bucket_size))
        # shuffle_hash: both sides are the corpus-sized band table,
        # whose explode-derived size estimate reads small (see below)
        exploded = exploded.join(
            sizes.select("band", "key").hint("shuffle_hash"), ["band", "key"]
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    # shuffle_hash (guide §3.1): BOTH sides of the bucket self-join
    # are the corpus-sized band table; when the signatures ride a
    # checkpointed shingle relation the preserved pre-checkpoint
    # estimate reads tiny and the planner broadcast-elects one side —
    # the r19 sf10 probe demonstrated that election class killing the
    # driver at 100× corpus. The hint keys the join on (band, key)
    # hash partitions, where AQE's skew handling stays available.
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .where(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    (id_a, id_b, jaccard). Explode each side's distinct shingles,
    count intersections via join, |A∪B| = |A|+|B|-|A∩B|.

    The shingle table feeds three plan branches (sizes + both join
    sides). ``shingles`` accepts a precomputed DISTINCT
    (__id, __shingle) table — materialized once by the caller and
    shared with :func:`minhash_signatures` upstream — so the
    tokenize+md5 pipeline runs once per corpus, not once per stage or
    branch.

    Join strategy is pinned (guide §3.1): EVERY relation in this
    chain — the shingle table, the per-doc sizes, the candidate
    pairs, the intersection counts — is corpus-proportional, so none
    may ever be broadcast. Left to size estimates the planner DOES
    broadcast them: a ``localCheckpoint`` boundary preserves the
    PRE-checkpoint estimate (LogicalRDD carries the original plan's
    stats), and the post-distinct estimate of the shingle table reads
    far under the broadcast threshold — the r19 sf10 probe (100×
    corpus) demonstrated the planner electing a ~1.7 GB broadcast of
    the shingle relation and killing the driver ("Not enough memory
    to build and broadcast"). SHUFFLE_HASH hints force hash-
    partitioned joins with the hinted side as the per-partition
    build: bounded by partition sizing, AQE skew-split capable, and
    the A/B at sf0.1 measured them neutral-to-better than the
    broadcasts they replace. The one exception is the second
    intersection join, where BOTH sides are shingle-scale (the pair
    fan-out × the full shingle table): a forced hash build of either
    side is the guide's documented SHJ OOM risk — the r19 sf10 probe
    hit exactly that ("not enough memory to build hash map") — so
    that join pins MERGE, the always-works spill-graceful strategy."""
    if shingles is not None:
        sh = shingles.withColumnRenamed("__shingle", "__s")
    else:
        sh = shingle_rows(df, text_col, id_col, shingle_n).withColumnRenamed(
            "__shingle", "__s"
        ).distinct()
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        pairs.hint("shuffle_hash")
        .join(sh.alias("sa"), F.col("id_a") == F.col("sa.__id"))
        .join(
            sh.alias("sb").hint("merge"),
            (F.col("id_b") == F.col("sb.__id")) & (F.col("sa.__s") == F.col("sb.__s")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        pairs.join(inter.hint("shuffle_hash"), ["id_a", "id_b"], "left")
        .join(
            sizes.alias("na").hint("shuffle_hash"),
            F.col("id_a") == F.col("na.__id"),
        )
        .join(
            sizes.alias("nb").hint("shuffle_hash"),
            F.col("id_b") == F.col("nb.__id"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.coalesce(F.col("__inter"), F.lit(0))
                / (F.col("na.__n") + F.col("nb.__n") - F.coalesce(F.col("__inter"), F.lit(0)))
            ).cast("double").alias("jaccard"),
        )
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """SimHash signature: per token, a 60-bit md5-derived hash votes
    +1/-1 on each bit position weighted by the token's count; the
    signature's bit b is 1 iff the vote sum is positive.
    Output: (id, simhash BIGINT).

    Plan: explode token OCCURRENCES and aggregate 60 map-side-
    combinable ±1 sums in ONE groupBy(id) — votes are linear in the
    token count, so occurrence-level ±1 sums equal count-weighted
    votes over distinct tokens, with no 60x bit explode and no
    token-count pre-shuffle. One data shuffle of 60 longs per doc;
    the signature assembles from the vote columns as a pure
    expression. Near-dup detection joins on the signature or bands.
    """
    occ = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    ).withColumn("__h", hash60(F.col("__t")))
    # one F.expr per aggregate (and one for the signature) keeps the
    # py4j round trips — the dominant plan-BUILD cost for 60-wide
    # expression lists — to O(bits) instead of O(bits * ops)
    votes = occ.groupBy("__id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((__h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS __v{b}"
            )
            for b in range(bits)
        ]
    )
    sig = " + ".join(
        f"(CASE WHEN __v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return votes.select(
        F.col("__id").alias(id_col), F.expr(sig).alias("simhash")
    )


def _hashed_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int, out_id: str
) -> DataFrame:
    """DISTINCT ``(out_id, __h)`` hashed n-gram relation — the shared
    collision-join side builder for the contamination family (one
    definition so the hashing/normalization of ngram_contamination
    and contamination_containment can never drift apart)."""
    return (
        shingle_rows(df, text_col, id_col, n=n)
        .select(F.col("__id").alias(out_id), F.md5(F.col("__shingle")).alias("__h"))
        .distinct()
    )


def _require_gram_contract(df: DataFrame, id_col: str, param: str) -> None:
    """Cheap schema guard on the shared precomputed-gram relations
    (r18 ADVICE): the ``corpus_grams``/``bench_grams`` contract is a
    DISTINCT ``(id_col, __h)`` relation built at the same ``n`` and
    text normalization as :func:`_hashed_ngrams` would build — a
    frame with the wrong columns silently changes contamination
    counts, so at least the column set is asserted here (the
    distinctness/normalization halves of the contract cannot be
    checked without re-running the pipeline the parameter exists to
    skip; they stay documented)."""
    missing = {id_col, "__h"} - set(df.columns)
    if missing:
        raise ValueError(
            f"{param} must carry columns ({id_col!r}, '__h') — the"
            f" distinct hashed n-gram contract; missing {sorted(missing)}"
            f" in {df.columns}"
        )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_overlap: int = 1,
    broadcast: bool = True,
    corpus_grams: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Train/test decontamination by n-gram collision (the standard
    public recipe: a training document is contaminated if it shares
    any length-n token span with an evaluation document; n=13 is the
    published default).

    Plan: both sides explode to DISTINCT md5-hashed n-gram rows (one
    doc-keyed shuffle each), equi-join on the hash — candidate work
    ∝ colliding n-grams, never |corpus|×|benchmark| — then a
    pair-keyed count. Output: (doc_id, bench_id, shared_ngrams) for
    pairs with at least ``min_overlap`` shared n-grams.

    ``broadcast`` picks the join strategy for the benchmark side —
    the knob that decides whether this survives 100 TB:

    * ``True`` (default) — ``F.broadcast`` the benchmark hash set so
      non-colliding corpus n-grams are dropped MAP-SIDE; the corpus
      never shuffles its shingles. Correct ONLY when the benchmark
      is a fixed eval suite (MBs of hashes), the operator's original
      use.
    * ``False`` — force a shuffle hash equi-join on ``__h``. Use
      when the "benchmark" scales with the corpus (e.g. a held-out
      test SPLIT: 5%% of 100 TB is terabytes of 5-gram hashes, far
      past any broadcast cap / executor memory). Both sides
      hash-partition on ``__h``; work stays ∝ collisions. A pinned
      ShuffledHashJoin, not just "no broadcast hint": at small SF
      Catalyst's size estimate would still elect to broadcast a
      corpus-derived side.

    ``corpus_grams`` / ``bench_grams`` (optimization round 18, guide
    §2.3 "do fewer passes"): a caller computing several contamination
    views over the SAME corpus (the decontamination_family row runs
    this leg AND the bloom leg) may pass a precomputed DISTINCT
    ``(id, __h)`` hashed n-gram relation — ``corpus_grams`` keyed by
    ``id_col``, ``bench_grams`` keyed by ``id_col`` restricted to the
    benchmark documents — so the shingle window + md5 pipeline runs
    ONCE instead of per leg. The shared relation must be exactly what
    :func:`_hashed_ngrams` would build (distinct per-document hashed
    n-grams at this ``n``); results are identical because the
    per-(doc, bench) count below already counts DISTINCT shared
    hashes either way.
    """
    if broadcast not in (True, False):
        raise ValueError(f"broadcast must be True or False, got {broadcast!r}")
    if corpus_grams is None:
        c = shingle_rows(corpus, text_col, id_col, n=n).select(
            F.col("__id").alias("doc_id"), F.md5(F.col("__shingle")).alias("__h")
        )
    else:
        _require_gram_contract(corpus_grams, id_col, "corpus_grams")
        c = corpus_grams.select(F.col(id_col).alias("doc_id"), "__h")
    if bench_grams is not None:
        _require_gram_contract(bench_grams, id_col, "bench_grams")
    b = (
        _hashed_ngrams(benchmark, text_col, id_col, n, "bench_id")
        if bench_grams is None
        else bench_grams.select(F.col(id_col).alias("bench_id"), "__h")
    )
    b = F.broadcast(b) if broadcast else b.hint("shuffle_hash")
    return (
        c.join(b, "__h")
        .select("doc_id", "bench_id", "__h")
        .distinct()
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= F.lit(min_overlap))
    )


def span_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
) -> DataFrame:
    """The hashed k-token sliding-window relation
    :func:`duplicate_spans` consumes — ``(__id, __pos, __h)`` rows,
    one per full k-token window of every document with >= k tokens
    (md5 over the joined window). Exposed (optimization round 19,
    guide §2.3) so a caller running SEVERAL span policies over the
    same corpus — spans_family runs the flag-all AND the keep-first
    facet — can build the doc-keyed shingle shuffle + md5 pipeline
    once and pass it to each call via ``wins_rows``."""
    from data_frame_spark.operators.text import tokens

    eligible = df.where(F.size(tokens(F.col(text_col))) >= k)
    return shingle_rows(eligible, text_col, id_col, n=k, keep_pos=True).select(
        "__id", "__pos", F.md5(F.col("__shingle")).alias("__h")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    min_occurrences: int = 2,
    keep_first: bool = False,
    wins_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicate-SPAN detection — the ExactSubstr dedup recipe
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": remove any substring duplicated verbatim
    anywhere in the corpus), relaxed from suffix-array character
    granularity to k-token sliding windows, which is what the
    distributed plan can do without a global suffix sort: a document
    region is flagged when EVERY k-token window inside it occurs at
    least ``min_occurrences`` times corpus-wide (occurrences count
    all windows, including self-repeats within one document).

    Complements :func:`dedup_segments` (the C4-style fixed
    non-overlapping segments, which MISS duplicates that straddle a
    segment boundary): sliding windows catch every alignment.

    Output: one row per MAXIMAL duplicated region —
    ``(id_col, span_start, span_end, n_windows)`` with token
    positions, ``span_end`` exclusive; overlapping/touching windows
    merge (gaps-and-islands). Documents shorter than ``k`` tokens
    are skipped (no full window exists — the paper's behavior).
    Feed the spans to :func:`scrub_spans` or drop the documents.

    ``keep_first=True`` gives the keep-ONE-copy policy most training
    pipelines want: each duplicated window's FIRST occurrence (by
    ``(id, pos)``, the same deterministic order on every layout) is
    NOT flagged, so scrubbing the returned spans deletes every copy
    except one. The first-occurrence winner is a map-combinable MIN
    aggregate keyed by the window hash (never a row_number window
    over the hash — a boilerplate window occurring 10^9 times must
    partial-aggregate map-side), joined back with the same shuffle
    equi-join discipline as the flag path.

    100 TB shape: sliding windows come from the doc-keyed
    shingle_rows shuffle (codegen lead-window, no per-row arrays);
    duplicated hashes are a map-combinable count ≥ threshold; the
    mark-back is a SHUFFLE left-semi equi-join on the hash (the
    duplicated-hash set is corpus-proportional — never broadcast;
    AQE splits a boilerplate hot hash); the island merge runs per
    document. Nothing funnels through one partition.

    ``wins_rows`` (optimization round 19, guide §2.3 — same contract
    style as ngram_contamination's ``corpus_grams``): a precomputed
    ``(__id, __pos, __h)`` window relation, exactly what
    :func:`span_windows` builds at this ``k`` over this corpus, so a
    caller running several policies (flag-all + keep-first) shares
    ONE shingle pass instead of rebuilding it per call. Results are
    identical by construction — both paths consume the same relation.
    """
    if wins_rows is None:
        wins = span_windows(df, text_col, id_col, k)
    else:
        missing = {"__id", "__pos", "__h"} - set(wins_rows.columns)
        if missing:
            raise ValueError(
                "wins_rows must carry columns ('__id', '__pos', '__h') —"
                f" the span_windows contract; missing {sorted(missing)}"
                f" in {wins_rows.columns}"
            )
        wins = wins_rows
    dup_agg = [F.count(F.lit(1)).alias("__c")]
    if keep_first:
        dup_agg.append(F.min(F.struct("__id", "__pos")).alias("__first"))
    dups = (
        wins.groupBy("__h")
        .agg(*dup_agg)
        .where(F.col("__c") >= F.lit(min_occurrences))
    )
    if keep_first:
        marked = wins.join(
            dups.select("__h", "__first").hint("shuffle_hash"), "__h"
        ).where(
            ~(
                (F.col("__id") == F.col("__first.__id"))
                & (F.col("__pos") == F.col("__first.__pos"))
            )
        )
    else:
        marked = wins.join(
            dups.select("__h").hint("shuffle_hash"), "__h", "left_semi"
        )
    w = Window.partitionBy("__id").orderBy("__pos")
    prev = F.lag("__pos").over(w)
    brk = F.when(prev.isNull() | (F.col("__pos") > prev + F.lit(k)), 1).otherwise(0)
    g = marked.withColumn("__brk", brk).withColumn(
        "__grp", F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        g.groupBy(F.col("__id").alias(id_col), F.col("__grp"))
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + F.lit(k)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove flagged token spans from documents — the scrub step
    after :func:`duplicate_spans` (ExactSubstr: cut every duplicated
    region out of the training text), usable with ANY
    ``(id_col, span_start, span_end)`` span table (PII spans, layout
    boilerplate, ...).

    Output: ``(id_col, n_tokens, n_kept, kept_text)`` per input
    document — ``kept_text`` is the surviving tokens joined in
    original order ('' when the whole document is covered); documents
    with no spans pass through whole.

    100 TB shape: the span table explodes to a (doc, position)
    kill-list — bounded by the flagged token count, not the corpus —
    and meets the doc-keyed token stream in a shuffle left-anti
    equi-join on (doc, position); reassembly is one doc-keyed
    aggregate whose state is bounded by document length. No
    broadcast of anything corpus-proportional, no global window.
    """
    from data_frame_spark.operators.text import tokens

    # guard arbitrary caller span tables: an empty span (start ==
    # end) must delete nothing, and Spark's sequence(a, b) silently
    # DESCENDS when a > b — an inverted span would delete [end..start]
    # instead of erroring (round-7 review fix). Only spans with
    # span_end > span_start produce kill positions.
    kill = (
        spans.where(F.col("span_end") > F.col("span_start"))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.sequence(F.col("span_start"), F.col("span_end") - 1)
            ).alias("__pos"),
        )
    )  # no distinct: anti-join semantics ignore duplicate kill rows
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    # shuffle_hash (guide §3.1): the kill list is dup-rate ×
    # corpus-sized — at 100 TB a size-estimate broadcast election of
    # it dies on the driver (the r19 sf10 probe demonstrated the
    # class; the estimate reads tiny through the upstream aggregates)
    kept = tok.join(kill.hint("shuffle_hash"), ["__id", "__pos"], "left_anti")
    reassembled = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__nk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("__kept"),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    # shuffle_hash: reassembled carries the scrubbed TEXT of every
    # surviving document — broadcast-electing it ships the corpus to
    # every executor (the r19 sf10 audit caught the planner choosing
    # exactly that from the post-aggregate estimate)
    return base.join(reassembled.hint("shuffle_hash"), "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("__nk"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("__kept"), F.lit("")).alias("kept_text"),
    )


def contamination_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """CONTAINMENT-scored decontamination — the graded form of
    :func:`ngram_contamination` (the public recipe behind
    GPT-3/PaLM-style "dirty vs clean" bucketing: a training document
    is judged by WHAT FRACTION of its n-grams appear in an eval
    document, not just whether any one does):

        containment(d, b) = |ngrams(d) ∩ ngrams(b)| / |ngrams(d)|

    over DISTINCT hashed n-grams. Output one row per colliding pair:
    ``(doc_id, bench_id, shared_ngrams, doc_ngrams,
    containment_micro)`` with ``containment_micro`` the exact
    integer ``shared*1e6 div total`` (both positive, so Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree) — 1e6
    means every distinct n-gram of the training document appears in
    that benchmark document. Threshold downstream (e.g. ≥ 800000 =
    "dirty" at 80%).

    Scale shape: both sides reduce to distinct hashed-n-gram rows
    (doc-keyed shuffles); the per-document n-gram total rides a
    doc-partitioned window on the SAME distinct relation (no second
    corpus scan); the collision equi-join broadcasts the benchmark
    side, which must be a fixed eval suite (use
    :func:`ngram_contamination` with ``broadcast=False`` for
    corpus-proportional splits). Work ∝ collisions, never
    |corpus|×|benchmark|.
    """
    cd = _hashed_ngrams(corpus, text_col, id_col, n, "doc_id")
    cdt = cd.withColumn(
        "doc_ngrams", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    b = F.broadcast(_hashed_ngrams(benchmark, text_col, id_col, n, "bench_id"))
    return (
        cdt.join(b, "__h")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("shared_ngrams"),
            F.max("doc_ngrams").alias("doc_ngrams"),
        )
        .where(F.col("shared_ngrams") >= F.lit(min_shared))
        .withColumn(
            "containment_micro",
            F.expr("CAST(shared_ngrams * 1000000 AS BIGINT) div doc_ngrams"),
        )
    )


def split_contamination_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    train: str = "train",
    test: str = "test",
    n: int = 13,
    min_overlap: int = 1,
    rollup_col: str | None = None,
) -> DataFrame:
    """Cross-split leakage audit as a reusable operator: given a
    corpus that ALREADY carries a split assignment column (from
    :func:`~data_frame_spark.operators.sampling.assign_splits` or any
    pipeline's own splitter), flag every ``train`` document sharing a
    verbatim ``n``-token span with a ``test`` document — the "verify
    your split before shipping it" step; a nonzero result means the
    eval set leaks into the training set.

    Output: pair-level ``(doc_id, bench_id, shared_ngrams)`` rows
    (``bench_id`` = the test-split document), or, with ``rollup_col``
    (e.g. a source/domain column), a per-value roll-up
    ``(rollup_col, n_contaminated_docs, n_bench_docs_hit, n_pairs,
    max_shared)``.

    100 TB shape: BOTH sides are corpus-proportional (a held-out
    split is a fixed FRACTION of the corpus, not a fixed-size eval
    suite), so this always routes through
    :func:`ngram_contamination` with ``broadcast=False`` — the
    train/test n-gram hash tables meet in a shuffle equi-join, work
    ∝ collisions, nothing corpus-sized is ever broadcast (round-6
    verdict fix; pinned broadcast-free in tests/test_plans.py).
    """
    train_df = df.where(F.col(split_col) == train)
    test_df = df.where(F.col(split_col) == test)
    hits = ngram_contamination(
        train_df,
        test_df,
        text_col,
        id_col,
        n=n,
        min_overlap=min_overlap,
        broadcast=False,
    )
    if rollup_col is None:
        return hits
    # ngram_contamination names its output ids doc_id/bench_id
    # regardless of id_col — join and count on those names so any
    # caller id column works (round-7 review fix). shuffle_hash
    # (guide §3.1): the roll-up attaches the TRAIN SPLIT's
    # (doc_id, rollup) projection — 90% of the corpus — which the
    # planner otherwise broadcast-elects from its underestimate (the
    # r19 sf10 audit caught exactly that); the hint builds the
    # leak-bounded hits side per hash partition instead.
    return (
        hits.hint("shuffle_hash").join(
            train_df.select(F.col(id_col).alias("doc_id"), rollup_col), "doc_id"
        )
        .groupBy(rollup_col)
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated_docs"),
            F.countDistinct("bench_id").alias("n_bench_docs_hit"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("shared_ngrams").alias("max_shared"),
        )
    )


def dedup_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 32,
) -> DataFrame:
    """Corpus-level segment dedup — the C4 "line dedup" recipe
    (Raffel et al. 2020 keep one occurrence of every three-sentence
    span corpus-wide), generalized to fixed ``seg_tokens``-token
    segments since segmentation units are corpus-specific.

    Every document is split into consecutive non-overlapping token
    segments; across the WHOLE corpus each distinct segment survives
    only at its first occurrence in ``(doc_id, seg_no)`` order, and
    every document is reassembled from its surviving segments.

    Output: (id, n_segments, n_kept, kept_text) per document —
    ``kept_text`` is the surviving segments joined in order (empty
    when every segment of a document occurred earlier elsewhere).

    100 TB shape: segmentation is the zero-shuffle chunking
    transform; first-occurrence is a map-combinable MIN aggregate
    keyed by segment hash (a boilerplate segment occurring 10^9
    times partial-aggregates map-side — deliberately NOT a
    row_number window over the hash, which would funnel the hot
    hash through one task); the winner table equi-joins back on the
    hash (AQE splits any residual hot key); reassembly is one
    doc-keyed aggregate whose state is bounded by document size.
    """
    from data_frame_spark.operators.text import chunk_rows

    segs = chunk_rows(df, text_col, id_col, chunk_tokens=seg_tokens, overlap=0)
    segs = segs.select(
        F.col(id_col).alias("__id"),
        F.col("chunk_idx").alias("__seg_no"),
        F.col("chunk_text").alias("__seg"),
        F.md5(F.col("chunk_text")).alias("__h"),
    )
    # share the segment relation between its two consumers (the
    # winner aggregate and the mark-back probe) — r19 optimization,
    # guide §2.3: without the checkpoint Catalyst rebuilds the
    # scan + tokenize + chunk-explode + md5 pipeline per reference
    # (two full corpus passes). Lazy: the winner aggregate's first
    # job materializes it; the aggregate stays map-combinable and
    # the probe join keeps AQE's skew handling (the checkpoint only
    # shares the common SOURCE, it moves neither exchange).
    segs = segs.localCheckpoint(eager=False)
    winners = segs.groupBy("__h").agg(
        F.min(F.struct(F.col("__id"), F.col("__seg_no"))).alias("__w")
    )
    # shuffle_hash (guide §3.1): winners has one row per DISTINCT
    # segment — corpus-proportional — yet its post-aggregate estimate
    # (further shrunk by the checkpoint's preserved stats) reads under
    # the broadcast threshold at ANY scale; the r19 sf10 audit caught
    # the planner broadcast-electing it. The hash join keeps the
    # probe's AQE skew handling the docstring promises.
    marked = segs.join(winners.hint("shuffle_hash"), "__h").withColumn(
        "__kept",
        (F.col("__id") == F.col("__w.__id"))
        & (F.col("__seg_no") == F.col("__w.__seg_no")),
    )
    kept_struct = F.when(
        F.col("__kept"), F.struct(F.col("__seg_no"), F.col("__seg"))
    )
    return (
        marked.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("__kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["__seg"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )


#: bloom probe layout: k disjoint 7-hex-digit (28-bit) slices of the
#: gram's md5, reduced mod the bit-array size. Deterministic in any
#: engine that exposes md5 — the false-positive SET itself is
#: oracle-checkable, not just the exact hits.
BLOOM_SLICE_STARTS = (1, 8, 15)


def _bloom_pos(h: Column, start: int, m_bits: int) -> Column:
    """Bit position from md5 hex digits [start, start+7) mod m."""
    return F.conv(F.substring(h, start, 7), 16, 10).cast("long") % F.lit(m_bits)


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    m_bits: int = 4096,
    corpus_grams: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Two-stage train/test decontamination: a BLOOM-FILTER gate in
    front of the exact n-gram verify.

    :func:`ngram_contamination` broadcasts the benchmark's md5 hash
    SET (32-byte strings). At a benchmark suite of 10^8 n-grams that
    broadcast is gigabytes; the bloom gate instead broadcasts only
    the filter's SET-BIT table (``k x |bench|`` ints before dedup,
    bounded by ``m_bits`` — the DataFrame form of a broadcast bit
    array, kept relational so Catalyst plans the probes), and only
    bloom-positive corpus n-grams proceed to the exact verify join.
    With the classic sizing (m/n ~ 10) the gate drops ~98% of corpus
    n-grams map-side at ~1% false-positive rate.

    All k probe positions come from disjoint md5 hex slices, so the
    filter is deterministic and the FALSE-POSITIVE set itself can be
    verified by a SQL twin. Output per corpus document: (id, n_grams
    [distinct], bloom_candidates, exact_hits, bloom_false_positives).

    ``corpus_grams`` / ``bench_grams`` carry the same precomputed
    distinct ``(id_col, __h)`` hashed n-gram contract as
    :func:`ngram_contamination` — the decontamination_family row
    shares ONE corpus shingle pass between this leg and the exact
    collision leg instead of re-running the doc-keyed window + md5
    pipeline per leg (optimization round 18, guide §2.3). NOTE
    (r18 ADVICE): unlike the ngram leg, whose per-pair count
    re-distincts after the join, this leg's ``n_grams`` column
    counts the ``corpus_grams`` ROWS per document directly — a
    non-distinct relation silently inflates it, which is why the
    contract is distinctness and the column set is asserted.
    """
    if corpus_grams is not None:
        _require_gram_contract(corpus_grams, id_col, "corpus_grams")
    if bench_grams is not None:
        _require_gram_contract(bench_grams, id_col, "bench_grams")
    if corpus_grams is None:
        cg = (
            shingle_rows(corpus, text_col, id_col, n=n)
            .select(F.col("__id").alias(id_col), F.md5(F.col("__shingle")).alias("__h"))
            .groupBy(id_col, "__h")
            .agg(F.count(F.lit(1)).alias("__occ"))
            .drop("__occ")
        )
    else:
        cg = corpus_grams.select(id_col, "__h")
    # the bench pipeline feeds FOUR broadcast builds (k probe joins +
    # the exact verify); checkpoint its tiny results once instead of
    # re-running the shingle pipeline per build (lazy since r18 — the
    # first broadcast build materializes it; blocks are
    # ContextCleaner-reclaimed, no session-lifetime cache leak)
    bg = (
        (
            shingle_rows(benchmark, text_col, id_col, n=n)
            .select(F.md5(F.col("__shingle")).alias("__h"))
            if bench_grams is None
            else bench_grams.select("__h")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the bloom content: distinct set-bit positions over all probes
    bits = (
        bg.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("__h"), s, m_bits) for s in BLOOM_SLICE_STARTS]
                )
            ).alias("__pos")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # gate: ALL k probe positions present -> bloom-positive. One
    # broadcast join per probe keeps the corpus side shuffle-free.
    gated = cg
    for j, s in enumerate(BLOOM_SLICE_STARTS):
        flag = bits.select(F.col("__pos").alias(f"__p{j}"), F.lit(True).alias(f"__b{j}"))
        gated = gated.withColumn(f"__p{j}", _bloom_pos(F.col("__h"), s, m_bits)).join(
            F.broadcast(flag), f"__p{j}", "left"
        )
    cand = F.coalesce(F.col("__b0"), F.lit(False))
    for j in range(1, len(BLOOM_SLICE_STARTS)):
        cand = cand & F.coalesce(F.col(f"__b{j}"), F.lit(False))
    gated = gated.withColumn("__cand", cand)
    # exact verify ONLY on bloom-positive grams (the broadcast of the
    # full hash set that the gate exists to avoid is fine HERE
    # because in production this join runs on the ~2% survivors; the
    # oracle checks the same two-stage accounting)
    hit = bg.select(F.col("__h"), F.lit(True).alias("__exact"))
    gated = gated.join(F.broadcast(hit), "__h", "left").withColumn(
        "__hit", F.col("__cand") & F.coalesce(F.col("__exact"), F.lit(False))
    )
    return gated.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("__cand").cast("long")).alias("bloom_candidates"),
        F.sum(F.col("__hit").cast("long")).alias("exact_hits"),
        F.sum((F.col("__cand") & ~F.col("__hit")).cast("long")).alias(
            "bloom_false_positives"
        ),
    )
