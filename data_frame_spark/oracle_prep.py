"""Oracle wiring prep: exact DuckDB twins for operators that land
WITHOUT registry slots (the `_FIRST` window is at its 50-query cap
holding the current rotation). Started round 12; each round's
registrations lift their SQL from here verbatim and the next round's
candidates take their place.

Each builder here returns the ORACLE SQL a future `@query` row will
use verbatim; `tests/test_oracle_prep.py` proves bit-equality against
the Spark operators on the real sf0.001 tables NOW, so registration
next round is pure wiring. Both twins replay integer arithmetic only
(the integer-Lloyd / integer-PageRank exactness contract): every
division is on positive longs, where Spark's ``div`` (truncate) and
DuckDB's ``//`` (floor) agree.
"""

from __future__ import annotations

from data_frame_spark.operators.drift import PSI_VALUE_SCALE
from data_frame_spark.operators.text import TOKEN_PATTERN
from data_frame_spark.session import build_parallel, load_table, local_frame

CUSUM_TARGET_MICRO = 500_000
CUSUM_THRESHOLD_MICRO = 5_000_000


def cusum_oracle_sql(
    target_micro: int = CUSUM_TARGET_MICRO,
    threshold_micro: int = CUSUM_THRESHOLD_MICRO,
) -> str:
    """DuckDB twin of ``operators/window.py:cusum`` over the events
    table: micro-quantized value, per-user (ts, event_id) order. The
    closed form S_i = P_i - min(0, min_{j<=i} P_j) is replayed with
    the same two ROWS-unbounded windows the Spark plan uses."""
    return f"""
    WITH x AS (SELECT event_id, user_id, ts,
                      CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)
                          - {int(target_micro)} AS d
               FROM events WHERE value IS NOT NULL),
         p AS (SELECT event_id, user_id, ts,
                      SUM(d) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS pre
               FROM x),
         m AS (SELECT event_id, user_id,
                      pre - LEAST(MIN(pre) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id
                                                 ROWS UNBOUNDED PRECEDING),
                                  CAST(0 AS BIGINT)) AS cusum_micro
               FROM p)
    SELECT event_id, user_id,
           CAST(cusum_micro AS BIGINT) AS cusum_micro,
           cusum_micro > {int(threshold_micro)} AS alarm
    FROM m
    """


PAGERANK_SUPP_OFFSET = 1_000_000


def pagerank_edges_sql() -> str:
    """The part<->supplier co-occurrence graph both engines use:
    distinct (l_partkey, l_suppkey) pairs from lineitem, supplier ids
    offset into a disjoint node-id space, both edge directions (so no
    node is dangling and rank circulates)."""
    return f"""
    b AS MATERIALIZED (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
                          CAST(l_suppkey + {PAGERANK_SUPP_OFFSET} AS BIGINT) AS dst
          FROM lineitem),
    e AS MATERIALIZED (SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b)
    """


def pagerank_oracle_sql(iterations: int = 4) -> str:
    """DuckDB twin of ``operators/graph.py:pagerank`` on the
    part<->supplier graph: the power iteration unrolled into
    ``iterations`` chained CTE pairs (contribution groupBy-sum, then
    the 0.15 + 0.85-damped integer recombination) — the same
    replay-the-integer-loop recipe as the Lloyd oracles."""
    if iterations < 1:
        raise ValueError("pagerank_oracle_sql needs >= 1 iteration")
    parts = [
        "WITH " + pagerank_edges_sql().strip().rstrip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
               UNION SELECT DISTINCT dst FROM e),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node, SUM(r.r // g.d) AS s
           FROM e JOIN deg g USING (src)
                  JOIN r{i - 1} r ON r.node = e.src
           GROUP BY e.dst),
    r{i} AS (SELECT n.node,
                    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes n LEFT JOIN c{i} c USING (node))"""
        )
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, r AS rank_micro FROM r{iterations}"


def bpe_oracle_sql(n_merges: int = 12) -> str:
    """DuckDB twin of ``operators/bpe.py:bpe_fit`` over the documents
    table: the merge loop unrolled into (pair-stats, argmax, merge)
    CTE triples — the fold replayed with ``list_reduce`` over a
    list-of-lists accumulator (DuckDB slice bounds are INCLUSIVE, so
    dropping the accumulator tail is ``[:-2]``), the best pair
    cross-joined in so the lambda can capture it. Every CTE is
    MATERIALIZED: each w{k} is referenced twice (pair stats + the
    next merge), so DuckDB's default inlining re-expands the whole
    prefix per level — 2^n_merges recomputation (measured: 264 s →
    0.2 s at sf0.001 with 12 merges). Valid while the
    corpus sustains ``n_merges`` merges above bpe_fit's ``min_count``
    (the Spark side should raise if fit stops early, keeping the
    contract loud); columns quoted — left/right are SQL keywords."""
    if n_merges < 1:
        raise ValueError("bpe_oracle_sql needs >= 1 merge")
    eow = "</w>"
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT list_append(list_transform(generate_series(1, len(word)),
                                        i -> word[i]), '{eow}') AS syms,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS word
            FROM documents)
      GROUP BY word)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
      SELECT u.pr.l AS l, u.pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM w{k - 1}, UNNEST(CASE WHEN len(syms) < 2 THEN []
           ELSE list_transform(generate_series(1, len(syms) - 1),
                i -> {{'l': syms[i], 'r': syms[i + 1]}}) END) AS u(pr)
      GROUP BY 1, 2),
    s{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k}
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT CASE WHEN len(syms) < 2 THEN syms
                  ELSE list_reduce(list_transform(syms, x -> [x]),
                       (acc, x) -> CASE WHEN acc[-1] = s{k}.l AND x[1] = s{k}.r
                                        THEN acc[:-2] || [s{k}.l || s{k}.r]
                                        ELSE acc || x END) END AS syms, n
      FROM w{k - 1} CROSS JOIN s{k})"""
        )
    finals = "\n    UNION ALL ".join(
        f'SELECT CAST({k - 1} AS BIGINT) AS rank, l AS "left", r AS "right",'
        f" cnt AS pair_n FROM s{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


# ---------------------------------------------------------------------------
# Round-13 prep: fastText-style hashed linear classifier inference
# (operators/classify.py). Weights are a DETERMINISTIC operational
# constant shared verbatim by both engines (Knuth multiplicative
# constant spread over [-1e6, 1e6] micro) — a stand-in for a trained
# quality model, which at inference time is a constant either way.
# ---------------------------------------------------------------------------

CLASSIFIER_WEIGHTS_MICRO = [
    ((i * 2654435761) % 2000001) - 1000000 for i in range(64)
]
CLASSIFIER_BIAS_MICRO = 250_000
CLASSIFIER_THRESHOLD_MICRO = 0


def bpe_family_oracle_sql(n_merges: int = 12) -> str:
    """DuckDB twin of the round-13 ``bpe_family`` row: the
    :func:`bpe_oracle_sql` merge-loop replay with the WORD column
    carried through every level (the fit-only chain dropped it), so
    the final level doubles as the word -> subwords vocabulary that
    the encode facet joins the corpus back onto. Facets:

    - 'fit': one row per learned merge (rank, left, right, pair_n) —
      identical values to bpe_oracle_sql by construction.
    - 'encode': per-document subword stream (n_subwords +
      order-preserving md5 over the concatenated subwords), replaying
      ``operators/bpe.py:bpe_encode``'s vocabulary join: corpus words
      in position order joined to the fully-merged vocab, reassembled
      per document; token-free documents emit (0, md5('')).

    Same MATERIALIZED discipline (every w{k} referenced twice);
    position explode uses generate_series(1, len(wl)) which is empty
    in DuckDB when len(wl) = 0 (no inverted-sequence hazard — that
    trap is Spark's sequence()). Every integral SUM output carries
    the outer BIGINT cast; the NULL-superset facet columns are
    nullable on both engines."""
    if n_merges < 1:
        raise ValueError("bpe_family_oracle_sql needs >= 1 merge")
    eow = "</w>"
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT word,
             list_append(list_transform(generate_series(1, len(word)),
                                        i -> word[i]), '{eow}') AS syms,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS word
            FROM documents)
      GROUP BY word)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
      SELECT u.pr.l AS l, u.pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM w{k - 1}, UNNEST(CASE WHEN len(syms) < 2 THEN []
           ELSE list_transform(generate_series(1, len(syms) - 1),
                i -> {{'l': syms[i], 'r': syms[i + 1]}}) END) AS u(pr)
      GROUP BY 1, 2),
    s{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k}
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT word,
             CASE WHEN len(syms) < 2 THEN syms
                  ELSE list_reduce(list_transform(syms, x -> [x]),
                       (acc, x) -> CASE WHEN acc[-1] = s{k}.l AND x[1] = s{k}.r
                                        THEN acc[:-2] || [s{k}.l || s{k}.r]
                                        ELSE acc || x END) END AS syms, n
      FROM w{k - 1} CROSS JOIN s{k})"""
        )
    parts.append(
        f"""tok AS (
      SELECT doc_id, i AS pos, wl[i] AS word
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS wl
            FROM documents),
           UNNEST(generate_series(1, len(wl))) u(i)),
    encagg AS (
      SELECT t.doc_id,
             CAST(SUM(len(v.syms)) AS BIGINT) AS n_subwords,
             md5(string_agg(array_to_string(v.syms, ' '), ' ' ORDER BY t.pos))
               AS tokens_md5
      FROM tok t JOIN w{n_merges} v USING (word)
      GROUP BY t.doc_id),
    encf AS (
      SELECT d.doc_id,
             COALESCE(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords,
             COALESCE(a.tokens_md5, md5('')) AS tokens_md5
      FROM documents d LEFT JOIN encagg a USING (doc_id))"""
    )
    fit_rows = "\n    UNION ALL ".join(
        f"SELECT 'fit' AS facet, CAST({k - 1} AS BIGINT) AS rank,"
        f' l AS "left", r AS "right", cnt AS pair_n,'
        f" CAST(NULL AS BIGINT) AS doc_id,"
        f" CAST(NULL AS BIGINT) AS n_subwords,"
        f" CAST(NULL AS VARCHAR) AS tokens_md5 FROM s{k}"
        for k in range(1, n_merges + 1)
    )
    enc_rows = (
        "SELECT 'encode', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),"
        " CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),"
        " doc_id, n_subwords, tokens_md5 FROM encf"
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + fit_rows
        + "\n    UNION ALL "
        + enc_rows
    )


def classifier_oracle_sql(
    weights_micro: list[int] | None = None,
    bias_micro: int = CLASSIFIER_BIAS_MICRO,
    threshold_micro: int = CLASSIFIER_THRESHOLD_MICRO,
) -> str:
    """DuckDB twin of ``operators/classify.py:linear_text_classifier``
    over the documents table: same whitespace tokenization as the
    dsir oracle, same md5-derived hash60 bucket, the weight vector as
    a literal BIGINT list, and the division-free cross-multiplied
    keep verdict (no truncate-vs-floor hazard on negative sums)."""
    from data_frame_spark.functions.texthash import sql_hash60

    w = weights_micro if weights_micro is not None else CLASSIFIER_WEIGHTS_MICRO
    b = len(w)
    lit = "[" + ", ".join(f"CAST({int(x)} AS BIGINT)" for x in w) + "]"
    nb, tb = int(bias_micro), int(threshold_micro)
    return rf"""
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
    tok AS (SELECT doc_id, UNNEST(tk) AS token FROM norm),
    wv AS (SELECT doc_id, ({lit})[(({sql_hash60("token")}) % {b}) + 1] AS w
           FROM tok WHERE token <> ''),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(w) AS BIGINT) AS score_sum_micro
            FROM wv GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_sum_micro,
           (score_sum_micro + {nb} * n_tokens) >= ({tb} * n_tokens) AS keep
    FROM agg
    """


def containment_oracle_sql(n: int = 13, min_shared: int = 1) -> str:
    """DuckDB twin of ``operators/dedup.py:contamination_containment``
    over the documents table with the every-50th-doc benchmark split
    (the decontamination_family ngram leg's fixture convention): distinct
    hashed n-grams per side (whole-doc shingle for documents shorter
    than n tokens — the shingle_rows contract), per-document totals,
    collision counts, and the exact integer containment score
    (both operands positive, so ``//`` matches Spark's ``div``)."""
    return rf"""
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < {n} THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-{n - 1}),
                                                i -> array_to_string(tk[i:i+{n - 1}], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         ct AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_ngrams
                FROM cg GROUP BY doc_id),
         bg AS (SELECT doc_id AS bench_id, h FROM cg WHERE doc_id % 50 = 0)
    SELECT c.doc_id, b.bench_id,
           CAST(COUNT(*) AS BIGINT) AS shared_ngrams,
           ct.doc_ngrams,
           CAST((COUNT(*) * 1000000) // ct.doc_ngrams AS BIGINT) AS containment_micro
    FROM cg c JOIN bg b ON c.h = b.h JOIN ct ON ct.doc_id = c.doc_id
    GROUP BY c.doc_id, b.bench_id, ct.doc_ngrams
    HAVING COUNT(*) >= {int(min_shared)}
    """


def wav_corpus_oracle_sql() -> str:
    """DuckDB twin of the future wav_corpus_features row: per-user
    waveform stats computed straight from the events slice that the
    Spark side turns into REAL 16-bit PCM WAV blobs (stdlib wave
    write -> audio_waveform_features decode). Sample derivation is
    pure positive-integer arithmetic, order is (event_id) per user,
    and every SUM output carries the OUTER BIGINT cast (HUGEINT ->
    float64 pandas-coercion rule, round 12)."""
    return """
    WITH x AS (SELECT user_id, event_id,
                      ((user_id * 31 + event_id * 7919) % 65536) - 32768 AS s
               FROM events WHERE event_id % 3 = 2),
         l AS (SELECT user_id, s,
                      LAG(s) OVER (PARTITION BY user_id ORDER BY event_id) AS p
               FROM x)
    SELECT user_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sample_sum,
           CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(CASE WHEN p * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           TRUE AS ok
    FROM l GROUP BY user_id
    """


def wav_docs(spark, sf_dir):
    """One synthetic mono 16-bit 8 kHz WAV per user, built WITHOUT
    leaving the cluster: a JVM-side
    ``array_sort(collect_list(struct(event_id, s)))`` aggregate
    assembles each user's event-ordered sample vector, and ONE
    batched mapInPandas pass writes the stdlib wave containers.
    (Until round 18 this was a per-user applyInPandas group; Spark
    frames each group as its own Arrow batch + pandas frame, and that
    per-group machinery alone cost ~2.5 s at sf0.1 with a trivial
    body — the gpx/tcx corpus builders measured the same shape, see
    queries.gpx_corpus_read_docs. Payloads are bit-identical: the
    struct sort orders by event_id exactly as the pandas sort did —
    event ids are unique within a user, which the oracle twin's
    ``LAG ... ORDER BY event_id`` already relies on.) Disjoint event
    slice (event_id % 3 = 2) from the gpx/tcx corpus rows. Returns
    (user_id, payload)."""
    import io
    import wave

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 2)
        .select(
            "user_id",
            "event_id",
            (((F.col("user_id") * 31 + F.col("event_id") * 7919) % 65536) - 65536 // 2)
            .cast("long")
            .alias("s"),
        )
    )

    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("event_id", "s"))).alias("p")
        )
        .select("user_id", F.col("p.s").alias("ss"))
    )

    def build(batches):
        for pdf in batches:
            uids, payloads = [], []
            for uid, ss in zip(pdf["user_id"], pdf["ss"]):
                samples = np.asarray(ss, dtype="int64").astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.tobytes())
                uids.append(int(uid))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"user_id": pd.Series(uids, dtype="int64"), "payload": payloads}
            )

    return grouped.mapInPandas(build, schema="user_id long, payload binary")


def wav_corpus_spark(spark, sf_dir):
    """The Spark side the registered binary_corpus_family 'wav' facet
    uses verbatim: :func:`wav_docs` decoded back through the REAL
    audio_waveform_features reader."""
    from data_frame_spark.operators.multimodal import audio_waveform_features

    return audio_waveform_features(wav_docs(spark, sf_dir), "payload", "user_id")


def binary_ingest_spark(spark, sf_dir, path: str | None = None):
    """The Spark side of a future binary-INGEST registry row — the
    one multimodal surface without a driver row: a directory of media
    FILES read back through Spark's ``binaryFile`` source
    (sources/binaryfiles.py read_binary_dir — planning-time glob, one
    file one row). The corpus of per-user WAVs is materialized by the
    EXECUTOR tasks (mapInPandas side-effect writing to shared storage
    — the same shared-FS assumption every file sink makes; the
    default per-process temp directory is only shared under local[N],
    so a real cluster must pass ``path`` pointing at shared storage —
    round-13 advisory), then ingested fresh: path-glob select, user
    id parsed from the file name, payloads decoded through the REAL
    audio_waveform_features reader. The oracle computes identical
    aggregates straight from the events table (wav_corpus_oracle_sql),
    so any loss in write-files -> glob -> whole-file-read -> decode
    breaks the hash."""
    import os
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from data_frame_spark.operators.multimodal import audio_waveform_features
    from data_frame_spark.sources.binaryfiles import read_binary_dir

    # clean=True: a stale corpus from an earlier fixture shape (same
    # PID) would otherwise survive into the *.wav glob as extra rows.
    # An EXPLICIT path gets no rmtree and no atexit (this code must
    # not delete storage it doesn't own) — so the caller's contract
    # is a directory that starts empty/nonexistent and is cleaned by
    # the caller; stale user_*.wav files there would survive into the
    # glob exactly like the local stale-corpus case (round-14 review).
    if path is None:
        path = _prep_tmp_dir("binary_ingest", sf_dir, clean=True)

    def dump(batches):
        # the directory is created INSIDE the task (not on the
        # driver): on a real cluster the driver's filesystem is not
        # the executors', so a driver-side makedirs would leave every
        # mkstemp below failing with ENOENT (round-13 advisory)
        os.makedirs(path, exist_ok=True)
        n = 0
        for pdf in batches:
            for uid, payload in zip(pdf["user_id"], pdf["payload"]):
                final = os.path.join(path, f"user_{int(uid):010d}.wav")
                # temp-file + rename: task retries / speculative
                # attempts must never interleave bytes into the final
                # name a concurrent glob could read (round-13 review —
                # real sinks get this from the commit protocol)
                fd, tmp = tempfile.mkstemp(dir=path, suffix=".part")
                with os.fdopen(fd, "wb") as fh:
                    fh.write(bytes(payload))
                os.replace(tmp, final)
            n += len(pdf)
        yield pd.DataFrame({"n": [n]})

    # one job materializes the file corpus (idempotent: fixed final
    # names, atomic whole-file replaces)
    wav_docs(spark, sf_dir).mapInPandas(dump, "n long").agg(F.sum("n")).collect()
    ingest = read_binary_dir(spark, path, glob="*.wav").select(
        F.regexp_extract(F.col("path"), r"user_(\d+)\.wav$", 1)
        .cast("long")
        .alias("user_id"),
        F.col("content"),
    )
    return audio_waveform_features(ingest, "content", "user_id")


def video_corpus_oracle_sql() -> str:
    """DuckDB twin of the future video_corpus_features row: per-user
    container metadata computed straight from the events slice the
    Spark side turns into REAL ISO BMFF payloads (box-packed mvhd +
    trak boxes -> video_metadata stdlib box walk). 40 movie-units
    per event at timescale 1000 (25 fps frame-duration flavor);
    track count is a small user-derived constant. All-integer
    outputs with the outer-BIGINT-cast discipline."""
    return """
    WITH x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events WHERE event_id % 3 = 0
               GROUP BY user_id)
    SELECT user_id AS doc_id,
           'mp4' AS format,
           'isom' AS major_brand,
           CAST(1000 AS BIGINT) AS timescale,
           CAST(40 * n AS BIGINT) AS duration_units,
           CAST(40000 * n AS BIGINT) AS duration_us,
           CAST(1 + user_id % 3 AS BIGINT) AS n_tracks,
           TRUE AS ok
    FROM x
    """


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def mp4_bytes(timescale: int, duration: int, n_tracks: int) -> bytes:
    """Minimal valid ISO BMFF payload (ftyp + moov{mvhd + trak*}) —
    the deterministic synthetic-video builder shared by the corpus
    prep row and the multimodal tests. Durations past the mvhd v0
    32-bit field get the v1 layout (64-bit duration) instead of
    crashing the executor task with to_bytes OverflowError — the
    builder must never be the thing that kills a task the reader's
    quarantine path was hardened for (round-12 advisory)."""
    timescale, duration = int(timescale), int(duration)
    if duration < 0 or timescale < 0:
        raise ValueError("mp4_bytes needs non-negative timescale/duration")
    if duration < (1 << 32) and timescale < (1 << 32):
        mvhd = (
            bytes([0, 0, 0, 0])
            + (0).to_bytes(4, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 76
        )
    else:
        # 2^62 is the READER's parseable range (video_metadata's
        # corrupt-mvhd guard quarantines anything above) — emitting
        # [2^62, 2^64) here would be a valid container the pipeline
        # contract still rejects, a silent hash-red instead of a loud
        # builder error
        if timescale >= (1 << 32) or duration >= (1 << 62):
            raise ValueError("duration/timescale past the parseable mvhd v1 range")
        mvhd = (
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 76
        )
    moov = _mp4_box(b"mvhd", mvhd) + b"".join(
        _mp4_box(b"trak", b"\x00" * 8) for _ in range(n_tracks)
    )
    return _mp4_box(b"ftyp", b"isom" + b"\x00" * 8) + _mp4_box(b"moov", moov)


def video_corpus_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim: one
    synthetic ISO BMFF container per user built WITHOUT leaving the
    cluster (mapInPandas over the per-user event counts packs
    ftyp/moov/mvhd/trak boxes), then parsed back through the REAL
    stdlib box walker (multimodal.video_metadata)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_frame_spark.operators.multimodal import video_metadata

    counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"].astype("int64"),
                    "payload": [
                        mp4_bytes(1000, 40 * int(n), 1 + int(u) % 3)
                        for u, n in zip(pdf["user_id"], pdf["n"])
                    ],
                }
            )

    docs = counts.mapInPandas(build, schema="user_id long, payload binary")
    return video_metadata(docs, "payload", "user_id")


def binary_corpus_family_oracle_sql() -> str:
    """Facet union of the wav + video corpus twins (the r13
    registration shape): NULL-superset columns, every integral output
    outer-BIGINT-cast inside the facet legs. Nullable-on-both-sides
    columns coerce to float64 together under a pandas canon — the
    green pattern (kmv_family precedent), unlike the corpus-row
    HUGEINT split this file's round-12 notes document."""
    wav = wav_corpus_oracle_sql().strip().rstrip()
    vid = video_corpus_oracle_sql().strip().rstrip()
    return f"""
    WITH wavf AS ({wav}),
         vidf AS ({vid})
    SELECT 'wav' AS facet, doc_id,
           n_samples, sample_sum, abs_sum, peak_abs, zero_crossings,
           CAST(NULL AS VARCHAR) AS format,
           CAST(NULL AS VARCHAR) AS major_brand,
           CAST(NULL AS BIGINT) AS timescale,
           CAST(NULL AS BIGINT) AS duration_units,
           CAST(NULL AS BIGINT) AS duration_us,
           CAST(NULL AS BIGINT) AS n_tracks,
           ok
    FROM wavf
    UNION ALL
    SELECT 'video', doc_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           format, major_brand, timescale, duration_units, duration_us,
           n_tracks, ok
    FROM vidf
    """


def binary_corpus_family_spark(spark, sf_dir):
    """Spark side of the r13 binary_corpus_family row: the wav and
    video corpus pipelines on their disjoint slices, facet-unioned
    with NULL-superset columns matching the oracle."""
    from pyspark.sql import functions as F

    nb = F.lit(None).cast("long")
    ns = F.lit(None).cast("string")
    wav = wav_corpus_spark(spark, sf_dir).select(
        F.lit("wav").alias("facet"), "doc_id",
        "n_samples", "sample_sum", "abs_sum", "peak_abs", "zero_crossings",
        ns.alias("format"), ns.alias("major_brand"), nb.alias("timescale"),
        nb.alias("duration_units"), nb.alias("duration_us"),
        nb.alias("n_tracks"), "ok",
    )
    vid = video_corpus_spark(spark, sf_dir).select(
        F.lit("video").alias("facet"), "doc_id",
        nb.alias("n_samples"), nb.alias("sample_sum"), nb.alias("abs_sum"),
        nb.alias("peak_abs"), nb.alias("zero_crossings"),
        "format", "major_brand", "timescale", "duration_units",
        "duration_us", "n_tracks", "ok",
    )
    return wav.unionByName(vid)


# (xml_corpus_family_oracle_sql / xml_corpus_family_spark lived here
# in round 12 as the pre-proven merge shape; lifted verbatim into the
# registered xml_corpus_family row in queries.py in round 13 — the
# parity test now pins the registered row directly.)


# ---------------------------------------------------------------------------
# Round-14 prep: graph analytics twins (operators/graph.py
# triangle_count + label_propagation). Registration next round is
# pure wiring once the _FIRST window rotates — the r12/r13 pattern.
# ---------------------------------------------------------------------------


def triangle_edges_sql() -> str:
    """The parts-co-ordered graph both engines use: distinct
    (lower, higher) part pairs appearing in the SAME order — unlike
    the bipartite part<->supplier graph, this one actually closes
    triangles. The every-10th-order slice keeps each kept order's
    part CLIQUE intact (so triangles are guaranteed) while cutting
    the fixture graph's edge density ~10x and its wedge count ~100x:
    the UNSLICED sf0.1 graph is pathologically dense (avg degree
    ~120, 41M wedges for 1.2M edges — measured), which is a property
    of the synthetic fixture, not of the operator."""
    return """
    pe AS MATERIALIZED (
      SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
                      CAST(b.l_partkey AS BIGINT) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0)
    """


def _tri_ctes() -> str:
    """The ordered-triple triangle chain (ends in ``tfin``: every
    node with its COALESCE'd count) — shared by triangle_oracle_sql
    and the graph_suite family so the two twins can never pin
    different graphs. CTE names (pe/tn/tri/pern/tfin) are disjoint
    from the LPA (nodes/l*/c*) and BFS (d*/r*) chains by
    inspection."""
    return f"""{triangle_edges_sql().strip().rstrip()},
    tn AS (SELECT u AS node FROM pe UNION SELECT v FROM pe),
    tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM pe e1
            JOIN pe e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN pe e3 ON e3.u = e1.v AND e3.v = e2.v),
    pern AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
             FROM (SELECT x AS node FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri)
             GROUP BY node),
    tfin AS (SELECT n.node, COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles
             FROM tn n LEFT JOIN pern p USING (node))"""


def triangle_oracle_sql() -> str:
    """DuckDB twin of ``operators/graph.py:triangle_count`` on the
    parts-co-ordered graph — deliberately a DIFFERENT formulation
    than the Spark side's degree-ordered orientation: the oracle
    enumerates ordered triples (x < y < z with all three edges
    present), which is correct on any undirected u<v edge list, so
    agreement pins the orientation trick's correctness rather than
    replaying it."""
    return f"""
    WITH {_tri_ctes()}
    SELECT node, triangles FROM tfin
    """


def triangle_spark(spark, sf_dir, cooccur_und=None):
    """The Spark side the future registry row will use verbatim:
    build the parts-co-ordered edge list (one orderkey-keyed
    self-join, pair blowup bounded by order size) and run the
    degree-ordered triangle counter. ``cooccur_und``: an optional
    pre-canonicalized :func:`_part_cooccur_und` relation (r19) — the
    graph_suite family shares ONE across its triangle and k-core
    facets instead of each re-running the scan + self-join +
    distinct."""
    from data_frame_spark.operators.graph import triangle_count

    if cooccur_und is not None:
        return triangle_count(cooccur_und, "u", "v", prepared=True)
    return triangle_count(_part_cooccur_pairs(spark, sf_dir))


def _part_cooccur_pairs(spark, sf_dir):
    """The parts-co-ordered edge list (u < v part pairs sharing an
    order, every-10th order) — ONE definition shared by the triangle
    and k-core twins so they can never pin different graphs (the
    Spark mirror of ``triangle_edges_sql``'s ``pe`` CTE)."""
    from pyspark.sql import functions as F

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", F.col("l_partkey").cast("long").alias("p"))
    )
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p") < F.col("b.p")),
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))


def _part_cooccur_und(spark, sf_dir):
    """The CANONICALIZED undirected form of
    :func:`_part_cooccur_pairs` — exactly the least/greatest +
    null/self-loop drop + distinct that triangle_count and k_core
    each applied internally (their ``prepared=False`` path), hoisted
    (r19, guide §2.3) so the graph_suite family builds the
    scan + self-join + distinct pipeline ONCE, lazily checkpointed,
    for both facets. The pairs here already satisfy src < dst and
    non-null by construction, so the fold is a no-op in VALUES — it
    is kept verbatim so this relation is bit-identical to what each
    operator would have built internally (equivalence by
    construction, oracle-gated regardless)."""
    from pyspark.sql import functions as F

    pairs = _part_cooccur_pairs(spark, sf_dir)
    a, b = F.col("src").cast("long"), F.col("dst").cast("long")
    return (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _kcore_ctes(k: int, rounds: int) -> str:
    """The bounded-peeling chain (assumes the triangle ``pe`` CTE is
    in scope; ends in ``kfin``: surviving (node, degree) rows). CTE
    names (ke*/kd*/kfin) are disjoint from the triangle
    (pe/tn/tri/pern/tfin), LPA (nodes/l*/c*) and BFS (d*/r*) chains
    by inspection — the graph_suite merge-safety contract."""
    parts = ["ke0 AS (SELECT u, v FROM pe)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""kd{i} AS (SELECT node, COUNT(*) AS d
             FROM (SELECT u AS node FROM ke{i - 1}
                   UNION ALL SELECT v FROM ke{i - 1})
             GROUP BY node),
    ke{i} AS MATERIALIZED (
      SELECT u, v FROM ke{i - 1}
      WHERE u IN (SELECT node FROM kd{i} WHERE d >= {k})
        AND v IN (SELECT node FROM kd{i} WHERE d >= {k}))"""
        )
    parts.append(
        f"""kfin AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
             FROM (SELECT u AS node FROM ke{rounds}
                   UNION ALL SELECT v FROM ke{rounds})
             GROUP BY node)"""
    )
    return ",\n    ".join(parts)


def kcore_oracle_sql(k: int = 5, rounds: int = 4) -> str:
    """DuckDB twin of ``operators/graph.py:k_core`` on the
    parts-co-ordered graph (the triangle fixture, via the SHARED
    ``pe`` CTE): exactly ``rounds`` synchronous peels unrolled into
    chained CTE pairs (degree count, then the both-endpoints-kept
    edge filter) — the integer-loop replay recipe. k=5/rounds=4 on
    this fixture cascades for three rounds and is stable by the
    fourth (measured at sf0.01), so the row exercises BOTH the
    multi-round cascade and the idempotent-once-stable contract."""
    if rounds < 0:
        raise ValueError("kcore_oracle_sql needs rounds >= 0")
    return f"""
    WITH {triangle_edges_sql().strip().rstrip()},
    {_kcore_ctes(k, rounds)}
    SELECT node, degree FROM kfin
    """


def kcore_spark(spark, sf_dir, cooccur_und=None):
    """The Spark side the registry row uses verbatim — the SHARED
    parts-co-ordered edge list through operators/graph.py:k_core.
    ``cooccur_und``: same r19 sharing contract as
    :func:`triangle_spark`."""
    from data_frame_spark.operators.graph import k_core

    if cooccur_und is not None:
        return k_core(cooccur_und, k=5, rounds=4, src_col="u", dst_col="v",
                      prepared=True)
    return k_core(_part_cooccur_pairs(spark, sf_dir), k=5, rounds=4)


def _lpa_ctes(iterations: int) -> list[str]:
    """The LPA round chain of the graph_suite family (assumes the
    pagerank ``e`` CTE is in scope): synchronous min-tie-break rounds
    unrolled into chained CTE pairs — count (node, label) in-neighbor
    votes, then the deterministic (count DESC, label ASC) argmax via
    ROW_NUMBER (the single-node equivalent of the Spark side's
    MAX(struct))."""
    parts = [
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
               UNION SELECT DISTINCT dst FROM e),
    l0 AS (SELECT node, node AS label FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node, l.label,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT n.node, COALESCE(b.label, n.node) AS label
      FROM nodes n LEFT JOIN (
        SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY c DESC, label ASC) AS rn
          FROM c{i}) WHERE rn = 1) b USING (node))"""
        )
    return parts


def _part_supplier_edges(spark, sf_dir):
    """The bidirectional part<->supplier fixture edges — ONE
    definition shared by the graph_suite family and the PPR twin
    (identical construction to pagerank_part_supplier; round-13
    review: three inline copies had crept in)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + PAGERANK_SUPP_OFFSET).cast("long").alias("dst"),
    ).distinct()
    return b.unionAll(b.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _part_seeds(spark, sf_dir):
    """The every-100th-part seed set (mirrors _bfs_ctes' d0)."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").cast("long").alias("node"))
        .distinct()
    )


def _prep_tmp_dir(name: str, sf_dir: str, clean: bool = False) -> str:
    """Per-process temp path for round-trip rows (the csv_roundtrip
    recipe, factored — round-13 review found it copy-pasted four
    times): a fixed name would race a concurrent run on the same
    fixture; within one process the path is stable so returned
    DataFrames stay readable after the call; atexit removes it at
    interpreter exit so repeated driver rounds don't accumulate
    directories. ``clean=True`` pre-clears the directory so stale
    files from an earlier fixture shape can't leak into glob-based
    readers. (queries.py's csv_roundtrip_lineitem keeps its inline
    copy until that row next rotates into the checked window — its
    decorated body is AST-pinned while past-cap.)"""
    import atexit
    import os
    import shutil
    import tempfile

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir)
    path = os.path.join(tempfile.gettempdir(), f"dfs_{name}{tag}_{os.getpid()}")
    if clean:
        shutil.rmtree(path, ignore_errors=True)
    # register the rmtree ONCE per path: tests call this many times in
    # one process, and stacking a duplicate handler per call grows the
    # atexit table for the life of the interpreter (round-13 advisory)
    if path not in _PREP_TMP_REGISTERED:
        _PREP_TMP_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_PREP_TMP_REGISTERED: set[str] = set()


def orc_roundtrip_oracle_sql() -> str:
    """DuckDB twin of the future orc_roundtrip_lineitem row: the SAME
    lineitem slice read straight from parquet — any loss in the
    hive-partitioned ORC write -> read round trip (column types,
    partition-column reconstruction, row coverage) breaks the hash.
    Disjoint slice (% 32 = 1) from csv_roundtrip_lineitem's."""
    return """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity, l_extendedprice, l_discount,
           l_returnflag, l_linestatus
    FROM lineitem WHERE l_orderkey % 32 = 1
    """


def orc_roundtrip_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim:
    write a lineitem slice as a hive-partitioned ORC table
    (sources/orc.py write_orc — partition keys shuffled together so
    each partition is a few files), read it back (partition column
    reconstructed from directory names), and return the typed
    columns. ORC is binary-exact — unlike the CSV round trip there is
    no text-formatting leg — so the row pins partition-column
    round-tripping and scan correctness. Temp path per process with
    atexit cleanup (the csv_roundtrip recipe)."""
    from pyspark.sql import functions as F

    from data_frame_spark.sources.orc import read_orc, write_orc

    path = _prep_tmp_dir("orc_roundtrip", sf_dir)
    cols = [
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus",
    ]
    sl = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 32 == 1)
        .select(cols)
    )
    write_orc(sl, path, partition_cols=["l_returnflag"])
    back = read_orc(spark, path)
    return back.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity", "l_extendedprice", "l_discount",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        "l_linestatus",
    )


def jsonl_roundtrip_oracle_sql() -> str:
    """DuckDB twin of the future jsonl_roundtrip_docs row: the SAME
    documents slice read straight from parquet, text hashed so the
    compare stays row-shaped — any loss in the JSONL write -> read
    round trip (escaping, NULL-field survival, schema-first parse)
    breaks the hash."""
    return """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents WHERE doc_id % 7 = 3
    """


def jsonl_roundtrip_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim: a
    documents slice through the distributed JSONL writer
    (ignoreNullFields=false so None survives) and back through the
    schema-first PERMISSIVE reader (sources/jsonl.py), corrupt column
    asserted empty by construction. Temp path per process with atexit
    cleanup (the csv/orc round-trip recipe)."""
    from pyspark.sql import functions as F

    from data_frame_spark.sources import jsonl as J

    path = _prep_tmp_dir("jsonl_roundtrip", sf_dir)
    sl = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    J.write_jsonl(sl, path)
    back = J.read_jsonl(spark, path, schema=J.DOCUMENTS_SCHEMA)
    return back.where(F.col(J.CORRUPT_COL).isNull()).select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


def format_roundtrip_family_oracle_sql() -> str:
    """Facet union of the ORC and JSONL round-trip twins — the shape
    that lets both surfaces ride ONE r14 registry slot (facet +
    NULL-superset columns across the two tables' schemas, nullable on
    both engines — the xml_corpus_family recipe)."""
    orc = orc_roundtrip_oracle_sql().strip().rstrip()
    jl = jsonl_roundtrip_oracle_sql().strip().rstrip()
    return f"""
    WITH of AS ({orc}),
         jf AS ({jl})
    SELECT 'orc' AS facet,
           l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_discount, l_returnflag, l_linestatus,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars,
           CAST(NULL AS VARCHAR) AS text_md5
    FROM of
    UNION ALL
    SELECT 'jsonl',
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR),
           doc_id, lang, source, n_chars, text_md5
    FROM jf
    """


def format_roundtrip_family_spark(spark, sf_dir):
    """Spark side of the r14 format_roundtrip_family candidate: both
    round-trip pipelines, facet-unioned with NULL-superset columns
    matching the oracle."""
    from pyspark.sql import functions as F

    nb = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    o = orc_roundtrip_spark(spark, sf_dir).select(
        F.lit("orc").alias("facet"),
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus",
        nb.alias("doc_id"), ns.alias("lang"), ns.alias("source"),
        nb.alias("n_chars"), ns.alias("text_md5"),
    )
    j = jsonl_roundtrip_spark(spark, sf_dir).select(
        F.lit("jsonl").alias("facet"),
        nb.alias("l_orderkey"), nb.alias("l_linenumber"),
        nd.alias("l_quantity"), nd.alias("l_extendedprice"),
        nd.alias("l_discount"), ns.alias("l_returnflag"),
        ns.alias("l_linestatus"),
        "doc_id", "lang", "source", "n_chars", "text_md5",
    )
    return o.unionByName(j)


def _bfs_ctes(max_hops: int) -> list[str]:
    """The BFS relaxation chain of the graph_suite family (assumes
    the pagerank ``e`` CTE is in scope): seeds = parts with
    partkey % 100 = 0, then the min-plus relaxation unrolled into
    chained CTE pairs (propagate one hop with a MIN groupBy, then
    min-merge with the running table)."""
    parts = [
        """d0 AS MATERIALIZED (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS hops
      FROM lineitem WHERE l_partkey % 100 = 0)""",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"""r{k} AS (SELECT e.dst AS node, MIN(d.hops + 1) AS hops
            FROM e JOIN d{k - 1} d ON d.node = e.src
            GROUP BY e.dst),
    d{k} AS MATERIALIZED (
      SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
      FROM (SELECT node, hops FROM d{k - 1}
            UNION ALL SELECT node, hops FROM r{k})
      GROUP BY node)"""
        )
    return parts


GAPFILL_BUCKET_US = 86400 * 1000000  # daily buckets


def sql_floor_div(num: str, den: str) -> str:
    """DuckDB-dialect FLOOR division of ``num`` by a POSITIVE
    ``den`` (DuckDB's ``//`` truncates toward zero, verified live:
    (-7)//2 = -3) — the mirror of
    operators/timeseries.py:floor_div_expr, pinned in sync by the
    negative-input parity test in tests/test_timeseries.py."""
    return (
        f"({num}) // ({den}) - CASE WHEN ({num}) % ({den}) <> 0 "
        f"AND ({num}) < 0 THEN 1 ELSE 0 END"
    )


def gapfill_oracle_sql() -> str:
    """DuckDB twin of the gapfill_daily_value row (registered r16)
    (operators/timeseries.py:time_bucket_gapfill on per-user daily
    value buckets, 'locf' + 'linear' facets on one row). The twin
    replays the exact integer pipeline: micro quantization before
    the sum, FLOOR-division bucket index and mean (BOTH engines'
    native integer division truncates toward zero — DuckDB
    (-7)//2 = -3, verified live — so BOTH sides carry the same
    explicit floor correction; the fixture's timestamps and values
    are positive, making the corrections no-ops here, but the twin
    must state the operator's real semantics), the generate_series
    grid over each user's observed span, and the lerp through FLOOR
    of the same double expression. CTE names (gb/ga/gs/gg/gj/gw)
    disjoint from every other chain."""
    return f"""
    WITH gb0 AS (SELECT user_id, epoch_ns(ts)//1000 AS tsu,
                        CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vm
                 FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    gb AS (SELECT user_id,
                  {sql_floor_div("tsu", GAPFILL_BUCKET_US)} AS bucket,
                  vm
           FROM gb0),
    ga AS (SELECT user_id, bucket, SUM(vm) AS sm,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM gb GROUP BY 1, 2),
    gs AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
           FROM ga GROUP BY 1),
    gg AS (SELECT user_id, UNNEST(generate_series(b0, b1)) AS bucket FROM gs),
    gj AS (SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n,
                  CAST({sql_floor_div("a.sm", "a.n")} AS BIGINT) AS mean_micro
           FROM gg g LEFT JOIN ga a USING (user_id, bucket)),
    gw AS (SELECT user_id, bucket, n, mean_micro,
                  LAST_VALUE(mean_micro IGNORE NULLS) OVER wb AS lv,
                  LAST_VALUE(CASE WHEN mean_micro IS NOT NULL THEN bucket END
                             IGNORE NULLS) OVER wb AS pb,
                  FIRST_VALUE(mean_micro IGNORE NULLS) OVER wf AS nv,
                  FIRST_VALUE(CASE WHEN mean_micro IS NOT NULL THEN bucket END
                              IGNORE NULLS) OVER wf AS nb
           FROM gj
           WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                         ROWS UNBOUNDED PRECEDING),
                  wf AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT 'locf' AS facet, user_id, bucket, n, mean_micro,
           lv AS filled_micro
    FROM gw
    UNION ALL
    SELECT 'linear', user_id, bucket, n, mean_micro,
           CASE WHEN mean_micro IS NOT NULL THEN mean_micro
                WHEN lv IS NULL THEN nv
                WHEN nv IS NULL THEN lv
                ELSE CAST(FLOOR(lv + CAST(nv - lv AS DOUBLE) * (bucket - pb)
                                     / (nb - pb)) AS BIGINT)
           END
    FROM gw
    """


def gapfill_spark(spark, sf_dir):
    """The Spark side of the registered gapfill_daily_value row —
    per-user daily-bucket gap-fill of event value, both fills as
    facets (each leg is the operator end-to-end; the grid is
    calendar-bounded per user, so running it twice costs two small
    entity-keyed passes)."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.timeseries import time_bucket_gapfill
    from data_frame_spark.queries import t

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts_us").alias("tsn"), "value"
    )
    legs = [
        time_bucket_gapfill(
            ev, "tsn", "value", GAPFILL_BUCKET_US, ["user_id"], fill=fill
        ).select(
            F.lit(fill).alias("facet"), "user_id", "bucket", "n",
            "mean_micro", "filled_micro",
        )
        for fill in ("locf", "linear")
    ]
    return legs[0].unionByName(legs[1])


def merge_upsert_oracle_sql() -> str:
    """DuckDB twin of the merge_upsert_customers row (registered r16)
    (operators/scd.py:merge_upsert on the customer dimension): a
    deterministic batch updates every 3rd key (prefix-tagged
    segment), deletes every 13th, and inserts supplier-derived keys
    offset into a disjoint id space (+1e9 — past the 10x replica
    fixture's 90M key ceiling, where a 20M offset collided and the
    operator's cardinality guard fired: proof the guard works) — one FULL OUTER join,
    source-wins overwrite, delete-flag drop. CTE names (mu_*)
    disjoint from every other chain."""
    return """
    WITH mu_t AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
      FROM customer),
    mu_s AS (
      SELECT k, 'UPDATED_' || seg AS seg, FALSE AS del
      FROM mu_t WHERE k % 3 = 0 AND k % 13 <> 0
      UNION ALL
      SELECT k, CAST(NULL AS VARCHAR), TRUE FROM mu_t WHERE k % 13 = 0
      UNION ALL
      SELECT CAST(s_suppkey + 1000000000 AS BIGINT), 'SUPPLIER_NEW', FALSE
      FROM supplier),
    mu_j AS (
      SELECT COALESCE(t.k, s.k) AS c_custkey,
             CASE WHEN s.k IS NOT NULL THEN s.seg ELSE t.seg END
                 AS c_mktsegment,
             COALESCE(s.del, FALSE) AS del
      FROM mu_t t FULL OUTER JOIN mu_s s ON t.k = s.k)
    SELECT c_custkey, c_mktsegment FROM mu_j WHERE NOT del
    """


def merge_upsert_spark(spark, sf_dir):
    """The Spark side of the registered merge_upsert_customers row —
    the same deterministic update/delete/insert batch through
    operators/scd.py:merge_upsert."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.scd import merge_upsert
    from data_frame_spark.queries import t

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment"
    )
    k = F.col("c_custkey")
    upd = cust.where((k % 3 == 0) & (k % 13 != 0)).select(
        "c_custkey",
        F.concat(F.lit("UPDATED_"), F.col("c_mktsegment")).alias("c_mktsegment"),
        F.lit(False).alias("del"),
    )
    dels = cust.where(k % 13 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(True).alias("del"),
    )
    ins = t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + 1_000_000_000).cast("long").alias("c_custkey"),
        F.lit("SUPPLIER_NEW").alias("c_mktsegment"),
        F.lit(False).alias("del"),
    )
    src = upd.unionByName(dels).unionByName(ins)
    return merge_upsert(cust, src, ["c_custkey"], ["c_mktsegment"], "del")


#: decontamination_family NULL-superset column plan: (name, type,
#: producing legs). doc_id is shared by the bloom and ngram legs.
_DECON_COLS = [
    ("doc_id", "BIGINT", {"bloom", "ngram"}),
    ("n_grams", "BIGINT", {"bloom"}),
    ("bloom_candidates", "BIGINT", {"bloom"}),
    ("exact_hits", "BIGINT", {"bloom"}),
    ("bloom_false_positives", "BIGINT", {"bloom"}),
    ("bench_id", "BIGINT", {"ngram"}),
    ("shared_ngrams", "BIGINT", {"ngram"}),
    ("source", "VARCHAR", {"audit"}),
    ("n_contaminated_docs", "BIGINT", {"audit"}),
    ("n_bench_docs_hit", "BIGINT", {"audit"}),
    ("n_pairs", "BIGINT", {"audit"}),
    ("max_shared", "BIGINT", {"audit"}),
]

#: the bloom filter's bit-array width — the registered contract of
#: the retired bloom_decontamination_docs row, moved here with its
#: body at the r16 registration (deliberately small so the oracle
#: exercises real false positives)
_DECON_BLOOM_M = 4096


#: Literal snapshot (the event_funnel registration motion) of the
#: facet union of the three r14-green decontamination oracles,
#: printed from the lazy composition while the standalone rows
#: (bloom_decontamination_docs / ngram_decontamination_docs /
#: contamination_audit_splits) still existed and byte-identity
#: asserted against it in-session at r16 registration, then frozen
#: here as the single source.
DECONTAMINATION_FAMILY_ORACLE = r"""
    WITH bloom_leg AS (SELECT * FROM (
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 13 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-12),
                                                i -> array_to_string(tk[i:i+12], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         bg AS (SELECT DISTINCT h FROM cg WHERE doc_id % 50 = 0),
         bits AS (SELECT DISTINCT pos FROM (
                    SELECT ((CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN ascii(substr(h, 5, 1)) - 87 ELSE ascii(substr(h, 5, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 6, 1)) >= 97 THEN ascii(substr(h, 6, 1)) - 87 ELSE ascii(substr(h, 6, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 7, 1)) >= 97 THEN ascii(substr(h, 7, 1)) - 87 ELSE ascii(substr(h, 7, 1)) - 48 END) * 1) % 4096 AS pos FROM bg
                    UNION ALL SELECT ((CASE WHEN ascii(substr(h, 8, 1)) >= 97 THEN ascii(substr(h, 8, 1)) - 87 ELSE ascii(substr(h, 8, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 9, 1)) >= 97 THEN ascii(substr(h, 9, 1)) - 87 ELSE ascii(substr(h, 9, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 10, 1)) >= 97 THEN ascii(substr(h, 10, 1)) - 87 ELSE ascii(substr(h, 10, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 11, 1)) >= 97 THEN ascii(substr(h, 11, 1)) - 87 ELSE ascii(substr(h, 11, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 12, 1)) >= 97 THEN ascii(substr(h, 12, 1)) - 87 ELSE ascii(substr(h, 12, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 13, 1)) >= 97 THEN ascii(substr(h, 13, 1)) - 87 ELSE ascii(substr(h, 13, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 14, 1)) >= 97 THEN ascii(substr(h, 14, 1)) - 87 ELSE ascii(substr(h, 14, 1)) - 48 END) * 1) % 4096 FROM bg
                    UNION ALL SELECT ((CASE WHEN ascii(substr(h, 15, 1)) >= 97 THEN ascii(substr(h, 15, 1)) - 87 ELSE ascii(substr(h, 15, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 16, 1)) >= 97 THEN ascii(substr(h, 16, 1)) - 87 ELSE ascii(substr(h, 16, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 17, 1)) >= 97 THEN ascii(substr(h, 17, 1)) - 87 ELSE ascii(substr(h, 17, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 18, 1)) >= 97 THEN ascii(substr(h, 18, 1)) - 87 ELSE ascii(substr(h, 18, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 19, 1)) >= 97 THEN ascii(substr(h, 19, 1)) - 87 ELSE ascii(substr(h, 19, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 20, 1)) >= 97 THEN ascii(substr(h, 20, 1)) - 87 ELSE ascii(substr(h, 20, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 21, 1)) >= 97 THEN ascii(substr(h, 21, 1)) - 87 ELSE ascii(substr(h, 21, 1)) - 48 END) * 1) % 4096 FROM bg)),
         probe AS (SELECT doc_id, h,
                          ((CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN ascii(substr(h, 5, 1)) - 87 ELSE ascii(substr(h, 5, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 6, 1)) >= 97 THEN ascii(substr(h, 6, 1)) - 87 ELSE ascii(substr(h, 6, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 7, 1)) >= 97 THEN ascii(substr(h, 7, 1)) - 87 ELSE ascii(substr(h, 7, 1)) - 48 END) * 1) % 4096 AS p0,
                          ((CASE WHEN ascii(substr(h, 8, 1)) >= 97 THEN ascii(substr(h, 8, 1)) - 87 ELSE ascii(substr(h, 8, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 9, 1)) >= 97 THEN ascii(substr(h, 9, 1)) - 87 ELSE ascii(substr(h, 9, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 10, 1)) >= 97 THEN ascii(substr(h, 10, 1)) - 87 ELSE ascii(substr(h, 10, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 11, 1)) >= 97 THEN ascii(substr(h, 11, 1)) - 87 ELSE ascii(substr(h, 11, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 12, 1)) >= 97 THEN ascii(substr(h, 12, 1)) - 87 ELSE ascii(substr(h, 12, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 13, 1)) >= 97 THEN ascii(substr(h, 13, 1)) - 87 ELSE ascii(substr(h, 13, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 14, 1)) >= 97 THEN ascii(substr(h, 14, 1)) - 87 ELSE ascii(substr(h, 14, 1)) - 48 END) * 1) % 4096 AS p1,
                          ((CASE WHEN ascii(substr(h, 15, 1)) >= 97 THEN ascii(substr(h, 15, 1)) - 87 ELSE ascii(substr(h, 15, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 16, 1)) >= 97 THEN ascii(substr(h, 16, 1)) - 87 ELSE ascii(substr(h, 16, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 17, 1)) >= 97 THEN ascii(substr(h, 17, 1)) - 87 ELSE ascii(substr(h, 17, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 18, 1)) >= 97 THEN ascii(substr(h, 18, 1)) - 87 ELSE ascii(substr(h, 18, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 19, 1)) >= 97 THEN ascii(substr(h, 19, 1)) - 87 ELSE ascii(substr(h, 19, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 20, 1)) >= 97 THEN ascii(substr(h, 20, 1)) - 87 ELSE ascii(substr(h, 20, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 21, 1)) >= 97 THEN ascii(substr(h, 21, 1)) - 87 ELSE ascii(substr(h, 21, 1)) - 48 END) * 1) % 4096 AS p2
                   FROM cg),
         flag AS (SELECT doc_id, h,
                         (p0 IN (SELECT pos FROM bits)
                          AND p1 IN (SELECT pos FROM bits)
                          AND p2 IN (SELECT pos FROM bits)) AS cand,
                         h IN (SELECT h FROM bg) AS ex
                  FROM probe)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS bloom_candidates,
           CAST(SUM(CASE WHEN cand AND ex THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN cand AND NOT ex THEN 1 ELSE 0 END) AS BIGINT) AS bloom_false_positives
    FROM flag GROUP BY doc_id
    )),
    ngram_leg AS (SELECT * FROM (
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 13 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-12),
                                                i -> array_to_string(tk[i:i+12], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         bg AS (SELECT doc_id AS bench_id, h FROM cg WHERE doc_id % 50 = 0)
    SELECT c.doc_id, b.bench_id, COUNT(*) AS shared_ngrams
    FROM cg c JOIN bg b ON c.h = b.h
    GROUP BY 1, 2
    )),
    audit_leg AS (SELECT * FROM (
    WITH u AS (SELECT doc_id, source, text,
                      CAST(((CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) - 48 END AS BIGINT)) * 72057594037927936 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) - 48 END AS BIGINT)) * 4503599627370496 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) - 48 END AS BIGINT)) * 281474976710656 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) - 48 END AS BIGINT)) * 17592186044416 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) - 48 END AS BIGINT)) * 1099511627776 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) - 48 END AS BIGINT)) * 68719476736 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) - 48 END AS BIGINT)) * 4294967296 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) - 48 END AS BIGINT)) * 268435456 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) - 48 END AS BIGINT)) * 16777216 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) - 48 END AS BIGINT)) * 1048576 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) - 48 END AS BIGINT)) * 65536 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) - 48 END AS BIGINT)) * 4096 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) - 48 END AS BIGINT)) * 256 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) - 48 END AS BIGINT)) * 16 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) - 48 END AS BIGINT)) * 1) AS BIGINT) AS h
               FROM documents),
    s AS (SELECT doc_id, source, text,
                 CASE WHEN h < 1037629354146162278 THEN 'train'
                      WHEN h < 1095275429376504627 THEN 'val'
                      ELSE 'test' END AS split
          FROM u),
    norm AS (SELECT doc_id, split, source,
                    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
             FROM s WHERE split IN ('train', 'test')),
    sh AS (SELECT doc_id, split, source,
                  CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                       ELSE list_transform(generate_series(1, len(tk)-4),
                                           i -> array_to_string(tk[i:i+4], ' '))
                  END AS sg
           FROM norm),
    cg AS (SELECT doc_id, split, source,
                  UNNEST(list_distinct(list_transform(sg, x -> md5(x)))) AS h2
           FROM sh),
    tr AS (SELECT doc_id, source, h2 FROM cg WHERE split = 'train'),
    te AS (SELECT doc_id AS bench_id, h2 FROM cg WHERE split = 'test'),
    hits AS (SELECT tr.doc_id, tr.source, te.bench_id,
                    CAST(COUNT(*) AS BIGINT) AS shared
             FROM tr JOIN te USING (h2) GROUP BY 1, 2, 3)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
           CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_docs_hit,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(shared) AS BIGINT) AS max_shared
    FROM hits GROUP BY source
    ))
    SELECT 'bloom' AS facet,
           doc_id,
           n_grams,
           bloom_candidates,
           exact_hits,
           bloom_false_positives,
           CAST(NULL AS BIGINT) AS bench_id,
           CAST(NULL AS BIGINT) AS shared_ngrams,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_contaminated_docs,
           CAST(NULL AS BIGINT) AS n_bench_docs_hit,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS BIGINT) AS max_shared
    FROM bloom_leg
    UNION ALL
    SELECT 'ngram' AS facet,
           doc_id,
           CAST(NULL AS BIGINT) AS n_grams,
           CAST(NULL AS BIGINT) AS bloom_candidates,
           CAST(NULL AS BIGINT) AS exact_hits,
           CAST(NULL AS BIGINT) AS bloom_false_positives,
           bench_id,
           shared_ngrams,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_contaminated_docs,
           CAST(NULL AS BIGINT) AS n_bench_docs_hit,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS BIGINT) AS max_shared
    FROM ngram_leg
    UNION ALL
    SELECT 'audit' AS facet,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_grams,
           CAST(NULL AS BIGINT) AS bloom_candidates,
           CAST(NULL AS BIGINT) AS exact_hits,
           CAST(NULL AS BIGINT) AS bloom_false_positives,
           CAST(NULL AS BIGINT) AS bench_id,
           CAST(NULL AS BIGINT) AS shared_ngrams,
           source,
           n_contaminated_docs,
           n_bench_docs_hit,
           n_pairs,
           max_shared
    FROM audit_leg
    """


def decontamination_family_oracle_sql() -> str:
    """Facet union of the three r14-checked decontamination oracles
    on one NULL-superset schema — registered r16 (slot-funding
    merge, net -2, funding gapfill_daily_value +
    merge_upsert_customers). Legs: 'bloom' (Bloom-gated exact
    13-gram decontamination incl. false-positive accounting),
    'ngram' (benchmark-suite shared-ngram counts), 'audit'
    (cross-split leakage rollup)."""
    return DECONTAMINATION_FAMILY_ORACLE


def decontamination_leg(spark, sf_dir, leg: str):
    """One leg of decontamination_family, pre-union — the three
    standalone bodies moved here verbatim at the r16 registration
    (the event_funnel_leg motion). Exposed per-leg so the plan pins
    (tests/test_plans.py) keep asserting each leg's own broadcast
    contract — the bloom/ngram legs BROADCAST the fixed eval suite;
    the audit leg, whose both sides are corpus-proportional, is
    pinned broadcast-free.

    - 'bloom': Bloom-gated 13-gram decontamination — the benchmark's
      m=4096-bit filter arrives as a broadcast set-bit table; only
      bloom-positive corpus n-grams reach the exact verify, and the
      output carries the false-positive accounting itself.
    - 'ngram': train/test decontamination by 13-gram collision
      (every 50th document plays the benchmark set) — a hashed
      n-gram equi-join, work ∝ colliding n-grams.
    - 'audit': deterministic 90/5/5 split assignment, then every
      train document sharing a verbatim 5-token span with a test
      document, rolled up per source via a SHUFFLE hash equi-join
      (broadcast=False: the test split is corpus-proportional)."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators import dedup as OpDedup
    from data_frame_spark.operators import sampling as OpSamp
    from data_frame_spark.operators.distributed import ensure_parallelism
    from data_frame_spark.queries import t

    # the fixture parquet has ~3 row groups; ensure_parallelism
    # spreads the md5-heavy shingle work across the configured cores
    # ONLY when the scan has fewer partitions — a real corpus arrives
    # with thousands of partitions and passes through shuffle-free
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))

    if leg == "bloom":
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return OpDedup.bloom_contamination(
            docs, bench, "text", "doc_id", n=13, m_bits=_DECON_BLOOM_M
        )

    if leg == "ngram":
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return OpDedup.ngram_contamination(docs, bench, "text", "doc_id", n=13)

    if leg == "audit":
        assigned = OpSamp.assign_splits(
            docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
            salt="exp1",
        )
        return OpDedup.split_contamination_audit(
            assigned, "text", "doc_id", "split", n=5, rollup_col="source"
        )

    raise ValueError(f"unknown decontamination leg: {leg!r}")


def decontamination_family_spark(spark, sf_dir):
    """Spark side of the registered decontamination_family row: the
    three standalone pipelines (bloom gate, benchmark n-gram
    collision join, cross-split audit), facet-unioned with
    typed-NULL superset columns padded by the SAME owner sets the
    oracle projects from.

    Optimization (round 18, guide §2.3/§2.4 — fewer passes, fewer
    shuffles): the bloom and ngram legs both consume the corpus's
    DISTINCT (doc_id, md5(13-gram)) relation, and their benchmark
    side (every 50th doc) is a pure FILTER of that same relation —
    so the doc-keyed shingle window + md5 + distinct pipeline is
    built ONCE, lazily localCheckpoint-ed (materialized by the first
    leg's first job, reused by every other reference), and passed
    into both legs via their ``corpus_grams``/``bench_grams``
    parameters. Before: the family's plan scanned documents and ran
    the 13-gram pipeline 4× (corpus twice, bench twice). After: once.
    Results are identical (the legs' own gram construction is the
    same distinct relation); the standalone ``decontamination_leg``
    builders — and their per-leg broadcast-contract plan pins — are
    untouched. The audit leg (5-grams over the split-assigned corpus)
    shares nothing at n=13 and stays as-is; since r19 it BUILDS on a
    second driver thread (guide §2.6) so its plan construction
    overlaps the g13 checkpoint's synchronous stage materialization
    instead of waiting behind it — disjoint subtrees, identical
    output."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.dedup import (
        _hashed_ngrams,
        bloom_contamination,
        ngram_contamination,
    )
    from data_frame_spark.operators.distributed import ensure_parallelism
    from data_frame_spark.queries import t

    def shared_g13_legs():
        docs = ensure_parallelism(t(spark, sf_dir, "documents"))
        # the ONE shared-builder definition (never an inline rebuild —
        # the legs' contract is "exactly what _hashed_ngrams would build")
        g13 = _hashed_ngrams(docs, "text", "doc_id", 13, "doc_id").localCheckpoint(
            eager=False
        )
        bench_g = g13.where(F.col("doc_id") % 50 == 0)
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return {
            "bloom": bloom_contamination(
                docs, bench, "text", "doc_id", n=13, m_bits=_DECON_BLOOM_M,
                corpus_grams=g13, bench_grams=bench_g,
            ),
            "ngram": ngram_contamination(
                docs, bench, "text", "doc_id", n=13,
                corpus_grams=g13, bench_grams=bench_g,
            ),
        }

    legs, audit = build_parallel(
        spark, shared_g13_legs, lambda: decontamination_leg(spark, sf_dir, "audit")
    )
    legs["audit"] = audit

    def pad(leg: str):
        return legs[leg].select(
            F.lit(leg).alias("facet"),
            *[
                F.col(name)
                if leg in owners
                else F.lit(None)
                .cast({"VARCHAR": "string", "BIGINT": "long",
                       "DOUBLE": "double"}[typ])
                .alias(name)
                for name, typ, owners in _DECON_COLS
            ],
        )

    return pad("bloom").unionByName(pad("ngram")).unionByName(pad("audit"))


#: psi_value_drift fixture contract (r17+ candidate): log-spaced
#: value buckets (8 buckets from 7 edges) over the events value
#: range, user-parity cohorts as the two populations
PSI_EDGES = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]


def psi_oracle_sql(value_scale: int = PSI_VALUE_SCALE) -> str:
    """DuckDB twin of the psi_value_drift candidate
    (operators/drift.py:psi_drift on events: the value distribution
    of the even-user cohort vs the odd-user cohort per event_type,
    fixed log-spaced buckets, add-one smoothing, integer micro-nat
    terms summed — quantize-BEFORE-sum, so the result is order-free
    on both engines). CTE names (pd*/pterm) disjoint from every
    other chain. ``value_scale`` mirrors psi_drift's parameter so a
    registration at a NON-default scale renders a matching twin (r17
    review: the shared default alone only coupled the defaults)."""
    n_b = len(PSI_EDGES) + 1
    bucket = " + ".join(
        f"(CASE WHEN value >= {e} THEN 1 ELSE 0 END)" for e in PSI_EDGES
    )
    return f"""
    WITH pd0 AS (SELECT event_type, value,
                        (user_id % 2 = 0) AS is_ref
                 FROM events
                 WHERE value IS NOT NULL AND NOT isnan(value)),
    pd1 AS (SELECT event_type, is_ref, {bucket} AS b FROM pd0),
    pdc AS (SELECT event_type, b,
                   SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
                   SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
            FROM pd1 GROUP BY 1, 2),
    pdt AS (SELECT event_type, SUM(cr) AS n_ref, SUM(cc) AS n_cmp
            FROM pdc GROUP BY 1),
    pdg AS (SELECT event_type, n_ref, n_cmp,
                   UNNEST(generate_series(0, {n_b - 1})) AS b
            FROM pdt),
    pdj AS (SELECT g.event_type, g.n_ref, g.n_cmp, g.b,
                   COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc
            FROM pdg g LEFT JOIN pdc c
              ON g.event_type = c.event_type AND g.b = c.b),
    pterm AS (SELECT event_type, n_ref, n_cmp,
                     CAST(FLOOR((CAST(cr + 1 AS DOUBLE) / CAST(n_ref + {n_b} AS DOUBLE)
                                 - CAST(cc + 1 AS DOUBLE) / CAST(n_cmp + {n_b} AS DOUBLE))
                                * ln((CAST(cr + 1 AS DOUBLE) / CAST(n_ref + {n_b} AS DOUBLE))
                                     / (CAST(cc + 1 AS DOUBLE) / CAST(n_cmp + {n_b} AS DOUBLE)))
                                * {float(10 ** value_scale)} + 0.5) AS BIGINT) AS tm
              FROM pdj)
    SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cmp AS BIGINT) AS n_cmp,
           CAST(SUM(tm) AS BIGINT) AS psi_micro
    FROM pterm GROUP BY 1, 2, 3
    """


def psi_spark(spark, sf_dir):
    """The Spark side the future psi_value_drift row would use
    verbatim — even-user cohort as the reference population, odd as
    the comparison, per event_type."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.drift import psi_drift
    from data_frame_spark.queries import t

    ev = t(spark, sf_dir, "events").withColumn(
        "cohort",
        F.when(F.col("user_id") % 2 == 0, "ref").otherwise("cmp"),
    )
    return psi_drift(
        ev, "value", "cohort", "ref", "cmp", PSI_EDGES, ["event_type"]
    )


#: Literal snapshot (the event_funnel/decontamination registration
#: motion) of the facet union of the two standalone binary doc-level
#: oracles, printed from the lazy composition while the rows
#: (binary_metadata_docs / byte_features_docs) still existed and
#: byte-identity asserted against it in-session at r17 registration,
#: then frozen here as the single source.
BINARY_FEATURES_FAMILY_ORACLE = """
    WITH meta_leg AS (SELECT * FROM (
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    )),
    features_leg AS (SELECT * FROM (
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
         pos AS (SELECT doc_id, hx, n,
                        UNNEST(generate_series(1, CAST(n AS BIGINT))) AS i
                 FROM b),
         ch AS (SELECT doc_id, n,
                       strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i-1 AS INT), 1)) - 1 AS nib
                FROM pos),
         hist AS (SELECT doc_id, MIN(n) AS n, nib, COUNT(*) AS c
                  FROM ch GROUP BY doc_id, nib),
         feat AS (SELECT doc_id,
                         ROUND(-SUM((CAST(c AS DOUBLE) / n)
                                    * log2(CAST(c AS DOUBLE) / n)), 9)
                           + 0.0 AS entropy
                  FROM hist GROUP BY doc_id, n)
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_bytes,
           COALESCE(feat.entropy, 0.0) AS entropy
    FROM b LEFT JOIN feat ON b.doc_id = feat.doc_id
    ))
    SELECT 'meta' AS facet, doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           content_md5, CAST(NULL AS DOUBLE) AS entropy
    FROM meta_leg
    UNION ALL
    SELECT 'features', doc_id, CAST(n_bytes AS BIGINT),
           CAST(NULL AS VARCHAR), entropy
    FROM features_leg
    """


def binary_features_family_oracle_sql() -> str:
    """Facet union of the binary-metadata and byte-features rows —
    the r17 slot-funding merge (net −1, frees the r18 slot for
    binary_file_ingest; both parents r14-checked + byte_features
    r15-checked, neither in the bench HEADLINE, so the merge costs no
    comparability). Pre-proven as the SPARE r16 candidate. n_bytes is
    the SHARED column, unified to BIGINT in the outer projection (the
    metadata leg's INTEGER widens; values identical)."""
    return BINARY_FEATURES_FAMILY_ORACLE


def binary_features_leg(spark, sf_dir, leg: str):
    """One leg of binary_features_family, pre-union — the two
    standalone bodies (queries.binary_metadata_docs /
    queries.byte_features_docs) moved here verbatim at the r17
    registration (the decontamination_leg motion). Exposed per-leg so
    plan assertions can target each pipeline without the union."""
    if leg not in ("meta", "features"):
        raise ValueError(f"unknown binary_features leg: {leg!r}")

    from pyspark.sql import functions as F

    from data_frame_spark.operators import multimodal as OpMulti
    from data_frame_spark.queries import t

    docs = t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    if leg == "meta":
        out = OpMulti.attach_metadata(docs, "payload")
        return out.select(
            "doc_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.content_md5").alias("content_md5"),
        )
    out = OpMulti.byte_features(docs, "payload")
    return out.select(
        "doc_id", "n_bytes",
        (F.round("entropy", 9) + F.lit(0.0)).alias("entropy"),
    )


def binary_features_family_spark(spark, sf_dir):
    """Spark side of the r17 family row: the retired parents'
    pipelines per-leg (binary_features_leg), n_bytes cast long on the
    metadata leg to the family's unified type."""
    from pyspark.sql import functions as F

    meta = binary_features_leg(spark, sf_dir, "meta").select(
        F.lit("meta").alias("facet"), "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"), "content_md5",
        F.lit(None).cast("double").alias("entropy"),
    )
    feats = binary_features_leg(spark, sf_dir, "features").select(
        F.lit("features").alias("facet"), "doc_id", "n_bytes",
        F.lit(None).cast("string").alias("content_md5"), "entropy",
    )
    return meta.unionByName(feats)


#: the TPC-H order-priority attribute domain — the EXPLICIT pivot
#: value list (bounded by spec, not by data)
PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def pivot_melt_oracle_sql() -> str:
    """DuckDB twin of the future pivot_melt_orders row
    (operators/reshape.py): orders pivoted to a status × priority
    count matrix over the EXPLICIT priority domain, then melted back
    to long — so the twin is simply the domain grid LEFT-joined to
    the grouped counts (absent combinations stay NULL, exactly the
    pivot's empty cells carried through the melt). CTE names (pv_*)
    disjoint from every other chain."""
    vals = ", ".join(f"'{v}'" for v in PIVOT_PRIORITIES)
    return f"""
    WITH pv_s AS (SELECT DISTINCT o_orderstatus FROM orders),
    pv_d AS (SELECT UNNEST([{vals}]) AS o_orderpriority),
    pv_c AS (SELECT o_orderstatus, o_orderpriority,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM orders GROUP BY 1, 2)
    SELECT s.o_orderstatus, d.o_orderpriority, c.n
    FROM pv_s s CROSS JOIN pv_d d
    LEFT JOIN pv_c c USING (o_orderstatus, o_orderpriority)
    """


def pivot_melt_spark(spark, sf_dir):
    """The Spark side of the pivot_melt_orders row (registered r17) —
    pivot to the wide status × priority count matrix (explicit
    bounded domain, collect-free) and melt straight back to long,
    proving the round trip is lossless INCLUDING the empty cells."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.reshape import melt, pivot
    from data_frame_spark.queries import t

    orders = t(spark, sf_dir, "orders")
    wide = pivot(
        orders, ["o_orderstatus"], "o_orderpriority",
        PIVOT_PRIORITIES, F.count(F.lit(1)),
    )
    return melt(
        wide, ["o_orderstatus"], PIVOT_PRIORITIES,
        "o_orderpriority", "n",
    )


#: Literal snapshot (the binary_features/decontamination registration
#: motion) of the facet union of the two standalone fit oracles,
#: printed from the lazy composition while the rows (fits_family v1 /
#: fit_residuals_price_qty) still existed and byte-identity asserted
#: against it in-session at r18 registration, then frozen here as the
#: single source. The moment-vocabulary SQL inside is GENERATED text
#: (queries._fits_sql / _fit_residuals_sql at their final form) --
#: frozen verbatim so the registered oracle can never drift.
FITS_FAMILY_ORACLE = """
    WITH fits_leg AS (SELECT * FROM (
    WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                      CAST(l_extendedprice AS DOUBLE) AS y
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(CAST(SUM(CAST(FLOOR((x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx1, CAST(CAST(SUM(CAST(FLOOR((x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx2, CAST(CAST(SUM(CAST(FLOOR((x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx3, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx4, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx5, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx6, CAST(CAST(SUM(CAST(FLOOR((y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy, CAST(CAST(SUM(CAST(FLOOR((y*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy2, CAST(CAST(SUM(CAST(FLOOR((x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy1, CAST(CAST(SUM(CAST(FLOOR((x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy2, CAST(CAST(SUM(CAST(FLOOR((x*x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy3, CAST(CAST(SUM(CAST(FLOOR((LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx2, CAST(CAST(SUM(CAST(FLOOR((y*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sylnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slxly, CAST(CAST(SUM(CAST(FLOOR((LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slny FROM d),
         ed AS (SELECT (epoch_ns(ts)//1000)/1000000.0/86400.0 AS x,
                       CAST(value AS DOUBLE) AS y
                FROM events WHERE value IS NOT NULL),
         emn AS (SELECT MIN(y) AS miny FROM ed),
         es AS (SELECT x,
                       y + (CASE WHEN emn.miny < 0.1 THEN -emn.miny + 0.1 ELSE 0.0 END) AS y1
                FROM ed CROSS JOIN emn),
         em AS (SELECT CAST(CAST(SUM(CAST(FLOOR((x*x*y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxxy, CAST(CAST(SUM(CAST(FLOOR((x*y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxy,
                       CAST(CAST(SUM(CAST(FLOOR((y1*LN(y1)) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sylny, CAST(CAST(SUM(CAST(FLOOR((x*y1*LN(y1)) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxylny,
                       CAST(CAST(SUM(CAST(FLOOR((y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sey
                FROM es)
    SELECT 'linear' AS kind, ((sy * sx2) - (sx1 * sxy1)) / ((n * sx2) - (sx1 * sx1)) AS c0, ((n * sxy1) - (sy * sx1)) / ((n * sx2) - (sx1 * sx1)) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'log' AS kind, ROUND((sy - ((((n * sylnx) - (sy * slnx)) / ((n * slnx2) - (slnx * slnx))) * slnx)) / n, 6) AS c0, ROUND(((n * sylnx) - (sy * slnx)) / ((n * slnx2) - (slnx * slnx)), 6) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'poly2' AS kind, (((sy * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sxy1 * sx4) - (sx3 * sxy2)))) + (sx2 * ((sxy1 * sx3) - (sx2 * sxy2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c0, (((n * ((sxy1 * sx4) - (sx3 * sxy2))) - (sy * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sxy2) - (sxy1 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c1, (((n * ((sx2 * sxy2) - (sxy1 * sx3))) - (sx1 * ((sx1 * sxy2) - (sxy1 * sx2)))) + (sy * ((sx1 * sx3) - (sx2 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'poly3' AS kind, ((((sy * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sxy1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx5) - (sx4 * sxy3)))))) + (sx2 * (((sxy1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx4) - (sx3 * sxy3)))))) - (sx3 * (((sxy1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sxy2 * sx5) - (sx4 * sxy3)))) + (sx3 * ((sxy2 * sx4) - (sx3 * sxy3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c0, ((((n * (((sxy1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx5) - (sx4 * sxy3))))) - (sy * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sxy3) - (sxy2 * sx3)))))) - (sx3 * (((sx1 * ((sxy2 * sx5) - (sx4 * sxy3))) - (sxy1 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sxy3) - (sxy2 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c1, ((((n * (((sx2 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sxy3) - (sxy2 * sx4))))) - (sx1 * (((sx1 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sxy3) - (sxy2 * sx3)))))) + (sy * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sxy3) - (sxy2 * sx4))) - (sx2 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx4) - (sx3 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c2, ((((n * (((sx2 * ((sx4 * sxy3) - (sxy2 * sx5))) - (sx3 * ((sx3 * sxy3) - (sxy2 * sx4)))) + (sxy1 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sxy3) - (sxy2 * sx5))) - (sx3 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sxy3) - (sxy2 * sx4))) - (sx2 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sy * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'power' AS kind, ROUND(EXP((slny - ((((n * slxly) - (slnx * slny)) / ((n * slnx2) - (slnx * slnx))) * slnx)) / n), 6) AS c0, ROUND(((n * slxly) - (slnx * slny)) / ((n * slnx2) - (slnx * slnx)), 6) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'slr' AS kind, ((sy / n) - ((((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) * SQRT(((sy2 - ((sy * sy) / n)) / (sx2 - ((sx1 * sx1) / n))))) * (sx1 / n))) AS c0, (((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) * SQRT(((sy2 - ((sy * sy) / n)) / (sx2 - ((sx1 * sx1) / n))))) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, ((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) AS r FROM m UNION ALL 
    SELECT 'exp' AS kind,
           ROUND(EXP((sxxy * sylny - sxy * sxylny) / (sey * sxxy - sxy * sxy)), 6) AS c0,
           ROUND((sey * sxylny - sxy * sylny) / (sey * sxxy - sxy * sxy), 6) AS c1,
           ROUND((SELECT CASE WHEN miny < 0.1 THEN miny - 0.1 ELSE 0.0 END FROM emn), 6) AS c2,
           CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r
    FROM em
    
    )),
    residuals_leg AS (SELECT * FROM (
    WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                      CAST(l_extendedprice AS DOUBLE) AS y
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(CAST(SUM(CAST(FLOOR((x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx1, CAST(CAST(SUM(CAST(FLOOR((x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx2, CAST(CAST(SUM(CAST(FLOOR((x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx3, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx4, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx5, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx6, CAST(CAST(SUM(CAST(FLOOR((y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy, CAST(CAST(SUM(CAST(FLOOR((y*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy2, CAST(CAST(SUM(CAST(FLOOR((x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy1, CAST(CAST(SUM(CAST(FLOOR((x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy2, CAST(CAST(SUM(CAST(FLOOR((x*x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy3, CAST(CAST(SUM(CAST(FLOOR((LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx2, CAST(CAST(SUM(CAST(FLOOR((y*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sylnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slxly, CAST(CAST(SUM(CAST(FLOOR((LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slny FROM d),
         a AS (SELECT ((sy * sx2) - (sx1 * sxy1)) / ((n * sx2) - (sx1 * sx1)) AS l0, ((n * sxy1) - (sy * sx1)) / ((n * sx2) - (sx1 * sx1)) AS l1,
                      (((sy * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sxy1 * sx4) - (sx3 * sxy2)))) + (sx2 * ((sxy1 * sx3) - (sx2 * sxy2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q0, (((n * ((sxy1 * sx4) - (sx3 * sxy2))) - (sy * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sxy2) - (sxy1 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q1, (((n * ((sx2 * sxy2) - (sxy1 * sx3))) - (sx1 * ((sx1 * sxy2) - (sxy1 * sx2)))) + (sy * ((sx1 * sx3) - (sx2 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q2 FROM m)
    SELECT 'linear' AS kind, CAST(CAST(SUM(CAST(FLOOR(((y - (l0 + (l1 * x))) * (y - (l0 + (l1 * x)))) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sse,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM d CROSS JOIN a
    UNION ALL
    SELECT 'poly2' AS kind, CAST(CAST(SUM(CAST(FLOOR(((y - ((q0 + (q1 * x)) + ((q2 * x) * x))) * (y - ((q0 + (q1 * x)) + ((q2 * x) * x)))) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sse,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM d CROSS JOIN a
    ))
    SELECT 'fits' AS facet, kind, c0, c1, c2, c3, r,
           CAST(NULL AS DOUBLE) AS sse, CAST(NULL AS BIGINT) AS n_points
    FROM fits_leg
    UNION ALL
    SELECT 'residuals', kind, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           sse, n_points
    FROM residuals_leg
    """


def fits_family_oracle_sql() -> str:
    """Facet union of the former fits_family v1 and
    fit_residuals_price_qty rows — the r18 slot-funding merge
    pre-specced at r17 close (net −1: both parents r16-checked and
    OUTSIDE the bench HEADLINE, so the merge costs no comparability;
    funds binary_file_ingest + psi_value_drift, docs/PLANS.md
    §"Round-18 slot funding"). `kind` is the SHARED column (both legs
    emit per-fit-kind rows); the coefficient columns c0..c3/r are
    NULL on the residuals leg and sse/n_points NULL on the fits leg.
    Returns the FROZEN snapshot (registered r18)."""
    return FITS_FAMILY_ORACLE


def fits_family_spark(spark, sf_dir):
    """Spark side of the r18 candidate — the SHARED-MOMENT form (the
    meanmax shared-ladder precedent): ONE 13-moment scale-4 quantized
    lineitem aggregate feeds BOTH the seven fit rows and the residual
    leg's linear/poly2 coefficients (fit_residuals' own moment set is
    a bit-identical subset — same dsum expressions, same scale), then
    the events exp aggregate and ONE residual aggregate. 3 scans vs
    the naive composition's 4. A/B'd same-session at r17 close
    (min-of-3, sf0.1, outputs asserted bit-identical): shared 3.21 s
    vs composition 3.95 s — the winner is locked in here so the
    parity test exercises the FINAL r18 registration form every suite
    run (docs/PLANS.md §"Round-18 slot funding").

    r19 (guide §2.6): the EVENTS exp-fit collect is independent of
    the lineitem moment chain (the residual aggregate depends on the
    moments, so it stays sequential after them), and the two
    driver-side aggregates serialized; a second driver thread runs
    the exp fit concurrently. Both are exact quantized aggregates —
    scheduling cannot affect any value."""
    import math

    from pyspark.sql import functions as F

    from data_frame_spark.operators import fit as OpFit
    from data_frame_spark.queries import _cramer, _round6, dsum, t

    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    d = li.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    X, Y = F.col("x"), F.col("y")
    # x^k by left-associated repeated multiplication — the identical
    # expression tree both parents (and the oracle) use
    xpow = {1: X}
    for k in range(2, 7):
        xpow[k] = xpow[k - 1] * X
    sparkexpr = {
        "n": F.count(F.lit(1)).cast("double"),
        **{f"sx{k}": dsum(xpow[k], 4) for k in range(1, 7)},
        "sy": dsum(Y, 4),
        "sy2": dsum(Y * Y, 4),
        "sxy1": dsum(X * Y, 4),
        "sxy2": dsum(X * X * Y, 4),
        "sxy3": dsum(X * X * X * Y, 4),
        "slnx": dsum(F.log(X), 4),
        "slnx2": dsum(F.log(X) * F.log(X), 4),
        "sylnx": dsum(Y * F.log(X), 4),
        "slxly": dsum(F.log(X) * F.log(Y), 4),
        "slny": dsum(F.log(Y), 4),
    }
    # the events exp fit shares nothing with the lineitem moments —
    # its collect runs beside the moment collect
    def moments():
        return d.agg(*[e.alias(k) for k, e in sparkexpr.items()]).collect()[0].asDict()

    def exp_fit():
        ev = t(spark, sf_dir, "events").select(
            (F.col("ts_us") / F.lit(1000000.0) / F.lit(86400.0)).alias("x"),
            F.col("value").alias("y"),
        )
        return OpFit.least_squares_fit(ev, "x", "y", mode="exp")

    m, efit = build_parallel(spark, moments, exp_fit)
    mv = [m["n"]] + [m[f"sx{k}"] for k in range(1, 7)]
    rhs = [m["sy"], m["sxy1"], m["sxy2"], m["sxy3"]]
    lin = [num / den for num, den in _cramer(mv[:3], rhs[:2], 1)]
    p2 = [num / den for num, den in _cramer(mv[:5], rhs[:3], 2)]
    p3 = [num / den for num, den in _cramer(mv[:7], rhs[:4], 3)]
    n, sx1, sx2s = m["n"], m["sx1"], m["sx2"]
    covn = m["sxy1"] - ((sx1 * m["sy"]) / n)
    vxn = sx2s - ((sx1 * sx1) / n)
    vyn = m["sy2"] - ((m["sy"] * m["sy"]) / n)
    slr_r = covn / math.sqrt(vxn * vyn)
    slr_b = slr_r * math.sqrt(vyn / vxn)
    slr_a = (m["sy"] / n) - (slr_b * (sx1 / n))
    log_b = ((n * m["sylnx"]) - (m["sy"] * m["slnx"])) / (
        (n * m["slnx2"]) - (m["slnx"] * m["slnx"])
    )
    log_a = (m["sy"] - (log_b * m["slnx"])) / n
    pwr_b = ((n * m["slxly"]) - (m["slnx"] * m["slny"])) / (
        (n * m["slnx2"]) - (m["slnx"] * m["slnx"])
    )
    pwr_a = math.exp((m["slny"] - (pwr_b * m["slnx"])) / n)
    rows = [
        ("linear", lin[0], lin[1], None, None, None),
        ("log", _round6(log_a), _round6(log_b), None, None, None),
        ("poly2", p2[0], p2[1], p2[2], None, None),
        ("poly3", p3[0], p3[1], p3[2], p3[3], None),
        ("power", _round6(pwr_a), _round6(pwr_b), None, None, None),
        ("slr", slr_a, slr_b, None, None, slr_r),
    ]
    ea, eb, ec = efit.coefficients
    rows.append(
        ("exp", _round6(ea), _round6(eb), _round6(float(ec)), None, None)
    )
    fits = local_frame(
        spark,
        rows,
        "kind string, c0 double, c1 double, c2 double, c3 double, r double",
    )
    # residual pass on the SAME collected moments (bit-identical
    # coefficients: fit_residuals' mv[:3]/mv[:5] are built from
    # sx1..sx4 — the identical quantized values)
    rl = Y - (F.lit(lin[0]) + (F.lit(lin[1]) * X))
    rq = Y - ((F.lit(p2[0]) + (F.lit(p2[1]) * X)) + ((F.lit(p2[2]) * X) * X))
    row = d.agg(
        dsum(rl * rl, 4).alias("sl"),
        dsum(rq * rq, 4).alias("sq"),
        F.count(F.lit(1)).alias("np"),
    ).collect()[0]
    res = local_frame(
        spark,
        [("linear", row["sl"], row["np"]), ("poly2", row["sq"], row["np"])],
        "kind string, sse double, n_points long",
    )
    fits_p = fits.select(
        F.lit("fits").alias("facet"), "kind", "c0", "c1", "c2", "c3", "r",
        F.lit(None).cast("double").alias("sse"),
        F.lit(None).cast("long").alias("n_points"),
    )
    res_p = res.select(
        F.lit("residuals").alias("facet"), "kind",
        F.lit(None).cast("double").alias("c0"),
        F.lit(None).cast("double").alias("c1"),
        F.lit(None).cast("double").alias("c2"),
        F.lit(None).cast("double").alias("c3"),
        F.lit(None).cast("double").alias("r"),
        "sse", "n_points",
    )
    return fits_p.unionByName(res_p)


def graph_suite_family_oracle_sql(
    iterations: int = 3, max_hops: int = 3, k: int = 5, rounds: int = 4
) -> str:
    """Facet union of the four graph twins on their shared (node,
    value) shape: 'triangles' and 'kcore_degree' on the
    parts-co-ordered graph (the ``pe`` CTE appears ONCE, via
    _tri_ctes, and feeds both the triangle and the peeling chains),
    'lpa_label' and 'bfs_hops' on the pagerank part<->supplier edges.
    The CTE chains' names are disjoint (pe/tn/tri/pern/tfin vs
    ke*/kd*/kfin vs nodes/l*/c* vs d*/r*). k-core keeps the retired
    kcore row's k=5/rounds=4 contract; LPA/BFS run 3 rounds/hops."""
    body = ",\n    ".join(
        ["WITH " + pagerank_edges_sql().strip().rstrip()]
        + _lpa_ctes(iterations)
        + _bfs_ctes(max_hops)
        + [_tri_ctes()]
        + [_kcore_ctes(k, rounds)]
    )
    return f"""{body}
    SELECT 'triangles' AS facet, node, triangles AS value FROM tfin
    UNION ALL
    SELECT 'lpa_label', node, label FROM l{iterations}
    UNION ALL
    SELECT 'bfs_hops', node, hops FROM d{max_hops}
    UNION ALL
    SELECT 'kcore_degree', node, degree FROM kfin
    """


def graph_suite_family_spark(spark, sf_dir):
    """Spark side of the registered graph_suite_family row: four
    independent facets built concurrently. The triangle and k-core
    facets share ONE canonicalized co-occurrence relation (r19,
    guide §2.3: before, each re-ran the lineitem scan + orderkey
    self-join + distinct internally); the LPA and BFS facets share
    the part<->supplier edge list, MATERIALIZED once (eager
    checkpoint; distinct by construction, so they take it with
    prepared=True). All four outputs share (node, BIGINT value).

    The threads overlap the construction-time jobs (the lazy-
    checkpoint materializations inside the triangle and k-core
    facets) and cost nothing when there is nothing to overlap. Each
    facet's result is integer-exact under any partitioning or
    ordering, and the threads build disjoint DataFrames."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.graph import hop_distances, label_propagation

    und = _part_cooccur_und(spark, sf_dir)
    edges = _part_supplier_edges(spark, sf_dir).localCheckpoint(eager=True)
    seeds = _part_seeds(spark, sf_dir)

    # 3 rounds/hops: per-round latency is job-barrier-bound on the
    # tiny vertex tables, and three rounds already demonstrate
    # multi-hop propagation — a ~20% row-cost trim measured at sf0.1
    def tri_facet():
        return triangle_spark(spark, sf_dir, cooccur_und=und).select(
            F.lit("triangles").alias("facet"), "node",
            F.col("triangles").alias("value"),
        )

    def lpa_facet():
        return label_propagation(edges, iterations=3, prepared=True).select(
            F.lit("lpa_label").alias("facet"), "node",
            F.col("label").alias("value"),
        )

    def bfs_facet():
        return hop_distances(edges, seeds, max_hops=3, prepared=True).select(
            F.lit("bfs_hops").alias("facet"), "node",
            F.col("hops").alias("value"),
        )

    def kcore_facet():
        return kcore_spark(spark, sf_dir, cooccur_und=und).select(
            F.lit("kcore_degree").alias("facet"), "node",
            F.col("degree").alias("value"),
        )

    tri, lpa, bfs, kc = build_parallel(
        spark, tri_facet, lpa_facet, bfs_facet, kcore_facet
    )
    return tri.unionByName(lpa).unionByName(bfs).unionByName(kc)


# ---------------------------------------------------------------------------
# round-15 pre-proofs: slot-funding merges of r13-checked rows
# (docs/PLANS.md §"Round-15 slot funding"). The sub-oracles are
# verbatim copies of the standalone rows' decorated SQL — the copies
# are drift-pinned against queries.ORACLE in tests/test_oracle_prep.py
# while both exist; at registration the standalone rows retire and
# these become the single source.
# ---------------------------------------------------------------------------

_FUNNEL_7D_US = 7 * 86400 * 1000000


#: Literal snapshot of the family oracle exactly as drift-pinned
#: against the three standalone rows' r13-green SQL (the
#: registration motion in docs/PLANS.md: printed from the lazy
#: composition while funnel_conversion_events /
#: retention_cohorts_events / clicks_to_purchases_events still
#: existed, then frozen here as the single source).
EVENT_FUNNEL_FAMILY_ORACLE = """\

    WITH funnel_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tsn
               FROM events),
    
    w1a AS (SELECT user_id, event_type, tsn,
                  MIN(CASE WHEN event_type = 'view' THEN tsn END)
                    OVER (PARTITION BY user_id) AS t1
           FROM e),
    w2a AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                               AND tsn > t1  THEN tsn END)
                       OVER (PARTITION BY user_id) AS t2
           FROM w1a),
    w3a AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                               AND tsn > t2  THEN tsn END)
                       OVER (PARTITION BY user_id) AS t3
           FROM w2a),
    ua AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
          FROM w3a GROUP BY user_id),
    
    w1b AS (SELECT user_id, event_type, tsn,
                  MIN(CASE WHEN event_type = 'view' THEN tsn END)
                    OVER (PARTITION BY user_id) AS t1
           FROM e),
    w2b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                               AND tsn > t1 AND tsn <= t1 + 604800000000 THEN tsn END)
                       OVER (PARTITION BY user_id) AS t2
           FROM w1b),
    w3b AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                               AND tsn > t2 AND tsn <= t2 + 604800000000 THEN tsn END)
                       OVER (PARTITION BY user_id) AS t3
           FROM w2b),
    ub AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
          FROM w3b GROUP BY user_id)
    
    SELECT 'all' AS facet, user_id % 8 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(t2 - t1) AS BIGINT) AS view_to_click_us,
           CAST(SUM(t3 - t2) AS BIGINT) AS click_to_purchase_us
    FROM ua GROUP BY user_id % 8
    UNION ALL
    
    SELECT '7d' AS facet, user_id % 8 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(t2 - t1) AS BIGINT) AS view_to_click_us,
           CAST(SUM(t3 - t2) AS BIGINT) AS click_to_purchase_us
    FROM ub GROUP BY user_id % 8
    )),
    retention_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, (epoch_ns(ts)//1000) // 604800000000 AS wk
               FROM events),
    a AS (SELECT DISTINCT user_id, wk FROM e),
    c AS (SELECT user_id, wk,
                 MIN(wk) OVER (PARTITION BY user_id) AS cohort
          FROM a),
    g AS (SELECT cohort, wk - cohort AS wk_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM c GROUP BY cohort, wk - cohort),
    s AS (SELECT *, MAX(CASE WHEN wk_offset = 0 THEN n_users END)
                      OVER (PARTITION BY cohort) AS cohort_size
          FROM g)
    SELECT cohort AS cohort_week, wk_offset, n_users, cohort_size,
           n_users * 1000000 // cohort_size AS retention_micro
    FROM s
    )),
    attrib_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_ns(ts)//1000 AS ts_us
               FROM events),
    c AS (SELECT user_id, event_id AS click_id, ts_us AS click_us
          FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us, value
          FROM e WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           p.purchase_us//1000000 - c.click_us//1000000 AS lag_seconds,
           CAST(FLOOR(p.value * 1e6 + 0.5) AS BIGINT) AS purchase_value_micro
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_us >= c.click_us
     AND p.purchase_us <= c.click_us + 1800000000
    ))
    SELECT facet AS facet,
           cohort,
           n_users,
           n_view,
           n_click,
           n_purchase,
           view_to_click_us,
           click_to_purchase_us,
           CAST(NULL AS BIGINT) AS cohort_week,
           CAST(NULL AS BIGINT) AS wk_offset,
           CAST(NULL AS BIGINT) AS cohort_size,
           CAST(NULL AS BIGINT) AS retention_micro,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS lag_seconds,
           CAST(NULL AS BIGINT) AS purchase_value_micro
    FROM funnel_leg
    UNION ALL
    SELECT 'retention' AS facet,
           CAST(NULL AS BIGINT) AS cohort,
           n_users,
           CAST(NULL AS BIGINT) AS n_view,
           CAST(NULL AS BIGINT) AS n_click,
           CAST(NULL AS BIGINT) AS n_purchase,
           CAST(NULL AS BIGINT) AS view_to_click_us,
           CAST(NULL AS BIGINT) AS click_to_purchase_us,
           cohort_week,
           wk_offset,
           cohort_size,
           retention_micro,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS lag_seconds,
           CAST(NULL AS BIGINT) AS purchase_value_micro
    FROM retention_leg
    UNION ALL
    SELECT 'attrib' AS facet,
           CAST(NULL AS BIGINT) AS cohort,
           CAST(NULL AS BIGINT) AS n_users,
           CAST(NULL AS BIGINT) AS n_view,
           CAST(NULL AS BIGINT) AS n_click,
           CAST(NULL AS BIGINT) AS n_purchase,
           CAST(NULL AS BIGINT) AS view_to_click_us,
           CAST(NULL AS BIGINT) AS click_to_purchase_us,
           CAST(NULL AS BIGINT) AS cohort_week,
           CAST(NULL AS BIGINT) AS wk_offset,
           CAST(NULL AS BIGINT) AS cohort_size,
           CAST(NULL AS BIGINT) AS retention_micro,
           user_id,
           click_id,
           purchase_id,
           lag_seconds,
           purchase_value_micro
    FROM attrib_leg
    """


def event_funnel_family_oracle_sql() -> str:
    """Facet union of the three r13-checked event-analytics oracles
    on one NULL-superset schema (every data column BIGINT, nullable
    on both engines) — registered r15 (slot-funding merge, net −2).
    Funnel rows keep their own 'all'/'7d' facet values; the other
    legs tag 'retention' / 'attrib'."""
    return EVENT_FUNNEL_FAMILY_ORACLE


#: the NULL-superset column plan: (name, producing leg). `facet` is
#: computed; n_users is SHARED by the funnel and retention legs.
_EVENT_FUNNEL_COLS = [
    ("cohort", {"funnel"}),
    ("n_users", {"funnel", "retention"}),
    ("n_view", {"funnel"}),
    ("n_click", {"funnel"}),
    ("n_purchase", {"funnel"}),
    ("view_to_click_us", {"funnel"}),
    ("click_to_purchase_us", {"funnel"}),
    ("cohort_week", {"retention"}),
    ("wk_offset", {"retention"}),
    ("cohort_size", {"retention"}),
    ("retention_micro", {"retention"}),
    ("user_id", {"attrib"}),
    ("click_id", {"attrib"}),
    ("purchase_id", {"attrib"}),
    ("lag_seconds", {"attrib"}),
    ("purchase_value_micro", {"attrib"}),
]


def event_funnel_leg(spark, sf_dir, leg: str):
    """One leg of event_funnel_family, pre-union — the three
    standalone bodies moved here verbatim at registration. Exposed
    per-leg so the plan pins (tests/test_misc_ops.py) keep asserting
    each leg's own shuffle budget, not the union's sum.

    - 'funnel': funnel_steps 'all'/'7d' facets per 8-way user cohort.
    - 'retention': the collect_set weekly retention matrix.
    - 'attrib': the 30-minute click->purchase interval join."""
    from pyspark.sql import Window, functions as F

    from data_frame_spark.operators import window as OpWindow
    from data_frame_spark.queries import t
    from data_frame_spark.streaming.joins import clicks_to_purchases

    ev = t(spark, sf_dir, "events")

    if leg == "funnel":
        def funnel_facet(name: str, within):
            stepped = OpWindow.funnel_steps(
                ev.select("user_id", "event_type", F.col("ts_us").alias("tsn")),
                steps=["view", "click", "purchase"],
                entity_col="user_id", type_col="event_type", ts_col="tsn",
                within=within,
            )
            u = stepped.groupBy("user_id").agg(
                F.min("t1").alias("t1"), F.min("t2").alias("t2"),
                F.min("t3").alias("t3"),
            )
            return (
                u.groupBy((F.col("user_id") % 8).alias("cohort"))
                .agg(
                    F.count(F.lit(1)).alias("n_users"),
                    F.sum(F.when(F.col("t1").isNotNull(), 1).otherwise(0)).alias(
                        "n_view"
                    ),
                    F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0)).alias(
                        "n_click"
                    ),
                    F.sum(F.when(F.col("t3").isNotNull(), 1).otherwise(0)).alias(
                        "n_purchase"
                    ),
                    F.sum(F.col("t2") - F.col("t1")).alias("view_to_click_us"),
                    F.sum(F.col("t3") - F.col("t2")).alias("click_to_purchase_us"),
                )
                .select(F.lit(name).alias("facet"), "*")
            )

        return funnel_facet("all", None).unionAll(
            funnel_facet("7d", _FUNNEL_7D_US)
        )

    if leg == "retention":
        wk = F.expr("ts_us div 604800000000")
        peruser = (
            ev.select("user_id", wk.alias("wk"))
            .groupBy("user_id")
            .agg(F.collect_set("wk").alias("wks"))
        )
        c = peruser.select(
            F.array_min("wks").alias("cohort"), F.explode("wks").alias("wk")
        )
        g = c.groupBy(
            F.col("cohort"), (F.col("wk") - F.col("cohort")).alias("wk_offset")
        ).agg(F.count(F.lit(1)).alias("n_users"))
        return (
            g.withColumn(
                "cohort_size",
                F.max(F.when(F.col("wk_offset") == 0, F.col("n_users"))).over(
                    Window.partitionBy("cohort")
                ),
            )
            .select(
                F.lit("retention").alias("facet"),
                F.col("cohort").alias("cohort_week"),
                "wk_offset",
                "n_users",
                "cohort_size",
                F.expr("n_users * 1000000 div cohort_size").alias(
                    "retention_micro"
                ),
            )
        )

    if leg == "attrib":
        return clicks_to_purchases(ev, within="30 minutes").select(
            F.lit("attrib").alias("facet"),
            "user_id",
            "click_id",
            "purchase_id",
            "lag_seconds",
            F.floor(F.col("purchase_value") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("purchase_value_micro"),
        )

    raise ValueError(f"unknown event_funnel leg: {leg!r}")


def event_funnel_family_spark(spark, sf_dir):
    """Spark side of the registered event_funnel_family row: the three
    standalone pipelines (funnel_steps 'all'/'7d' facets, the
    collect_set retention matrix, the 30-minute click->purchase
    interval join), facet-unioned with typed-NULL superset columns
    matching the oracle."""
    from pyspark.sql import functions as F

    funnel = event_funnel_leg(spark, sf_dir, "funnel")
    retention = event_funnel_leg(spark, sf_dir, "retention")
    attrib = event_funnel_leg(spark, sf_dir, "attrib")

    nb = F.lit(None).cast("long")

    def pad(df, leg):
        # NULL-pad by the SAME owner sets the oracle projects from —
        # padding by df.columns would let a leg accidentally carrying
        # a same-named extra column pass real values where the oracle
        # emits NULL (round-14 review)
        return df.select(
            "facet",
            *[
                F.col(name) if leg in owners else nb.alias(name)
                for name, owners in _EVENT_FUNNEL_COLS
            ],
        )

    return (
        pad(funnel, "funnel")
        .unionByName(pad(retention, "retention"))
        .unionByName(pad(attrib, "attrib"))
    )


#: Literal snapshot (same registration motion) of the facet union of
#: the mean-max ladder row and the spline interpolation row, exactly
#: the pair that was green in CORRECTNESS_r13.
MEANMAX_CURVE_FAMILY_ORACLE = """\

    WITH mm_leg AS (SELECT * FROM (
    WITH pts AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y
                 FROM events WHERE value IS NOT NULL),
         s AS (SELECT x, y,
                      (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                      LEAD(x) OVER w AS nx
               FROM pts WINDOW w AS (ORDER BY x)),
         a AS (SELECT x, nx,
                      COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING), 0) / 1000000.0 AS A,
                      MAX(x) OVER () AS xmax
               FROM s),
         d AS (SELECT CAST(UNNEST([60, 300, 900, 3600, 14400, 86400]) AS DOUBLE) AS duration),
         probes AS (SELECT a.x AS pos, d.duration, a.A AS A_start,
                           a.x + d.duration AS k
                    FROM a CROSS JOIN d
                    WHERE a.nx IS NOT NULL AND a.x + d.duration <= a.xmax),
         back AS (SELECT p.pos, p.duration, p.A_start, p.k, b.x AS x0, b.A AS A0
                  FROM probes p ASOF LEFT JOIN a b ON p.k >= b.x),
         fwd AS (SELECT p.pos, p.duration, b.x AS x1, b.A AS A1
                 FROM probes p ASOF LEFT JOIN a b ON p.k < b.x),
         m AS (SELECT back.duration, back.pos,
                      (CASE WHEN fwd.x1 IS NULL OR fwd.x1 = back.x0 THEN back.A0
                            ELSE back.A0 + (back.k - back.x0)/(fwd.x1 - back.x0)
                                           *(fwd.A1 - back.A0) END
                       - back.A_start) / back.duration AS mean
               FROM back JOIN fwd
                 ON back.pos = fwd.pos AND back.duration = fwd.duration),
         r AS (SELECT duration, pos, mean,
                      ROW_NUMBER() OVER (PARTITION BY duration
                                         ORDER BY mean DESC, pos ASC) AS rk
               FROM m),
         ri AS (SELECT duration, pos, mean,
                       ROW_NUMBER() OVER (PARTITION BY duration
                                          ORDER BY mean ASC, pos ASC) AS rk
                FROM m WHERE duration IN (3600.0, 86400.0))
    SELECT duration, mean AS best_mean, pos, FALSE AS inverted
    FROM r WHERE rk = 1
    UNION ALL
    SELECT duration, mean AS best_mean, pos, TRUE AS inverted
    FROM ri WHERE rk = 1
    )),
    spline_leg AS (SELECT * FROM (
    WITH pts AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y
                 FROM events WHERE value IS NOT NULL),
         s AS (SELECT x, y,
                      (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                      LEAD(x) OVER w AS nx
               FROM pts WINDOW w AS (ORDER BY x)),
         a AS (SELECT x, nx,
                      COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING), 0) / 1000000.0 AS A,
                      MAX(x) OVER () AS xmax
               FROM s),
         d AS (SELECT CAST(UNNEST([60, 300, 900, 3600, 14400]) AS DOUBLE) AS duration),
         probes AS (SELECT a.x AS pos, d.duration, a.A AS A_start,
                           a.x + d.duration AS k
                    FROM a CROSS JOIN d
                    WHERE a.nx IS NOT NULL AND a.x + d.duration <= a.xmax),
         back AS (SELECT p.pos, p.duration, p.A_start, p.k, b.x AS x0, b.A AS A0
                  FROM probes p ASOF LEFT JOIN a b ON p.k >= b.x),
         fwd AS (SELECT p.pos, p.duration, b.x AS x1, b.A AS A1
                 FROM probes p ASOF LEFT JOIN a b ON p.k < b.x),
         mm AS (SELECT back.duration, back.pos,
                      (CASE WHEN fwd.x1 IS NULL OR fwd.x1 = back.x0 THEN back.A0
                            ELSE back.A0 + (back.k - back.x0)/(fwd.x1 - back.x0)
                                           *(fwd.A1 - back.A0) END
                       - back.A_start) / back.duration AS mean
               FROM back JOIN fwd
                 ON back.pos = fwd.pos AND back.duration = fwd.duration),
         best AS (SELECT duration, mean,
                      ROW_NUMBER() OVER (PARTITION BY duration
                                         ORDER BY mean DESC, pos ASC) AS rk
               FROM mm),
         knots AS (SELECT
            MAX(CASE WHEN duration = 60.0 THEN mean END) AS y0, MAX(CASE WHEN duration = 300.0 THEN mean END) AS y1, MAX(CASE WHEN duration = 900.0 THEN mean END) AS y2, MAX(CASE WHEN duration = 3600.0 THEN mean END) AS y3, MAX(CASE WHEN duration = 14400.0 THEN mean END) AS y4
            FROM best WHERE rk = 1)
    SELECT 90.0 AS duration, ROUND(((0.875 * y0) + (0.125 * y1) + (((-0.205078125 * 0.0) + (-0.123046875 * ((0.0006160943704741883 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-5.83975706610605e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (5.83975706610605e-06 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 9600.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 450.0 AS duration, ROUND(((0.75 * y1) + (0.25 * y2) + (((-0.328125 * ((0.0006160943704741883 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-5.83975706610605e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (5.83975706610605e-06 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.234375 * ((-5.83975706610605e-05 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (0.0001635131978509694 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (-1.635131978509694e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 60000.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 1800.0 AS duration, ROUND(((0.6666666666666666 * y2) + (0.3333333333333333 * y3) + (((-0.3703703703703704 * ((-5.83975706610605e-05 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (0.0001635131978509694 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (-1.635131978509694e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.2962962962962963 * ((5.83975706610605e-06 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-1.635131978509694e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (3.867216901554673e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 1215000.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 7200.0 AS duration, ROUND(((0.6666666666666666 * y3) + (0.3333333333333333 * y4) + (((-0.3703703703703704 * ((5.83975706610605e-06 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-1.635131978509694e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (3.867216901554673e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.2962962962962963 * 0.0)) * 19440000.0)), 6) AS interpolated_mean FROM knots))
    SELECT 'mm' AS facet, duration, best_mean, pos, inverted,
           CAST(NULL AS DOUBLE) AS interpolated_mean
    FROM mm_leg
    UNION ALL
    SELECT 'spline', duration, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BOOLEAN), interpolated_mean
    FROM spline_leg
    """


def meanmax_curve_family_oracle_sql() -> str:
    """Facet union of the mean-max ladder row and the spline
    interpolation row — registered r15 (slot-funding merge, net −1).
    Superset columns: duration is shared; best_mean/pos/inverted are
    mm-only; interpolated_mean spline-only (all nullable on both
    engines)."""
    return MEANMAX_CURVE_FAMILY_ORACLE


def meanmax_curve_ladder(spark, sf_dir):
    """The SHARED mean-max ladder both facets of meanmax_curve_family
    read, PRE-checkpoint — exposed so tests/test_plans.py can pin the
    ladder's own window plan (the registered row checkpoints it,
    which truncates the lineage the partitionless walk needs)."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators import meanmax as OpMM
    from data_frame_spark.queries import _MM_DURS, t

    ev = t(spark, sf_dir, "events").withColumn(
        "x", F.col("ts_us") / F.lit(1000000.0)
    )
    return OpMM.mean_max(
        ev, "value", "x", durations=_MM_DURS, slice_scale=6,
        inverted_durations=[3600, 86400],
    )


def meanmax_curve_family_spark(spark, sf_dir):
    """Spark side of the registered meanmax_curve_family row: ONE
    mean-max ladder (full duration set + inverted facet), eagerly
    checkpointed (a durations-sized table), feeds BOTH facets — the
    'mm' rows directly, and the 'spline' knots as the
    inverted=false subset at the knot durations. The r13 standalone
    rows built the ladder twice (the spline row refit its own
    5-duration ladder); since the per-duration winners are computed
    independently and integer-exactly, the subset read is
    bit-identical to the dedicated build — proven by the unchanged
    snapshot oracle AND a same-session A/B at sf0.1 (shared 5.36 s
    vs two-ladders 8.92 s, min-of-3, identical outputs —
    docs/PLANS.md §"Round-15 meanmax shared ladder")."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators import spline as OpSpline
    from data_frame_spark.queries import _SPLINE_KNOTS, _SPLINE_PROBES

    mm = meanmax_curve_ladder(spark, sf_dir).localCheckpoint(eager=False)
    mm_facet = mm.select(
        F.lit("mm").alias("facet"), "duration", "best_mean", "pos", "inverted",
        F.lit(None).cast("double").alias("interpolated_mean"),
    )
    knots = mm.where(
        (~F.col("inverted"))
        & F.col("duration").isin([float(x) for x in _SPLINE_KNOTS])
    )
    sp = OpSpline.fit_spline(knots, "duration", "best_mean")
    probes = local_frame(spark, [(s,) for s in _SPLINE_PROBES], "duration double")
    spline = probes.select(
        F.lit("spline").alias("facet"), "duration",
        F.lit(None).cast("double").alias("best_mean"),
        F.lit(None).cast("double").alias("pos"),
        F.lit(None).cast("boolean").alias("inverted"),
        F.round(sp.predict(F.col("duration")), 6).alias("interpolated_mean"),
    )
    return mm_facet.unionByName(spline)


def sssp_edges_sql() -> str:
    """The WEIGHTED part<->supplier graph both engines use for the
    shortest-paths twin: per distinct (part, supplier) pair the
    cheapest observed lineitem extended price in exact cents, both
    directions. CTE names (sw/we) disjoint from every other chain."""
    return f"""
    sw AS MATERIALIZED (
      SELECT CAST(l_partkey AS BIGINT) AS src,
             CAST(l_suppkey + {PAGERANK_SUPP_OFFSET} AS BIGINT) AS dst,
             CAST(MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    we AS MATERIALIZED (SELECT src, dst, w FROM sw
          UNION ALL SELECT dst AS src, src AS dst, w FROM sw)
    """


def sssp_oracle_sql(max_rounds: int = 4) -> str:
    """DuckDB twin of ``operators/graph.py:shortest_paths`` on the
    weighted part<->supplier graph, seeds = every-100th part: the
    bounded Bellman-Ford min-plus relaxation unrolled into chained
    CTE pairs (the bfs recipe with the weight riding the edge row).
    CTE names (sd*/sr*) disjoint from every other chain."""
    if max_rounds < 0:
        raise ValueError("sssp_oracle_sql needs max_rounds >= 0")
    parts = ["WITH " + sssp_edges_sql().strip().rstrip()] + _sssp_ctes(max_rounds)
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, dist FROM sd{max_rounds}"


def _sssp_ctes(max_rounds: int) -> list[str]:
    """The weighted relaxation chain (assumes ``we`` is in scope) —
    shared by sssp_oracle_sql and any future graph-family facet."""
    parts = [
        """sd0 AS MATERIALIZED (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS dist
      FROM lineitem WHERE l_partkey % 100 = 0)""",
    ]
    for k in range(1, max_rounds + 1):
        parts.append(
            f"""sr{k} AS (SELECT e.dst AS node, MIN(d.dist + e.w) AS dist
            FROM we e JOIN sd{k - 1} d ON d.node = e.src
            GROUP BY e.dst),
    sd{k} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      FROM (SELECT node, dist FROM sd{k - 1}
            UNION ALL SELECT node, dist FROM sr{k})
      GROUP BY node)"""
        )
    return parts


def sssp_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim —
    cheapest-cents weighted edges (both directions) through
    operators/graph.py:shortest_paths, every-100th-part seeds."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.graph import shortest_paths

    li = load_table(spark, sf_dir, "lineitem")
    sw = (
        li.groupBy(
            F.col("l_partkey").cast("long").alias("src"),
            (F.col("l_suppkey") + PAGERANK_SUPP_OFFSET).cast("long").alias("dst"),
        )
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("w")
        )
    )
    we = sw.unionAll(
        sw.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return shortest_paths(we, _part_seeds(spark, sf_dir), max_rounds=4)


def scd2_oracle_sql() -> str:
    """DuckDB twin of ``operators/scd.py:scd2_apply`` on the customer
    dimension: the snapshot is version ts=0 per customer; the update
    batch is one row per (customer, order day) carrying
    MAX(o_orderpriority) as the new segment value (deterministic
    same-ts collapse); windows replay the same (ts, tracked) total
    order, LAG change filter and LEAD effective dating."""
    return """
    WITH scd_base AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
             CAST(0 AS BIGINT) AS ts
      FROM customer),
    scd_ups AS (
      SELECT CAST(o_custkey AS BIGINT) AS k, MAX(o_orderpriority) AS seg,
             epoch_ns(o_orderdate)//1000 AS ts
      FROM orders GROUP BY o_custkey, o_orderdate),
    scd_v AS (SELECT * FROM scd_base UNION ALL SELECT * FROM scd_ups),
    scd_chg AS (
      SELECT k, seg, ts,
             LAG(seg) OVER (PARTITION BY k ORDER BY ts, seg) AS prev
      FROM scd_v),
    scd_kept AS (
      SELECT k, seg, ts FROM scd_chg WHERE prev IS NULL OR prev <> seg)
    SELECT k AS c_custkey, seg AS c_mktsegment,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, seg) AS valid_to,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, seg) IS NULL
               AS is_current
    FROM scd_kept
    """


def scd2_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim —
    customer snapshot + per-(customer, order-day) MAX-priority update
    batch through operators/scd.py:scd2_apply."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.scd import scd2_apply
    from data_frame_spark.queries import t

    # t() pins session timezone UTC, so the TIMESTAMP_NTZ ->
    # timestamp cast below extracts the same epoch micros DuckDB's
    # epoch_ns sees (the load_table events recipe)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ups = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderpriority").alias("c_mktsegment"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_mktsegment",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        )
    )
    return scd2_apply(
        cust, ups, "c_custkey", ["c_mktsegment"], "ts", snapshot_ts=0
    )


#: Literal snapshot (same registration motion) of the row-range
#: slice + equal-range facet union, exactly the r13-green pair.
INDEX_OPS_FAMILY_ORACLE = """\

    WITH slice_leg AS (SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos
      FROM lineitem)
    WHERE pos >= 100 AND pos < 120
    )),
    er_leg AS (SELECT * FROM (
    SELECT l_quantity, COUNT(*) AS n, MIN(l_orderkey) AS first_key
    FROM lineitem WHERE l_quantity IN (1.0, 25.0, 50.0)
    GROUP BY l_quantity
    ))
    SELECT 'slice' AS facet, l_orderkey, l_linenumber, l_quantity,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS first_key
    FROM slice_leg
    UNION ALL
    SELECT 'equal_range', CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           l_quantity, n, first_key
    FROM er_leg
    """


def index_ops_family_oracle_sql() -> str:
    """Facet union of the row-range slice and equal-range rows —
    registered r15 (slot-funding merge, net −1). l_quantity is the
    SHARED column (slice row value / equal-range group key);
    n/first_key equal-range-only, l_orderkey/l_linenumber slice-only,
    all nullable on both engines via the facet union."""
    return INDEX_OPS_FAMILY_ORACLE


def index_ops_family_spark(spark, sf_dir):
    """Spark side of the registered index_ops_family row: the two
    standalone bodies moved here verbatim at registration (the same
    snapshot motion as the leg SQL — pre-registration this reused the
    then-registered rows, so neither leg could drift):

    - 'slice': #:start/#:stop row-range semantics
      (/root/reference/private/df.rkt:811-818) over the frame's
      declared order via operators/window.py:row_range.
    - 'equal_range': df-equal-range / df-all-indices-of
      (/root/reference/private/df.rkt:450-465) — the duplicate-run of
      a key value, as a filter+group."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators import window as OpWindow
    from data_frame_spark.queries import t

    li = t(spark, sf_dir, "lineitem")
    nb = F.lit(None).cast("long")
    sl = OpWindow.row_range(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        ["l_orderkey", "l_linenumber"], 100, 120,
    ).select(
        F.lit("slice").alias("facet"),
        "l_orderkey", "l_linenumber", "l_quantity",
        nb.alias("n"), nb.alias("first_key"),
    )
    er = (
        li.where(F.col("l_quantity").isin(1.0, 25.0, 50.0))
        .groupBy("l_quantity")
        .agg(F.count(F.lit(1)).alias("n"), F.min("l_orderkey").alias("first_key"))
        .select(
            F.lit("equal_range").alias("facet"),
            nb.alias("l_orderkey"),
            F.lit(None).cast("int").alias("l_linenumber"),
            "l_quantity", "n", "first_key",
        )
    )
    return sl.unionByName(er)


def png_bytes(width: int, height: int) -> bytes:
    """Minimal VALID 8-bit grayscale PNG (signature + IHDR + one
    zlib-compressed IDAT of zero scanlines + IEND, all CRCs real) —
    the deterministic synthetic-image builder shared by the corpus
    prep row and the multimodal tests. Loud-validation stance
    (mp4_bytes): the builder must never emit contract-violating bytes
    or kill an executor task."""
    import struct
    import zlib

    width, height = int(width), int(height)
    if not (1 <= width <= 0xFFFF and 1 <= height <= 0xFFFF):
        raise ValueError("png_bytes needs 1 <= width/height <= 65535")

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            len(payload).to_bytes(4, "big") + typ + payload
            + zlib.crc32(typ + payload).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * width) * height  # filter 0 + zero pixels
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 1))
        + chunk(b"IEND", b"")
    )


def jpeg_bytes(width: int, height: int, n_channels: int = 3) -> bytes:
    """Minimal JPEG HEADER STREAM (SOI + JFIF APP0 + SOF0 + EOI) —
    structurally valid for metadata walkers (which read dimensions
    from the first SOF segment, the image_metadata contract); carries
    no entropy-coded scan, so it is a metadata fixture, not a
    renderable image (documented, the multimodal PIL stance)."""
    width, height, n_channels = int(width), int(height), int(n_channels)
    if not (1 <= width <= 0xFFFF and 1 <= height <= 0xFFFF):
        raise ValueError("jpeg_bytes needs 1 <= width/height <= 65535")
    if not (1 <= n_channels <= 4):
        raise ValueError("jpeg_bytes needs 1 <= n_channels <= 4")
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([n_channels])
    for c in range(n_channels):
        sof += bytes([c + 1, 0x11, 0])  # id, 1x1 sampling, quant table 0
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + (2 + len(app0)).to_bytes(2, "big") + app0
        + b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
        + b"\xff\xd9"
    )


def image_corpus_oracle_sql() -> str:
    """DuckDB twin of the future image_corpus_features row: per-user
    image metadata computed straight from the events slice the Spark
    side turns into REAL payloads (even users a valid zlib/CRC PNG,
    odd users a JFIF+SOF0 header stream -> image_metadata's stdlib
    walkers). Disjoint event slice (event_id % 3 = 1) from the wav
    (= 2) and video (= 0) corpus rows. All-integer outputs with the
    outer-BIGINT-cast discipline."""
    return """
    WITH x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events WHERE event_id % 3 = 1
               GROUP BY user_id)
    SELECT user_id AS doc_id,
           CASE WHEN user_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(16 + n % 240 AS BIGINT) AS width,
           CAST(16 + user_id % 100 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
               AS n_channels,
           TRUE AS ok
    FROM x
    """


def image_corpus_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim: one
    synthetic image per user built WITHOUT leaving the cluster
    (mapInPandas over per-user event counts packs PNG containers for
    even users, JPEG header streams for odd), then parsed back
    through the REAL stdlib walkers (multimodal.image_metadata)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_frame_spark.operators.multimodal import image_metadata

    counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def build(batches):
        for pdf in batches:
            payloads = []
            for u, n in zip(pdf["user_id"], pdf["n"]):
                u, n = int(u), int(n)
                w, h = 16 + n % 240, 16 + u % 100
                payloads.append(
                    png_bytes(w, h) if u % 2 == 0 else jpeg_bytes(w, h, 3)
                )
            yield pd.DataFrame(
                {"user_id": pdf["user_id"].astype("int64"), "payload": payloads}
            )

    docs = counts.mapInPandas(build, schema="user_id long, payload binary")
    return image_metadata(docs, "payload", "user_id")


def table_diff_oracle_sql() -> str:
    """DuckDB twin of ``operators/scd.py:table_diff`` on the customer
    dimension vs a deterministically drifted snapshot: custkey % 11 = 0
    rows removed, % 7 = 0 rows re-segmented, supplier-derived rows
    (key-offset into a disjoint id space) added. Full-outer join +
    NULL-safe classify, unchanged keys dropped."""
    return """
    WITH td_old AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
      FROM customer),
    td_new AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN 'RESEGMENTED' ELSE seg END AS seg
      FROM td_old WHERE k % 11 <> 0
      UNION ALL
      SELECT CAST(s_suppkey + 10000000 AS BIGINT), 'SUPPLIER'
      FROM supplier),
    j AS (
      SELECT COALESCE(o.k, n.k) AS c_custkey,
             o.seg AS old_seg, n.seg AS new_seg,
             o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new
      FROM td_old o FULL OUTER JOIN td_new n ON o.k = n.k)
    SELECT c_custkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN old_seg IS DISTINCT FROM new_seg THEN 'changed'
           END AS change,
           old_seg AS old_c_mktsegment, new_seg AS new_c_mktsegment
    FROM j
    WHERE (CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN old_seg IS DISTINCT FROM new_seg THEN 'changed'
           END) IS NOT NULL
    """


def table_diff_spark(spark, sf_dir):
    """The Spark side the future registry row will use verbatim —
    the same drifted snapshot through operators/scd.py:table_diff."""
    from pyspark.sql import functions as F

    from data_frame_spark.operators.scd import table_diff

    old = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment"
    )
    new = old.where(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("RESEGMENTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    ).unionByName(
        load_table(spark, sf_dir, "supplier").select(
            (F.col("s_suppkey") + 10_000_000).cast("long").alias("c_custkey"),
            F.lit("SUPPLIER").alias("c_mktsegment"),
        )
    )
    return table_diff(old, new, ["c_custkey"], ["c_mktsegment"])


def ppr_oracle_sql(iterations: int = 4) -> str:
    """DuckDB twin of personalized PageRank (``pagerank`` with
    ``seeds=``) on the part<->supplier graph, seeds = every-100th
    part: the pagerank replay with the restart base and initial mass
    paid only to seeds. CTE names (pnodes/pp*/pc*) disjoint from the
    classic chain (nodes/r*/c*)."""
    if iterations < 1:
        raise ValueError("ppr_oracle_sql needs >= 1 iteration")
    parts = [
        "WITH " + pagerank_edges_sql().strip().rstrip(),
        f"""pnodes AS MATERIALIZED (
      SELECT node,
             CASE WHEN node % 100 = 0 AND node < {PAGERANK_SUPP_OFFSET}
                  THEN CAST(150000 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS base,
             CASE WHEN node % 100 = 0 AND node < {PAGERANK_SUPP_OFFSET}
                  THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS init
      FROM (SELECT DISTINCT src AS node FROM e
            UNION SELECT DISTINCT dst FROM e)),
    pdeg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    pp0 AS (SELECT node, init AS r FROM pnodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""pc{i} AS (SELECT e.dst AS node, SUM(r.r // g.d) AS s
           FROM e JOIN pdeg g USING (src)
                  JOIN pp{i - 1} r ON r.node = e.src
           GROUP BY e.dst),
    pp{i} AS (SELECT n.node,
                    CAST(n.base + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
             FROM pnodes n LEFT JOIN pc{i} c USING (node))"""
        )
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, r AS rank_micro FROM pp{iterations}"


def ppr_spark(spark, sf_dir):
    """The Spark side a future registry row will use verbatim —
    seed-restart pagerank on the shared fixture edges, every-100th
    part seeds (the BFS seed set: parts only, hence the
    ``node < 1000000`` guard in the oracle's seed predicate — the
    supplier offset keeps seed arithmetic unambiguous)."""
    from data_frame_spark.operators.graph import pagerank

    return pagerank(
        _part_supplier_edges(spark, sf_dir),
        iterations=4,
        seeds=_part_seeds(spark, sf_dir),
    )


