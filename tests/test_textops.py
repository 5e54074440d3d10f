from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators import text as T
from data_frame_spark.operators import dedup as D
from data_frame_spark.operators import similarity as SIM
from data_frame_spark.plans import checks as C


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the  QUICK  brown fox jumps over the lazy dog"),  # exact after norm
        (4, "completely different content about spark engines"),
        (5, "der hund und die katze sind nicht da ich bin hier mit sich"),
        (6, "le chat et les chiens est une belle chose pour dans la maison"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_normalize_and_tokens(spark, docs):
    out = docs.select(T.normalize(F.col("text")).alias("n")).collect()
    assert out[2]["n"] == "the quick brown fox jumps over the lazy dog"
    cnt = docs.select(T.token_count(F.col("text")).alias("c")).collect()
    assert cnt[0]["c"] == 9


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    rows = df.select(T.word_shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == ["a b"]  # shorter than n -> whole text


def test_exact_dedup_normalized(spark, docs):
    groups = D.exact_dedup_keys(docs, "text", "doc_id")
    dups = groups.where(F.col("dup_count") > 1).collect()
    assert len(dups) == 1 and dups[0]["keep_id"] == 1  # docs 1 and 3


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = D.minhash_dedup(docs, "text", "doc_id", num_hashes=16, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got  # exact dup always collides
    assert (1, 2) in got or (2, 3) in got  # near-dup should collide in >=1 band
    assert (1, 4) not in got and (4, 5) not in got


def test_ngram_jaccard_values(spark, docs):
    pairs = spark.createDataFrame([(1, 3), (1, 4)], ["id_a", "id_b"])
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard(docs, pairs, "text", "doc_id").collect()}
    assert j[(1, 3)] == pytest.approx(1.0)
    assert j[(1, 4)] == 0.0


def test_simhash_similarity(spark, docs):
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, "text", "doc_id").collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sig[1], sig[3]) == 0  # identical after normalization
    assert hamming(sig[1], sig[2]) < hamming(sig[1], sig[5])


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in T.lang_id(docs, "text").collect()}
    assert out[1] == "en" and out[5] == "de" and out[6] == "fr"


def test_quality_score_ranges(spark, docs):
    out = T.quality_score(docs, "text")
    rows = out.collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_fingerprint_stability(spark, docs):
    fp = docs.select(T.fingerprint(F.col("text")).alias("fp"), "doc_id").collect()
    by_id = {r["doc_id"]: r["fp"] for r in fp}
    assert by_id[1] == by_id[3]
    assert by_id[1] != by_id[2]


def test_winnowed_fingerprints(spark, docs):
    out = docs.select("doc_id", T.winnowed_fingerprints(F.col("text"), 3, 2).alias("w")).collect()
    by_id = {r["doc_id"]: set(r["w"]) for r in out}
    # near-dups share most fingerprints; unrelated docs share none
    assert by_id[1] & by_id[2]
    assert not (by_id[1] & by_id[4])


def test_cosine_topk_exact(spark):
    base = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.1, 0.0, 0.0])], ["query_id", "embedding"]
    )
    out = SIM.cosine_topk(base, queries, k=2).collect()
    assert out[0]["vec_id"] == 0 and out[0]["rank"] == 1
    assert out[0]["cosine"] == pytest.approx(1 / (1.01**0.5) * 1.0, rel=1e-6)


def test_lsh_ann_recall_on_exact_match(spark):
    import random

    rng = random.Random(5)
    base_rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    base = spark.createDataFrame(base_rows, ["vec_id", "embedding"])
    # query = an existing vector: must find itself in its own bucket
    queries = spark.createDataFrame(
        [(0, base_rows[17][1])], ["query_id", "embedding"]
    )
    out = SIM.lsh_ann_topk(base, queries, dim=16, k=3, num_planes=6).collect()
    assert out and out[0]["vec_id"] == 17
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_embedding_near_dup(spark):
    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    out = SIM.embedding_near_dup(df, dim=4, threshold=0.99, num_planes=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got and (1, 3) not in got


def test_multi_probe_recall_at_k(spark):
    """Multi-probe LSH recall@k vs exact cosine top-k: probing the
    smallest-margin bit-flip buckets must dominate single-probe
    recall and reach a usable absolute level."""
    import random

    rng = random.Random(11)
    dim, n, k = 16, 300, 5
    base_rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    base = spark.createDataFrame(base_rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(q, base_rows[q * 29][1]) for q in range(8)], ["query_id", "embedding"]
    )

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topsets(SIM.cosine_topk(base, queries, k=k))
    single = topsets(SIM.lsh_ann_topk(base, queries, dim=dim, k=k, num_planes=6))
    multi = topsets(
        SIM.lsh_ann_topk(base, queries, dim=dim, k=k, num_planes=6, num_probes=5)
    )

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hits / (len(exact) * k)

    r1, r5 = recall(single), recall(multi)
    assert r5 >= r1, f"multi-probe recall {r5} < single-probe {r1}"
    assert r5 >= 0.5, f"multi-probe recall too low: {r5}"


def test_multi_probe_near_dup_superset(spark):
    """Multi-probe near-dup candidates are a superset of single-probe
    pairs (Hamming<=1 includes Hamming 0)."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + rng.uniform(-0.01, 0.01) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    p1 = {(r["id_a"], r["id_b"]) for r in
          SIM.embedding_near_dup(df, dim=8, threshold=0.95, num_planes=5).collect()}
    p3 = {(r["id_a"], r["id_b"]) for r in
          SIM.embedding_near_dup(df, dim=8, threshold=0.95, num_planes=5,
                                 num_probes=4).collect()}
    assert p1 <= p3
    assert len(p3) > len(p1)  # the planted twins straddling one plane get found


def test_ivf_topk_recall(spark):
    """IVF coarse quantizer + n_probe cell scan: finds the exact
    vector for a known query and reaches usable recall@k vs the
    exact scan."""
    import random

    rng = random.Random(7)
    dim, n, k = 12, 240, 5
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(q, rows[q * 31][1]) for q in range(6)], ["query_id", "embedding"]
    )
    exact = {}
    for r in SIM.cosine_topk(base, queries, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    out = SIM.ivf_topk(base, queries, dim=dim, k=k, n_cells=8, n_probe=3)
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    # self-match: the query IS a base vector and must appear at rank 1
    for q in range(6):
        assert q * 31 in got[q]
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    assert hits / (len(exact) * k) >= 0.5


def test_ivf_centroids_layout_independent(spark):
    # quantized integer Lloyd (round 7): identical centroids under ANY
    # partitioning — the old float-avg means depended on partial-sum
    # order, so a different cluster layout could shift cells by ulps
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(5)]) for i in range(60)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1 = SIM.ivf_fit_centroids(base.coalesce(1), dim=5, k=4, iterations=2)
    c2 = SIM.ivf_fit_centroids(base.repartition(7), dim=5, k=4, iterations=2)
    assert c1 == c2


def test_ivf_centroids_deterministic(spark):
    rows = [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1 = SIM.ivf_fit_centroids(base, dim=3, k=4, iterations=1)
    c2 = SIM.ivf_fit_centroids(base, dim=3, k=4, iterations=1)
    assert c1 == c2  # md5-seeded, no rand() anywhere


def test_ngram_contamination(spark):
    """Decontamination by 13-gram collision: a training doc sharing a
    verbatim 13-token span with a benchmark doc is flagged; disjoint
    docs are not; short docs fall back to whole-text match."""
    span = " ".join(f"w{i}" for i in range(13))
    corpus = spark.createDataFrame(
        [
            (1, f"prefix text {span} suffix text here"),
            (2, "totally unrelated content with no overlap at all " * 3),
            (3, "short doc"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, f"the benchmark asks about {span} in context"),
         (101, "short doc")],
        ["doc_id", "text"],
    )
    out = D.ngram_contamination(corpus, bench, n=13)
    got = {(r["doc_id"], r["bench_id"]): r["shared_ngrams"] for r in out.collect()}
    assert (1, 100) in got
    assert not any(d == 2 for d, _ in got)
    assert (3, 101) in got  # whole-text fallback for sub-n docs


def test_ngram_contamination_join_strategies_agree(spark):
    # the broadcast knob must change ONLY the physical join, never the
    # result: True / False / 'auto' all produce the same pairs
    span = " ".join(f"w{i}" for i in range(13))
    corpus = spark.createDataFrame(
        [(1, f"a b c {span} d e"), (2, "no overlap here at all " * 4)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(9, f"x {span} y")], ["doc_id", "text"])
    key = lambda df: sorted(map(tuple, df.collect()))
    expected = key(D.ngram_contamination(corpus, bench, n=13, broadcast=True))
    assert key(D.ngram_contamination(corpus, bench, n=13, broadcast=False)) == expected
    assert key(D.ngram_contamination(corpus, bench, n=13, broadcast="auto")) == expected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="broadcast"):
        D.ngram_contamination(corpus, bench, n=13, broadcast="yes")


def test_split_contamination_audit_operator(spark):
    # the reusable split-audit: leaked 5-gram between train and test
    # is flagged pair-level and rolls up per source; val is ignored
    span = " ".join(f"t{i}" for i in range(5))
    df = spark.createDataFrame(
        [
            (1, f"begin {span} end", "train", "web"),
            (2, "clean training text with nothing shared", "train", "web"),
            (3, f"eval question about {span} here", "test", "web"),
            (4, f"val doc also has {span} inside", "val", "web"),
            (5, "unrelated eval document entirely", "test", "books"),
        ],
        ["doc_id", "text", "split", "source"],
    )
    from data_frame_spark.operators.dedup import split_contamination_audit

    pairs = {
        (r["doc_id"], r["bench_id"])
        for r in split_contamination_audit(df, "text", "doc_id", "split", n=5).collect()
    }
    # only train(1) x test(3) share the span; the val doc never joins
    assert pairs == {(1, 3)}
    roll = split_contamination_audit(
        df, "text", "doc_id", "split", n=5, rollup_col="source"
    ).collect()
    assert len(roll) == 1 and roll[0]["source"] == "web"
    assert roll[0]["n_contaminated_docs"] == 1
    assert roll[0]["n_bench_docs_hit"] == 1


def test_split_contamination_audit_broadcast_free(spark):
    # both audit sides are corpus-proportional: the plan must contain
    # no BroadcastExchange even when size stats would allow one
    from data_frame_spark.operators.dedup import split_contamination_audit
    from data_frame_spark.plans import checks as C

    df = spark.createDataFrame(
        [(i, f"doc {i} body text {' '.join(str(j) for j in range(6))}",
          "train" if i % 2 else "test", "s")
         for i in range(20)],
        ["doc_id", "text", "split", "source"],
    )
    with C.scale_planner(spark):
        out = split_contamination_audit(df, "text", "doc_id", "split", n=5)
        plan = C.simple_plan(out)
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan


def test_duplicate_spans_semantics(spark):
    # ExactSubstr at k-token granularity: doc 1 and doc 2 share the
    # span "a b c d e f" -> every 4-window inside it is duplicated
    # and the three overlapping windows merge into ONE maximal span
    # [0, 6); doc 3 is clean; doc 4 is shorter than k and skipped
    from data_frame_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f unique tail one"),
            (2, "different head a b c d e f"),
            (3, "totally clean document body here"),
            (4, "a b c"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_spans(df, "text", "doc_id", k=4).collect()
    }
    assert out[1] == (0, 6, 3)   # windows at 0,1,2 merge -> [0, 6)
    assert out[2] == (2, 8, 3)   # same span at offset 2
    assert 3 not in out and 4 not in out


def test_duplicate_spans_self_repeat_and_gap(spark):
    # occurrences count self-repeats within one document, and
    # disjoint duplicated regions stay separate islands
    from data_frame_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "x y z q mid mid mid x y z q end")],
        ["doc_id", "text"],
    )
    # "x y z q" occurs twice within the same doc (pos 0 and pos 7)
    rows = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "text", "doc_id", k=4).collect()
    )
    assert rows == [(0, 4), (7, 11)]


def test_duplicate_spans_keep_first(spark):
    # keep-one-copy policy: the first occurrence by (id, pos) of each
    # duplicated window is NOT flagged — scrubbing deletes every copy
    # except one; combined with scrub_spans, doc 1 keeps the span and
    # doc 2 loses it
    from data_frame_spark.operators.dedup import duplicate_spans, scrub_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f unique tail one"),
            (2, "different head a b c d e f"),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_spans(df, "text", "doc_id", k=4, keep_first=True)
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in spans.collect()
    }
    assert out == {2: (2, 8)}       # doc 1's copy survives unflagged
    scrubbed = {
        r["doc_id"]: r["kept_text"]
        for r in scrub_spans(df, spans, "text", "doc_id").collect()
    }
    assert scrubbed[1] == "a b c d e f unique tail one"
    assert scrubbed[2] == "different head"


def test_duplicate_spans_keep_first_self_repeat(spark):
    # within one document, the first of a self-repeated window is kept
    from data_frame_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "x y z q mid mid mid x y z q end")], ["doc_id", "text"]
    )
    rows = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "text", "doc_id", k=4, keep_first=True).collect()
    )
    assert rows == [(7, 11)]        # pos-0 copy survives


def test_duplicate_spans_broadcast_free_at_scale(spark):
    # the duplicated-hash set is corpus-proportional: the mark-back
    # must be a shuffle semi-join, never a broadcast
    from data_frame_spark.operators.dedup import duplicate_spans
    from data_frame_spark.plans import checks as C

    df = spark.createDataFrame(
        [(i, f"w{i} " * 8) for i in range(12)], ["doc_id", "text"]
    )
    with C.scale_planner(spark):
        out = duplicate_spans(df, "text", "doc_id", k=4)
        plan = C.simple_plan(out)
        assert not C.data_sized_partitionless_windows(out)
    assert "BroadcastExchange" not in plan


def test_scrub_spans_semantics(spark):
    # cut the flagged region, keep order; span-free docs pass whole;
    # a fully-covered doc comes back empty, not missing
    from data_frame_spark.operators.dedup import duplicate_spans, scrub_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f unique tail one"),
            (2, "different head a b c d e f"),
            (3, "totally clean document body here"),
            (4, "a b c d e f"),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_spans(df, "text", "doc_id", k=4)
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["kept_text"])
        for r in scrub_spans(df, spans, "text", "doc_id").collect()
    }
    assert out[1] == (9, 3, "unique tail one")
    assert out[2] == (8, 2, "different head")
    assert out[3] == (5, 5, "totally clean document body here")
    assert out[4] == (6, 0, "")        # whole doc duplicated -> empty
    assert len(out) == 4               # nothing dropped


def test_scrub_spans_arbitrary_span_table(spark):
    # works with any span table (PII spans etc), including
    # overlapping spans — covered tokens are removed once
    from data_frame_spark.operators.dedup import scrub_spans

    df = spark.createDataFrame([(7, "t0 t1 t2 t3 t4 t5")], ["doc_id", "text"])
    spans = spark.createDataFrame(
        [(7, 1, 3), (7, 2, 5)], "doc_id long, span_start long, span_end long"
    )
    r = scrub_spans(df, spans, "text", "doc_id").collect()[0]
    assert (r["n_tokens"], r["n_kept"], r["kept_text"]) == (6, 2, "t0 t5")


def test_repetition_features(spark):
    rows = [
        # 4 lines, 'same' repeated 3x -> 2 duplicate lines -> 0.5;
        # tokens: same same same other -> bigram 'same same' 2/3
        (1, "same\nsame\nsame\nother"),
        # no repetition at all
        (2, "alpha beta gamma\ndelta"),
        # generation loop: 'go go go go go' -> top bigram 'go go' 4/4
        (3, "go go go go go"),
        # single token / single line -> both 0
        (4, "one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in T.repetition_features(df).collect()
    }
    assert out[1]["dup_line_fraction"] == pytest.approx(0.5)
    assert out[1]["top_bigram_fraction"] == pytest.approx(2 / 3)
    assert out[2]["dup_line_fraction"] == 0.0
    assert out[2]["top_bigram_fraction"] == pytest.approx(1 / 3)
    assert out[3]["top_bigram_fraction"] == pytest.approx(1.0)
    assert out[4]["dup_line_fraction"] == 0.0
    assert out[4]["top_bigram_fraction"] == 0.0


def test_lsh_bucket_size_cap(spark):
    # production skew guard: a hot band bucket (here: many copies of
    # one template) is dropped from pair generation when it exceeds
    # max_bucket_size; distinct documents keep their pairs
    rows = [(i, "common boilerplate template text repeated everywhere") for i in range(20)]
    rows += [(100, "a unique document about spark physical plans and shuffles"),
             (101, "a unique document about spark physical plans and shuffles")]
    # built through Arrow: the local relation carries an exact (tiny)
    # size estimate, as a checkpointed corpus relation does, so the
    # planner would broadcast-elect an unpinned join
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = D.minhash_signatures(df, "text", "doc_id", num_hashes=8)
    uncapped = D.lsh_candidate_pairs(sigs, "doc_id", 8, 4).count()
    capped = D.lsh_candidate_pairs(sigs, "doc_id", 8, 4, max_bucket_size=5)
    # the guard join's sides are both explode-derived and corpus-sized:
    # no broadcast election, whatever the estimate says
    assert "BroadcastHashJoin" not in C.simple_plan(capped)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 20-document template bucket (190 pairs x bands) is dropped...
    assert uncapped >= 190
    # ...but the small distinct-pair bucket survives
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)


def test_redact_pii_patterns(spark):
    from data_frame_spark.operators.text import redact

    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 and 10.0.0.255 no mail"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact(df, "text").collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert "<EMAIL>" in got[1]["redacted_text"]
    assert "<PHONE>" in got[1]["redacted_text"]
    assert "example.co.uk" not in got[1]["redacted_text"]
    assert got[2]["n_ipv4"] == 2
    assert got[2]["redacted_text"].count("<IPV4>") == 2
    assert got[3]["redacted_text"] == got[3]["text"]
    assert got[3]["n_email"] == got[3]["n_phone"] == got[3]["n_ipv4"] == 0


def test_redact_custom_denylist_counts(spark):
    from data_frame_spark.operators.text import redact

    df = spark.createDataFrame(
        [(1, "spark and sparkle and spark again")], "doc_id long, text string"
    )
    got = redact(df, "text", {"banned": r"\bspark\b"}).collect()[0]
    # \b keeps 'sparkle' intact; both bare 'spark's are scrubbed
    assert got["n_banned"] == 2
    assert got["redacted_text"] == "<BANNED> and sparkle and <BANNED> again"


def test_gopher_repetition_fractions(spark):
    from data_frame_spark.operators.text import gopher_repetition, gopher_keep

    df = spark.createDataFrame(
        [
            # "a b" occurs 3x (overlapping counts); text = "a b a b a b"
            # len 11; top-2gram "a b" run of 3 occurrences x len 3 = 9
            (1, "a b a b a b"),
            # 30 distinct short words: every gram unique -> dup = 0
            # and every top-gram mass is a tiny fraction of the doc
            (2, " ".join(f"w{i}" for i in range(30))),
            # "x y z w v" repeated verbatim: the 5-gram "x y z w v"
            # occurs twice (positions 1 and 6), plus every bridging
            # 5-gram once -> dup mass = 2 * 9 = 18; len = 19
            (3, "x y z w v x y z w v"),
            (4, ""),  # empty doc: all fractions 0, kept
            (5, "solo"),  # < n tokens for every n: fractions 0
        ],
        "doc_id long, text string",
    )
    out = gopher_keep(gopher_repetition(df, "text"))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["top_2gram_frac"] == pytest.approx(9 / 11)
    assert not got[1]["keep"]
    assert got[2]["dup_5gram_frac"] == 0.0
    assert got[2]["keep"]
    assert got[3]["dup_5gram_frac"] == pytest.approx(18 / 19)
    assert not got[3]["keep"]
    assert got[4]["top_2gram_frac"] == 0.0 and got[4]["keep"]
    assert got[5]["top_2gram_frac"] == 0.0 and got[5]["keep"]


def test_gopher_top_gram_tie_breaks_to_smallest(spark):
    from data_frame_spark.operators.text import gopher_repetition

    # "b c" and "c b" both occur twice; the smaller gram "b c" wins,
    # mass = 2 * 3 = 6 over len 11
    df = spark.createDataFrame([(1, "b c b c b c")], "doc_id long, text string")
    # grams: "b c" x3, "c b" x2 -> top is "b c" by count alone here;
    # force a true tie instead:
    df2 = spark.createDataFrame([(2, "d a d a")], "doc_id long, text string")
    # grams: "d a" x2, "a d" x1 -> no tie. Construct a tie: "a b c a b"
    df3 = spark.createDataFrame([(3, "a b c a b")], "doc_id long, text string")
    # grams: "a b" x2, "b c" x1, "c a" x1 -> top "a b" mass 6 over len 9
    out = gopher_repetition(df3, "text").collect()[0]
    assert out["top_2gram_frac"] == pytest.approx(6 / 9)


def test_dedup_segments_first_occurrence_wins(spark):
    # doc 1 owns both segments; doc 2 repeats doc 1's first segment
    # (dropped) plus a fresh one (kept); doc 3 is entirely dups ->
    # empty kept_text
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.dedup_segments(df, "text", "doc_id", seg_tokens=3).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["kept_text"] == "a b c d e f"
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["kept_text"] == "x y z"
    assert out[3]["n_segments"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["kept_text"] == ""


def test_dedup_segments_within_doc_dups(spark):
    # a segment repeated INSIDE one document keeps only its first copy
    df = spark.createDataFrame(
        [(7, "p q r p q r tail")], "doc_id long, text string"
    )
    out = D.dedup_segments(df, "text", "doc_id", seg_tokens=3).collect()[0]
    assert out["n_segments"] == 3 and out["n_kept"] == 2
    assert out["kept_text"] == "p q r tail"


def test_bloom_contamination_gate(spark):
    # doc 20 shares its full 13-gram span with bench doc 0; doc 21 is
    # clean. The bloom gate must have NO false negatives (exact hits
    # are always bloom candidates) and the accounting must add up.
    span = " ".join(f"tok{i}" for i in range(13))
    rows = [
        (0, span + " bench tail words here"),
        (20, "prefix words " + span),
        (21, " ".join(f"other{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where(F.col("doc_id") == 0)
    corpus = df.where(F.col("doc_id") >= 20)
    out = {r["doc_id"]: r for r in
           D.bloom_contamination(corpus, bench, "text", "doc_id").collect()}
    assert out[20]["exact_hits"] >= 1
    assert out[21]["exact_hits"] == 0
    for r in out.values():
        assert r["bloom_candidates"] >= r["exact_hits"]
        assert r["bloom_false_positives"] == r["bloom_candidates"] - r["exact_hits"]


def test_label_centroids_exact_mean(spark):
    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, 0, [3.0, 6.0]),
            (3, 1, [5.0, 5.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = {(r["label"], r["dim_idx"]): r
           for r in SIM.label_centroids(df, "embedding", "label").collect()}
    assert out[(0, 1)]["centroid"] == pytest.approx(2.0)
    assert out[(0, 2)]["centroid"] == pytest.approx(4.0)
    assert out[(1, 1)]["centroid"] == pytest.approx(5.0)
    assert out[(0, 1)]["n_vectors"] == 2 and out[(1, 1)]["n_vectors"] == 1


def test_unigram_lm_nll_hand_computed(spark):
    import math

    from data_frame_spark.operators.text import unigram_lm_nll

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           unigram_lm_nll(docs, "text", "doc_id", vocab_size=10).collect()}
    # counts: a=2 b=2 c=1, N=5, V=3, denom=9
    nll = {tok: math.floor(-math.log((c + 1) / 9.0) * 1e6 + 0.5)
           for tok, c in (("a", 2), ("b", 2), ("c", 1))}
    assert out[1]["nll_micro"] == 2 * nll["a"] + nll["b"]
    assert out[1]["n_tokens"] == 3
    assert out[2]["nll_micro"] == nll["b"] + nll["c"]
    assert out[1]["avg_nll_micro"] == out[1]["nll_micro"] // 3


def test_unigram_lm_oov_collapses_to_unk(spark):
    import math

    from data_frame_spark.operators.text import unigram_lm_nll

    # vocab_size=1 keeps only the most frequent token ('a', ties by
    # name); 'b' and 'c' both score as the SAME unk type
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a a a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["nll_micro"] for r in
           unigram_lm_nll(docs, "text", "doc_id", vocab_size=1).collect()}
    # N=8, V=1, denom=10, c_a=6, c_unk=2
    nll_a = math.floor(-math.log(7 / 10.0) * 1e6 + 0.5)
    nll_u = math.floor(-math.log(3 / 10.0) * 1e6 + 0.5)
    assert out[1] == 3 * nll_a + nll_u
    assert out[1] == out[2]  # b and c are indistinguishable as unk


def test_unigram_lm_gibberish_scores_higher(spark):
    from data_frame_spark.operators.text import unigram_lm_nll

    common = "the cat sat on the mat and the dog ran"
    docs = spark.createDataFrame(
        [(i, common) for i in range(20)] + [(99, "zq xv qqj wp zzk vvx qpz jjw js kk")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_nll_micro"] for r in
           unigram_lm_nll(docs, "text", "doc_id").collect()}
    assert out[99] > 2 * out[0]  # rare-token doc diverges hard


def test_collocations_hand_computed_pmi(spark):
    import math

    from data_frame_spark.operators.text import collocations

    # 'new york' always adjacent; 'the the' frequent but independent
    docs = spark.createDataFrame(
        [(0, "new york " + "the " * 8)] * 6, "doc_id long, text string"
    )
    out = {(r["w1"], r["w2"]): (r["pair_count"], r["pmi_micro"])
           for r in collocations(docs, "text", min_count=5, top_k=10).collect()}
    # per doc: tokens = [new, york, the*8] (10 tokens, 9 bigrams)
    # bigrams: (new,york) x1, (york,the) x1, (the,the) x7 -> x6 docs
    nu, nb = 60, 54
    def pmi(cxy, cx, cy):
        return math.floor(
            math.log((cxy / nb) / ((cx / nu) * (cy / nu))) * 1e6 + 0.5
        )
    assert out[("new", "york")] == (6, pmi(6, 6, 6))
    assert out[("the", "the")] == (42, pmi(42, 48, 48))
    # always-together rare pair scores far above the frequent pair
    assert out[("new", "york")][1] > out[("the", "the")][1]


def test_collocations_min_count_filter(spark):
    from data_frame_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "c d c d c d c d c d")], "doc_id long, text string"
    )
    got = {(r["w1"], r["w2"]) for r in
           collocations(docs, "text", min_count=5, top_k=10).collect()}
    assert ("a", "b") not in got          # count 1 < 5
    assert ("c", "d") in got              # count 5


# ---------------------------------------------------------------------------
# bigram LM NLL
# ---------------------------------------------------------------------------


def test_bigram_lm_nll_hand_computed(spark):
    import math

    from data_frame_spark.operators.text import bigram_lm_nll

    # corpus: two docs, vocab covers everything (V = 2: 'a', 'b')
    # doc 1 pairs: (<s>,a) (a,b) (b,a) (a,b)   doc 2 pairs: (<s>,b) (b,a)
    df = spark.createDataFrame([(1, "a b a b"), (2, "b a")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bigram_lm_nll(df, "text", "doc_id", vocab_size=10).collect()}
    cb = {("<s>", "a"): 1, ("a", "b"): 2, ("b", "a"): 2, ("<s>", "b"): 1}
    cc = {"<s>": 2, "a": 2, "b": 2}
    V = 2

    def t(prev, cur):
        p = (cb.get((prev, cur), 0) + 1) / (cc[prev] + V + 1)
        return math.floor(-math.log(p) * 1e6 + 0.5)

    assert rows[1]["n_tokens"] == 4
    assert rows[1]["nll_micro"] == t("<s>", "a") + t("a", "b") + t("b", "a") + t("a", "b")
    assert rows[2]["n_tokens"] == 2
    assert rows[2]["nll_micro"] == t("<s>", "b") + t("b", "a")


def test_bigram_lm_detects_word_salad_unigram_cannot(spark):
    from data_frame_spark.operators.text import bigram_lm_nll, unigram_lm_nll

    # same unigram profile, scrambled order: the bigram LM must
    # separate them; the unigram LM cannot (identical multiset)
    coherent = " ".join(["the cat sat on the mat"] * 20)
    salad = " ".join(["the the cat on sat mat"] * 20)
    filler = [(i + 10, " ".join(["the cat sat on the mat"] * 5)) for i in range(20)]
    df = spark.createDataFrame(
        [(1, coherent), (2, salad)] + filler, "doc_id long, text string"
    )
    bi = {r["doc_id"]: r["avg_nll_micro"] for r in
          bigram_lm_nll(df, "text", "doc_id", vocab_size=100).collect()}
    un = {r["doc_id"]: r["avg_nll_micro"] for r in
          unigram_lm_nll(df, "text", "doc_id", vocab_size=100).collect()}
    assert un[1] == un[2]          # unigram is blind to order
    assert bi[1] < bi[2]           # bigram is not


def test_semantic_dedup_keep_first_and_layout_independent(spark):
    # SemDeDup: a planted exact duplicate lands in the SAME cell
    # (identical vector -> identical assignment), scores cosine 1.0,
    # and the HIGHER id is the one dropped (keep-first); the keep
    # decisions are layout-independent (quantized-integer contract).
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows.append((100, list(rows[5][1])))  # exact dup of vec 5
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r
        for r in SIM.semantic_dedup(
            base, dim=8, threshold=0.99, n_cells=4, iterations=1
        ).collect()
    }
    assert len(out) == 61  # one row per vector
    assert out[5]["kept"] is True  # lower id survives
    assert out[100]["kept"] is False and out[100]["n_dups"] >= 1
    assert out[5]["cell"] == out[100]["cell"]
    o2 = {
        r["vec_id"]: (r["cell"], r["kept"], r["n_dups"])
        for r in SIM.semantic_dedup(
            base.repartition(7), dim=8, threshold=0.99, n_cells=4, iterations=1
        ).collect()
    }
    assert o2 == {k: (v["cell"], v["kept"], v["n_dups"]) for k, v in out.items()}
    # a wrong-length vector fails loudly (fit guard fires first)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    short = spark.createDataFrame([(999, [0.1] * 6)], ["vec_id", "embedding"])
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="expected 8 dims, got 6"
    ):
        SIM.semantic_dedup(
            base.union(short), dim=8, threshold=0.99, n_cells=4, iterations=1
        ).collect()


def test_pq_fit_layout_independent_and_deterministic(spark):
    # integer-Lloyd per subspace: identical codebooks under any
    # partitioning (same exactness contract as the IVF fit)
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b1 = SIM.pq_fit(base.coalesce(1), dim=8, m=2, k=4, iterations=2, micro=True)
    b2 = SIM.pq_fit(base.repartition(7), dim=8, m=2, k=4, iterations=2, micro=True)
    assert b1 == b2
    assert len(b1) == 2 and len(b1[0]) == 4 and len(b1[0][0]) == 4
    with pytest.raises(ValueError):
        SIM.pq_fit(base, dim=8, m=3)


def test_pq_encode_matches_numpy_argmin(spark):
    import random

    import numpy as np

    rng = random.Random(3)
    dim, m, sub = 6, 3, 2
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(50)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = SIM.pq_fit(base, dim=dim, m=m, k=4, iterations=1, micro=True)
    got = {r["vec_id"]: list(r["codes"]) for r in
           SIM.pq_encode(base, books).collect()}
    for vid, vec in rows:
        vq = np.floor(np.array(vec, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
        want = []
        for j in range(m):
            s = vq[j * sub:(j + 1) * sub]
            d = [int(((s - np.array(c, dtype=np.int64)) ** 2).sum())
                 for c in books[j]]
            want.append(d.index(min(d)))  # ties -> smaller cid
        assert got[vid] == want, vid


def test_pq_adc_topk_exact_integer_distances_and_recall(spark):
    import random

    import numpy as np

    rng = random.Random(5)
    dim, m, sub, k = 12, 3, 4, 5
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(150)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(q, rows[q * 17][1]) for q in range(5)], ["query_id", "embedding"]
    )
    books = SIM.pq_fit(base, dim=dim, m=m, k=8, iterations=2, micro=True)
    codes = SIM.pq_encode(base, books)
    out = SIM.pq_adc_topk(codes, queries, books, k=k).collect()
    # distances must equal the numpy integer ADC exactly
    code_map = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for r in out:
        qvec = np.floor(
            np.array(rows[r["query_id"] * 17][1], dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        want = 0
        for j in range(m):
            c = np.array(books[j][code_map[r["vec_id"]][j]], dtype=np.int64)
            want += int(((qvec[j * sub:(j + 1) * sub] - c) ** 2).sum())
        assert r["adc_dist_micro2"] == want
    # ranks are 1..k per query, and recall vs the exact L2 scan is usable
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for q, rs in per_q.items():
        assert sorted(rk for rk, _ in rs) == list(range(1, k + 1))
    allv = np.array([v for _, v in rows], dtype=np.float64)
    hits = 0
    for q in range(5):
        qv = np.array(rows[q * 17][1], dtype=np.float64)
        exact = set(np.argsort(((allv - qv) ** 2).sum(axis=1),
                               kind="stable")[:k].tolist())
        got = {v for _, v in per_q[q]}
        hits += len(exact & got)
    assert hits / (5 * k) >= 0.4


def test_pq_rejects_float_codebooks_and_wrong_dims(spark):
    # the two silent-garbage inputs must fail LOUDLY: float codebooks
    # (pq_fit's default micro=False output would truncate every
    # component to 0 via int()) and vectors whose length differs from
    # the fitted m*sub (slice would drop tail dims; zip_with would
    # null-pad short ones)
    import random

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    float_books = SIM.pq_fit(base, dim=8, m=2, k=4, iterations=1)  # micro=False
    with pytest.raises(TypeError, match="MICRO integer form"):
        SIM.pq_encode(base, float_books)
    with pytest.raises(TypeError, match="MICRO integer form"):
        SIM.pq_adc_topk(base.select("vec_id"), base, float_books)
    with pytest.raises(ValueError, match="ragged"):
        SIM.pq_encode(base, [[[1, 2], [3, 4]], [[5, 6, 7]]])
    books = SIM.pq_fit(base, dim=8, m=2, k=4, iterations=1, micro=True)
    short = spark.createDataFrame(
        [(0, [0.1] * 6)], ["vec_id", "embedding"]
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="expected 8 dims, got 6"):
        SIM.pq_encode(short, books).collect()
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="expected 8 dims, got 6"):
        SIM.pq_adc_topk(
            SIM.pq_encode(base, books), short.withColumnRenamed("vec_id", "query_id"), books
        ).collect()
    # fit itself must refuse short vectors too (round-9 advisory): a
    # short base row would slice short and null-pad through zip_with,
    # silently corrupting codebook assignment
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="expected 8 dims, got 6"):
        SIM.pq_fit(base.union(short), dim=8, m=2, k=4, iterations=1, micro=True)


def test_ivf_pq_topk_matches_adc_on_probed_cells(spark):
    # the composed IVF-PQ search must equal pq_adc_topk restricted to
    # each query's probed cells — the composition adds pruning, never
    # different scoring; plus layout independence of the whole stack
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    dim, m, k = 8, 2, 4
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(q, rows[q * 23][1]) for q in range(3)], ["query_id", "embedding"]
    )
    books = SIM.pq_fit(base, dim=dim, m=m, k=4, iterations=2, micro=True)
    out = SIM.ivf_pq_topk(
        base, queries, dim=dim, codebooks=books, k=k,
        n_cells=6, n_probe=2, iterations=2,
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["adc_dist_micro2"])
        for r in out.collect()
    }
    # reference: same centroids/probes via the module's own exprs,
    # then the verified pq_adc_topk on each query's probed subset
    cents = SIM.ivf_fit_centroids(base, dim, 6, 2)
    cells = {
        r["vec_id"]: r["cell"]
        for r in base.select(
            "vec_id", SIM._argmin_centroid(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    probes = F.transform(
        F.slice(F.array_sort(SIM._centroid_scores(F.col("embedding"), cents)), 1, 2),
        lambda s: s["cid"],
    )
    qprobes = {}
    for r in queries.select("query_id", probes.alias("p")).collect():
        qprobes[r["query_id"]] = set(r["p"])
    codes = SIM.pq_encode(base, books)
    expect = {}
    for q in range(3):
        keep = [v for v, c in cells.items() if c in qprobes[q]]
        sub_codes = codes.where(F.col("vec_id").isin(keep))
        ref = SIM.pq_adc_topk(
            sub_codes, queries.where(F.col("query_id") == q), books, k=k
        )
        for r in ref.collect():
            expect[(q, r["rank"])] = (r["vec_id"], r["adc_dist_micro2"])
    assert got == expect
    # layout independence
    out2 = SIM.ivf_pq_topk(
        base.repartition(7), queries, dim=dim, codebooks=books, k=k,
        n_cells=6, n_probe=2, iterations=2,
    )
    got2 = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["adc_dist_micro2"])
        for r in out2.collect()
    }
    assert got2 == got


def test_recommended_planes_scale_discipline():
    # r18 sf10 probe: fixed planes are quadratic in corpus size; the
    # helper keeps expected bucket population at the constant target
    from data_frame_spark.operators.similarity import recommended_planes

    import pytest

    # monotone non-decreasing in n
    ns = [10, 1_000, 20_000, 200_000, 10**7, 10**10, 10**12]
    ps = [recommended_planes(n) for n in ns]
    assert ps == sorted(ps)
    # bucket population n/2^p lands within [target/2, target] once
    # n is large enough to clear the lower clamp
    for n, p in zip(ns, ps):
        if 4 < p < 24:
            assert 32 <= n / 2**p <= 64
    # the probe's two concrete operating points
    assert recommended_planes(20_000) == 9
    assert recommended_planes(200_000) == 12
    # clamps
    assert recommended_planes(1) == 4
    assert recommended_planes(10**12) == 24
    with pytest.raises(ValueError):
        recommended_planes(0)
    with pytest.raises(ValueError):
        recommended_planes(100, target_bucket=0)


def test_batched_assignment_kernels_match_expression_forms(spark):
    # r18 optimization pin: the Arrow-batched kernels (_cell_batched,
    # qnorm_batched, _codes_batched, _assign_books_batched) must be
    # BIT-identical to the interpreted expression forms they replaced
    # — same quantized integer products, same smaller-id tie-breaks.
    import math
    import random

    rng = random.Random(99)
    dim, m, k = 8, 2, 4
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(200)]
    # force exact dot ties so the tie-break path is exercised too
    rows += [(200, rows[0][1]), (201, [-x for x in rows[1][1]])]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = SIM.ivf_fit_centroids(base, dim, k, 1)

    got = base.select(
        "vec_id",
        SIM._cell_batched(F.col("embedding"), cents).alias("cell"),
        SIM.qnorm_batched(F.col("embedding")).alias("qn"),
    ).collect()
    want = base.select(
        "vec_id",
        SIM._argmin_centroid(F.col("embedding"), cents).alias("cell"),
        F.aggregate(
            F.zip_with(
                "embedding",
                "embedding",
                lambda x, y: F.floor(
                    x.cast("double") * y.cast("double") * F.lit(SIM.DOT_SCALE)
                    + F.lit(0.5)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("qn"),
    ).collect()
    assert {r["vec_id"]: (r["cell"], r["qn"]) for r in got} == {
        r["vec_id"]: (r["cell"], r["qn"]) for r in want
    }

    # malformed rows must QUARANTINE exactly like the expression forms
    # (probed on Spark 4.1.2: NULL/ragged vec -> every dot NULL -> the
    # (d, cid) structs tie -> cell 0; norm2 -> NULL for a NULL vec,
    # own-element sum for a ragged one) instead of crashing np.stack.
    bad = spark.createDataFrame(
        [
            (0, [0.5] * dim),
            (1, None),
            (2, [0.25]),
            (3, [0.5] * (dim + 3)),
            (4, [0.5] * (dim - 1) + [None]),  # NULL element (Arrow: NaN)
        ],
        "vec_id int, embedding array<double>",
    )
    bad_got = {
        r["vec_id"]: (r["cell"], r["qn"])
        for r in bad.select(
            "vec_id",
            SIM._cell_batched(F.col("embedding"), cents).alias("cell"),
            SIM.qnorm_batched(F.col("embedding")).alias("qn"),
        ).collect()
    }
    bad_want = {
        r["vec_id"]: (r["cell"], r["qn"])
        for r in bad.select(
            "vec_id",
            SIM._argmin_centroid(F.col("embedding"), cents).alias("cell"),
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "embedding",
                    lambda x, y: F.floor(
                        x.cast("double") * y.cast("double") * F.lit(SIM.DOT_SCALE)
                        + F.lit(0.5)
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("qn"),
        ).collect()
    }
    assert bad_got == bad_want
    assert bad_got[1][0] == 0 and bad_got[1][1] is None  # NULL vec quarantines

    # r18 ADVICE pin: a genuine NaN DATA VALUE is indistinguishable
    # from a NULL element after the Arrow transfer, so the kernels
    # treat it as one (cell 0 / NULL norm). The expression twins
    # DIVERGE here (floor(NaN) evaluates per term and yields a finite
    # dot/norm); fixture embeddings carry no NaNs, so the divergence
    # is latent by contract — this freezes the kernel side of it.
    nan_df = spark.createDataFrame(
        [(0, [float("nan")] + [0.5] * (dim - 1))],
        "vec_id int, embedding array<double>",
    )
    nan_got = nan_df.select(
        SIM._cell_batched(F.col("embedding"), cents).alias("cell"),
        SIM.qnorm_batched(F.col("embedding")).alias("qn"),
    ).collect()[0]
    assert nan_got["cell"] == 0 and nan_got["qn"] is None

    books = SIM.pq_fit(base, dim=dim, m=m, k=k, iterations=1, micro=True)
    enc = {r["vec_id"]: list(r["codes"]) for r in SIM.pq_encode(base, books).collect()}
    q = base.select(
        "vec_id",
        SIM._require_len(
            SIM.quantize_vec(F.col("embedding")), dim, "t"
        ).alias("__vq"),
    )
    sub = dim // m
    ref_codes = F.array(
        *[
            SIM._argmin_l2_micro(F.slice("__vq", j * sub + 1, sub), books[j])
            for j in range(m)
        ]
    )
    ref = {r["vec_id"]: list(r["c"]) for r in q.select("vec_id", ref_codes.alias("c")).collect()}
    assert enc == ref

    # dot-metric twin: _assign_books_batched("dot") (the Lloyd loop's
    # kernel) vs _argmax_dot_matrix (the expression form it replaced)
    book = [[int(math.floor(x * 1e6 + 0.5)) for x in c] for c in cents]
    sv = base.select(
        "vec_id", SIM.quantize_vec(F.col("embedding")).alias("__sv")
    )
    dot_assign = SIM._assign_books_batched([book], "dot")
    got_dot = {
        r["vec_id"]: r["cid"]
        for r in sv.select(
            "vec_id", dot_assign(F.lit(0), F.col("__sv")).alias("cid")
        ).collect()
    }
    mat = F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in book])
    want_dot = {
        r["vec_id"]: r["cid"]
        for r in sv.select(
            "vec_id",
            SIM._argmax_dot_matrix(F.col("__sv"), mat, len(book)).alias("cid"),
        ).collect()
    }
    assert got_dot == want_dot


def test_gram_masses_batched_matches_expression_form(spark):
    # r18 optimization pin: the Arrow-batched Gopher gram-mass kernel
    # must equal the interpreted _gram_run_stats expressions it
    # replaced — same integer char masses, same smallest-gram-STRING
    # tie-break — including repeated-gram, tie, short-doc and
    # empty-text rows.
    from data_frame_spark.operators import text as TX

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b c d c d"),
            (2, "x y x y x y x y"),
            (3, "one two"),          # shorter than most n
            (4, ""),                 # empty text
            (5, "t t t t t t t t t t t t"),  # single repeated token
            (6, "b a b a a b"),      # tie-break territory
        ],
        ["doc_id", "text"],
    )
    toks = TX.tokens(F.col("text"))
    top_ns, dup_ns = (2, 3), (2, 5)
    m = TX._gram_masses_batched(toks, top_ns, dup_ns)
    got = docs.select("doc_id", m.alias("m")).collect()
    want = docs.select(
        "doc_id",
        *[
            TX._gram_run_stats(toks, n)["top_mass"].alias(f"t{n}")
            for n in top_ns
        ],
        *[
            TX._gram_run_stats(toks, n)["dup_mass"].alias(f"d{n}")
            for n in dup_ns
        ],
    ).collect()
    wd = {
        r["doc_id"]: [r[f"t{n}"] for n in top_ns] + [r[f"d{n}"] for n in dup_ns]
        for r in want
    }
    assert {r["doc_id"]: list(r["m"]) for r in got} == wd
