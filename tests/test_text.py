"""Unit tests for text analysis + dedup operators on hand-built
frames: known token counts, a planted near-duplicate pair, degenerate
inputs (short docs, empty strings). Oracle parity on the real tables
is covered by tests/test_oracle_parity.py (the new queries register in
the same catalog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.text import analysis as TA
from flight_delay_prediction_using_pyspark_spark.text import dedup as TD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (2, "completely different content about spark query engines and shuffles here"),
        (3, "short doc"),
        (4, ""),
        (5, "the quick brown fox jumps over the lazy dog near the river bank today"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("hello, world!",)], ["text"])
    out = df.select(
        TA.token_count("text").alias("n"),
        TA.bpe_ish_token_count("text").alias("b"),
    ).collect()
    assert [(r.n, r.b) for r in out] == [(3, 3), (2, 4)]  # hello , world !


def test_rolling_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",), ("a b c",)], ["text"])
    fps = [r.f for r in df.select(TA.rolling_fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[2] and fps[0] != fps[1]


def test_quality_score_bounds(docs):
    vals = [
        r.q for r in docs.select(TA.quality_score("text").alias("q")).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # the 14-token fluent docs beat the under-length ones (gated to 0)
    assert vals[0] > 0.5 and vals[3] == 0.0 and vals[4] == 0.0


def test_predict_language_profiles(spark):
    rows = [
        ("the cat and the dog of a house",),
        ("der hund und die katze ist nicht da",),
        ("el perro y la casa que es un gato",),
        ("xyzzy plugh qwerty",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    out = [r.v for r in df.select(TA.predict_language("text").alias("v")).collect()]
    assert out == ["en", "de", "es", "und"]


def test_predict_language_chargram(spark):
    rows = [
        ("the thing is standing there in the morning",),
        ("ich habe einen schönen deutschen wagen und nichts",),
        ("la casa de la playa que está adosada",),
        ("的 是 了 我 不 在",),  # unsegmented CJK — stopword method can't split
        ("qqqq zzzz",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    out = [
        r.v
        for r in df.select(TA.predict_language_chargram("text").alias("v")).collect()
    ]
    assert out == ["en", "de", "es", "zh", "und"]


def test_chargram_scores_are_occurrence_counts(spark):
    df = spark.createDataFrame([("the theme thesis",)], ["text"])
    scores = TA.language_scores_chargram("text")
    got = df.select(scores["en"].alias("s")).collect()[0].s
    # "the"×3, " th"×2, "he "×1 (and no other en grams) = 6
    assert got == 6


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], ["text"])
    out = [r.s for r in df.select(TD.shingles("text", 3).alias("s")).collect()]
    assert out[0] == []
    assert out[1] == ["a b c", "b c d"]


def test_minhash_lsh_finds_planted_near_dup(docs):
    pairs = TD.minhash_lsh_pairs(docs, threshold=0.5).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert (0, 5) in found and found[(0, 5)] == 1.0  # exact dup
    assert (0, 1) in found and found[(0, 1)] > 0.7  # one-token edit
    assert all(2 not in p for p in found)  # unrelated doc never pairs


def test_simhash_exact_dup_distance_zero(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in TD.simhash_pairs(docs).collect()}
    assert pairs[(0, 5)] == 0
    assert (0, 1) in pairs  # near-dup within hamming 3


def test_exact_dedup(docs):
    assert TD.dedup_exact(docs).count() == 5  # 6 docs, one exact dup
    groups = {
        r.n_copies
        for r in TD.exact_dup_stats(docs).filter(F.col("n_copies") > 1).collect()
    }
    assert groups == {2}


def test_embedding_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.id_a, r.id_b): r.cosine for r in TD.embedding_near_dup_pairs(df, threshold=0.9).collect()}
    assert list(pairs) == [(0, 1)] and pairs[(0, 1)] > 0.999


def test_jaccard_column(spark):
    df = spark.createDataFrame([(["a", "b"], ["b", "c"])], ["x", "y"])
    assert df.select(TD.jaccard(F.col("x"), F.col("y")).alias("j")).first().j == pytest.approx(1 / 3)


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # driver union-find path (small graph) and distributed min-label
    # loop (forced via driver_threshold=0) must agree exactly
    out = {r.node: r.cluster_id for r in TD.connected_components(pairs).collect()}
    assert out == expected
    dist = {
        r.node: r.cluster_id
        for r in TD.connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == expected


def test_dedup_keep_canonical(spark, docs):
    pairs = TD.minhash_lsh_pairs(docs, threshold=0.5)
    clusters = TD.connected_components(pairs)
    kept = TD.dedup_keep_canonical(docs, clusters)
    ids = {r.doc_id for r in kept.collect()}
    assert 0 in ids            # canonical (min id) survives
    assert 5 not in ids        # exact dup of 0 dropped
    assert 1 not in ids        # near dup of 0 dropped (same cluster)
    assert {2, 3, 4} <= ids    # non-duplicates pass through


def test_prepare_training_corpus_stages(spark):
    rows = [
        # fluent, long enough, en
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        # near-dup of 0 -> removed (0 is canonical)
        (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        # exact dup of 0 -> removed by exact dedup (min id 0 wins)
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),
        # German -> removed by language gate
        (3, "der hund und die katze ist nicht da aber der hund kommt morgen wieder"),
        # too short -> quality gate zeroes it
        (4, "short doc"),
        # distinct fluent survivor
        (5, "a storm of data files and the engine keeps the tables sorted for all of us"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = TD.prepare_training_corpus(docs, min_quality=0.4, lang="en")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 5]
    cols = set(kept.columns)
    assert {"quality", "pred_lang", "text", "doc_id"} <= cols


# ---------------------------------------------------------------------------
# Corpus assembly operators (text/corpus.py)
# ---------------------------------------------------------------------------

def test_decontaminate_flags_shingle_overlap(spark):
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the 3-gram "capital of france" -> contaminated
            (1, "my essay about the capital of france and its museums"),
            # no shared 3-gram
            (2, "a completely unrelated document about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.contaminated for r in TC.decontaminate(corpus, bench).collect()}
    assert got == {1: True, 2: False}


def test_language_quota_is_capped_and_partition_insensitive(spark):
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = spark.createDataFrame(
        [(i, "en" if i < 30 else "de", f"text {i}") for i in range(40)],
        ["doc_id", "lang", "text"],
    )
    kept1 = sorted(r.doc_id for r in TC.language_quota_sample(docs, 5).collect())
    kept2 = sorted(
        r.doc_id
        for r in TC.language_quota_sample(docs.repartition(7, "doc_id"), 5).collect()
    )
    assert kept1 == kept2  # md5 order, not partition order
    by_lang = TC.language_quota_sample(docs, 5).groupBy("lang").count().collect()
    assert {r.lang: r["count"] for r in by_lang} == {"en": 5, "de": 5}


def test_pack_sequences_matches_manual_layout(spark):
    import hashlib

    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    rows = [(i, "s", " ".join(["tok"] * (3 + i))) for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.pack_id)
        for r in TC.pack_sequences(docs, ctx_len=7).collect()
    }
    # reproduce the deterministic layout driver-side
    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    order = sorted(range(6), key=lambda i: (h(i), i))
    cum = 0
    for i in order:
        n = 3 + i
        assert got[i] == (n, (cum // 7)), f"doc {i}"
        cum += n


def test_chunk_documents_boundaries(spark):
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(100))),  # 100 toks -> 2 chunks
            (2, "short doc"),                            # 1 clamped chunk
            (3, ""),                                     # split('') -> [''] -> 1 chunk
        ],
        ["doc_id", "text"],
    )
    out = TC.chunk_documents(docs, chunk_tokens=64, overlap=16)
    got = {(r.doc_id, r.chunk_id): r.chunk_n_tokens for r in out.collect()}
    # doc 1: ceil((100-64)/48)+1 = 2 chunks; second starts at token 49,
    # so it holds tokens 49..100 = 52
    assert got[(1, 0)] == 64 and got[(1, 1)] == 52
    assert got[(2, 0)] == 2
    assert got[(3, 0)] == 1  # the empty-string token
    assert len(got) == 4


def test_pack_sequences_empty_and_single(spark):
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    assert TC.pack_sequences(empty, ctx_len=8).count() == 0
    one = spark.createDataFrame([(1, "s", "a b c")], ["doc_id", "source", "text"])
    row = TC.pack_sequences(one, ctx_len=8).first()
    assert (row.n_tokens, row.pack_id) == (3, 0)


def test_decontaminate_empty_benchmark(spark):
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    corpus = spark.createDataFrame([(1, "some document text here")], ["doc_id", "text"])
    bench = spark.createDataFrame([], "doc_id long, text string")
    out = TC.decontaminate(corpus, bench).collect()
    assert len(out) == 1 and out[0].contaminated is False


def test_chunk_documents_count_sweep(spark):
    """Chunk count and clamped sizes match the closed-form layout for
    every token count 0..200 in one pass (chunk 64, overlap 16,
    stride 48)."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = spark.createDataFrame(
        [(n, " ".join(["t"] * n) if n else "") for n in range(0, 201)],
        ["doc_id", "text"],
    )
    out = TC.chunk_documents(docs, chunk_tokens=64, overlap=16)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_n_tokens))
    for n in range(0, 201):
        toks = n if n else 1  # split('') yields one empty token
        expect_chunks = 1 if toks <= 64 else (toks - 64 + 47) // 48 + 1
        sizes = sorted(per_doc[n])
        assert len(sizes) == expect_chunks, f"n={n}"
        for cid, sz in sizes:
            assert sz == min(64, toks - cid * 48), f"n={n} chunk={cid}"


def test_winnowing_fingerprints_guarantee(spark):
    """Winnowing (k=4, w=5): matches a literal Python replay, handles
    short docs, and honors the shared-run guarantee (a common token run
    of >= k+w-1 tokens => >= 1 shared fingerprint)."""
    import hashlib
    import re

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "short",
        "",
        "a b c d",
        "PREFIX one two the quick brown fox jumps over the lazy dog xx",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", TA.winnowing_fingerprints("text").alias("fp")
        ).collect()
    }

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def ref(text, k=4, w=5):
        toks = re.split(r"\s+", text.strip())
        if len(toks) < k:
            return []
        hs = [md5_32(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
        return sorted({min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 1))})

    for i, t in enumerate(texts):
        assert out[i] == ref(t), f"doc {i}"
    # guarantee: docs 0 and 4 share a >= k+w-1 = 8 token run
    assert set(out[0]) & set(out[4])


def test_redact_pii_patterns(spark):
    """redact_pii / pii_counts: each pattern family found and scrubbed,
    emails scrubbed before the IP pattern can bite host fragments, and
    clean text passes through untouched."""
    rows = [
        (0, "mail me at alice.smith+x@sub.example.co.uk thanks"),
        (1, "call 555-123-4567 or 555-000-1111 today"),
        (2, "server 10.0.0.7 and 192.168.1.255 are up"),
        (3, "no pii here at all"),
        (4, "mixed: bob@x.io on 10.1.2.3 at 555-999-8888"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    counts = TA.pii_counts("text")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            counts["email"].alias("e"),
            counts["phone"].alias("p"),
            counts["ip"].alias("i"),
            TA.redact_pii("text").alias("red"),
        ).collect()
    }
    assert (out[0].e, out[0].p, out[0].i) == (1, 0, 0)
    assert (out[1].e, out[1].p, out[1].i) == (0, 2, 0)
    assert (out[2].e, out[2].p, out[2].i) == (0, 0, 2)
    assert (out[3].e, out[3].p, out[3].i) == (0, 0, 0)
    assert (out[4].e, out[4].p, out[4].i) == (1, 1, 1)
    assert "<EMAIL>" in out[0].red and "@" not in out[0].red
    assert out[1].red.count("<PHONE>") == 2
    assert out[2].red.count("<IP>") == 2
    assert out[3].red == rows[3][1]
    assert all(tok in out[4].red for tok in ("<EMAIL>", "<PHONE>", "<IP>"))


def test_winnowing_property(spark):
    """Property test for winnowing (k=4, w=5): on random token
    sequences the Spark Column agrees with an independent Python
    replay, and the MOSS guarantee holds — any two documents sharing
    a contiguous run of >= k+w-1 = 8 tokens share >= 1 fingerprint."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    K, W = 4, 5
    token = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
    toks = st.lists(token, min_size=0, max_size=12)
    shared = st.lists(token, min_size=K + W - 1, max_size=K + W + 3)

    pairs = []

    @settings(max_examples=60, deadline=None)
    @given(pre_a=toks, suf_a=toks, pre_b=toks, suf_b=toks, run=shared)
    def collect(pre_a, suf_a, pre_b, suf_b, run):
        pairs.append(
            (" ".join(pre_a + run + suf_a), " ".join(pre_b + run + suf_b))
        )

    collect()

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def ref(text):
        import re

        ts = re.split(r"\s+", text.strip())
        if len(ts) < K:
            return []
        hs = [md5_32(" ".join(ts[i : i + K])) for i in range(len(ts) - K + 1)]
        return sorted(
            {min(hs[j : j + W]) for j in range(max(len(hs) - W + 1, 1))}
        )

    docs = []
    for i, (a, b) in enumerate(pairs):
        docs.append((2 * i, a))
        docs.append((2 * i + 1, b))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", TA.winnowing_fingerprints("text", k=K, w=W).alias("fp")
        ).collect()
    }
    for doc_id, text in docs:
        assert out[doc_id] == ref(text), f"doc {doc_id} diverged from reference"
    for i in range(len(pairs)):
        assert set(out[2 * i]) & set(out[2 * i + 1]), (
            f"pair {i} shares an 8-token run but no fingerprint"
        )


def test_repetition_stats_planted(spark):
    """A looping document trips the Gopher gate; a varied one doesn't;
    degenerate (1-token / empty) docs produce zeros, not errors."""
    rows = [
        (0, "spam ham " * 20),                    # dup-2gram frac ~1 → trips
        (1, "a b c d e f g h i j k l m n o p"),   # all distinct → clean
        (2, "x"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", TA.repetition_stats(F.col("text")).alias("s")
        )
        .select("doc_id", "s.*")
        .withColumnRenamed("repetitive", "flag")
        .collect()
    }
    assert out[0].n_tokens == 40 and out[0].n_2grams == 39
    assert out[0].n_distinct_tokens == 2
    assert out[0].top_2gram_count == 20  # "spam ham" x20 beats "ham spam" x19
    assert out[0].flag == 1
    assert out[1].n_dup_2grams == 0 and out[1].flag == 0
    assert out[2].n_2grams == 0 and out[2].top_2gram_count == 0 and out[2].flag == 0
    assert out[3].n_2grams == 0 and out[3].flag == 0


def test_top_run_count_ties_and_empty(spark):
    df = spark.createDataFrame([([],), (["b", "a", "b", "a", "b"],)], ["a"])
    out = [r.c for r in df.select(TA.top_run_count(F.col("a")).alias("c")).collect()]
    assert out == [0, 3]


def test_span_dedup_planted(spark):
    """Cross-doc and within-doc duplicate 2-token spans are cut; first
    (doc_id, span_id) occurrence survives; surviving text hash matches
    a hand-rebuilt string."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    rows = [
        (0, "a b c d"),          # spans: [a b], [c d] — both first
        (1, "a b x y a b"),      # [a b] dup of doc0; [a b] (span 2) dup too
        (2, "c d"),              # [c d] dup of doc0 span 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in TC.span_dedup(df, span_tokens=2).collect()}
    assert (out[0].n_spans, out[0].n_kept, out[0].n_tokens_kept) == (2, 2, 4)
    assert (out[1].n_spans, out[1].n_kept, out[1].n_tokens_kept) == (3, 1, 2)
    assert (out[2].n_spans, out[2].n_kept) == (1, 0)
    expect = spark.createDataFrame([("x y",), ("",)], ["t"]).select(
        TA.md5_hash32(F.col("t")).alias("h")
    ).collect()
    assert out[1].kept_text_hash == expect[0].h
    assert out[2].kept_text_hash == expect[1].h


def test_mixture_plan_shares_and_epochs(spark):
    """sqrt-temperature shares: equal-token domains split evenly; a
    4x domain gets exactly 2x the weight of a 1x domain; planned
    draws sum to <= budget and epochs reflect draw/size."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    rows = [(i, "tok " * 100, "big") for i in range(4)] + [
        (100, "tok " * 100, "small")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.lang: r for r in TC.mixture_plan(df, budget_tokens=300).collect()}
    # big: 400 tokens (w=20), small: 100 (w=10) → shares 2/3 and 1/3
    assert out["big"].domain_tokens == 400 and out["small"].domain_tokens == 100
    assert abs(out["big"].share_scaled - 666_666_666) <= 1
    assert abs(out["small"].share_scaled - 333_333_333) <= 1
    assert out["big"].planned_tokens + out["small"].planned_tokens <= 300
    # small domain drawn at ~100 of its 100 tokens → ~1 epoch (999 milli)
    assert out["small"].epochs_milli in (999, 1000)
    assert out["big"].epochs_milli in (499, 500)


def test_quality_language_struct_equals_separate_gates(spark):
    """The let-bound gate struct must be VALUE-IDENTICAL to the
    separate quality_score/predict_language columns (the corpus
    oracles encode the originals' exact arithmetic)."""
    from tests.conftest import SF_CORRECTNESS_DIR

    docs = spark.read.parquet(f"{SF_CORRECTNESS_DIR}/documents.parquet")
    both = docs.select(
        F.round(TA.quality_score(F.col("text")), 6).alias("q0"),
        TA.predict_language(F.col("text")).alias("l0"),
        TA.quality_language_struct(F.col("text")).alias("g"),
    )
    diff = both.filter(
        (F.col("q0") != F.col("g.quality")) | (F.col("l0") != F.col("g.pred_lang"))
    )
    assert diff.count() == 0


# ---------------------------------------------------------------------------
# Round-6: sketch-candidates heavy hitters + DSIR
# ---------------------------------------------------------------------------


def test_mg_candidates_superset_under_adversarial_partitioning(spark, tmp_path):
    """The batch-top-k candidate phase must contain every true heavy
    hitter REGARDLESS of partitioning (the pigeonhole guarantee the
    query's exact output rests on): rewrite the documents table as 16
    tiny files (16 scan partitions — each holding only a sliver of
    any token's mass), run the full query on that layout, and compare
    to the exact SQL-side answer computed in Spark itself."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE_DIR

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    shard_dir = str(tmp_path / "documents.parquet")
    docs.repartition(16).write.parquet(shard_dir)
    # Split packing merges small files up to max(openCost, bytes/core),
    # so on few cores the 16 files would scan as a handful of
    # partitions. An open cost equal to the split size puts every file
    # in its own scan partition, whatever the core count.
    keys = ("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, str(128 * 1024 * 1024))
    try:
        sharded = spark.read.parquet(shard_dir)
        assert sharded.rdd.getNumPartitions() >= 8  # the adversarial layout holds

        got = {
            (r.tok, r.freq)
            for r in QUERIES["doc_token_mg_heavy_hitters"](
                spark, str(tmp_path)
            ).collect()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    toks = docs.select(
        F.explode(TA.tokens(F.col("text"))).alias("tok")
    )
    n = toks.count()
    exact = {
        (r.tok, r.freq)
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * 64 > F.lit(n))
        .collect()
    }
    assert got == exact and exact, f"expected exact heavy hitters, got {got}"


def test_dsir_planted_signal_separates_target(spark, tmp_path):
    """Semantic guarantee on a fixture with PLANTED signal: 'en' docs
    share a marker vocabulary the other languages never use, so DSIR
    must score every en doc positive and every non-en doc negative —
    regardless of the corpus's incidental frequency noise (the
    round-6 failure mode was smoothing bias, not signal direction;
    this fixture pins the direction itself)."""
    import pandas as pd

    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES

    rows = []
    for i in range(40):
        lang = "en" if i % 2 == 0 else "de"
        base = "alpha beta gamma delta epsilon"
        marker = " zeta eta theta iota kappa" if lang == "en" else " rho sigma tau"
        text = (base + marker * 3) * 2
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": lang,
                "source": "fixture",
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet", index=False)
    got = {
        r.lang: r
        for r in QUERIES["doc_dsir_importance_weights"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["en"].sum_weight_q > 0 and got["en"].n_kept == got["en"].n_docs
    assert got["de"].sum_weight_q < 0 and got["de"].n_kept == 0


def test_dsir_weights_favor_target_language(spark):
    """DSIR importance weights must be positive-mass for the target
    slice ('en') and negative-mass for every non-target language —
    the direction the log-ratio is defined to point. Holds on the
    driver corpus (weak sampling signal only) because the smoothing
    is occupied-bucket add-one, which keeps the Laplace bias at
    O(b/n) instead of the constant-B form's −B·(1/n_t − 1/n_r) that
    drowned the slice in round 6."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    rows = {
        r.lang: r
        for r in QUERIES["doc_dsir_importance_weights"](
            spark, SF_CORRECTNESS_DIR
        ).collect()
    }
    assert rows["en"].sum_weight_q > 0
    assert rows["en"].n_kept > rows["en"].n_docs * 0.5
    for lang, r in rows.items():
        if lang != "en":
            assert r.sum_weight_q < 0, f"{lang} should be corpus-like"


def test_bbit_minhash_estimator_contract(spark):
    """b-bit minwise: the 2-bit estimator must stay a usable Jaccard
    estimate (bounded MAE on real candidates) while the full-width
    estimator is at least as accurate in aggregate — the Li&König
    variance ordering (Var_bbit ≈ Var_full/(1-C)²) that justifies the
    32x storage trade only when the noted accuracy loss is priced."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    row = QUERIES["dedup_bbit_minhash_est"](spark, SF_CORRECTNESS_DIR).collect()[0]
    assert row.n_pairs > 0
    assert 0.0 <= row.mae_full <= row.mae_bbit <= 0.5
    assert row.bits_saved_ratio == 32


def test_plan_estimate_contract_all_true(spark):
    """The estimate-surface contract query must emit all-TRUE
    invariants locally too (the oracle pins the same literals)."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    r = QUERIES["plan_estimate_contract"](spark, SF_CORRECTNESS_DIR).collect()[0]
    assert r.chain_est_leaf_bounded and r.chain_hint_kept
    assert r.raw_stat_inflated and r.persisted_crossjoin_local
    assert r.exploding_hint_refused


def test_minhash_estimator_accuracy_contract(spark):
    """Guard for the round-7 family fix: the signature estimator's
    MAE over LSH candidates must stay within the k=16 theory envelope
    (σ = sqrt(J(1−J)/k) ≤ 0.125). The broken pre-fix family — affine
    mod 2^61−1 with A < 2^30, monotone in h, all permutations
    correlated — scored MAE 0.71 here while every oracle row stayed
    green (both engines shared the bug), so this invariant exists
    precisely because oracle parity cannot see estimator quality."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    r = QUERIES["dedup_minhash_est_accuracy"](spark, SF_CORRECTNESS_DIR).collect()[0]
    assert r.n_pairs > 0
    assert r.mean_abs_err < 0.15
    assert abs(r.mean_est - r.mean_true) < 0.1


def test_rake_degree_dominates_freq(spark):
    """RAKE: degree sums phrase lengths over a word's occurrences
    (self included), so degree >= freq always, and the emitted
    ranking must be the (score, freq, word) order it claims."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMOKE_DIR

    rows = QUERIES["doc_rake_keywords"](spark, SF_SMOKE_DIR).collect()
    assert rows
    for r in rows:
        assert r.degree >= r.freq > 0
        assert r.score_ppm == (1_000_000 * r.degree) // r.freq
    keys = [(-r.score_ppm, -r.freq, r.word) for r in rows]
    assert keys == sorted(keys)


def test_heaps_curve_monotone_and_bounded(spark):
    """Cumulative token mass and vocabulary must be nondecreasing in
    the prefix, and the fitted exponent must land in [0, 1] (ppm) —
    V = K·N^beta cannot shrink and cannot outgrow the corpus."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    rows = sorted(
        QUERIES["corpus_heaps_law_fit"](spark, SF_CORRECTNESS_DIR).collect(),
        key=lambda r: r.decile,
    )
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert b.n_tokens >= a.n_tokens and b.vocab >= a.vocab
    assert 0 <= rows[0].beta_ppm <= 1_000_000


def test_minhash_family_minwise_property_pure_python():
    """Statistical pin for the round-7 family fix, engine-free: over
    deterministic pseudo-random shingle-hash sets, P(argmin collides)
    must track exact Jaccard within binomial noise — the property the
    old family (monotone in h, all permutations picking the same
    min-md5 shingle) violated by construction. Also replays the bug
    signature directly: permutations must NOT all agree on rank order
    (the old family's min index was the same for ~every i)."""
    import random

    from flight_delay_prediction_using_pyspark_spark.text.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_K,
        MINHASH_P,
    )

    def sig(hs):
        return [
            min(((h % MINHASH_P) * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P
                for h in hs)
            for i in range(MINHASH_K)
        ]

    rng = random.Random(7)
    total_m, total_k, total_j = 0, 0, 0.0
    n_pairs = 200
    for _ in range(n_pairs):
        common = {rng.randrange(1 << 32) for _ in range(rng.randrange(1, 30))}
        a = common | {rng.randrange(1 << 32) for _ in range(rng.randrange(1, 30))}
        b = common | {rng.randrange(1 << 32) for _ in range(rng.randrange(1, 30))}
        j = len(a & b) / len(a | b)
        m = sum(x == y for x, y in zip(sig(a), sig(b)))
        total_m += m
        total_k += MINHASH_K
        total_j += j
    # E[m/k] == mean Jaccard; with 200*16 = 3200 Bernoulli draws the
    # 5-sigma band is ~±0.045
    assert abs(total_m / total_k - total_j / n_pairs) < 0.05

    # bug-signature replay: across k permutations of ONE set, the
    # argmin element must vary (the broken family picked the same
    # element for nearly every i)
    hs = sorted({rng.randrange(1 << 32) for _ in range(50)})
    argmins = {
        min(range(len(hs)),
            key=lambda ix: ((hs[ix] % MINHASH_P) * MINHASH_A[i] + MINHASH_B[i])
            % MINHASH_P)
        for i in range(MINHASH_K)
    }
    assert len(argmins) > MINHASH_K // 3


def test_langid_agreement_invariants(spark):
    """Both-correct is a subset of each method's correct set AND of
    the agreement set; every counter is bounded by n_docs."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMOKE_DIR

    rows = QUERIES["doc_langid_method_agreement"](spark, SF_SMOKE_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_both_correct <= min(r.n_stop_correct, r.n_char_correct, r.n_agree)
        for c in (r.n_agree, r.n_stop_correct, r.n_char_correct, r.n_both_correct):
            assert 0 <= c <= r.n_docs


# ---------------------------------------------------------------------------
# BPE vocabulary induction (round 8)
# ---------------------------------------------------------------------------


def _seg(spark, word_freqs, merges):
    """Segment a tiny vocab with a fixed merge list, back to python."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(word_freqs, "word string, freq long")
    rows = B.bpe_apply(words, merges).collect()
    out = {}
    for r in rows:
        out.setdefault(r.word, []).append((r.pos, r.sym))
    return {w: [s for _, s in sorted(v)] for w, v in out.items()}


def test_bpe_merge_greedy_nonoverlapping_runs(spark):
    """The one genuinely tricky rewrite case: a merge (a,a) inside a
    run of the same symbol must apply greedily left-to-right without
    overlap — 'aaa' → [aa, a], 'aaaa' → [aa, aa], 'aaaaa' →
    [aa, aa, a] — exactly what sequential textbook BPE produces."""
    got = _seg(
        spark,
        [("aaa", 1), ("aaaa", 1), ("aaaaa", 1), ("baab", 1)],
        [("a", "a")],
    )
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaaaa"] == ["aa", "aa", "a"]
    assert got["baab"] == ["b", "aa", "b"]


def test_bpe_merge_chaining_builds_compounds(spark):
    """Later merges consume earlier merge outputs: (a,b)→ab twice in
    'abab', then (ab,ab)→abab collapses the word to one symbol."""
    got = _seg(spark, [("abab", 1), ("aab", 1)], [("a", "b"), ("ab", "ab")])
    assert got["abab"] == ["abab"]
    assert got["aab"] == ["a", "ab"]


def test_bpe_train_counts_and_tiebreak(spark):
    """Pair counts are freq-weighted over the vocab and ties break on
    (count DESC, left, right): 'ab' appears 3× via freq, tying 'bc'
    from the other word — 'ab' < 'bc' lexicographically wins rank 1;
    after merging, rank 2 is decided on the rewritten state."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("ab", 3), ("bc", 3)], "word string, freq long"
    )
    merges, final = B.bpe_train(words, 2)
    assert merges[0] == (1, "a", "b", 3)
    assert merges[1] == (2, "b", "c", 3)
    segs = {}
    for r in final.collect():
        segs.setdefault(r.word, []).append((r.pos, r.sym))
    assert [s for _, s in sorted(segs["ab"])] == ["ab"]
    assert [s for _, s in sorted(segs["bc"])] == ["bc"]


def test_bpe_train_stops_when_no_pairs(spark):
    """All-single-character vocabulary: no adjacent pairs exist, so
    training returns an empty merge list rather than looping or
    throwing."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame([("a", 5), ("b", 2)], "word string, freq long")
    merges, final = B.bpe_train(words, 4)
    assert merges == []
    assert {r.sym for r in final.collect()} == {"a", "b"}


def test_wordpiece_longest_match_and_truncation(spark):
    """Greedy longest-match-first semantics: with inventory
    {a,b,c,ab,abc}, 'abcab' takes 'abc' then 'ab' (longest at each
    position, NOT the leftmost shorter 'ab'); max_pieces truncation
    leaves the unconsumed suffix in `remaining`."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("abcab", 2), ("cba", 1)], "word string, freq long"
    )
    merges = [("a", "b"), ("ab", "c")]  # inventory: a,b,c,ab,abc
    out = {r.word: r for r in B.wordpiece_segment(words, merges).collect()}
    assert out["abcab"].sig == "abc|ab" and out["abcab"].n_pieces == 2
    assert out["abcab"].remaining == ""
    assert out["cba"].sig == "c|b|a" and out["cba"].n_pieces == 3
    trunc = {
        r.word: r
        for r in B.wordpiece_segment(words, merges, max_pieces=2).collect()
    }
    assert trunc["cba"].n_pieces == 2 and trunc["cba"].remaining == "a"
    assert trunc["cba"].sig == "c|b"


def test_wordpiece_agrees_with_bpe_replay_on_disjoint_merges(spark):
    """When merges never chain, replay and longest-match coincide —
    the agreement census's n_identical should equal n_words."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("ster", 4), ("erst", 2)], "word string, freq long"
    )
    merges = [("e", "r"), ("s", "t")]
    wp = {r.word: r.sig for r in B.wordpiece_segment(words, merges).collect()}
    bpe_rows = B.bpe_apply(words, merges).collect()
    bpe = {}
    for r in bpe_rows:
        bpe.setdefault(r.word, []).append((r.pos, r.sym))
    bpe_sig = {w: "|".join(s for _, s in sorted(v)) for w, v in bpe.items()}
    assert wp == bpe_sig == {"ster": "st|er", "erst": "er|st"}


def test_bpe_matches_pure_python_textbook_reference(spark):
    """Engine-free correctness contract (the round-7 sketch-family
    lesson: shared-constant implementations can be wrong together and
    stay oracle-green — here the oracle SQL mirrors the same window
    formulation, so a reference from OUTSIDE that formulation is the
    real guard). A deliberately adversarial seeded vocabulary over a
    2-symbol alphabet (maximal same-symbol runs, chaining merges,
    overlap ambiguity) is trained with the obviously-correct textbook
    loop in pure Python; merges AND final segmentations must match
    the distributed operator exactly. WordPiece longest-match gets
    the same treatment."""
    import random

    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    rng = random.Random(20260815)
    vocab = {}
    while len(vocab) < 24:
        w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
        vocab.setdefault(w, rng.randint(1, 5))

    def merge_seq(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    def py_bpe(freqs, n_merges):
        seqs = {w: list(w) for w in freqs}
        merges = []
        for rank in range(1, n_merges + 1):
            counts = {}
            for w, f in freqs.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            (a, b), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, a, b, c))
            seqs = {w: merge_seq(s, a, b) for w, s in seqs.items()}
        return merges, seqs

    def py_wordpiece(word, inventory, max_pieces):
        rem, pieces = word, []
        while rem and len(pieces) < max_pieces:
            best = max(
                (v for v in inventory if rem.startswith(v)), key=len
            )
            pieces.append(best)
            rem = rem[len(best):]
        return pieces, rem

    n_merges = 6
    exp_merges, exp_seqs = py_bpe(vocab, n_merges)
    words = spark.createDataFrame(
        list(vocab.items()), "word string, freq long"
    )
    got_merges, final = B.bpe_train(words, n_merges)
    assert got_merges == exp_merges
    got_seqs = {}
    for r in final.collect():
        got_seqs.setdefault(r.word, []).append((r.pos, r.sym))
    assert {
        w: [s for _, s in sorted(v)] for w, v in got_seqs.items()
    } == exp_seqs

    pairs = [(a, b) for _, a, b, _ in got_merges]
    inventory = set("ab") | {a + b for a, b in pairs}
    wp = {
        r.word: (r.sig, r.remaining)
        for r in B.wordpiece_segment(words, pairs, max_pieces=4).collect()
    }
    for w in vocab:
        exp_pieces, exp_rem = py_wordpiece(w, inventory, 4)
        assert wp[w] == ("|".join(exp_pieces), exp_rem), w


def test_unigram_lm_matches_pure_python_reference(spark):
    """Engine-free guard for the unigram-LM induction (same rationale
    as the BPE textbook test): seeded adversarial vocabulary over a
    2-symbol alphabet, trained with an obviously-correct pure-Python
    hard-EM loop (dict DP with the identical (score, n, sig)
    lexicographic tie-break); seed counts, per-round Viterbi
    segmentations, and final counts/costs must match the distributed
    operator exactly."""
    import math
    import random

    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    rng = random.Random(99)
    vocab = {}
    while len(vocab) < 20:
        w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
        vocab.setdefault(w, rng.randint(1, 5))

    Q, ML, TOPM = 100000, U.MAX_PIECE_LEN, 6

    def py_seed(freqs):
        cnt = {}
        for w, f in freqs.items():
            for i in range(len(w)):
                for L in range(1, min(ML, len(w) - i) + 1):
                    s = w[i : i + L]
                    cnt[s] = cnt.get(s, 0) + f
        multi = sorted(
            ((s, c) for s, c in cnt.items() if len(s) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:TOPM]
        return dict(multi) | {s: c for s, c in cnt.items() if len(s) == 1}

    def py_costs(counts):
        t, m = sum(counts.values()), len(counts)
        base = math.floor(Q * math.log(t + m))
        return {p: base - math.floor(Q * math.log(c + 1)) for p, c in counts.items()}

    def py_viterbi(w, costs):
        dp = [(0, 0, "")]
        for i in range(1, len(w) + 1):
            cands = []
            for j in range(max(0, i - ML), i):
                piece = w[j:i]
                if piece in costs:
                    s, n, sig = dp[j]
                    cands.append(
                        (s + costs[piece], n + 1, piece if sig == "" else sig + "|" + piece)
                    )
            dp.append(min(cands))
        return dp[-1]

    seed = py_seed(vocab)
    pieces = sorted(seed)
    counts = seed
    for _ in range(2):
        costs = py_costs(counts)
        new = {p: 0 for p in pieces}
        for w, f in vocab.items():
            for piece in py_viterbi(w, costs)[2].split("|"):
                new[piece] += f
        counts = new
    exp_costs = py_costs(counts)

    words = spark.createDataFrame(list(vocab.items()), "word string, freq long")
    got_seed = {
        r["piece"]: int(r["cnt"])
        for r in U.seed_vocab(words, top_m=TOPM).collect()
    }
    assert got_seed == seed
    got_counts, got_costs, final = U.unigram_train(words, n_rounds=2, top_m=TOPM)
    assert got_counts == counts
    assert got_costs == exp_costs
    got_seg = {r.word: (r.score, r.n_pieces, r.sig) for r in final.collect()}
    for w in vocab:
        assert got_seg[w] == py_viterbi(w, exp_costs), w


def test_wordpiece_char_fallback_on_foreign_alphabet(spark):
    """A SHIPPED inventory (trained elsewhere: pieces a, b, ab) meets
    words with characters outside it: segmentation must stay total —
    each foreign char consumed as its own piece (the char-fallback
    analogue of byte-fallback) — never fold to a NULL state."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    shipped = ["a", "b", "ab"]
    foreign = spark.createDataFrame(
        [("abxab", 1), ("zzz", 1)], "word string, freq long"
    )
    out = {
        r.word: r
        for r in B.wordpiece_segment(
            foreign, [("a", "b")], inventory=shipped
        ).collect()
    }
    assert out["abxab"].sig == "ab|x|ab" and out["abxab"].remaining == ""
    assert out["zzz"].sig == "z|z|z" and out["zzz"].n_pieces == 3


def test_viterbi_candidate_bound_and_ansi_mode(spark):
    """Round-8 ADVICE: the Viterbi candidate range must be exactly
    max(0, i - MAX_PIECE_LEN) .. i-1 — no extra length-(ML+1)
    candidate — and cost lookups must go through try_element_at so a
    missing piece yields NULL (filtered) instead of throwing under
    ANSI mode (the Spark 4 default). Run the DP on a word LONGER than
    MAX_PIECE_LEN with ANSI explicitly pinned on, with a cost table
    that does NOT contain every substring."""
    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    words = spark.createDataFrame(
        [("abababab", 2), ("ba", 1)], "word string, freq long"
    )
    # every single char (cover guarantee) plus one multi-char piece;
    # substrings like 'aba' / 'abab' are deliberately ABSENT
    costs = {"a": 300, "b": 300, "ab": 100}
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r.word: (r.score, r.n_pieces, r.sig)
            for r in U.viterbi_segment(words, costs).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got["abababab"] == (400, 4, "ab|ab|ab|ab")
    assert got["ba"] == (600, 2, "b|a")


def test_bpe_batched_equals_textbook_when_disjoint(spark):
    """Equivalence contract (round-9 mandate): when every top pair is
    symbol-disjoint and merging creates no promotable pairs (whole
    words collapse to single symbols), the batched schedule IS the
    textbook schedule — same merges, same counts, same order."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("ab", 100), ("cd", 90), ("ef", 80), ("gh", 70)],
        "word string, freq long",
    )
    tb, _ = B.bpe_train(words, 4)
    bt, _ = B.bpe_train_batched(words, n_merges=4, batch_k=4)
    assert tb == bt


def test_bpe_batched_divergence_is_the_predicted_one(spark):
    """Bounded-divergence contract: the batched schedule diverges from
    textbook ONLY via created-pair promotion. Corpus crafted so
    (a,b):10 > (b,x):8 > (c,d):6 — textbook merges (a,b) then the
    CREATED (ab,x):8; batched k=2 keeps (a,b) and, skipping (b,x)
    (shares b), the disjoint (c,d) — slot 1 agrees, slot 2 diverges
    exactly as the symbol-disjointness analysis predicts."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("abx", 8), ("ab", 2), ("cd", 6)], "word string, freq long"
    )
    tb, _ = B.bpe_train(words, 2)
    bt, _ = B.bpe_train_batched(words, n_merges=2, batch_k=2)
    assert [(a, b) for _, a, b, _ in tb] == [("a", "b"), ("ab", "x")]
    assert [(a, b) for _, a, b, _ in bt] == [("a", "b"), ("c", "d")]


def test_bpe_batched_rounds_mode_and_segmentation(spark):
    """n_rounds mode runs exactly that many selection rounds (the
    oracle-replayable spec) and the returned final state equals
    bpe_apply of the learned merge list — batch application of
    disjoint merges is sequential application."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [("abab", 5), ("cdcd", 4), ("abcd", 3), ("xy", 2)],
        "word string, freq long",
    )
    merges, final = B.bpe_train_batched(words, n_rounds=2, batch_k=2)
    replay = B.bpe_apply(words, [(a, b) for _, a, b, _ in merges])
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, replay.collect()))
    assert got == want and len(merges) >= 2


def test_wordpiece_trie_crossover_row_identical(spark, monkeypatch):
    """The mapInPandas trie segmenter is row-identical to the
    array-literal fold on the same vocabulary — including the
    char-fallback (out-of-inventory chars) and max_pieces truncation
    edges — and wordpiece_segment auto-routes to it past
    INLINE_INVENTORY_MAX."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    words = spark.createDataFrame(
        [
            ("abxab", 3),
            ("zzz", 2),          # fully out-of-inventory → char fallback
            ("ababababab", 1),   # longer than max_pieces pieces → truncates
            ("ab", 5),
            ("κόσμος", 1),       # foreign alphabet
        ],
        "word string, freq long",
    )
    inv = ["a", "b", "x", "ab", "abx"]
    fold = B.wordpiece_segment(words, [], max_pieces=3, inventory=inv)
    trie = B.wordpiece_segment_trie(words, [], max_pieces=3, inventory=inv)
    got_f = sorted(map(tuple, fold.collect()))
    got_t = sorted(map(tuple, trie.collect()))
    assert got_f == got_t
    # spot-check semantics: longest-match takes abx over ab, then ab
    by_word = {r[0]: r for r in got_t}
    assert by_word["abxab"][4] == "abx|ab"
    assert by_word["zzz"][4] == "z|z|z"
    assert by_word["ababababab"][2] == "abab"  # remaining after 3 pieces

    # auto-switch: a sub-threshold inventory stays a fold (pure plan,
    # no Python), an over-threshold one becomes a mapInPandas scan
    monkeypatch.setattr(B, "INLINE_INVENTORY_MAX", 10)
    small_plan = B.wordpiece_segment(
        words, [], inventory=inv
    )._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(B, "INLINE_INVENTORY_MAX", 3)
    big_plan = B.wordpiece_segment(
        words, [], inventory=inv
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in small_plan
    assert "MapInPandas" in big_plan


def test_viterbi_pandas_lattice_crossover(spark):
    """The mapInPandas Viterbi lattice is row-identical to the
    map-literal DP fold on the same cost table — same integer scores,
    same (score, n, sig) lexicographic tie-break."""
    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    words = spark.createDataFrame(
        [("abababab", 2), ("ba", 1), ("abc", 4), ("aaaa", 3)],
        "word string, freq long",
    )
    costs = {"a": 300, "b": 300, "c": 250, "ab": 100, "aa": 450, "abc": 777}
    fold = U.viterbi_segment(words, costs)
    lattice = U.viterbi_segment_pandas(words, costs)
    assert sorted(map(tuple, fold.collect())) == sorted(
        map(tuple, lattice.collect())
    )


def test_quality_clf_engine_free_reference(spark):
    """The learned quality classifier's Spark scoring fold matches the
    engine-free pure-Python scorer BIT-FOR-BIT per document, and the
    trained artifact separates its labeled fixture perfectly by
    integer-score sign (round-9 mandate: model-based filtering with a
    reference implementation pinning the scores)."""
    from flight_delay_prediction_using_pyspark_spark.text import (
        quality_clf as Q,
    )

    bias_q, wq = Q.trained_weights_q()
    fix = Q.labeled_fixture()
    assert all(
        (Q.score_q(t, bias_q, wq) > 0) == bool(y) for t, y in fix
    )

    # score a mixed bag — fixture rows AND real corpus-vocabulary
    # text — through the Spark fold and compare per row
    texts = [t for t, _ in fix[:6]] + [t for t, _ in fix[-6:]] + [
        "spark join batch window merge the a big data query",
        "slow row slow row slow row the the the",
        "single",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks"),
    )
    got = {
        r["text"]: r["s"]
        for r in df.select(
            "text", F.expr(Q.spark_score_expr("__toks", bias_q, wq)).alias("s")
        ).collect()
    }
    for t in texts:
        assert got[t] == Q.score_q(t, bias_q, wq), t


def test_viterbi_auto_switch_threshold(spark, monkeypatch):
    """viterbi_segment routes cost tables past INLINE_COSTS_MAX to the
    mapInPandas lattice (map-literal element_at is a linear scan —
    SCALE.md curve) and keeps small tables on the codegen fold."""
    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    words = spark.createDataFrame([("abab", 2)], "word string, freq long")
    costs = {"a": 300, "b": 300, "ab": 100}
    monkeypatch.setattr(U, "INLINE_COSTS_MAX", 10)
    fold = U.viterbi_segment(words, costs)
    monkeypatch.setattr(U, "INLINE_COSTS_MAX", 2)
    lattice = U.viterbi_segment(words, costs)
    assert "MapInPandas" not in (
        fold._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in (
        lattice._jdf.queryExecution().executedPlan().toString()
    )
    # and both produce the same rows
    a = fold.collect()
    b = lattice.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
