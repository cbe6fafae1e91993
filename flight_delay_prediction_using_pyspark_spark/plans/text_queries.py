"""Catalog entries for the text-analysis / dedup / similarity
extensions (SURVEY.md §7 step 10; BASELINE.json north star).

Every oracle here is *generated* from the same constants as the Spark
implementation (language profiles, stopwords, minhash geometry), so
the two sides cannot drift: the SQL mirrors the exact expression tree
— portable md5-derived hashes, same IEEE operand order, ROUND(x, 6)
on both sides of every float column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.operators import aggregates as A
from flight_delay_prediction_using_pyspark_spark.plans.queries import (
    query,
    scratch_persist,
    session_memo,
    spread_if_narrow,
)
from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table
from flight_delay_prediction_using_pyspark_spark.streaming.ops import drain_batches
from flight_delay_prediction_using_pyspark_spark.text import analysis as TA
from flight_delay_prediction_using_pyspark_spark.text import dedup as TD

# ---------------------------------------------------------------------------
# SQL fragment generators (DuckDB dialect, mirroring text.analysis ops)
# ---------------------------------------------------------------------------

_TOKS = r"string_split_regex(trim(text), '\s+')"


def _md5i(expr: str) -> str:
    """Portable 32-bit md5 hash (mirrors analysis.md5_hash32)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _md5i60(expr: str) -> str:
    """Portable 60-bit md5 hash (mirrors analysis.md5_hash60) — the
    identity hash for destructive dedup keys; 15 hex chars always
    fit BIGINT."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _in_list(var: str, words) -> str:
    quoted = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"{var} IN ({quoted})"


def _lang_score(words) -> str:
    return f"len(list_filter(t, x -> {_in_list('x', words)}))"


def _argmax_sql(langs: list[str], prefix: str = "s_") -> str:
    """CASE cascade identical to analysis.argmax_label: earlier
    profile beats later on ties (>= forward, > backward)."""
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"{prefix}{lang} > 0"]
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">=" if i < j else ">"
            conds.append(f"{prefix}{lang} {op} {prefix}{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def _pred_lang_sql() -> str:
    return _argmax_sql(list(TA.LANG_PROFILES))


def _chargram_score_sql(grams) -> str:
    """Mirrors analysis.language_scores_chargram: occurrence counts via
    length-difference / gram length, summed over the profile."""
    terms = [
        f"(length(t) - length(replace(t, '{g.replace(chr(39), chr(39) * 2)}', ''))) / {len(g)}"
        for g in grams
    ]
    return f"CAST({' + '.join(terms)} AS BIGINT)"


def _fingerprint_sql() -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(t, x -> {_md5i('x')})), "
        f"(acc, h) -> (acc*31 + h) % {TA.HASH_MOD})"
    )


_PROFILE_CTES = f"""raw AS (
      SELECT doc_id, text, {_TOKS} AS t FROM documents
    ), scored AS (
      SELECT doc_id, text, t,
        len(t) AS n_tokens,
        CASE WHEN len(t) > 0
             THEN CAST(len(list_filter(t, x -> {_in_list('x', TA.STOPWORDS)})) AS DOUBLE) / len(t)
             ELSE 0.0 END AS sw_ratio,
        CASE WHEN length(text) > 0
             THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0.0 END AS p_ratio,
        CASE WHEN len(t) > 0
             THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(t, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) / len(t)
             ELSE 0.0 END AS mtl,
        {" ".join(f"{_lang_score(w)} AS s_{lang}," for lang, w in TA.LANG_PROFILES.items())}
        {_fingerprint_sql()} AS fingerprint
      FROM raw
    )"""

_PROFILE_CTE = "WITH " + _PROFILE_CTES

_QUALITY_SQL = """
    CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
         THEN (least(sw_ratio * 4, 1.0)
               + (1.0 - least(p_ratio * 5, 1.0))
               + CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) / 3
         ELSE 0.0 END
"""


# ---------------------------------------------------------------------------
# Text analysis queries
# ---------------------------------------------------------------------------


@query(
    "doc_text_profile",
    oracle=f"""
    {_PROFILE_CTE}
    SELECT doc_id, n_tokens,
           len(regexp_extract_all(text, '{TA.BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           length(text) AS n_chars,
           ROUND(mtl, 6) AS mean_token_len,
           ROUND(p_ratio, 6) AS punct_ratio,
           ROUND(sw_ratio, 6) AS stopword_ratio,
           ROUND({_QUALITY_SQL}, 6) AS quality,
           {_pred_lang_sql()} AS pred_lang,
           fingerprint
    FROM scored
    """,
)
def q_doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-document text signals (token counts incl.
    BPE-style pre-tokenizer, quality heuristics, stopword-profile
    language ID, rolling-hash fingerprint). Map-only at scale; the
    repartition only spreads the single-file test scan across cores
    (interpreted per-doc HOF work would otherwise run serially)."""
    return TA.text_profile(
        spread_if_narrow(
            load_table(spark, sf_dir, "documents")
        )
    )


@query(
    "doc_language_confusion",
    oracle=f"""
    {_PROFILE_CTE}
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM (
      SELECT d.lang AS lang, {_pred_lang_sql()} AS pred_lang
      FROM scored JOIN documents d USING (doc_id)
    )
    GROUP BY lang, pred_lang
    """,
)
def q_doc_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion: labeled lang × predicted lang counts
    (A10 crosstab shape over the analysis extension)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("lang"), TA.predict_language(F.col("text")).alias("pred_lang")
    ).groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@query(
    "doc_language_chargram_confusion",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             {_argmax_sql(list(TA.NGRAM_PROFILES), prefix="c_")} AS pred_lang
      FROM (
        SELECT lang,
               {", ".join(f"{_chargram_score_sql(grams)} AS c_{lang}" for lang, grams in TA.NGRAM_PROFILES.items())}
        FROM (SELECT lang, lower(text) AS t FROM documents)
      )
    )
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM g GROUP BY lang, pred_lang
    """,
)
def q_doc_language_chargram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second language-ID method: char-n-gram occurrence profiles
    (Cavnar-Trenkle style, fixed profiles) instead of stopword hits.
    Pure string built-ins — one codegen'd map stage, then the same
    crosstab agg; exact-integer scores keep the oracle bit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("lang"),
        TA.predict_language_chargram(F.col("text")).alias("pred_lang"),
    ).groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@query(
    "doc_quality_buckets",
    oracle=f"""
    {_PROFILE_CTE}
    SELECT CASE WHEN q < 0.25 THEN 'low' WHEN q < 0.5 THEN 'mid'
                WHEN q < 0.75 THEN 'good' ELSE 'high' END AS quality_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM (SELECT ROUND({_QUALITY_SQL}, 6) AS q, n_tokens FROM scored)
    GROUP BY quality_bucket
    """,
)
def q_doc_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score histogram: the filter stage of a training-data
    pipeline as a grouped agg (bucket → doc count, token mass).

    The (score, token-count) pair is materialized behind ONE Generate
    barrier before the bucket CASE: the 4-arm CASE references the
    score three times and would otherwise re-inline the full scoring
    expression per arm (34 tokenizer runs per document before the
    round-12 fix; 2 after — one in the score, one in the count)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.round(TA.quality_score(F.col("text")), 6).alias("q"),
                    TA.token_count(F.col("text")).alias("n_tokens"),
                )
            )
        ).alias("__s")
    ).select("__s.q", "__s.n_tokens")
    bucket = (
        F.when(F.col("q") < 0.25, "low")
        .when(F.col("q") < 0.5, "mid")
        .when(F.col("q") < 0.75, "good")
        .otherwise("high")
    )
    return (
        scored.select(bucket.alias("quality_bucket"), "n_tokens")
        .groupBy("quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup queries
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_hash_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_hashes,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           MAX(n_copies) AS max_copies,
           COUNT(*) FILTER (WHERE n_copies > 1) AS n_dup_groups
    FROM (
      SELECT {_md5i60('text')} AS content_hash, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    )
    """,
)
def q_dedup_exact_hash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup census: distinct content hashes, total docs, the
    largest duplicate group. Shuffle carries only the 8-byte hash —
    the 100 TB-safe exact dedup. Identity is the 60-bit md5 slice
    (32 bits collides above ~10^5 docs and would under-count
    n_hashes undetectably, since both engines share the hash)."""
    stats = TD.exact_dup_stats(load_table(spark, sf_dir, "documents"))
    return stats.agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.sum("n_copies").alias("n_docs"),
        F.max("n_copies").alias("max_copies"),
        F.count(F.when(F.col("n_copies") > 1, 1)).alias("n_dup_groups"),
    )


def _minhash_ctes(threshold: float, source: str = "documents") -> str:
    k, bands, rows = TD.MINHASH_K, TD.LSH_BANDS, TD.LSH_ROWS
    # Mirrors dedup.minhash_sig_from_hashes: one md5 per shingle (the hs
    # column), k Carter-Wegman variants (A[i]*(h mod P) + B[i]) % P
    # over it (round-7 family fix — see dedup.py MINHASH_P notes).
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ((h % {TD.MINHASH_P}) * {TD.MINHASH_A[i]} "
        f"+ {TD.MINHASH_B[i]}) % {TD.MINHASH_P}))"
        for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {h} AS band_hash FROM sig".format(
            b=b,
            h=_md5i(
                "concat_ws('_', "
                + ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
                + ")"
            ),
        )
        for b in range(bands)
    )
    ctes = f"""toks AS (SELECT doc_id, {_TOKS} AS t FROM {source}),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [] END AS s
      FROM toks
    ),
    sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
    sigbase AS (
      SELECT doc_id, s, list_transform(s, x -> {_md5i('x')}) AS hs FROM sh2
    ),
    sig AS (SELECT doc_id, s, [{sig_exprs}] AS sig FROM sigbase),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT id_a, id_b,
             ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= {threshold}
    )"""
    return ctes


def _minhash_oracle(threshold: float) -> str:
    return f"""
    WITH {_minhash_ctes(threshold)}
    SELECT id_a, id_b, jaccard FROM verified
    """


def _minhash_cluster_oracle(threshold: float) -> str:
    """Connected components over the verified pair graph via a
    recursive transitive-closure CTE, labeled by component-min id."""
    return f"""
    WITH RECURSIVE {_minhash_ctes(threshold)},
    und AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b, id_a FROM verified
    ),
    reach(node, peer) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.node, u2.v FROM reach r JOIN und u2 ON r.peer = u2.u
    )
    SELECT node AS doc_id, least(node, MIN(peer)) AS cluster_id
    FROM reach
    GROUP BY node
    """



def _sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted minhash-signature frame per session and sf_dir,
    shared by every LSH verify variant (Jaccard, containment,
    clusters, levenshtein) — the shingle+sign stage dominates their
    cost."""
    return session_memo(
        spark,
        ("sigs", sf_dir),
        lambda: TD.minhash_signatures(
            load_table(spark, sf_dir, "documents")
        ).persist(),
    )


def _lsh_pairs_cached(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """One persisted MinHash-LSH pair frame per session, sf_dir and
    threshold: the pairs, clusters and levenshtein-verify queries (and
    more) consume the SAME pair graph — build it once."""
    return session_memo(
        spark,
        ("lsh_pairs", sf_dir, threshold),
        lambda: TD.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=threshold,
            sigs=_sigs_cached(spark, sf_dir),
        ).persist(),
    )


@query("dedup_minhash_lsh_pairs", oracle=_minhash_oracle(0.5))
def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle → 16 minhashes → 4 bands →
    bucket join → exact-Jaccard verify ≥ 0.5). The only joins are on
    short hash keys; no all-pairs stage — the web-scale dedup plan."""
    return _lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b", "jaccard")


def _simhash_oracle(max_hamming: int, chunks: int) -> str:
    bits, width = 32, 32 // chunks
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, v -> (v >> {j}) & 1 = 1)) - len(hs) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {c * width}) & {(1 << width) - 1} AS chunk_val FROM sig"
        for c in range(chunks)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    h AS (SELECT doc_id, list_transform(t, x -> {_md5i('x')}) AS hs FROM toks),
    sig AS (SELECT doc_id, {bit_terms} AS simhash FROM h),
    chunks AS ({chunk_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
    """


def _simhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted SimHash pair frame per session and sf_dir: both
    the pair query and the cross-family agreement audit consume the
    identical (Hamming ≤ 3, 4-chunk) pair set — the tokenize + 32
    bit-vote signature stage dominates, so build it once."""
    return session_memo(
        spark,
        ("simhash_pairs", sf_dir),
        lambda: TD.simhash_pairs(
            load_table(spark, sf_dir, "documents"),
            max_hamming=3,
            chunks=4,
        ).persist(),
    )


@query("dedup_simhash_pairs", oracle=_simhash_oracle(3, 4))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signatures, pigeonhole chunk
    buckets (recall 1.0 for Hamming ≤ 3), equi-join candidates, exact
    Hamming verify."""
    return _simhash_pairs_cached(spark, sf_dir).select("id_a", "id_b", "hamming")


@query(
    "dedup_ngram_jaccard_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id < 100
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [] END AS s
      FROM toks
    ),
    sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
)
def q_dedup_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard top-20 on a bounded slice
    (doc_id < 100) — the ground-truth small-scale verifier behind the
    LSH pipeline. Deliberately bounded: all-pairs is the thing LSH
    exists to avoid at scale."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = docs.select(
        F.col("doc_id"), TD.shingles(F.col("text"), 3).alias("s")
    ).filter(F.size("s") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(TD.jaccard(F.col("sa"), F.col("sb")), 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(20)
    )


@query(
    "dedup_embedding_near_dup",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                  (a, b) -> a + b)) AS nrm
      FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
                 (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.35
    """,
)
def q_dedup_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.35), exact
    math with IEEE-identical operand order on both engines. The
    all-pairs form is the verifier; candidates at scale come from
    hyperplane LSH buckets (similarity.ann)."""
    return TD.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.35,
    )


@query("dedup_minhash_clusters", oracle=_minhash_cluster_oracle(0.5))
def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    pair graph via iterative min-label propagation (each round one
    distributed join+agg; converges in graph-diameter rounds). Output
    (doc_id, cluster_id=min id in component) — the canonical-pick
    stage of cluster-level dedup. Oracle: recursive transitive-closure
    CTE over the same verified pairs."""
    pairs = _lsh_pairs_cached(spark, sf_dir)
    clusters = TD.connected_components(pairs)
    return clusters.select(F.col("node").alias("doc_id"), "cluster_id")


def _training_corpus_oracle(min_quality: float, lang: str, threshold: float) -> str:
    """The full corpus-prep pipeline in SQL: profile CTEs (quality,
    language) -> gates -> deterministic exact dedup -> minhash CTEs
    over the survivors -> recursive connected components -> canonical
    keep -> summary aggregates."""
    return f"""
    WITH RECURSIVE {_PROFILE_CTES},
    gated AS (
      SELECT doc_id, text, n_tokens, ROUND({_QUALITY_SQL}, 6) AS quality
      FROM scored
      WHERE ROUND({_QUALITY_SQL}, 6) >= {min_quality}
        AND {_pred_lang_sql()} = '{lang}'
    ),
    ded AS (
      SELECT * FROM gated
      QUALIFY row_number() OVER (PARTITION BY {_md5i60('text')} ORDER BY doc_id) = 1
    ),
    {_minhash_ctes(threshold, source='ded')},
    und AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b, id_a FROM verified
    ),
    reach(node, peer) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.node, u2.v FROM reach r JOIN und u2 ON r.peer = u2.u
    ),
    clusters AS (
      SELECT node, least(node, MIN(peer)) AS cluster_id FROM reach GROUP BY node
    ),
    kept AS (
      SELECT d.* FROM ded d
      LEFT JOIN clusters c ON d.doc_id = c.node AND c.node != c.cluster_id
      WHERE c.node IS NULL
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) AS sum_quality
    FROM kept
    """


@query(
    "training_corpus_prep",
    oracle=_training_corpus_oracle(0.4, "en", 0.5),
)
def q_training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-data composite (text.dedup.prepare_training_corpus):
    quality gate -> language gate -> deterministic exact dedup ->
    MinHash-LSH near-dup clusters -> keep canonical docs; summarized
    as (surviving docs, token mass, quality mass). Every stage of the
    pipeline is independently oracle-verified by the other dedup/text
    queries; this verifies their composition end-to-end."""
    from flight_delay_prediction_using_pyspark_spark.text.analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    kept = TD.prepare_training_corpus(
        docs,
        min_quality=0.4,
        lang="en",
        jaccard_threshold=0.5,
        sigs=_sigs_cached(spark, sf_dir),
    )
    return kept.select(
        token_count(F.col("text")).alias("n_tokens"), F.col("quality")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        A.exact_decimal_sum("quality").alias("sum_quality"),
    )


@query(
    "doc_tfidf_top_term",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfv AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, term, tf, df,
             tf * CAST(floor(100000 * ln((n_docs + 1.0) / (df + 1.0)))
                       AS BIGINT) AS tfidf_scaled
      FROM tf JOIN dfv USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tf AS top_tf, df AS top_df,
           tfidf_scaled
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_scaled DESC, term ASC) AS rn
      FROM scored
    )
    WHERE rn = 1
    """,
)
def q_doc_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most distinctive term per document by TF-IDF (MLlib's smoothed
    idf = ln((N+1)/(df+1)), corpus-wide df via a self-agg — the
    inverted-index shuffle every retrieval/keyword pipeline needs).
    Spark-first: explode → two hash aggs → term-keyed join → per-doc
    struct-MIN argmax ((-score, term): top score, lexicographic-first
    tie-break) — no window over the token table. The idf factor is
    floor-quantized to 1e-5 so the cross-engine ln() comparison is on
    integers; N arrives via a broadcast 1-row cross join, not a
    driver collect (SURVEY.md §4 anti-pattern 2)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TA.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfv = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfv, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_scaled",
            F.col("tf")
            * F.floor(
                100000
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).cast("bigint"),
        )
    )
    top = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("tfidf_scaled")).alias("neg_score"),
                F.col("term"),
                F.col("tf"),
                F.col("df"),
            )
        ).alias("m")
    )
    return top.select(
        "doc_id",
        F.col("m.term").alias("top_term"),
        F.col("m.tf").alias("top_tf"),
        F.col("m.df").alias("top_df"),
        (-F.col("m.neg_score")).alias("tfidf_scaled"),
    )


@query(
    "dedup_lsh_levenshtein",
    oracle=f"""
    WITH {_minhash_ctes(0.5)}
    SELECT id_a, id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev_dist
    FROM verified
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    """,
)
def q_dedup_lsh_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification on LSH candidates: the O(n·m)
    Levenshtein DP runs ONLY on the near-dup pairs MinHash-LSH
    surfaces — the staged candidates-then-verify pattern that makes
    character-exact dedup affordable (all-pairs edit distance is
    quadratic in corpus size and impossible at 100 TB; candidate
    pairs are ~linear). Pure JVM `F.levenshtein`, doc texts fetched
    by two id-keyed joins."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    da = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    db = docs.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    )
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("text_a", "text_b").cast("bigint").alias("lev_dist"),
        )
    )


@query(
    "doc_tokens_udtf",
    oracle=r"""
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - 1 AS BIGINT) AS max_pos
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE text IS NOT NULL
    )
    WHERE len(t) > 0
    """,
)
def q_doc_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) surface:
    a lateral `ws_tokenize(text)` emitting (pos, token) rows per doc,
    rolled up to per-doc counts. API-parity demo ONLY — UDTFs run
    row-at-a-time in Python workers; the hot path for this exact job
    is `explode(split(...))` (JVM, codegen, see `doc_tfidf_top_term`).
    The UDTF class is self-contained (no module references) so it
    pickles cleanly to executors from any cwd."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class WsTokenize:
        def eval(self, text):
            if text:
                for i, tok in enumerate(text.split()):
                    yield (i, tok)

    spark.udtf.register("ws_tokenize", WsTokenize)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_udtf_src")
    return spark.sql(
        """
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(MAX(pos) AS BIGINT) AS max_pos
        FROM docs_udtf_src, LATERAL ws_tokenize(text)
        GROUP BY doc_id
        """
    )


# ---------------------------------------------------------------------------
# Corpus assembly: decontamination / quota mixture / sequence packing
# ---------------------------------------------------------------------------

_SHINGLE_CTES = f"""toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [] END AS s
      FROM toks
    ),
    hashed AS (
      SELECT doc_id, source, list_transform(s, x -> {_md5i('x')}) AS hs FROM sh
    )"""


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    bh AS (
      SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 50 = 0
    ),
    corpus AS (SELECT * FROM hashed WHERE doc_id % 50 <> 0),
    cont AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(hs) AS h FROM corpus) c
      JOIN bh ON c.h = bh.h
    )
    SELECT corpus.source,
           COUNT(*) AS n_docs,
           COUNT(cont.doc_id) AS n_contaminated
    FROM corpus LEFT JOIN cont ON corpus.doc_id = cont.doc_id
    GROUP BY corpus.source
    """,
)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (text.corpus.decontaminate): every
    50th doc plays the eval set; the rest is the corpus, and any
    corpus doc sharing a token 3-gram with the eval set is flagged.
    Per-source contamination census. The join currency is the portable
    32-bit shingle hash on BOTH engines, so hash-collision flags agree
    bit-for-bit; the eval hash set broadcasts."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    # The cached signature frame already carries every doc's shingle
    # hashes — reuse them instead of re-tokenizing the corpus side
    # (the bench docs in the frame are harmless: their flags attach
    # to no corpus row).
    flagged = TC.decontaminate(
        corpus,
        bench,
        corpus_hashes=_sigs_cached(spark, sf_dir)
        .select("doc_id", "sh_hashes")
        .filter(F.col("doc_id") % 50 != 0),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("contaminated"), 1)).alias("n_contaminated"),
    )


@query(
    "corpus_language_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id, len({_TOKS}) AS n_tokens
      FROM documents
      QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY {_md5i("CAST(doc_id AS VARCHAR)")}, doc_id) <= 20
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM ranked GROUP BY lang
    """,
)
def q_corpus_language_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture quota sampling (text.corpus.language_quota_sample):
    at most 20 docs per language, chosen by deterministic md5 order —
    the reproducible corpus rebalance. One shuffle on lang; the rank
    window truncates heavy strata in-partition."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    kept = TC.language_quota_sample(docs, quota=20)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.size(TA.tokens("text")).cast("long")).alias("sum_tokens"),
    )


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id, len({_TOKS}) AS n_tokens,
             {_md5i("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    )
    SELECT source,
           CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 256) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1, 2
    """,
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (text.corpus.pack_sequences):
    docs laid end-to-end in deterministic md5 order within each source
    shard, cut into 256-token packs; per-(shard, pack) doc and token
    counts. Shard-local windows — no global serialization point. The
    downstream groupBy reuses the window's source partitioning."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    packed = TC.pack_sequences(docs, ctx_len=256)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def _full_pipeline_oracle() -> str:
    """The entire round-2 corpus pipeline in SQL: gates → exact dedup
    → LSH near-dup clusters → canonical keep (the training_corpus_prep
    oracle), then benchmark decontamination (hash-shingle semi join),
    per-source quota, and sequence packing. Every fragment is the
    same SQL the stage-level oracles use, so the composition cannot
    drift from the parts."""
    return f"""
    WITH RECURSIVE {_PROFILE_CTES},
    gated AS (
      SELECT doc_id, text, n_tokens, ROUND({_QUALITY_SQL}, 6) AS quality
      FROM scored
      WHERE doc_id % 50 <> 0
        AND ROUND({_QUALITY_SQL}, 6) >= 0.4
        AND {_pred_lang_sql()} = 'en'
    ),
    ded AS (
      SELECT * FROM gated
      QUALIFY row_number() OVER (PARTITION BY {_md5i60('text')} ORDER BY doc_id) = 1
    ),
    {_minhash_ctes(0.5, source='ded')},
    und AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b, id_a FROM verified
    ),
    reach(node, peer) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.node, u2.v FROM reach r JOIN und u2 ON r.peer = u2.u
    ),
    clusters AS (
      SELECT node, least(node, MIN(peer)) AS cluster_id FROM reach GROUP BY node
    ),
    kept AS (
      SELECT d.* FROM ded d
      LEFT JOIN clusters c ON d.doc_id = c.node AND c.node != c.cluster_id
      WHERE c.node IS NULL
    ),
    bench_toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 50 = 0
    ),
    bench_sh AS (
      SELECT DISTINCT unnest(list_transform(
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                    ELSE [] END,
               x -> {_md5i('x')})) AS h
      FROM bench_toks
    ),
    kept_sh AS (
      SELECT k.doc_id,
             CASE WHEN len({_TOKS.replace('text', 'k.text')}) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len({_TOKS.replace('text', 'k.text')}) - 2),
                         i -> concat_ws(' ', {_TOKS.replace('text', 'k.text')}[i],
                                        {_TOKS.replace('text', 'k.text')}[i+1],
                                        {_TOKS.replace('text', 'k.text')}[i+2])))
                  ELSE [] END AS s
      FROM kept k
    ),
    cont AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, {_md5i('unnest(s)')} AS h FROM kept_sh) c
      JOIN bench_sh b ON c.h = b.h
    ),
    clean AS (
      SELECT k.doc_id, k.n_tokens, d.source
      FROM kept k
      JOIN documents d ON k.doc_id = d.doc_id
      LEFT JOIN cont ON k.doc_id = cont.doc_id
      WHERE cont.doc_id IS NULL
    ),
    quota AS (
      SELECT * FROM clean
      QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY {_md5i("CAST(doc_id AS VARCHAR)")}, doc_id) <= 40
    ),
    packed AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {_md5i("CAST(doc_id AS VARCHAR)")}, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM quota
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 256) AS BIGINT))
             AS n_packs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY source
    """


@query("corpus_full_pipeline", oracle=_full_pipeline_oracle())
def q_corpus_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data pipeline as ONE composition:
    quality + language gates → deterministic exact dedup → MinHash-LSH
    near-dup removal (prepare_training_corpus) → benchmark
    decontamination (every 50th doc is the eval set, excluded up
    front) → per-source quota (40, md5 order) → 256-token sequence
    packing; reported per source as (docs, packs, token mass). Every
    stage is independently oracle-verified elsewhere; this entry
    verifies the END-TO-END composition — the strongest single
    correctness statement the catalog makes about the corpus family."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC
    from flight_delay_prediction_using_pyspark_spark.text.analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus0 = docs.filter(F.col("doc_id") % 50 != 0)
    kept = TD.prepare_training_corpus(
        corpus0,
        min_quality=0.4,
        lang="en",
        jaccard_threshold=0.5,
        # whole-corpus signature cache: corpus0 ⊂ documents, so the
        # survivors' signatures are a semi-join away (pure per-doc fn)
        sigs=_sigs_cached(spark, sf_dir),
    )
    clean = TC.decontaminate(
        kept,
        bench,
        # same cache: sh_hashes ARE the decontamination join hashes;
        # extra (non-kept) ids flag nothing via the left join back
        corpus_hashes=_sigs_cached(spark, sf_dir).select("doc_id", "sh_hashes"),
    ).filter(~F.col("contaminated"))
    with_source = clean.select("doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    quota = TC.language_quota_sample(with_source, quota=40, strata_col="source")
    packed = TC.pack_sequences(quota, ctx_len=256, shard_col="source")
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("pack_id").alias("n_packs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


@query(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sized AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE (len(t) - 64 + 47) // 48 + 1 END AS n_chunks
      FROM toks
    ),
    ids AS (
      SELECT doc_id, t,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_id
      FROM sized
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             t[(chunk_id * 48 + 1):(chunk_id * 48 + 64)] AS ct
      FROM ids
    )
    SELECT doc_id, chunk_id,
           CAST(len(ct) AS BIGINT) AS chunk_n_tokens,
           {_md5i("array_to_string(ct, ' ')")} AS chunk_hash
    FROM chunks
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (text.corpus.chunk_documents): 64-token windows
    with 16-token overlap, one row per chunk with a portable content
    hash — the retrieval-index build step. All-JVM array ops; chunk
    boundaries are integer arithmetic, so the SQL oracle reproduces
    every chunk hash exactly."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    return TC.chunk_documents(docs, chunk_tokens=64, overlap=16)


@query(
    "chunk_boilerplate_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sized AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE (len(t) - 64 + 47) // 48 + 1 END AS n_chunks
      FROM toks
    ),
    ids AS (
      SELECT doc_id, t,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_id
      FROM sized
    ),
    chunks AS (
      SELECT doc_id,
             {_md5i("array_to_string(t[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ')")}
               AS chunk_hash
      FROM ids
    ),
    census AS (
      SELECT chunk_hash,
             COUNT(*) AS n_copies,
             COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_hash
    )
    SELECT COUNT(*) AS n_distinct_chunks,
           CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
           COUNT(*) FILTER (WHERE n_docs > 1) AS n_boilerplate,
           CAST(MAX(n_copies) AS BIGINT) AS max_copies
    FROM census
    """,
)
def q_chunk_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at chunk granularity: census of chunk
    hashes across the corpus — a chunk hash appearing in MORE THAN ONE
    document is shared boilerplate (headers, disclaimers, templated
    spans), the thing chunk-level dedup strips before training or
    indexing. Composition of chunk_documents with a hash census; the
    shuffle carries only 8-byte hashes. Two-level aggregate (per-hash,
    then global) — the second agg's input is one row per distinct
    hash."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    chunks = TC.chunk_documents(docs, chunk_tokens=64, overlap=16)
    census = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return census.agg(
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum("n_copies").cast("bigint").alias("n_chunks"),
        F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_boilerplate"),
        F.max("n_copies").cast("bigint").alias("max_copies"),
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_minhash_ctes(0.5)}
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / least(len(sa.s), len(sb.s)), 6) AS containment
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / least(len(sa.s), len(sb.s)), 6) >= 0.6
    """,
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (containment) near-dup: |A∩B| / min(|A|,|B|) ≥ 0.6
    over shingle sets on the SAME LSH candidate stage as the Jaccard
    pipeline (text.dedup.containment_pairs). Containment flags
    quote/subset pairs — a short doc embedded in a long one — where
    Jaccard stays low because the union is dominated by the long
    side. No all-pairs stage; only the verify metric differs."""
    return TD.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.6,
        sigs=_sigs_cached(spark, sf_dir),
    )


_CMS_PROBES = ["table", "value", "spark", "window", "vector", "absent_token_zz"]
_CMS_W = 64


def _cms_oracle() -> str:
    """Rebuild the identical count-min sketch in SQL (same affine
    hash family and width as operators/sketches.py) and replay the
    probe estimates."""
    from flight_delay_prediction_using_pyspark_spark.operators import sketches as SK

    occ = f"SELECT unnest({_TOKS}) AS token FROM documents"
    return SK.cms_oracle_sql(occ, _CMS_PROBES, _CMS_W)


@query("doc_token_cms_estimate", oracle=_cms_oracle())
def q_doc_token_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over the token stream
    (operators/sketches.py): d=3 × w=64 counters built in one
    explode+groupBy (mergeable map-side partials — the
    streaming/distributed frequency sketch), probed for a fixed token
    set incl. an absent token. Width 64 is deliberately small so
    collisions produce visible overcounts; est ≥ true always. The
    portable affine-over-md5 hash family lets the oracle rebuild the
    identical sketch — estimates compare exactly, which Spark's
    built-in count_min_sketch (opaque binary) cannot do."""
    from flight_delay_prediction_using_pyspark_spark.operators import sketches as SK

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(TA.tokens(F.col("text"))).alias("token"))
    sketch = SK.cms_build(occ, "token", width=_CMS_W)
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("token")
    )
    est = SK.cms_estimate(sketch, probes, "token", width=_CMS_W)
    tru = (
        probes.join(occ.groupBy("token").agg(F.count(F.lit(1)).alias("c")), "token", "left")
        .select("token", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("true_cnt"))
    )
    return est.join(tru, "token").select(
        "token",
        "est",
        "true_cnt",
        (F.col("est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

_WINNOW_K, _WINNOW_W = 4, 5

# Shared oracle CTEs, entirely in DuckDB list-land (scalar
# generate_series returns a LIST; lateral table-function args over
# columns are not supported) — a term-for-term replay of the Spark
# Column expression: k-gram hash list, then per-window list_min over
# w-wide slices, distinct, unnest.
_WINNOW_CTES = f"""d AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), d2 AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {_WINNOW_K}
                  THEN list_transform(
                         generate_series(1, len(t) - {_WINNOW_K - 1}),
                         i -> {_md5i(f"array_to_string(t[i : i + {_WINNOW_K - 1}], ' ')")})
                  ELSE CAST([] AS BIGINT[]) END AS gh
      FROM d
    ), fps AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(gh) - {_WINNOW_W - 1}, 1)),
               j -> list_min(gh[j : j + {_WINNOW_W - 1}])))) AS fp
      FROM d2 WHERE len(gh) > 0
    )"""


def _winnow_fps_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted (doc_id, fp) winnowing-fingerprint frame per
    session and sf_dir, shared by the census and pairs queries — the
    O(tokens) k-gram hashing pass dominates both. Repartitioned to the
    session parallelism first: the testdata table is a single parquet
    file, and an expensive map over one input split would otherwise
    run single-task (the cluster-scale analogue is
    files.maxPartitionBytes, but an explicit spread is what a one-file
    table needs)."""
    def build():
        docs = spread_if_narrow(load_table(spark, sf_dir, "documents"))
        return docs.select(
            "doc_id",
            F.explode(
                TA.winnowing_fingerprints("text", k=_WINNOW_K, w=_WINNOW_W)
            ).alias("fp"),
        ).persist()

    return session_memo(spark, ("winnow", sf_dir), build)


@query(
    "doc_winnowing_census",
    oracle=f"""
    WITH {_WINNOW_CTES},
    per_fp AS (
      SELECT fp, COUNT(*) AS docs_sharing FROM fps GROUP BY fp
    )
    SELECT docs_sharing, COUNT(*) AS n_fingerprints
    FROM per_fp GROUP BY docs_sharing
    """,
)
def q_doc_winnowing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint census: select ~2/(w+1)-density local
    fingerprints per document (analysis.winnowing_fingerprints — MOSS
    algorithm, pure Column expression), explode, and histogram how many
    documents share each fingerprint. The docs_sharing>1 tail IS the
    copied-passage mass of the corpus — what a plagiarism / boilerplate
    auditor reads first. Distributed shape: map-only fingerprinting,
    one shuffle on the 32-bit fingerprint key, then a tiny histogram —
    at 100 TB the shuffle carries (fp, doc_id) pairs at winnowed
    density, a small fraction of token volume."""
    fps = _winnow_fps_cached(spark, sf_dir)
    per_fp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("docs_sharing"))
    return per_fp.groupBy("docs_sharing").agg(
        F.count(F.lit(1)).alias("n_fingerprints")
    )


@query(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH {_WINNOW_CTES},
    capped AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS ds FROM fps
      ) WHERE ds <= {TD.WINNOW_MAX_SHARING}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_fps FROM pairs WHERE shared_fps >= 2
    """,
)
def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware near-dup candidates: document pairs sharing ≥ 2
    winnowing fingerprints — i.e. ≥ 2 selected k-gram passages in
    common, the winnowing guarantee turning shared runs of ≥ k+w−1
    tokens into shared fingerprints. Complements the position-blind
    families (minhash = set overlap, simhash = token multiset): this
    one localizes WHICH passages collide. Same scale shape as every
    candidate generator here: equi-join on the fingerprint key, never
    all-pairs — and the per-fingerprint fan-out bound is ENFORCED in
    code (TD.winnowing_pairs drops fingerprints shared by more than
    WINNOW_MAX_SHARING docs before the join, the MOSS
    ignore-boilerplate rule), not just monitored by the census query."""
    return TD.winnowing_pairs(_winnow_fps_cached(spark, sf_dir))


# ---------------------------------------------------------------------------
# PII redaction (pre-training privacy pass)
# ---------------------------------------------------------------------------

_PII_EMAIL, _PII_PHONE, _PII_IP = (
    TA.PII_PATTERNS["email"],
    TA.PII_PATTERNS["phone"],
    TA.PII_PATTERNS["ip"],
)


@query(
    "doc_redaction_stats",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.0.0.' || (doc_id % 256) ELSE '' END AS text
      FROM documents
    ), scanned AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
             len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
             len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip,
             length(text) - length(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS chars_removed
      FROM seeded
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
           CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
           CAST(SUM(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ip,
           CAST(SUM(n_email + n_phone + n_ip) AS BIGINT) AS total_matches,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM scanned
    """,
)
def q_doc_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit (analysis.redact_pii / pii_counts): scrub
    emails / phone numbers / IPs and report match and size deltas —
    the privacy pass every training-corpus pipeline runs before the
    quality gates. The synthetic documents table contains no PII, so
    the query SEEDS deterministic PII spans keyed on doc_id (same
    snapshot-mutation pattern as orders_snapshot_diff) and the oracle
    replays the identical injection; patterns are restricted to the
    regex subset Java regex and RE2 share, so both engines scan
    byte-identically. Map-only: counts and the redacted length fold
    into one codegen stage, no shuffle before the final scalar agg."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = TA.pii_counts("text")
    scanned = seeded.select(
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ip"].alias("n_ip"),
        (F.length("text") - F.length(TA.redact_pii("text"))).cast("long").alias(
            "chars_removed"
        ),
    )
    return scanned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_email") > 0, 1).otherwise(0)).cast("bigint").alias("docs_with_email"),
        F.sum(F.when(F.col("n_phone") > 0, 1).otherwise(0)).cast("bigint").alias("docs_with_phone"),
        F.sum(F.when(F.col("n_ip") > 0, 1).otherwise(0)).cast("bigint").alias("docs_with_ip"),
        F.sum(F.col("n_email") + F.col("n_phone") + F.col("n_ip")).cast("bigint").alias("total_matches"),
        F.sum("chars_removed").cast("bigint").alias("chars_removed"),
    )


def _minhash_accuracy_oracle() -> str:
    """Estimator-accuracy oracle: candidate CTEs from _minhash_ctes
    (threshold irrelevant — we read `cand` + `sig`, not `verified`),
    unrolled component-match count, floor-scaled float summaries."""
    k = TD.MINHASH_K
    match_sql = " + ".join(
        f"(CASE WHEN sa.sig[{i+1}] = sb.sig[{i+1}] THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
    WITH {_minhash_ctes(0.0)},
    pairs AS (
      SELECT id_a, id_b,
             ({match_sql}) AS m,
             CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
                  THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                       / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                  ELSE 0.0 END AS tj
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    ),
    scaled AS (
      SELECT m,
             CAST(FLOOR(tj * 1000000) AS BIGINT) AS tj_u,
             CAST(FLOOR(ABS(m / {k}.0 - tj) * 1000000) AS BIGINT) AS err_u
      FROM pairs
    )
    SELECT COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(m) AS DOUBLE) / {k} / COUNT(*), 6) AS mean_est,
           ROUND(CAST(SUM(tj_u) AS DOUBLE) / 1000000 / COUNT(*), 6) AS mean_true,
           ROUND(CAST(SUM(err_u) AS DOUBLE) / 1000000 / COUNT(*), 6) AS mean_abs_err,
           ROUND(CAST(MAX(err_u) AS DOUBLE) / 1000000, 6) AS max_abs_err
    FROM scaled
    """


@query("dedup_minhash_est_accuracy", oracle=_minhash_accuracy_oracle())
def q_dedup_minhash_est_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation for the MinHash estimator — the
    dedup-side analogue of ann_recall_eval: over every LSH candidate
    pair, compare the signature estimate (matching components / k,
    E[est] = true Jaccard, σ = sqrt(J(1-J)/k)) against the exact
    shingle Jaccard, and summarize mean/max absolute error. This is
    the query you run before trusting signature-only dedup at scale
    (skipping the exact-verify join) or before resizing k. Float
    summaries are floor-scaled integer sums; est = m/16 is a power-of-
    two division, so every per-pair double is bit-identical in both
    engines. Scale shape: reuses the persisted signature frame and the
    banded candidate join — no all-pairs, no extra text scan."""
    k = TD.MINHASH_K
    sigs = _sigs_cached(spark, sf_dir)
    cand = TD.lsh_candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    joined = cand.join(sa, "id_a").join(sb, "id_b")
    m = sum(
        F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
        for i in range(k)
    )
    tj = TD.jaccard(F.col("sh_a"), F.col("sh_b"))
    per = joined.select(
        m.alias("m"),
        F.floor(tj * 1000000).cast("long").alias("tj_u"),
        F.floor(F.abs(m / float(k) - tj) * 1000000).cast("long").alias("err_u"),
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.alias("n_pairs"),
        F.round(F.sum("m").cast("double") / k / n, 6).alias("mean_est"),
        F.round(F.sum("tj_u").cast("double") / 1000000 / n, 6).alias("mean_true"),
        F.round(F.sum("err_u").cast("double") / 1000000 / n, 6).alias("mean_abs_err"),
        F.round(F.max("err_u").cast("double") / 1000000, 6).alias("max_abs_err"),
    )


def _dedup_agreement_oracle() -> str:
    """MinHash-verified pairs vs SimHash pairs, built from one WITH:
    the minhash CTE chain (toks/sh/sig/bands/cand/verified) plus a
    sx_-prefixed simhash chain reusing the same `toks`."""
    bits, chunks = 32, 4
    width = bits // chunks
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, v -> (v >> {j}) & 1 = 1)) - len(hs) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {c * width}) & {(1 << width) - 1} "
        f"AS chunk_val FROM sx_sig"
        for c in range(chunks)
    )
    return f"""
    WITH {_minhash_ctes(0.5)},
    mh AS (SELECT id_a, id_b FROM verified),
    sx_h AS (SELECT doc_id, list_transform(t, x -> {_md5i('x')}) AS hs FROM toks),
    sx_sig AS (SELECT doc_id, {bit_terms} AS simhash FROM sx_h),
    sx_chunks AS ({chunk_selects}),
    sx_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sx_chunks a JOIN sx_chunks b
        ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    ),
    sh_pairs AS (
      SELECT id_a, id_b
      FROM sx_cand
      JOIN sx_sig sa ON sa.doc_id = id_a
      JOIN sx_sig sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    )
    SELECT (SELECT COUNT(*) FROM mh) AS n_minhash,
           (SELECT COUNT(*) FROM sh_pairs) AS n_simhash,
           (SELECT COUNT(*) FROM mh JOIN sh_pairs USING (id_a, id_b)) AS n_both
    """


@query("dedup_family_agreement", oracle=_dedup_agreement_oracle())
def q_dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family dedup audit: how many near-dup pairs MinHash-LSH
    (set overlap, Jaccard ≥ 0.5) and SimHash (token-multiset bit
    votes, Hamming ≤ 3) each find, and how many they agree on. The
    two families have different blind spots (MinHash ignores
    repetition; SimHash is length-biased), so a production corpus
    pipeline monitors this overlap before trusting either alone — a
    collapse of n_both signals a corpus shift that broke one family's
    assumptions. Both pair sets come from the session-shared caches
    (_lsh_pairs_cached / _simhash_pairs_cached) — the sibling pair
    queries build the identical frames, so the tokenize-and-hash
    lineages run once per session, not once per consumer. Counts are
    exact integers."""
    mh = _lsh_pairs_cached(spark, sf_dir, threshold=0.5).select("id_a", "id_b")
    sh = _simhash_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    n_mh = mh.count()
    n_sh = sh.count()
    n_both = mh.join(sh, ["id_a", "id_b"]).count()
    return spark.range(1).select(
        F.lit(n_mh).cast("bigint").alias("n_minhash"),
        F.lit(n_sh).cast("bigint").alias("n_simhash"),
        F.lit(n_both).cast("bigint").alias("n_both"),
    )


@query(
    "corpus_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(0.5)},
    und AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b, id_a FROM verified
    ),
    reach(node, peer) AS (
      SELECT u, v FROM und
      UNION
      SELECT r.node, u2.v FROM reach r JOIN und u2 ON r.peer = u2.u
    ),
    clusters AS (
      SELECT node AS doc_id, least(node, MIN(peer)) AS cluster_id
      FROM reach GROUP BY node
    ),
    sided AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS gid,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS side
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT CAST(SUM(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN side = 'eval' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
           (SELECT COUNT(*) FROM verified v
             JOIN sided a ON a.doc_id = v.id_a
             JOIN sided b ON b.doc_id = v.id_b
            WHERE a.side <> b.side) AS n_leaky_pairs
    FROM sided
    """,
)
def q_corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split — the dedup-aware way to split a
    corpus: documents are assigned to sides by the portable hash of
    their NEAR-DUP CLUSTER id (connected components over the verified
    MinHash pairs; singletons use their own id), so two near-duplicate
    documents can never straddle the split and leak eval content into
    training. n_leaky_pairs counts verified pairs crossing sides —
    structurally zero here, and the metric a pipeline alarms on if the
    split is ever keyed on doc_id instead. ~80/20 by hash mod 10.
    Scale shape: clusters from the cached pair graph, one broadcast-
    size join of the (tiny) cluster map onto the doc scan, exact
    integer counts; the recursive-CTE oracle replays the same
    components."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs_cached(spark, sf_dir, threshold=0.5)
    clusters = TD.connected_components(pairs)
    sided = docs.select("doc_id").join(
        clusters.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("gid"),
    ).select(
        "doc_id",
        F.when(
            TA.md5_hash32(F.col("gid").cast("string")) % 10 < 8, "train"
        ).otherwise("eval").alias("side"),
    )
    sided = scratch_persist(sided)
    counts = sided.agg(
        F.sum(F.when(F.col("side") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("side") == "eval", 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval"),
    )
    leaky = (
        pairs.join(
            sided.select(F.col("doc_id").alias("id_a"), F.col("side").alias("side_a")),
            "id_a",
        )
        .join(
            sided.select(F.col("doc_id").alias("id_b"), F.col("side").alias("side_b")),
            "id_b",
        )
        .filter(F.col("side_a") != F.col("side_b"))
        .agg(F.count(F.lit(1)).alias("n_leaky_pairs"))
    )
    return counts.crossJoin(leaky)


_DOC_PROFILE_AGG_SQL = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN source = 'web' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_web
    FROM documents
    GROUP BY lang
"""


@query("doc_source_jsonl_roundtrip", oracle=_DOC_PROFILE_AGG_SQL)
def q_doc_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source coverage (sources.read_jsonl): write the documents
    table as newline-delimited JSON, read it back with an EXPLICIT
    schema (inference would be a second full scan at scale), and
    aggregate — the hash match against the parquet-sourced oracle
    proves the JSON round-trip is lossless for the profiled columns.
    JSON is the wire format most raw LLM-corpus drops arrive in; the
    explicit-schema read is the first stage of every such ingest."""
    import tempfile

    from flight_delay_prediction_using_pyspark_spark.sources.readers import read_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    path = tempfile.mkdtemp(prefix="docs_jsonl_")
    docs.write.mode("overwrite").json(path)
    back = read_jsonl(
        spark, path, "doc_id bigint, lang string, source string, text string"
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        F.sum(F.when(F.col("source") == "web", 1).otherwise(0))
        .cast("long")
        .alias("n_web"),
    )


@query("doc_source_orc_roundtrip", oracle=_DOC_PROFILE_AGG_SQL)
def q_doc_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink coverage (sources.read_orc): identical profile
    aggregate through an ORC round-trip — same pushdown/pruning
    machinery as parquet, the interchange format for Hive/Trino-first
    lakehouses. Oracle reads the original parquet, so a hash match
    proves the ORC path is lossless."""
    import tempfile

    from flight_delay_prediction_using_pyspark_spark.sources.readers import read_orc

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    path = tempfile.mkdtemp(prefix="docs_orc_")
    docs.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        F.sum(F.when(F.col("source") == "web", 1).otherwise(0))
        .cast("long")
        .alias("n_web"),
    )


@query(
    "doc_rare_token_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    occ AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
    tf AS (SELECT token, COUNT(*) AS c FROM occ GROUP BY token),
    ranked AS (
      SELECT token, c,
             row_number() OVER (ORDER BY c DESC, token ASC) AS rnk
      FROM tf
    ),
    per_doc AS (
      SELECT o.doc_id,
             COUNT(*) AS n_tok,
             CAST(SUM(r.rnk) AS BIGINT) AS rank_sum,
             CAST(SUM(CASE WHEN r.c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM occ o JOIN ranked r USING (token)
      GROUP BY o.doc_id
    )
    SELECT CAST((10 * n_rare) // n_tok AS BIGINT) AS rare_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(rank_sum) AS BIGINT) AS sum_rank,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM per_doc
    GROUP BY 1
    """,
)
def q_doc_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based corpus-quality scoring — the integer-exact surrogate
    for the LM-perplexity filter (CCNet-style): rank the vocabulary by
    corpus frequency, score each document by the sum of its tokens'
    ranks and its rare-token ratio (corpus count ≤ 2 — hapax/dis
    legomena mass: high ratio flags OCR junk and codes, near-zero
    flags boilerplate), then histogram documents by rare-ratio decile.
    Everything is integer arithmetic (ranks, counts), so the oracle is
    bit-exact — unlike log-prob scoring, whose ln() differs in final
    ulps across engines. Scale shape: token explode → vocab groupBy
    (partial aggs), then the vocab ranks via
    operators.windows.global_rank (one bounded sort task below the 4M
    threshold, a range-partitioned offset rank above it — 10⁸+-term
    web-scale vocabularies never hit a single task), token-keyed
    join back onto the occurrences — UNHINTED: the ranked vocabulary
    scales with the corpus (the same 10⁸-term web vocabulary the
    global_rank switch exists for would be gigabytes per executor if
    force-broadcast), the occurrence side already shuffles on token
    for the vocab groupBy so the exchange is co-partitioned, and AQE
    still broadcasts the vocab at runtime when it actually fits —
    then per-doc agg and a tiny histogram."""
    docs = spread_if_narrow(load_table(spark, sf_dir, "documents"))
    from flight_delay_prediction_using_pyspark_spark.operators.windows import global_rank

    occ = docs.select(
        "doc_id", F.explode(TA.tokens(F.col("text"))).alias("token")
    )
    # persisted: global_rank's auto-mode count, the ranking pass, and
    # the broadcast build below would otherwise each re-run the
    # corpus-wide explode+agg lineage
    tf = scratch_persist(occ.groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    ranked = global_rank(
        tf, [F.desc("c"), F.asc("token")], out_col="rnk"
    )
    per_doc = (
        occ.join(ranked, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("rnk").cast("long").alias("rank_sum"),
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    return per_doc.groupBy(
        ((F.lit(10) * F.col("n_rare")) / F.col("n_tok"))
        .cast("long")
        .alias("rare_decile")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("rank_sum").cast("long").alias("sum_rank"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, lang, t,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
               AS grams
      FROM toks
    ),
    gx AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM gx GROUP BY 1, 2),
    ga AS (
      SELECT doc_id,
             CAST(MAX(c) AS BIGINT) AS top_c,
             CAST(COUNT(*) AS BIGINT) AS n_dist,
             CAST(SUM(c) AS BIGINT) AS n_g
      FROM gc GROUP BY 1
    )
    SELECT g.doc_id, g.lang,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           COALESCE(n_g, 0) AS n_2grams,
           COALESCE(n_g - n_dist, 0) AS n_dup_2grams,
           COALESCE(top_c, 0) AS top_2gram_count,
           CAST(CASE WHEN COALESCE(n_g - n_dist, 0) * 5 > COALESCE(n_g, 0)
                       OR COALESCE(top_c, 0) * 25 > COALESCE(n_g, 0) * 2
                     THEN 1 ELSE 0 END AS BIGINT) AS repetitive
    FROM g LEFT JOIN ga USING (doc_id)
    """,
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter (Rae et al. 2021
    §A.1.1): per document, token/2-gram duplication counts, the
    most-frequent-2-gram multiplicity, and the integer-exact gate flag
    (duplicate-2-gram fraction > 0.2 OR top-2-gram fraction > 0.08 —
    compared by cross-multiplication, never a float ratio). The signal
    family that catches looping generators, scraped boilerplate, and
    keyword stuffing BEFORE any cross-document dedup runs.

    Scale: one struct-valued map-only JVM expression
    (text.analysis.repetition_stats) — no UDF; the top-2-gram
    multiplicity is a sort + linear fold (O(n log n) per doc), not a
    per-distinct-element rescan. Two deliberate shapes, both measured:
    the explode-of-1-element-array Generate barrier expands the struct
    without CollapseProject re-inlining it per field (HOFs are
    interpreted, no subexpression elimination — naive per-column
    emission cost ~6× this), and the repartition spreads the
    single-file test scan across cores (interpreted per-doc cost on a
    one-partition scan runs serially; at 100 TB the source is many
    files and the repartition drops out). 6.6 s → 0.7 s at sf0.1."""
    docs = spread_if_narrow(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(TA.repetition_stats(F.col("text")))).alias("__r"),
    ).select("doc_id", "lang", "__r.*")


@query(
    "corpus_span_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sized AS (
      SELECT doc_id, t, CAST((len(t) + 7) // 8 AS BIGINT) AS n_spans
      FROM toks
    ),
    ids AS (
      SELECT doc_id, t, n_spans,
             unnest(generate_series(0, n_spans - 1)) AS span_id
      FROM sized
    ),
    spans AS (
      SELECT doc_id, span_id,
             {_md5i60("array_to_string(t[(span_id * 8 + 1):(span_id * 8 + 8)], ' ')")}
               AS h
      FROM ids
    ),
    ranked AS (
      SELECT doc_id, span_id,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, span_id) AS rn
      FROM spans
    ),
    kept AS (
      SELECT doc_id, list(span_id ORDER BY span_id) AS k
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    joined AS (
      SELECT s.doc_id, s.n_spans, s.t,
             COALESCE(k, CAST([] AS BIGINT[])) AS k
      FROM sized s LEFT JOIN kept USING (doc_id)
    )
    SELECT doc_id, n_spans,
           CAST(len(k) AS BIGINT) AS n_kept,
           CAST(len(flatten([t[(i * 8 + 1):(i * 8 + 8)] FOR i IN k]))
                AS BIGINT) AS n_tokens_kept,
           {_md5i("COALESCE(array_to_string(flatten([t[(i * 8 + 1):(i * 8 + 8)] FOR i IN k]), ' '), '')")}
             AS kept_text_hash
    FROM joined
    """,
)
def q_corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document duplicated-span removal (Raffel et al.
    2020 §2.2, sentence spans → 8-token windows here): every distinct
    span keeps only its first (doc_id, span_id) occurrence corpus-wide;
    later copies — including within-document repeats — are cut. Output
    verifies the REWRITE, not just counts: per doc, spans before/after,
    surviving tokens, and the portable hash of the re-joined surviving
    text (text.corpus.span_dedup). Winners come from an associative
    min(struct) agg on the span hash — map-side partials, no window
    sort, and the shuffle carries (hash, ids) only, never text."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    return TC.span_dedup(docs, span_tokens=8)


@query(
    "corpus_mixture_plan",
    oracle=f"""
    WITH per AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS domain_tokens
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, domain_tokens,
             sqrt(CAST(domain_tokens AS DOUBLE)) AS wt
      FROM per
    ),
    d AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(wt ORDER BY lang)),
               (acc, x) -> acc + x) AS denom
      FROM w
    )
    SELECT lang, n_docs, domain_tokens,
           CAST(floor(1000000000.0 * wt / denom) AS BIGINT) AS share_scaled,
           CAST(floor(1000000.0 * wt / denom) AS BIGINT) AS planned_tokens,
           (CAST(floor(1000000.0 * wt / denom) AS BIGINT) * 1000)
             // domain_tokens AS epochs_milli
    FROM w, d
    """,
)
def q_corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted training-mixture plan (GPT-3 / XLM-R
    multinomial domain re-weighting, α = 1/2): per language, sampling
    weight ∝ sqrt(domain token count) — low-resource domains get a
    super-proportional share of a 1M-token budget; epochs_milli says
    how many passes over the domain fill its draw. α = 1/2 because
    IEEE sqrt is correctly rounded, and the weight denominator is a
    FIXED-ORDER fold over the lang-sorted in-row weight array — so
    every emitted double-derived integer is bit-portable and the query
    sits under the exact-hash oracle gate (text.corpus.mixture_plan)."""
    from flight_delay_prediction_using_pyspark_spark.text import corpus as TC

    docs = load_table(spark, sf_dir, "documents")
    return TC.mixture_plan(docs, budget_tokens=1_000_000)


def _bench_shingle_sql(pred: str) -> str:
    """Distinct 32-bit shingle hashes of the documents matching
    `pred` (same construction as the full-pipeline oracle)."""
    return f"""
      SELECT DISTINCT unnest(list_transform(
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                    ELSE [] END,
               x -> {_md5i('x')})) AS h
      FROM (SELECT {_TOKS} AS t FROM documents WHERE {pred})
    """


@query(
    "corpus_decontaminate_report",
    oracle=f"""
    WITH bh AS (
      SELECT 'holdout_a' AS benchmark, h FROM ({_bench_shingle_sql('doc_id % 50 = 0')})
      UNION ALL
      SELECT 'holdout_b', h FROM ({_bench_shingle_sql('doc_id % 50 = 25')})
    ),
    ct AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
      WHERE doc_id % 50 != 0 AND doc_id % 50 != 25
    ),
    ch AS (
      SELECT doc_id, unnest(list_transform(
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                    ELSE [] END,
               x -> {_md5i('x')})) AS h
      FROM ct
    ),
    flags AS (
      SELECT DISTINCT c.doc_id, b.benchmark FROM ch c JOIN bh b USING (h)
    )
    SELECT d.source, f.benchmark, COUNT(*) AS n_flagged
    FROM flags f JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_corpus_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark contamination report: which eval set leaks into
    which corpus slice — the census a training-data team actually
    tracks (one flag bit is not enough when several benchmarks are
    held out; a source×benchmark cell lighting up tells you WHICH
    pipeline drop stops the leak). Two synthetic holdouts (doc_id
    ≡ 0 and ≡ 25 mod 50) tag their distinct shingle-hash sets; the
    corpus side reuses the cached signature frame's sh_hashes —
    NO re-tokenization — and the tagged hash sets broadcast. Output:
    per (source, benchmark) flagged-doc counts, exact integers.

    Scale: corpus side shuffles (doc_id, 8-byte hash); the benchmark
    union stays broadcast-sized by construction (eval sets ≪ corpus);
    flags dedupe on (doc_id, benchmark) before the tiny census agg."""
    from flight_delay_prediction_using_pyspark_spark.text.corpus import shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    bench_hashes = None
    for name, rem in (("holdout_a", 0), ("holdout_b", 25)):
        bh = (
            docs.filter(F.col("doc_id") % 50 == rem)
            .select(F.explode(shingle_hashes(F.col("text"), 3)).alias("h"))
            .distinct()
            .withColumn("benchmark", F.lit(name))
        )
        bench_hashes = bh if bench_hashes is None else bench_hashes.unionAll(bh)
    corpus_ids = docs.filter(
        (F.col("doc_id") % 50 != 0) & (F.col("doc_id") % 50 != 25)
    ).select("doc_id")
    corpus_pairs = (
        _sigs_cached(spark, sf_dir)
        .select("doc_id", F.explode("sh_hashes").alias("h"))
        .join(corpus_ids, "doc_id", "left_semi")
    )
    flags = (
        corpus_pairs.join(F.broadcast(bench_hashes), "h")
        .select("doc_id", "benchmark")
        .distinct()
    )
    return (
        flags.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "benchmark")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


@query(
    "doc_lm_perplexity_buckets",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    tr_toks AS (SELECT unnest(t) AS w FROM d WHERE lang = 'en'),
    uni AS (SELECT w, COUNT(*) AS cu FROM tr_toks GROUP BY w),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    tr_big AS (
      SELECT t[i-1] AS w1, t[i] AS w2
      FROM (SELECT t FROM d WHERE lang = 'en') tr,
           unnest(generate_series(2, len(t))) AS g(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS cb FROM tr_big GROUP BY w1, w2),
    probe AS (
      SELECT doc_id, t[i-1] AS w1, t[i] AS w2
      FROM d, unnest(generate_series(2, len(t))) AS g(i)
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(floor(100000 * ln((COALESCE(b.cb, 0) + 1.0) /
                  (COALESCE(u.cu, 0) + v.v + 0.0))) AS BIGINT) AS q
      FROM probe p
      LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
      LEFT JOIN uni u ON p.w1 = u.w
      CROSS JOIN vocab v
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(q) AS BIGINT) // COUNT(*) AS avg_q
      FROM scored GROUP BY doc_id
    )
    SELECT lang,
           CASE WHEN avg_q IS NULL THEN 'short'
                WHEN avg_q >= -340000 THEN 'fluent'
                WHEN avg_q >= -346000 THEN 'mid'
                ELSE 'weird' END AS ppl_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(COALESCE(avg_q, 0)) AS BIGINT) AS sum_avg_logp_q
    FROM d LEFT JOIN per_doc USING (doc_id)
    GROUP BY lang, ppl_bucket
    """,
)
def q_doc_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (analysis.bigram_lm_doc_scores):
    an add-one bigram LM fit on the lang='en' slice scores every
    document's average log-probability; documents bucket into
    fluent / mid / weird (plus short for <2 tokens), reported per
    labeled language. 'en' docs concentrate in 'fluent' and the other
    languages sink — the perplexity filter a training-data pipeline
    runs before mixing. ln() is floor-quantized to 1e-5 (integer
    comparisons cross-engine, the TF-IDF precedent); averages are
    exact integer division. Counts build in two hash aggs; the probe
    joins are key-partitioned shuffle equi-joins — no driver vocab,
    no broadcast of the big side, the same plan at 100 TB. The shared
    train intermediates (token arrays, unigram counts) scratch-persist
    so the 'en' slice is scanned+tokenized once, not per consumer
    (round-7: 5 parquet scans → 3).

    The doc_id hash-repartition spreads the interpreted tokenize +
    bigram-probe passes across every core (guide §2: single-file scan
    = one task otherwise; profiled 3.9 s single-task scoring at
    sf0.1); only (doc_id, lang, text) shuffles."""
    docs = spread_if_narrow(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    scores = TA.bigram_lm_doc_scores(docs, docs.filter(F.col("lang") == "en"))
    j = docs.select("doc_id", "lang").join(scores, "doc_id", "left")
    bucket = (
        F.when(F.col("avg_logp_q").isNull(), "short")
        .when(F.col("avg_logp_q") >= -340000, "fluent")
        .when(F.col("avg_logp_q") >= -346000, "mid")
        .otherwise("weird")
    )
    return j.groupBy("lang", bucket.alias("ppl_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("avg_logp_q"), F.lit(0)))
        .cast("long")
        .alias("sum_avg_logp_q"),
    )


@query(
    "corpus_importance_resample",
    oracle=f"""
    {_PROFILE_CTE}
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE kept) AS n_kept,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE kept), 0) AS BIGINT)
             AS kept_tokens
    FROM (
      SELECT d.lang, s.n_tokens,
             (CAST(concat('0x', substr(md5(concat('rs_', d.doc_id)), 1, 8))
                   AS BIGINT) / 4294967296.0)
               < ROUND({_QUALITY_SQL}, 6) AS kept
      FROM scored s JOIN documents d USING (doc_id)
    )
    GROUP BY lang
    """,
)
def q_corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling (the DCLM/DataComp-LM
    move): keep each document with probability equal to its quality
    score, via the engine's deterministic md5-uniform — u(doc) < q(doc)
    — instead of an RNG, so the SAMPLE ITSELF is reproducible across
    engines, partitionings, and reruns (the property seeded Bernoulli
    sampling cannot give, per lineitem_bernoulli_sample). Map-only
    filter + one per-language agg; the acceptance test pushes to the
    scan like any other predicate. Reports per-language doc/token
    retention — the mixing dashboard after a weighted downsample."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        TA.md5_hash32(F.concat(F.lit("rs_"), F.col("doc_id").cast("string")))
        / F.lit(4294967296.0)
    )
    kept = u < F.round(TA.quality_score(F.col("text")), 6)
    return (
        docs.select(
            "lang",
            TA.token_count(F.col("text")).alias("n_tokens"),
            kept.alias("kept"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
            ).cast("long").alias("kept_tokens"),
        )
    )


@query(
    "doc_bpe_merge_candidates",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, freq
      FROM tf, unnest(generate_series(1, length(tok) - 1)) AS g(i)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
)
def q_doc_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration (Sennrich et al., ACL'16):
    corpus-wide adjacent character-pair frequencies — the argmax is
    the first merge a byte-pair tokenizer would learn. Counting runs
    over the DISTINCT-token frequency table, not the raw token stream
    (the standard BPE trick: pair work scales with vocabulary, not
    corpus size — at 100 TB the distinct-token frame is orders of
    magnitude smaller than the token stream, and the explode fans out
    per distinct token only). Exact integer counts; top-20 is a
    TakeOrderedAndProject with the lexicographic tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(TA.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # substring with a dynamic start comes via expr(); the sequence
    # stop is clamped to 1 so sub-2-char tokens never descend, and the
    # resulting 1-char "pairs" are filtered (the oracle's
    # generate_series(1, len-1) simply generates nothing for them).
    pairs = tf.select(
        F.col("freq"),
        F.explode(
            F.expr("transform(sequence(1, greatest(length(tok) - 1, 1)), i -> substring(tok, i, 2))")
        ).alias("pair"),
    ).filter(F.length("pair") == 2)
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


@query(
    "doc_token_pmi_pairs",
    oracle=r"""
    WITH d AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    toks AS (SELECT unnest(t) AS w FROM d),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    nt AS (SELECT COUNT(*) AS n FROM toks),
    bigr AS (
      SELECT t[i-1] AS w1, t[i] AS w2
      FROM d, unnest(generate_series(2, len(t))) AS g(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2),
    nb AS (SELECT COUNT(*) AS n FROM bigr),
    scored AS (
      SELECT b.w1, b.w2, b.c12,
             CAST(floor(100000 * ln(((b.c12 + 0.0) * nt.n * nt.n)
                                    / ((nb.n + 0.0) * u1.c * u2.c)))
                  AS BIGINT) AS pmi_q
      FROM big b
      JOIN uni u1 ON b.w1 = u1.w
      JOIN uni u2 ON b.w2 = u2.w
      CROSS JOIN nt CROSS JOIN nb
      WHERE b.c12 >= 5
    )
    SELECT w1, w2, c12, pmi_q
    FROM scored
    ORDER BY pmi_q DESC, w1, w2
    LIMIT 20
    """,
)
def q_doc_token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent token pairs by pointwise
    mutual information, PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with a
    c12 ≥ 5 support floor (Church & Hanks, CL'90 — the phrase-mining
    pass a tokenizer/embedding pipeline runs to promote multi-word
    units). The probability ratio is assembled in one fixed operand
    order on both engines and ln() floor-quantized to 1e-5 (the
    TF-IDF precedent), so ranking integers match bit-for-bit. Counts
    are two hash aggs (one token pass, one bigram pass — round 7
    dropped the two extra corpus scans: the N_tokens/N_bigrams
    scalars are Σcounts over the PERSISTED vocab-scale aggregates,
    not fresh passes over the occurrence streams); scalars ride
    broadcast one-row cross joins; the unigram joins key-partition
    on the word — no driver vocab and no corpus-scale cache at any
    scale (the persisted frames are vocabulary-sized).

    The doc_id hash-repartition spreads the interpreted tokenize +
    explode passes across every core (guide §2: the single-file scan
    otherwise runs them on ONE task — profiled 4.6-7.1 s single-task
    at sf0.1 on 32 cores); only (doc_id, text) shuffles."""
    docs = spread_if_narrow(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    toks = docs.select(F.explode(TA.tokens(F.lower(F.col("text")))).alias("w"))
    uni = scratch_persist(toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    nt = uni.agg(F.sum("c").alias("n_t"))
    bigr = docs.select(
        F.explode(TA.token_bigram_pairs(F.lower(F.col("text")))).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = scratch_persist(bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    nb = big.agg(F.sum("c12").alias("n_b"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi_q = F.floor(
        100000
        * F.log(
            ((F.col("c12") + 0.0) * F.col("n_t") * F.col("n_t"))
            / ((F.col("n_b") + 0.0) * F.col("c1") * F.col("c2"))
        )
    ).cast("long")
    return (
        big.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select("w1", "w2", "c12", pmi_q.alias("pmi_q"))
        .orderBy(F.desc("pmi_q"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@query(
    "corpus_weighted_sample_topk",
    oracle=f"""
    {_PROFILE_CTE}
    SELECT doc_id, lang, n_tokens, key_q
    FROM (
      SELECT d.doc_id, d.lang, s.n_tokens,
             CAST(floor(1000000 * ln((CAST(concat('0x',
                    substr(md5(concat('ws_', d.doc_id)), 1, 8)) AS BIGINT)
                    + 1) / 4294967296.0)
                  / ROUND({_QUALITY_SQL}, 6)) AS BIGINT) AS key_q
      FROM scored s JOIN documents d USING (doc_id)
      WHERE ROUND({_QUALITY_SQL}, 6) > 0
    )
    ORDER BY key_q DESC, doc_id
    LIMIT 50
    """,
)
def q_corpus_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling without replacement
    (Efraimidis-Spirakis, IPL'06): each document draws the key
    u^(1/w) — here ln(u)/w with the deterministic md5-uniform u and
    w = quality score — and the k largest keys ARE a weighted sample
    without replacement. The fixed-k companion to
    corpus_importance_resample's per-doc acceptance: budgeted corpus
    selection ("best 50 docs, quality-weighted, reproducibly").
    Zero-weight docs are excluded (their key diverges). ln() is
    floor-quantized to 1e-6; the whole operator is a per-row key plus
    TakeOrderedAndProject — partition-local top-k, no shuffle of the
    corpus, deterministic across engines, partitionings, and
    retries."""
    docs = load_table(spark, sf_dir, "documents")
    # One Generate barrier materializes (w, n_tokens): the weight
    # feeds both the zero-weight filter and the E-S key, and filter
    # pushdown would otherwise re-inline the full scoring expression
    # into each (round-12 plan audit).
    base = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                F.struct(
                    F.round(TA.quality_score(F.col("text")), 6).alias("w"),
                    TA.token_count(F.col("text")).alias("n_tokens"),
                )
            )
        ).alias("__s"),
    ).select("doc_id", "lang", "__s.w", "__s.n_tokens")
    u = (
        TA.md5_hash32(F.concat(F.lit("ws_"), F.col("doc_id").cast("string")))
        + F.lit(1)
    ) / F.lit(4294967296.0)
    key_q = F.floor(1000000 * F.log(u) / F.col("w")).cast("long")
    return (
        base.filter(F.col("w") > 0)
        .select("doc_id", "lang", "n_tokens", key_q.alias("key_q"))
        .orderBy(F.desc("key_q"), F.asc("doc_id"))
        .limit(50)
    )


@query(
    "doc_script_mismatch_census",
    oracle=r"""
    WITH m AS (
      SELECT lang,
             length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
               AS cjk,
             length(lower(text)) - length(regexp_replace(lower(text), '[a-z]', '', 'g'))
               AS latin
      FROM documents
    )
    SELECT lang,
           CASE WHEN cjk * 2 > cjk + latin THEN 'cjk' ELSE 'latin' END
             AS dominant_script,
           COUNT(*) AS n_docs,
           CAST(SUM(cjk) AS BIGINT) AS sum_cjk_chars,
           CAST(SUM(latin) AS BIGINT) AS sum_latin_chars
    FROM m
    GROUP BY lang, dominant_script
    """,
)
def q_doc_script_mismatch_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-vs-label sanity census — the cheap Unicode-script cross
    check every language-ID pipeline runs before trusting labels: a
    'zh'-labeled doc whose characters are overwhelmingly Latin (or
    vice versa) is mislabeled or transliterated. Char counting uses
    the replace-length trick (no per-char explode) with a CJK class
    expressible in BOTH Java regex and RE2; dominance is an integer
    cross-multiplication, so no float ratio crosses engines. Map-only
    + one tiny grouped agg — zero-shuffle scale shape. On the
    synthetic corpus the alarm genuinely fires: every 'zh'-labeled
    doc is Latin-dominant (the generator writes romanized text), which
    is exactly the label-vs-content inconsistency this audit reports."""
    docs = load_table(spark, sf_dir, "documents")
    cjk = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[一-鿿]", "")
    )
    lowered = F.lower(F.col("text"))
    latin = F.length(lowered) - F.length(F.regexp_replace(lowered, "[a-z]", ""))
    m = docs.select("lang", cjk.alias("cjk"), latin.alias("latin"))
    dominant = F.when(
        F.col("cjk") * 2 > F.col("cjk") + F.col("latin"), "cjk"
    ).otherwise("latin")
    return m.groupBy("lang", dominant.alias("dominant_script")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("cjk").cast("long").alias("sum_cjk_chars"),
        F.sum("latin").cast("long").alias("sum_latin_chars"),
    )


@query(
    "corpus_pack_efficiency",
    oracle=r"""
    WITH d AS (
      SELECT len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM documents
    ),
    l AS (SELECT unnest([128, 256, 512, 1024]) AS max_len)
    SELECT max_len,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_tokens,
           CAST(SUM((n + max_len - 1) // max_len) AS BIGINT) AS n_sequences,
           CAST(SUM(((n + max_len - 1) // max_len) * max_len - n) AS BIGINT)
             AS padding_waste,
           CAST((1000000 * CAST(SUM(((n + max_len - 1) // max_len) * max_len
                                    - n) AS HUGEINT))
                // SUM(((n + max_len - 1) // max_len) * max_len) AS BIGINT)
             AS waste_ppm
    FROM d CROSS JOIN l
    GROUP BY max_len
    """,
)
def q_corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length budgeting audit: for each candidate training
    max_len, the number of per-document sequences and the padding
    waste if documents are chunked WITHOUT cross-document packing —
    the before-picture that justifies corpus_pack_sequences, and the
    dashboard a pipeline reads to pick max_len. One map pass computes
    token counts; the 4-row length table broadcasts; ceil-division
    and the waste ratio are exact integer arithmetic (ppm via scaled
    integer division), so every number is engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    lens = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (128, 256, 512, 1024)])).alias(
            "max_len"
        )
    )
    d = docs.select(TA.token_count(F.col("text")).alias("n"))
    seqs = F.expr("(n + max_len - 1) DIV max_len")
    return (
        d.crossJoin(F.broadcast(lens))
        .groupBy("max_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("sum_tokens"),
            F.sum(seqs).cast("long").alias("n_sequences"),
            F.sum(seqs * F.col("max_len") - F.col("n"))
            .cast("long")
            .alias("padding_waste"),
            F.expr(
                "CAST((1000000 * CAST(sum(((n + max_len - 1) DIV max_len)"
                " * max_len - n) AS DECIMAL(38,0)))"
                " DIV sum(((n + max_len - 1) DIV max_len) * max_len)"
                " AS BIGINT)"
            ).alias("waste_ppm"),
        )
    )


@query(
    "doc_tokenizer_fertility",
    oracle=rf"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+')))
                AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TA.BPE_ISH_PATTERN}')))
                AS BIGINT) AS bpe_tokens,
           CAST((1000000 * CAST(SUM(len(regexp_extract_all(text,
                                        '{TA.BPE_ISH_PATTERN}'))) AS HUGEINT))
                // SUM(len(string_split_regex(trim(lower(text)), '\s+')))
                AS BIGINT) AS fertility_ppm
    FROM documents
    GROUP BY lang
    """,
)
def q_doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-style pre-tokenizer
    pieces per whitespace word (the standard metric for how expensive
    a language is under a tokenizer — high fertility = more compute
    per word). Map-only counting with the replace/extract built-ins,
    one 5-group agg; the ratio is scaled integer division, so the
    oracle hash-matches without any float crossing engines. (The
    synthetic corpus is punctuation-free whitespace text, so fertility
    is exactly 1.0 for every language — the discriminating signal
    appears on real punctuated/CJK corpora.)"""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        TA.token_count(F.lower(F.col("text"))).alias("ws"),
        TA.bpe_ish_token_count(F.col("text")).alias("bpe"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.expr(
            "CAST((1000000 * CAST(sum(bpe) AS DECIMAL(38,0))) DIV sum(ws)"
            " AS BIGINT)"
        ).alias(
            "fertility_ppm"
        ),
    )


_INGEST_SPLIT = 400  # doc_id >= split = "newly ingested batch"


@query(
    "corpus_incremental_ingest_dedup",
    oracle=f"""
    WITH {_minhash_ctes(0.5)},
    exact_dup AS (
      SELECT DISTINCT b.doc_id
      FROM documents b JOIN documents c
        ON md5(b.text) = md5(c.text)
       AND b.doc_id >= {_INGEST_SPLIT} AND c.doc_id < {_INGEST_SPLIT}
    ),
    near_ids AS (
      SELECT DISTINCT id_b AS doc_id FROM verified
      WHERE id_a < {_INGEST_SPLIT} AND id_b >= {_INGEST_SPLIT}
    )
    SELECT COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE e.doc_id IS NOT NULL) AS n_exact_dup,
           COUNT(*) FILTER (WHERE e.doc_id IS NULL AND nr.doc_id IS NOT NULL)
             AS n_near_dup,
           COUNT(*) FILTER (WHERE e.doc_id IS NULL AND nr.doc_id IS NULL)
             AS n_accepted
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_INGEST_SPLIT}) b
    LEFT JOIN exact_dup e USING (doc_id)
    LEFT JOIN near_ids nr USING (doc_id)
    """,
)
def q_corpus_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the DAILY shape of corpus dedup:
    a newly arrived batch (doc_id ≥ split stands in for today's crawl)
    is screened against the EXISTING corpus, not against itself.
    Exact screen: md5 content-hash semi-join. Near screen: the batch's
    LSH band buckets equi-join the corpus's buckets (cross-frame, so
    candidate work is confined to shared buckets exactly like the
    self-join variant), then exact-Jaccard ≥ 0.5 verification.
    Reports batch size, exact hits, near hits, accepted. At 100 TB the
    corpus side's signatures/buckets are precomputed and stored
    partitionBy(band) — the daily job only shingles the batch; here
    both sides derive inline from one shared signature frame."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") >= _INGEST_SPLIT
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    exact_ids = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(corpus.select(F.md5("text").alias("h")), "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    sigs = TD.minhash_signatures(docs)
    buckets = TD.lsh_band_buckets(sigs)
    cand = (
        buckets.filter(F.col("doc_id") < _INGEST_SPLIT)
        .select("band", "band_hash", F.col("doc_id").alias("id_a"))
        .join(
            buckets.filter(F.col("doc_id") >= _INGEST_SPLIT).select(
                "band", "band_hash", F.col("doc_id").alias("id_b")
            ),
            ["band", "band_hash"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sh = sigs.select("doc_id", "shingles")
    near_ids = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .filter(TD.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(near_ids, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count(F.col("is_exact")).alias("n_exact_dup"),
            F.count(F.when(F.col("is_exact").isNull() & F.col("is_near").isNotNull(), 1))
            .alias("n_near_dup"),
            F.count(F.when(F.col("is_exact").isNull() & F.col("is_near").isNull(), 1))
            .alias("n_accepted"),
        )
    )


@query(
    "corpus_streaming_ingest_dedup",
    oracle=f"""
    WITH {_minhash_ctes(0.5)},
    hx AS (
      SELECT doc_id, md5(text) AS h,
             CAST((doc_id * 4) // ((SELECT MAX(doc_id) FROM documents) + 1)
                  AS BIGINT) AS phase
      FROM documents
    ),
    exact_dup AS (
      SELECT DISTINCT a.doc_id FROM hx a
      JOIN hx b ON a.h = b.h AND b.doc_id < a.doc_id
    ),
    near AS (SELECT DISTINCT id_b AS doc_id FROM verified)
    SELECT CAST((SELECT COUNT(DISTINCT phase) FROM hx) AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE e.doc_id IS NOT NULL) AS BIGINT)
             AS n_exact_dup,
           CAST(COUNT(*) FILTER (WHERE e.doc_id IS NULL
                                 AND nr.doc_id IS NOT NULL) AS BIGINT)
             AS n_near_dup,
           CAST(COUNT(*) FILTER (WHERE e.doc_id IS NULL
                                 AND nr.doc_id IS NULL) AS BIGINT)
             AS n_accepted
    FROM hx
    LEFT JOIN exact_dup e USING (doc_id)
    LEFT JOIN near nr USING (doc_id)
    """,
)
def q_corpus_streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-index maintenance — the ingest half the batch
    screens (corpus_incremental_ingest_dedup) assume exists: documents
    arrive as a readStream in 4 micro-batches, and each foreachBatch
    computes the batch's content hashes, minhash signatures, and LSH
    band buckets ONCE and APPENDS them to the store — hashes, shingle
    sets, and buckets partitionBy(band), the layout the daily screen's
    band-equi-join prunes to. Pure append, no store read inside the
    batch (the read-after-write foreachBatch hazard never arises).

    The dedup verdict is then computed FROM THE STORE the stream
    built (the ann_ivf_two_level_streaming_ingest pattern: the census
    is read back from the ingested artifact): a document is an exact
    dup iff a SMALLER doc_id carries the same content hash, else a
    near dup iff it shares ≥1 band bucket with a smaller doc_id whose
    exact shingle-Jaccard ≥ 0.5. "Earlier" is defined by the DATA
    (doc_id), not by arrival order, so the census is identical under
    any stream chop — the batch/stream symmetry contract — and the
    oracle replays it one-shot over `documents`.

    Scale shape: per-batch work is the map-side shingle+sign pass
    over the batch only (the store is never rescanned at ingest); the
    verdict's candidate join is the same short-key band equi-join as
    every LSH query, against a store partitioned BY BAND so a daily
    screen prunes to the bands its batch occupies."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = int(docs.agg(F.max("doc_id")).first()[0])
    stage = tempfile.mkdtemp(prefix="ingest_dedup_src_")
    (
        docs.withColumn(
            "phase",
            F.expr(f"CAST((doc_id * 4) DIV {max_id + 1} AS INT)"),
        )
        .repartition("phase")
        .write.mode("overwrite")
        .partitionBy("phase")
        .parquet(stage)
    )
    hash_dir = tempfile.mkdtemp(prefix="ingest_dedup_hash_")
    bucket_dir = tempfile.mkdtemp(prefix="ingest_dedup_buckets_")
    sh_dir = tempfile.mkdtemp(prefix="ingest_dedup_sh_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("basePath", stage)
        .parquet(f"{stage}/phase=*")
    )
    # loop-invariant expression bundles, built ONCE outside the
    # micro-batch body (round-14, guide §4 driver boundary): the
    # shingle/digest/signature and band-struct trees cost ~0.5 s of
    # py4j construction per build — per BATCH before this hoist
    sig_exprs = TD.minhash_signature_exprs()
    band_structs = TD.lsh_band_structs()
    phase = F.expr(f"CAST((doc_id * 4) DIV {max_id + 1} AS INT)")

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        from flight_delay_prediction_using_pyspark_spark.plans.queries import (
            run_concurrently,
        )

        # persist the batch signatures: the shingle store and the
        # band-bucket store both consume them, and without the persist
        # the shingle+minhash pass runs twice per micro-batch
        sigs_b = TD.minhash_signatures(batch_df, exprs=sig_exprs).persist()
        try:
            # the three sinks are independent appends to three stores
            # (different directories — no commit-protocol interaction);
            # overlap them within the micro-batch (guide §2.6)
            run_concurrently(
                lambda: (
                    batch_df.select(
                        "doc_id", phase.alias("phase"), F.md5("text").alias("h")
                    )
                    .write.mode("append")
                    .parquet(hash_dir)
                ),
                lambda: (
                    sigs_b.select("doc_id", "shingles")
                    .write.mode("append")
                    .parquet(sh_dir)
                ),
                lambda: (
                    TD.lsh_band_buckets(sigs_b, band_structs=band_structs)
                    .write.mode("append")
                    .partitionBy("band")
                    .parquet(bucket_dir)
                ),
            )
        finally:
            sigs_b.unpersist()

    try:
        drain_batches(stream, ingest)
        hx = spark.read.parquet(hash_dir)
        buckets = spark.read.option("basePath", bucket_dir).parquet(bucket_dir)
        sh = spark.read.parquet(sh_dir)
        exact_ids = (
            hx.alias("a")
            .join(
                hx.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("b.doc_id") < F.col("a.doc_id")),
                "left_semi",
            )
            .select("doc_id")
            .withColumn("is_exact", F.lit(True))
        )
        cand = (
            buckets.select("band", "band_hash", F.col("doc_id").alias("id_a"))
            .join(
                buckets.select(
                    "band", "band_hash", F.col("doc_id").alias("id_b")
                ),
                ["band", "band_hash"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        near_ids = (
            cand.join(
                sh.select(
                    F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
                ),
                "id_a",
            )
            .join(
                sh.select(
                    F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
                ),
                "id_b",
            )
            .filter(TD.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
            .withColumn("is_near", F.lit(True))
        )
        row = (
            hx.select("doc_id", "phase")
            .join(exact_ids.select("doc_id", "is_exact"), "doc_id", "left")
            .join(near_ids, "doc_id", "left")
            .agg(
                F.countDistinct("phase").cast("long").alias("n_batches"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.count(F.col("is_exact")).cast("long").alias("n_exact_dup"),
                F.count(
                    F.when(
                        F.col("is_exact").isNull() & F.col("is_near").isNotNull(),
                        1,
                    )
                ).cast("long").alias("n_near_dup"),
                F.count(
                    F.when(
                        F.col("is_exact").isNull() & F.col("is_near").isNull(), 1
                    )
                ).cast("long").alias("n_accepted"),
            )
            .first()
        )
    finally:
        for d in (stage, hash_dir, bucket_dir, sh_dir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(row)],
        "n_batches long, n_docs long, n_exact_dup long, "
        "n_near_dup long, n_accepted long",
    )


@query(
    "corpus_dedup_store_compaction",
    oracle=f"""
    WITH {_minhash_ctes(0.5)},
    near_ids AS (
      SELECT DISTINCT id_b AS doc_id FROM verified
      WHERE id_a < {_INGEST_SPLIT} AND id_b >= {_INGEST_SPLIT}
    )
    SELECT CAST((SELECT COUNT(DISTINCT band) FROM bands
                 WHERE doc_id < {_INGEST_SPLIT}) AS BIGINT) AS n_bands,
           CAST((SELECT COUNT(*) FROM bands
                 WHERE doc_id < {_INGEST_SPLIT}) AS BIGINT) AS n_store_rows,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(COUNT(*) FILTER (WHERE nr.doc_id IS NOT NULL) AS BIGINT)
             AS n_near_dup,
           CAST(COUNT(*) FILTER (WHERE nr.doc_id IS NULL) AS BIGINT)
             AS n_accepted,
           TRUE AS contract_ok
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_INGEST_SPLIT}) b
    LEFT JOIN near_ids nr USING (doc_id)
    """,
)
def q_corpus_dedup_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-store MAINTENANCE — the missing half of the
    corpus_streaming_ingest_dedup lifecycle (round-12 verdict item 7):
    the band-partitioned LSH bucket store accumulates small files
    under continued appends (fixture: one 8-task fan-out append
    leaving 8 files per band directory — the layout a day of ingest
    batches accretes), periodic compaction
    (layout.compact_partitioned — per-partition OPTIMIZE, in-place,
    idempotent) rewrites each fragmented band directory to its
    target-size file count, and the daily screen then runs against
    the COMPACTED store: the batch's band buckets equi-join the
    store's (short-key candidates, band-pruned scan), exact
    shingle-Jaccard ≥ 0.5 verifies.

    Both halves of the maintenance contract are pinned: DATA — the
    oracle independently rederives from `documents` what the store
    must contain (n_store_rows = the corpus's band-bucket rows) and
    what the screen must report (n_near_dup/n_accepted), so losing
    even one row in the rewrite hash-mismatches; PHYSICAL —
    contract_ok asserts the store shrank to exactly one file per
    band directory, every band directory survived, the screen's
    single-band pruned read touches fewer files than before
    compaction, and zero rows were lost (before/after counts equal).

    Scale shape: appends never rescan the store; compaction cost is
    proportional to the fragmented partitions only (driver lists
    directories, each rewrite is a distributed job over one
    partition's files); the screen is the same band equi-join as
    every LSH query against a store whose per-band file count is now
    1 — the listing/footer overhead a 100 TB daily screen would
    otherwise pay 4×/day forever."""
    import glob
    import os
    import shutil
    import tempfile

    from flight_delay_prediction_using_pyspark_spark.operators import layout as L

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # persist the signature frame ONCE: the 4 append passes, the
    # batch-side buckets, and both shingle sides of the screen's
    # verify join otherwise re-run the whole shingle+minhash lineage
    # per consumer (guide §5 caching: ~6 rescans measured before)
    sigs = scratch_persist(TD.minhash_signatures(docs))
    buckets = TD.lsh_band_buckets(sigs)
    corpus_buckets = buckets.filter(F.col("doc_id") < _INGEST_SPLIT)
    store = tempfile.mkdtemp(prefix="dedup_store_")

    def n_files(pattern: str = "band=*") -> int:
        return len(
            [
                f
                for f in glob.glob(os.path.join(store, pattern, "part-*"))
                if not f.endswith(".crc")
            ]
        )

    try:
        # Fragmented-store fixture in ONE fan-out write (round-14,
        # guide §2.6/§6 small-files): the old fixture replayed a day
        # of 6-hourly ingest batches as 4 sequential append jobs, each
        # re-walking the bucket lineage. One 8-task append (doc_id
        # hash fan-out; 8 is the fixture's files-per-band shape, not a
        # core-count constant) leaves the same fragmented layout the
        # compaction contract needs — >= 2 files in every band
        # directory — with the lineage touched once. The store
        # CONTENT is identical either way (same rows, band layout);
        # only the measured operators (compaction + pruned screen)
        # matter downstream, and contract_ok still asserts real
        # fragmentation collapsed to 1 file/band.
        (
            corpus_buckets.repartition(8, "doc_id")
            .write.mode("append")
            .partitionBy("band")
            .parquet(store)
        )
        files_before = n_files()
        band_dirs_before = len(glob.glob(os.path.join(store, "band=*")))
        pruned_before = n_files("band=0")
        rows_before = spark.read.parquet(store).count()

        compacted = L.compact_partitioned(
            spark, store, "band", target_file_bytes=512 * 1024 * 1024
        )

        files_after = n_files()
        band_dirs_after = len(glob.glob(os.path.join(store, "band=*")))
        pruned_after = n_files("band=0")
        store_buckets = spark.read.option("basePath", store).parquet(store)
        rows_after = store_buckets.count()

        batch_buckets = buckets.filter(F.col("doc_id") >= _INGEST_SPLIT)
        cand = (
            store_buckets.select(
                F.col("band").cast("int").alias("band"),
                "band_hash",
                F.col("doc_id").alias("id_a"),
            )
            .join(
                batch_buckets.select(
                    F.col("band").cast("int").alias("band"),
                    "band_hash",
                    F.col("doc_id").alias("id_b"),
                ),
                ["band", "band_hash"],
            )
            .select("id_a", "id_b")
            .distinct()
        )
        sh = sigs.select("doc_id", "shingles")
        near_ids = (
            cand.join(
                sh.select(
                    F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
                ),
                "id_a",
            )
            .join(
                sh.select(
                    F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
                ),
                "id_b",
            )
            .filter(TD.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
            .withColumn("is_near", F.lit(True))
        )
        contract_ok = bool(
            files_after < files_before
            and band_dirs_after == band_dirs_before
            and files_after == band_dirs_after
            and len(compacted) == band_dirs_after
            and pruned_after < pruned_before
            and pruned_after == 1
            and rows_after == rows_before
        )
        row = (
            docs.filter(F.col("doc_id") >= _INGEST_SPLIT)
            .select("doc_id")
            .join(near_ids, "doc_id", "left")
            .agg(
                F.lit(band_dirs_after).cast("long").alias("n_bands"),
                F.lit(rows_after).cast("long").alias("n_store_rows"),
                F.count(F.lit(1)).cast("long").alias("n_batch"),
                F.count(F.col("is_near")).cast("long").alias("n_near_dup"),
                F.count(F.when(F.col("is_near").isNull(), 1))
                .cast("long")
                .alias("n_accepted"),
                F.lit(contract_ok).alias("contract_ok"),
            )
            .first()
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(row)],
        "n_bands long, n_store_rows long, n_batch long, "
        "n_near_dup long, n_accepted long, contract_ok boolean",
    )


@query(
    "corpus_normalization_gain",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_raw_distinct,
           COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             AS n_norm_distinct,
           COUNT(DISTINCT md5(text))
             - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
             AS n_merged
    FROM documents
    GROUP BY lang
    """,
)
def q_corpus_normalization_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization gain audit: how many additional duplicate
    groups exact dedup would merge if the corpus were normalized first
    (lowercase + whitespace-collapse + trim — the cheap prefix of
    NFKC-style canonicalization). Per language: raw-distinct vs
    normalized-distinct content hashes; the delta is the dedup yield
    the normalization pass buys. Map-only hashing + one grouped
    distinct-count agg; hashes shuffle instead of text."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = docs.select(
        "lang",
        F.md5("text").alias("h_raw"),
        F.md5(norm).alias("h_norm"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h_raw").alias("n_raw_distinct"),
        F.countDistinct("h_norm").alias("n_norm_distinct"),
        (F.countDistinct("h_raw") - F.countDistinct("h_norm")).alias("n_merged"),
    )


@query(
    "corpus_source_entropy",
    oracle="""
    WITH sc AS (
      SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
    ),
    n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY lang)
    SELECT lang,
           CAST(MAX(n.n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_sources,
           CAST(SUM(-CAST(floor(1000000 * ((c + 0.0) / n.n)
                                * ln((c + 0.0) / n.n)) AS BIGINT))
                AS BIGINT) AS entropy_q
    FROM sc JOIN n USING (lang)
    GROUP BY lang
    """,
)
def q_corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity entropy per language — the mixture dashboard
    a data pipeline watches for mode collapse: Shannon entropy of the
    source distribution, H = -Σ p·ln p, with each term floor-quantized
    to 1e-6 BEFORE the sum (integers cross engines; the shared
    quantize-then-aggregate discipline). Two skinny hash aggs (the
    second over lang×source rows), a per-lang scalar join — nothing
    corpus-sized shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    sc = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    n = sc.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    p = (F.col("c") + 0.0) / F.col("n")
    term = -F.floor(1000000 * p * F.log(p)).cast("long")
    return (
        sc.join(F.broadcast(n), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.sum(term).cast("long").alias("entropy_q"),
        )
    )


@query(
    "doc_ngram_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> {_md5i60("concat_ws(' ', t[i], t[i+1], t[i+2])")}
             ))) AS h
      FROM toks WHERE len(t) >= 3
    ),
    f AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((1000000 * SUM(CASE WHEN f.first_doc = g.doc_id
                                    THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM g JOIN f USING (h)
    GROUP BY g.doc_id
    """,
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization/duplication
    curve a training-data pipeline tracks while streaming a corpus in
    doc_id order: the fraction of a document's distinct 3-grams whose
    FIRST corpus-wide occurrence is this document (novelty_ppm = 1 ⇒
    all-new text; → 0 ⇒ the document is stitched from already-seen
    passages — the soft sibling of C4 span dedup's hard cut).

    Scale shape: the shuffle carries (gram_hash60, doc_id) only —
    never text; first-occurrence is an associative MIN per hash (no
    window, map-side partials), the back-join is key-partitioned on
    the same hash so AQE reuses the exchange, and the per-doc rollup
    shuffles a doc-bounded frame. 60-bit gram identity: a 32-bit
    collision would falsely mark novel text as seen (the same silent
    deletion class as span dedup). Docs under 3 tokens have no grams
    and are excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TA.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 3)
    head = F.slice(F.col("t"), 1, F.greatest(F.size("t") - 2, F.lit(0)))
    grams = F.array_distinct(
        F.transform(
            head,
            lambda x, i: TA.md5_hash60(
                F.concat_ws(
                    " ",
                    x,
                    F.element_at(F.col("t"), i + F.lit(2)),
                    F.element_at(F.col("t"), i + F.lit(3)),
                )
            ),
        )
    )
    g = base.select("doc_id", F.explode(grams).alias("h"))
    f = g.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(f, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(1000000 * n_novel) DIV n_grams")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


@query(
    "doc_zipf_fit",
    oracle="""
    WITH tf AS (
      SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents)
      GROUP BY t
    ),
    top AS (SELECT term, c FROM tf ORDER BY c DESC, term LIMIT 1000),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM top
    ),
    q AS (
      SELECT CAST(floor(100000 * ln(rk)) AS BIGINT) AS x,
             CAST(floor(100000 * ln(c)) AS BIGINT) AS y
      FROM r
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM q
    )
    SELECT n,
           CAST((1000000 * (CAST(n AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy))
                // (CAST(n AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_ppm
    FROM s
    """,
)
def q_doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope of the corpus token-frequency distribution —
    the standard corpus-health check (natural text fits ln f ≈
    a + s·ln r with s ≈ −1; templated/spammy corpora bend away from
    it). OLS slope over (ln rank, ln freq) for the top-1000 terms,
    reported in ppm (≈ −1e6 for clean text).

    Scale shape: the vocab agg is corpus-bounded work, but the
    top-1000 selection is a TakeOrderedAndProject — distributed
    partial top-k, NOT a global vocab sort (a 100 TB corpus has a
    10⁸+-term vocabulary; ranking it with an unpartitioned window
    would be the Gini anti-pattern). The rank window then runs over
    the 1000-row frame only. ln() is floor-quantized to 1e-5 on both
    engines (the shared transcendental discipline) and the OLS
    moments run in DECIMAL(38,0)/HUGEINT — n·Σxy overflows int64
    exactly when the quantized logs meet 1000 terms."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(TA.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tf.orderBy(F.desc("c"), F.asc("term")).limit(1000)
    r = top.select(
        "c",
        F.row_number().over(W.orderBy(F.desc("c"), F.asc("term"))).alias("rk"),
    )
    q = r.select(
        F.floor(100000 * F.log(F.col("rk").cast("double"))).cast("long").alias("x"),
        F.floor(100000 * F.log(F.col("c").cast("double"))).cast("long").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    return s.select(
        "n",
        F.expr(
            "CAST((1000000 * (CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy))"
            " DIV (CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("slope_ppm"),
    )


@query(
    "corpus_dedup_survivor_bias",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id, {_md5i60('text')} AS h FROM documents
    ),
    w AS (SELECT h, MIN(doc_id) AS keep FROM h GROUP BY h),
    b AS (SELECT lang, COUNT(*) AS n_before FROM h GROUP BY lang),
    a AS (
      SELECT h2.lang, COUNT(*) AS n_after
      FROM h h2 JOIN w ON h2.h = w.h AND h2.doc_id = w.keep
      GROUP BY h2.lang
    )
    SELECT b.lang, n_before,
           COALESCE(n_after, 0) AS n_after,
           n_before - COALESCE(n_after, 0) AS n_removed,
           CAST((1000000 * (n_before - COALESCE(n_after, 0))) // n_before
                AS BIGINT) AS removal_ppm
    FROM b LEFT JOIN a USING (lang)
    """,
)
def q_corpus_dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup demographic-skew audit — the survivorship-bias check a
    training-data pipeline runs after every dedup pass: per language,
    how many documents existed before exact dedup, how many survive
    (min-doc_id winner per 60-bit content hash), and the removal rate
    in ppm. A removal rate that differs sharply across languages
    means the dedup stage is reshaping the mixture, not just shrinking
    it — the thing temperature-weighted sampling downstream silently
    inherits. Exact integers throughout; the shuffle carries (hash,
    doc_id, lang), never text; winner pick is an associative MIN."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "lang", "doc_id", TA.md5_hash60(F.col("text")).alias("h")
    )
    w = h.groupBy("h").agg(F.min("doc_id").alias("keep"))
    b = h.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    a = (
        h.join(w, (h.h == w.h) & (h.doc_id == w.keep))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        b.join(a, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.expr(
                "(1000000 * (n_before - COALESCE(n_after, 0))) DIV n_before"
            )
            .cast("long")
            .alias("removal_ppm"),
        )
    )


_SWEEP_BP = [2000, 3000, 3500, 4000, 5000]


@query(
    "embedding_dedup_threshold_sweep",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    n AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                  (a, b) -> a + b)) AS nrm
      FROM e
    ),
    pairs AS (
      SELECT ROUND(list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
             (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE ROUND(list_reduce(list_prepend(0.0,
              list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
            (x, y) -> x + y) / (a.nrm * b.nrm), 6)
            >= CAST({_SWEEP_BP[0]} AS DOUBLE) / 10000.0
    ),
    thr(t_bp) AS (VALUES {", ".join(f"({t})" for t in _SWEEP_BP)})
    SELECT t_bp,
           CAST(COUNT(*) FILTER (
             WHERE cosine >= CAST(t_bp AS DOUBLE) / 10000.0
           ) AS BIGINT) AS n_pairs
    FROM pairs CROSS JOIN thr
    GROUP BY t_bp
    """,
)
def q_embedding_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning curve: pair counts at five cosine
    cutoffs from ONE pair/cosine computation — the sweep a pipeline
    owner reads before picking the dedup threshold (too low deletes
    paraphrases, too high keeps templates). Cosines are computed once
    (norms pre-aggregated per vector, index-order dot products →
    IEEE-identical on both engines, rounded to 6), then a broadcast
    5-row threshold dimension turns the sweep into one conditional
    count — the pair join is NOT re-run per threshold. The all-pairs
    form is the bounded verifier; at scale candidates come from the
    hyperplane-LSH buckets like the single-threshold query."""
    thresholds = spark.createDataFrame(
        [(t,) for t in _SWEEP_BP], "t_bp long"
    )
    # pairs below the LOWEST sweep point can never count — filter them
    # at the pair stage (on the rounded cosine, same as the oracle's
    # WHERE) so the retained pair set stays sweep-relevant-sized.
    pairs = TD.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=_SWEEP_BP[0] / 10000.0,
    ).select("cosine")
    return (
        pairs.crossJoin(F.broadcast(thresholds))
        .groupBy("t_bp")
        .agg(
            F.count(
                F.when(
                    F.col("cosine")
                    >= F.col("t_bp").cast("double") / F.lit(10000.0),
                    1,
                )
            )
            .cast("long")
            .alias("n_pairs")
        )
    )


_COVERAGE_KS = [100, 1000, 10000]


@query(
    "corpus_ngram_coverage_curve",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT unnest(list_transform(
               generate_series(1, len(t) - 2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
             )) AS gram
      FROM toks WHERE len(t) >= 3
    ),
    gf AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY gram),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_occ,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM gf
    ),
    r AS (
      SELECT c,
             CAST(row_number() OVER (ORDER BY c DESC, gram) AS BIGINT) AS rk,
             CAST(SUM(c) OVER (ORDER BY c DESC, gram
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM gf
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)})
    SELECT k, tot.n_distinct, tot.n_occ,
           CAST(COALESCE(MAX(CASE WHEN rk <= k THEN cum END), 0) AS BIGINT)
             AS covered_occ,
           CAST((1000000 * CAST(COALESCE(MAX(CASE WHEN rk <= k THEN cum END),
                                        0) AS HUGEINT))
                // tot.n_occ AS BIGINT) AS coverage_ppm
    FROM r CROSS JOIN ks CROSS JOIN tot
    GROUP BY k, tot.n_distinct, tot.n_occ
    """,
)
def q_corpus_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-sizing coverage curve: what fraction of all 3-gram
    OCCURRENCES the top-k most frequent grams cover, for k ∈ {100,
    1k, 10k} — the curve that decides phrase-table / n-gram-LM /
    cache sizes (heavy-tailed corpora saturate early; flat curves
    mean memorization won't pay). Occurrence counts are exact
    integers; coverage is a scaled integer division.

    Scale shape: the gram table aggregates first (distinct-gram-
    sized), then BOTH round-5 order-statistics operators run over it
    behind the size switch — global_rank for the frequency rank,
    global_prefix_sum for the cumulative occurrence mass — so a
    10⁹-gram web corpus never hits a single-task sort; the k
    thresholds attach as a broadcast 3-row dimension and the totals
    as a broadcast scalar."""
    from flight_delay_prediction_using_pyspark_spark.operators.windows import (
        global_prefix_sum,
        global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = TA.tokens(F.col("text"))
    base = docs.select(toks.alias("t")).filter(F.size("t") >= 3)
    head = F.slice(F.col("t"), 1, F.greatest(F.size("t") - 2, F.lit(0)))
    grams = F.transform(
        head,
        lambda x, i: F.concat_ws(
            " ",
            x,
            F.element_at(F.col("t"), i + F.lit(2)),
            F.element_at(F.col("t"), i + F.lit(3)),
        ),
    )
    gf = scratch_persist(
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    order = [F.desc("c"), F.asc("gram")]
    r = global_prefix_sum(
        global_rank(gf, order, out_col="rk"), order, "c", out_col="cum"
    )
    ks = spark.createDataFrame([(k,) for k in _COVERAGE_KS], "k long")
    tot = gf.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("c").cast("long").alias("n_occ"),
    )
    return (
        r.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_distinct", "n_occ")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rk") <= F.col("k"), F.col("cum"))), F.lit(0)
            )
            .cast("long")
            .alias("covered_occ"),
        )
        .select(
            "k",
            "n_distinct",
            "n_occ",
            "covered_occ",
            F.expr(
                "CAST((1000000 * CAST(covered_occ AS DECIMAL(38,0)))"
                " DIV n_occ AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


_TUNE_CONFIGS = [(2, 8), (4, 4), (8, 2)]  # (bands, rows): b*r = MINHASH_K


def _band_tuning_oracle() -> str:
    k = TD.MINHASH_K
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ((h % {TD.MINHASH_P}) * {TD.MINHASH_A[i]} "
        f"+ {TD.MINHASH_B[i]}) % {TD.MINHASH_P}))"
        for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, '{c}' AS cfg, {b} AS band, {h} AS band_hash FROM sig".format(
            c=f"{bands}x{rows}",
            b=b,
            h=_md5i(
                "concat_ws('_', "
                + ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
                + ")"
            ),
        )
        for bands, rows in _TUNE_CONFIGS
        for b in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) "
        "/ (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))"
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [] END AS s
      FROM toks
    ),
    sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
    sigbase AS (
      SELECT doc_id, s, list_transform(s, x -> {_md5i('x')}) AS hs FROM sh2
    ),
    sig AS (SELECT doc_id, s, [{sig_exprs}] AS sig FROM sigbase),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.cfg, a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.cfg = b.cfg AND a.band = b.band
       AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT cfg, ROUND({jac}, 6) AS j
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    )
    SELECT cfg,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE j >= 0.5) AS BIGINT) AS n_good,
           CAST((1000000 * CAST(COUNT(*) FILTER (WHERE j >= 0.5) AS HUGEINT))
                // COUNT(*) AS BIGINT) AS precision_ppm
    FROM scored GROUP BY cfg
    """


@query("dedup_minhash_band_tuning", oracle=_band_tuning_oracle())
def q_dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve tuning table: the SAME 16-perm signatures
    bucketed under three (bands × rows) splits — (2×8) strict/high-
    precision, (4×4) the production default, (8×2) loose/high-recall
    — with candidate volume and exact-Jaccard precision per config.
    This is the table an operator reads before picking b×r for a
    corpus (P[candidate] = 1−(1−s^r)^b; more bands ⇒ more candidates
    ⇒ more verify cost for more recall). One signature pass feeds all
    three configs (the cached signature frame), all candidate
    generation stays banded equi-joins tagged by config — never
    all-pairs — and the exact-Jaccard verify runs once per distinct
    candidate pair per config."""
    sigs = _sigs_cached(spark, sf_dir)
    tagged = None
    for bands, rows in _TUNE_CONFIGS:
        b = TD.lsh_band_buckets(sigs, bands=bands, rows=rows).withColumn(
            "cfg", F.lit(f"{bands}x{rows}")
        )
        tagged = b if tagged is None else tagged.unionByName(b)
    a = tagged.select("cfg", "band", "band_hash", F.col("doc_id").alias("id_a"))
    bb = tagged.select("cfg", "band", "band_hash", F.col("doc_id").alias("id_b"))
    cand = (
        a.join(bb, ["cfg", "band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cfg", "id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("s_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    jac = F.round(
        inter.cast("double")
        / (F.size("s_a") + F.size("s_b") - inter),
        6,
    )
    scored = cand.join(sa, "id_a").join(sb, "id_b").select("cfg", jac.alias("j"))
    return scored.groupBy("cfg").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("j") >= 0.5, 1)).cast("long").alias("n_good"),
        F.expr(
            "CAST((1000000 * CAST(COUNT(CASE WHEN j >= 0.5 THEN 1 END)"
            " AS DECIMAL(38,0))) DIV COUNT(*) AS BIGINT)"
        ).alias("precision_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-6 additions: sketch-candidates + exact-verify heavy hitters,
# DSIR importance weights, per-rule quality-filter census
# ---------------------------------------------------------------------------

#: Heavy-hitter threshold divisor: report tokens with freq > n/k.
_MG_K = 64


@query(
    "doc_token_mg_heavy_hitters",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks, tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) * {_MG_K} > tot.n
    ORDER BY freq DESC, tok
    """,
)
def q_doc_token_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by sketch-candidates + exact-verify — the
    distributed Misra-Gries/SpaceSaving two-pass (Misra & Gries '82):

    Pass 1 (bounded state, no shuffle of the token stream): each Arrow
    batch emits its top-k tokens by exact in-batch count (pandas
    value_counts — vectorized, no per-row Python). Pigeonhole twice:
    a token with global freq > n/k has freq_b > n_b/k in at least one
    batch, and within that batch fewer than k tokens can exceed
    n_b/k, so it is in that batch's top-k — the candidate union is a
    SUPERSET of the true heavy hitters at any partitioning, with
    k rows of state per batch regardless of data size.

    Pass 2: exact recount restricted to candidates (size-aware
    semi-join screen, then a hash agg over survivors only) and the
    strict threshold freq·k > n — so the OUTPUT equals the exact
    heavy-hitter set and sits under the full oracle gate, while the
    full-vocabulary shuffle a naive groupBy would pay is replaced by
    one over candidate tokens only. The candidate frame is
    distinct-bounded by the vocabulary and attached via dim_join
    (hinted only while its plan-time estimate fits)."""
    from flight_delay_prediction_using_pyspark_spark.operators import relational as RO
    from flight_delay_prediction_using_pyspark_spark.operators.windows import (
        with_global_agg,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TA.tokens(F.col("text"))).alias("tok"))
    k = _MG_K

    def batch_topk(batches):
        # self-contained closure (executor Python workers do not share
        # the driver's sys.path in foreign-cwd sessions)
        for pdf in batches:
            if len(pdf):
                yield pdf["tok"].value_counts().head(k).rename_axis(
                    "tok"
                ).reset_index()[["tok"]]

    cands = scratch_persist(
        toks.mapInPandas(batch_topk, schema="tok string").distinct()
    )
    survivors = RO.dim_join(toks, cands, on="tok", how="left_semi")
    freqs = survivors.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    n_total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        freqs.crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * k > F.col("n"))
        .select("tok", "freq")
        .orderBy(F.desc("freq"), F.asc("tok"))
    )


#: DSIR hashed-feature bucket count (constant — not data-scaled).
_DSIR_BUCKETS = 1024


@query(
    "doc_dsir_importance_weights",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_md5i('tok')} % {_DSIR_BUCKETS} AS f
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents)
    ),
    cr AS (SELECT f, COUNT(*) AS c FROM toks GROUP BY f),
    bo AS (SELECT COUNT(*) AS b FROM cr),
    ct AS (SELECT f, COUNT(*) AS c FROM toks WHERE lang = 'en' GROUP BY f),
    nt AS (SELECT COUNT(*) AS n FROM toks WHERE lang = 'en'),
    nr AS (SELECT COUNT(*) AS n FROM toks),
    s AS (
      SELECT cr.f,
             CAST(floor(1000000 * ln(
               ((COALESCE(ct.c, 0) + 1.0) * (nr.n + bo.b))
               / ((cr.c + 1.0) * (nt.n + bo.b))
             )) AS BIGINT) AS sq
      FROM cr LEFT JOIN ct USING (f) CROSS JOIN nt CROSS JOIN nr CROSS JOIN bo
    ),
    perdoc AS (
      SELECT t.doc_id, t.lang, CAST(SUM(s.sq) AS BIGINT) AS w
      FROM toks t JOIN s USING (f)
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE w > 0) AS BIGINT) AS n_kept,
           CAST(SUM(w) AS BIGINT) AS sum_weight_q
    FROM perdoc
    GROUP BY lang
    """,
)
def q_doc_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS'23): score every document by how much more likely its
    hashed n-gram features are under a TARGET distribution (here the
    'en' slice) than under the RAW corpus, w(doc) = Σ_f [ln p̂_t(f) −
    ln p̂_r(f)], features hashed into B=1024 unigram buckets. Docs
    with w > 0 are more target-like than corpus-like — the DSIR
    keep-set before resampling.

    Smoothing: add-one over the OCCUPIED bucket count b (observed in
    the raw corpus, b ≤ B), not the full hash width B. Constant-B
    Laplace is biased when the observed vocabulary is far smaller
    than B: the normalizers contribute ln((n_r+B)/(n_t+B)) ≈
    −B·(1/n_t − 1/n_r) per occurrence, which on a low-vocab corpus
    (b=30 occupied buckets at sf0.01) drowned the real signal and
    drove EVERY target-slice weight negative (round-6 verdict,
    "What's wrong #3" — n_kept=0 on the driver's own data). With b
    the bias term is O(b/n) on both sides and the target slice
    separates correctly (invariant-tested on a planted-signal
    fixture AND on the driver corpus in test_text).

    Scale shape: two hash aggs over the hashed-feature stream (B
    buckets — CONSTANT, not data-scaled, so the per-feature score
    table is force-broadcast legitimately), per-occurrence probe is a
    map-side join, per-doc weights one doc-keyed agg that carries
    lang in the grouping key (no rejoin against documents). The log
    ratio is assembled in one fixed operand order and floor-quantized
    at 1e-6 (the PMI/TF-IDF idiom), so per-doc integer weights match
    the oracle bit-for-bit."""
    B = _DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(TA.tokens(F.col("text"))).alias("tok")
    ).select("doc_id", "lang", (TA.md5_hash32("tok") % B).alias("f"))
    cr = toks.groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    # occupied-bucket count for the smoothing denominator: an agg over
    # the ≤B-row cr frame, constant-size at any data scale.
    bo = cr.agg(F.count(F.lit(1)).alias("b_occ"))
    ct = (
        toks.filter(F.col("lang") == "en")
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    nt = toks.filter(F.col("lang") == "en").agg(F.count(F.lit(1)).alias("n_t"))
    nr = toks.agg(F.count(F.lit(1)).alias("n_r"))
    sq = F.floor(
        1000000
        * F.log(
            ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) * (F.col("n_r") + F.col("b_occ")))
            / ((F.col("cr") + 1.0) * (F.col("n_t") + F.col("b_occ")))
        )
    ).cast("long")
    # B-row score table: constant-size at ANY data scale -> the forced
    # broadcast is legitimate (unlike data-scaled frames, cf. SCALE.md
    # round-6 notes).
    scores = (
        cr.join(ct, "f", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(bo))
        .select("f", sq.alias("sq"))
    )
    perdoc = (
        toks.join(F.broadcast(scores), "f")
        .groupBy("doc_id", "lang")
        .agg(F.sum("sq").cast("long").alias("w"))
    )
    return perdoc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("w") > 0, 1)).cast("long").alias("n_kept"),
        F.sum("w").cast("long").alias("sum_weight_q"),
    )


_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in TA.STOPWORDS) + "]"


@query(
    "doc_gopher_rule_census",
    oracle=rf"""
    WITH base AS (
      SELECT {_TOKS} AS t,
             string_split_regex(trim(lower(text)), '\s+') AS tl,
             length(text) AS n_chars,
             text
      FROM documents
    ),
    sig AS (
      SELECT len(t) AS n_tok,
             CAST(list_reduce(
               list_prepend(0, list_transform(t, x -> length(x))),
               (acc, x) -> acc + x) AS BIGINT) AS sum_len,
             n_chars,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
               AS BIGINT) AS n_ellipsis,
             len(list_intersect(list_distinct(tl), {_GOPHER_STOP_SQL}))
               AS n_stop
      FROM base
    ),
    masked AS (
      SELECT n_tok,
             (CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END)
             + (CASE WHEN sum_len < 3 * n_tok OR sum_len > 10 * n_tok
                     THEN 2 ELSE 0 END)
             + (CASE WHEN 100 * n_hash > n_chars THEN 4 ELSE 0 END)
             + (CASE WHEN 10 * n_ellipsis > n_tok THEN 8 ELSE 0 END)
             + (CASE WHEN n_stop < 2 THEN 16 ELSE 0 END) AS rule_mask
      FROM sig
    )
    SELECT rule_mask,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM masked
    GROUP BY rule_mask
    """,
)
def q_doc_gopher_rule_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-filter census (Rae et al. '21 §A1.1): which
    quality rules fire, and in which COMBINATIONS — the audit a
    pipeline runs before turning filters destructive, because rules
    that co-fire on the same documents remove less than their solo
    rates suggest. Five portable rules (word-count bounds, mean word
    length outside [3,10], #-symbol ratio, ellipsis ratio, <2 distinct
    stopwords) build a bitmask; the census groups by mask. All
    comparisons are integer cross-multiplications (no float ratios),
    so the mask matches the oracle exactly. Complementary to
    doc_quality_buckets (one composite score) and doc_repetition_stats
    (the Gopher repetition family): this is the per-rule attribution
    view. Map-only + one small agg at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_hash = (n_chars - F.length(F.replace(F.col("text"), F.lit("#")))).cast("long")
    n_ellipsis = (
        (n_chars - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    ).cast("long")

    # Both token arrays are LET-BOUND and the per-doc signature is
    # materialized behind a Generate barrier: the mask references
    # n_tok four times and sum_len twice, which re-inlined the
    # tokenizer 9x per document before the round-12 plan-audit fix.
    def sig_from(s: F.Column) -> F.Column:
        t, tl = s["t"], s["tl"]
        n_tok = F.size(t)
        sum_len = F.aggregate(
            t, F.lit(0), lambda acc, x: acc + F.length(x)
        ).cast("long")
        n_stop = F.size(
            F.array_intersect(
                F.array_distinct(tl),
                F.array(*[F.lit(w) for w in TA.STOPWORDS]),
            )
        )
        return F.struct(
            n_tok.alias("n_tok"),
            sum_len.alias("sum_len"),
            n_chars.alias("n_chars"),
            n_hash.alias("n_hash"),
            n_ellipsis.alias("n_ellipsis"),
            n_stop.alias("n_stop"),
        )

    sig = docs.select(
        F.explode(
            F.transform(
                F.array(
                    F.struct(
                        TA.tokens(F.col("text")).alias("t"),
                        TA.tokens(F.lower(F.col("text"))).alias("tl"),
                    )
                ),
                sig_from,
            )
        ).alias("__s")
    ).select("__s.*")
    mask = (
        F.when((F.col("n_tok") < 50) | (F.col("n_tok") > 100000), 1).otherwise(0)
        + F.when(
            (F.col("sum_len") < 3 * F.col("n_tok"))
            | (F.col("sum_len") > 10 * F.col("n_tok")),
            2,
        ).otherwise(0)
        + F.when(100 * F.col("n_hash") > F.col("n_chars"), 4).otherwise(0)
        + F.when(10 * F.col("n_ellipsis") > F.col("n_tok"), 8).otherwise(0)
        + F.when(F.col("n_stop") < 2, 16).otherwise(0)
    )
    return (
        sig.select(mask.alias("rule_mask"), "n_tok")
        .groupBy("rule_mask")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
        )
    )


def _bbit_minhash_oracle() -> str:
    """b-bit minwise oracle: the full-signature match count and the
    b=2-bit match count over the SAME LSH candidate pairs, both
    estimators' floor-scaled absolute errors vs exact Jaccard."""
    k = TD.MINHASH_K
    full_sql = " + ".join(
        f"(CASE WHEN sa.sig[{i+1}] = sb.sig[{i+1}] THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    bbit_sql = " + ".join(
        f"(CASE WHEN sa.sig[{i+1}] % 4 = sb.sig[{i+1}] % 4 THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
    WITH {_minhash_ctes(0.0)},
    pairs AS (
      SELECT id_a, id_b,
             ({full_sql}) AS mf,
             ({bbit_sql}) AS mb,
             CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
                  THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                       / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                  ELSE 0.0 END AS tj
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    ),
    est AS (
      SELECT mf, mb, tj,
             (CAST(mb AS DOUBLE) / {k} - 0.25) / 0.75 AS jb
      FROM pairs
    ),
    scaled AS (
      SELECT CAST(FLOOR(ABS(CAST(mf AS DOUBLE) / {k} - tj) * 1000000) AS BIGINT)
               AS errf_u,
             CAST(FLOOR(ABS(jb - tj) * 1000000) AS BIGINT) AS errb_u
      FROM est
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(errf_u) AS DOUBLE) / 1000000 / COUNT(*), 6)
             AS mae_full,
           ROUND(CAST(SUM(errb_u) AS DOUBLE) / 1000000 / COUNT(*), 6)
             AS mae_bbit,
           CAST(32 AS BIGINT) AS bits_saved_ratio
    FROM scaled
    """


@query("dedup_bbit_minhash_est", oracle=_bbit_minhash_oracle())
def q_dedup_bbit_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König, CACM'11): store only the
    LOWEST b=2 bits of each of the k minhash components — a 32×
    signature compression vs the 64-bit components — and recover the
    Jaccard estimate from the b-bit match rate with the collision
    correction Ĵ = (m_b/k − C)/(1 − C), C = 2^-b = 1/4 (random
    collisions of non-matching mins). The query scores BOTH
    estimators (full-width and b-bit) against exact shingle Jaccard
    over the same LSH candidate pairs — the evidence an operator
    needs before shrinking the signature store 32× at 100 TB (the
    b-bit trade: same expectation, variance inflated by roughly
    1/(1−C)², so MAE grows ~4/3× while storage drops 32×).

    Portability: m_b/k is a power-of-two division, −0.25 and /0.75
    are IEEE-identical in both engines given the same operand order;
    errors are floor-scaled to integers before summing. Scale shape:
    reuses the persisted signature frame and banded LSH candidates
    (no all-pairs, no extra text scan); the mod-4 projection is a
    map-side expression over the already-computed signature."""
    k = TD.MINHASH_K
    sigs = _sigs_cached(spark, sf_dir)
    cand = TD.lsh_candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    joined = cand.join(sa, "id_a").join(sb, "id_b")
    mf = sum(
        F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
        for i in range(k)
    )
    mb = sum(
        F.when(F.col("sig_a")[i] % 4 == F.col("sig_b")[i] % 4, 1).otherwise(0)
        for i in range(k)
    )
    tj = TD.jaccard(F.col("sh_a"), F.col("sh_b"))
    jb = (mb.cast("double") / k - 0.25) / 0.75
    per = joined.select(
        F.floor(F.abs(mf.cast("double") / k - tj) * 1000000)
        .cast("long")
        .alias("errf_u"),
        F.floor(F.abs(jb - tj) * 1000000).cast("long").alias("errb_u"),
    )
    n = F.count(F.lit(1))
    return per.agg(
        n.cast("long").alias("n_pairs"),
        F.round(F.sum("errf_u").cast("double") / 1000000 / n, 6).alias("mae_full"),
        F.round(F.sum("errb_u").cast("double") / 1000000 / n, 6).alias("mae_bbit"),
        F.lit(32).cast("long").alias("bits_saved_ratio"),
    )


_RAKE_STOP_IN = ", ".join(f"'{w}'" for w in TA.STOPWORDS)


@query(
    "doc_rake_keywords",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
      FROM documents
    ),
    toku AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l)),
                                   i -> {{'tok': l[i], 'ord': i}})) AS u
      FROM base
    ),
    tok AS (SELECT doc_id, u.tok AS tok, u.ord AS ord FROM toku),
    seg AS (
      SELECT doc_id, tok,
             SUM(CASE WHEN tok IN ({_RAKE_STOP_IN}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY ord) AS seg_id,
             (tok IN ({_RAKE_STOP_IN})) AS is_stop
      FROM tok
    ),
    members AS (SELECT doc_id, seg_id, tok FROM seg WHERE NOT is_stop),
    phrases AS (
      SELECT doc_id, seg_id, COUNT(*) AS plen
      FROM members GROUP BY doc_id, seg_id
    ),
    wordstats AS (
      SELECT m.tok AS word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.plen) AS BIGINT) AS degree
      FROM members m JOIN phrases p USING (doc_id, seg_id)
      GROUP BY m.tok
    )
    SELECT word, freq, degree,
           CAST((1000000 * degree) // freq AS BIGINT) AS score_ppm
    FROM wordstats
    ORDER BY score_ppm DESC, freq DESC, word
    LIMIT 15
    """,
)
def q_doc_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): split each
    document into candidate phrases at stopword boundaries, then
    score every word by degree/frequency — degree sums the lengths of
    the phrases the word appears in (its co-occurrence mass, self
    included), so words living in LONG multiword phrases outrank
    equally-frequent words that appear alone. The classic unsupervised
    keyword/keyphrase baseline a corpus pipeline runs for topic
    tagging and index-term harvesting.

    Fully relational — NO per-row UDF: phrase segmentation is a
    running stopword count (posexplode + one per-doc cumulative-sum
    window; partitions are documents, so the window is bounded by doc
    length at any corpus size), phrases are (doc, segment) groups,
    and both stats fold in one word-keyed agg. score = degree/freq is
    emitted as an exact integer DIV in ppm, so ranking is
    engine-portable. Shuffles: one per-doc window + two hash aggs —
    all keys bounded by vocabulary or document count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(TA.tokens(F.lower(F.col("text")))).alias("ord", "tok"),
    )
    is_stop = F.col("tok").isin(*TA.STOPWORDS)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = tok.select(
        "doc_id",
        "tok",
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w).alias("seg_id"),
        is_stop.alias("is_stop"),
    )
    # members feeds BOTH the phrase-length agg and the stats join —
    # scratch-persist so tokenize+explode+window runs once, not twice.
    members = scratch_persist(
        seg.filter(~F.col("is_stop")).select("doc_id", "seg_id", "tok")
    )
    phrases = members.groupBy("doc_id", "seg_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    wordstats = (
        members.join(phrases, ["doc_id", "seg_id"])
        .groupBy(F.col("tok").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    return (
        wordstats.select(
            "word",
            "freq",
            "degree",
            F.expr("CAST((1000000 * degree) DIV freq AS BIGINT)").alias(
                "score_ppm"
            ),
        )
        .orderBy(F.desc("score_ppm"), F.desc("freq"), F.asc("word"))
        .limit(15)
    )


@query(
    "corpus_heaps_law_fit",
    oracle=rf"""
    WITH occ AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    firsts AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM occ GROUP BY tok
    ),
    mx AS (SELECT MAX(doc_id) AS md FROM documents),
    thresholds AS (
      SELECT i AS decile, ((mx.md + 1) * i) // 10 - 1 AS cut
      FROM generate_series(1, 10) AS g(i), mx
    ),
    pts AS (
      SELECT decile,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM occ
              WHERE doc_id <= cut) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
              WHERE first_doc <= cut) AS vocab
      FROM thresholds
    ),
    q AS (
      SELECT decile, n_tokens, vocab,
             CAST(floor(100000 * ln(n_tokens)) AS BIGINT) AS x,
             CAST(floor(100000 * ln(vocab)) AS BIGINT) AS y
      FROM pts WHERE n_tokens > 0 AND vocab > 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM q
    ),
    beta AS (
      SELECT CAST((1000000 * (CAST(n AS HUGEINT) * sxy
                              - CAST(sx AS HUGEINT) * sy))
                  // (CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS beta_ppm
      FROM s
    )
    SELECT decile, n_tokens, vocab, beta_ppm
    FROM q, beta
    ORDER BY decile
    """,
)
def q_corpus_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct-token
    count V(N) at ten corpus prefixes (by doc_id order) with the OLS
    exponent β of V = K·N^β — the curve that sizes vocabularies,
    n-gram tables, and dedup signature stores BEFORE scaling a corpus
    10×, and the companion corpus-health check to doc_zipf_fit
    (natural text: β ≈ 0.4-0.6; a flat curve means templated/
    duplicated text, a β near 1 means noise). New-vocabulary mass is
    also exactly what incremental-ingest dedup state grows by.

    Scale shape: prefixes need NO per-prefix scans — one pass
    computes each token's FIRST document (an associative MIN agg, the
    doc_ngram_novelty trick), so cumulative vocab at a cutoff is a
    count over first-occurrence ranks; cumulative token mass is one
    conditional agg over the ten broadcast thresholds. The OLS runs
    over ten points with the shared floor-quantized-ln discipline, so
    β is bit-portable."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select("doc_id", F.explode(TA.tokens(F.col("text"))).alias("tok"))
    firsts = occ.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    md = docs.agg(F.max("doc_id").alias("md"))
    thresholds = (
        spark.range(1, 11)
        .withColumnRenamed("id", "decile")
        .crossJoin(F.broadcast(md))
        .select(
            "decile",
            # Exact integer division on BOTH engines: DuckDB's
            # `(md+1)*i / 10` yields DOUBLE and the BIGINT cast rounds
            # half-to-even (2.5→2, 7.5→8), while a double→long cast
            # here truncates — for any doc count not a multiple of 10
            # the decile cut would differ by one doc cross-engine.
            # `//` (oracle) and `DIV` (Spark) both truncate toward
            # zero on positive integers, so the cuts are bit-equal.
            F.expr("((md + 1) * decile) DIV 10 - 1").alias("cut"),
        )
    )
    # collapse token occurrences to the doc grain BEFORE the 10-way
    # threshold expansion: the cross join multiplies doc-count rows,
    # not token rows.
    per_doc = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    pts = (
        per_doc.crossJoin(F.broadcast(thresholds))
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("doc_id") <= F.col("cut"), F.col("n_tok")))
            .cast("long")
            .alias("n_tokens")
        )
        .join(
            firsts.crossJoin(F.broadcast(thresholds))
            .groupBy("decile")
            .agg(
                F.count(F.when(F.col("first_doc") <= F.col("cut"), 1))
                .cast("long")
                .alias("vocab")
            ),
            "decile",
        )
    )
    q = pts.filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0)).select(
        "decile",
        "n_tokens",
        "vocab",
        F.floor(100000 * F.log("n_tokens")).cast("long").alias("x"),
        F.floor(100000 * F.log("vocab")).cast("long").alias("y"),
    )
    q = scratch_persist(q)
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    beta = s.select(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy))"
            " DIV (CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("beta_ppm")
    )
    return (
        q.select("decile", "n_tokens", "vocab")
        .crossJoin(F.broadcast(beta))
        .orderBy("decile")
    )


@query(
    "doc_langid_method_agreement",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, {_TOKS} AS t, lower(text) AS lt FROM documents
    ),
    p AS (
      SELECT lang,
             {_argmax_sql(list(TA.LANG_PROFILES))} AS p_stop,
             {_argmax_sql(list(TA.NGRAM_PROFILES), prefix="c_")} AS p_char
      FROM (
        SELECT lang,
               {", ".join(f"{_lang_score(w)} AS s_{lang}" for lang, w in TA.LANG_PROFILES.items())},
               {", ".join(f"{_chargram_score_sql(grams).replace('(t,', '(lt,').replace('length(t)', 'length(lt)')} AS c_{lang}" for lang, grams in TA.NGRAM_PROFILES.items())}
        FROM base
      )
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE p_stop = p_char) AS BIGINT) AS n_agree,
           CAST(COUNT(*) FILTER (WHERE p_stop = lang) AS BIGINT)
             AS n_stop_correct,
           CAST(COUNT(*) FILTER (WHERE p_char = lang) AS BIGINT)
             AS n_char_correct,
           CAST(COUNT(*) FILTER (WHERE p_stop = lang AND p_char = lang)
                AS BIGINT) AS n_both_correct
    FROM p
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_doc_langid_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble-agreement audit of the two language-ID methods
    (stopword-profile argmax vs Cavnar-Trenkle char-n-gram argmax):
    per labeled language, how often the methods AGREE and how often
    each (and both) matches the label. Model agreement is the
    standard cheap proxy for label quality when no gold labels exist
    — docs where independent weak classifiers disagree are the review
    queue, and a per-language agreement drop flags profile drift
    before either confusion matrix (doc_language_confusion /
    doc_language_chargram_confusion) moves visibly. Both scorers are
    integer-exact string built-ins sharing ONE scan — map-only into a
    single per-language agg, the same plan at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "lang",
        TA.predict_language(F.col("text")).alias("p_stop"),
        TA.predict_language_chargram(F.col("text")).alias("p_char"),
    )
    return (
        p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("p_stop") == F.col("p_char"), 1))
            .cast("long")
            .alias("n_agree"),
            F.count(F.when(F.col("p_stop") == F.col("lang"), 1))
            .cast("long")
            .alias("n_stop_correct"),
            F.count(F.when(F.col("p_char") == F.col("lang"), 1))
            .cast("long")
            .alias("n_char_correct"),
            F.count(
                F.when(
                    (F.col("p_stop") == F.col("lang"))
                    & (F.col("p_char") == F.col("lang")),
                    1,
                )
            )
            .cast("long")
            .alias("n_both_correct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer-vocabulary induction (round-8; Sennrich
# et al., ACL 2016 — see text/bpe.py for the scale design)
# ---------------------------------------------------------------------------

#: Merge count for the oracle-gated induction queries: small enough
#: that DuckDB replays the full training loop as an unrolled CTE
#: chain, large enough that the learned vocabulary contains
#: multi-merge compounds (merges that consume earlier merges).
_BPE_N_MERGES = 8


def _bpe_oracle_ctes(n_merges: int) -> str:
    """Unrolled-SQL replay of the exact BPE training loop: the oracle
    cannot receive the Spark side's learned merge list, so it re-runs
    the deterministic induction itself — per merge k: freq-weighted
    adjacent-pair counts over state r{k-1}, argmax with the
    (count DESC, left, right) tie-break, then the greedy left-to-right
    non-overlapping rewrite as the same single-partitioning window
    plan the Spark operator uses (text/bpe.py apply_merge: island
    start = first match after the last non-match, a running MAX over
    the shared (word, pos) window). Exact integer counts and integer
    positions throughout — nothing float-portable to drift."""
    parts = [
        r"""tf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
            FROM documents)
      GROUP BY word
    ),
    r0 AS MATERIALIZED (
      SELECT word, freq, CAST(i AS BIGINT) AS pos,
             substr(word, CAST(i AS INT), 1) AS sym
      FROM tf, unnest(generate_series(1, length(word))) AS g(i)
    )"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""best{k} AS MATERIALIZED (
      SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT sym AS a,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
                   freq
            FROM r{p})
      WHERE b IS NOT NULL
      GROUP BY a, b
      ORDER BY cnt DESC, a, b
      LIMIT 1
    ),
    f{k} AS (
      SELECT t.word, t.freq, t.pos, t.sym, best.a AS ba, best.b AS bb,
             coalesce(t.sym = best.a
                      AND lead(t.sym) OVER (PARTITION BY t.word ORDER BY t.pos)
                          = best.b,
                      FALSE) AS match
      FROM r{p} t CROSS JOIN best{k} best
    ),
    h{k} AS (
      SELECT *, (match AND (pos
                 - coalesce(MAX(CASE WHEN NOT match THEN pos END)
                            OVER (PARTITION BY word ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING), 0)
                 - 1) % 2 = 0) AS is_start
      FROM f{k}
    ),
    i{k} AS (
      SELECT *, coalesce(LAG(is_start) OVER (PARTITION BY word ORDER BY pos),
                         FALSE) AS gone
      FROM h{k}
    ),
    r{k} AS MATERIALIZED (
      SELECT word, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                  AS BIGINT) AS pos,
             CASE WHEN is_start THEN ba || bb ELSE sym END AS sym
      FROM i{k} WHERE NOT gone
    )"""
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_induction_oracle(n_merges: int) -> str:
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {k} AS k, a, b, cnt FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return f"""{_bpe_oracle_ctes(n_merges)}
    SELECT CAST(k AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym,
           a || b AS merged, cnt AS pair_count
    FROM ({union})
    ORDER BY merge_rank
    """


def _bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The learned merge list, memoized per session and sf_dir:
    training is deterministic, so the induction and apply queries
    share ONE training run per session instead of each paying the K
    sequential selection jobs. The memoized object is the bounded
    Python merge list (n_merges tuples), never a frame."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    def build():
        docs = load_table(spark, sf_dir, "documents")
        words = scratch_persist(B.word_freq(docs))
        return B.bpe_train(words, _BPE_N_MERGES)[0]

    return session_memo(spark, ("bpe_merges", sf_dir), build)


@query("corpus_bpe_vocab_induction", oracle=_bpe_induction_oracle(_BPE_N_MERGES))
def q_corpus_bpe_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer-vocabulary induction (Sennrich et
    al., ACL 2016), the training half: learn the first
    `_BPE_N_MERGES` merges of a byte-pair vocabulary over the corpus
    and emit the ordered merge table — the artifact a production
    pipeline ships to its tokenizer.

    Scale shape (text/bpe.py): ONE corpus-scale aggregation (word →
    freq, scratch-persisted), then every training iteration is
    vocab-sized — a freq-weighted adjacent-pair count (distributed
    agg), a ONE-ROW driver argmax (driver state is bounded by the
    merge count, never the data), and a window-only greedy rewrite of
    the symbol state; superseded iteration caches are released as
    training advances. The oracle replays the identical deterministic
    loop as unrolled SQL. Extends doc_bpe_merge_candidates (the
    first-iteration pair census) to the full iterated algorithm.
    Training is memoized per session+SF (deterministic fit, the
    ml-family pattern) and shared with corpus_bpe_segment_apply."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(rank, a, b, a + b, cnt) for rank, a, b, cnt in merges],
        "merge_rank long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("merge_rank")


def _bpe_apply_oracle(n_merges: int) -> str:
    return f"""{_bpe_oracle_ctes(n_merges)}
    SELECT sym, CAST(length(sym) AS BIGINT) AS sym_len,
           CAST(SUM(freq) AS BIGINT) AS token_count
    FROM r{n_merges}
    GROUP BY sym
    ORDER BY token_count DESC, sym
    LIMIT 15
    """


@query("corpus_bpe_segment_apply", oracle=_bpe_apply_oracle(_BPE_N_MERGES))
def q_corpus_bpe_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half of BPE: segment the corpus vocabulary with the
    learned merge list and report the resulting token distribution
    (top symbols by freq-weighted occurrence count with their
    lengths) — the post-tokenization census that sizes embedding
    tables and sequence-packing budgets.

    Scale shape: application is a PURE PLAN (text/bpe.py bpe_apply) —
    the learned merges become literals, so segmenting new text is one
    shuffle on word plus a chain of window rewrites with no
    per-iteration actions; a corpus-scale pipeline joins this
    word→segmentation frame back to the token stream as a broadcast
    dimension. The merge list comes from the session-memoized
    deterministic training run shared with corpus_bpe_vocab_induction
    (cache miss trains here); what this query MEASURES per run is the
    apply path itself."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    merges = _bpe_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = scratch_persist(B.word_freq(docs))
    final = B.bpe_apply(words, [(a, b) for _, a, b, _ in merges])
    return (
        final.groupBy("sym")
        .agg(F.sum("freq").cast("long").alias("token_count"))
        .select(
            "sym",
            F.length("sym").cast("long").alias("sym_len"),
            "token_count",
        )
        .orderBy(F.desc("token_count"), F.asc("sym"))
        .limit(15)
    )


def _bpe_fertility_oracle(n_merges: int) -> str:
    return rf"""{_bpe_oracle_ctes(n_merges)},
    pieces AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
      FROM r{n_merges} GROUP BY word
    ),
    lw AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
            FROM documents)
      GROUP BY lang, word
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(freq) AS BIGINT) AS ws_tokens,
           CAST(SUM(freq * n_pieces) AS BIGINT) AS bpe_pieces,
           CAST((1000000 * CAST(SUM(freq * n_pieces) AS HUGEINT))
                // SUM(freq) AS BIGINT) AS fertility_ppm
    FROM lw JOIN pieces USING (word)
    GROUP BY lang
    ORDER BY lang
    """


@query("corpus_bpe_fertility", oracle=_bpe_fertility_oracle(_BPE_N_MERGES))
def q_corpus_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility of the INDUCED BPE vocabulary per language — pieces
    per whitespace word under the learned merge table, the standard
    tokenizer-quality metric that decides whether a vocabulary is
    adequate for a language before committing a training run
    (complements doc_tokenizer_fertility, which scores a FIXED regex
    pre-tokenizer). Scaled integer division keeps the ratio exact
    cross-engine.

    Scale shape — this query IS the production apply pattern the BPE
    module documents: the corpus is touched once (lang-word counts,
    one explode + groupBy), the global vocabulary is segmented once
    (the pure-plan window chain over the vocab-sized word frame,
    collapsed to word → n_pieces), and the two meet in a size-aware
    dimension join on word (`dim_join`: vocab under the ceiling
    broadcasts; a web-scale vocabulary falls back to AQE's runtime
    choice — here the lineage guard leaves the hint to AQE anyway,
    because both sides descend from the same documents scan and
    nothing at plan time proves the vocab side's key uniqueness).
    The final per-language rollup is a 5-group agg."""
    from flight_delay_prediction_using_pyspark_spark.operators.relational import (
        dim_join,
    )
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    merges = _bpe_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = scratch_persist(B.word_freq(docs))
    pieces = (
        B.bpe_apply(words, [(a, b) for _, a, b, _ in merges])
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pieces"))
    )
    lw = (
        docs.select(
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "word"
            ),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return (
        dim_join(lw, pieces, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("ws_tokens"),
            F.sum(F.col("freq") * F.col("n_pieces"))
            .cast("long")
            .alias("bpe_pieces"),
            F.expr(
                "CAST((1000000 * CAST(sum(freq * n_pieces) AS DECIMAL(38,0)))"
                " DIV sum(freq) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


def _wordpiece_prefix(n_merges: int, max_pieces: int = 8) -> str:
    """Unrolled greedy longest-match replay: inventory = base alphabet
    ∪ merged units from the BPE CTEs; each step extracts one piece per
    unfinished word (candidate prefixes → inventory equi-join →
    per-word longest wins, ties impossible since equal-length matching
    prefixes are equal strings); finished words ride the UNION-ALL
    carry branch. Returns the WITH-chain through s{max_pieces} (the
    finished WordPiece segmentation) and bpe_seg (the merge-replay
    segmentation) for the census and crossover oracles to select
    from."""
    union_merged = "\n      UNION\n      ".join(
        f"SELECT a || b AS piece FROM best{k}" for k in range(1, n_merges + 1)
    )
    steps = []
    for i in range(1, max_pieces + 1):
        p = i - 1
        steps.append(f"""cand{i} AS (
      SELECT s.word, s.freq, s.remaining, s.n_pieces, s.sig, v.piece
      FROM (SELECT s.*, substr(s.remaining, 1, CAST(g.l AS INT)) AS pref
            FROM s{p} s, ml,
                 unnest(generate_series(1, least(length(s.remaining), ml.m)))
                   AS g(l)) s
      JOIN inventory v ON v.piece = s.pref
    ),
    s{i} AS MATERIALIZED (
      SELECT word, freq, substr(remaining, length(piece) + 1) AS remaining,
             n_pieces + 1 AS n_pieces,
             CASE WHEN sig = '' THEN piece
                  ELSE sig || '|' || piece END AS sig
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY word
                      ORDER BY length(piece) DESC, piece) AS rn
            FROM cand{i}) WHERE rn = 1
      UNION ALL
      SELECT word, freq, remaining, n_pieces, sig
      FROM s{p} WHERE remaining = ''
    )""")
    steps_sql = ",\n    ".join(steps)
    prefix = f"""{_bpe_oracle_ctes(n_merges)},
    inventory AS (
      SELECT DISTINCT sym AS piece FROM r0
      UNION
      {union_merged}
    ),
    ml AS (SELECT MAX(length(piece)) AS m FROM inventory),
    s0 AS MATERIALIZED (
      SELECT word, freq, word AS remaining,
             CAST(0 AS BIGINT) AS n_pieces, '' AS sig
      FROM tf WHERE length(word) >= 1
    ),
    {steps_sql},
    bpe_seg AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS bpe_n,
             string_agg(sym, '|' ORDER BY pos) AS bpe_sig
      FROM r{n_merges} GROUP BY word
    )"""
    return prefix


def _wordpiece_oracle(n_merges: int, max_pieces: int = 8) -> str:
    """The agreement-census select over the longest-match replay."""
    return f"""{_wordpiece_prefix(n_merges, max_pieces)}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(w.freq * w.n_pieces) AS BIGINT) AS wp_pieces_weighted,
           CAST(SUM(w.freq * b.bpe_n) AS BIGINT) AS bpe_pieces_weighted,
           CAST(COUNT(CASE WHEN w.sig = b.bpe_sig THEN 1 END) AS BIGINT)
             AS n_identical,
           CAST(COUNT(CASE WHEN w.n_pieces < b.bpe_n THEN 1 END) AS BIGINT)
             AS n_wp_fewer,
           CAST(COUNT(CASE WHEN w.n_pieces > b.bpe_n THEN 1 END) AS BIGINT)
             AS n_bpe_fewer,
           CAST(COUNT(CASE WHEN w.remaining <> '' THEN 1 END) AS BIGINT)
             AS n_truncated
    FROM s{max_pieces} w JOIN bpe_seg b USING (word)
    """


@query("corpus_wordpiece_agreement", oracle=_wordpiece_oracle(_BPE_N_MERGES))
def q_corpus_wordpiece_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-replay vs WordPiece inference agreement census: segment the
    corpus vocabulary BOTH ways over the same induced symbol inventory
    — merge-order replay (what a BPE tokenizer does, `bpe_apply`) and
    greedy longest-match-first (what BERT-family WordPiece tokenizers
    do at serving time, `wordpiece_segment`) — and count exact
    segmentation agreement, piece-count skew in each direction, and
    long-word truncations. The two inference algorithms share a
    vocabulary but are NOT equivalent; shipping a vocab trained for
    one and served with the other changes the token stream, and this
    census is the audit that quantifies by how much before a corpus
    is tokenized at scale.

    Scale shape: both segmentations are vocab-sized pure plans — the
    merge replay is the 1-exchange window chain, the longest-match
    loop is max_pieces rounds of (bounded prefix explode → broadcast
    inventory equi-join → per-word window), state referenced once per
    round so the plan grows linearly. The corpus is never touched
    after the shared word-frequency aggregate; the census is one join
    of two vocab-grain frames plus a single global agg."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    merges = _bpe_merges(spark, sf_dir)
    pairs = [(a, b) for _, a, b, _ in merges]
    docs = load_table(spark, sf_dir, "documents")
    words = scratch_persist(B.word_freq(docs))
    wp = B.wordpiece_segment(words, pairs, max_pieces=_BPE_N_MERGES)
    bpe_seg = (
        B.bpe_apply(words, pairs)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bpe_n"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, sym))), x -> x.sym), '|')"
            ).alias("bpe_sig"),
        )
    )
    return wp.join(bpe_seg, "word").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_pieces"))
        .cast("long")
        .alias("wp_pieces_weighted"),
        F.sum(F.col("freq") * F.col("bpe_n"))
        .cast("long")
        .alias("bpe_pieces_weighted"),
        F.count(F.when(F.col("sig") == F.col("bpe_sig"), 1))
        .cast("long")
        .alias("n_identical"),
        F.count(F.when(F.col("n_pieces") < F.col("bpe_n"), 1))
        .cast("long")
        .alias("n_wp_fewer"),
        F.count(F.when(F.col("n_pieces") > F.col("bpe_n"), 1))
        .cast("long")
        .alias("n_bpe_fewer"),
        F.count(F.when(F.col("remaining") != "", 1))
        .cast("long")
        .alias("n_truncated"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer-vocabulary induction (round-8; Kudo ACL 2018 —
# see text/unigram.py for the algorithm and scale design)
# ---------------------------------------------------------------------------

_UNI_Q = 100000      # shared ln-quantization factor (text/unigram._Q)
_UNI_UNROLL = 12     # oracle DP unroll depth; words longer than this
                     # would be dropped oracle-side (corpus max is 8)
_UNI_ROUNDS = 2


def _unigram_dp_ctes(r: int) -> str:
    """Round-r Viterbi DP as unrolled MATERIALIZED CTEs: d{r}_{i}
    accumulates the best struct(score, n, sig) per (word, prefix pos
    ≤ i) — min-of-struct is the same lexicographic tie-break the
    Spark fold uses; v{r} is the round's cost table."""
    from flight_delay_prediction_using_pyspark_spark.text.unigram import (
        MAX_PIECE_LEN,
    )

    parts = [f"""d{r}_0 AS MATERIALIZED (
      SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS score,
             CAST(0 AS BIGINT) AS n, '' AS sig
      FROM tfw
    )"""]
    for i in range(1, _UNI_UNROLL + 1):
        parts.append(f"""d{r}_{i} AS MATERIALIZED (
      SELECT * FROM d{r}_{i-1}
      UNION ALL
      SELECT word, freq, {i} AS pos,
             (m).score AS score, (m).n AS n, (m).sig AS sig
      FROM (
        SELECT d.word, d.freq,
               MIN(struct_pack(
                 score := d.score + v.cost_q,
                 n := d.n + 1,
                 sig := CASE WHEN d.sig = '' THEN v.piece
                             ELSE d.sig || '|' || v.piece END)) AS m
        FROM d{r}_{i-1} d
        JOIN v{r} v ON v.piece = substr(d.word, d.pos + 1, {i} - d.pos)
        WHERE d.pos BETWEEN {i} - {MAX_PIECE_LEN} AND {i} - 1
          AND length(d.word) >= {i}
        GROUP BY d.word, d.freq
      )
    )""")
        # noqa: E501 — generated SQL block
    parts.append(f"""seg{r} AS MATERIALIZED (
      SELECT word, freq, score, n, sig
      FROM d{r}_{_UNI_UNROLL} WHERE pos = length(word)
    ),
    cnt{r} AS MATERIALIZED (
      SELECT s.piece, CAST(coalesce(SUM(p.freq), 0) AS BIGINT) AS cnt
      FROM seed s
      LEFT JOIN (SELECT unnest(string_split(sig, '|')) AS piece, freq
                 FROM seg{r}) p ON p.piece = s.piece
      GROUP BY s.piece
    )""")
    return ",\n    ".join(parts)


def _unigram_cost_cte(src: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
      SELECT piece,
             CAST(floor({_UNI_Q} * ln(t.t + t.m)) AS BIGINT)
               - CAST(floor({_UNI_Q} * ln(cnt + 1)) AS BIGINT) AS cost_q
      FROM {src}, (SELECT SUM(cnt) AS t, COUNT(*) AS m FROM {src}) t
    )"""


def _unigram_oracle() -> str:
    from flight_delay_prediction_using_pyspark_spark.text.unigram import (
        MAX_PIECE_LEN,
        TOP_M,
    )

    rounds_sql = []
    for r in range(1, _UNI_ROUNDS + 1):
        src = "seed" if r == 1 else f"cnt{r-1}"
        rounds_sql.append(_unigram_cost_cte(src, f"v{r}"))
        rounds_sql.append(_unigram_dp_ctes(r))
    body = ",\n    ".join(rounds_sql)
    return rf"""
    WITH tfw AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
            FROM documents)
      GROUP BY word
      HAVING length(word) >= 1
    ),
    subs AS (
      SELECT substr(word, CAST(i AS INT), CAST(L AS INT)) AS piece, freq
      FROM tfw,
           unnest(generate_series(1, length(word))) g(i),
           unnest(generate_series(1, {MAX_PIECE_LEN})) h(L)
      WHERE i + L - 1 <= length(word)
    ),
    scnt AS MATERIALIZED (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM subs GROUP BY piece
    ),
    seed AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM scnt WHERE length(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {TOP_M})
      UNION ALL
      SELECT piece, cnt FROM scnt WHERE length(piece) = 1
    ),
    {body},
    {_unigram_cost_cte(f"cnt{_UNI_ROUNDS}", "vfinal")}
    SELECT c.piece, CAST(length(c.piece) AS BIGINT) AS piece_len,
           c.cnt AS viterbi_count, v.cost_q
    FROM cnt{_UNI_ROUNDS} c JOIN vfinal v USING (piece)
    ORDER BY viterbi_count DESC, piece
    LIMIT 15
    """


@query("corpus_unigram_lm_vocab", oracle=_unigram_oracle())
def q_corpus_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer-vocabulary induction (Kudo, ACL 2018 —
    the SentencePiece unigram model behind T5/Llama-family
    tokenizers), hard-EM variant: substring seeding → 2 rounds of
    (Viterbi E-step, count M-step) with integer-quantized smoothed
    costs — the SECOND of the two standard vocab-induction algorithms
    (BPE is corpus_bpe_vocab_induction; real pipelines pick per
    model family). Emits the top of the final piece table with
    weighted Viterbi counts and shippable quantized costs.

    Scale shape (text/unigram.py): one corpus-scale aggregation
    (word → freq), a bounded substring-seed explode over the vocab
    frame, then every E-step is a MAP-ONLY projection — the piece-
    cost table is a bounded tokenizer artifact inlined as a map
    literal inside one aggregate() DP fold (zero joins/windows;
    lexicographic min-of-struct is the deterministic tie-break,
    verified identical in both engines) — and every M-step one
    explode + groupBy. Driver state is always artifact-sized. The
    oracle replays the identical computation as unrolled MATERIALIZED
    per-position DP joins."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B
    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    docs = load_table(spark, sf_dir, "documents")
    words = scratch_persist(B.word_freq(docs))
    counts, costs, _ = U.unigram_train(words, n_rounds=_UNI_ROUNDS)
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    return spark.createDataFrame(
        [(p, len(p), c, costs[p]) for p, c in rows],
        "piece string, piece_len long, viterbi_count long, cost_q long",
    ).orderBy(F.desc("viterbi_count"), F.asc("piece"))


# ---------------------------------------------------------------------------
# Batched multi-merge BPE induction (round-9; the production variant —
# see text/bpe.py bpe_train_batched for the symbol-disjointness
# argument and the divergence-bounding tests)
# ---------------------------------------------------------------------------

_BPE_BATCH_ROUNDS = 2
_BPE_BATCH_K = 4
_BPE_BATCH_CAP = 32


def _bpe_batched_oracle(n_rounds: int, batch_k: int, cap: int) -> str:
    """Unrolled-SQL replay of batched BPE: per round, the top-`cap`
    pair candidates ranked by the shared (cnt DESC, a, b) order, then
    `batch_k` greedy picks unrolled as chained single-row CTEs —
    k{r}_{j} is the minimum-rank candidate symbol-disjoint from every
    earlier pick this round (greedy scan ≡ that chain, inductively).
    A pick CTE that finds nothing emits the sentinel ('','') so the
    chain and the rewrite CTEs stay total: a sentinel's match
    predicate is false on every (non-empty) symbol, making its rewrite
    the identity, and sentinels are filtered from the emitted merge
    table. Rewrites reuse the exact textbook window plan (island
    start = first match after the last non-match)."""
    parts = [_bpe_oracle_ctes(0).removeprefix("WITH ")]
    prev = "r0"
    for r in range(1, n_rounds + 1):
        parts.append(f"""pc{r} AS MATERIALIZED (
      SELECT * FROM (
        SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rnk
        FROM (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
              FROM (SELECT sym AS a,
                           lead(sym) OVER (PARTITION BY word ORDER BY pos)
                             AS b,
                           freq
                    FROM {prev})
              WHERE b IS NOT NULL GROUP BY a, b)
      ) WHERE rnk <= {cap}
    )""")
        for j in range(1, batch_k + 1):
            if j == 1:
                inner = f"SELECT a, b, cnt FROM pc{r} WHERE rnk = 1"
            else:
                conds = " AND ".join(
                    f"p.a NOT IN (k{r}_{i}.a, k{r}_{i}.b) "
                    f"AND p.b NOT IN (k{r}_{i}.a, k{r}_{i}.b)"
                    for i in range(1, j)
                )
                froms = ", ".join(f"k{r}_{i}" for i in range(1, j))
                inner = (
                    f"SELECT p.a, p.b, p.cnt FROM pc{r} p, {froms} "
                    f"WHERE {conds} ORDER BY p.rnk LIMIT 1"
                )
            parts.append(f"""k{r}_{j} AS MATERIALIZED (
      SELECT coalesce(p.a, '') AS a, coalesce(p.b, '') AS b,
             CAST(coalesce(p.cnt, 0) AS BIGINT) AS cnt
      FROM (SELECT 1 AS one) d LEFT JOIN ({inner}) p ON TRUE
    )""")
            nxt = f"s{r}_{j}"
            parts.append(f"""bf{r}_{j} AS (
      SELECT t.word, t.freq, t.pos, t.sym, k.a AS ba, k.b AS bb,
             coalesce(t.sym = k.a
                      AND lead(t.sym) OVER (PARTITION BY t.word
                                            ORDER BY t.pos) = k.b,
                      FALSE) AS match
      FROM {prev} t CROSS JOIN k{r}_{j} k
    ),
    bh{r}_{j} AS (
      SELECT *, (match AND (pos
                 - coalesce(MAX(CASE WHEN NOT match THEN pos END)
                            OVER (PARTITION BY word ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING), 0)
                 - 1) % 2 = 0) AS is_start
      FROM bf{r}_{j}
    ),
    bi{r}_{j} AS (
      SELECT *, coalesce(LAG(is_start) OVER (PARTITION BY word
                                             ORDER BY pos),
                         FALSE) AS gone
      FROM bh{r}_{j}
    ),
    {nxt} AS MATERIALIZED (
      SELECT word, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                  AS BIGINT) AS pos,
             CASE WHEN is_start THEN ba || bb ELSE sym END AS sym
      FROM bi{r}_{j} WHERE NOT gone
    )""")
            prev = nxt
    union = "\n        UNION ALL\n        ".join(
        f"SELECT {r} AS sel_round, {j} AS sel_slot, a, b, cnt "
        f"FROM k{r}_{j}"
        for r in range(1, n_rounds + 1)
        for j in range(1, batch_k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sel_round, sel_slot)
                AS BIGINT) AS merge_rank,
           a AS left_sym, b AS right_sym, a || b AS merged,
           cnt AS pair_count
    FROM (SELECT * FROM ({union}) WHERE a <> '')
    ORDER BY merge_rank
    """
    )


def _bpe_batched_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The batched trainer's merge list, memoized like _bpe_merges."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    def build():
        docs = load_table(spark, sf_dir, "documents")
        words = scratch_persist(B.word_freq(docs))
        return B.bpe_train_batched(
            words,
            batch_k=_BPE_BATCH_K,
            cand_cap=_BPE_BATCH_CAP,
            n_rounds=_BPE_BATCH_ROUNDS,
        )[0]

    return session_memo(spark, ("bpe_batched_merges", sf_dir), build)


@query(
    "corpus_bpe_batched_merges",
    oracle=_bpe_batched_oracle(_BPE_BATCH_ROUNDS, _BPE_BATCH_K, _BPE_BATCH_CAP),
)
def q_corpus_bpe_batched_merges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched multi-merge BPE induction (round-9 mandate): learn a
    vocabulary in `_BPE_BATCH_ROUNDS` selection rounds of up to
    `_BPE_BATCH_K` symbol-disjoint merges each and emit the ordered
    merge table. This is the PRODUCTION induction shape: driver
    round-trips drop from n_merges to n_merges/batch_k (a 30k-merge
    vocab becomes thousands of driver actions, not tens of
    thousands) while staying deterministic and oracle-replayable —
    the DuckDB oracle re-runs the identical capped-candidate greedy
    selection and batch rewrite as unrolled SQL. Within a round,
    symbol-disjoint merges cannot overlap in any word or perturb each
    other's pair counts, so the batch equals sequential application
    (tests pin both the equal-schedule and the predicted-divergence
    regimes vs the textbook trainer).

    Scale shape (text/bpe.py): identical to the textbook trainer —
    ONE corpus-scale aggregation, vocab-grain rounds, window-only
    rewrites sharing one (word, pos) partitioning, size-gated
    iteration caching — except the driver argmax widens from one row
    to the top-`_BPE_BATCH_CAP` candidate list (still a bounded
    artifact). The returned frame is the driver-side merge table; the
    distributed plan shape is pinned by the selection-plan budget
    test (test_plans) and the shared apply twin."""
    merges = _bpe_batched_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(rank, a, b, a + b, cnt) for rank, a, b, cnt in merges],
        "merge_rank long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("merge_rank")


def _wordpiece_crossover_oracle(n_merges: int, max_pieces: int = 8) -> str:
    """The trie-vs-fold crossover select: the oracle cannot run the
    mapInPandas trie, so it replays the longest-match segmentation
    once (the shared ground truth) and pins the CONTRACT instead —
    identical rows on every word (n_identical = n_words); the piece
    and truncation sums re-verify the segmentation itself."""
    return f"""{_wordpiece_prefix(n_merges, max_pieces)}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_identical,
           CAST(SUM(freq * n_pieces) AS BIGINT) AS wp_pieces_weighted,
           CAST(COUNT(CASE WHEN remaining <> '' THEN 1 END) AS BIGINT)
             AS n_truncated
    FROM s{max_pieces}
    """


@query(
    "corpus_wordpiece_trie_crossover",
    oracle=_wordpiece_crossover_oracle(_BPE_N_MERGES),
)
def q_corpus_wordpiece_trie_crossover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fold-vs-trie crossover for WordPiece segmentation (round-9
    mandate — the large-inventory escape hatch is now code, not a
    docstring): segment the corpus vocabulary with BOTH
    implementations of greedy longest-match-first over the same
    induced inventory — the inlined-array-literal aggregate() fold
    (the ≤INLINE_INVENTORY_MAX production path) and the mapInPandas
    prefix-trie pass (the ≫10⁵-inventory path,
    `wordpiece_segment_trie`) — join on word, and count full-row
    agreement (remaining, piece count, AND the piece sequence itself).
    The oracle replays the segmentation once in unrolled SQL and pins
    n_identical = n_words: any divergence between the two engines'
    paths, on any word, turns the row red.

    Scale shape: both segmentations are map-only over the vocab frame
    (the fold is pure codegen; the trie is one Arrow pass whose
    closure ships the bounded inventory artifact once per executor);
    the census is one vocab-grain join plus a global agg. The
    auto-switch between them is size-gated at INLINE_INVENTORY_MAX
    (tested), the same bounded-artifact economics as
    scratch_persist_if_large."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    merges = _bpe_merges(spark, sf_dir)
    pairs = [(a, b) for _, a, b, _ in merges]
    docs = load_table(spark, sf_dir, "documents")
    words = scratch_persist(B.word_freq(docs))
    fold = B.wordpiece_segment(words, pairs, max_pieces=_BPE_N_MERGES)
    trie = B.wordpiece_segment_trie(words, pairs, max_pieces=_BPE_N_MERGES)
    f, t = fold.alias("f"), trie.alias("t")
    same = (
        (F.col("f.remaining") == F.col("t.remaining"))
        & (F.col("f.n_pieces") == F.col("t.n_pieces"))
        & (F.col("f.sig") == F.col("t.sig"))
    )
    return f.join(t, "word").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.count(F.when(same, 1)).cast("long").alias("n_identical"),
        F.sum(F.col("f.freq") * F.col("f.n_pieces"))
        .cast("long")
        .alias("wp_pieces_weighted"),
        F.count(F.when(F.col("f.remaining") != "", 1))
        .cast("long")
        .alias("n_truncated"),
    )


def _wordpiece_frozen_oracle(n_merges: int, max_pieces: int = 8) -> str:
    """Frozen-inventory cross-corpus replay: the inventory comes from
    the DOCUMENTS training replay (alphabet ∪ merged units — the same
    CTEs the census oracle uses), the segmented vocabulary from
    part.p_name. The longest-match steps gain the char-fallback
    branch: a word whose remaining suffix has NO inventory prefix
    (possible only cross-corpus — 'z' never occurs in the training
    text) consumes one character as its own piece, exactly like the
    Spark fold's coalesce(..., substring(remaining, 1, 1))."""
    union_merged = "\n      UNION\n      ".join(
        f"SELECT a || b AS piece FROM best{k}" for k in range(1, n_merges + 1)
    )
    steps = []
    for i in range(1, max_pieces + 1):
        p = i - 1
        steps.append(f"""pcand{i} AS (
      SELECT s.word, s.freq, s.remaining, s.n_pieces, s.sig, v.piece
      FROM (SELECT s.*, substr(s.remaining, 1, CAST(g.l AS INT)) AS pref
            FROM p{p} s, ml,
                 unnest(generate_series(1, least(length(s.remaining), ml.m)))
                   AS g(l)) s
      JOIN inventory v ON v.piece = s.pref
    ),
    p{i} AS MATERIALIZED (
      SELECT word, freq, substr(remaining, length(piece) + 1) AS remaining,
             n_pieces + 1 AS n_pieces,
             CASE WHEN sig = '' THEN piece
                  ELSE sig || '|' || piece END AS sig
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY word
                      ORDER BY length(piece) DESC, piece) AS rn
            FROM pcand{i}) WHERE rn = 1
      UNION ALL
      SELECT word, freq, substr(remaining, 2) AS remaining,
             n_pieces + 1 AS n_pieces,
             CASE WHEN sig = '' THEN substr(remaining, 1, 1)
                  ELSE sig || '|' || substr(remaining, 1, 1) END AS sig
      FROM p{p}
      WHERE remaining <> ''
        AND word NOT IN (SELECT word FROM pcand{i})
      UNION ALL
      SELECT word, freq, remaining, n_pieces, sig
      FROM p{p} WHERE remaining = ''
    )""")
    steps_sql = ",\n    ".join(steps)
    return rf"""{_bpe_oracle_ctes(n_merges)},
    inventory AS (
      SELECT DISTINCT sym AS piece FROM r0
      UNION
      {union_merged}
    ),
    ml AS (SELECT MAX(length(piece)) AS m FROM inventory),
    tfp AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(p_name)), '\s+'))
              AS word
            FROM part)
      GROUP BY word
    ),
    p0 AS MATERIALIZED (
      SELECT word, freq, word AS remaining,
             CAST(0 AS BIGINT) AS n_pieces, '' AS sig
      FROM tfp WHERE length(word) >= 1
    ),
    {steps_sql}
    SELECT word, freq, remaining,
           CAST(n_pieces AS BIGINT) AS n_pieces, sig
    FROM p{max_pieces}
    ORDER BY word
    """


@query(
    "corpus_wordpiece_frozen_apply",
    oracle=_wordpiece_frozen_oracle(_BPE_N_MERGES),
)
def q_corpus_wordpiece_frozen_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train-once / apply-many — the contract a tokenizer artifact
    exists for (round-9 mandate; the shipped-inventory path had only
    local tests through round 8): induce the vocabulary on the
    DOCUMENTS corpus (the memoized deterministic training run the
    whole BPE family shares), freeze inventory = training alphabet ∪
    merged units, and segment a FOREIGN vocabulary — part.p_name's
    words — with `wordpiece_segment(inventory=...)`. The foreign
    vocabulary contains characters the training corpus never saw
    ('z' in bronze), so the char-fallback path (the byte-fallback
    analogue in production tokenizers) executes for real and its
    output is hash-verified per word: the oracle replays the frozen
    inventory AND the fallback branch in unrolled SQL, and the
    emitted rows carry every piece sequence verbatim.

    Scale shape: the training corpus is never re-touched (inventory
    is one bounded collect over the memoized vocab state); applying a
    frozen inventory to new text is the map-only fold (or the trie
    pass past INLINE_INVENTORY_MAX) over the new corpus' one
    word-frequency aggregate."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    merges = _bpe_merges(spark, sf_dir)
    pairs = [(a, b) for _, a, b, _ in merges]
    docs = load_table(spark, sf_dir, "documents")
    train_words = scratch_persist(B.word_freq(docs))
    alphabet = {
        r["sym"]
        for r in B.char_state(train_words).select("sym").distinct().collect()
    }
    inventory = sorted(alphabet | {a + b for a, b in pairs})
    part = load_table(spark, sf_dir, "part")
    apply_words = B.word_freq(part, text_col="p_name")
    return (
        B.wordpiece_segment(
            apply_words, [], max_pieces=_BPE_N_MERGES, inventory=inventory
        )
        .select("word", "freq", "remaining", "n_pieces", "sig")
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# Learned quality-classifier scoring (round-9; fastText-style hashed
# n-gram logistic regression — see text/quality_clf.py)
# ---------------------------------------------------------------------------


def _quality_clf_oracle() -> str:
    """DuckDB replay of classifier scoring with the IDENTICAL trained
    integer artifact: the weight vector is inlined as a list literal
    (both engines call trained_weights_q, whose training is a
    deterministic pure-Python constant of the codebase), the feature
    hash is the engine-portable md5 prefix, and scores are exact
    integer sums — nothing float-portable to drift."""
    from flight_delay_prediction_using_pyspark_spark.text.quality_clf import (
        N_BUCKETS,
        trained_weights_q,
    )

    bias_q, wq = trained_weights_q()
    w_list = "[" + ",".join(str(v) for v in wq) + "]"
    buck = (
        "(CAST(concat('0x', substr(md5({t}), 1, 8)) AS BIGINT) "
        f"% {N_BUCKETS})"
    )
    return rf"""
    WITH toks AS (
      SELECT lang, doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    scored AS (
      SELECT lang,
             CAST({bias_q}
               + coalesce(list_sum(list_transform(t, x ->
                   {w_list}[{buck.format(t='x')} + 1])), 0)
               + coalesce(list_sum(list_transform(range(1, len(t)), i ->
                   {w_list}[{buck.format(t="t[i] || ' ' || t[i+1]")} + 1])),
                   0)
               AS BIGINT) AS score_q
      FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN score_q > 0 THEN 1 END) AS BIGINT)
             AS n_positive,
           CAST(SUM(score_q) AS BIGINT) AS sum_score_q,
           CAST(SUM(score_q) // COUNT(*) AS BIGINT) AS mean_score_q,
           CAST(MIN(score_q) AS BIGINT) AS min_score_q,
           CAST(MAX(score_q) AS BIGINT) AS max_score_q
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """


@query("doc_quality_classifier_scores", oracle=_quality_clf_oracle())
def q_doc_quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model-based quality filtering (round-9 mandate): score every
    document with a LEARNED fastText-style classifier — hashed
    unigram+bigram features · integer-quantized logistic-regression
    weights — and roll the integer scores up per language. The rules
    stack (doc_quality_buckets, doc_gopher_rule_census) encodes
    hand-written thresholds; this is the standard learned stage an
    LLM data pipeline runs beside them.

    Training is driver-side pure Python on a deterministic labeled
    fixture (diverse corpus-vocabulary docs vs repetitive spam-subset
    docs — text/quality_clf.py), so the weight vector is a
    reproducible constant; an engine-free pytest scorer pins Spark's
    integers bit-for-bit, and this oracle replays scoring with the
    identical inlined artifact.

    Scale shape — scoring as expression (the tokenizer-as-expression
    pattern): the ~8 KB weight array rides the plan as a literal;
    each doc is ONE aggregate() fold per n-gram order inside
    whole-stage codegen — map-only, zero joins, zero Python, one
    corpus pass, then a per-lang agg. Exactly how a 100 TB corpus
    gets quality-filtered without moving data."""
    from flight_delay_prediction_using_pyspark_spark.text.quality_clf import (
        spark_score_expr,
        trained_weights_q,
    )

    bias_q, wq = trained_weights_q()
    score = spark_score_expr("__toks", bias_q, wq)
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks"),
    ).select("lang", F.expr(score).alias("score_q"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("score_q") > 0, 1))
            .cast("long")
            .alias("n_positive"),
            F.sum("score_q").cast("long").alias("sum_score_q"),
            F.expr("CAST(sum(score_q) DIV count(1) AS BIGINT)").alias(
                "mean_score_q"
            ),
            F.min("score_q").cast("long").alias("min_score_q"),
            F.max("score_q").cast("long").alias("max_score_q"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Sample-based estimation tier: at 100 TB the answer to "how big is
# this slice" is usually an ESTIMATE from a sample kept per shard, not
# a scan. Priority sampling (Duffield-Lund-Thorup, JACM'07) is the
# canonical such sample: k rows per group answer arbitrary later
# subset-sum questions unbiasedly. See also the lineitem estimators in
# temporal_queries (Neyman-allocated stratified HT, DKW-certified
# sample quantiles).
# ---------------------------------------------------------------------------


@query(
    "corpus_priority_sample_estimator",
    oracle="""
    WITH p AS (
      SELECT lang, doc_id, n_chars,
             CAST(n_chars AS DOUBLE)
               / (CAST(CAST(concat('0x', substr(md5(concat('ps_', doc_id)), 1, 15))
                       AS BIGINT) + 1 AS DOUBLE)
                  / 1152921504606846976.0) AS priority
      FROM documents
      WHERE n_chars > 0
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn
      FROM p
    ),
    t AS (
      SELECT lang,
             COALESCE(MAX(CASE WHEN rn = 21 THEN priority END), 0.0) AS tau,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS true_sum
      FROM r GROUP BY lang
    )
    SELECT r.lang,
           t.n_docs,
           COUNT(*) AS k_eff,
           t.true_sum,
           CAST(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                  t.tau)) AS BIGINT))
                AS BIGINT) AS est_sum_u,
           CAST(abs(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                      t.tau)) AS BIGINT))
                    - 1000000 * t.true_sum) // t.true_sum AS BIGINT)
             AS abs_err_ppm
    FROM r JOIN t USING (lang)
    WHERE r.rn <= 20
    GROUP BY r.lang, t.n_docs, t.true_sum
    """,
)
def q_corpus_priority_sample_estimator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Priority sampling + the DLT subset-sum estimator
    (operators.sampling.priority_sample): keep the k=20
    highest-priority docs per language (priority = n_chars/u with the
    deterministic md5-uniform u) and estimate each language's TOTAL
    character mass from the sample alone as Σ max(w, τ) — unbiased by
    Duffield-Lund-Thorup, and the same 20 rows would answer any later
    subset-sum ("chars in docs from source X") without re-scanning.
    The true per-group sums computed here are the AUDIT panel — the
    production value is precisely that τ makes them unnecessary.

    Portability: priority is one IEEE division of exactly-cast
    integers (correctly rounded ⇒ bit-identical cross-engine, unlike
    the E-S ln-key in corpus_weighted_sample_topk which needs the
    floor-quantized-ln discipline); the estimator itself is summed as
    floor-quantized micro-units so the Σ is integer-exact and
    order-free. Groups with ≤ k docs get τ=0 and the estimate is
    exact (abs_err_ppm = 0 — at sf0.01 every non-'en' language, a
    live degenerate-case check in the driver row). Scale: one
    scan + per-group top-(k+1); the 100 TB path swaps the full sort
    for a sketch-threshold prefilter (operator docstring)."""
    from flight_delay_prediction_using_pyspark_spark.operators.sampling import (
        priority_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    totals = docs.filter(F.col("n_chars") > 0).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("true_sum"),
    )
    samp = priority_sample(docs, "doc_id", "n_chars", k=20, group_cols=("lang",))
    est_term = F.floor(
        1000000 * F.greatest(F.col("n_chars").cast("double"), F.col("tau"))
    ).cast("long")
    est = samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(est_term).cast("long").alias("est_sum_u"),
    )
    return (
        est.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "n_docs",
            "k_eff",
            "true_sum",
            "est_sum_u",
            F.expr(
                "CAST(abs(est_sum_u - 1000000 * true_sum) DIV true_sum AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )


@query(
    "corpus_priority_sample_subset_panel",
    oracle="""
    WITH p AS (
      SELECT lang, doc_id, source, n_chars,
             CAST(n_chars AS DOUBLE)
               / (CAST(CAST(concat('0x', substr(md5(concat('ps_', doc_id)), 1, 15))
                       AS BIGINT) + 1 AS DOUBLE)
                  / 1152921504606846976.0) AS priority
      FROM documents
      WHERE n_chars > 0
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn
      FROM p
    ),
    t AS (
      SELECT lang,
             COALESCE(MAX(CASE WHEN rn = 21 THEN priority END), 0.0) AS tau
      FROM r GROUP BY lang
    ),
    truth AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS true_sum
      FROM p GROUP BY source
    ),
    est AS (
      SELECT r.source,
             COUNT(*) AS n_sampled,
             CAST(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                    t.tau)) AS BIGINT))
                  AS BIGINT) AS est_sum_u
      FROM r JOIN t USING (lang)
      WHERE r.rn <= 20
      GROUP BY r.source
    )
    SELECT truth.source, est.n_sampled, truth.true_sum, est.est_sum_u,
           CAST(abs(est.est_sum_u - 1000000 * truth.true_sum)
                // truth.true_sum AS BIGINT) AS abs_err_ppm
    FROM truth JOIN est ON truth.source = est.source
    """,
)
def q_corpus_priority_sample_subset_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DLT property that makes priority sampling worth KEEPING:
    the SAME per-language k=20 sample drawn by
    corpus_priority_sample_estimator (same salt, same priorities, same
    τ) here answers a question it was never drawn for — per-SOURCE
    character mass — by restricting Σ max(w, τ) to each source's
    sampled rows. Per Duffield-Lund-Thorup every subset sum estimated
    this way is unbiased, stratified across the per-group samples; no
    second corpus pass, no new sample. At 100 TB this is the
    operational pattern: draw the priority sample once per
    shard/partition at ingest, answer this quarter's slice questions
    from it forever. True per-source sums are the audit panel (only
    sources intersecting the sample appear — a subset with no sampled
    row estimates 0, reported by its absence). Honest error scale: a
    source intersects the 100-row sample in ~5 rows here, so
    per-source relative error runs ~1/√5 ≈ 45% (measured 8%-195%
    across the 20 sources at sf0.01) — unbiased, not magic; slicing
    finer than the sample supports means sizing k to the slice grain
    at draw time, which is exactly the knob the estimator exposes."""
    from flight_delay_prediction_using_pyspark_spark.operators.sampling import (
        priority_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "source", "n_chars"
    )
    truth = docs.filter(F.col("n_chars") > 0).groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("true_sum")
    )
    samp = priority_sample(docs, "doc_id", "n_chars", k=20, group_cols=("lang",))
    est_term = F.floor(
        1000000 * F.greatest(F.col("n_chars").cast("double"), F.col("tau"))
    ).cast("long")
    est = samp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(est_term).cast("long").alias("est_sum_u"),
    )
    return est.join(F.broadcast(truth), "source").select(
        "source",
        "n_sampled",
        "true_sum",
        "est_sum_u",
        F.expr(
            "CAST(abs(est_sum_u - 1000000 * true_sum) DIV true_sum AS BIGINT)"
        ).alias("abs_err_ppm"),
    )


@query(
    "corpus_source_kl_mixture_drift",
    oracle="""
    WITH d AS (
      SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    occ AS (SELECT source, unnest(t) AS token FROM d),
    st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_sw
           FROM occ GROUP BY source, token),
    tok AS (SELECT token, CAST(SUM(c_sw) AS BIGINT) AS c_w
            FROM st GROUP BY token),
    src AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM st GROUP BY source),
    tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM src),
    terms AS (
      SELECT st.source,
             st.c_sw * CAST(floor(100000 * ln(
                 (CAST(st.c_sw AS DOUBLE) / tok.c_w)
                 * (CAST(tot.n AS DOUBLE) / src.n_s))) AS BIGINT) AS q
      FROM st
      JOIN tok USING (token)
      JOIN src USING (source)
      CROSS JOIN tot
    )
    SELECT src.source, src.n_s AS n_tokens, src.n_distinct,
           CAST((1000000 * src.n_s) // tot.n AS BIGINT) AS share_ppm,
           CAST(SUM(t.q) // src.n_s AS BIGINT) AS kl_q100k
    FROM terms t
    JOIN src USING (source)
    CROSS JOIN tot
    GROUP BY src.source, src.n_s, src.n_distinct, tot.n
    """,
)
def q_corpus_source_kl_mixture_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source mixture-drift audit: KL(source ‖ corpus) over the
    unigram token distribution — the number a data-refresh review
    reads to see WHICH source's language moved away from the mixture
    the model was trained on (the divergence side of the DSIR
    coin: DSIR reweights docs toward a target, this ranks sources by
    how far each sits from the blend). KL(p_s ‖ q) =
    Σ_w p_s(w)·ln(p_s(w)/q(w)), emitted 1e-5-quantized
    (kl_q100k = Σ c_sw·floor(1e5·ln(ratio)) DIV N_s) with the ln
    argument computed as (c_sw/c_w)·(N/N_s) — two exact-integer
    divisions and one multiply in fixed order, overflow-free at any
    scale (the naive (c_sw·N)/(c_w·N_s) overflows BIGINT at
    warehouse token counts), and floor-quantized ln on BOTH engines
    (the TF-IDF/PMI portability pattern).

    Scale shape: ONE corpus scan (explode → (source, token) grouped
    count with map-side combine); the token totals, per-source
    totals, corpus total, and every KL term all derive from that
    vocabulary-sized residue — three more grouped aggs and two
    residue joins, no second scan. Per-term floors bias each summand
    down ~½·1e-5 nat, so near-uniform sources can read slightly
    negative — it is a drift RANKING, not an entropy estimate."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    occ = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    st = scratch_persist(
        occ.groupBy("source", "token").agg(
            F.count(F.lit(1)).cast("long").alias("c_sw")
        )
    )
    tok = st.groupBy("token").agg(F.sum("c_sw").cast("long").alias("c_w"))
    src = st.groupBy("source").agg(
        F.sum("c_sw").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    tot = src.agg(F.sum("n_s").cast("long").alias("n"))
    lnq = F.floor(
        F.lit(100000)
        * F.log(
            (F.col("c_sw").cast("double") / F.col("c_w"))
            * (F.col("n").cast("double") / F.col("n_s"))
        )
    ).cast("long")
    terms = (
        st.join(tok, "token")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", (F.col("c_sw") * lnq).alias("q"))
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("q").cast("long").alias("sq"))
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_distinct",
            F.expr("CAST((1000000 * n_s) DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr("CAST(sq DIV n_s AS BIGINT)").alias("kl_q100k"),
        )
    )


@query(
    "corpus_priority_sample_hajek_mean",
    oracle="""
    WITH p AS (
      SELECT lang, doc_id, n_chars,
             CAST(n_chars AS DOUBLE)
               / (CAST(CAST(concat('0x', substr(md5(concat('ps_', doc_id)), 1, 15))
                       AS BIGINT) + 1 AS DOUBLE)
                  / 1152921504606846976.0) AS priority
      FROM documents
      WHERE n_chars > 0
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn
      FROM p
    ),
    t AS (
      SELECT lang,
             COALESCE(MAX(CASE WHEN rn = 21 THEN priority END), 0.0) AS tau,
             CAST(COUNT(*) AS BIGINT) AS true_count,
             CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS true_mean
      FROM r GROUP BY lang
    )
    SELECT r.lang,
           t.true_count,
           CAST(COUNT(*) AS BIGINT) AS k_eff,
           CAST(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                  t.tau)
                               / CAST(r.n_chars AS DOUBLE)) AS BIGINT))
                AS BIGINT) AS est_count_u,
           t.true_mean,
           CAST(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                  t.tau)) AS BIGINT))
                // SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                     t.tau)
                                  / CAST(r.n_chars AS DOUBLE)) AS BIGINT))
             AS BIGINT) AS hajek_mean,
           CAST(abs(SUM(CAST(floor(1000000 * greatest(CAST(r.n_chars AS DOUBLE),
                                                      t.tau)
                                   / CAST(r.n_chars AS DOUBLE)) AS BIGINT))
                    - 1000000 * t.true_count) // t.true_count AS BIGINT)
             AS count_err_ppm
    FROM r JOIN t USING (lang)
    WHERE r.rn <= 20
    GROUP BY r.lang, t.true_count, t.true_mean
    """,
)
def q_corpus_priority_sample_hajek_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The estimator the DLT subset-SUM query cannot answer by itself:
    per-group COUNTS and MEANS from the same kept k=20 priority
    sample. Each sampled row's Horvitz-Thompson weight for a COUNT is
    max(w, τ)/w (its inclusion probability is min(1, w/τ)), so
    N̂ = Σ max(w,τ)/w estimates the group population, and the HÁJEK
    ratio estimator (Hájek 1971; Särndal et al. §5.7 — the standard
    survey-sampling mean) divides the two sample-estimated totals:
    mean ≈ Σ max(w,τ) / Σ max(w,τ)/w. Ratio estimators trade exact
    unbiasedness for bounded relative error on BOTH axes — the
    production question ("average doc length in this slice?") is a
    ratio, and answering it from the standing sample costs zero new
    passes.

    Portability: max(w,τ)/w is one IEEE division of bit-identical
    doubles (same operand order both engines); each term is
    floor-quantized to integer micro-units BEFORE summing so the
    per-group Σ is order-free, and the final ratio is integer
    division of the two micro-sums. Groups with ≤ k docs have τ=0 →
    every HT weight is exactly 1.0 and count/mean are EXACT
    (count_err_ppm = 0 — the live degenerate check, same as the
    estimator twin). One scan + the same per-group top-(k+1)."""
    from flight_delay_prediction_using_pyspark_spark.operators.sampling import (
        priority_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    totals = docs.filter(F.col("n_chars") > 0).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_count"),
        F.expr("CAST(SUM(n_chars) DIV COUNT(*) AS BIGINT)").alias(
            "true_mean"
        ),
    )
    samp = priority_sample(docs, "doc_id", "n_chars", k=20, group_cols=("lang",))
    w_dbl = F.col("n_chars").cast("double")
    ht = F.greatest(w_dbl, F.col("tau"))
    sum_term = F.floor(1000000 * ht).cast("long")
    cnt_term = F.floor(1000000 * ht / w_dbl).cast("long")
    est = samp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"),
        F.sum(sum_term).cast("long").alias("est_sum_u"),
        F.sum(cnt_term).cast("long").alias("est_count_u"),
    )
    return (
        est.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "true_count",
            "k_eff",
            "est_count_u",
            "true_mean",
            F.expr("CAST(est_sum_u DIV est_count_u AS BIGINT)").alias(
                "hajek_mean"
            ),
            F.expr(
                "CAST(abs(est_count_u - 1000000 * true_count)"
                " DIV true_count AS BIGINT)"
            ).alias("count_err_ppm"),
        )
    )
