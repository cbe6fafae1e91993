"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the point of each algorithm):

- **Exact** (`exact_dup_stats`, `dedup_exact`): hash-groupBy on a
  portable content fingerprint. One shuffle on the hash key; at
  100 TB this is the cheapest possible dedup (shuffle carries only
  (hash, id), not text).
- **MinHash + LSH** (`minhash_lsh_pairs`): shingle → k minhashes →
  b bands → bucket join. Candidate generation is a self-join on
  (band, band_hash) — the shuffle key is a short hash, each bucket is
  tiny, and the O(n²) explosion is confined to same-bucket documents.
  A final exact-Jaccard filter removes LSH false positives. This is
  the canonical web-scale near-dup pipeline (GPT-3/C4 style).
- **SimHash** (`simhash_pairs`): one 32-bit signature per doc;
  near-dups = small Hamming distance. Candidates via the pigeonhole
  trick: split the signature into `hamming_k + 1` chunks — any pair
  within distance k agrees on ≥1 chunk — so candidate generation is
  again an equi-join on (chunk_idx, chunk_value).
- **n-gram Jaccard** (`jaccard`): exact set overlap on token
  shingles; used as the verifier behind LSH (never run all-pairs at
  scale).
- **Embedding cosine** (`embedding_near_dup_pairs`): semantic
  near-dup over `array<float>` embeddings; candidates via
  random-hyperplane LSH buckets (see similarity.ann), verified by
  exact cosine.

The CPU-bound per-document stages spread a scan narrower than the
core count with `plans.queries.spread_if_narrow`.

All hashes are the portable md5-derived 32-bit hash
(analysis.md5_hash32) so every stage is DuckDB-oracle-verifiable
bit-for-bit.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.text.analysis import (
    let,
    md5_hash32,
    md5_hash60,
    quality_language_struct,
    tokens,
)

#: Default MinHash geometry: 16 hashes = 4 bands × 4 rows. With
#: Jaccard s, P(candidate) = 1-(1-s^4)^4 — the s-curve crosses 0.5
#: near s≈0.55. Tune bands/rows per corpus; keep k = bands*rows.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4

#: Affine minhash family over ONE portable base hash per shingle:
#: h_i(x) = (A[i] * (md5_32(x) mod P) + B[i]) mod P, the standard
#: Carter-Wegman universal family with A uniform in [1, P). One md5
#: digest per shingle instead of k — the k variants are integer
#: transforms. P = 2^31−1 (Mersenne) keeps the product ≤ (P−1)² <
#: 2^62: no int64 overflow in either engine. Fixed seed ⇒ the same
#: literals embed in the generated oracle SQL.
#:
#: ROUND-7 FIX — the previous family ((A·h + B) mod 2^61−1 with
#: A < 2^30, h < 2^32) was NOT min-wise independent: the product
#: stayed below 2·P, so the map was monotone in h except one wrap
#: point and all k "permutations" mostly selected the SAME min-md5
#: shingle. Measured on sf0.01 LSH candidates: estimator said 0.89
#: when exact Jaccard was 0.18, banding leaked 135 candidates where
#: a proper family yields 25 (5.4× false-candidate load on the
#: verify join — the dominant dedup cost at 100 TB), and one of 25
#: true J≥0.5 pairs was MISSED outright. A ∈ [1, P) makes A·h wrap
#: ~A times per h-step, restoring (approximate) min-wise
#: independence: candidate estimates now track exact Jaccard
#: (measured mean_est 0.9625 vs mean_true 0.9732) and recall at the
#: 0.5 threshold is 25/25. The DuckDB oracles embed the identical
#: formula, so engine parity held through the bug — this is why
#: estimator-quality queries (dedup_minhash_est_accuracy,
#: dedup_bbit_minhash_est) carry tested ACCURACY contracts, not just
#: oracle rows.
MINHASH_P = (1 << 31) - 1
_mh_rng = random.Random(20240613)
MINHASH_A: list[int] = [_mh_rng.randrange(1, MINHASH_P) for _ in range(MINHASH_K)]
MINHASH_B: list[int] = [_mh_rng.randrange(MINHASH_P) for _ in range(MINHASH_K)]


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct token n-gram shingles → array<string>. Documents with
    fewer than n tokens yield an empty array (callers filter them).
    The token array is bound with `let`: the short-doc guard, the
    sequence bound and the slice source all read it."""

    def build(t: Column) -> Column:
        # Guard: sequence(1, stop) DESCENDS when stop < 1, so short
        # docs must short-circuit to an empty array, not rely on the
        # range.
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(t, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), build)


def minhash_sig_from_hashes(hashes_col: Column, k: int = MINHASH_K) -> Column:
    """k-minhash signature → array<long> from an already-materialized
    shingle-hash array; element i is min over shingles of
    (A[i]*md5_32(shingle) + B[i]) mod P. The k affine variants read a
    plain column (cheap attribute reads), so no `let` is needed."""

    def affine(i):
        return lambda h: ((h % MINHASH_P) * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P

    return F.array(
        *[F.array_min(F.transform(hashes_col, affine(i))) for i in range(k)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = MINHASH_K,
    exprs: tuple[Column, Column] | None = None,
) -> DataFrame:
    """Per-document (id, shingles, sh_hashes, minhash signature).
    Rows with no shingles (docs shorter than n tokens) are dropped.

    `sh_hashes` (the per-shingle 32-bit md5 longs) is materialized
    behind a Generate barrier so the single md5 pass feeds BOTH the
    signature (k affine variants over the array) and any downstream
    consumer of raw shingle hashes — decontamination joins on exactly
    these hashes, so sharing the cached signature frame saves it a
    full tokenize+shingle+digest pass over the corpus.

    The shingle expression itself is ALSO bound once (the generator
    wraps it in a 1-element array) and the empty-doc filter runs on
    the generated attribute ABOVE the barrier: a project → filter →
    project shape let CollapseProject + filter pushdown re-inline the
    tokenize+shingle tree three times per document (measured 3.3 s →
    1.3 s cold for the sf0.1 signature build, same signatures).

    A one-split input (local testdata) is spread by id before the
    per-shingle md5 work (spread_if_narrow); a wider scan is not.

    `exprs`: a prebuilt column bundle from minhash_signature_exprs —
    pass it when calling this in a LOOP (streaming foreachBatch):
    building the shingle/digest/signature trees costs ~0.5 s of
    driver-side py4j per call (measured at k=16), and a Column is an
    unresolved tree reusable against every batch frame (guide §4, the
    round-14 loop-invariant-hoist pattern)."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        spread_if_narrow,
    )

    df = spread_if_narrow(df, id_col)
    exploded, sig = exprs or minhash_signature_exprs(
        text_col=text_col, n=n, k=k
    )
    bound = (
        df.select(F.col(id_col), exploded)
        .select(id_col, "__s.shingles", "__s.sh_hashes")
        .filter(F.size("sh_hashes") > 0)
    )
    return bound.withColumn("sig", sig)


def minhash_signature_exprs(
    text_col: str = "text", n: int = 3, k: int = MINHASH_K
) -> tuple[Column, Column]:
    """The loop-invariant column pair of minhash_signatures — the
    exploded (shingles, sh_hashes) struct generator and the signature
    column — exposed so foreachBatch bodies build them ONCE and reuse
    them per micro-batch (same tree; minhash_signatures delegates
    here)."""
    exploded = F.explode(
        F.transform(
            F.array(shingles(F.col(text_col), n)),
            lambda s: F.struct(
                s.alias("shingles"),
                F.transform(s, lambda x: md5_hash32(x)).alias("sh_hashes"),
            ),
        )
    ).alias("__s")
    return exploded, minhash_sig_from_hashes(F.col("sh_hashes"), k)


def lsh_band_structs(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """The loop-invariant band-bucket array of lsh_band_buckets —
    build once for foreachBatch reuse (same tree; lsh_band_buckets
    delegates here)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                md5_hash32(
                    F.concat_ws(
                        "_",
                        *[F.col("sig").getItem(b * rows + r) for r in range(rows)],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def lsh_band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    band_structs: Column | None = None,
) -> DataFrame:
    """Explode each signature into (band_idx, band_hash) bucket keys.
    band_hash = portable hash of the band's joined minhash values.
    Pass a prebuilt `band_structs` (lsh_band_structs) when calling in
    a loop."""
    if band_structs is None:
        band_structs = lsh_band_structs(bands, rows)
    return sig_df.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs sharing ≥1 LSH band
    bucket — the shared candidate-generation stage behind every
    verify variant (Jaccard, containment, edit distance)."""
    buckets = lsh_band_buckets(sig_df, id_col, bands, rows)
    left = buckets.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    right = buckets.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via the full
    MinHash→LSH→verify pipeline.

    Plan shape at scale: map (shingle+sign) → shuffle by short
    (band, band_hash) key → in-bucket self-join (tiny buckets) →
    distinct candidate pairs → verify join back to shingle sets →
    exact-Jaccard filter. No all-pairs stage anywhere.

    `sigs`: pass a persisted minhash_signatures frame to share the
    (CPU-dominant) shingle+sign stage across verify variants.
    """
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n, k).persist()
    candidates = lsh_candidate_pairs(sigs, id_col, bands, rows)
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    verified = (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment = |A∩B| / min(|A|,|B|)
    over shingle sets, on LSH candidates. Catches quote/subset
    relationships (a short doc embedded in a long one) that Jaccard
    misses — the long side's size swamps the union. Same bucketed
    candidate stage as minhash_lsh_pairs, so no all-pairs anywhere;
    only the verify metric differs (`sigs` shares the signature frame
    with the Jaccard pipeline). Returns (id_a, id_b, containment
    ≥ threshold)."""
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n).persist()
    candidates = lsh_candidate_pairs(sigs, id_col)
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    containment = F.round(
        inter.cast("double")
        / F.least(F.size("sh_a"), F.size("sh_b")),
        6,
    )
    return (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def simhash_single_pass(hash_col_name: str, bits: int = 32) -> Column:
    """SimHash over a named token-hash array column in ONE traversal:
    the aggregate carries a `bits`-wide vote array (each token updates
    every bit's counter), then the votes fold into the signature: bit j
    is set iff the sum over tokens of (hash bit j ? +1 : -1) is
    positive. Tokens are visited once, not once per bit, and the hash
    array is a named column, so its md5s are not re-evaluated per
    bit either."""
    return F.expr(
        f"""
        aggregate(
          transform(
            aggregate(
              {hash_col_name},
              array_repeat(0L, {bits}),
              (acc, h) -> transform(acc, (v, j) ->
                  v + CASE WHEN (h >> j) & 1 = 1 THEN 1L ELSE -1L END)
            ),
            (v, j) -> CASE WHEN v > 0 THEN shiftleft(1L, j) ELSE 0L END
          ),
          0L, (a, b) -> a + b
        )
        """
    )


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit signatures (popcount of
    XOR via bin()-and-count — no Python)."""
    x = a.bitwiseXOR(b)
    return F.length(F.regexp_replace(F.bin(x), "0", ""))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole-bucket on signature
    chunks, then exact Hamming verify. With chunks = max_hamming + 1
    every qualifying pair shares at least one exact chunk, so recall
    is 1.0 and candidate generation is an equi-join. The 32-bit vote
    computation is spread like minhash_signatures'."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        spread_if_narrow,
    )

    width = 32 // chunks
    df = spread_if_narrow(df, id_col)
    # Single pass: hash each token once, carry a 32-wide vote array
    # through one aggregate (vs. 32 aggregates each re-hashing).
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: md5_hash32(t)).alias("__hs"),
    )
    sigs = hashed.select(
        F.col(id_col), simhash_single_pass("__hs").alias("simhash")
    ).persist()
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    buckets = sigs.select(F.col(id_col), F.explode(chunk_structs).alias("cc")).select(
        id_col, F.col("cc.chunk").alias("chunk"), F.col("cc.chunk_val").alias("chunk_val")
    )
    left = buckets.select("chunk", "chunk_val", F.col(id_col).alias("id_a"))
    right = buckets.select("chunk", "chunk_val", F.col(id_col).alias("id_b"))
    candidates = (
        left.join(right, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    s = sigs
    return (
        candidates.join(s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a")), "id_a")
        .join(s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            hamming32(F.col("sim_a"), F.col("sim_b")).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


#: Default per-fingerprint sharing cap for winnowing pair generation.
#: A fingerprint shared by f documents fans out f·(f−1)/2 candidate
#: pairs; boilerplate (licence headers, navigation chrome) routinely
#: pushes f into the thousands, so production MOSS deployments ignore
#: over-shared fingerprints entirely — they localize boilerplate, not
#: plagiarism. 64 keeps any one fingerprint's fan-out ≤ 2016 pairs.
WINNOW_MAX_SHARING = 64


def winnowing_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    min_shared: int = 2,
    max_sharing: int = WINNOW_MAX_SHARING,
) -> DataFrame:
    """Position-aware near-dup candidate pairs from a winnowing
    fingerprint frame (one (id, fp) row per selected fingerprint):
    documents sharing ≥ `min_shared` fingerprints, via an equi-join on
    the fingerprint key — never all-pairs.

    ENFORCED fan-out bound: fingerprints shared by more than
    `max_sharing` documents are dropped BEFORE the pair join (window
    count over fp — one shuffle, and the join that follows reuses the
    same hash partitioning). Without the cap, one hot boilerplate
    fingerprint shared by f docs emits f² join rows; with it, per-fp
    fan-out is ≤ max_sharing², a constant. Returns (id_a, id_b,
    shared_fps) with id_a < id_b."""
    from pyspark.sql import Window

    capped = (
        fps.withColumn(
            "__ds", F.count(F.lit(1)).over(Window.partitionBy(fp_col))
        )
        .filter(F.col("__ds") <= max_sharing)
        .drop("__ds")
    )
    a = capped.select(F.col(id_col).alias("id_a"), fp_col)
    b = capped.select(F.col(id_col).alias("id_b"), fp_col)
    return (
        a.join(b, fp_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate census via content-hash groupBy: one row per
    distinct content hash with its multiplicity. The scan shuffles
    only (hash) — at 100 TB the text never moves. Keyed on the
    60-bit md5 slice (md5_hash60): the 32-bit slice collides above
    ~10^5 distinct docs, which would merge distinct documents into
    one census row at any realistic corpus size."""
    return (
        df.select(md5_hash60(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content hash (first-wins, the A8
    `dropDuplicates` semantics on a computed key). 60-bit key — a
    32-bit collision here silently DELETES a unique document."""
    return df.withColumn("__h", md5_hash60(F.col(text_col))).dropDuplicates(["__h"]).drop("__h")


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic near-dup pairs by exact cosine ≥ threshold.

    This is the *verify* form (all-pairs); at scale, candidates come
    from similarity.ann.hyperplane_buckets and this join runs only
    within buckets. Kept separate so the oracle can check the exact
    math on small SF.

    Norms are computed ONCE per vector before the pair join (O(n·d)),
    not per pair (O(n²·d)) — the pair stage does one dot product and
    one multiply. A probe side narrower than the core count is spread
    (spread_if_narrow) so the nested-loop join fans out instead of
    running as one task.
    """
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        spread_if_narrow,
    )

    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    normed = df.select(
        F.col(id_col), F.col(vec_col).alias("v"), norm.alias("nrm")
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("nrm_a")
    )
    a = spread_if_narrow(a, "id_a")
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b")
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


#: connected_components' shuffle width: the pair graph is orders of
#: magnitude smaller than the corpus, so it iterates narrower than the
#: corpus-scale session setting (raise only for billions of edges).
CC_GRAPH_PARTITIONS = 8

#: Round bound of connected_components' distributed min-label loop.
CC_MAX_ITER = 20


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph via iterative min-label propagation. Returns
    (node, cluster_id) for every node appearing in a pair, where
    cluster_id is the smallest node id in the component (the canonical
    representative).

    Hybrid execution: the pair graph is orders of magnitude smaller
    than the corpus, and when it fits comfortably on the driver
    (<= driver_threshold edges, a few MB) a local union-find beats
    paying diameter-many shuffle rounds for a graph one task could
    hold. Above the threshold — LSH over a 100 TB corpus can still
    emit billions of pairs — the distributed min-label loop runs:
    each iteration is one join+agg (labels x edges -> min over
    neighborhood); the driver only checks the converged flag.
    Iterations needed = graph diameter — near-dup clusters are
    shallow (usually <= 3) so this converges in a few rounds;
    CC_MAX_ITER bounds pathological chains. The loop persists each
    generation and unpersists the last — lineage stays O(1) per round. Both paths
    return identical labels (min node id of the component).
    """
    # Symmetrize in ONE pass over `pairs` via a per-row explode — a
    # union of two selects would execute the caller's (unpersisted,
    # often expensive: LSH candidate join + verify) pair lineage twice.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                    F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .repartition(CC_GRAPH_PARTITIONS, F.col("u"))
        .persist()
    )
    n_edges = edges.count()  # also materializes the persisted frontier
    if n_edges <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        # collect(), not toLocalIterator(): under the threshold the
        # edge list is a few MB, and toLocalIterator fetches each of
        # the CC_GRAPH_PARTITIONS partitions as a SEQUENTIAL job — pure
        # scheduler latency (~2 s here) for a frame collect() moves
        # in one job.
        for r in edges.collect():
            u, v = int(r.u), int(r.v)
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:  # union by min id -> root IS the component min
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        edges.unpersist()
        spark = pairs.sparkSession
        if not parent:
            return spark.createDataFrame([], "node long, cluster_id long")
        return spark.createDataFrame(
            [(n, find(n)) for n in parent], "node long, cluster_id long"
        )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).persist()
    for _ in range(CC_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-level dedup: drop every clustered document except its
    canonical (min-id) representative; documents outside any cluster
    pass through. An anti-join on the (small) non-canonical id set."""
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def prepare_training_corpus(
    df: DataFrame,
    min_quality: float = 0.4,
    lang: str | None = "en",
    jaccard_threshold: float = 0.5,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end training-corpus preparation — the composite a 100 TB
    LLM data pipeline runs nightly:

      1. quality gate  (analysis.quality_score >= min_quality)
      2. language gate (analysis.predict_language == lang)
      3. exact dedup   (portable content hash; DETERMINISTIC min-id
         winner, not dropDuplicates' arbitrary survivor — pipelines
         must yield identical corpora across reruns/partitionings)
      4. near-dup removal (MinHash-LSH pairs -> connected components
         -> keep each cluster's canonical min-id doc)

    Stage order matters at scale: the cheap per-row gates (1-2) run
    first and shrink the corpus before any shuffle; exact dedup (3)
    shuffles only hashes; the LSH stage (4) sees only survivors.
    Returns the surviving documents with their quality/language
    columns attached.

    `sigs`: an optional precomputed minhash_signatures frame covering
    a SUPERSET of `df` (e.g. the whole-corpus signature cache). A
    signature is a pure per-document function of its text, so the
    survivors' signatures are recovered with one left-semi join on
    doc_id instead of re-running the CPU-dominant shingle+sign stage —
    the natural sharing when several corpus jobs run over one snapshot.
    """
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        spread_if_narrow,
    )

    # The gates run real interpreted per-doc work — a map that would
    # otherwise run at the INPUT split count (the local testdata table
    # is one parquet file = one task). Spread before any per-row work.
    df = spread_if_narrow(df)
    # One let-bound gate struct, expanded behind a Generate barrier:
    # quality and pred_lang tokenize once per document instead of ~8×
    # (see analysis.quality_language_struct).
    gated = (
        df.withColumn(
            "__g", F.explode(F.array(quality_language_struct(F.col("text"))))
        )
        .withColumn("quality", F.col("__g.quality"))
        .withColumn("pred_lang", F.col("__g.pred_lang"))
        .drop("__g")
    )
    gated = gated.filter(F.col("quality") >= min_quality)
    if lang is not None:
        gated = gated.filter(F.col("pred_lang") == lang)
    from pyspark.sql import Window

    # 60-bit identity: a 32-bit content-hash collision would silently
    # drop a unique document on both engines (same bound as
    # dedup_exact; see analysis.md5_hash60).
    wnd = Window.partitionBy(md5_hash60(F.col("text"))).orderBy(F.col("doc_id"))
    deduped = (
        gated.withColumn("__rn", F.row_number().over(wnd))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # consumed by three branches (LSH signatures, CC verify join,
        # final canonical keep) — persist the frontier or the gates +
        # dedup window re-execute per branch
        .persist()
    )
    survivor_sigs = (
        sigs.join(deduped.select("doc_id"), "doc_id", "left_semi").persist()
        if sigs is not None
        else None
    )
    pairs = minhash_lsh_pairs(
        deduped,
        threshold=jaccard_threshold,
        sigs=survivor_sigs,
    )
    clusters = connected_components(pairs)
    return dedup_keep_canonical(deduped, clusters)
