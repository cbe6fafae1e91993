"""Distributed unigram-LM tokenizer-vocabulary induction (Kudo,
"Subword Regularization", ACL 2018 — the SentencePiece unigram model
behind T5/Llama-family tokenizers), hard-EM variant: Viterbi E-step,
count M-step, integer-quantized costs so every number is bit-portable
across engines.

Algorithm (deterministic by construction):
1. SEED: all substrings of length 1..MAX_PIECE_LEN of the corpus
   vocabulary, occurrence-counted (overlapping) and word-frequency
   weighted; keep the top-M multi-char pieces by (count DESC, piece)
   plus EVERY single character (the cover guarantee: any word always
   has at least the all-singles segmentation).
2. Piece costs: cost(p) = floor(Q·ln(total + |V|)) −
   floor(Q·ln(cnt(p) + 1)) — an integer-quantized, add-one-smoothed
   negative log-probability. Both engines quantize ln identically
   (the repo-wide floor-quantized-ln discipline).
3. E-STEP (Viterbi): per word, the minimum-cost segmentation by DP
   over prefix positions; the DP value is struct(score, n_pieces,
   sig) compared lexicographically, so equal-cost ties resolve to the
   fewest pieces and then the lexicographically-least piece string —
   a TOTAL deterministic order both engines share (min-of-struct is
   field-lexicographic in Spark and DuckDB, verified).
4. M-STEP: piece counts over the freq-weighted Viterbi segmentations;
   recompute costs; repeat. Zero-count pieces stay in the vocabulary
   with the smoothed maximum cost (pruning is a reporting concern —
   the emitted table ranks by final count, which is what a pruner
   would cut on).

Scale design (mirrors text/bpe.py):
- ONE corpus-scale aggregation (word → freq). Seeding is a bounded
  explode over the vocab frame (≤ len·MAX_PIECE_LEN substrings per
  word). Every E-step is a MAP-ONLY projection: the piece-cost table
  is a bounded tokenizer artifact (top-M + alphabet, like the BPE
  merge list), collected once per round and inlined as a map literal
  inside a single aggregate() DP fold — zero joins, zero windows,
  whole-stage codegen. The M-step is one explode + groupBy over the
  vocab frame. Driver state is always vocab-artifact-sized.
- At inventories too large to inline (≫10⁵ pieces), the documented
  swap is a mapInPandas lattice pass; the relational M-step is
  unchanged.

The DuckDB oracle replays the identical computation as unrolled
MATERIALIZED CTEs (per-position DP joins instead of the fold — same
integers, different shape)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Maximum seed-piece length: seeding explodes len·MAX_PIECE_LEN
#: substrings per vocab word, and the DP looks back this many
#: positions. 4 covers the interesting multi-merge units at the test
#: corpus' 8-char words; production SentencePiece uses ~16.
MAX_PIECE_LEN = 4

#: Multi-char seed pieces kept (plus the full alphabet). Bounded
#: driver artifact, like the BPE merge list.
TOP_M = 32

#: ln quantization factor (the repo-wide portable-ln discipline).
_Q = 100000

#: Cost-table size past which viterbi_segment switches from the
#: map-literal fold to the mapInPandas lattice. The fold's
#: element_at on a literal map is a LINEAR ArrayBasedMapData scan, so
#: its per-row cost grows with |V| — measured over a 50k-word vocab
#: (SCALE.md round-9 curve): at production look-back (ml=16) the fold
#: reads 7.6 s at |V|≈1k and 26.8 s at |V|≈4k vs the lattice's flat
#: ~0.8 s (dict lookup is O(1); the closure ships the table once per
#: executor). The fold's remaining advantage is tiny inputs, where
#: Arrow/Python worker spin-up dominates the lattice — the
#: oracle-scale catalog tables (|V|≈60) stay on the codegen fold.
INLINE_COSTS_MAX = 1024


def seed_vocab(
    words: DataFrame, top_m: int = TOP_M, max_piece_len: int | None = None
) -> DataFrame:
    """(word, freq) → seed piece table (piece, cnt): top-M multi-char
    substrings by weighted overlapping occurrence count, plus every
    single character (cover guarantee). `max_piece_len`/`top_m`
    default to the oracle-scale module constants; production runs
    pass ~16 / thousands (the measured cost curve lives in SCALE.md —
    the fold's map-literal lookup is LINEAR in the table size, which
    is why production constants route to the lattice pass)."""
    ml = MAX_PIECE_LEN if max_piece_len is None else int(max_piece_len)
    subs = (
        words.filter(F.length("word") >= 1)
        .select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(1, least({ml}, "
                    "length(word) - i + 1)), L -> substring(word, i, L))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(top_m)
    )
    chars = subs.filter(F.length("piece") == 1)
    return multi.unionByName(chars)


def quantized_costs(counts: dict[str, int]) -> dict[str, int]:
    """Integer-quantized smoothed negative log-probs from a bounded
    piece-count dict — pure Python (the artifact is driver-resident
    by design), but floor(Q·ln(x)) matches both engines' floor/ln on
    the same integers bit-for-bit. An empty count table (an empty
    vocabulary) has an empty cost table."""
    import math

    if not counts:
        return {}
    total = sum(counts.values())
    m = len(counts)
    base = math.floor(_Q * math.log(total + m))
    return {
        p: base - math.floor(_Q * math.log(c + 1)) for p, c in counts.items()
    }


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def viterbi_segment(
    words: DataFrame,
    costs: dict[str, int],
    max_piece_len: int | None = None,
) -> DataFrame:
    """Map-only Viterbi: per word, the minimum-cost segmentation under
    the piece-cost map (inlined as a literal), returning
    (word, freq, score, n_pieces, sig). DP over prefix positions with
    struct(score, n, sig) values — lexicographic struct comparison is
    the deterministic tie-break. Every character must be in `costs`
    (guaranteed when the costs came from seed_vocab over the same
    frame).

    `max_piece_len` bounds the DP look-back (defaults to the module
    constant; production SentencePiece uses ~16). Cost tables LARGER
    than INLINE_COSTS_MAX (read at call time) route to the
    mapInPandas lattice (`viterbi_segment_pandas`): a map LITERAL is
    an ArrayBasedMapData whose element_at is a LINEAR scan, so the
    fold's per-row cost grows as O(word_len · max_piece_len · |V|) —
    measured curve in SCALE.md — while the lattice's dict lookup is
    O(1) per candidate."""
    ml_over = MAX_PIECE_LEN if max_piece_len is None else int(max_piece_len)
    if len(costs) > INLINE_COSTS_MAX:
        return viterbi_segment_pandas(words, costs, max_piece_len=ml_over)
    items = sorted(costs.items())
    cost_map = (
        "map("
        + ",".join(f"{_sql_quote(p)},CAST({c} AS BIGINT)" for p, c in items)
        + ")"
    )
    # Candidate start positions j span max(0, i - MAX_PIECE_LEN) .. i-1
    # (piece = word[j+1 .. i], length ≤ MAX_PIECE_LEN). Cost lookups go
    # through try_element_at: a substring not in the piece table yields
    # NULL (filtered below) instead of throwing under ANSI mode, where
    # plain element_at on a missing map key is an error (Spark 4
    # default semantics).
    cand = (
        "transform(sequence(greatest(i - {ml}, 0), i - 1), j -> "
        "named_struct("
        "'score', element_at(acc, j + 1).score + "
        f"try_element_at({cost_map}, substring(word, j + 1, i - j)), "
        "'n', element_at(acc, j + 1).n + CAST(1 AS BIGINT), "
        "'sig', CASE WHEN element_at(acc, j + 1).sig = '' "
        "THEN substring(word, j + 1, i - j) "
        "ELSE concat(element_at(acc, j + 1).sig, '|', "
        "substring(word, j + 1, i - j)) END))"
    ).format(ml=ml_over)
    fold = f"""aggregate(
      sequence(1, length(word)),
      array(named_struct('score', CAST(0 AS BIGINT),
                         'n', CAST(0 AS BIGINT),
                         'sig', CAST('' AS STRING))),
      (acc, i) -> concat(acc, array(
        array_min(filter({cand}, c -> c.score IS NOT NULL)))),
      acc -> element_at(acc, -1))"""
    return (
        words.filter(F.length("word") >= 1)
        .withColumn("__vit", F.expr(fold))
        .select(
            "word",
            "freq",
            F.col("__vit.score").alias("score"),
            F.col("__vit.n").alias("n_pieces"),
            F.col("__vit.sig").alias("sig"),
        )
    )


def em_round(
    words: DataFrame, costs: dict[str, int], seed_pieces: list[str]
) -> dict[str, int]:
    """One hard-EM round: Viterbi E-step (map-only), count M-step
    (explode + groupBy over the vocab frame), returning the new
    freq-weighted piece counts for EVERY seed piece (zero-count pieces
    included, so the smoothed cost stays defined). The returned dict
    is vocab-artifact-sized."""
    seg = viterbi_segment(words, costs)
    counted = {
        r["piece"]: int(r["cnt"])
        for r in (
            seg.select(
                "freq", F.explode(F.split("sig", r"\|")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .collect()
        )
    }
    return {p: counted.get(p, 0) for p in seed_pieces}


def unigram_train(
    words: DataFrame, n_rounds: int = 2, top_m: int = TOP_M
) -> tuple[dict[str, int], dict[str, int], DataFrame]:
    """Full induction: seed → n_rounds of hard EM. Returns
    (final_counts, final_costs, final_segmentation_frame) where the
    dicts are the shippable tokenizer artifact and the frame is the
    LAZY Viterbi segmentation under the final costs."""
    seed = {
        r["piece"]: int(r["cnt"])
        for r in seed_vocab(words, top_m=top_m).collect()
    }
    pieces = sorted(seed)
    counts = seed
    for _ in range(n_rounds):
        costs = quantized_costs(counts)
        counts = em_round(words, costs, pieces)
    final_costs = quantized_costs(counts)
    return counts, final_costs, viterbi_segment(words, final_costs)


def viterbi_segment_pandas(
    words: DataFrame,
    costs: dict[str, int],
    max_piece_len: int | None = None,
) -> DataFrame:
    """The large-inventory escape hatch for `viterbi_segment`
    (round-9 mandate; mirrors text/bpe.wordpiece_segment_trie):
    identical DP semantics — same integer-quantized scores, same
    lexicographic (score, n_pieces, sig) tie-break, same
    MAX_PIECE_LEN look-back — as an Arrow-batched mapInPandas lattice
    instead of a map-literal fold. At ≫10⁵ pieces the literal is the
    cost (re-serialized per task, re-parsed per plan); the lattice
    ships the cost dict once per executor in the closure and looks up
    in O(1). Python tuple min == the fold's struct array_min: both
    compare (score, n, sig) field-lexicographically, and Python's
    code-point string order equals Spark's UTF8 binary order (UTF-8
    preserves code-point order). Self-contained closure (driver-sim
    contract: executors can't import the repo)."""
    cost_map = dict(costs)
    ml = MAX_PIECE_LEN if max_piece_len is None else int(max_piece_len)

    def _lattice(batches):
        import pandas as pd

        for pdf in batches:
            s_out, n_out, sig_out = [], [], []
            for w in pdf["word"].astype(str):
                # dp[i] = best (score, n, sig) for prefix w[:i]
                dp: list[tuple | None] = [None] * (len(w) + 1)
                dp[0] = (0, 0, "")
                for i in range(1, len(w) + 1):
                    best = None
                    for j in range(max(0, i - ml), i):
                        prev = dp[j]
                        if prev is None:
                            continue
                        c = cost_map.get(w[j:i])
                        if c is None:
                            continue
                        cand = (
                            prev[0] + c,
                            prev[1] + 1,
                            w[j:i] if prev[2] == "" else prev[2] + "|" + w[j:i],
                        )
                        if best is None or cand < best:
                            best = cand
                    dp[i] = best
                fin = dp[len(w)]
                s_out.append(fin[0] if fin else None)
                n_out.append(fin[1] if fin else None)
                sig_out.append(fin[2] if fin else None)
            yield pd.DataFrame(
                {
                    "word": pdf["word"].astype(str),
                    "freq": pdf["freq"],
                    "score": pd.array(s_out, dtype="Int64"),
                    "n_pieces": pd.array(n_out, dtype="Int64"),
                    "sig": sig_out,
                }
            )

    return (
        words.filter(F.length("word") >= 1)
        .select("word", "freq")
        .mapInPandas(
            _lattice,
            "word string, freq long, score long, n_pieces long, sig string",
        )
    )
