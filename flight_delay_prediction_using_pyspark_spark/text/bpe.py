"""Distributed BPE tokenizer-vocabulary induction (Sennrich, Haddow &
Birch, "Neural Machine Translation of Rare Words with Subword Units",
ACL 2016) — the one standard LLM training-data stage the catalog
lacked through round 7 (packing, dedup, quotas and DSIR exist;
tokenization was whitespace/regex only, text/analysis.py).

Design for 100 TB:

- ALL pair statistics run over the DISTINCT-WORD frequency table, not
  the token stream — the classic BPE trick. The corpus is touched by
  exactly ONE corpus-scale aggregation (word → freq); every training
  iteration after that is vocab-sized (≈100M–1B rows at web scale,
  trivially distributed), so induction cost is independent of corpus
  row count beyond the first groupBy.
- Each iteration is two shuffles over the vocab frame (adjacent-pair
  count, then the per-word merge rewrite's window) plus a ONE-ROW
  driver argmax — "merges are vocab-sized, not corpus-sized": the
  only driver state is the learned merge list itself (n_merges rows).
- The merge rewrite is window-only (no joins): greedy left-to-right
  non-overlap is resolved with a gaps-and-islands pass — overlapping
  matches can only chain when left==right (runs of one symbol), and
  greedy BPE takes every OTHER match in such a run, which is exactly
  `(pos - island_start) % 2 == 0`.
- APPLYING a learned vocabulary is a pure plan (bpe_apply): the
  merge list becomes literals, so segmentation of new text is one
  shuffle on word + a chain of window rewrites — broadcastable
  against a corpus as a word→segmentation dimension join.
- Per-iteration state caching is SIZE-GATED (see bpe_train): a
  web-scale vocab persists each iteration so training never re-runs
  more than one iteration's lineage; a small vocab recomputes in one
  pipelined stage instead of pinning K AQE-frozen caches.
- wordpiece_segment adds the OTHER standard inference algorithm over
  the same induced inventory: greedy longest-match-first (WordPiece,
  Wu et al. 2016), a pure plan with no driver feedback.

Two trainers ship side by side: `bpe_train` takes one merge per round
(the exact textbook algorithm, Sennrich et al.) and
`bpe_train_batched` keeps up to `batch_k` symbol-disjoint merges per
selection round — the production variant that cuts driver round-trips
to n_merges/batch_k (at a 30k-merge production vocab: thousands of
driver actions instead of tens of thousands). Both are deterministic
and oracle-replayable; their schedules agree exactly unless a pair
created by an earlier in-batch pick would have outranked a later one
(see bpe_train_batched's docstring for the bounded-divergence
argument and the tests that pin both regimes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): the single corpus-scale aggregation.
    Lower-cased whitespace tokens (the corpus' shared pre-tokenizer,
    text/analysis.tokens)."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def char_state(words: DataFrame) -> DataFrame:
    """(word, freq) → the initial symbol state (word, freq, pos, sym):
    one row per character, pos 1-based. Guard: F.sequence(1, 0)
    DESCENDS for empty words (unlike SQL generate_series, which is
    empty) — filter them; a zero-length word has no symbols."""
    return (
        words.filter(F.length("word") >= 1)
        .select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .select(
            "word",
            "freq",
            F.col("pos").cast("long").alias("pos"),
            F.expr("substring(word, pos, 1)").alias("sym"),
        )
    )


def pair_counts(state: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-symbol pair counts over the vocab-grain
    state — the distributed statistic each merge selection reads."""
    w = Window.partitionBy("word").orderBy("pos")
    return (
        state.select(
            F.col("sym").alias("a"),
            F.lead("sym").over(w).alias("b"),
            "freq",
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def apply_merge(state: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every word's symbol sequence with one merge (a,b)→ab,
    greedy left-to-right non-overlapping, as a pure window plan.

    Overlap note: a match at pos p and p+1 simultaneously is only
    possible when a == b (runs of one symbol); greedy takes every
    other match inside such a run. A match row's island start is the
    first match position after the last NON-match position — a
    running MAX over the same (word, pos) window every other step
    here already uses, so the whole rewrite is ONE exchange + sort
    with all five window functions chained in a single stage (an
    island-id formulation needs a second partitioning). The row AFTER
    a merge start is consumed; positions are re-densified for the
    next round."""
    w = Window.partitionBy("word").orderBy("pos")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = state.select(
        "word",
        "freq",
        "pos",
        "sym",
        F.coalesce(
            (F.col("sym") == F.lit(a)) & (F.lead("sym").over(w) == F.lit(b)),
            F.lit(False),
        ).alias("match"),
    )
    started = marked.withColumn(
        "is_start",
        F.col("match")
        & (
            (
                F.col("pos")
                - F.coalesce(
                    F.max(
                        F.when(~F.col("match"), F.col("pos"))
                    ).over(cum),
                    F.lit(0),
                )
                - 1
            )
            % 2
            == 0
        ),
    )
    kept = started.withColumn(
        "gone", F.coalesce(F.lag("is_start").over(w), F.lit(False))
    ).filter(~F.col("gone"))
    return kept.select(
        "word",
        "freq",
        F.row_number().over(w).cast("long").alias("pos"),
        F.when(F.col("is_start"), F.lit(a + b)).otherwise(F.col("sym")).alias(
            "sym"
        ),
    )


def bpe_train(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn `n_merges` BPE merges over a (word, freq) vocabulary.

    Returns (merges, final_state): merges as
    [(rank, left, right, pair_count)] — the driver-side list is
    bounded by n_merges, never by data — and the LAZY final symbol
    state (callers aggregate it or ignore it). Tie-break on
    (count DESC, left ASC, right ASC): exact integer counts make the
    learned vocabulary bit-portable across engines.

    Iteration-state caching runs on a SIZE-GATED CADENCE (the
    scratch_persist_if_large economics, round-14 refinement of the
    round-13 all-or-nothing gate): past the estimate threshold (a
    web-scale vocab) every iteration persists — the recompute
    dominates at scale; below it the state persists every THIRD merge
    instead of never. The two measured extremes at sf0.1 were
    never=6.8 s and every-merge=3.7 s (the per-iteration persist pins
    K cached plans at full shuffle fan-out that AQE can no longer
    coalesce); the every-3 midpoint measures 2.9 s with a
    bit-identical merge list — the deepening window chain is re-run
    at most 3 layers deep per selection, while only ~K/3 caches are
    ever pinned. Superseded states are released once two checkpoints
    behind, and intermediates are fully unpersisted before return
    (the returned frame replays the merge literals — a pure plan)."""
    from flight_delay_prediction_using_pyspark_spark.operators.relational import (
        plan_size_bytes,
    )

    merges: list[tuple[int, str, str, int]] = []
    state = char_state(words)
    est = plan_size_bytes(state)
    cadence = 1 if (est is None or est >= 8 * 1024 * 1024) else 3
    cached = []
    for rank in range(1, n_merges + 1):
        best = (
            pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .first()
        )
        if best is None:
            break
        merges.append((rank, best["a"], best["b"], int(best["cnt"])))
        state = apply_merge(state, best["a"], best["b"])
        if rank % cadence == 0:
            state = state.persist()
            cached.append(state)
            # a later pair_counts action materializes the newest
            # checkpoint; once two checkpoints behind, nothing reads it.
            if len(cached) > 2:
                cached.pop(0).unpersist()
    final = bpe_apply(words, [(m[1], m[2]) for m in merges])
    for df in cached:
        df.unpersist()
    return merges, final


def bpe_train_batched(
    words: DataFrame,
    n_merges: int | None = None,
    batch_k: int = 4,
    cand_cap: int = 32,
    n_rounds: int | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Batched multi-merge BPE induction — the PRODUCTION variant the
    one-merge textbook path (`bpe_train`) documents: per selection
    round, ONE driver action collects the top `cand_cap` pair-count
    rows (ordered by the same (cnt DESC, a, b) total order) and
    greedily keeps up to `batch_k` pairwise NON-INTERACTING merges —
    a candidate is kept iff neither of its symbols appears in any
    merge already kept THIS round — then applies the whole batch
    before the next count. Driver round-trips drop from `n_merges`
    (30k sequential jobs at a production vocab) to `n_merges/batch_k`.

    Why symbol-disjointness is the right batch criterion: two merges
    that share no symbol can neither overlap inside any word nor
    change each other's pair counts (merging a,b→ab only creates or
    destroys pairs INVOLVING a or b), so within a round the batch
    result is IDENTICAL to applying the kept merges one at a time.
    Across rounds the batched schedule can diverge from the textbook
    schedule in exactly one way: a pair CREATED by an earlier pick
    (x,ab — whose count is bounded by the pick's own count) may
    outrank a later pick that the batch took early. The divergence is
    therefore bounded by the batch width and measured, not assumed —
    tests pin a corpus where the schedules are equal (fully disjoint
    top pairs, no created-pair promotion) and a crafted corpus where
    slot 2 diverges exactly as predicted; the driver query's oracle
    replays THIS algorithm, so the batched path is oracle-exact in
    its own right.

    `cand_cap` is part of the algorithm's deterministic spec (both
    engines scan the same top-`cand_cap` list): a round keeps fewer
    than `batch_k` merges when the capped candidate list runs out of
    disjoint pairs — correct, just a narrower batch. Driver state is
    one `cand_cap`-row list per round; per-round state caching reuses
    the same size-gated economics as `bpe_train`.

    Stop criterion is one of `n_merges` (total merge budget — the
    production parameter; the last round narrows to the remainder) or
    `n_rounds` (exactly that many selection rounds, whatever each
    keeps — the oracle-replayable spec, since an unrolled SQL replay
    has a fixed round count)."""
    from flight_delay_prediction_using_pyspark_spark.operators.relational import (
        plan_size_bytes,
    )

    if (n_merges is None) == (n_rounds is None):
        raise ValueError("pass exactly one of n_merges / n_rounds")
    merges: list[tuple[int, str, str, int]] = []
    state = char_state(words)
    est = plan_size_bytes(state)
    cache_iters = est is None or est >= 8 * 1024 * 1024
    cached: list[DataFrame] = []
    rounds_done = 0
    while (
        rounds_done < n_rounds
        if n_rounds is not None
        else len(merges) < n_merges
    ):
        rounds_done += 1
        rows = (
            pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(cand_cap)
            .collect()
        )
        if not rows:
            break
        budget = (
            batch_k
            if n_merges is None
            else min(batch_k, n_merges - len(merges))
        )
        used: set[str] = set()
        kept: list[tuple[str, str, int]] = []
        for r in rows:
            if len(kept) >= budget:
                break
            if r["a"] in used or r["b"] in used:
                continue
            kept.append((r["a"], r["b"], int(r["cnt"])))
            used.update((r["a"], r["b"]))
        for a, b, cnt in kept:
            merges.append((len(merges) + 1, a, b, cnt))
            state = apply_merge(state, a, b)
        if cache_iters:
            state = state.persist()
            cached.append(state)
            if len(cached) > 2:
                cached.pop(0).unpersist()
    final = bpe_apply(words, [(m[1], m[2]) for m in merges])
    for df in cached:
        df.unpersist()
    return merges, final


def bpe_apply(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Segment a (word, freq) vocabulary with an already-learned merge
    list — the production path for new text: merges are literals, so
    the whole segmentation is ONE shuffle on word plus a window chain
    (no per-iteration actions, no driver state). Corpus-scale use
    joins the output back to the token stream as a broadcast
    word→segmentation dimension."""
    state = char_state(words)
    for a, b in merges:
        state = apply_merge(state, a, b)
    return state


#: Inventory size past which wordpiece_segment switches from the
#: inlined-array-literal fold to the mapInPandas trie pass. The fold
#: wins below it (pure codegen, zero Python); above it the literal
#: itself becomes the cost: it is re-serialized into every task
#: binary and re-scanned per fold step, while the trie is built once
#: per executor and looks up in O(piece length).
INLINE_INVENTORY_MAX = 4096


def wordpiece_segment(
    words: DataFrame,
    merges: list[tuple[str, str]],
    max_pieces: int = 8,
    inventory: list[str] | None = None,
) -> DataFrame:
    """Greedy longest-match-first segmentation (the WordPiece
    INFERENCE algorithm, Wu et al. 2016 — what BERT-family tokenizers
    run at serving time) of a (word, freq) vocabulary against the
    symbol inventory induced by BPE training: base alphabet ∪ merged
    units. Returns (word, freq, remaining, n_pieces, sig) where `sig`
    is the '|'-joined piece sequence; `remaining` is non-empty only
    for words longer than `max_pieces` pieces (the standard long-word
    truncation guard production tokenizers apply).

    This is a MAP-ONLY projection — tokenizer-as-expression. The
    inventory is a TOKENIZER ARTIFACT (alphabet ∪ merged units,
    bounded by the unicode alphabet plus the merge count, never by
    the corpus), so it is collected once (same bounded-driver-state
    rule as the merge list) and becomes an array LITERAL inside a
    single `aggregate()` fold over `max_pieces` steps: each step
    takes the longest inventory entry prefixing the remaining suffix
    (`array_max` over `struct(length, piece)` — equal-length matches
    at one position are equal strings, so the max is unique) and
    advances the (remaining, n_pieces, sig) accumulator. Everything
    runs inside whole-stage codegen: zero joins, zero windows, zero
    shuffles beyond whatever built the input vocabulary frame. An
    earlier relational formulation (per-round prefix explode →
    broadcast-inventory equi-join → per-word window) produced the
    same rows through ~18 broadcast/sort stages of pure scheduling
    latency; with the inventory already driver-resident there is
    nothing distributed left to coordinate per round. At inventories
    too large to inline (≫10⁵ entries), swap the literal for a
    mapInPandas trie pass — the documented escape hatch.

    `inventory` is the production parameter: pass the SHIPPED piece
    list (alphabet ∪ merged units from the training corpus) to
    segment NEW text with a frozen vocabulary; None derives the
    alphabet from `words` itself (the train-and-apply-on-same-corpus
    path the catalog queries use). Out-of-inventory characters —
    possible only with a shipped inventory meeting foreign text —
    fall back to consuming one character as its own piece (the
    char-fallback analogue of byte-fallback in production tokenizers),
    so segmentation is total and never folds to a NULL state.

    Inventories LARGER than INLINE_INVENTORY_MAX entries (read at call
    time) are routed to `wordpiece_segment_trie`
    automatically — the mapInPandas escape hatch (round-9 mandate; it
    was a docstring promise through round 8): a 100k-entry array
    literal would bloat every task's serialized plan and the codegen
    text, while the trie pass ships the inventory once per executor
    inside the function closure. The two paths are row-identical by
    contract (crossover-tested and driver-verified).

    Note: merge-replay (BPE inference, `bpe_apply`) and longest-match
    (WordPiece inference) are DIFFERENT segmenters that happen to
    share a vocabulary — quantifying their disagreement is exactly
    what the agreement census query exists for."""
    if inventory is not None:
        vocab_syms = sorted(set(inventory))
    else:
        alphabet = {
            r["sym"]
            for r in char_state(words).select("sym").distinct().collect()
        }
        vocab_syms = sorted(alphabet | {a + b for a, b in merges})

    if len(vocab_syms) > INLINE_INVENTORY_MAX:
        return wordpiece_segment_trie(
            words, merges, max_pieces=max_pieces, inventory=vocab_syms
        )

    def _q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    inv = "array(" + ",".join(_q(v) for v in vocab_syms) + ")"
    best = (
        f"coalesce(array_max(transform(filter({inv}, "
        "v -> v = substring(acc.remaining, 1, length(v))), "
        "v -> struct(length(v) AS l, v AS p))).p, "
        "substring(acc.remaining, 1, 1))"
    )
    fold = f"""aggregate(
      sequence(1, {max_pieces}),
      struct(word AS remaining, CAST(0 AS BIGINT) AS n_pieces,
             CAST('' AS STRING) AS sig),
      (acc, i) -> CASE WHEN acc.remaining = '' THEN acc ELSE struct(
        substring(acc.remaining, length({best}) + 1) AS remaining,
        acc.n_pieces + CAST(1 AS BIGINT) AS n_pieces,
        CASE WHEN acc.sig = '' THEN {best}
             ELSE concat(acc.sig, '|', {best}) END AS sig) END)"""
    return (
        words.filter(F.length("word") >= 1)
        .withColumn("__wp", F.expr(fold))
        .select(
            "word",
            "freq",
            F.col("__wp.remaining").alias("remaining"),
            F.col("__wp.n_pieces").alias("n_pieces"),
            F.col("__wp.sig").alias("sig"),
        )
    )


def wordpiece_segment_trie(
    words: DataFrame,
    merges: list[tuple[str, str]],
    max_pieces: int = 8,
    inventory: list[str] | None = None,
) -> DataFrame:
    """The large-inventory escape hatch for `wordpiece_segment`
    (round-9 mandate): identical greedy longest-match-first semantics
    — same `max_pieces` truncation, same char-fallback on
    out-of-inventory text, same (word, freq, remaining, n_pieces,
    sig) schema — executed as an Arrow-batched mapInPandas pass
    instead of an inlined array-literal fold.

    Why this is the ≫10⁵-inventory shape: the fold re-serializes the
    whole inventory into every task binary and linearly re-filters it
    per fold step, while this pass ships the piece list ONCE per
    executor (task-closure broadcast of a bounded tokenizer artifact)
    and builds a prefix trie per partition — longest-match is then
    O(match length) per position, independent of inventory size. The
    UDF is a SELF-CONTAINED closure (no module references — executors
    under a foreign cwd cannot import the repo; the driver-sim
    contract).

    Row-identity with the fold path is a tested contract: the
    `corpus_wordpiece_trie_crossover` driver query joins both outputs
    and its oracle pins identical = total, and the pytest crossover
    covers the char-fallback and truncation edges."""
    if inventory is not None:
        vocab_syms = sorted(set(inventory))
    else:
        alphabet = {
            r["sym"]
            for r in char_state(words).select("sym").distinct().collect()
        }
        vocab_syms = sorted(alphabet | {a + b for a, b in merges})

    pieces = list(vocab_syms)
    mp = int(max_pieces)
    in_cols = words.columns

    def _segment(batches):
        import pandas as pd

        # prefix trie: node = {char: node, ...; "" marks a complete
        # piece}. Built once per partition from the closure's list.
        trie: dict = {}
        for p in pieces:
            node = trie
            for ch in p:
                node = node.setdefault(ch, {})
            node[""] = True

        def longest(s: str, start: int) -> int:
            """Length of the longest trie piece prefixing s[start:],
            0 if none."""
            node, best, i = trie, 0, start
            while i < len(s):
                node = node.get(s[i])
                if node is None:
                    break
                i += 1
                if "" in node:
                    best = i - start
            return best

        for pdf in batches:
            rem_out, np_out, sig_out = [], [], []
            for w in pdf["word"].astype(str):
                pos, taken, sig = 0, 0, []
                while pos < len(w) and taken < mp:
                    ln = longest(w, pos) or 1  # char-fallback
                    sig.append(w[pos : pos + ln])
                    pos += ln
                    taken += 1
                rem_out.append(w[pos:])
                np_out.append(taken)
                sig_out.append("|".join(sig))
            out = pd.DataFrame(
                {
                    "word": pdf["word"].astype(str),
                    "freq": pdf["freq"],
                    "remaining": rem_out,
                    "n_pieces": np_out,
                    "sig": sig_out,
                }
            )
            yield out

    return (
        words.filter(F.length("word") >= 1)
        .select("word", "freq")
        .mapInPandas(
            _segment,
            "word string, freq long, remaining string, "
            "n_pieces long, sig string",
        )
    )
