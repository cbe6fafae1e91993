"""Text-analysis operators: tokens, quality, language ID, fingerprints.

Design rules:

- Every operator is a pure `Column` expression built from Spark's
  higher-order array functions — single pass over the text, JVM-side,
  whole-stage-codegen friendly. No Python UDFs.
- Hashes are **engine-portable**: a 32-bit integer taken from the md5
  hex digest (`md5_hash32`). md5 is bit-identical in Spark, DuckDB,
  and every other engine, so DuckDB oracles can verify the exact same
  numbers. (Spark's builtin `hash()`/`xxhash64` are Spark-private
  seeds — correct but unverifiable; we expose portability instead.)
- At 100 TB these all stay embarrassingly parallel: per-row
  expressions, no shuffle, no driver round-trips.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Large prime modulus for rolling hashes (fits comfortably in int64:
#: acc < 2^30, acc*31 + 2^32 < 2^37 — no overflow).
HASH_MOD = 1_000_000_007

#: Tiny per-language stopword profiles for the n-gram/stopword
#: language-ID heuristic. Ordered dict order = deterministic tie-break
#: priority (first wins ties).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}

#: Default stopword list for quality scoring (English-ish).
STOPWORDS: tuple[str, ...] = LANG_PROFILES["en"] + ("for", "on", "with", "as")

#: Characteristic character-n-gram profiles for the second language-ID
#: method (occurrence-counted substrings — the classic Cavnar-Trenkle
#: n-gram approach, reduced to a fixed profile). Grams may be any
#: length: zh uses single CJK chars, latin langs use trigrams with
#: word-boundary spaces. Dict order = deterministic tie-break priority.
NGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "he ", " th", "ing", "and", "ion", " of", "of ", "ed ", " to"),
    "de": ("der", "ein", "ich", "sch", "und", "die", "cht", "ung", " ge", "en "),
    "es": ("de ", "la ", " la", "que", "ión", "ado", "os ", " es", "ent", "ar "),
    "fr": ("le ", " le", "es ", " et", "que", "ais", "eur", "oir", "une", "de "),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}

#: BPE-ish segmentation: word pieces OR single non-space symbols —
#: the standard pre-tokenizer split used before byte-pair merging.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def let(value: Column, body) -> Column:
    """`body(value)` with `value` evaluated ONCE per row, bound to the
    lambda variable of a transform over a 1-element wrapper array.
    Higher-order functions are interpreted (CodegenFallback) with no
    common-subexpression elimination, so a Column that a HOF-bearing
    expression references k times is computed k times (round-12 plan
    audit). Only for HOF-bearing bodies: in a codegen'd scalar
    projection CSE already shares the subtree, and the wrapper would
    demote it out of codegen."""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token count under the BPE-style pre-tokenizer regex
    (word pieces + punctuation symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def md5_hash32(col: Column | str) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as a long.
    Bit-identical in Spark and DuckDB (oracle-verifiable), uniform,
    and cheap — the basis for all fingerprints/minhashes here.
    Birthday bound: expect collisions above ~2^16 distinct keys, so
    use this for SKETCH keys (minhash slots, band hashes, sampling
    orders) where a rare collision only perturbs an estimate — never
    as the sole identity for destructive dedup; that's md5_hash60."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_hash60(col: Column | str) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as a long
    (15·4 = 60 bits, max 2^60−1 — always fits int64 on both engines,
    unlike a full 16-char slice whose top bit wraps differently).
    Birthday bound ~2^30 distinct keys (collision odds < 1e-6 below
    ~10^6 keys, < 1% at 10^8) — the identity hash for DESTRUCTIVE
    dedup decisions (exact content dedup, span dedup) where a
    32-bit collision would silently delete unique text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _fingerprint(t: Column, mod: int = HASH_MOD) -> Column:
    """rolling_fingerprint over a bound token array."""
    return F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + md5_hash32(x)) % F.lit(mod)
    )


def rolling_fingerprint(col: Column | str, mod: int = HASH_MOD) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over token hashes, `acc = (acc*31 + h(tok)) % mod`. Two documents
    get equal fingerprints iff their token sequences match — the
    content-defined identity used for exact dedup at scale."""
    return _fingerprint(tokens(col), mod)


def winnowing_fingerprints(col: Column | str, k: int = 4, w: int = 5) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS local-fingerprint algorithm): hash every
    token k-gram, slide a w-hash window over the hash sequence, keep
    the MINIMUM hash of each window, return the sorted distinct
    selections. Guarantee: any shared token run of ≥ k+w−1 tokens
    between two documents yields ≥ 1 shared fingerprint, while the
    density of stored hashes is only ~2/(w+1) of the grams — THE
    scalable middle ground between whole-doc hashes (rolling_
    fingerprint: no partial-overlap detection) and full shingle sets
    (minhash: fixed-size but position-blind).

    Shape notes: BOTH the token array and the k-gram hash array are
    bound with `let`, so Catalyst evaluates the regex tokenizer and
    the O(n) md5 pass ONCE each — the gram builder references tokens
    three times (guard size, sequence bound, slice source) and the
    window picker references the hash array three ways. Documents
    with fewer than k tokens yield an empty array; documents with
    1..w−1 grams yield the single minimum (one degenerate window),
    matching the reference algorithm. Pure JVM Column expression — no
    Python UDF, map-only at any scale."""

    def grams(t: Column) -> Column:
        return F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: md5_hash32(F.concat_ws(" ", F.slice(t, i, k))),
            ),
        ).otherwise(F.array().cast("array<long>"))

    def pick(hs: Column) -> Column:
        n_w = F.greatest(F.size(hs) - (w - 1), F.least(F.size(hs), F.lit(1)))
        return F.when(
            F.size(hs) > 0,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n_w),
                        lambda j: F.array_min(F.slice(hs, j, w)),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<long>"))

    return let(let(tokens(col), grams), pick)


#: PII-ish patterns a corpus-prep pipeline scrubs before training.
#: Kept to syntax shared by Java regex (Spark) and RE2 (DuckDB) so the
#: oracle can replay the scan verbatim: no lookarounds, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(col: Column | str, patterns: dict[str, str] | None = None) -> dict[str, Column]:
    """Per-pattern match counts (the audit side of redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    patterns = patterns or PII_PATTERNS
    return {
        label: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long")
        for label, pat in patterns.items()
    }


def redact_pii(col: Column | str, patterns: dict[str, str] | None = None) -> Column:
    """Scrub every PII pattern from the text, each replaced by its
    labeled placeholder `<LABEL>` — the standard pre-training privacy
    pass. Map-only regexp_replace chain (one pass per pattern), pure
    JVM; at 100 TB this runs inside the same codegen stage as the
    quality gates, no extra scan or shuffle. Patterns apply in dict
    order — order matters when patterns overlap (emails are scrubbed
    before the bare-IP pattern could match a host fragment)."""
    c = F.col(col) if isinstance(col, str) else col
    patterns = patterns or PII_PATTERNS
    for label, pat in patterns.items():
        c = F.regexp_replace(c, pat, f"<{label.upper()}>")
    return c


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def _hits(t: Column, words: Sequence[str]) -> Column:
    """How many elements of the bound token array `t` are in `words`."""
    return F.size(F.filter(t, lambda x: x.isin(*words)))


def _total_len(t: Column) -> Column:
    """Summed character length of the bound token array `t`."""
    return F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))


def _ratio(num: Column, n: Column) -> Column:
    """num / n per token, 0.0 for a document with no tokens."""
    return F.when(n > 0, num / n).otherwise(F.lit(0.0))


def _quality(
    c: Column, n: Column, n_stop: Column, total_len: Column, min_tokens: int, max_tokens: int
) -> Column:
    """The quality arithmetic over the integer evidence of text `c`:
    length gate × (stopword fluency + clean-punctuation +
    sane-word-length) / 3."""
    sw = _ratio(n_stop, n)
    fluency = F.least(sw * 4, F.lit(1.0))  # ≥25% stopwords ⇒ full marks
    clean = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    mtl = _ratio(total_len, n)
    sane_len = F.when((mtl >= 2.0) & (mtl <= 12.0), 1.0).otherwise(0.0)
    raw = (fluency + clean + sane_len) / 3
    return F.when((n >= min_tokens) & (n <= max_tokens), raw).otherwise(F.lit(0.0))


def _evidence(
    t: Column, stopwords: Sequence[str], profiles: dict[str, Sequence[str]]
) -> list[Column]:
    """The integer evidence fields of the bound token array `t` that
    quality and language ID read: n, n_stop, total_len and one
    s_<lang> stopword-hit count per profile."""
    return [
        F.size(t).alias("n"),
        _hits(t, stopwords).alias("n_stop"),
        _total_len(t).alias("total_len"),
        *[_hits(t, words).alias(f"s_{lang}") for lang, words in profiles.items()],
    ]


def quality_score(
    col: Column | str,
    min_tokens: int = 10,
    max_tokens: int = 10_000,
    stopwords: Sequence[str] = STOPWORDS,
) -> Column:
    """Composite document-quality score in [0, 1]: length gate ×
    (stopword fluency + clean-punctuation + sane-word-length) / 3.
    The C4/Gopher-style heuristic stack as one vectorized expression.

    The token array is bound with `let`: the score references it eight
    times (count gate ×2, stopword filter + two sizes, length fold +
    two sizes), so the inline form re-ran the regex tokenizer 8x per
    document."""
    c = F.col(col) if isinstance(col, str) else col
    return let(
        tokens(c),
        lambda t: _quality(
            c, F.size(t), _hits(t, stopwords), _total_len(t), min_tokens, max_tokens
        ),
    )


def token_2grams_from(t: Column) -> Column:
    """Adjacent token 2-grams ("a b", "b c", ...) of an ALREADY-BOUND
    token array (a lambda variable or materialized column). Built with
    an index-aware transform over a slice, so a document with fewer
    than 2 tokens yields an empty array (never a descending-`sequence`
    surprise). Map-only JVM expression."""
    head = F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0)))
    return F.transform(
        head,
        lambda x, i: F.concat_ws(" ", x, F.element_at(t, i + F.lit(2))),
    )


def top_run_count(arr: Column) -> Column:
    """Highest multiplicity of any element in `arr` (0 for empty).
    Sort + one linear fold over run lengths — O(n log n) per row, not
    the O(n·distinct) filter-per-element shape, so it stays cheap on
    pathological long documents. The fold state is (prev, run, best)."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(s: Column, x: Column) -> Column:
        run = F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(s["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), init, step, lambda s: s["best"])


#: Field order of the repetition_stats struct (and the columns the
#: catalog query emits, after doc identifiers).
REPETITION_FIELDS = (
    "n_tokens",
    "n_distinct_tokens",
    "n_2grams",
    "n_dup_2grams",
    "top_2gram_count",
    "repetitive",
)


def repetition_stats(col: Column | str) -> Column:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, §A.1.1 — the "repetition" family of quality filters) as ONE
    struct column: token and 2-gram duplication, the most-frequent-
    2-gram multiplicity, and the gate flag (duplicate-2-gram fraction
    > 0.2 OR top-2-gram fraction > 0.08, compared by integer
    cross-multiplication — dup/n > 1/5 ⇔ dup*5 > n — never a float
    ratio). All integer counts → engine-portable.

    Shape: higher-order functions are interpreted (CodegenFallback)
    and get NO subexpression elimination, so emitting these as six
    independent columns re-tokenizes and re-builds the gram array per
    column (measured ~6× the single-pass cost). Instead the token and
    gram arrays are let-bound once via nested transforms over a
    single-element array, and every signal reads the bound arrays;
    callers expand the struct behind a Generate barrier (explode of a
    1-element array) so the struct itself is also evaluated once per
    row — see q_doc_repetition_stats. Map-only at any scale."""
    # Nested binding: tokens run ONCE, the gram array is built from
    # the bound tokens (round-12: struct(tokens, token_2grams) was
    # two independent tokenizations).
    bound = F.transform(
        F.array(tokens(col)),
        lambda t: F.struct(t.alias("t"), token_2grams_from(t).alias("g")),
    )

    def stats(s: Column) -> Column:
        n_g = F.size(s["g"]).cast("long")
        n_dup = (n_g - F.size(F.array_distinct(s["g"]))).cast("long")
        return F.struct(
            F.size(s["t"]).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(s["t"])).cast("long").alias("n_distinct_tokens"),
            n_g.alias("n_2grams"),
            n_dup.alias("n_dup_2grams"),
            top_run_count(s["g"]).alias("top_2gram_count"),
        )

    def with_flag(r: Column) -> Column:
        trip = (r["n_dup_2grams"] * 5 > r["n_2grams"]) | (
            r["top_2gram_count"] * 25 > r["n_2grams"] * 2
        )
        return F.struct(
            *[r[f].alias(f) for f in REPETITION_FIELDS[:-1]],
            trip.cast("long").alias("repetitive"),
        )

    return F.element_at(F.transform(F.transform(bound, stats), with_flag), 1)


def argmax_label(scores: dict[str, Column], default: str = "und") -> Column:
    """Deterministic argmax over a labeled score dict: first-wins
    tie-break in dict order; `default` when no score is positive.

    Shape matters for cost: a pairwise CASE cascade references every
    score expression ~2·N times, and Catalyst's CollapseProject
    re-inlines those references, recomputing each (possibly expensive —
    tokenization, per-gram string scans) score per reference. Instead
    build array<struct<s, ni>> with ni = -position and take
    `array_max`: struct comparison is field-order, so ties on `s`
    resolve to the largest ni = the EARLIEST label. Each score appears
    exactly once in the plan."""
    langs = list(scores)
    # Scores compare as doubles: exact for integer-valued scores up to
    # 2^53 (every current caller is a small hit-count) and correct —
    # not silently truncated — for any future fractional-valued caller.
    # The double cast also lets one call mix int- and double-typed
    # score expressions (F.array needs a uniform struct type).
    pairs = F.array(
        *[
            F.struct(
                scores[lang].cast("double").alias("s"),
                F.lit(-i).alias("ni"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(pairs)
    label = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        (-best["ni"]).cast("int") + 1,
    )
    return F.when(best["s"] > 0, label).otherwise(F.lit(default))


def predict_language(col: Column | str, profiles: dict[str, Sequence[str]] | None = None) -> Column:
    """Argmax language with deterministic first-wins tie-break (profile
    order). Emits 'und' when no profile scores a single hit.

    The token array is bound with `let`, so the regex tokenizer runs
    once per document instead of once per language profile."""
    profiles = profiles or LANG_PROFILES
    return let(
        tokens(col),
        lambda t: argmax_label(
            {lang: _hits(t, words) for lang, words in profiles.items()}
        ),
    )


def quality_language_struct(
    col: Column | str,
    min_tokens: int = 10,
    max_tokens: int = 10_000,
    stopwords: Sequence[str] = STOPWORDS,
    profiles: dict[str, Sequence[str]] | None = None,
) -> Column:
    """struct(quality, pred_lang) — value-identical to
    (round(quality_score(col), 6), predict_language(col)) with the
    token array bound ONCE, where the two separate gate columns
    tokenized every document ~8× (length + stopword + mean-length + 5
    language filters). A nested transform over a single-element array
    binds the array once, level 1 folds it into the integer
    `_evidence`, and level 2 is scalar math over those fields. Callers
    expand the struct behind an explode(array(...)) Generate barrier so
    it is also evaluated once per ROW, not once per output column."""
    profiles = profiles or LANG_PROFILES
    c = F.col(col) if isinstance(col, str) else col
    bound = F.array(F.struct(tokens(c).alias("t")))

    def evidence(s: Column) -> Column:
        return F.struct(*_evidence(s["t"], stopwords, profiles))

    def verdict(r: Column) -> Column:
        quality = _quality(
            c, r["n"], r["n_stop"], r["total_len"], min_tokens, max_tokens
        )
        return F.struct(
            F.round(quality, 6).alias("quality"),
            argmax_label({lang: r[f"s_{lang}"] for lang in profiles}).alias("pred_lang"),
        )

    return F.element_at(F.transform(F.transform(bound, evidence), verdict), 1)


def language_scores_chargram(
    col: Column | str, profiles: dict[str, Sequence[str]] | None = None
) -> Column | dict[str, Column]:
    """Per-language char-n-gram occurrence counts: for each profile
    gram g, occurrences = (len(t) - len(replace(t, g, ''))) / len(g) —
    pure string built-ins, exact integers, engine-portable, and a
    single codegen'd map stage at any scale (no arrays materialized,
    unlike a shingle-set approach)."""
    profiles = profiles or NGRAM_PROFILES
    t = F.lower(col if isinstance(col, Column) else F.col(col))

    def occ(g: str) -> Column:
        return (F.length(t) - F.length(F.replace(t, F.lit(g), F.lit("")))) / len(g)

    return {
        lang: sum(occ(g) for g in grams).cast("long")
        for lang, grams in profiles.items()
    }


def predict_language_chargram(
    col: Column | str, profiles: dict[str, Sequence[str]] | None = None
) -> Column:
    """Char-n-gram language ID: argmax occurrence mass with first-wins
    tie-break (profile order); 'und' on zero evidence. Complements the
    stopword method — robust to unsegmented text (zh) and morphology."""
    return argmax_label(language_scores_chargram(col, profiles or NGRAM_PROFILES))


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document analysis frame: one narrow pass emitting every text
    signal (token counts, quality, language, fingerprint). At 100 TB
    this is a single map stage — no shuffle, no state.

    Values are identical to composing token_count, quality_score,
    predict_language and rolling_fingerprint, but the token array is
    bound ONCE and folded into the integer `_evidence` plus the
    fingerprint (instead of ~12 tokenize passes per doc), and the
    struct expands behind a Generate barrier, as in
    quality_language_struct."""
    c = F.col(text_col)
    bound = F.array(F.struct(tokens(c).alias("t")))

    def evidence(s: Column) -> Column:
        t = s["t"]
        return F.struct(
            *_evidence(t, STOPWORDS, LANG_PROFILES),
            _fingerprint(t).alias("fingerprint"),
        )

    def emit(r: Column) -> Column:
        n = r["n"]
        quality = _quality(c, n, r["n_stop"], r["total_len"], 10, 10_000)
        return F.struct(
            n.cast("long").alias("n_tokens"),
            bpe_ish_token_count(c).cast("long").alias("n_bpe_tokens"),
            F.length(c).cast("long").alias("n_chars"),
            F.round(_ratio(r["total_len"], n), 6).alias("mean_token_len"),
            F.round(punct_ratio(c), 6).alias("punct_ratio"),
            F.round(_ratio(r["n_stop"], n), 6).alias("stopword_ratio"),
            F.round(quality, 6).alias("quality"),
            argmax_label({lang: r[f"s_{lang}"] for lang in LANG_PROFILES}).alias("pred_lang"),
            r["fingerprint"].alias("fingerprint"),
        )

    profile = F.element_at(F.transform(F.transform(bound, evidence), emit), 1)
    return df.select(
        F.col(id_col), F.explode(F.array(profile)).alias("__p")
    ).select(id_col, "__p.*")


def bigram_pairs_from_tokens(toks: Column) -> Column:
    """Adjacent pairs from an ALREADY-TOKENIZED array — lets a cached
    token-array frame feed both unigram and bigram counts without a
    second tokenize pass (the bigram-LM train side)."""
    head = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    return F.transform(
        head,
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(toks, i + F.lit(2)).alias("w2")
        ),
    )


def token_bigram_pairs(col: Column | str) -> Column:
    """Adjacent token pairs as `array<struct<w1,w2>>` — the join-ready
    form of token_2grams_from (w1 is needed alone for the context-count
    join in the bigram LM). Slice-based, so <2-token docs yield an
    empty array without the descending-`sequence` trap. Map-only."""
    return bigram_pairs_from_tokens(tokens(col))


def bigram_lm_doc_scores(
    docs: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 100_000,
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al., LREC'20), the
    Spark-expressible core: fit an add-one-smoothed token-bigram LM on
    a trusted subset (`train`; CCNet uses Wikipedia+KenLM), then score
    every document by its average per-bigram log-probability. Docs far
    from the trusted distribution (other languages, gibberish,
    boilerplate) score low — the standard perplexity-bucket filter of
    a training-data pipeline.

    logP(w2|w1) = ln((c(w1,w2)+1) / (c(w1)+V)), floor-quantized to
    1/`quant` so the cross-engine ln() comparison is on integers (the
    TF-IDF precedent); per-doc average is exact integer division.
    Returns (id_col, n_bigrams, avg_logp_q) for docs with ≥1 bigram.

    Scale shape: counts are two hash aggs over the train token stream;
    the probe stream joins bigram counts on (w1,w2) and context counts
    on w1 — plain shuffle equi-joins that partition by key at any
    corpus size (no driver-side vocab, no broadcast of the big side);
    V rides a broadcast single-row cross join. The per-doc agg is the
    only other shuffle.

    The SHARED intermediates go through the catalog's scratch_persist
    (released when the next catalog query starts) — the train
    token-array frame (feeds both unigram and bigram counts: without
    the cache the train text is scanned+tokenized twice) and the
    unigram-count frame (feeds both the vocab scalar and the probe's
    context join). Measured at sf0.1 this collapses the query from 5
    parquet scans to 3 and ~6.3 s to ~4 s.
    """
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        scratch_persist,
    )

    lowered = F.lower(F.col(text_col))
    probe = docs.select(
        F.col(id_col), F.explode(token_bigram_pairs(lowered)).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    tr_arr = scratch_persist(train.select(tokens(lowered).alias("ta")))
    tr_toks = tr_arr.select(F.explode("ta").alias("w"))
    uni = scratch_persist(tr_toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu")))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = (
        tr_arr.select(F.explode(bigram_pairs_from_tokens(F.col("ta"))).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    q = F.floor(
        quant
        * F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
            / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v") + 0.0)
        )
    ).cast("long")
    scored = (
        probe.join(big, ["w1", "w2"], "left")
        .join(uni, probe.w1 == uni.w, "left")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), q.alias("q"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(q) DIV count(1)").cast("long").alias("avg_logp_q"),
    )
