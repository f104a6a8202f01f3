"""Text-analysis expression library (north-star extension + SURVEY §2.8 F1-F5).

Designed for the ``documents`` table of a large-scale training-data pipeline:
language ID, quality scoring, token counting, shingling, fingerprinting.  All
pure Column expressions — these run inside whole-stage codegen and vectorized
parquet scans, so a 100 TB corpus is one map-only pass (no shuffle, no Python).

Determinism note: fingerprints/minhashes are built from ``md5`` so the same
value is computable in any engine (the DuckDB oracle reproduces them exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small multilingual stopword lists for the language-ID heuristic and the
# stopword-ratio quality signal.  Deliberately tiny + frozen: they are part of
# the deterministic operator contract, not a linguistics model.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
STOPWORDS_ES = ("el", "la", "de", "y", "que", "en", "un", "una", "los", "las")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(_c(col)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (cheap proxy for an LLM token budget)."""
    return F.size(tokens(col))


def ws_tokens(col: Column | str) -> Column:
    """THE corpus-wide tokenization contract: whitespace tokens, empties
    dropped, NULL text → [] — the form every dedup/LM/packing operator and
    every DuckDB oracle (``list_filter(string_split_regex(coalesce(text,
    ''), '\\s+'), t -> t <> '')``) must share.  One definition so a
    future change (e.g. Java-vs-RE2 ``\\s`` semantics) cannot be applied
    in one consumer and missed in another, silently diverging token
    counts.  ``tokens()`` above is the legacy unfiltered form (keeps a
    single '' for empty text) used by the quality-ratio expressions."""
    return F.filter(
        F.split(F.coalesce(_c(col), F.lit("")), r"\s+"),
        lambda x: x != "",
    )


def char_ngrams(col: Column | str, n: int, distinct: bool = True) -> Column:
    """Character n-gram shingle set via sequence+substring (no UDF).
    Floored at one gram like ``word_shingles_of`` (sub-n text yields one
    short gram; empty text yields [""]) — totality over every doc."""
    c = _c(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))),
        lambda i: F.substring(c, i, n),
    )
    return F.array_distinct(grams) if distinct else grams


def word_shingles_of(toks: Column, n: int, distinct: bool = True) -> Column:
    """Word n-gram shingles from an ALREADY-TOKENIZED array column.

    The shingle count is FLOORED at one (``greatest(size-n+1, 1)``): a
    sub-n doc yields its whole token list space-joined as a single
    (shorter) shingle and an empty doc yields [""] — deliberate totality
    so MinHash/LSH signatures exist for every doc (the oracles replicate
    the same floor).  Consumers that need "no n-grams" as a distinct
    state must test ``size(toks) < n`` themselves.

    Hot paths must pass a *materialized* token column (withColumn), not an
    inline ``tokens(text)`` expression: higher-order functions are
    interpreted (CodegenFallback, no subexpression elimination), so any
    non-trivial expression referenced inside the transform lambda re-
    evaluates once PER SHINGLE — an inline split() costs O(tokens²) per
    document (measured 2× the whole shingle stage at sf0.1)."""
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda j: F.array_join(F.slice(toks, j, n), " "),
    )
    return F.array_distinct(sh) if distinct else sh


def word_shingles(col: Column | str, n: int, distinct: bool = True) -> Column:
    """Word n-gram shingles (space-joined), the MinHash input unit.

    Convenience single-expression form — fine for one-shot use on short
    text; hot paths should materialize ``tokens()`` into a column and call
    ``word_shingles_of`` (see its docstring for why)."""
    return word_shingles_of(tokens(col), n, distinct)


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (NULL for empty text — try_divide
    because ANSI mode throws on /0)."""
    c = _c(col)
    return F.try_divide(F.length(F.regexp_replace(c, r"[^.!?,;:]", "")), F.length(c))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    toks = tokens(col)
    stops = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))
    return hits / F.size(toks)


def duplicate_ngram_fraction_of(sh: Column) -> Column:
    """``duplicate_ngram_fraction`` from a MATERIALIZED shingle column.

    Hot paths must materialize the shingle array first (withColumn):
    higher-order functions are interpreted with no subexpression
    elimination, so each of the three references here would otherwise
    re-derive the whole tokenize→shingle expression — and any split()
    inside the shingle lambda re-runs per element (see
    ``word_shingles_of``).  Measured on q122: 2.7× end-to-end."""
    return F.try_divide(F.size(sh) - F.size(F.array_distinct(sh)), F.size(sh))


def duplicate_ngram_fraction(col: Column | str, n: int) -> Column:
    """Fraction of word n-grams that are repeats of an earlier occurrence:
    (total − distinct) / total — the Gopher repetition filter family
    (Rae et al. 2021 §A1.1 use n=2..4; docs above ~0.2 at n=2 are
    boilerplate/spam).  Pure expressions, map-only at 100 TB.

    Empty/NULL/sub-n docs score 0.0, NOT NULL: ``word_shingles_of`` floors the
    shingle count at one (so MinHash stays total on short docs — an empty
    text yields the single shingle ""), which makes the try_divide
    denominator ≥ 1 always.  Gopher deployments must gate empty docs with
    the min-length rule (they do — q31/q194), not through this score.
    Convenience one-shot form; hot paths use ``_of`` on a materialized
    shingle column."""
    return duplicate_ngram_fraction_of(word_shingles(col, n, distinct=False))


def top_ngram_char_fraction_of(sh: Column, text: Column) -> Column:
    """``top_ngram_char_fraction`` from a MATERIALIZED shingle column —
    see ``duplicate_ngram_fraction_of`` for why materialization matters.

    Shape note: the occurrence count is a nested higher-order expression
    (``transform`` over distinct grams, ``filter`` over all grams) —
    O(distinct × total) per document, still map-only/JVM-side but outside
    whole-stage codegen.  Fine for bounded documents; for a corpus of very
    long documents compute it relationally instead (posexplode → count →
    max per doc), trading a shuffle for linear per-doc cost."""
    cover = F.transform(
        F.array_distinct(sh),
        lambda g: F.size(F.filter(sh, lambda x: x == g)) * F.length(g),
    )
    return F.try_divide(F.array_max(cover), F.length(text))


def top_ngram_char_fraction(col: Column | str, n: int) -> Column:
    """Fraction of the document's characters covered by its single most
    frequent word n-gram: occurrences × gram length / total chars (the
    other half of the Gopher repetition family).  Convenience one-shot
    form; hot paths use ``_of`` on a materialized shingle column."""
    c = _c(col)
    return top_ngram_char_fraction_of(word_shingles(col, n, distinct=False), c)


def quality_score(col: Column | str) -> Column:
    """Deterministic document-quality score in [0, 1].

    Blend of (a) length credit saturating at 200 tokens, (b) stopword-ratio
    credit saturating at 0.2, (c) punctuation-spam penalty above 10%.  The
    exact blend is an engine contract (oracle reproduces it), not a model.
    """
    ntok = token_count(col).cast("double")
    len_credit = F.least(ntok / F.lit(200.0), F.lit(1.0))
    stop_credit = F.least(stopword_ratio(col) / F.lit(0.2), F.lit(1.0))
    punct_pen = F.greatest(punct_ratio(col) - F.lit(0.1), F.lit(0.0))
    score = F.lit(0.5) * len_credit + F.lit(0.5) * stop_credit - punct_pen
    clamped = F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0))
    # least/greatest SKIP null operands, so a NULL document would score a
    # perfect 1.0 — pin it to 0.0 (a null doc is the worst doc, not the best)
    return F.when(_c(col).isNull(), F.lit(0.0)).otherwise(clamped)


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: script ranges first, then stopword voting.

    CJK → zh, Cyrillic → ru, else the language whose stopword list scores the
    most token hits (en/es/de), ties broken en > es > de.  Pure expressions —
    at 100 TB this is a map-only column.
    """
    c = _c(col)
    toks = F.transform(tokens(c), lambda t: F.lower(t))

    def hits(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    en, es, de = hits(STOPWORDS_EN), hits(STOPWORDS_ES), hits(STOPWORDS_DE)
    return (
        F.when(c.rlike("[一-鿿]"), F.lit("zh"))
        .when(c.rlike("[Ѐ-ӿ]"), F.lit("ru"))
        .when((en >= es) & (en >= de), F.lit("en"))
        .when(es >= de, F.lit("es"))
        .otherwise(F.lit("de"))
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.lower(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint = md5 of normalized text.

    Engine-portable (md5 is identical everywhere) — the exact-dedup key.
    """
    return F.md5(normalize_text(col))


def md5_60(col: Column | str, lane: int = 0) -> Column:
    """60-bit md5 hash as BIGINT: hex digits ``[15·lane, 15·lane + 15)`` of
    ``md5(col)`` read as an integer, so ``lane`` 0 and 1 are two
    independent hashes from one 32-digit digest.  The repo-wide portable
    hash primitive; DuckDB spells lane 0
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(_c(col)), 1 + 15 * lane, 15), 16, 10).cast("long")


ROLLING_HASH_MOD = 2305843009213693951  # 2^61 - 1 (Mersenne prime)


def rolling_hash(col: Column | str, prefix_len: int = 64, base: int = 31) -> Column:
    """Polynomial rolling-hash fingerprint over the first ``prefix_len``
    characters: h = Σ ascii(c_i)·base^(n−i) mod (2^61−1), computed as a
    left fold with per-step modulo.

    Decimal(38,0) intermediates keep the fold exact under ANSI mode (long
    would overflow at acc·31); engine-portable (the oracle reproduces it
    with HUGEINT + ``list_reduce``).
    """
    c = _c(col)
    bound = F.least(F.length(c), F.lit(prefix_len))
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(bound, F.lit(1))),
        F.lit(0).cast("decimal(38,0)"),
        # c.substr(i, 1) directly: i ≤ bound ≤ prefix_len already, and the
        # lambda is interpreted with no subexpression elimination, so a
        # substring(c, 1, prefix_len) prefix here re-materialized a
        # prefix_len-char slice once PER FOLD STEP — O(prefix_len²) char
        # copies per row on a map-only hot path, for zero semantic effect
        lambda acc, i: F.pmod(
            acc * F.lit(base) + F.ascii(c.substr(i, F.lit(1))).cast("decimal(38,0)"),
            F.lit(ROLLING_HASH_MOD).cast("decimal(38,0)"),
        ),
    ).cast("long")


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: letter runs count 1, each digit counts 1,
    each other non-space symbol counts 1 — a cheap, deterministic proxy for
    subword tokenizer counts (north-star token counting)."""
    return F.regexp_count(_c(col), F.lit(BPE_ISH_PATTERN))


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One iteration of distributed BPE vocabulary training: corpus-weighted
    counts of adjacent symbol pairs (initial alphabet = characters).

    The dominant step of training a tokenizer on a 100 TB corpus: the raw
    text reduces FIRST to a (word, freq) table — orders of magnitude
    smaller, one map-combined shuffle — and pair extraction/counting runs
    over that table, never over raw text again.  Subsequent merge rounds
    rewrite the symbol column of the same small table, which is why
    corpus-scale BPE training is cheap after this first pass.

    Pure column algebra: tokenize → word-freq agg → per-word adjacent char
    pairs via ``transform(sequence(...))`` → weighted pair agg.  No UDF, no
    explode of raw text (pairs explode from the compact word table).
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
