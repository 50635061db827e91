"""Text-analysis column expressions (training-data pipeline surface).

Language-ID, quality scoring, token counting, and document
fingerprinting over the `documents` table — all as built-in expressions
(split/regexp/length/hash stay in whole-stage codegen), because at
100 TB a per-document Python call is the difference between one pass
and ten.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions.numeric import round_half_up

# Words whose frequency marks English-ish prose; used by the n-gram/
# stopword language heuristic and the quality score.
_EN_STOPWORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "it", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
)

TOKEN_PATTERN = r"\s+"
# BPE-ish word/punct splitter: runs of letters, runs of digits, or a
# single non-space symbol each count as one token.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank)."""
    return F.filter(F.split(F.trim(text), TOKEN_PATTERN), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for NULL text (size(tokens(NULL)) is
    -1 under legacy sizeOfNull — a NULL doc must not subtract from
    token-budget sums the way -1 would, and every SQL oracle's
    len(NULL)=NULL would silently skip the row instead)."""
    return F.size(tokens(F.coalesce(text, F.lit(""))))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: letters-runs + digit-runs + symbols.

    A cheap, deterministic proxy for BPE token budgeting (regexp_count
    is a codegen'd JVM expression — no tokenizer library needed for
    corpus-size estimation).
    """
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def blocklist_hits(text: Column, terms: list[str]) -> Column:
    """Count of whitespace tokens (lowercased) that appear in ``terms``
    — the membership half of the classic word-filter safety gate (C4's
    badwords drop; Dolma applies the same idea as a FRACTION threshold
    so one incidental term doesn't kill a long document). Pure JVM
    expressions: the blocklist rides as an array literal, so the
    per-token test is a codegen'd array_contains against a tiny
    constant array — no UDF, no broadcast join needed below ~thousands
    of terms (above that, switch to an explode + broadcast semi-join
    on the token)."""
    block = F.array(*[F.lit(t) for t in terms])
    return F.size(
        F.filter(tokens(F.lower(text)), lambda t: F.array_contains(block, t))
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are common English stopwords."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters or spaces."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z ]", ""))
    return F.when(n > 0, alpha.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1].

    Combines length, alphabetic ratio, stopword presence, and word
    length plausibility — the standard cheap filters a pretraining
    pipeline applies before anything expensive. NULL text scores like
    the empty doc (0.0) — without the coalesce, token_count's legacy
    -1 path would push length_ok NEGATIVE (-0.05) and emit a score
    outside the documented [0,1] range.
    """
    text = F.coalesce(text, F.lit(""))
    n_tokens = token_count(text).cast("double")
    length_ok = F.least(n_tokens / F.lit(20.0), F.lit(1.0))  # saturates at 20 tokens
    wl = mean_word_length(text)
    word_len_ok = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    # round_half_up, not F.round: the score is oracle-checked and Spark's
    # ROUND disagrees with DuckDB's on half-boundary doubles.
    return round_half_up(
        0.4 * length_ok + 0.3 * alpha_ratio(text) + 0.2 * stopword_ratio(text) + 0.1 * word_len_ok,
        6,
    )


def lang_id_heuristic(text: Column) -> Column:
    """Cheap script/stopword language guess → 'en'|'zh'|'ru'|'ar'|'unknown'.

    Unicode-script counting via regexp; an English stopword-ratio gate.
    Real pipelines plug a model in via mapInPandas (see
    `multimodal/binaryops.py` pattern); this expression version is the
    zero-dependency default and is fully codegen'd.
    """
    n = F.length(text)
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    cyr = F.length(F.regexp_replace(text, r"[^Ѐ-ӿ]", ""))
    arab = F.length(F.regexp_replace(text, r"[^؀-ۿ]", ""))
    return (
        F.when(n == 0, F.lit("unknown"))
        .when(cjk.cast("double") / n > 0.25, F.lit("zh"))
        .when(cyr.cast("double") / n > 0.25, F.lit("ru"))
        .when(arab.cast("double") / n > 0.25, F.lit("ar"))
        .when(stopword_ratio(text) > 0.08, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def portable_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash computable identically in any engine
    with md5: the first 15 hex chars of md5, parsed as an integer.

    Cross-engine twin (DuckDB): ``('0x' || substr(md5(x),1,15))::BIGINT``
    — verified bit-identical to this expression. Used wherever a hashed
    quantity must be reproducible by the SQL oracle (SimHash tokens,
    hash-based sampling). xxhash64 stays the default for engine-internal
    hashing (it is ~5× cheaper than md5) where the oracle never sees the
    hash value itself.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_portable_hash60(expr: str) -> str:
    """DuckDB SQL twin of `portable_hash60`."""
    return f"(('0x' || substr(md5({expr}),1,15))::BIGINT)"


def fingerprint(text: Column) -> Column:
    """Deterministic 64-bit content fingerprint (xxhash64 of normalized text).

    Normalization: lowercase, collapse whitespace. Used as the exact-dedup
    key; stable across runs and partitionings.
    """
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(normalized)


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles → array<string> of space-joined k-grams.

    Linear construction: k-1 zip_with passes over shifted slices of the
    token array (shingle_i = toks[i] ⊕ toks[i+1] ⊕ …). The naive
    per-index `transform(sequence, slice(toks, i, k))` formulation is
    ~30× slower (a Column-start slice per shingle defeats codegen).
    Stays entirely in the JVM; the unit of MinHash/Jaccard comparison.
    """
    toks = tokens(F.lower(text))
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(toks, 1, length)
    for j in range(1, k):
        out = F.zip_with(
            out,
            F.slice(toks, j + 1, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(n >= k, out).otherwise(F.array(F.concat_ws(" ", toks)))


def repetition_ratio(text: Column, k: int = 3) -> Column:
    """Repeated-k-shingle fraction: 1 − distinct(shingles)/total(shingles).

    The standard LLM-corpus quality signal for degenerate/boilerplate
    text (loops, keyword stuffing, template spam score high; natural
    prose scores near 0). Entirely JVM expressions — `array_distinct`
    over the same shingle arrays the dedup family uses. Documents
    shorter than k words degenerate to one whole-text shingle (ratio 0).
    """
    sh = shingles(text, k)
    n = F.size(sh)
    return (
        F.when(n > 0, 1.0 - F.size(F.array_distinct(sh)) / n)
        .otherwise(F.lit(0.0))
        .cast("double")
    )


# The Gopher/MassiveText "required word" sublist (Rae et al. 2021,
# §A1.1.2): a document must contain at least 2 of these to pass the
# stop-word rule. Distinct from _EN_STOPWORDS (the language-ID list).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.80,
    max_symbol_word_ratio: float = 0.10,
    min_stopword_hits: int = 2,
) -> Column:
    """Per-document Gopher-rule violation flags as a struct<boolean×5>.

    The MassiveText quality-filter rule set (Rae et al. 2021, "Scaling
    Language Models", §A1.1.2 — published thresholds are the defaults
    here): word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio (# / ellipsis) ≤ 0.1, ≥ 80 % of words contain
    an alphabetic character, and ≥ 2 of a small required-stop-word
    list. Each rule is its own flag so a corpus audit can report
    per-rule failure counts, not just a pass/fail bit — the breakdown
    is what you tune thresholds against before a 100 TB filter run.

    All five flags are built-in array/regexp expressions over one
    tokenization — single scan, whole-stage codegen, no Python.
    Degenerate docs (zero tokens OR NULL text) fail the word-count,
    mean-length, alpha and stop-word rules and pass the symbol rule,
    matching a filter that drops empty docs for being too short rather
    than NULL-ing out. NULL must be coalesced HERE, not left to the
    expressions: size(tokens(NULL)) is -1 (legacy sizeOfNull), which
    would silently satisfy `n < min_words` while every `n > 0` guard
    falls through — a NULL-text doc would count as a word-count/
    stop-word failure with n = -1 semantics instead of the documented
    empty-doc semantics.
    """
    text = F.coalesce(text, F.lit(""))
    toks = tokens(text)
    n = F.size(toks)
    nd = n.cast("double")
    mwl = mean_word_length(text)
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.filter(tokens(F.lower(text)), lambda t: t.isin(*GOPHER_STOPWORDS))
    )
    symbols = F.coalesce(
        F.regexp_count(text, F.lit(r"[#\x{2026}]")), F.lit(0)
    )
    return F.struct(
        ((n < F.lit(min_words)) | (n > F.lit(max_words))).alias("fail_word_count"),
        (
            (n == 0)
            | (mwl < F.lit(min_mean_word_len))
            | (mwl > F.lit(max_mean_word_len))
        ).alias("fail_mean_word_len"),
        F.when(n > 0, alpha_words.cast("double") / nd < F.lit(min_alpha_word_ratio))
        .otherwise(F.lit(True))
        .alias("fail_alpha_words"),
        F.when(n > 0, symbols.cast("double") / nd > F.lit(max_symbol_word_ratio))
        .otherwise(F.lit(False))
        .alias("fail_symbol_ratio"),
        (stop_hits < F.lit(min_stopword_hits)).alias("fail_stopwords"),
    )
