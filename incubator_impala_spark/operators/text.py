"""Text-analysis operators for large-scale corpus pipelines.

Net-new capability beyond the reference (SURVEY.md §7 M6): language-ID
(stopword heuristic), quality scoring, token counting, document
fingerprinting. All pure Column expressions — JVM-side, inside
whole-stage codegen, zero Python in the hot path — so they run
unchanged over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_impala_spark.operators.dedup import _par

# Small per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "dans", "un", "une", "pour"],
    "es": ["el", "la", "los", "y", "es", "en", "un", "una", "por", "que"],
}

PUNCT_CLASS = "[.,!?;:]"


def tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col))


# BPE-style pre-tokenization classes: letter runs, single digits,
# punctuation singletons — the shape GPT-2-family pre-tokenizers cut
# before merges, so the count tracks subword token counts far better
# than whitespace does (digits and punctuation each count alone).
# Plain character classes only, so the regex behaves identically in
# Java (Spark) and RE2 (DuckDB).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def subword_token_count(col: str = "text") -> Column:
    """Estimated subword ("BPE-ish") token count via pre-tokenizer
    regex classes — the budget number training pipelines size corpora
    with (whitespace counts undercount code/numeric text badly)."""
    return F.size(F.expr(f"regexp_extract_all({col}, '{BPE_ISH_PATTERN}', 0)"))


def punct_ratio(col: str = "text") -> Column:
    """Punctuation chars / total chars (0 when empty)."""
    n_punct = F.length(F.col(col)) - F.length(
        F.regexp_replace(F.col(col), PUNCT_CLASS, "")
    )
    return n_punct / F.greatest(F.length(F.col(col)), F.lit(1))


def stopword_count(col: str = "text", lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t)))


def stopword_ratio(col: str = "text", lang: str = "en") -> Column:
    return stopword_count(col, lang) / F.greatest(token_count(col), F.lit(1))


def avg_word_len(col: str = "text") -> Column:
    no_space = F.length(F.regexp_replace(F.col(col), " ", ""))
    return no_space / F.greatest(token_count(col), F.lit(1))


def quality_score(col: str = "text") -> Column:
    """Composite [0,1]-ish quality heuristic: prefer mid-length docs
    with low punctuation noise and a natural stopword rate."""
    length_score = F.least(F.length(F.col(col)) / F.lit(500.0), F.lit(1.0))
    punct_penalty = punct_ratio(col) * 2.0
    stop_sc = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return F.greatest(
        F.least(
            length_score * 0.4 + stop_sc * 0.4 + (1.0 - punct_penalty) * 0.2,
            F.lit(1.0),
        ),
        F.lit(0.0),
    )


def fingerprint(col: str = "text") -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    token multiset (the classic "fingerprint" dedup key — catches
    word-order shuffles that exact hashing misses)."""
    return F.md5(F.concat_ws(" ", F.sort_array(tokens(col))))


WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-gram hashes per selection window


def winnow_fingerprints(df: DataFrame, col: str = "text",
                        id_col: str = "doc_id", k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the rolling-hash fingerprint standard): hash every
    token k-gram, slide a window of w hashes, keep each window's
    minimum. Guarantees any shared run of k+w-1 tokens between two
    docs yields at least one shared fingerprint — the partial-overlap
    detector that whole-document hashing can't provide.

    One row per (doc_id, fp). Pure Column expressions — tokenize once,
    k-gram hashes via transform+slice, window minima via
    transform+array_min; hashes are md5-prefix hex strings so the
    window minimum (lexicographic) is portable to any engine with md5.
    Scale: per-row compute only (no joins); pair the output with an
    equi-join on fp for overlap candidates.
    """
    n_min = k + w - 1
    toks = F.split(F.col(col), " ")
    base = df.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= n_min
    ).repartition(_par(df), F.col(id_col))
    kgrams = F.expr(
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> substr(md5(concat_ws(' ', slice(_toks, i, {k}))), 1, 8))"
    )
    hashed = base.select(id_col, kgrams.alias("_hs"))
    mins = F.expr(
        f"transform(sequence(1, size(_hs) - {w - 1}), "
        f"j -> array_min(slice(_hs, j, {w})))"
    )
    # array_distinct makes (doc_id, fp) unique already — no extra shuffle
    return hashed.select(id_col, F.explode(F.array_distinct(mins)).alias("fp"))


def with_text_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Attach the standard feature bundle to a document DataFrame."""
    return (
        df.withColumn("n_tokens", token_count(col))
        .withColumn("punct_ratio", punct_ratio(col))
        .withColumn("stopword_ratio", stopword_ratio(col))
        .withColumn("avg_word_len", avg_word_len(col))
        .withColumn("quality", quality_score(col))
        .withColumn("fingerprint", fingerprint(col))
    )


def chunk_documents(df: DataFrame, chunk_tokens: int = 50,
                    overlap: int = 10, col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token windows — the training/
    RAG preparation op (fixed-size chunks, `overlap` tokens of context
    carried between neighbors). Pure Column expressions: tokenize once,
    slice windows with array functions inside codegen; one row per
    chunk with its position and token count.

    Scale: map-side only (explode multiplies rows by ~n_tokens/stride);
    no shuffle until a downstream operator asks for one."""
    stride = chunk_tokens - overlap
    starts = (
        f"sequence(1, greatest(size(_toks) - {overlap}, 1), {stride})"
    )
    return (
        df.select(F.col(id_col), F.split(F.col(col), " ").alias("_toks"))
        .select(
            id_col,
            F.posexplode(F.expr(starts)).alias("chunk_idx", "start"),
            F.col("_toks"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("start"), chunk_tokens)
            ).alias("chunk_text"),
            F.least(
                F.size("_toks") - F.col("start") + 1, F.lit(chunk_tokens)
            ).cast("int").alias("n_tokens"),
        )
    )
