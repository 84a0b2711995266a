"""Text-analysis column functions for the LLM-data-pipeline surface.

All native expressions (split/regexp/aggregate) — these run inside
whole-stage codegen over billions of documents; a Python UDF here would be
the single slowest thing in a 100 TB pipeline.

Mirrored DuckDB SQL for each function lives next to it so the oracle can't
drift from the Spark expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# whitespace tokenization; trim first so no leading/trailing empty tokens
def tokens(text: Column | str) -> Column:
    """array<string> of whitespace-separated tokens (empty array for blank/null)."""
    t = F.trim(F.coalesce(_c(text), F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


TOKEN_COUNT_ORACLE_SQL = (
    "CASE WHEN trim(COALESCE({col}, '')) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
)


def avg_token_length(text: Column | str) -> Column:
    """Mean token length in characters, 0.0 for empty docs."""
    tk = tokens(text)
    n = F.size(tk)
    total = F.aggregate(tk, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


AVG_TOKEN_LENGTH_ORACLE_SQL = (
    "CASE WHEN trim(COALESCE({col}, '')) = '' THEN 0.0 "
    "ELSE CAST(list_sum(list_transform(regexp_split_to_array(trim({col}), '\\s+'), t -> len(t))) AS DOUBLE)"
    "     / len(regexp_split_to_array(trim({col}), '\\s+')) END"
)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation (.,!?;:'\"()-), 0.0 for empty."""
    t = F.coalesce(_c(text), F.lit(""))
    n = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[^.,!?;:'\"()\-]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


PUNCT_RATIO_ORACLE_SQL = (
    "CASE WHEN len(COALESCE({col}, '')) > 0 "
    "THEN CAST(len(regexp_replace({col}, '[^.,!?;:''\"()\\-]', '', 'g')) AS DOUBLE) / len({col}) "
    "ELSE 0.0 END"
)

#: tiny English stopword list used by the n-gram-heuristic language id and
#: the stopword-ratio quality feature. Deliberately small + fixed: the point
#: is a deterministic, vectorizable heuristic, not linguistic accuracy.
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are EN stopwords (lowercased exact match)."""
    tk = tokens(text)
    n = F.size(tk)
    sw = F.size(F.filter(tk, lambda x: F.lower(x).isin(*EN_STOPWORDS)))
    return F.when(n > 0, sw.cast("double") / n).otherwise(F.lit(0.0))


def _sw_list_sql() -> str:
    return "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


STOPWORD_RATIO_ORACLE_SQL = (
    "CASE WHEN trim(COALESCE({col}, '')) = '' THEN 0.0 "
    "ELSE CAST(len(list_filter(regexp_split_to_array(trim({col}), '\\s+'), "
    f"t -> list_contains({_sw_list_sql()}, lower(t)))) AS DOUBLE) "
    "/ len(regexp_split_to_array(trim({col}), '\\s+')) END"
)


def language_id(text: Column | str) -> Column:
    """Heuristic language id: 'en' if >= 3% of tokens are EN stopwords and the
    text is ASCII-dominant; 'unknown' otherwise. (The reference never does
    language id; this is the LLM-pipeline extension — a real deployment swaps
    in fastText via a pandas UDF, same column contract.)"""
    ratio = stopword_ratio(text)
    ascii_ok = _c(text).rlike(r"^[\x00-\x7F]*$")
    return F.when((ratio >= 0.03) & ascii_ok, "en").otherwise("unknown")


LANGUAGE_ID_ORACLE_SQL = (
    "CASE WHEN ({sw_ratio}) >= 0.03 AND regexp_matches(COALESCE({col}, ''), '^[\\x00-\\x7F]*$') "
    "THEN 'en' ELSE 'unknown' END"
)


def quality_score(text: Column | str) -> Column:
    """Document quality in [0, 1]: rewards mid-length docs, light punctuation,
    and a natural stopword rate. quality = length_term * (1 - min(punct, .5))
    * (0.5 + min(stopword_ratio, 0.5)); length_term = min(n_tokens/100, 1)."""
    n = token_count(text).cast("double")
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    p = F.least(punct_ratio(text), F.lit(0.5))
    s = F.least(stopword_ratio(text), F.lit(0.5))
    return length_term * (F.lit(1.0) - p) * (F.lit(0.5) + s)


def doc_fingerprint_md5(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text. Stable across engines (md5 is md5 everywhere) — the
    exact-dedup key at any scale."""
    # collapse ALL whitespace runs to single spaces BEFORE trimming: trim()
    # strips only the space character, so a leading tab/newline would
    # otherwise survive as a leading space and split dedup groups
    # (hypothesis-found on adversarial scraped-text shapes)
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(_c(text), F.lit("")), r"\s+", " ")))
    return F.md5(norm)


DOC_FINGERPRINT_ORACLE_SQL = (
    "md5(lower(trim(regexp_replace(COALESCE({col}, ''), '\\s+', ' ', 'g'))))"
)


def chunk_bounds(n_tokens: Column, chunk_tokens: int, overlap: int) -> Column:
    """array of chunk start indices (0-based) covering n_tokens tokens with
    fixed-size overlapping windows: starts at 0, step = chunk - overlap;
    n_chunks = ceil((n - overlap) / step), min 1 for non-empty docs."""
    step = chunk_tokens - overlap
    n_chunks = F.greatest(
        F.lit(1), ((n_tokens - overlap + step - 1) / step).cast("long")
    )
    return F.transform(F.sequence(F.lit(0), n_chunks - 1), lambda i: i * step)


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 256,
    overlap: int = 32,
):
    """Split documents into fixed-token overlapping chunks — the unit every
    LLM training/embedding pipeline feeds downstream (context windows are
    bounded; overlap keeps boundary sentences attested in two chunks).

    Fully native: tokenize once, posexplode the start-index array, slice
    the token array per chunk, re-join with spaces. One generator, no UDF;
    the chunk fan-out is columnar so a 100 TB corpus chunks in one scan.
    Empty docs emit no chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    tok = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), tok.alias("_tok"), F.size(tok).cast("long").alias("_n")
    ).filter(F.col("_n") > 0)
    starts = chunk_bounds(F.col("_n"), chunk_tokens, overlap)
    chunk = F.slice(F.col("_tok"), F.col("_start").cast("int") + 1, chunk_tokens)
    return (
        base.select(
            id_col, "_tok", F.posexplode(starts).alias("chunk_idx", "_start")
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).cast("long").alias("chunk_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction — regex masking of emails / NANP phones / dotted-quad IPv4.
# Patterns are written to the COMMON subset of Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs — so one pattern string drives both
# the engine expression and the oracle. Redaction is pure regexp_replace:
# whole-stage codegen, no UDF, embarrassingly parallel at any corpus size.
# ---------------------------------------------------------------------------

#: applied in this order; counts are taken per-pattern on the ORIGINAL text
#: (the three patterns are mutually non-overlapping by construction: '@' is
#: in no phone/ip match, phones are dash-separated, IPs dot-separated).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def redact_pii(text: Column | str) -> Column:
    """Mask every PII match with its [TYPE] token, empty-safe."""
    out = F.coalesce(_c(text), F.lit(""))
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{kind.upper()}]")
    return out


def pii_count(text: Column | str, kind: str) -> Column:
    """Number of matches of one PII pattern in the original text."""
    return F.regexp_count(F.coalesce(_c(text), F.lit("")), F.lit(PII_PATTERNS[kind])).cast(
        "long"
    )


def pii_redact_oracle_sql(col: str) -> str:
    """DuckDB rendering of redact_pii over `col` (a function, not a .format
    template — the regexes contain literal braces)."""
    out = f"COALESCE({col}, '')"
    for kind, pat in PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{pat}', '[{kind.upper()}]', 'g')"
    return out
PII_COUNT_ORACLE_SQL = "CAST(len(regexp_extract_all(COALESCE({col}, ''), '{pat}')) AS BIGINT)"


# ---------------------------------------------------------------------------
# Repetition-based quality signals (Gopher-style; Rae et al. 2021 §A1.1):
# excessive within-document repetition is the strongest cheap predictor of
# boilerplate/spam in web corpora. All-native array exprs — the per-doc cost
# is bounded by document length, which the pipeline already caps upstream
# (chunking / n_tokens filters), so no UDF and no shuffle.
# ---------------------------------------------------------------------------


def dup_ratio_of(arr: Column) -> Column:
    """1 - distinct/total over any array (0.0 for empty)."""
    n = F.size(arr)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / n
    ).otherwise(F.lit(0.0))


DUP_TOKEN_RATIO_ORACLE_SQL = (
    "CASE WHEN trim(COALESCE({col}, '')) = '' THEN 0.0 ELSE "
    "1.0 - CAST(len(list_distinct(regexp_split_to_array(trim({col}), '\\s+'))) AS DOUBLE)"
    " / len(regexp_split_to_array(trim({col}), '\\s+')) END"
)


def top_ratio_of(arr: Column) -> Column:
    """Fraction of elements taken by the most frequent element (0.0 for
    empty). O(distinct x total) per doc — fine for length-capped docs; the
    mirrored oracle keeps the same formulation."""
    n = F.size(arr)
    top = F.array_max(
        F.transform(F.array_distinct(arr), lambda d: F.size(F.filter(arr, lambda t: t == d)))
    )
    return F.when(n > 0, top.cast("double") / n).otherwise(F.lit(0.0))


TOP_TOKEN_RATIO_ORACLE_SQL = (
    "CASE WHEN trim(COALESCE({col}, '')) = '' THEN 0.0 ELSE "
    "CAST(list_max(list_transform(list_distinct(regexp_split_to_array(trim({col}), '\\s+')), "
    "d -> len(list_filter(regexp_split_to_array(trim({col}), '\\s+'), t -> t = d)))) AS DOUBLE)"
    " / len(regexp_split_to_array(trim({col}), '\\s+')) END"
)


def bigrams_of(arr: Column) -> Column:
    """array<string> of adjacent bigrams ('a b'), empty if < 2 elements."""
    n = F.size(arr)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(arr, F.lit(1), n - 1),
            F.slice(arr, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


#: DuckDB bigrams over pre-split token array {tok}
BIGRAMS_ORACLE_SQL = (
    "CASE WHEN len({tok}) >= 2 THEN "
    "list_transform(range(1, len({tok})), i -> {tok}[i] || ' ' || {tok}[i + 1]) "
    "ELSE [] END"
)


#: Gopher-style keep thresholds (tuned loose; the query exposes the raw
#: signals so downstream can re-threshold without recomputing).
GOPHER_MAX_DUP_TOKEN = 0.60
GOPHER_MAX_TOP_TOKEN = 0.20
GOPHER_MAX_DUP_BIGRAM = 0.60
GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 5, 100_000


def gopher_keep(
    n_tokens: Column | str,
    dup_token: Column | str,
    top_token: Column | str,
    dup_bigram: Column | str,
) -> Column:
    """1 if the doc passes all repetition/length filters, else 0, over its
    signal columns: token count, dup_ratio_of(tokens), top_ratio_of(tokens)
    and dup_ratio_of(bigrams_of(tokens))."""
    n = _c(n_tokens)
    return (
        (n >= GOPHER_MIN_TOKENS)
        & (n <= GOPHER_MAX_TOKENS)
        & (_c(dup_token) <= GOPHER_MAX_DUP_TOKEN)
        & (_c(top_token) <= GOPHER_MAX_TOP_TOKEN)
        & (_c(dup_bigram) <= GOPHER_MAX_DUP_BIGRAM)
    ).cast("int")


#: DuckDB rendering of the same chunking (for oracle SQL): {chunk}/{overlap}
#: are int literals, {col}/{id} column names. Kept adjacent so the two
#: formulations can't drift silently.
CHUNK_ORACLE_SQL = """
WITH tokd AS (
  SELECT {id} AS doc_id,
         regexp_split_to_array(trim({col}), '\\s+') AS tok,
         len(regexp_split_to_array(trim({col}), '\\s+')) AS n
  FROM {table} WHERE trim(COALESCE({col}, '')) != ''
),
idx AS (
  SELECT doc_id, tok,
         unnest(range(0, CAST(GREATEST(1, (n - {overlap} + {step} - 1) // {step}) AS BIGINT))) AS chunk_idx
  FROM tokd
)
SELECT doc_id, chunk_idx,
       array_to_string(tok[chunk_idx * {step} + 1 : chunk_idx * {step} + {chunk}], ' ') AS chunk_text,
       CAST(len(tok[chunk_idx * {step} + 1 : chunk_idx * {step} + {chunk}]) AS BIGINT) AS chunk_tokens
FROM idx
""".strip()
