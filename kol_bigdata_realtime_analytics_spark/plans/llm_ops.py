"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal — the north-star extensions (BASELINE.json), run on the
`documents` and `embeddings` TESTDATA tables.

Oracle-checked where DuckDB can express the op (exact dedup, Jaccard,
cosine, text metrics, fingerprints). MinHash-LSH / SimHash run the one
hash family of each in operators/dedup (hash52/md5 + literal LCG lanes),
so their oracles re-derive the full candidate sets.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf signature resolution

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark import artifacts
from kol_bigdata_realtime_analytics_spark.functions.text import (
    AVG_TOKEN_LENGTH_ORACLE_SQL,
    CHUNK_ORACLE_SQL,
    DOC_FINGERPRINT_ORACLE_SQL,
    PUNCT_RATIO_ORACLE_SQL,
    STOPWORD_RATIO_ORACLE_SQL,
    TOKEN_COUNT_ORACLE_SQL,
    avg_token_length,
    chunk_documents,
    doc_fingerprint_md5,
    language_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokens,
    token_count,
)
from kol_bigdata_realtime_analytics_spark.operators.dedup import (
    BANDS,
    DEFAULT_MAX_BUCKET,
    HASH52_MOD,
    NUM_HASHES,
    SHINGLE_N,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    SIMHASH_MAX_HAMMING,
    _cc_round,
    exact_dedup_fingerprints,
    jaccard_pairs,
    minhash_banded,
    minhash_lane_params,
    minhash_lsh_candidates,
    simhash_neardup_pairs,
)
from kol_bigdata_realtime_analytics_spark.operators.multimodal import (
    decode_features,
    with_binary_payload,
)
from kol_bigdata_realtime_analytics_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_topk,
    rank_topk,
)
from kol_bigdata_realtime_analytics_spark.plans.registry import register, table

# ---------------------------------------------------------------------------
# Exact dedup — fingerprint + group (hash-groupBy; 1 shuffle of 32-byte keys)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    SELECT {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(normalized text)."""
    return exact_dedup_fingerprints(table(spark, sf_dir, "documents"), "text", "doc_id")


_SURVIVOR_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         md5(lower(array_to_string(
           (regexp_split_to_array(trim(COALESCE(text, '')), '\\s+'))[1:20], ' ')))
           AS prefix_fp,
         CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS DOUBLE) AS n_tok,
         {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS pr,
         {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sr
  FROM documents
),
scored AS (
  SELECT doc_id, prefix_fp,
         floor(LEAST(n_tok / 100.0, 1.0) * (1.0 - LEAST(pr, 0.5))
               * (0.5 + LEAST(sr, 0.5)) * 1000000) / 1000000 AS q
  FROM m
),
ranked AS (
  SELECT prefix_fp, doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY prefix_fp ORDER BY q DESC, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY prefix_fp) AS BIGINT) AS n_members
  FROM scored
)
SELECT prefix_fp, CAST(doc_id AS BIGINT) AS keep_id, n_members, q AS best_quality
FROM ranked WHERE rn = 1 AND n_members >= 2
""".strip()


@register("dedup_survivors_by_quality", oracle=_SURVIVOR_ORACLE)
def dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship POLICY dedup: within each shared-lead group (md5 of the
    first 20 tokens — syndicated articles and templated boilerplate share
    their lead and diverge in the tail), keep the HIGHEST-QUALITY member,
    not the lowest id. The policy knob real pipelines turn: min-id keeps
    whichever copy scraped first; quality-argmax keeps the best version.

    One shuffle on the 128-bit prefix fingerprint (uniform keys), then a
    per-group row_number — the same W1 latest-per-key shape, ordered by the
    cross-engine-stable truncated quality with doc_id as the total-order
    tie-break."""
    from pyspark.sql.window import Window

    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 20))
    base = docs.select(
        "doc_id",
        F.md5(F.lower(prefix)).alias("prefix_fp"),
        trunc6(quality_score("text")).alias("q"),
    )
    wg = Window.partitionBy("prefix_fp")
    wr = wg.orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        base.select(
            "prefix_fp",
            "doc_id",
            "q",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wg).alias("n_members"),
        )
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "prefix_fp",
            F.col("doc_id").alias("keep_id"),
            "n_members",
            F.col("q").alias("best_quality"),
        )
    )


# ---------------------------------------------------------------------------
# Exact n-gram (token-set) Jaccard within (lang, source) blocks
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source,
             list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE trim(COALESCE(text, '')) != ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard
    FROM base a JOIN base b ON a.lang = b.lang AND a.source = b.source
    WHERE a.doc_id < b.doc_id
      AND ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tok, b.tok))), 6) >= 0.5
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact token-set Jaccard >= 0.5 within (lang, source):
    a complete AllPairs/PPJoin prefix-filter join (corpus-linear candidate
    generation, PERF.md §2.1e), verified exact — identical to the oracle's
    all-pairs form."""
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.coalesce("text", F.lit(""))) != "")
    return jaccard_pairs(docs, "text", "doc_id", ["lang", "source"], threshold=0.5)


# ---------------------------------------------------------------------------
# Document chunking — fixed-token overlapping windows (the unit an LLM
# training/embedding pipeline feeds downstream). Native generator, no UDF.
# ---------------------------------------------------------------------------


@register(
    "document_chunks",
    oracle=CHUNK_ORACLE_SQL.format(
        table="documents", col="text", id="doc_id", chunk=64, overlap=16, step=48
    ),
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks with 16-token overlap over every document: tokenize
    once, posexplode computed start indices, slice per chunk — columnar
    fan-out in one scan, boundary text attested in two chunks."""
    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=16)


# ---------------------------------------------------------------------------
# Duplicate clusters — transitive closure over verified near-dup pairs.
# Spark: iterative min-label propagation; oracle: recursive CTE. Closes the
# dedup pipeline: candidates -> verified pairs -> clusters -> canonical keep.
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = """
WITH RECURSIVE base AS (
  SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
pair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM base a JOIN base b ON a.lang = b.lang AND a.source = b.source
  WHERE a.doc_id < b.doc_id
    AND ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tok, b.tok))), 6) >= 0.5
),
edge AS (
  SELECT id_a AS src, id_b AS dst FROM pair
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pair
),
comp(node, lab) AS (
  SELECT doc_id, doc_id FROM base
  UNION
  SELECT e.dst, c.lab FROM comp c JOIN edge e ON e.src = c.node
),
final AS (SELECT node, MIN(lab) AS cluster_id FROM comp GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM final GROUP BY cluster_id)
SELECT f.node AS doc_id, f.cluster_id, s.cluster_size,
       CAST(f.node = f.cluster_id AS INTEGER) AS is_canonical
FROM final f JOIN sizes s ON f.cluster_id = s.cluster_id
"""


# Pointer-doubling convergence certificate (r9 verdict ask #5): the CC
# loop inside duplicate_clusters terminates on a (label-sum, row-count)
# no-op probe — correct, but engine-internal. This puts the whole decay
# trajectory under the driver hash. Measured first no-op round: 3 at
# sf0.001 (changed 338/34/0), 4 at sf0.01 (351/44/1/0) and sf0.1
# (4476/715/12/0) — the O(log diameter) pointer-doubling shape. Budget 6
# = converged + >= 2 slack rounds at every sf.
_CC_FIX_ROUNDS = 6

_CC_EDGE_SQL = """
base AS (
  SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
pair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM base a JOIN base b ON a.lang = b.lang AND a.source = b.source
  WHERE a.doc_id < b.doc_id
    AND ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tok, b.tok))), 6) >= 0.5
),
edge AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pair
  UNION ALL SELECT id_b, id_a FROM pair
)"""


def _cc_fixpoint_oracle() -> str:
    rounds = "".join(
        f""",
p{r} AS (SELECT node, MIN(label) AS label FROM (
   SELECT node, label FROM l{r - 1}
   UNION ALL
   SELECT e.dst AS node, x.label FROM edge e JOIN l{r - 1} x ON x.node = e.src
 ) t GROUP BY node),
l{r} AS MATERIALIZED (
  SELECT p.node, LEAST(p.label, COALESCE(q.label, p.label)) AS label
  FROM p{r} p LEFT JOIN l{r - 1} q ON q.node = p.label
)"""
        for r in range(1, _CC_FIX_ROUNDS + 1)
    )
    rows = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM l{r} a JOIN l{r - 1} b"
        f"  ON a.node = b.node AND a.label <> b.label) AS n_changed"
        for r in range(1, _CC_FIX_ROUNDS + 1)
    )
    return f"""
    WITH {_CC_EDGE_SQL.lstrip()},
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edge){rounds}
    SELECT round, n_changed, n_changed = 0 AS converged FROM (
      {rows}
    ) t
    """


@register("dedup_clusters_fixpoint_check", oracle=_cc_fixpoint_oracle())
def dedup_clusters_fixpoint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence certificate for dedup_clusters' pointer-doubling
    min-label propagation: run the operator's own round function
    (operators/dedup._cc_round, which its distributed loop calls) 6 rounds
    (= _CC_FIX_ROUNDS) over the same Jaccard>=0.5 edge set and emit each
    round's changed-label count — the first n_changed = 0 row, under the
    driver hash, proves the operator's internal (sum, count) termination
    probe fires strictly inside the budget, and the 338 -> 34 -> 0 decay
    shape IS the O(log diameter) doubling signature. The oracle unrolls
    the identical round algebra (min over own/neighbor labels, then the
    label-of-label shortcut jump), so every intermediate label table is
    hash-exact.

    Scale shape: rounds run over edge-touched nodes only (the operator's
    singleton bypass), one equi-join + groupBy-min + shortcut join per
    round — narrow long-pair shuffles; the changed-count probe is an
    id-keyed anti-equality join riding each round's checkpoint."""
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    edges = jaccard_pairs(docs, "text", "doc_id", ["lang", "source"], threshold=0.5)
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    out = None
    for r in range(1, _CC_FIX_ROUNDS + 1):
        nxt = _cc_round(sym, labels).localCheckpoint(eager=True)
        chg = (
            nxt.join(
                labels.select(
                    F.col("node").alias("p_node"), F.col("label").alias("p_label")
                ),
                (nxt["node"] == F.col("p_node")) & (nxt["label"] != F.col("p_label")),
            )
            .agg(F.count("*").cast("long").alias("n_changed"))
            .select(
                F.lit(r).cast("long").alias("round"),
                "n_changed",
                (F.col("n_changed") == 0).alias("converged"),
            )
        )
        out = chg if out is None else out.unionByName(chg)
        labels = nxt
    return out


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over Jaccard>=0.5 edges: connected components by
    iterative min-label propagation (transitive closure — the safe dedup
    unit, since near-dup is not transitive) + canonical-doc choice.
    The oracle recomputes the same closure with a recursive CTE."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import duplicate_clusters

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    edges = jaccard_pairs(docs, "text", "doc_id", ["lang", "source"], threshold=0.5)
    return duplicate_clusters(docs, edges)


# ---------------------------------------------------------------------------
# PII redaction — pure regexp_replace/regexp_count (codegen, no UDF). The
# documents corpus is synthetic word soup with no PII, so the query derives a
# realistic contact-card text from `customer` IN BOTH ENGINES and redacts
# that: matches must be found, masked, and counted identically.
# ---------------------------------------------------------------------------

_PII_ORACLE = f"""
WITH contact AS (
  SELECT c_custkey,
         'reach ' || c_name || ' at '
         || CASE WHEN c_custkey % 3 != 0
                 THEN '555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                 ELSE 'n/a' END
         || ' or ' || lower(replace(c_name, '#', '.')) || '@example.com'
         || CASE WHEN c_custkey % 2 = 0
                 THEN ' from ' || CAST(c_custkey % 223 + 1 AS VARCHAR)
                      || '.' || CAST(c_custkey % 251 AS VARCHAR)
                      || '.' || CAST(c_custkey % 241 AS VARCHAR)
                      || '.' || CAST(c_custkey % 239 AS VARCHAR)
                 ELSE '' END AS txt
  FROM customer
)
SELECT c_custkey,
       {{redact}} AS redacted,
       {{n_email}} AS n_email,
       {{n_phone}} AS n_phone,
       {{n_ipv4}} AS n_ipv4
FROM contact
"""


def _contact_card() -> F.Column:
    key = F.col("c_custkey")
    phone = F.when(
        key % 3 != 0,
        F.concat(
            F.lit("555-"),
            F.lpad((key % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((key % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit("n/a"))
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")), F.lit("@example.com")
    )
    ip = F.when(
        key % 2 == 0,
        F.concat(
            F.lit(" from "),
            (key % 223 + 1).cast("string"),
            F.lit("."),
            (key % 251).cast("string"),
            F.lit("."),
            (key % 241).cast("string"),
            F.lit("."),
            (key % 239).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("reach "), F.col("c_name"), F.lit(" at "), phone, F.lit(" or "), email, ip
    )


def _pii_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        PII_COUNT_ORACLE_SQL,
        PII_PATTERNS,
        pii_redact_oracle_sql,
    )

    return _PII_ORACLE.format(
        redact=pii_redact_oracle_sql("txt"),
        n_email=PII_COUNT_ORACLE_SQL.format(col="txt", pat=PII_PATTERNS["email"]),
        n_phone=PII_COUNT_ORACLE_SQL.format(col="txt", pat=PII_PATTERNS["phone"]),
        n_ipv4=PII_COUNT_ORACLE_SQL.format(col="txt", pat=PII_PATTERNS["ipv4"]),
    )


@register("pii_redaction", oracle=_pii_oracle())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask emails / phones / IPv4s with [TYPE] tokens and count each kind
    per row — one projection, whole-stage codegen, no shuffle."""
    from kol_bigdata_realtime_analytics_spark.functions.text import pii_count, redact_pii

    cust = table(spark, sf_dir, "customer")
    txt = _contact_card()
    return cust.select(
        "c_custkey",
        redact_pii(txt).alias("redacted"),
        pii_count(txt, "email").alias("n_email"),
        pii_count(txt, "phone").alias("n_phone"),
        pii_count(txt, "ipv4").alias("n_ipv4"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021 §A1.1) — within-document
# repetition signals + keep decision, all native array exprs over one scan.
# ---------------------------------------------------------------------------


def _gopher_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        BIGRAMS_ORACLE_SQL,
        DUP_TOKEN_RATIO_ORACLE_SQL,
        GOPHER_MAX_DUP_BIGRAM,
        GOPHER_MAX_DUP_TOKEN,
        GOPHER_MAX_TOP_TOKEN,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_TOKENS,
        TOP_TOKEN_RATIO_ORACLE_SQL,
    )

    bg = BIGRAMS_ORACLE_SQL.format(tok="tok")
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN trim(COALESCE(text, '')) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(len(tok) AS BIGINT) AS n_tokens,
             {DUP_TOKEN_RATIO_ORACLE_SQL.format(col="text")} AS dup_tok,
             {TOP_TOKEN_RATIO_ORACLE_SQL.format(col="text")} AS top_tok,
             CASE WHEN len({bg}) > 0
                  THEN 1.0 - CAST(len(list_distinct({bg})) AS DOUBLE) / len({bg})
                  ELSE 0.0 END AS dup_bg
      FROM base
    )
    SELECT doc_id, n_tokens,
           floor(dup_tok * 1000000) / 1000000 AS dup_token_ratio,
           floor(top_tok * 1000000) / 1000000 AS top_token_ratio,
           floor(dup_bg * 1000000) / 1000000 AS dup_bigram_ratio,
           CAST(n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
                AND dup_tok <= {GOPHER_MAX_DUP_TOKEN}
                AND top_tok <= {GOPHER_MAX_TOP_TOKEN}
                AND dup_bg <= {GOPHER_MAX_DUP_BIGRAM} AS INTEGER) AS keep
    FROM sig
    """


@register("gopher_repetition_filters", oracle=_gopher_oracle())
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition signals (dup-token / top-token / dup-bigram
    ratios) + the keep decision — one scan, zero shuffles, raw signals
    exposed so thresholds can change without recompute. Tokenizes ONCE into
    an array column; every signal reads the array (the naive per-signal
    re-tokenize was 5x this cost)."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        bigrams_of,
        dup_ratio_of,
        gopher_keep,
        tokens,
        top_ratio_of,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens("text").alias("_tok"))
    tok = F.col("_tok")
    sig = tokd.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        dup_ratio_of(tok).alias("_dt"),
        top_ratio_of(tok).alias("_tt"),
        dup_ratio_of(bigrams_of(tok)).alias("_db"),
    )
    keep = gopher_keep("n_tokens", "_dt", "_tt", "_db")
    return sig.select(
        "doc_id",
        "n_tokens",
        trunc6(F.col("_dt")).alias("dup_token_ratio"),
        trunc6(F.col("_tt")).alias("top_token_ratio"),
        trunc6(F.col("_db")).alias("dup_bigram_ratio"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — 8-gram shingle overlap between the training
# corpus and a held-out eval slice (doc_id % 13 == 0 stands in for the
# benchmark suite). The check every corpus must pass before training.
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
sh AS (
  SELECT doc_id,
         md5(array_to_string(tok[i + 1 : i + 4], ' ')) AS h
  FROM tokd, unnest(range(0, GREATEST(len(tok) - 3, 0))) AS t(i)
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 13 = 0),
train AS (SELECT DISTINCT doc_id, h FROM sh WHERE doc_id % 13 != 0)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM train t JOIN bench b ON t.h = b.h
GROUP BY t.doc_id
""".strip()


@register("decontaminate_overlap", oracle=_DECONTAM_ORACLE)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by n-gram overlap with the eval slice
    (doc_id % 13 == 0): broadcast the deduped benchmark shingles, count
    distinct shared shingles per training doc. Real pipelines use 8-13-gram
    shingles; this query uses 4-grams because the synthetic corpus is
    order-shuffled word soup with few longer shared runs — the plan shape
    is identical at any n."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import contamination_overlap

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    train = docs.filter(F.col("doc_id") % 13 != 0)
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return contamination_overlap(train, bench, "text", "doc_id", shingle_n=4)


# ---------------------------------------------------------------------------
# Embedding int8 scalar quantization — the memory side of a 100 TB ANN
# index: 4x smaller vectors, quantized in the scan projection (no UDF).
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = """
WITH scaled AS (
  SELECT vec_id,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale,
         embedding
  FROM embeddings
),
coded AS (
  SELECT vec_id, scale,
         CASE WHEN scale > 0
              THEN list_transform(embedding, x -> CAST(round(x / scale) AS INTEGER))
              ELSE list_transform(embedding, x -> 0) END AS codes,
         embedding
  FROM scaled
)
SELECT vec_id, scale,
       CAST(to_json(codes) AS VARCHAR) AS codes,
       floor((CASE WHEN len(embedding) > 0
             THEN list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> (CAST(embedding[i] AS DOUBLE) - codes[i] * scale)
                       * (CAST(embedding[i] AS DOUBLE) - codes[i] * scale)),
                  (acc, v) -> acc + v)
                  / len(embedding)
             ELSE 0.0 END * 1000000.0) * 1000000) / 1000000 AS mse_micro
FROM coded
""".strip()


@register("embedding_quantize_int8", oracle=_QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column with
    reconstruction MSE — codes/scale/error all from one scan projection."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        dequantize_mse,
        quantize_int8,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")
    scale, codes = quantize_int8(F.col("embedding"))
    out = emb.select("vec_id", scale.alias("scale"), codes.alias("codes"), "embedding")
    # codes emitted as JSON text: raw array<int> columns break the driver's
    # pandas-based hash canonicalization (unhashable list) — scalar rule.
    return out.select(
        "vec_id",
        "scale",
        F.to_json(F.col("codes")).alias("codes"),
        trunc6(
            dequantize_mse(F.col("embedding"), F.col("scale"), F.col("codes")) * 1000000.0
        ).alias("mse_micro"),
    )


# ---------------------------------------------------------------------------
# Incremental ingestion dedup — a NEW batch against the standing corpus
# fingerprint index (no full-corpus recompute). doc_id % 10 == 9 stands in
# for the arriving batch.
# ---------------------------------------------------------------------------

_INCREMENTAL_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fingerprint
  FROM documents WHERE doc_id % 10 != 9
),
batch AS (
  SELECT MIN(doc_id) AS doc_id,
         {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fingerprint
  FROM documents WHERE doc_id % 10 = 9
  GROUP BY 2
)
SELECT b.doc_id, b.fingerprint
FROM batch b LEFT JOIN corpus c ON b.fingerprint = c.fingerprint
WHERE c.fingerprint IS NULL
""".strip()


@register("incremental_dedup_new_docs", oracle=_INCREMENTAL_ORACLE)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of an arriving batch: first-in-batch per fingerprint, then
    anti-join against the standing corpus index. This is the steady-state
    ingestion path — daily batches dedup against the index (a shuffle join
    on 32-byte fingerprints; bucket the index by fingerprint at write time
    and the batch side alone shuffles), never re-scanning the corpus."""
    docs = table(spark, sf_dir, "documents")
    fp = doc_fingerprint_md5(F.col("text"))
    corpus = docs.filter(F.col("doc_id") % 10 != 9).select(fp.alias("fingerprint"))
    batch = (
        docs.filter(F.col("doc_id") % 10 == 9)
        .select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(corpus, "fingerprint", "left_anti").select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Corpus snapshot diff — the incremental-update primitive: which docs were
# added, removed, or content-changed between two corpus versions. Old/new
# snapshots are deterministic slices of `documents` (doc_id % 5 picks
# membership; doc_id % 7 docs get a simulated revision) so the whole diff
# sits under the oracle.
# ---------------------------------------------------------------------------

_SNAPSHOT_FP = DOC_FINGERPRINT_ORACLE_SQL.format(col="text")
_SNAPSHOT_FP_NEW = DOC_FINGERPRINT_ORACLE_SQL.format(
    col="CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END"
)

_SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  SELECT doc_id, {_SNAPSHOT_FP} AS old_fp FROM documents WHERE doc_id % 5 != 4
),
new AS (
  SELECT doc_id, {_SNAPSHOT_FP_NEW} AS new_fp FROM documents WHERE doc_id % 5 != 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.old_fp != n.new_fp THEN 'changed' END AS change,
       o.old_fp, n.new_fp
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.old_fp != n.new_fp)
""".strip()


@register("corpus_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Added/removed/changed docs between two corpus snapshots, compared by
    content fingerprint (not raw bytes — formatting-only edits don't count).

    Scale shape: fingerprints compute in each snapshot's scan projection
    (text never leaves the scan), then ONE full-outer shuffle join on the
    doc_id long; unchanged rows — the overwhelming majority of a daily
    snapshot pair — are dropped before any downstream consumer. Snapshots
    bucketed by doc_id at write time make the join exchange-free."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id", doc_fingerprint_md5(F.col("text")).alias("old_fp")
    )
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", doc_fingerprint_md5(revised).alias("new_fp")
    )
    j = old.join(new, "doc_id", "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
    )
    return j.select("doc_id", change.alias("change"), "old_fp", "new_fp").filter(
        F.col("change").isNotNull()
    )


# ---------------------------------------------------------------------------
# Changelog round-trip — changelog_from_snapshots is merge_changelog's
# inverse: merge(old, changelog(old, new)) must REBUILD the new snapshot
# exactly. The oracle is the new snapshot itself (plus the action each row
# took), so the driver hash certifies both operators end-to-end, not just
# their row counts. Same deterministic snapshot slices as
# corpus_snapshot_diff above.
# ---------------------------------------------------------------------------

_MERGE_ROUNDTRIP_ORACLE = f"""
WITH old AS (
  SELECT doc_id, {_SNAPSHOT_FP} AS fp FROM documents WHERE doc_id % 5 != 4
),
new AS (
  SELECT doc_id, {_SNAPSHOT_FP_NEW} AS fp FROM documents WHERE doc_id % 5 != 0
)
SELECT n.doc_id, n.fp,
       CASE WHEN o.doc_id IS NULL THEN 'insert'
            WHEN o.fp <> n.fp THEN 'update'
            ELSE 'carry' END AS merge_action
FROM new n LEFT JOIN old o ON n.doc_id = o.doc_id
""".strip()


@register("merge_roundtrip_check", oracle=_MERGE_ROUNDTRIP_ORACLE)
def merge_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the old->new changelog, MERGE it onto the old snapshot, and
    return the rebuilt table — hash-equal to the new snapshot by the oracle.

    Scale shape: the changelog derives from ONE full-outer join on doc_id
    (fingerprints computed in the scan projection, text never shuffles) and
    is bounded by the day's churn, so the merge broadcasts it; the standing
    snapshot streams through the merge without shuffling
    (operators/merge.py)."""
    from kol_bigdata_realtime_analytics_spark.operators.merge import (
        changelog_from_snapshots,
        merge_changelog,
    )

    docs = table(spark, sf_dir, "documents")
    fp = doc_fingerprint_md5(F.col("text"))
    revised_fp = doc_fingerprint_md5(
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
            F.col("text")
        )
    )
    old = docs.filter(F.col("doc_id") % 5 != 4).select("doc_id", fp.alias("fp"))
    new = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", revised_fp.alias("fp"))
    # churn-bounded frame consumed by THREE merge branches (matched join,
    # matched-key subset, insert anti-join) — pin it or each branch
    # re-executes the snapshot full-outer join (8 scans -> 4 in the plan)
    changelog = changelog_from_snapshots(old, new, "doc_id", F.col("fp")).localCheckpoint(
        eager=True
    )
    return merge_changelog(old, changelog, "doc_id")


# ---------------------------------------------------------------------------
# Corpus mix planner — per-source sampling rates to hit a token budget with
# an equal-share target mix. The control knob a training-data pipeline turns
# before materializing a corpus snapshot.
# ---------------------------------------------------------------------------

_MIX_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({TOKEN_COUNT_ORACLE_SQL.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT *,
         SUM(n_tokens) OVER () AS total_tokens,
         COUNT(*) OVER () AS n_sources
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       ROUND(LEAST(1.0, (CAST(total_tokens AS DOUBLE) * 0.5 / n_sources) / n_tokens), 6)
         AS sampling_rate,
       CAST(floor(LEAST(1.0, (CAST(total_tokens AS DOUBLE) * 0.5 / n_sources) / n_tokens) * n_tokens)
           AS BIGINT) AS expected_tokens
FROM tot
""".strip()


@register("corpus_mix_plan", oracle=_MIX_ORACLE)
def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling rate for a 50%-of-corpus token budget split
    equally across sources (rate capped at 1 — undersized sources keep
    everything). One agg to per-source totals, then unpartitioned window
    over the handful of source rows."""
    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    tot = per_src.select(
        "*",
        F.sum("n_tokens").over(w).alias("_total"),
        F.count("*").over(w).alias("_nsrc"),
    )
    rate = F.least(
        F.lit(1.0), (F.lit(0.5) * F.col("_total") / F.col("_nsrc")) / F.col("n_tokens")
    )
    return tot.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(rate, 6).alias("sampling_rate"),
        F.floor(rate * F.col("n_tokens")).cast("long").alias("expected_tokens"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH + SimHash (operators/dedup: hash52/md5 base hashes, literal
# LCG lanes), so the DuckDB oracle re-derives the ENTIRE candidate set
# bit-for-bit: the knn_graph_build literal-plane discipline applied to the
# text-dedup family (r9 verdict ask #2). Mirrors reference MinHash/SimHash
# dedup semantics (SURVEY §2).
# ---------------------------------------------------------------------------


def _minhash_band_ctes(suffix: str = "", where: str = "") -> str:
    """CTE chain toks{s} .. banded{s}: dedup.minhash_banded in DuckDB SQL,
    suffix-parameterized so one oracle can band two document subsets (the
    incremental-dedup index/batch split)."""
    from kol_bigdata_realtime_analytics_spark.plans.registry import sql_hash52

    s = suffix
    rows_per_band = NUM_HASHES // BANDS
    lanes = minhash_lane_params(NUM_HASHES)
    lane_sql = ",\n         ".join(
        f"MIN(({a} * hs + {b}) % {HASH52_MOD}) AS l{i}"
        for i, (a, b) in enumerate(lanes)
    )
    band_sel = "\n    UNION ALL\n    ".join(
        "SELECT doc, {b} AS band, {h} AS bucket FROM sig{s}".format(
            b=b,
            s=s,
            h=sql_hash52(
                "concat_ws('|', "
                + ", ".join(
                    f"CAST(l{i} AS VARCHAR)"
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                )
                + ")"
            ),
        )
        for b in range(BANDS)
    )
    # one alias per shingle token (a, b, c, ...), the i-th one i positions on
    aliases = [chr(ord("a") + j) for j in range(SHINGLE_N)]
    shingle = "concat_ws('|', " + ", ".join(f"CAST({x}.h AS VARCHAR)" for x in aliases) + ")"
    joins = "".join(
        f"\n  JOIN th{s} {x} ON {x}.doc = a.doc AND {x}.i = a.i + {j}"
        for j, x in enumerate(aliases)
        if j
    )
    return f"""toks{s} AS (
  SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''{where}
),
tok{s} AS (SELECT doc, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM toks{s}),
th{s} AS MATERIALIZED (SELECT doc, i, {sql_hash52('t')} AS h FROM tok{s}),
sh{s} AS (
  SELECT a.doc,
         {sql_hash52(shingle)} AS hs
  FROM th{s} a{joins}
),
sig{s} AS (
  SELECT doc,
         {lane_sql}
  FROM sh{s} GROUP BY doc
),
banded{s} AS MATERIALIZED (
    {band_sel}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_band_ctes()},
bc AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket
  HAVING COUNT(*) > 1 AND COUNT(*) <= {DEFAULT_MAX_BUCKET}
)
SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
FROM banded a
JOIN banded b ON b.band = a.band AND b.bucket = a.bucket AND a.doc < b.doc
JOIN bc ON bc.band = a.band AND bc.bucket = a.bucket
"""


@register("minhash_lsh_candidates", oracle=_minhash_oracle())
def minhash_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup candidate pairs, HASH-certified: base
    hashes are hash52 (md5 prefix — identical in both engines), the 32
    signature lanes are literal-LCG universal hashes (a_i*h + b_i) mod
    2^52, and band buckets re-hash the lane values — so the DuckDB oracle
    re-derives the full candidate set value-for-value (8 bands x 4 rows,
    in-bucket pairs, DEFAULT_MAX_BUCKET guard). Each lane is 3 integer
    ops, so the scan stays whole-stage-codegen'd end to end;
    minhash_estimate_check certifies the same 32 lanes against exact
    shingle Jaccard."""
    return minhash_lsh_candidates(table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Incremental cross-run dedup (r9 verdict ask #8): dedup a NEW batch
# against an EXISTING corpus's persisted fingerprint index — exact md5
# fingerprints + MinHash band buckets — without rescanning the
# corpus per batch. The production shape continuous ingest needs: the
# index frames here are exactly what a real pipeline persists beside the
# corpus (the ann_index_delta_append frozen-index pattern applied to
# dedup); each new batch probes them with batch-sized work only.
# Survivorship priority is (corpus first, then batch id) — the existing
# corpus always wins, which is precisely full-corpus dedup under that
# priority restricted to the batch (pinned in pytest).
# ---------------------------------------------------------------------------


def _dedup_incremental_oracle() -> str:
    fp = DOC_FINGERPRINT_ORACLE_SQL.format(col="text")
    return f"""
WITH {_minhash_band_ctes('c', ' AND doc_id % 10 <> 0')},
{_minhash_band_ctes('b', ' AND doc_id % 10 = 0')},
cfp AS (
  SELECT DISTINCT {fp} AS fp FROM documents
  WHERE trim(COALESCE(text, '')) != '' AND doc_id % 10 <> 0
),
bfp AS (
  SELECT doc_id, {fp} AS fp FROM documents
  WHERE trim(COALESCE(text, '')) != '' AND doc_id % 10 = 0
),
bmin AS (SELECT fp, MIN(doc_id) AS mid FROM bfp GROUP BY fp),
ec AS (SELECT DISTINCT b.doc_id FROM bfp b JOIN cfp c ON c.fp = b.fp),
eb AS (
  SELECT b.doc_id FROM bfp b JOIN bmin m ON m.fp = b.fp AND b.doc_id > m.mid
),
cbk AS (SELECT DISTINCT band, bucket FROM bandedc),
fcb AS (
  SELECT DISTINCT bb.doc FROM bandedb bb
  JOIN cbk ON cbk.band = bb.band AND cbk.bucket = bb.bucket
),
fbb AS (
  SELECT DISTINCT a.doc FROM bandedb a
  JOIN bandedb b2 ON b2.band = a.band AND b2.bucket = a.bucket
                 AND b2.doc < a.doc
)
SELECT b.doc_id,
       ec.doc_id IS NOT NULL AS exact_dup_corpus,
       eb.doc_id IS NOT NULL AS exact_dup_batch,
       fcb.doc IS NOT NULL AS fuzzy_dup_corpus,
       fbb.doc IS NOT NULL AS fuzzy_dup_batch,
       ec.doc_id IS NULL AND eb.doc_id IS NULL
         AND fcb.doc IS NULL AND fbb.doc IS NULL AS survives
FROM bfp b
LEFT JOIN ec ON ec.doc_id = b.doc_id
LEFT JOIN eb ON eb.doc_id = b.doc_id
LEFT JOIN fcb ON fcb.doc = b.doc_id
LEFT JOIN fbb ON fbb.doc = b.doc_id
"""


@register("dedup_incremental_batch", oracle=_dedup_incremental_oracle())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup against a frozen corpus index: the batch
    (doc_id % 10 = 0) probes the corpus's persisted artifacts — distinct
    exact fingerprints + distinct MinHash band buckets — plus
    its own earlier-id rows, and emits the full per-doc decision vector
    (exact/fuzzy x corpus/batch) with the survivor flag, all under the
    driver hash. The corpus text is scanned once to BUILD the index (in
    production that build is amortized across every future batch and the
    index is read back from parquet); each batch run's probe work is
    batch-sized: two id-keyed left joins against the fingerprint set and
    two (band, bucket)-keyed joins against the bucket set.

    Survivorship = full-corpus dedup under (corpus, then batch-id)
    priority, restricted to the batch — the incremental answer equals
    the batch slice of a from-scratch run (pinned in pytest), which is
    the property that lets continuous ingest dedup without quadratic
    re-scans."""
    return _dedup_incremental_core(spark, sf_dir, None, None)


def _dedup_corpus_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The corpus's persistable dedup-index artifacts: (distinct exact md5
    fingerprints, distinct MinHash band buckets). One corpus pass
    each — shared by dedup_incremental_batch (in-plan build) and
    operators/index_store.persist_index_artifacts (parquet write)."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        doc_fingerprint_md5,
    )

    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.trim(F.coalesce("text", F.lit(""))) != "")
        .filter(F.col("doc_id") % 10 != 0)
    )
    cfp = (
        corpus.select(doc_fingerprint_md5(F.col("text")).alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cbk = (
        minhash_banded(corpus, "text", "doc_id")
        .select("band", "bucket")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return cfp, cbk


def _dedup_incremental_core(
    spark: SparkSession,
    sf_dir: str,
    cfp: DataFrame | None,
    cbk: DataFrame | None,
) -> DataFrame:
    """dedup_incremental_batch's probe path against explicit corpus-index
    artifacts: `cfp` (distinct fp) and `cbk` (distinct band, bucket).
    None (the registered query) builds them from the corpus scan;
    index_persistence_roundtrip_check feeds the SAME frames LOADED from
    the persisted parquet artifacts, certifying the stored index drives
    identical batch decisions."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        doc_fingerprint_md5,
    )

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # persisted-index artifacts (one corpus pass each, amortized in prod)
    if cfp is None or cbk is None:
        bcfp, bcbk = _dedup_corpus_index(spark, sf_dir)
        cfp = bcfp if cfp is None else cfp
        cbk = bcbk if cbk is None else cbk
    # pinned: bfp feeds FOUR consumers (bmin, the corpus semi-join, the
    # within-batch filter join, and the final decision-vector spine) —
    # unpinned, each re-ran the batch parquet scan + md5 fingerprint
    # (4 scans in the r12 before-plan dump). Batch-sized rows of
    # (doc_id, 32-char fp) — the materialization is the probe frame a
    # production batch run holds anyway (r12 opt, guide §6 scan reuse)
    bfp = batch.select(
        "doc_id", doc_fingerprint_md5(F.col("text")).alias("fp")
    ).localCheckpoint(eager=True)
    bband = minhash_banded(batch, "text", "doc_id").localCheckpoint(
        eager=True
    )  # feeds the corpus probe AND the within-batch self-join
    bmin = bfp.groupBy("fp").agg(F.min("doc_id").alias("mid"))
    ec = bfp.join(cfp, "fp", "left_semi").select("doc_id").distinct()
    eb = (
        bfp.join(bmin, "fp")
        .filter(F.col("doc_id") > F.col("mid"))
        .select("doc_id")
    )
    fcb = (
        bband.join(cbk, ["band", "bucket"], "left_semi")
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )
    fbb = (
        bband.alias("a")
        .join(
            bband.alias("b"),
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.bucket") == F.col("a.bucket"))
            & (F.col("b.doc") < F.col("a.doc")),
            "left_semi",
        )
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )

    def flag(sub: DataFrame, name: str) -> DataFrame:
        return sub.withColumn(name, F.lit(True))

    out = (
        bfp.select("doc_id")
        .join(flag(ec, "exact_dup_corpus"), "doc_id", "left")
        .join(flag(eb, "exact_dup_batch"), "doc_id", "left")
        .join(flag(fcb, "fuzzy_dup_corpus"), "doc_id", "left")
        .join(flag(fbb, "fuzzy_dup_batch"), "doc_id", "left")
    )
    cols = [
        "exact_dup_corpus",
        "exact_dup_batch",
        "fuzzy_dup_corpus",
        "fuzzy_dup_batch",
    ]
    sel = [F.coalesce(F.col(c), F.lit(False)).alias(c) for c in cols]
    surv = ~(
        F.coalesce(F.col(cols[0]), F.lit(False))
        | F.coalesce(F.col(cols[1]), F.lit(False))
        | F.coalesce(F.col(cols[2]), F.lit(False))
        | F.coalesce(F.col(cols[3]), F.lit(False))
    )
    return out.select("doc_id", *sel, surv.alias("survives"))


def _simhash_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.plans.registry import sql_hash52

    width = SIMHASH_BITS // SIMHASH_CHUNKS
    csums = ",\n         ".join(
        f"SUM((h >> {i}) & 1) AS c{i}" for i in range(SIMHASH_BITS)
    )
    packed = "\n         + ".join(
        f"(CASE WHEN c{i} * 2 > n THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    chunk_ids = ", ".join(f"({c})" for c in range(SIMHASH_CHUNKS))
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tok AS (SELECT doc, unnest(ts) AS t FROM toks),
th AS (SELECT doc, {sql_hash52('t')} AS h FROM tok),
votes AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n,
         {csums}
  FROM th GROUP BY doc
),
sig AS (
  SELECT doc,
         CAST({packed} AS BIGINT) AS sim
  FROM votes
),
banded AS MATERIALIZED (
  SELECT doc, sim, ci.chunk_idx, (sim >> ({width} * ci.chunk_idx)) & {(1 << width) - 1} AS chunk
  FROM sig, (VALUES {chunk_ids}) ci(chunk_idx)
),
bc AS (
  SELECT chunk_idx, chunk FROM banded GROUP BY chunk_idx, chunk
  HAVING COUNT(*) > 1 AND COUNT(*) <= {DEFAULT_MAX_BUCKET}
)
SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM banded a
JOIN banded b ON b.chunk_idx = a.chunk_idx AND b.chunk = a.chunk AND a.doc < b.doc
JOIN bc ON bc.chunk_idx = a.chunk_idx AND bc.chunk = a.chunk
WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_MAX_HAMMING}
"""


@register("simhash_neardups", oracle=_simhash_oracle())
def simhash_neardups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3), HASH-certified: 52-bit
    signatures from hash52 token hashes (md5 prefix — identical in both
    engines) with per-bit majority votes, banded as 4 x 13-bit chunks
    (pigeonhole: <= 3 differing bits => some chunk matches exactly). The
    DuckDB oracle recomputes votes, signatures, banding, the hot-bucket
    guard, and bit_count hamming — the full pair set is value-hashed.
    Engine side is the packed-lane vote build (13 longs of aggregation
    state, codegen'd); simhash_recall_check certifies its banding against
    brute-force Hamming over the same signatures."""
    return simhash_neardup_pairs(table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Text-analysis profile — all native exprs, mirrored in the oracle
# ---------------------------------------------------------------------------

_BPE_RE = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"


@register(
    "text_profile",
    oracle=f"""
    SELECT doc_id,
           {TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS n_tokens,
           CAST(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
           floor(({AVG_TOKEN_LENGTH_ORACLE_SQL.format(col="text")}) * 1000000) / 1000000 AS avg_token_len,
           floor(({PUNCT_RATIO_ORACLE_SQL.format(col="text")}) * 1000000) / 1000000 AS punct_ratio,
           floor(({STOPWORD_RATIO_ORACLE_SQL.format(col="text")}) * 1000000) / 1000000 AS stopword_ratio,
           CASE WHEN ({STOPWORD_RATIO_ORACLE_SQL.format(col="text")}) >= 0.03
                     AND regexp_matches(COALESCE(text, ''), '^[\\x00-\\x7F]*$')
                THEN 'en' ELSE 'unknown' END AS lang_pred,
           lang AS lang_actual
    FROM documents
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text metrics: token counts, BPE-ish tokens, punct/stopword ratios, lang id."""
    docs = table(spark, sf_dir, "documents")
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.regexp_count(F.coalesce(F.col("text"), F.lit("")), F.lit(_BPE_RE)).cast("long").alias("n_bpe_tokens"),
        trunc6(avg_token_length("text")).alias("avg_token_len"),
        trunc6(punct_ratio("text")).alias("punct_ratio"),
        trunc6(stopword_ratio("text")).alias("stopword_ratio"),
        language_id("text").alias("lang_pred"),
        F.col("lang").alias("lang_actual"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistics diagnostics (r10): Zipf rank-frequency fit and
# per-language tokenizer fertility — the two summary numbers a corpus
# health dashboard leads with (a Zipf slope far from -1 flags synthetic /
# boilerplate-dominated text; fertility quantifies how many BPE-ish
# pieces the tokenizer spends per word, the SentencePiece efficiency
# metric that drives per-language token budgets).
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tf AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
),
hist AS MATERIALIZED (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_terms FROM tf GROUP BY c
),
above AS (
  SELECT h.c, CAST(COALESCE(SUM(g.n_terms), 0) AS BIGINT) AS n_above
  FROM hist h LEFT JOIN hist g ON g.c > h.c GROUP BY h.c
),
ranked AS (
  SELECT tf.c,
         a.n_above
           + ROW_NUMBER() OVER (PARTITION BY tf.c ORDER BY tf.t ASC) AS r
  FROM tf JOIN above a ON a.c = tf.c
),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
  FROM pts
)
SELECT n AS n_terms,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000) / 1000000
         AS zipf_slope_t6,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 1000000) / 1000000 AS intercept_t6,
       floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             * 1000000) / 1000000 AS r2_t6
FROM s
""".strip()


@register("zipf_law_fit", oracle=_ZIPF_ORACLE)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the whole-corpus term distribution:
    least-squares slope/intercept/r^2 of ln(freq) on ln(rank). Ranks are
    derived WITHOUT a global single-partition window: terms with a higher
    frequency are counted from the (freq -> n_terms) HISTOGRAM (a tiny
    range self-join over distinct frequency VALUES), and ties order by
    term within a freq-PARTITIONED window — every step stays parallel at
    any vocabulary size (the pps_systematic_sample discipline applied to
    ranking). Regression sums run per-term ln doubles through
    DECIMAL(28,12) (order-proof); outputs trunc6.

    Scale shape: one tokenize pass + one term aggregation (the vocab
    shuffle), a histogram two orders smaller than the vocab, and a 6-sum
    single-row reduce. The slope is the corpus-health headline: natural
    text sits near -1 (this synthetic word-soup corpus fits ~-0.3 with
    low r^2 — exactly what the diagnostic is supposed to expose)."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # feeds the histogram AND the rank join
    )
    hist = tf.groupBy("c").agg(F.count("*").alias("n_terms")).localCheckpoint(
        eager=True
    )  # tiny: distinct frequency values
    above = (
        hist.select(F.col("c").alias("hc"))
        .join(
            hist.select(F.col("c").alias("gc"), F.col("n_terms").alias("gn")),
            F.col("gc") > F.col("hc"),
            "left",
        )
        .groupBy(F.col("hc").alias("c"))
        .agg(F.coalesce(F.sum("gn"), F.lit(0)).alias("n_above"))
    )
    wt = Window.partitionBy("c").orderBy(F.col("t").asc())
    ranked = (
        tf.join(F.broadcast(above), "c")
        .select("c", (F.col("n_above") + F.row_number().over(wt)).alias("r"))
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    dsum = lambda col: F.sum(col.cast("decimal(28,12)")).cast("double")  # noqa: E731
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        trunc6(slope).alias("zipf_slope_t6"),
        trunc6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept_t6"
        ),
        trunc6(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2_t6"),
    )


_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({TOKEN_COUNT_ORACLE_SQL.format(col='text')}) AS BIGINT)
         AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_RE}')))
         AS BIGINT) AS bpe_tokens,
       CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS chars,
       floor(CAST(SUM(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_RE}')))
                  AS DOUBLE)
             / SUM({TOKEN_COUNT_ORACLE_SQL.format(col='text')})
             * 1000000) / 1000000 AS fertility_t6,
       floor(CAST(SUM(length(COALESCE(text, ''))) AS DOUBLE)
             / SUM(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_RE}')))
             * 1000000) / 1000000 AS chars_per_token_t6
FROM documents WHERE trim(COALESCE(text, '')) != ''
GROUP BY lang
""".strip()


@register("tokenizer_fertility_stats", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: BPE-ish pieces per whitespace
    word and characters per piece — the SentencePiece efficiency metrics
    that set per-language token budgets (a language whose fertility runs
    2x another's pays 2x the context length for the same words). Exact
    integer sums (counts only — division is the single float op,
    trunc6'd); one scan, one lang-keyed rollup."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    per = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("ws_tokens"),
        F.sum(
            F.regexp_count(F.coalesce(F.col("text"), F.lit("")), F.lit(_BPE_RE))
        )
        .cast("long")
        .alias("bpe_tokens"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "chars",
        trunc6(F.col("bpe_tokens").cast("double") / F.col("ws_tokens")).alias(
            "fertility_t6"
        ),
        trunc6(F.col("chars").cast("double") / F.col("bpe_tokens")).alias(
            "chars_per_token_t6"
        ),
    )


@register(
    "quality_scores",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS DOUBLE) AS n_tokens,
             {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS pr,
             {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sr
      FROM documents
    )
    SELECT doc_id,
           floor(LEAST(n_tokens / 100.0, 1.0)
                 * (1.0 - LEAST(pr, 0.5))
                 * (0.5 + LEAST(sr, 0.5)) * 1000000) / 1000000 AS quality
    FROM m
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score in [0, 1]."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", trunc6(quality_score("text")).alias("quality"))


_TOKEN_BUDGET_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS DOUBLE) AS n_tok,
         {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS pr,
         {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sr
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         floor(LEAST(n_tok / 100.0, 1.0) * (1.0 - LEAST(pr, 0.5))
               * (0.5 + LEAST(sr, 0.5)) * 1000000) / 1000000 AS q
  FROM m
),
bucketed AS (
  SELECT CAST(LEAST(floor(q * 10), 9) AS BIGINT) AS quality_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM scored GROUP BY 1
)
SELECT quality_bucket, n_docs, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY quality_bucket DESC) AS BIGINT)
         AS cum_tokens_at_or_above
FROM bucketed
""".strip()


@register("token_budget_curve", oracle=_TOKEN_BUDGET_ORACLE)
def token_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-vs-quality-threshold curve: tokens available at or above
    each quality decile — the sweep behind every "filter at quality >= X"
    data-mixing decision.

    Scale shape deliberately NOT ntile: a rank-decile needs a global sort of
    the corpus; value-bucketing (floor(q*10)) is embarrassingly parallel —
    one narrow groupBy to <= 10 rows, then the cumulative window runs over
    those 10 rows only. Bucket edges use the trunc6'd score (hash-verified
    identical cross-engine in `quality_scores`), so no boundary flapping."""
    from pyspark.sql.window import Window

    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        token_count("text").alias("n_tokens"),
        trunc6(quality_score("text")).alias("q"),
    )
    bucketed = scored.groupBy(
        F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("long").alias("quality_bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    w = Window.orderBy(F.desc("quality_bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bucketed.select(
        "quality_bucket",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens_at_or_above"),
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id, {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable md5 content fingerprint per document."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint_md5("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
    scored AS (
      SELECT q.q_id, c.c_id,
             ROUND(list_dot_product(q.q_vec, c.c_vec)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.c_vec, c.c_vec))),
                   6) AS cosine
      FROM c, q WHERE c.c_id != q.q_id
    )
    SELECT q_id, c_id, cosine, rank FROM (
      SELECT q_id, c_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors (vec_id < 5) — ANN baseline."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=3)


def _ann_lsh_topk_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    per_table = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, vec, {t} AS t, "
        + lsh_bucket_sql("vec", dim=64, n_planes=4, seed=42 + 1000 * t)
        + " AS b FROM base0"
        for t in range(8)
    )
    return f"""
    WITH base0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    tb AS MATERIALIZED (
    {per_table}
    ),
    scored AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id,
             ROUND(list_dot_product(q.vec, c.vec)
                   / (sqrt(list_dot_product(q.vec, q.vec))
                      * sqrt(list_dot_product(c.vec, c.vec))), 6) AS cosine
      FROM tb c JOIN tb q ON q.t = c.t AND q.b = c.b
      WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
    )
    SELECT q_id, c_id, cosine, rank FROM (
      SELECT q_id, c_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@register("ann_lsh_topk", oracle=_ann_lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: multi-table LSH bucket join instead of the full scan.

    HASH-certified since r10: all 8 tables' planes are literal LCG
    constants (seed 42 + 1000t), and the Arrow-batched bucket udf now
    projects via a sequential over-dims fold — bit-identical to DuckDB's
    list_dot_product — so the oracle re-derives every (table, bucket)
    pair and the full approximate top-3. pytest additionally bounds
    recall@3 against brute_force_topk on the same inputs."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # loose buckets (4 bits x 8 tables): TESTDATA embeddings are near-random
    # (top-3 cosine ~0.3), so tighter buckets would kill recall; with real
    # clustered embeddings raise n_planes for a smaller scanned fraction
    return lsh_topk(emb, queries, dim=64, n_planes=4, n_tables=8)


@register(
    "embedding_neardup_pairs",
    oracle="""
    WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.vec, b.vec)
                 / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
                 6) AS cosine
    FROM base a JOIN base b ON a.label = b.label
    WHERE a.vec_id < b.vec_id
      AND ROUND(list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
                6) >= 0.35
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups: exact cosine >= threshold within label blocks.

    BASELINE shape (PERF.md §4): label cardinality is fixed, so blocks grow
    with the corpus and the within-block pair join is quadratic — measured
    14.3x wall at 4x volume. The scale path is `embedding_neardup_lsh`
    below (hyperplane-bucket blocking, planes grown ~log2(corpus)).
    Threshold 0.35 rather than a production 0.9+: the synthetic TESTDATA
    vectors are near-random (pairwise cosine ~N(0, 1/sqrt(64))), so 0.95
    matches ZERO pairs at every sf and the oracle check would be vacuous;
    0.35 keeps 26/391 real pairs at sf0.01/0.1 under the driver hash."""
    return cosine_neardup_pairs(table(spark, sf_dir, "embeddings"), block_col="label", threshold=0.35)


def _lsh_neardup_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=4, seed=42)
    return f"""
    WITH base0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    base AS (SELECT vec_id, vec, {bucket} AS bkt FROM base0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.vec, b.vec)
                 / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
                 6) AS cosine
    FROM base a JOIN base b ON a.bkt = b.bkt
    WHERE a.vec_id < b.vec_id
      AND ROUND(list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
                6) >= 0.35
    """


@register("embedding_neardup_lsh", oracle=_lsh_neardup_oracle())
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups, SCALE shape: candidates blocked by a 4-plane
    hyperplane LSH bucket instead of the fixed-cardinality label, verified
    with the exact cosine. Bucket count grows with n_planes (chosen
    ~log2(corpus) in production), so the within-bucket pair join stays
    bounded where the label-blocked baseline is quadratic. HASH-EXACT
    oracle: the planes are literal constants from the same seeded LCG, and
    DuckDB re-derives the buckets with `lsh_bucket_sql` — both engines fold
    the plane dot left-to-right, so the >= 0 sign test and therefore the
    bucket ids agree bit-for-bit. Recall vs the exact baseline is the
    documented LSH tradeoff (bounded in pytest on the ANN side)."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import lsh_neardup_pairs

    return lsh_neardup_pairs(
        table(spark, sf_dir, "embeddings"), dim=64, n_planes=4, threshold=0.35
    )


# ---------------------------------------------------------------------------
# Multimodal: binary payload + Arrow-batched decode stub (mapInPandas)
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 16 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> mapInPandas decode stub -> typed feature columns.

    codec pinned to "stub": this oracle encodes the stub arithmetic over
    text payloads; installing Pillow must not flip it (decode_features
    defaults to codec="auto" for real users)."""
    docs = table(spark, sf_dir, "documents")
    return decode_features(with_binary_payload(docs, "text", "doc_id"), codec="stub")


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(LEAST(octet_length(encode(text)), 512) AS BIGINT) AS out_len,
           CAST(64 AS BIGINT) AS width,
           CAST(64 AS BIGINT) AS height
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> mapInPandas resize stub (64x64 -> 512-byte budget).

    The pandas stage byte-slices the real payload (object-dtype bytes in
    Arrow batches); the oracle checks the resulting lengths."""
    from kol_bigdata_realtime_analytics_spark.operators.multimodal import resize_images

    docs = table(spark, sf_dir, "documents")
    return resize_images(with_binary_payload(docs, "text", "doc_id"), codec="stub")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             octet_length(encode(text)) % 16 AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(n // nf AS BIGINT) AS frame_len
    FROM b, unnest(range(0, nf, 4)) AS t(f)
    WHERE nf > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> every-4th-frame sampling (1-to-many mapInPandas).

    One video row fans out to one row per sampled frame — the UDTF shape a
    real frame extractor needs; frame counts/lengths are the decoder's
    deterministic fakes so the fan-out itself is oracle-checked."""
    from kol_bigdata_realtime_analytics_spark.operators.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(docs, "text", "doc_id"), codec="stub")


@register(
    "multimodal_embed",
    oracle="""
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 1,  2) AS INTEGER) AS DOUBLE) / 255.0 AS e0,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 3,  2) AS INTEGER) AS DOUBLE) / 255.0 AS e1,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 5,  2) AS INTEGER) AS DOUBLE) / 255.0 AS e2,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 7,  2) AS INTEGER) AS DOUBLE) / 255.0 AS e3,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 9,  2) AS INTEGER) AS DOUBLE) / 255.0 AS e4,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 11, 2) AS INTEGER) AS DOUBLE) / 255.0 AS e5,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 13, 2) AS INTEGER) AS DOUBLE) / 255.0 AS e6,
           CAST(CAST('0x' || substr(md5(COALESCE(text, '')), 15, 2) AS INTEGER) AS DOUBLE) / 255.0 AS e7
    FROM documents
    """,
)
def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> Arrow-batched feature extraction -> embedding cols.

    The md5-derived pseudo-embedding makes the ENTIRE Python crossing
    bit-checkable in SQL (int/255.0 is exact in both engines) — the bridge
    from multimodal payloads into the similarity-search operators."""
    from kol_bigdata_realtime_analytics_spark.operators.multimodal import embed_payload

    docs = table(spark, sf_dir, "documents")
    return embed_payload(with_binary_payload(docs, "text", "doc_id"))


# ---------------------------------------------------------------------------
# TF-IDF — the text-pipeline staple on top of term/document frequencies
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM terms WHERE term <> '' GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000) / 1000000 AS tfidf,
           rnk
    FROM (
      SELECT t.doc_id, t.term, t.tf, d.df, n.n_docs,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) DESC, t.term ASC
             ) AS BIGINT) AS rnk
      FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
      WHERE t.doc_id < 20
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (docs 0-19; idf = ln(N/df)).

    Document frequency and N come from the WHOLE corpus; the doc_id filter
    prunes only the tf branch, so the per-doc window is tiny while the idf
    table stays corpus-accurate. The df side aggregates to one row per
    distinct term (small) and broadcasts; at 100 TB this is the canonical
    two-pass text-statistics shape — no driver collect, one wide shuffle per
    aggregate, window partitioned by doc. tf*idf is bit-identical across
    engines (integer tf/df/N -> same double ops), trunc6 on output.
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    terms = docs.select("doc_id", F.explode(F.split(norm, " ")).alias("term")).filter(
        F.col("term") != ""
    )
    tf = (
        terms.filter(F.col("doc_id") < 20)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tfidf = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", trunc6(tfidf).alias("tfidf"), "rnk")
    )


# ---------------------------------------------------------------------------
# The composed training-data prep pipeline — quality filter -> language
# filter -> exact dedup -> deterministic split, in ONE declarative plan.
# ---------------------------------------------------------------------------

#: the deterministic 14:1:1 train/dev/test split — first md5 nibble of the
#: id: 'f' test, 'e' dev, else train. ONE definition (Spark expr + oracle
#: fragment) feeding every split-dependent query, so the audited split
#: (split_leakage_check) can never diverge from the shipped one
#: (training_corpus_prep) — same divergence fence as c4_signal_columns.
SPLIT_ORACLE_SQL = (
    "CASE WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 1) = 'f' THEN 'test' "
    "WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 1) = 'e' THEN 'dev' "
    "ELSE 'train' END"
)


def split_expr(id_col):
    nib = F.substring(F.md5(id_col.cast("string")), 1, 1)
    return F.when(nib == "f", "test").when(nib == "e", "dev").otherwise("train")


@register(
    "training_corpus_prep",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS DOUBLE) AS n_tokens,
             {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS pr,
             {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sr,
             regexp_matches(COALESCE(text, ''), '^[\\x00-\\x7F]*$') AS is_ascii,
             {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fp
      FROM documents
    ),
    kept AS (
      SELECT doc_id, n_tokens, fp
      FROM m
      WHERE LEAST(n_tokens / 100.0, 1.0) * (1.0 - LEAST(pr, 0.5))
            * (0.5 + LEAST(sr, 0.5)) >= 0.2
        AND sr >= 0.03 AND is_ascii
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
      FROM kept GROUP BY fp
    )
    SELECT {SPLIT_ORACLE_SQL.format(col="doc_id")} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM deduped GROUP BY 1
    """,
)
def training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM training-data prep pipeline as ONE declarative plan:
    quality-score filter (>= 0.2) -> language filter (en) -> exact dedup
    (min doc_id per content fingerprint) -> deterministic hash split
    (14:1:1 train/dev/test) -> per-split corpus stats.

    Composes the individually-verified pieces (quality_score, language_id,
    doc_fingerprint_md5, hash split) with no extra scan: filters evaluate in
    the scan's codegen stage, the dedup is the only wide shuffle (32-byte
    fingerprint keys), and the split is a pure function of doc_id (stable
    across any partitioning/cluster size — SURVEY deterministic-sample note).
    On min-doc_id-per-fingerprint ties n_tokens of duplicate docs are equal
    by construction (identical normalized text), so MIN(n_tokens) is exact.
    """
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        token_count("text").cast("double").alias("n_tokens"),
        quality_score("text").alias("q"),
        language_id("text").alias("lang_pred"),
        doc_fingerprint_md5("text").alias("fp"),
    )
    kept = m.filter((F.col("q") >= 0.2) & (F.col("lang_pred") == "en"))
    deduped = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.min("n_tokens").alias("n_tokens")
    )
    return deduped.groupBy(split_expr(F.col("doc_id")).alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — contiguous token-budget bins for training batches.
# ---------------------------------------------------------------------------

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT source, CAST(floor(cum_before / 4096.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       floor(SUM(n_tokens) / 4096.0 * 1000000) / 1000000 AS fill_ratio
FROM cum GROUP BY 1, 2
""".strip()


@register("sequence_pack_bins", oracle=_PACK_ORACLE)
def sequence_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: within each source (ordered by doc_id),
    a document goes to the 4096-token context bin its cumulative start
    offset falls in; per-bin doc count, token total, and fill ratio.

    This is the *scalable* packing idiom: greedy first-fit bin packing is
    inherently sequential, but contiguous cumsum packing is one window
    cumsum per source partition — at 100 TB you pack per shard exactly like
    this (partition-local bins), because cross-shard packing would serialize
    the corpus for ~0.1% better fill. Integer window arithmetic only; the
    single fill_ratio float is trunc6'd.
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", token_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / F.lit(4096.0)).cast("long").alias("bin"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .select(
            "source",
            "bin",
            "n_docs",
            "bin_tokens",
            trunc6(F.col("bin_tokens") / F.lit(4096.0)).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-filter funnel — per-stage survivor counts in ONE scan.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH m AS (
  SELECT CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS BIGINT) AS n_tokens,
         {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS punct,
         {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sw,
         regexp_matches(COALESCE(text, ''), '^[\\x00-\\x7F]*$') AS ascii_ok
  FROM documents
),
f AS (
  SELECT n_tokens > 0 AS s1,
         n_tokens > 0 AND n_tokens BETWEEN 50 AND 100000 AS s2,
         n_tokens > 0 AND n_tokens BETWEEN 50 AND 100000 AND punct <= 0.3 AS s3,
         n_tokens > 0 AND n_tokens BETWEEN 50 AND 100000 AND punct <= 0.3
           AND sw >= 0.03 AND ascii_ok AS s4
  FROM m
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM f
)
SELECT 0 AS stage_idx, 'total' AS stage, c0 AS survivors FROM agg
UNION ALL SELECT 1, 'non_empty', c1 FROM agg
UNION ALL SELECT 2, 'length_50_100k', c2 FROM agg
UNION ALL SELECT 3, 'punct_le_30pct', c3 FROM agg
UNION ALL SELECT 4, 'english_heuristic', c4 FROM agg
""".strip()


@register("quality_funnel", oracle=_FUNNEL_ORACLE)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor count after each cumulative quality-filter stage (Gopher-style
    length gate, punctuation gate, English heuristic) — the go/no-go report a
    corpus build emits before materializing anything.

    ONE scan, five conditional sums folded into a single hash-agg row, then
    a constant-width stack to rows: no matter the corpus size this shuffles
    five longs. The per-stage booleans are cumulative ANDs so the funnel is
    monotone by construction.
    """
    docs = table(spark, sf_dir, "documents")
    n = token_count("text")
    s1 = n > 0
    s2 = s1 & n.between(50, 100000)
    s3 = s2 & (punct_ratio("text") <= 0.3)
    s4 = s3 & (language_id("text") == "en")
    agg = docs.agg(
        F.count("*").alias("c0"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"c{i}")
            for i, cond in enumerate((s1, s2, s3, s4), start=1)
        ],
    )
    return agg.selectExpr(
        "stack(5, 0, 'total', c0, 1, 'non_empty', c1, 2, 'length_50_100k', c2, "
        "3, 'punct_le_30pct', c3, 4, 'english_heuristic', c4) "
        "AS (stage_idx, stage, survivors)"
    )


# ---------------------------------------------------------------------------
# Temperature-weighted domain mixing (UniMax/DoReMi-style alpha sampling).
# ---------------------------------------------------------------------------

_TEMP_MIX_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(SUM({TOKEN_COUNT_ORACLE_SQL.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT source, n_tokens, SUM(n_tokens) OVER () AS total FROM per),
p AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / total AS share,
         pow(CAST(n_tokens AS DOUBLE) / total, 0.7) AS w_raw
  FROM t
),
-- w_raw sums in DECIMAL(18,12) (w_raw <= 1, so 12dp keeps ~1e-12 relative
-- precision): decimal addition is associative, so the unpartitioned window
-- sum is summation-order-proof in both engines.
s AS (
  SELECT *, CAST(SUM(CAST(w_raw AS DECIMAL(18,12))) OVER () AS DOUBLE) AS wsum
  FROM p
)
SELECT source, n_tokens,
       floor(share * 1000000) / 1000000 AS share,
       floor(w_raw / wsum * 1000000) / 1000000 AS weight,
       floor((w_raw / wsum) / share * 1000000) / 1000000 AS upsample_factor
FROM s
""".strip()


@register("domain_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def domain_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixture (alpha = 0.7, the multilingual
    /domain-balancing trick): weight_i ∝ share_i^alpha, renormalized. The
    upsample_factor column is weight/share — how much each source is over- or
    under-sampled relative to natural frequency.

    One agg to per-source token totals, then unpartitioned windows over the
    handful of source rows (the post-agg cardinality is O(#sources), so a
    single-partition window is free).
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.sum(token_count("text")).alias("n_tokens"))
    w = Window.partitionBy()
    t = per.withColumn("total", F.sum("n_tokens").over(w))
    share = F.col("n_tokens").cast("double") / F.col("total")
    p = t.select(
        "source", "n_tokens", share.alias("share"), F.pow(share, 0.7).alias("w_raw")
    )
    wsum = F.sum(F.col("w_raw").cast("decimal(18,12)")).over(w).cast("double")
    return p.select(
        "source",
        "n_tokens",
        trunc6(F.col("share")).alias("share"),
        trunc6(F.col("w_raw") / wsum).alias("weight"),
        trunc6((F.col("w_raw") / wsum) / F.col("share")).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# int8-quantized ANN rescoring — the memory-bound half of the 100 TB index.
# ---------------------------------------------------------------------------

_INT8_CODED_SQL = """
coded AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(embedding, x -> CAST(round(x / scale) AS INTEGER))
              ELSE list_transform(embedding, x -> 0) END AS codes
  FROM (
    SELECT vec_id,
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale,
           embedding
    FROM embeddings
  )
),
normed AS (
  SELECT vec_id, codes::DOUBLE[] AS v,
         list_dot_product(codes::DOUBLE[], codes::DOUBLE[]) AS n2
  FROM coded
)
""".strip()

_ANN_INT8_ORACLE = f"""
WITH {_INT8_CODED_SQL},
q AS (SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2 FROM normed WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.q_vec, c.v) / (sqrt(q.q_n2) * sqrt(c.n2)), 6) AS cosine
  FROM normed c, q
  WHERE c.vec_id != q.q_id AND c.n2 > 0 AND q.q_n2 > 0
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT q_id, c_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 3
""".strip()


@register("ann_int8_topk", oracle=_ANN_INT8_ORACLE)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 over int8-quantized codes (queries: vec_id<5).

    The per-vector quantization scales cancel out of cosine entirely, so the
    whole score is integer dot products (exact in double at any summation
    order — products bound by 127^2 * dim << 2^53) over 4x-smaller vectors:
    this is the memory-bandwidth half of serving a 100 TB ANN index, and the
    candidate-rescoring pass after IVF/LSH pruning. Exactly hash-checkable
    against DuckDB because no float rounding enters before the final ROUND.
    """
    emb = table(spark, sf_dir, "embeddings")
    from kol_bigdata_realtime_analytics_spark.operators.similarity import quantize_int8

    _, codes = quantize_int8(F.col("embedding"))
    n2 = F.aggregate(
        F.transform(codes, lambda x: (x * x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    normed = emb.select(
        F.col("vec_id"), codes.alias("codes"), n2.alias("n2")
    ).filter(F.col("n2") > 0)
    q = normed.select(
        F.col("vec_id").alias("q_id"),
        F.col("codes").alias("q_codes"),
        F.col("n2").alias("q_n2"),
    ).filter(F.col("q_id") < 5)
    dot = F.aggregate(
        F.zip_with("q_codes", "codes", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        normed.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(
                dot.cast("double") / (F.sqrt(F.col("q_n2")) * F.sqrt(F.col("n2"))), 6
            ).alias("cosine"),
        )
    )
    return rank_topk(scored, 3)


@register("ann_int8_matmul_topk", oracle=_ANN_INT8_ORACLE)
def ann_int8_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 top-3 via the Arrow-batched matmul rescorer (r3 verdict ask #6).

    Same oracle as ann_int8_topk — the outputs are bit-identical by
    construction (exact integer dots either way); only the execution
    strategy differs: one numpy (batch x dim) @ (dim x n_queries) product
    per Arrow batch instead of interpreted per-pair HOF lambdas. This is
    the documented scale shape for rescoring IVF/LSH candidate sets
    (PERF.md §5); pytest asserts row-equality against ann_int8_topk.
    """
    from kol_bigdata_realtime_analytics_spark.operators.similarity import int8_topk_matmul

    emb = table(spark, sf_dir, "embeddings")
    return int8_topk_matmul(emb, emb.filter(F.col("vec_id") < 5))


# ---------------------------------------------------------------------------
# C4-style segment filters — heuristic web-corpus cleaning (Raffel et al.
# 2020 §2.2), re-shaped to sentence segments (the corpus has no newlines).
# ---------------------------------------------------------------------------

_C4_ORACLE = """
WITH segs AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(COALESCE(text, ''), '\\. '),
             s -> CASE WHEN trim(s) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(s), '\\s+')) END) AS wc,
         contains(lower(COALESCE(text, '')), 'lorem ipsum') AS has_lorem,
         contains(COALESCE(text, ''), '{') AS has_brace
  FROM documents
),
m AS (
  SELECT doc_id, has_lorem, has_brace,
         CAST(len(wc) AS BIGINT) AS n_segments,
         CAST(len(list_filter(wc, c -> c >= 5)) AS BIGINT) AS n_kept_segments,
         CAST(COALESCE(list_sum(wc), 0) AS BIGINT) AS total_words,
         CAST(COALESCE(list_sum(list_filter(wc, c -> c >= 5)), 0) AS BIGINT) AS kept_words
  FROM segs
)
SELECT doc_id, n_segments, n_kept_segments, total_words, kept_words,
       floor((CASE WHEN total_words > 0
              THEN CAST(kept_words AS DOUBLE) / total_words ELSE 0.0 END) * 1000000)
         / 1000000 AS kept_ratio,
       CAST(has_lorem AS INTEGER) AS has_lorem,
       CAST(has_brace AS INTEGER) AS has_brace,
       CAST((NOT has_lorem AND NOT has_brace AND total_words > 0
             AND CAST(kept_words AS DOUBLE) / total_words >= 0.8) AS INTEGER) AS keep
FROM m
""".strip()


def c4_signal_columns(text_col) -> dict:
    """The C4 segment-quality expressions, ONE definition shared by the
    registered `c4_segment_filters` and the fused `training_shard_pipeline`
    (a copy in each would let the keep predicate silently diverge between
    the audited stage and the composed pipeline — r6 review). Returns
    columns keyed: wc (per-segment word counts), total_words, kept_words,
    has_lorem, has_brace. The keep rule built on these is: no boilerplate
    flags, total_words > 0, and kept_words/total_words >= 0.8 compared
    UN-truncated (exact integer/integer double division, identical in both
    engines)."""
    text = F.coalesce(text_col, F.lit(""))
    segs = F.split(text, r"\. ")
    wc = F.transform(
        segs,
        lambda s: F.when(F.trim(s) == "", F.lit(0)).otherwise(
            F.size(F.split(F.trim(s), r"\s+"))
        ),
    )
    return {
        "wc": wc,
        "total_words": F.aggregate(
            wc, F.lit(0).cast("long"), lambda acc, v: acc + v
        ),
        "kept_words": F.aggregate(
            F.filter(wc, lambda c: c >= 5),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
        "has_lorem": F.lower(text).contains("lorem ipsum"),
        "has_brace": text.contains("{"),
    }


@register("c4_segment_filters", oracle=_C4_ORACLE)
def c4_segment_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic cleaning per document: sentence-ish segments
    (split on '. '), a segment "kept" iff >= 5 words; docs flagged for
    boilerplate markers (curly brace = code, 'lorem ipsum' = placeholder);
    keep = no flags and >= 80% of words in kept segments.

    All native higher-order array exprs over one scan — zero exchanges,
    runs at input bandwidth like the PII/Gopher projections. The keep
    decision compares the UN-truncated ratio (exact integer/integer double
    division, identical in both engines); only the reported kept_ratio is
    trunc6'd for display.
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    sig = c4_signal_columns(F.col("text"))
    wc = sig["wc"]
    m = docs.select(
        "doc_id",
        F.size(wc).cast("long").alias("n_segments"),
        F.size(F.filter(wc, lambda c: c >= 5)).cast("long").alias("n_kept_segments"),
        sig["total_words"].alias("total_words"),
        sig["kept_words"].alias("kept_words"),
        sig["has_lorem"].alias("_lorem"),
        sig["has_brace"].alias("_brace"),
    )
    ratio = F.when(
        F.col("total_words") > 0,
        F.col("kept_words").cast("double") / F.col("total_words"),
    ).otherwise(F.lit(0.0))
    return m.select(
        "doc_id",
        "n_segments",
        "n_kept_segments",
        "total_words",
        "kept_words",
        trunc6(ratio).alias("kept_ratio"),
        F.col("_lorem").cast("int").alias("has_lorem"),
        F.col("_brace").cast("int").alias("has_brace"),
        (
            ~F.col("_lorem")
            & ~F.col("_brace")
            & (F.col("total_words") > 0)
            & (ratio >= 0.8)
        )
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — the frequency distribution behind every
# tokenizer/vocab-size decision: for each distinct token frequency, how many
# types have it and what share of all token OCCURRENCES the types at or
# above that frequency cover. Grouping by frequency VALUE (not per-token
# rank) makes the result tie-free (no token ordering enters) and the scale
# shape excellent: the global window runs over #distinct-frequencies rows
# (hundreds), never the vocabulary, never the corpus.
# ---------------------------------------------------------------------------

_VOCAB_COVERAGE_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
dist AS (
  SELECT cnt AS token_freq, CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(cnt * COUNT(*) AS BIGINT) AS occ
  FROM freq GROUP BY cnt
),
tot AS (SELECT CAST(SUM(occ) AS BIGINT) AS total_occ FROM dist)
SELECT token_freq,
       n_types,
       CAST(SUM(n_types) OVER w AS BIGINT) AS cum_vocab_size,
       CAST(SUM(occ) OVER w AS BIGINT) AS cum_occurrences,
       floor((CAST(SUM(occ) OVER w AS DOUBLE) / total_occ) * 1000000) / 1000000
         AS coverage_frac
FROM dist, tot
WINDOW w AS (ORDER BY token_freq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""".strip()


@register("vocab_coverage_curve", oracle=_VOCAB_COVERAGE_ORACLE)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency distribution with cumulative occurrence coverage:
    'a vocab truncated at types with frequency >= f covers X% of tokens'.

    Two narrow aggregations (corpus -> vocab -> frequency histogram), then
    a window over the <=few-hundred-row histogram; the single-partition
    window never sees vocab- or corpus-sized data. Coverage fractions are
    exact-integer ratios truncated at 6dp, so the hash is
    summation-order-proof."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.filter(F.trim(F.coalesce("text", F.lit(""))) != "")
        .select(F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
    )
    dist = (
        freq.groupBy(F.col("cnt").alias("token_freq"))
        .agg(F.count("*").alias("n_types"))
        .withColumn("occ", F.col("token_freq") * F.col("n_types"))
    )
    total = dist.agg(F.sum("occ").alias("total_occ"))
    w = (
        Window.orderBy(F.desc("token_freq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "token_freq",
            "n_types",
            F.sum("n_types").over(w).alias("cum_vocab_size"),
            F.sum("occ").over(w).alias("cum_occurrences"),
            trunc6(
                F.sum("occ").over(w).cast("double") / F.col("total_occ")
            ).alias("coverage_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate — n-gram spans repeated across >= K distinct
# docs (headers, templates, navigation chrome). The span-level complement
# of doc-level dedup: a doc can be unique while 40% of its text is corpus
# boilerplate. Shares the codegen'd hashed-shingle path with MinHash/
# decontamination; the doc-frequency join shuffles (long, long) rows only.
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = """
WITH tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(tok[i + 1 : i + 4], ' ')) AS h
  FROM tokd, unnest(range(0, GREATEST(len(tok) - 3, 0))) AS t(i)
),
dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       floor((CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))
             * 1000000) / 1000000 AS boilerplate_frac
FROM sh s JOIN dfreq d ON s.h = d.h
GROUP BY s.doc_id
""".strip()


@register("boilerplate_ngram_stats", oracle=_BOILERPLATE_ORACLE)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate measurement over 4-gram shingles: how many of a
    doc's distinct spans occur in >= 3 distinct documents corpus-wide.

    Spark computes shingles on the codegen'd hashed path
    (`shingle_hash_rows` — no shingle strings); the oracle re-derives them
    as md5 strings. Distinct-span and doc-frequency COUNTS are
    hash-function-independent (same sets either way), so the outputs hash-
    match — the same contract `decontaminate_overlap` uses. Counts and an
    exact-ratio trunc6 only; summation-order-proof."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import shingle_hash_rows
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    sh = shingle_hash_rows(docs, "text", "doc_id", n=4).distinct()
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    n_boiler = F.sum((F.col("df") >= 3).cast("long"))
    return (
        sh.join(dfreq, "h")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            n_boiler.alias("n_boilerplate"),
            trunc6(n_boiler.cast("double") / F.count("*")).alias("boilerplate_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate SPAN REMOVAL (r10) — the cleaning step boilerplate_ngram_stats
# only measures: positions whose 4-gram window is corpus-boilerplate
# (df >= 3 distinct docs) become removable intervals [pos, pos+3], merged
# per doc by the classic sort + running-max-end union, and the CLEANED
# document content itself goes under the driver hash as the exact sum of
# kept-position token hashes (portable hash52, < 2^59 total — exact in
# BIGINT in both engines). RefinedWeb/CCNet-style boilerplate excision,
# re-expressed as window algebra instead of per-doc Python.
# ---------------------------------------------------------------------------

_BOILER_RM_ORACLE = """
WITH toks AS (
  SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tok AS (
  SELECT doc, generate_subscripts(ts, 1) - 1 AS pos,
         CAST(('0x' || substr(md5(unnest(ts)), 1, 13)) AS BIGINT) AS h
  FROM toks
),
sh AS (
  SELECT a.doc, a.pos,
         CAST(('0x' || substr(md5(concat_ws('|',
              CAST(a.h AS VARCHAR), CAST(b.h AS VARCHAR),
              CAST(c.h AS VARCHAR), CAST(d.h AS VARCHAR))), 1, 13)) AS BIGINT)
           AS hs
  FROM tok a
  JOIN tok b ON b.doc = a.doc AND b.pos = a.pos + 1
  JOIN tok c ON c.doc = a.doc AND c.pos = a.pos + 2
  JOIN tok d ON d.doc = a.doc AND d.pos = a.pos + 3
),
dfreq AS (
  SELECT hs, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc, hs FROM sh) GROUP BY hs
),
starts AS (
  SELECT sh.doc, sh.pos FROM sh JOIN dfreq ON dfreq.hs = sh.hs
  WHERE dfreq.df >= 3
),
flagged AS (
  SELECT doc, pos,
         CASE WHEN MAX(pos + 3) OVER (PARTITION BY doc ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= pos
              THEN 0 ELSE 1 END AS is_new
  FROM starts
),
spans AS (
  SELECT doc, span_id, MIN(pos) AS s, MAX(pos) + 3 AS e FROM (
    SELECT doc, pos,
           SUM(is_new) OVER (PARTITION BY doc ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
    FROM flagged) GROUP BY doc, span_id
),
covered AS (
  SELECT DISTINCT t.doc, t.pos
  FROM tok t JOIN spans sp ON sp.doc = t.doc AND t.pos BETWEEN sp.s AND sp.e
),
per_doc AS (
  SELECT t.doc,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(c.pos) AS BIGINT) AS tokens_removed,
         CAST(COUNT(*) - COUNT(c.pos) AS BIGINT) AS tokens_kept,
         CAST(SUM(CASE WHEN c.pos IS NULL THEN t.h ELSE 0 END) AS BIGINT)
           AS kept_hash_sum
  FROM tok t LEFT JOIN covered c ON c.doc = t.doc AND c.pos = t.pos
  GROUP BY t.doc
),
nsp AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc)
SELECT p.doc AS doc_id, p.n_tokens, COALESCE(nsp.n_spans, 0) AS n_spans,
       p.tokens_removed, p.tokens_kept, p.kept_hash_sum
FROM per_doc p LEFT JOIN nsp ON nsp.doc = p.doc
""".strip()


@register("boilerplate_span_removal", oracle=_BOILER_RM_ORACLE)
def boilerplate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate EXCISION (the step boilerplate_ngram_stats only
    measures): every position whose 4-gram window occurs in >= 3 distinct
    documents becomes a removable interval [pos, pos+3]; intervals merge
    per doc via the sort + running-max-end union (one window pass — no
    per-doc Python); the output row carries the merged-span census AND
    the cleaned content itself as kept_hash_sum — the exact BIGINT sum of
    hash52(token) over surviving positions (tokens <= ~120/doc x h <
    2^52 => < 2^59, exact in both engines), so the driver hash certifies
    WHICH tokens survived, not just how many.

    Scale shape: one tokenize pass (portable hash52 path, codegen'd), the
    4-gram lead() window, one distinct+groupBy for corpus doc-frequency,
    then doc-partitioned windows for the interval union — every shuffle
    is on doc or the 52-bit shingle hash; the coverage probe is a
    doc-equi join with a BETWEEN residual on ~4-token spans, never a
    corpus cross."""
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.posexplode(tokens(F.col("text"))).alias("pos", "t"),
        )
        .select(
            "doc",
            "pos",
            F.conv(F.substring(F.md5(F.col("t")), 1, 13), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .localCheckpoint(eager=False)  # feeds shingles AND the kept-sum join
    )
    wl = W.partitionBy("doc").orderBy("pos")
    sh = (
        tok.select(
            "doc",
            "pos",
            F.col("h").alias("g0"),
            F.lead("h", 1).over(wl).alias("g1"),
            F.lead("h", 2).over(wl).alias("g2"),
            F.lead("h", 3).over(wl).alias("g3"),
        )
        .filter(F.col("g3").isNotNull())
        .select(
            "doc",
            "pos",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"g{i}").cast("string") for i in range(4)],
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("hs"),
        )
    ).localCheckpoint(eager=False)
    dfreq = (
        sh.select("doc", "hs")
        .distinct()
        .groupBy("hs")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 3)
    )
    starts = sh.join(dfreq.select("hs"), "hs", "left_semi").select("doc", "pos")
    prev_end = F.max(F.col("pos") + 3).over(
        wl.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = starts.select(
        "doc",
        "pos",
        F.when(prev_end >= F.col("pos"), F.lit(0)).otherwise(F.lit(1)).alias("is_new"),
    )
    spans = (
        flagged.select(
            "doc",
            "pos",
            F.sum("is_new").over(wl.rowsBetween(W.unboundedPreceding, 0)).alias(
                "span_id"
            ),
        )
        .groupBy("doc", "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + 3).alias("e"))
        .localCheckpoint(eager=False)  # feeds coverage join + span census
    )
    covered = (
        tok.join(
            spans,
            (tok["doc"] == spans["doc"]) & F.col("pos").between(F.col("s"), F.col("e")),
        )
        .select(tok["doc"], "pos")
        .distinct()
        .withColumn("cov", F.lit(1))
    )
    per_doc = (
        tok.join(covered, ["doc", "pos"], "left")
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("cov"), F.lit(0))).cast("long").alias(
                "tokens_removed"
            ),
            F.sum(F.when(F.col("cov").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.sum(F.when(F.col("cov").isNull(), F.col("h")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_hash_sum"),
        )
    )
    nsp = spans.groupBy("doc").agg(F.count("*").cast("long").alias("n_spans"))
    return per_doc.join(nsp, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        "tokens_removed",
        "tokens_kept",
        "kept_hash_sum",
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup — the broadcast-Bloom anti-join scale
# path, registered as an INVARIANT query: the bloom path must return
# exactly the exact anti-join's survivors (no false negatives by
# construction; false positives removed by the exact check on the maybe
# fraction). The oracle is incremental_dedup_new_docs' exact anti-join
# (_INCREMENTAL_ORACLE) — so a hash match proves the bloom path end-to-end.
# ---------------------------------------------------------------------------


@register("bloom_antijoin_check", oracle=_INCREMENTAL_ORACLE)
def bloom_antijoin_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_dedup_new_docs` re-run through the broadcast-Bloom
    prefilter (`operators/bloom.py`): definite-new rows (any unset bit)
    skip the anti-join exchange entirely; only the maybe-present fraction
    is exact-checked. Oracle = the plain exact anti-join, so the driver
    hash certifies the bloom path's exactness, not just its row count."""
    from kol_bigdata_realtime_analytics_spark.operators.bloom import bloom_anti_join

    docs = table(spark, sf_dir, "documents")
    fp = doc_fingerprint_md5(F.col("text"))
    corpus = docs.filter(F.col("doc_id") % 10 != 9).select(fp.alias("fingerprint"))
    batch = (
        docs.filter(F.col("doc_id") % 10 == 9)
        .select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return bloom_anti_join(batch, corpus, "fingerprint").select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Unigram cross-entropy scoring — the in-engine stand-in for KenLM-style
# perplexity filtering (CCNet): score every doc by the mean negative log
# probability of its tokens under the corpus's own unigram model. Two
# narrow shuffles: (doc, token) counts join the vocab-sized model on token,
# then re-group by doc. Per-token -log p is a double computed identically
# in both engines from exact integer ratios; the PER-DOC SUM is carried in
# DECIMAL(28,12) so partial-aggregation order can't move the result (the
# registry's float-sum rule).
# ---------------------------------------------------------------------------

_UNIGRAM_XENT_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
dt AS (SELECT doc_id, t, COUNT(*) AS k FROM tok GROUP BY doc_id, t)
SELECT dt.doc_id,
       CAST(SUM(dt.k) AS BIGINT) AS n_tokens,
       floor((CAST(SUM(CAST(dt.k * -ln(CAST(v.cnt AS DOUBLE) / tot.n)
                            AS DECIMAL(28,12))) AS DOUBLE)
              / SUM(dt.k)) * 1000000) / 1000000 AS xent_nats
FROM dt JOIN vocab v ON dt.t = v.t, tot
GROUP BY dt.doc_id
""".strip()


@register("unigram_xent_scores", oracle=_UNIGRAM_XENT_ORACLE)
def unigram_xent_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token -ln(p) per document under the corpus unigram model.
    Low = boilerplate-like/common text, high = rare-token soup; both tails
    are what a perplexity filter trims. The model (vocab with counts) is
    itself engine-built in the same plan — no artifact round-trip."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    # The token stream is used three ways (vocab, total, per-doc counts),
    # which plans as three corpus scans. Measured tradeoff (r4): deriving
    # vocab/total from the (doc,t) aggregate instead does NOT trigger
    # exchange reuse (canonicalization misses it even under AQE) and ran
    # 0.62 -> 0.87 s at sf0.1, so the direct form stays. At 100 TB, stage
    # the model once (write vocab+total to a table) and score against the
    # staged model — the scoring join below is unchanged by that split.
    vocab = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    dt = tok.groupBy("doc_id", "t").agg(F.count("*").alias("k"))
    neg_logp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    return (
        dt.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            trunc6(
                F.sum((F.col("k") * neg_logp).cast("decimal(28,12)")).cast("double")
                / F.sum("k")
            ).alias("xent_nats"),
        )
    )


# ---------------------------------------------------------------------------
# Source-mix divergence — data-mixing diagnostic: how far each source's
# language distribution sits from the corpus-wide distribution (KL in
# nats). Everything reduces to exact integer count ratios before any float
# op; the per-source sum runs over <= n_langs decimal terms.
# ---------------------------------------------------------------------------

_MIX_DIVERGENCE_ORACLE = """
WITH counts AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
),
per_source AS (SELECT source, CAST(SUM(c) AS BIGINT) AS sn FROM counts GROUP BY source),
global_lang AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS gc FROM counts GROUP BY lang),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts)
SELECT c.source,
       ps.sn AS n_docs,
       floor(CAST(SUM(CAST((CAST(c.c AS DOUBLE) / ps.sn)
                           * ln((CAST(c.c AS DOUBLE) / ps.sn)
                                / (CAST(g.gc AS DOUBLE) / tot.n))
                           AS DECIMAL(28,12))) AS DOUBLE) * 1000000) / 1000000
         AS kl_lang_nats
FROM counts c
  JOIN per_source ps ON c.source = ps.source
  JOIN global_lang g ON c.lang = g.lang, tot
GROUP BY c.source, ps.sn
""".strip()


@register("source_mix_divergence", oracle=_MIX_DIVERGENCE_ORACLE)
def source_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source's lang distribution || global lang distribution) per
    source. The aggregation tree never exceeds (sources x langs) rows
    after the first count — the corpus is scanned once."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents")
    # counts is <= sources x langs rows but its lineage is a corpus scan;
    # pin it so the three derived frames (per-source, global, total) don't
    # each re-scan the corpus
    counts = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    per_source = counts.groupBy("source").agg(F.sum("c").alias("sn"))
    global_lang = counts.groupBy("lang").agg(F.sum("c").alias("gc"))
    total = counts.agg(F.sum("c").alias("n"))
    p_s = F.col("c").cast("double") / F.col("sn")
    p_g = F.col("gc").cast("double") / F.col("n")
    term = (p_s * F.log(p_s / p_g)).cast("decimal(28,12)")
    return (
        counts.join(F.broadcast(per_source), "source")
        .join(F.broadcast(global_lang), "lang")
        .crossJoin(F.broadcast(total))
        .groupBy("source", F.col("sn").alias("n_docs"))
        .agg(trunc6(F.sum(term).cast("double")).alias("kl_lang_nats"))
    )


# ---------------------------------------------------------------------------
# PMI collocations — which adjacent token pairs stick together more than
# chance (ln(c_xy * N / (c_x * c_y))). The first signal a tokenizer-merge
# or phrase-mining pass computes. Bigrams come from the same posexplode +
# lead() window the shingle path uses; unigram marginals join back on the
# two component tokens. Everything reduces to exact integer counts before
# the single per-row ln.
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
uni AS (
  SELECT t, COUNT(*) AS c FROM (SELECT unnest(tok) AS t FROM tokd) GROUP BY t
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT tok[i + 1] AS t1, tok[i + 2] AS t2, COUNT(*) AS c_xy
  FROM tokd, unnest(range(0, GREATEST(len(tok) - 1, 0))) AS r(i)
  GROUP BY 1, 2
)
SELECT b.t1, b.t2, b.c_xy,
       floor(ln((CAST(b.c_xy AS DOUBLE) * tot.n)
                / (CAST(u1.c AS DOUBLE) * u2.c)) * 1000000) / 1000000 AS pmi
FROM bi b JOIN uni u1 ON b.t1 = u1.t JOIN uni u2 ON b.t2 = u2.t, tot
WHERE b.c_xy >= 5
ORDER BY pmi DESC, b.t1, b.t2
LIMIT 50
""".strip()


@register("collocations_pmi", oracle=_PMI_ORACLE)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-pair collocations by PMI (support >= 5). Bigram
    counts via the codegen posexplode + lead() path (no bigram strings
    until the final tiny projection); unigram marginals and the total are
    exact integers, so the per-row ln is bit-identical cross-engine."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "t")
    )
    # vocab-sized but corpus-lineaged; pinned so the total + two marginal
    # joins don't re-tokenize the corpus (plan audit: 4 scans -> 2)
    uni = tok.groupBy("t").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    total = uni.agg(F.sum("c").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.select("doc_id", "pos", "t", F.lead("t").over(w).alias("t2"))
        .filter(F.col("t2").isNotNull())
        .groupBy(F.col("t").alias("t1"), "t2")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    pmi = F.floor(
        F.log(
            (F.col("c_xy").cast("double") * F.col("n"))
            / (F.col("c1").cast("double") * F.col("c2"))
        )
        * 1000000
    ) / 1000000
    return (
        bi.join(uni.select(F.col("t").alias("t1"), F.col("c").alias("c1")), "t1")
        .join(uni.select(F.col("t").alias("t2"), F.col("c").alias("c2")), "t2")
        .crossJoin(F.broadcast(total))
        .select("t1", "t2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup — dedup at the PRETRAINING granularity: fixed-
# token chunks fingerprinted and grouped corpus-wide, so repeated passages
# dedup even when their parent documents differ. Reuses chunk_documents
# (native columnar fan-out) + md5 fingerprints; one shuffle on the 32-byte
# chunk fingerprint.
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = f"""
WITH chunks AS (
  {CHUNK_ORACLE_SQL.format(table="documents", col="text", id="doc_id",
                           chunk=64, overlap=0, step=64)}
)
SELECT md5(chunk_text) AS chunk_fp,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id * 1000000 + chunk_idx) AS BIGINT) AS keep_slot,
       CAST(MIN(chunk_tokens) AS BIGINT) AS chunk_tokens
FROM chunks
GROUP BY 1
HAVING COUNT(*) >= 2
""".strip()


@register("chunk_dedup_exact", oracle=_CHUNK_DEDUP_ORACLE)
def chunk_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated 64-token chunks across the corpus (duplicate groups with a
    deterministic keep slot) — document-level dedup misses passages
    recycled inside otherwise-distinct documents; this is the chunk-grain
    pass that catches them."""
    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=0)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_fp"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(
                F.col("doc_id") * 1000000 + F.col("chunk_idx")
            ).alias("keep_slot"),
            F.min("chunk_tokens").alias("chunk_tokens"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ---------------------------------------------------------------------------
# Token -> id encoding — the encode step of training prep: build a bounded
# vocab (top-1000 by frequency, deterministic ties), map every token to
# its id (OOV -> 0), and emit each doc's first 32 ids. The vocab ranking
# window runs over vocab-sized rows; the corpus-side work is one broadcast
# join plus an ordered per-doc fold.
# ---------------------------------------------------------------------------

_ENCODE_ORACLE = """
WITH tok AS (
  SELECT doc_id, t, CAST(i AS BIGINT) AS pos
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t,
           generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS i
    FROM documents WHERE trim(COALESCE(text, '')) != ''
  )
),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (
  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) AS id
  FROM freq QUALIFY id <= 1000
)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(list(COALESCE(v.id, 0) ORDER BY tok.pos), 1, 32), ',')
         AS first_32_ids
FROM tok LEFT JOIN vocab v ON tok.t = v.t
GROUP BY tok.doc_id
""".strip()


@register("encode_tokens_to_ids", oracle=_ENCODE_ORACLE)
def encode_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding: rank the top-1000 tokens (frequency desc, token
    asc — tie-proof), broadcast the vocab onto the token stream, fold each
    doc's ids in position order, emit the first 32 as a string."""
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    vocab = (
        freq.select("t", F.row_number().over(w).cast("long").alias("id"))
        .filter(F.col("id") <= 1000)
    )
    enc = tok.join(F.broadcast(vocab), "t", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    folded = enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("pos", "id"))).alias("seq"),
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        F.array_join(
            F.transform(
                F.slice(F.col("seq"), 1, 32), lambda s: s["id"].cast("string")
            ),
            ",",
        ).alias("first_32_ids"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style) — the embedding-space analogue of the
# text dedup pipeline: LSH-bucket-blocked exact-cosine pairs (threshold
# 0.35 on the synthetic vectors; see the query docstring) -> connected
# components -> one canonical survivor per semantic group. Composes
# lsh_neardup_pairs with the pointer-doubling closure; the oracle
# re-derives the same literal-plane buckets and clusters with exact list
# arithmetic and a recursive CTE.
# ---------------------------------------------------------------------------

def _semantic_dedup_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=4, seed=42)
    return _SEMANTIC_DEDUP_ORACLE_TEMPLATE.replace("__BUCKET__", bucket)


_SEMANTIC_DEDUP_ORACLE_TEMPLATE = """
WITH RECURSIVE base0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
base AS (
  SELECT vec_id, vec, __BUCKET__ AS bkt FROM base0
),
pair AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM base a JOIN base b ON a.bkt = b.bkt
  WHERE a.vec_id < b.vec_id
    AND ROUND(list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec))
                 * sqrt(list_dot_product(b.vec, b.vec))), 6) >= 0.35
),
edge AS (
  SELECT id_a AS src, id_b AS dst FROM pair
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pair
),
comp(node, lab) AS (
  SELECT vec_id, vec_id FROM base
  UNION
  SELECT e.dst, c.lab FROM comp c JOIN edge e ON e.src = c.node
),
final AS (SELECT node, MIN(lab) AS cluster_id FROM comp GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM final GROUP BY cluster_id)
SELECT f.node AS vec_id, f.cluster_id, s.cluster_size,
       CAST(f.node = f.cluster_id AS INTEGER) AS is_canonical
FROM final f JOIN sizes s ON f.cluster_id = s.cluster_id
""".strip()


@register("semantic_dedup_survivors", oracle=_semantic_dedup_oracle())
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: LSH-bucket-blocked cosine pairs
    feed the connected-components closure; rows with is_canonical = 1 are
    the semantic survivors (training keeps exactly one exemplar per
    embedding-space duplicate group).

    r4 rewired from the label-blocked baseline: the 8x scale_check
    measured the fixed-cardinality label blocks quadratic (44.7x wall at
    8x volume) AND the dim=64 unrolled dot ran interpreted per pair
    (PERF §2.1b). Pairs now come from `lsh_neardup_pairs` — bucket count
    scales with n_planes (~log2 corpus), the documented knob that
    measured 0.79-of-linear at 4x — and the DuckDB oracle re-derives the
    same literal-plane buckets (`lsh_bucket_sql`), so the query stays
    hash-exact. Threshold 0.35, not a production 0.9+: synthetic vectors
    are near-random and 0.95 matches zero pairs at every sf, which would
    make the closure check vacuous (every row a singleton)."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import duplicate_clusters
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_neardup_pairs,
    )

    emb = table(spark, sf_dir, "embeddings")
    pairs = lsh_neardup_pairs(
        emb, dim=64, n_planes=4, threshold=0.35,
    ).select("id_a", "id_b")
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    return duplicate_clusters(nodes, pairs, id_col="doc_id").select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size", "is_canonical"
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift — the embedding-space drift monitor: per label,
# the cosine between the mean vector of two data splits (stand-in: even vs
# odd vec_id; production: yesterday vs today). Per-dimension sums
# accumulate exactly in decimal via one posexplode aggregation; only the
# final per-label cosine arithmetic is float, trunc6'd.
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_ORACLE = """
WITH dims AS (
  SELECT label, vec_id % 2 AS split, d - 1 AS dim, x
  FROM (SELECT label, vec_id, unnest(embedding::DOUBLE[]) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings)
),
sums AS (
  SELECT label, split, dim,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS s,
         COUNT(*) AS n
  FROM dims GROUP BY 1, 2, 3
),
means AS (SELECT label, split, dim, s / n AS m FROM sums),
pairs AS (
  SELECT a.label, a.dim, a.m AS ma, b.m AS mb
  FROM means a JOIN means b
    ON a.label = b.label AND a.dim = b.dim AND a.split = 0 AND b.split = 1
)
SELECT label,
       floor(CAST(SUM(CAST(ma * mb AS DECIMAL(28,12))) AS DOUBLE)
             / (sqrt(CAST(SUM(CAST(ma * ma AS DECIMAL(28,12))) AS DOUBLE))
                * sqrt(CAST(SUM(CAST(mb * mb AS DECIMAL(28,12))) AS DOUBLE)))
             * 1000000) / 1000000
         AS centroid_cosine
FROM pairs
GROUP BY label
""".strip()


@register("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine between split centroids per label (1.0 = no drift). The
    per-dimension decimal sums are summation-order-proof; the final
    cosine runs over 64 mean pairs per label.

    Scale shape: one posexplode aggregation to (label x split x dim) rows
    — corpus-size-independent output; the pair join and cosine fold touch
    only that tiny grid."""
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("split"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    sums = (
        dims.groupBy("label", "split", "dim")
        .agg(
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        # tiny (label x split x dim) grid; pinned so the two split branches
        # don't each re-scan the embeddings
        .localCheckpoint(eager=True)
    )
    means = sums.select("label", "split", "dim", (F.col("s") / F.col("n")).alias("m"))
    a = means.filter("split = 0").select("label", "dim", F.col("m").alias("ma"))
    b = means.filter("split = 1").select("label", "dim", F.col("m").alias("mb"))
    pairs = a.join(b, ["label", "dim"])

    def dsum12(c):
        # decimal term sums: the 64-dim dot/norm folds must not depend on
        # partial-aggregation order (registry float-sum rule)
        return F.sum(c.cast("decimal(28,12)")).cast("double")

    return pairs.groupBy("label").agg(
        (
            F.floor(
                dsum12(F.col("ma") * F.col("mb"))
                / (
                    F.sqrt(dsum12(F.col("ma") * F.col("ma")))
                    * F.sqrt(dsum12(F.col("mb") * F.col("mb")))
                )
                * 1000000
            )
            / 1000000
        ).alias("centroid_cosine")
    )


# ---------------------------------------------------------------------------
# BM25 search — the serving-side full-text ranking the reference's REST
# search endpoint approximates with LIKE filters. Exact Okapi BM25
# (k1=1.2, b=0.75): tf from one (doc, term) count, df + doclen + avgdl
# from corpus aggregates, idf = ln((N - df + 0.5)/(df + 0.5) + 1). Every
# input is an exact integer; per-doc term-score sums ride DECIMAL(28,12)
# so multi-term scores are summation-order-proof.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "table", "value"]

#: the BM25 scored-CTE chain, shared by _BM25_ORACLE and the hybrid RRF
#: oracle so the formula can never fork between them (r7 review) — the SQL
#: twin of the Python-side _bm25_scored refactor.
_BM25_SCORED_CTES = f"""tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE t IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, t
),
df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(
           ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl))
         AS DECIMAL(28,12))) AS DOUBLE) AS score
  FROM tf JOIN df ON tf.t = df.t JOIN dl ON tf.doc_id = dl.doc_id, stats s
  GROUP BY tf.doc_id
)"""

_BM25_ORACLE = f"""
WITH {_BM25_SCORED_CTES}
SELECT doc_id, floor(score * 1000000) / 1000000 AS bm25
FROM scored
ORDER BY score DESC, doc_id
LIMIT 20
""".strip()


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) exact Okapi BM25 frame for the fixed query terms —
    shared by bm25_search and the hybrid RRF fusion. One tokenize feeding
    doc lengths and (pushed-down) query-term tfs; df and corpus stats are
    broadcast scalars; per-doc term scores sum in decimal. The term filter
    reaches the tf aggregation as a pre-agg predicate, so the scored frame
    is docs-matching-terms sized, never corpus x vocab."""
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dlen")).localCheckpoint(
        eager=True  # feeds corpus stats AND the per-doc score join
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("t").isin(_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term_score = (
        idf
        * (F.col("tf").cast("double") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl")))
    ).cast("decimal(28,12)")
    return (
        tf.join(F.broadcast(df), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).cast("double").alias("score"))
    )


@register("bm25_search", oracle=_BM25_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs for the query {spark, table, value} by exact Okapi BM25
    (see _bm25_scored for the plan shape)."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", (F.floor(F.col("score") * 1000000) / 1000000).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation — confusion counts of the heuristic classifier
# against the labeled lang column, with per-actual-language recall. The
# eval aggregate over text_profile's per-doc columns: one scan to a
# (actual x predicted) grid, recall as an exact ratio over a window on
# that tiny grid.
# ---------------------------------------------------------------------------

from kol_bigdata_realtime_analytics_spark.functions.text import (  # noqa: E402
    LANGUAGE_ID_ORACLE_SQL,
    STOPWORD_RATIO_ORACLE_SQL as _SW_SQL,
)

_LANGID_PRED = LANGUAGE_ID_ORACLE_SQL.format(
    col="text", sw_ratio=_SW_SQL.format(col="text")
)

_LANGID_CONFUSION_ORACLE = f"""
WITH pred AS (
  SELECT lang AS lang_actual, {_LANGID_PRED} AS lang_pred FROM documents
),
grid AS (
  SELECT lang_actual, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
)
SELECT lang_actual, lang_pred, CAST(n AS BIGINT) AS n,
       floor(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY lang_actual) * 1000000) / 1000000
         AS frac_of_actual
FROM grid
""".strip()


@register("langid_confusion", oracle=_LANGID_CONFUSION_ORACLE)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion grid for the n-gram/stopword language-ID heuristic vs the
    labeled lang column, with each cell's share of its actual-language
    row (the diagonal's share = recall)."""
    docs = table(spark, sf_dir, "documents")
    grid = docs.groupBy(
        F.col("lang").alias("lang_actual"),
        language_id("text").alias("lang_pred"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang_actual")
    return grid.select(
        "lang_actual",
        "lang_pred",
        "n",
        (
            F.floor(F.col("n").cast("double") / F.sum("n").over(w) * 1000000) / 1000000
        ).alias("frac_of_actual"),
    )


# ---------------------------------------------------------------------------
# r5 additions: substring-level dedup (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" — duplicated-span detection at
# token granularity), a BPE merge-induction step, and embedding-space
# decontamination. No reference counterpart (the reference has no corpus
# tooling at all) — these extend the LLM-pipeline surface of the build brief.
# ---------------------------------------------------------------------------

_SPAN_W = 8  # duplicated-span window, tokens

_SPAN_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
  FROM documents WHERE trim(COALESCE(text, '')) <> ''
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 7),
           i -> CAST(('0x' || substr(md5(array_to_string(tk[i : i + 7], ' ')), 1, 13)) AS BIGINT))) AS g
  FROM toks WHERE len(tk) >= 8
), dupg AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams) GROUP BY g HAVING COUNT(*) >= 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN g IN (SELECT g FROM dupg) THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
       floor(CAST(SUM(CASE WHEN g IN (SELECT g FROM dupg) THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1000000) / 1000000 AS dup_ratio
FROM grams GROUP BY doc_id
""".strip()


@register("substring_span_dedup", oracle=_SPAN_DEDUP_ORACLE)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication per document: the fraction of a
    doc's sliding 8-token windows whose exact text occurs in >= 2 distinct
    docs (token-granular variant of Lee et al. 2022 suffix-array span
    dedup — at 100 TB the suffix array is replaced by a distributed
    gram-hash groupBy, the standard scale form).

    Scale shape: grams are hashed to 52-bit ids IN the scan projection
    (hash52 — md5 runs codegen'd, the shuffle carries only (long, long)
    rows, never gram strings); doc-frequency is a map-side-combined
    groupBy; the dup-gram set joins back as a semi-join. Everything is
    corpus-linear — ~8x token count rows, no self-joins.
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6
    from kol_bigdata_realtime_analytics_spark.plans.registry import hash52

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tok = docs.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") >= _SPAN_W
    )
    grams = tok.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (_SPAN_W - 1)),
                lambda i: hash52(F.array_join(F.slice("tk", i, _SPAN_W), " ")),
            )
        ).alias("g"),
    ).localCheckpoint(eager=True)
    # pinned: feeds three branches (doc-frequency, per-doc totals, per-doc
    # dup counts) — unpinned, each branch re-runs the tokenize + per-window
    # md5, the expensive part of the whole plan (plan audit showed 3 scans).
    # The pinned frame is (long, long) rows only — 16 bytes per gram, never
    # the gram strings. Measured at sf0.1: 2.43 s -> 1.6 s warm.
    dupg = (
        grams.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    total = grams.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    dup = (
        grams.join(dupg, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("dup_grams"))
    )
    return (
        total.join(dup, "doc_id", "left")
        .withColumn("dup_grams", F.coalesce("dup_grams", F.lit(0)).cast("long"))
        .withColumn("dup_ratio", trunc6(F.col("dup_grams") / F.col("n_grams")))
    )


_BPE_ORACLE = """
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE trim(COALESCE(text, '')) <> ''
), p AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 2))) AS pair
  FROM w WHERE len(w) >= 2
), c AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY pair
  ORDER BY cnt DESC, pair LIMIT 20
)
SELECT pair, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS merge_rank
FROM c
""".strip()


@register("bpe_merge_ranks", oracle=_BPE_ORACLE)
def bpe_merge_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step: corpus-wide adjacent character-
    pair counts (frequency-weighted, as in Sennrich et al. BPE training —
    every word OCCURRENCE contributes its pairs), top-20 merge candidates
    with deterministic (count desc, pair asc) ranking.

    Scale shape: pair extraction is a per-row array HOF inside the scan's
    codegen stage; the shuffle carries 2-char keys with map-side partial
    counts (vocabulary-bounded, not corpus-bounded); top-20 plans
    TakeOrderedAndProject. The full BPE loop re-runs this step after each
    merge — each iteration stays one scan + one bounded shuffle.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    words = docs.select(F.explode(tokens("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )
    w20 = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return top.withColumn("merge_rank", F.row_number().over(w20).cast("long"))


def _decon_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=4, seed=42)
    return f"""
    WITH base0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
    base AS (SELECT vec_id, label, vec, {bucket} AS bkt FROM base0),
    hits AS (
      SELECT c.vec_id, b.vec_id AS bench_id,
             ROUND(list_dot_product(c.vec, b.vec)
                   / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
                   6) AS cos
      FROM base c JOIN base b ON c.bkt = b.bkt AND c.label <> 0 AND b.label = 0
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           MAX(cos) AS max_cosine,
           CAST(MIN(bench_id) AS BIGINT) AS min_bench_id
    FROM hits WHERE cos >= 0.3 GROUP BY vec_id
    """


@register("embedding_decontaminate", oracle=_decon_oracle())
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors (label != 0)
    whose cosine to ANY benchmark vector (label = 0, the held-out eval set)
    reaches 0.3 — the semantic complement of the n-gram
    `decontaminate_overlap` (SemDeDup-style contamination sweeps use
    exactly this shape).

    Scale shape: candidates are blocked by the 4-plane LSH bucket (grown
    ~log2(corpus) in production) and the BENCHMARK side is broadcast —
    eval suites are small by construction, so the corpus never shuffles;
    the exact cosine verifies candidates in the join's codegen stage.
    HASH-EXACT oracle despite the approximate blocking: DuckDB re-derives
    the buckets from the same literal planes (`lsh_bucket_sql`), both
    engines folding the dot product left-to-right. Threshold 0.3 (not a
    production 0.9+) because TESTDATA vectors are near-random — 27
    hits at sf0.01 keep the check non-vacuous.
    """
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
        lsh_bucket_id,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_vec(F.col("embedding")).alias("vec")
    )
    withb = emb.withColumn("bkt", lsh_bucket_id(F.col("vec"), 64, 4))
    bench = withb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("vec").alias("bvec"), "bkt"
    )
    corp = withb.filter(F.col("label") != 0)
    hits = (
        corp.join(F.broadcast(bench), "bkt")
        .select(
            "vec_id",
            "bench_id",
            F.round(cosine(F.col("vec"), F.col("bvec")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )
    return hits.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.max("cos").alias("max_cosine"),
        F.min("bench_id").cast("long").alias("min_bench_id"),
    )


# ---------------------------------------------------------------------------
# Fused end-to-end training-shard pipeline (r5 verdict ask #6): quality
# filters -> exact dedup -> decontaminate -> fuzzy dedup -> pack -> stats,
# composed as ONE job with ONE documents scan. Reference semantics: the
# reference's medallion chains these as separate jobs with per-stage
# count()s re-scanning the input (batch/etl/bronze_to_silver.py:114-140) —
# the composition, not the pieces, is where accidental re-scans appear.
# ---------------------------------------------------------------------------

_SHARD_PIPELINE_ORACLE = f"""
WITH segs AS (
  SELECT doc_id, source, lang, text,
         list_transform(regexp_split_to_array(COALESCE(text, ''), '\\. '),
             s -> CASE WHEN trim(s) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(s), '\\s+')) END) AS wc,
         contains(lower(COALESCE(text, '')), 'lorem ipsum') AS has_lorem,
         contains(COALESCE(text, ''), '{{') AS has_brace,
         CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS BIGINT) AS n_tokens
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
quality AS (
  SELECT doc_id, source, lang, text, n_tokens,
         (NOT has_lorem AND NOT has_brace
          AND COALESCE(list_sum(wc), 0) > 0
          AND CAST(COALESCE(list_sum(list_filter(wc, c -> c >= 5)), 0) AS DOUBLE)
              / list_sum(wc) >= 0.8
          AND n_tokens BETWEEN 50 AND 100000) AS keep
  FROM segs
),
train1 AS (
  SELECT doc_id, source, lang, text, n_tokens FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")}
        ORDER BY doc_id) AS rn
    FROM quality WHERE keep AND doc_id % 13 != 0
  ) WHERE rn = 1
),
bench_sh AS (
  SELECT DISTINCT md5(array_to_string(tok[i + 1 : i + 4], ' ')) AS h
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents
        WHERE trim(COALESCE(text, '')) != '' AND doc_id % 13 = 0),
       unnest(range(0, GREATEST(len(tok) - 3, 0))) AS t(i)
),
train_sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(tok[i + 1 : i + 4], ' ')) AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM train1),
       unnest(range(0, GREATEST(len(tok) - 3, 0))) AS t(i)
),
contaminated AS (SELECT DISTINCT s.doc_id FROM train_sh s JOIN bench_sh b ON s.h = b.h),
train2 AS (
  SELECT * FROM train1
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
jtok AS (
  SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM train2
),
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM jtok a JOIN jtok b ON a.lang = b.lang AND a.source = b.source
  WHERE a.doc_id < b.doc_id
    AND ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tok, b.tok))), 6) >= 0.5
),
train3 AS (
  SELECT * FROM train2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
),
cum AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM train3
)
SELECT source, CAST(floor(cum_before / 4096.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       floor(SUM(n_tokens) / 4096.0 * 1000000) / 1000000 AS fill_ratio
FROM cum GROUP BY 1, 2
""".strip()


@register("training_shard_pipeline", oracle=_SHARD_PIPELINE_ORACLE)
def training_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused training-data job a 100 TB user actually runs — every stage
    individually registered and green, composed here as ONE plan:

      quality gate (C4 segment keep + 50..100k token length)
      -> exact dedup (min doc_id per whitespace-normalized md5 fingerprint)
      -> decontaminate (drop docs sharing ANY 4-gram shingle with the
         doc_id % 13 == 0 eval slice)
      -> fuzzy dedup (token-set Jaccard >= 0.5 within (lang, source) via
         the prefix-filter join; the HIGHER id of every verified pair is
         dropped — pair-based removal, deterministic and SQL-expressible;
         cluster-canonical survivorship is the `dedup_clusters` variant)
      -> contiguous 4096-token packing per source
      -> per-(source, bin) shard stats.

    SINGLE-SCAN composition: the quality/fingerprint/token projection is
    computed in the parquet scan's codegen stage, filtered to (quality-kept
    train candidates OR eval-slice rows), and localCheckpoint'd — every
    downstream branch (bench shingles, dedup window, train shingles, both
    jaccard sides, packing) reads the pinned survivor frame, so the
    documents file is read ONCE no matter how many branches the composition
    fans into (plan-property-tested: zero parquet re-scans in the returned
    plan). This is exactly the re-scan mistake the reference's medallion
    makes with per-stage count()s (bronze_to_silver.py:114-140). At 100 TB
    the checkpoint is the survivor materialization you'd write to storage
    between mega-stages anyway; it is quality-filtered, so it is the
    SMALLER side of the corpus by construction.

    Decontamination matches the oracle despite different hash functions
    (xxhash64 vs md5): the stage is a pure existence semi-join on shingle
    identity, which is hash-independent modulo 64-bit collisions.
    """
    return shard_pipeline(table(spark, sf_dir, "documents"))


def shard_pipeline(documents: DataFrame) -> DataFrame:
    """The fused pipeline over any (doc_id, source, lang, text) frame —
    factored out of the registered query so tests can run it on planted
    corpora with an independent Python model (the DuckDB oracle shadows
    the same algorithm in SQL, so it can't catch a shared misreading of
    the pipeline semantics). See training_shard_pipeline for the plan
    shape and 100 TB notes."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import (
        shingle_hash_rows,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = documents.filter(F.trim(F.coalesce("text", F.lit(""))) != "")
    sig = c4_signal_columns(F.col("text"))  # ONE definition with the
    # registered c4_segment_filters stage — the keep predicate cannot diverge
    n_tok = token_count("text").cast("long")
    keep = (
        ~sig["has_lorem"]
        & ~sig["has_brace"]
        & (sig["total_words"] > 0)
        & (sig["kept_words"].cast("double") / sig["total_words"] >= 0.8)
        & n_tok.between(50, 100000)
    )
    pinned = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            "text",
            n_tok.alias("n_tokens"),
            doc_fingerprint_md5(F.col("text")).alias("fp"),
            keep.alias("keep"),
        )
        .filter(F.col("keep") | (F.col("doc_id") % 13 == 0))
        .localCheckpoint(eager=True)
    )
    bench = pinned.filter(F.col("doc_id") % 13 == 0)
    train0 = pinned.filter((F.col("doc_id") % 13 != 0) & F.col("keep"))
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    train1 = (
        train0.withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "lang", "text", "n_tokens")
    )
    bench_sh = (
        shingle_hash_rows(bench, "text", "doc_id", 4).select("h").distinct()
    )
    train_sh = shingle_hash_rows(train1, "text", "doc_id", 4)
    contaminated = (
        train_sh.join(F.broadcast(bench_sh), "h", "left_semi")
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )
    train2 = train1.join(contaminated, "doc_id", "left_anti")
    pairs = jaccard_pairs(train2, "text", "doc_id", ["lang", "source"], threshold=0.5)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    train3 = train2.join(dropped, "doc_id", "left_anti")
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = train3.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(wp), F.lit(0))
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / F.lit(4096.0)).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
        .select(
            "source",
            "bin",
            "n_docs",
            "bin_tokens",
            trunc6(F.col("bin_tokens") / F.lit(4096.0)).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Full iterative BPE training (r5 verdict ask #5): the single-step
# `bpe_merge_ranks` extended to the real Sennrich et al. loop — merge the
# best adjacent symbol pair, re-pair, repeat. The corpus is touched ONCE
# (the word-frequency aggregation); every merge round runs on the tiny
# word-frequency frame, so the loop cost is independent of corpus size.
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 40
_BPE_C2, _BPE_C3 = chr(2), chr(3)  # per-symbol wrappers: ⟨sym⟩ = \x02 sym \x03


def _bpe_train_oracle(n: int) -> str:
    """Unrolled DuckDB mirror of the merge loop: each round i pairs adjacent
    symbols of w{i-1}, picks the (cnt DESC, a, b) best, and rewrites via
    replace() — SQL's replace is left-to-right non-overlapping, exactly the
    greedy BPE application, and the per-symbol \\x02..\\x03 wrappers make
    adjacent matches share no boundary characters, so consecutive merges
    ("aaaa" -> "aa","aa") rewrite correctly. MATERIALIZED CTEs: w{i} is
    referenced twice (p{i+1} and w{i+1}); inlining would re-expand the
    chain exponentially. COALESCE(..., chr(1)) turns an empty round into a
    no-op rewrite instead of replace(sym, NULL, NULL) = NULL."""
    parts = _bpe_chain_ctes(n, carry_word=False)
    union = "\nUNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, n + 1))
    return "WITH " + ",\n".join(parts) + "\nSELECT * FROM (" + union + ")"


def _bpe_chain_ctes(n: int, carry_word: bool) -> list[str]:
    """The shared w0..w{n} merge-chain CTEs. carry_word=True threads the
    ORIGINAL word through every rewrite (and keeps length-1 words, which
    contribute no pairs and so cannot change the merge sequence) so a final
    consumer can join word occurrences to their encoded form."""
    wcol = "w, " if carry_word else ""
    lenf = "" if carry_word else "WHERE len(w) >= 2 "
    grp = "GROUP BY w" if carry_word else "GROUP BY 1"
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT {wcol}regexp_replace(w, '(?s)(.)', chr(2) || '\\1' || chr(3), 'g') AS sym,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE trim(COALESCE(text,'')) <> '')
  {lenf}{grp}
)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT s[j] AS a, s[j+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(substr(sym, 2, len(sym) - 2), chr(3) || chr(2)) AS s,
               freq FROM w{i - 1}),
       unnest(generate_series(1, len(s) - 1)) AS t(j)
  GROUP BY 1, 2
),
b{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT {wcol}replace(sym,
           COALESCE((SELECT chr(2)||a||chr(3)||chr(2)||b||chr(3) FROM b{i}), chr(1)),
           COALESCE((SELECT chr(2)||a||b||chr(3) FROM b{i}), chr(1))) AS sym, freq
  FROM w{i - 1}
),
m{i} AS (SELECT CAST({i} AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b,
                a||b AS merged, cnt FROM b{i})"""
        )
    return parts


def _bpe_encode_oracle(n: int) -> str:
    """Encode oracle: re-derive the merge chain (carrying the original
    word), map every distinct word to its subword count, join word
    OCCURRENCES (with source) to the encoded vocabulary, aggregate."""
    parts = _bpe_chain_ctes(n, carry_word=True)
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT w, CAST(len(string_split(substr(sym, 2, len(sym) - 2),
                                  chr(3) || chr(2))) AS BIGINT) AS n_sub
  FROM w{n}
),
occ AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE trim(COALESCE(text,'')) <> ''
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT o.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_sub) AS BIGINT) AS n_subwords,
       floor(CAST(SUM(e.n_sub) AS DOUBLE) / COUNT(*) * 1000000) / 1000000
         AS subwords_per_word
FROM occ o JOIN enc e ON o.w = e.w
GROUP BY o.source"""
    )


@register("bpe_vocab_train", oracle=_bpe_train_oracle(_BPE_N_MERGES))
def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE vocabulary training (Sennrich et al. 2016): 40 merge
    rounds of (count adjacent symbol pairs, frequency-weighted) -> (merge
    the best pair greedily in every word) -> re-pair. Output: the ordered
    merge table (merge_rank, sym_a, sym_b, merged, cnt) — the artifact a
    tokenizer ships.

    Scale shape — the property that matters at 100 TB: the corpus is
    scanned ONCE, for the word-frequency aggregation (map-side partial
    counts on word keys); the merge loop then iterates on the WORD-
    FREQUENCY frame (|distinct words| rows, corpus-size-independent,
    auto-coalesced to ~2M words/partition — 1 partition at test SFs, a
    handful at a 100 TB corpus's ~1e7 distinct words, sized from a cheap
    count so 40 rounds of tiny jobs don't pay 32-task scheduling each).
    Same driver-loop-with-convergence-probe shape as
    `duplicate_clusters`; each round localCheckpoints the rewritten vocab
    so plan depth stays O(1), and the best-pair collect is 1 row.

    Greedy merge application = string replace over a wrapped-symbol
    encoding (\\x02 sym \\x03 per symbol): replace() is left-to-right
    non-overlapping in both engines, and wrapping means consecutive
    matches share no boundary chars — "aaaa" merges to "aa","aa" exactly
    as BPE specifies. Ties break (cnt DESC, sym_a, sym_b), binary string
    order in both engines. Deterministic end-to-end; hash-exact vs the
    unrolled 40-round DuckDB oracle.
    """
    # use_cache=False: TRAINING is this query's deliverable — serving it
    # from the memo would elide the measured work (bench's best-of-N would
    # report a ~0.1 s cache hit and training regressions would vanish from
    # the official metric). The run still leaves the table in the artifact
    # cache for its consumers (bpe_encode_stats).
    return spark.createDataFrame(
        _bpe_merges(spark, sf_dir, use_cache=False),
        "merge_rank long, sym_a string, sym_b string, merged string, cnt long",
    )


def _bpe_merges(
    spark: SparkSession, sf_dir: str, use_cache: bool = True
) -> list[tuple]:
    """Run the merge loop (see bpe_vocab_train) over the corpus words and
    return the merge table [(rank, sym_a, sym_b, merged, cnt)]. The table is
    deterministic given the corpus (hash-free aggregation, total-order tie
    breaks), so consumers of the artifact (the encode pass) are served it
    from the session artifact cache when use_cache is True. The trainer
    passes False: its work product is the training, so it always runs it,
    and leaves the table (equal to any entry under the same data identity)
    in the cache for the consumers."""

    def train():
        docs = table(spark, sf_dir, "documents").filter(
            F.trim(F.coalesce("text", F.lit(""))) != ""
        )
        words = docs.select(F.explode(tokens("text")).alias("w")).filter(
            F.length("w") >= 2
        )
        return bpe_train(words, _BPE_N_MERGES)

    if use_cache:
        return artifacts.cached("bpe_merges", sf_dir, (), train)
    merges = train()
    return artifacts.cached("bpe_merges", sf_dir, (), lambda: merges)


def _bpe_train_driver(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple]:
    """In-memory Sennrich trainer with incremental pair counts over the
    collected (wrapped-sym, freq) vocabulary. Semantics-identical to the
    distributed loop: pair counts are freq-weighted adjacent-symbol
    counts; the best pair is (cnt DESC, a ASC, b ASC) (Python str
    comparison is code-point order == Spark UTF8String binary order for
    valid strings); application merges left-to-right non-overlapping —
    after a merge at i the scan resumes at the symbol AFTER the merged
    one, exactly the wrapped-string replace() semantics ("aaaa" + (a,a)
    -> "aa","aa"). Each round updates counts only for words CONTAINING
    the merged pair (delta = new pair multiset - old), the standard
    trainer optimization; zero-count pairs are dropped so 'pair exists'
    matches the recount-from-scratch view every round."""
    syms_list: list[list[str]] = []
    freqs: list[int] = []
    for sym, freq in vocab:
        # strip the outer C2..C3 and split on C3+C2 boundaries
        syms_list.append(sym[1:-1].split(_BPE_C3 + _BPE_C2))
        freqs.append(freq)
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(syms_list):
        f = freqs[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(wi)
    merges: list[tuple] = []
    for i in range(1, n_merges + 1):
        if not pair_counts:
            break  # pairs ran dry (degenerate corpus); oracle no-ops too
        (a, b), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((i, a, b, a + b, int(cnt)))
        merged = a + b
        for wi in sorted(pair_words.get((a, b), ())):
            syms = syms_list[wi]
            f = freqs[wi]
            old_pairs = list(zip(syms, syms[1:]))
            new_syms: list[str] = []
            j = 0
            n = len(syms)
            while j < n:
                if j < n - 1 and syms[j] == a and syms[j + 1] == b:
                    new_syms.append(merged)
                    j += 2
                else:
                    new_syms.append(syms[j])
                    j += 1
            syms_list[wi] = new_syms
            delta: dict[tuple[str, str], int] = {}
            for p in old_pairs:
                delta[p] = delta.get(p, 0) - 1
            for p in zip(new_syms, new_syms[1:]):
                delta[p] = delta.get(p, 0) + 1
            for p, d in delta.items():
                if d == 0:
                    continue
                c = pair_counts.get(p, 0) + d * f
                if c > 0:
                    pair_counts[p] = c
                    pair_words.setdefault(p, set()).add(wi)
                else:
                    pair_counts.pop(p, None)
                    pair_words.pop(p, None)
            # membership upkeep for pairs this word no longer contains
            new_set = set(zip(new_syms, new_syms[1:]))
            for p in set(old_pairs) - new_set:
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wi)
                    if not ws:
                        pair_words.pop(p, None)
    return merges


#: bpe_train runs its merge loop on the driver while the distinct-word
#: vocabulary has at most this many words; past it the Spark loop runs.
BPE_DRIVER_MAX_WORDS = 1_000_000


def bpe_train(words: DataFrame, n_merges: int) -> list[tuple]:
    """The Sennrich merge loop over a (w: string) word frame — factored out
    of _bpe_merges so tests can pin it against an independent pure-Python
    BPE model on arbitrary word lists (the DuckDB oracle shares the
    wrapped-replace application strategy, so it cannot catch a common-mode
    bug in that encoding; the tuple-level Python model can).

    Two interchangeable executions of the SAME merge sequence: when the
    distinct-word vocabulary fits the driver comfortably
    (BPE_DRIVER_MAX_WORDS, 1M words), the loop runs as
    the classic in-memory trainer with INCREMENTAL pair counts — exactly
    how SentencePiece/HF tokenizers train after a distributed word count
    — touching only the words that contain each merged pair instead of
    paying 40 rounds of Spark jobs on a tiny frame (measured ~200 ms of
    scheduler overhead per round at sf0.1). Above the bound the
    distributed loop below runs unchanged (a 100 TB corpus's ~1e7-word
    vocabulary takes that path). Both paths: greedy left-to-right
    non-overlapping merge application, (cnt DESC, a, b) tie-break —
    result equality is pinned in pytest."""
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            # (?s): Java's bare '.' skips U+0085/U+2028/U+2029 (which survive
            # \s+ tokenization) while RE2's matches them — without DOTALL a
            # word containing one would wrap differently per engine (r6
            # review). \n itself can't appear inside a token in either.
            F.regexp_replace("w", "(?s)(.)", _BPE_C2 + "$1" + _BPE_C3).alias("sym"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    # Auto-sized loop partitioning: the vocab frame is |distinct words| rows
    # — 40 rounds of 32-task jobs on a tiny frame would be pure scheduling
    # overhead, but one partition stops scaling at a 100 TB corpus's ~1e7
    # distinct words (Heaps' law). Size from a cheap count() of the already-
    # checkpointed frame (no re-aggregation; one tiny job amortized over all
    # rounds): ~2M wrapped words per partition, so sf0.1 still runs the loop
    # on 1 partition while a 100 TB vocab gets a handful. coalesce on the
    # checkpointed frame is narrow — no second materialization.
    n_words = vocab.count()
    if n_words <= BPE_DRIVER_MAX_WORDS:
        return _bpe_train_driver(
            [(r["sym"], int(r["freq"])) for r in vocab.collect()], n_merges
        )
    parts = max(1, -(-int(n_words) // 2_000_000))
    if parts < vocab.rdd.getNumPartitions():
        vocab = vocab.coalesce(parts)
    # CASE guard: Spark's sequence(1, 0) is DESCENDING [1, 0] (not empty like
    # DuckDB's generate_series), so a fully-merged single-symbol word would
    # drive element_at out of bounds under ANSI.
    adjacent = F.expr(
        "CASE WHEN size(_s) < 2 THEN array() ELSE "
        "transform(sequence(1, size(_s) - 1), "
        "j -> struct(element_at(_s, j) AS a, element_at(_s, j + 1) AS b)) END"
    )
    merges: list[tuple] = []
    for i in range(1, n_merges + 1):
        syms = F.split(
            F.substring(F.col("sym"), 2, F.length("sym") - 2), _BPE_C3 + _BPE_C2
        )
        best = (
            vocab.select(syms.alias("_s"), "freq")
            .select(F.explode(adjacent).alias("_p"), "freq")
            .groupBy("_p.a", "_p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break  # pairs ran dry (degenerate corpus); oracle rounds no-op too
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((i, a, b, a + b, cnt))
        vocab = (
            vocab.select(
                F.replace(
                    F.col("sym"),
                    F.lit(_BPE_C2 + a + _BPE_C3 + _BPE_C2 + b + _BPE_C3),
                    F.lit(_BPE_C2 + a + b + _BPE_C3),
                ).alias("sym"),
                "freq",
            )
            # a word collapsed to ONE symbol can never pair again nor be
            # rewritten — drop it, the loop frame shrinks monotonically
            .filter(F.col("sym").contains(_BPE_C3 + _BPE_C2))
            # lazy: round i+1's best-pair job materializes the rewrite and
            # pins it in one pass — eager=True was a second job per round
            .localCheckpoint(eager=False)
        )
    return merges


def bpe_encode_expr(word_col, merges: list[tuple]):
    """Encode a word column under a trained merge table: wrap chars, chain
    the literal replaces in training order. Returns the wrapped-symbol
    string column (split on C3+C2 after stripping the outer wrappers to
    get symbols). Shared by bpe_encode_stats and the model tests."""
    enc = F.regexp_replace(word_col, "(?s)(.)", _BPE_C2 + "$1" + _BPE_C3)
    for _rank, a, b, _merged, _cnt in merges:
        enc = F.replace(
            enc,
            F.lit(_BPE_C2 + a + _BPE_C3 + _BPE_C2 + b + _BPE_C3),
            F.lit(_BPE_C2 + a + b + _BPE_C3),
        )
    return enc


@register("bpe_encode_stats", oracle=_bpe_encode_oracle(_BPE_N_MERGES))
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE tokenizer to the corpus — the other half of
    the train/apply pair (`bpe_vocab_train` ships the merge table; this is
    the encode pass a training pipeline runs on every shard): per source,
    word-occurrence count, subword-token count under the 40 trained
    merges, and the subwords-per-word compression ratio.

    The merge table comes from `_bpe_merges` (memoized per sf_dir — the
    trained tokenizer is a model artifact, same reuse discipline as the
    ANN quantizer fits). Application is the merge sequence folded into ONE
    static expression: wrap chars, chain the 40 literal replaces in
    training order, count symbols — all whole-stage-codegen in the scan
    projection, so encoding is embarrassingly parallel with zero extra
    shuffles before the per-source aggregate. Greedy left-to-right
    non-overlapping replace over the wrapped-symbol encoding is exactly
    BPE application, and sequential merge order is what Sennrich encoding
    specifies. At 100 TB the merge table is a ~50 KB broadcast-sized
    artifact; per-occurrence application like this is the standard shape
    (the alternative — encode the distinct-word vocab then dictionary-join
    — trades the replace chain for a corpus shuffle; not worth it while
    the chain is codegen'd). The oracle re-derives the same merges via the
    unrolled chain and joins occurrences to the encoded vocabulary —
    hash-exact despite the different application strategies because
    encode(word) is a pure deterministic function.

    Scale: encoding is corpus-LINEAR by necessity (every occurrence is
    encoded) with constant per-token work — the correct bound for a
    scan-side transformation. The 8x scale_check reading (8.3x) bills the
    one-time merge TRAINING to the single cold run (different sf_dir =
    cache miss); the steady-state encode pass alone is ~1 s at sf0.1.
    """
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    merges = _bpe_merges(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    occ = docs.select("source", F.explode(tokens("text")).alias("w"))
    # aggregate-first dictionary encode (r12 opt, guide §2.3 aggregate
    # before you shuffle / §1.2 don't compute what repeats): the replace
    # chain is a pure function of the WORD, so fold occurrences to
    # (source, word, cnt) — map-side partial aggregation means the
    # corpus never shuffles, only each task's distinct (source, word)
    # partials (vocabulary-sized by Heaps' law, the bpe_roundtrip_check
    # argument) — and run the 40-step chain once per distinct row,
    # weighting the sums by cnt. Integer-weighted sums of the same
    # per-word integers: totals identical to the per-occurrence form.
    wc = occ.groupBy("source", "w").agg(F.count("*").alias("cnt"))
    enc = bpe_encode_expr(F.col("w"), merges)
    n_sub = F.size(
        F.split(F.substring(enc, 2, F.length(enc) - 2), _BPE_C3 + _BPE_C2)
    ).cast("long")
    return (
        wc.select("source", "cnt", n_sub.alias("n_sub"))
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("n_sub") * F.col("cnt")).alias("n_subwords"),
        )
        .select(
            "source",
            "n_words",
            "n_subwords",
            trunc6(
                F.col("n_subwords").cast("double") / F.col("n_words")
            ).alias("subwords_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# Byte-fallback BPE encode — real byte-level tokenizers (GPT-2, SentencePiece
# byte mode) never emit UNK: a character outside the trained alphabet
# decomposes to its UTF-8 byte symbols. The corpus alphabet is a bounded
# model artifact (distinct chars of the training words); unknown chars are
# counted and re-billed at their byte width, all in the scan projection.
# ---------------------------------------------------------------------------

#: deterministic out-of-alphabet probe row, planted on the ENCODE side only
#: (never the training side): every word is built PURELY from chars outside
#: the corpus alphabet (non-ASCII; the corpus is ASCII at every sf), so its
#: trained-merge encode is the identity (no merge can contain an unseen
#: char) and its token count is exactly its UTF-8 byte count — which keeps
#: the DuckDB oracle chain-free for unseen words AND makes the fallback
#: path non-vacuous at the driver's sf (2-byte e-acute/n-tilde/pi + 3-byte
#: euro: 9 fallback byte tokens from 3 words).
_FALLBACK_PROBE_SOURCE = "zz_fallback_probe"
_FALLBACK_PROBE_TEXT = "é €ñ π"


def _bpe_fallback_oracle(n: int) -> str:
    """Oracle for the byte-fallback encode pass: the trained-merge chain
    encodes every corpus word (carry_word CTEs, as in _bpe_encode_oracle);
    the probe row's unknown-only words encode as len(w) symbols by
    construction; per-word unknown-char/byte stats come from a char unnest
    anti-joined against the alphabet CTE (chars of len>=2 training words)."""
    parts = _bpe_chain_ctes(n, carry_word=True)
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT w, CAST(len(string_split(substr(sym, 2, len(sym) - 2),
                                  chr(3) || chr(2))) AS BIGINT) AS n_sub
  FROM w{n}
),
alpha AS (
  SELECT DISTINCT unnest(string_split(w, '')) AS ch
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE trim(COALESCE(text,'')) <> '')
  WHERE len(w) >= 2
),
occ AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE trim(COALESCE(text,'')) <> ''
  UNION ALL
  SELECT '{_FALLBACK_PROBE_SOURCE}' AS source,
         unnest(regexp_split_to_array('{_FALLBACK_PROBE_TEXT}', '\\s+')) AS w
),
enc_all AS (
  SELECT w, n_sub FROM enc
  UNION ALL
  SELECT DISTINCT w, CAST(len(w) AS BIGINT) AS n_sub
  FROM occ WHERE w NOT IN (SELECT w FROM enc)
),
wstats AS (
  SELECT w,
         CAST(SUM(CASE WHEN ch IN (SELECT ch FROM alpha) THEN 0 ELSE 1 END)
              AS BIGINT) AS n_unknown,
         CAST(SUM(CASE WHEN ch IN (SELECT ch FROM alpha) THEN 0
                       ELSE octet_length(encode(ch)) END) AS BIGINT) AS n_bytes
  FROM (SELECT w, unnest(string_split(w, '')) AS ch
        FROM (SELECT DISTINCT w FROM occ))
  GROUP BY w
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT o.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_sub - s.n_unknown + s.n_bytes) AS BIGINT) AS n_tokens,
       CAST(SUM(s.n_bytes) AS BIGINT) AS n_byte_fallback_tokens
FROM occ o JOIN enc_all e ON o.w = e.w JOIN wstats s ON o.w = s.w
GROUP BY o.source"""
    )


@register("bpe_encode_fallback_stats", oracle=_bpe_fallback_oracle(_BPE_N_MERGES))
def bpe_encode_fallback_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode with BYTE FALLBACK (r6 verdict ask #3): chars absent from
    the trained alphabet never emit UNK — they decompose to their UTF-8
    byte symbols, exactly the GPT-2 / byte-level-SentencePiece contract.
    Per source: word count, total token count under the 40 trained merges
    WITH fallback accounting (an unknown char's single symbol is re-billed
    as octet_length bytes), and the fallback byte-token count itself.

    Artifacts: the merge table (memoized per corpus identity, as in
    bpe_encode_stats) plus the ALPHABET — the distinct chars of the len>=2
    training words, a bounded driver-side collect (24 chars at every
    TESTDATA sf; ~1e2-1e3 for real corpora — the tokenizer ships it next
    to the merges). Encoding stays all-native in the scan projection: the
    replace chain counts symbols; unknown chars come from
    filter(split(w,''), c -> !array_contains(alphabet, c)) with their byte
    widths summed by F.aggregate + octet_length — zero extra shuffles
    before the per-source aggregate, corpus-linear like bpe_encode_stats.

    The corpus is pure ASCII inside the alphabet at every TESTDATA sf, so
    a deterministic probe row (source zz_fallback_probe) of PURELY
    out-of-alphabet words is planted on the encode side — the fallback
    path is exercised non-vacuously (9 byte tokens from 3 words: 2+2+2+3
    bytes) and, because no trained merge can touch an unseen char, its
    encode is the identity and the oracle prices it at len(w) symbols
    without re-deriving the chain for unseen words. pytest pins mixed
    known/unknown words against the independent Python BPE model."""
    merges = _bpe_merges(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    # alphabet artifact: distinct chars of the len>=2 training words.
    # Dedup WORDS before exploding chars (r12 opt, §2.3): the word-level
    # distinct partial-aggregates map-side, so the char explode runs over
    # the vocabulary instead of every corpus occurrence — same set either
    # way (char set of distinct words == char set of all occurrences).
    alphabet = sorted(
        r["ch"]
        for r in docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .distinct()
        .select(F.explode(F.split("w", "")).alias("ch"))
        .distinct()
        .collect()
    )
    alph_lit = F.array(*[F.lit(c) for c in alphabet])
    probe = spark.createDataFrame(
        [(_FALLBACK_PROBE_SOURCE, _FALLBACK_PROBE_TEXT)], "source string, text string"
    )
    occ = (
        docs.select("source", "text")
        .unionByName(probe)
        .select("source", F.explode(tokens("text")).alias("w"))
    )
    # aggregate-first dictionary encode (r12 opt, §2.3 — the
    # bpe_encode_stats shape): chain + fallback accounting are pure
    # functions of the word, so fold to (source, word, cnt) with map-side
    # partial aggregation and price each distinct row once, weighted by
    # cnt. Integer-weighted sums of the same per-word integers — totals
    # identical to the per-occurrence form.
    wc = occ.groupBy("source", "w").agg(F.count("*").alias("cnt"))
    enc = bpe_encode_expr(F.col("w"), merges)
    n_sub = F.size(
        F.split(F.substring(enc, 2, F.length(enc) - 2), _BPE_C3 + _BPE_C2)
    ).cast("long")
    unknown = F.filter(
        F.split("w", ""), lambda c: ~F.array_contains(alph_lit, c)
    )
    n_unknown = F.size(unknown).cast("long")
    n_bytes = F.aggregate(
        unknown, F.lit(0).cast("long"), lambda acc, c: acc + F.octet_length(c)
    )
    return (
        wc.select(
            "source",
            "cnt",
            (n_sub - n_unknown + n_bytes).alias("tok"),
            n_bytes.alias("fb"),
        )
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("tok") * F.col("cnt")).alias("n_tokens"),
            F.sum(F.col("fb") * F.col("cnt")).alias("n_byte_fallback_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer round-trip certificate — decode(encode(x)) == x, the invariant
# every production tokenizer test pins (r7 verdict ask #5). Decode is the
# merge table's INVERSE folded into one replace chain in REVERSE rank order:
# each merged symbol token <ab> rewrites to <a><b>; symbols produced by
# earlier ranks expand at later steps of the reverse chain, so only plain
# wrapped chars remain — and that is exactly the char-wrapped original.
# Robust even if two merges produce the same merged STRING via different
# splits: every expansion path of a symbol yields its constituent char
# sequence, and the comparison is at char level.
# ---------------------------------------------------------------------------


def _bpe_roundtrip_oracle(n: int) -> str:
    """Round-trip oracle: token counts re-derived via the carry-word merge
    chain (as in _bpe_encode_oracle); the mismatch column is the LITERAL 0
    the invariant demands — if the Spark-side decode chain ever fails to
    reproduce a word, its nonzero mismatch count hash-fails against this."""
    parts = _bpe_chain_ctes(n, carry_word=True)
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT w, CAST(len(string_split(substr(sym, 2, len(sym) - 2),
                                  chr(3) || chr(2))) AS BIGINT) AS n_sub
  FROM w{n}
),
occ AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE trim(COALESCE(text,'')) <> ''
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT o.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_sub) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_roundtrip_mismatch
FROM occ o JOIN enc e ON o.w = e.w
GROUP BY o.source"""
    )


def bpe_decode_expr(enc_col, merges: list[tuple]):
    """Invert a trained merge table over a wrapped-symbol encoding: chain
    the literal replaces <merged> -> <a><b> in REVERSE training order.
    Shared by bpe_roundtrip_check and the model tests."""
    dec = enc_col
    for _rank, a, b, merged, _cnt in reversed(merges):
        dec = F.replace(
            dec,
            F.lit(_BPE_C2 + merged + _BPE_C3),
            F.lit(_BPE_C2 + a + _BPE_C3 + _BPE_C2 + b + _BPE_C3),
        )
    return dec


@register("bpe_roundtrip_check", oracle=_bpe_roundtrip_oracle(_BPE_N_MERGES))
def bpe_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode(encode(word)) == word over EVERY corpus word occurrence — the
    losslessness certificate a production tokenizer ships with (HuggingFace
    tokenizers' round-trip tests; SentencePiece's --hard_vocab_limit
    checks). Encode chains the 40 trained merges forward; decode chains
    their inverses in reverse rank order; the decoded wrapped string is
    compared against the char-wrapped original exactly. Output per source:
    word count, token count (re-derived independently by the DuckDB merge
    chain), and the exact mismatch count — 0 rows for every source, pinned
    by the oracle's literal zero, so a wrong merged string in the table, a
    mis-nested wrapper, or a non-greedy application all hash-fail.

    Scale: the 80-literal-replace chain (40 encode + 40 decode) runs over
    the DISTINCT-WORD vocabulary, not per occurrence — encode(word) is a
    pure function, and chain cost grows with word length, so billing it
    per occurrence measured 1.56-of-linear at 8x (scale_check's replica
    suffixes lengthen words); occurrences then join the encoded vocabulary
    on the word key (one shuffle of (source, word) pairs — the exact
    shape the oracle's enc-CTE-join uses, and the standard trade once
    per-word work stops being constant: vocabulary is ~1e7 rows at 100 TB
    by Heaps' law, 1000x smaller than the occurrence stream). Re-measured
    0.27-of-linear at 8x. The merge table is the memoized ~50 KB artifact
    (_bpe_merges)."""
    merges = _bpe_merges(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    occ = docs.select("source", F.explode(tokens("text")).alias("w"))
    enc = bpe_encode_expr(F.col("w"), merges)
    n_sub = F.size(
        F.split(F.substring(enc, 2, F.length(enc) - 2), _BPE_C3 + _BPE_C2)
    ).cast("long")
    wrapped_orig = F.regexp_replace(
        F.col("w"), "(?s)(.)", _BPE_C2 + "$1" + _BPE_C3
    )
    mismatch = (bpe_decode_expr(enc, merges) != wrapped_orig).cast("long")
    vocab = occ.select("w").distinct().select(
        "w", n_sub.alias("n_sub"), mismatch.alias("mm")
    )
    return (
        occ.join(vocab, "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_tokens"),
            F.sum("mm").alias("n_roundtrip_mismatch"),
        )
    )


# ---------------------------------------------------------------------------
# Split-leakage audit — near-dup pairs straddling the train/dev/test split.
# The classic training-data bug: dedup and splitting done independently
# leave a test doc whose near-duplicate sits in train, silently inflating
# eval. Composes two verified pieces (the deterministic hash split of
# training_corpus_prep and the exact Jaccard pair join) into the audit a
# pipeline runs before shipping a corpus.
# ---------------------------------------------------------------------------

_SPLIT_LEAKAGE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         {SPLIT_ORACLE_SQL.format(col="doc_id")} AS split
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
leaks AS (
  SELECT a.split AS split_a, b.split AS split_b, a.doc_id AS id_a, b.doc_id AS id_b
  FROM base a JOIN base b ON a.lang = b.lang AND a.source = b.source
  WHERE a.doc_id < b.doc_id
    AND a.split <> b.split
    AND ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tok, b.tok))), 6) >= 0.5
)
SELECT split_a, split_b,
       CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs,
       CAST(arg_min(id_a, printf('%020d%020d', id_a, id_b)) AS BIGINT) AS example_id_a,
       CAST(arg_min(id_b, printf('%020d%020d', id_a, id_b)) AS BIGINT) AS example_id_b
FROM leaks GROUP BY split_a, split_b
""".strip()


@register("split_leakage_check", oracle=_SPLIT_LEAKAGE_ORACLE)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (token-set Jaccard >= 0.5 within (lang, source))
    whose endpoints land in DIFFERENT splits of the deterministic
    md5-nibble train/dev/test split — the eval-inflation audit every
    training pipeline should run before a corpus ships (dedup-then-split
    done independently leaves test docs with train-side near-duplicates).

    Scale shape: the pair side is the registered prefix-filter Jaccard
    join (corpus-linear candidate generation); the split is a pure
    function of doc_id computed in the join's projection — no extra scan,
    no extra shuffle beyond the final tiny (split_a, split_b) aggregate.
    Ordered pairs come out of the join as id_a < id_b, so (split_a,
    split_b) is reported in id order, not canonicalized — (train, test)
    and (test, train) are distinct rows, both leakage. example_id_a/_b is
    the lexicographically smallest ACTUAL leaky pair in the cell (min_by
    on a zero-padded pair key — independent per-column MINs could name two
    ids that never paired, r6 review), so an auditor can inspect it
    directly. The split expression is the shared `split_expr` — the same
    definition training_corpus_prep ships, so the audit can't silently
    diverge from the split in production.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    pairs = jaccard_pairs(docs, "text", "doc_id", ["lang", "source"], threshold=0.5)

    # AGGREGATE FIRST over all (split_a, split_b) cells, then filter the
    # <=9-row result: a filter BEFORE the agg gets pushed by Catalyst below
    # the verify joins and the candidate distinct, where the md5 split
    # evaluates per CANDIDATE occurrence (posting-list fan-out, millions of
    # rows at sf0.1) instead of per verified pair — measured +2.6 s warm.
    # Catalyst also pushes a grouping-key filter back below the aggregate
    # (it commutes), so the tiny agg result is pinned with a lazy
    # localCheckpoint as an optimizer fence before the filter (PERF §2.17).
    pair_key = F.format_string("%020d%020d", F.col("id_a"), F.col("id_b"))
    cells = (
        pairs.groupBy(
            split_expr(F.col("id_a")).alias("split_a"),
            split_expr(F.col("id_b")).alias("split_b"),
        )
        .agg(
            F.count("*").alias("n_leaky_pairs"),
            F.min_by("id_a", pair_key).alias("example_id_a"),
            F.min_by("id_b", pair_key).alias("example_id_b"),
        )
        .localCheckpoint(eager=False)
    )
    return cells.filter(F.col("split_a") != F.col("split_b"))


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document by
# how much more likely its hashed-ngram features are under a TARGET domain
# than under the raw corpus — the standard cheap data-selection signal when
# a quality classifier is too expensive to run at 100 TB.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TARGET_SOURCE = "src0"  # the designated high-quality target domain

#: md5-nibble feature bucket, identical in Spark and DuckDB (both engines
#: md5 the UTF-8 string and emit lowercase hex; two nibbles -> 256 buckets).
#: Same expression, two spellings: DuckDB's strpos == Spark's instr.
_DSIR_BUCKET_SQL = (
    "(({pos}('0123456789abcdef', substr(md5({g}), 1, 1)) - 1) * 16"
    " + ({pos}('0123456789abcdef', substr(md5({g}), 2, 1)) - 1))"
)

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS tk
  FROM documents WHERE trim(COALESCE(text,'')) <> ''
),
feats AS (
  SELECT doc_id, source,
         {_DSIR_BUCKET_SQL.format(g="tk[j] || ' ' || tk[j+1]", pos="strpos")} AS b
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(j)
  WHERE len(tk) >= 2
),
counts AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS s_cnt,
         CAST(SUM(CASE WHEN source = '{_DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END)
              AS BIGINT) AS t_cnt
  FROM feats GROUP BY b
),
tot AS (SELECT SUM(s_cnt) AS s_tot, SUM(t_cnt) AS t_tot FROM counts),
lr AS (
  SELECT b, floor(ln((t_cnt + 1.0) * (s_tot + {_DSIR_BUCKETS}.0)
                     / ((s_cnt + 1.0) * (t_tot + {_DSIR_BUCKETS}.0))) * 1000000)
            / 1000000 AS lw
  FROM counts, tot
)
SELECT f.doc_id, f.source,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(CAST(lr.lw AS DECIMAL(18,6))) AS DOUBLE) AS log_weight,
       floor(CAST(SUM(CAST(lr.lw AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             * 1000000) / 1000000 AS avg_log_weight
FROM feats f JOIN lr ON lr.b = f.b
GROUP BY f.doc_id, f.source
""".strip()


@register("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-ngram importance weights for data selection (DSIR, Xie et
    al. 2023): per document, the log-likelihood ratio of its word-bigram
    features under the TARGET domain vs the raw corpus, with Laplace
    smoothing over 256 md5-nibble buckets. Downstream, sampling documents
    by these weights (importance resampling) reshapes a raw 100 TB crawl
    toward the target distribution without running a classifier over it.

    Scale shape: bucket counts are ONE corpus aggregation with map-side
    partial combine (the 256-key shuffle is constant-size); the per-bucket
    log-ratio table is a 256-row broadcast model artifact (pinned — it
    feeds the doc join and the totals), so the scoring pass is a
    broadcast-joined scan projection followed by the per-doc aggregate.
    The bigram explode is deliberately NOT pinned: the materialized
    feature frame is larger than the corpus text, so recomputing it for
    the scoring pass (2 scans total) beats writing it out — the same
    call the shard pipeline makes for its shingle frames.

    Determinism: the bucket hash is the shared md5-nibble scheme (the
    split_expr fence family — identical hex in both engines); per-bucket
    log-ratios are computed from pure-integer counts (identical doubles),
    trunc6-quantized at the BUCKET level, and per-doc sums run in
    DECIMAL(18,6) so summation order can't wobble the hash. Documents
    with <2 tokens have no bigram features and are excluded (documented
    contract; DSIR on unigrams would cover them)."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    tk = tokens("text")
    bigrams = F.expr(
        "transform(sequence(1, size(_tk) - 1), "
        "j -> concat(element_at(_tk, j), ' ', element_at(_tk, j + 1)))"
    )
    feats = (
        docs.select("doc_id", "source", tk.alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select("doc_id", "source", F.explode(bigrams).alias("g"))
        .select(
            "doc_id",
            "source",
            F.expr(_DSIR_BUCKET_SQL.format(g="g", pos="instr")).alias("b"),
        )
    )
    # (doc, bucket)-grouped feature counts, pinned (r12 opt, guide §6):
    # the raw feature frame previously re-ran the tokenize + bigram
    # explode + per-bigram md5 for BOTH the bucket-count aggregation and
    # the scoring join. pg is <= n_docs x 256 rows of four integers —
    # far smaller than the corpus text at any scale (the raw exploded
    # frame is bigger than the corpus, which is why THAT was never
    # pinned) — so one pinned pass feeds both branches.
    pg = (
        feats.groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    counts = (
        pg.groupBy("b")
        .agg(
            F.sum("cnt").alias("s_cnt"),
            F.sum(
                F.when(
                    F.col("source") == _DSIR_TARGET_SOURCE, F.col("cnt")
                ).otherwise(F.lit(0))
            ).alias("t_cnt"),
        )
        # tiny (<=256 rows) but feeds two branches (totals + the scoring
        # join): pinned so neither re-runs the aggregation
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.sum("s_cnt").alias("s_tot"), F.sum("t_cnt").alias("t_tot")
    )
    lw = F.lit(1.0) * (
        (F.col("t_cnt") + 1.0) * (F.col("s_tot") + float(_DSIR_BUCKETS))
        / ((F.col("s_cnt") + 1.0) * (F.col("t_tot") + float(_DSIR_BUCKETS)))
    )
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "b", trunc6(F.log(lw)).alias("lw")
    )
    # per-doc sums weight each bucket's lw by cnt: cnt x d equals the
    # former per-feature-row decimal sum exactly — lw is trunc6'd with
    # |lw| < 1e3, so decimal(9,6) holds the identical value and
    # bigint x decimal(9,6) stays at precision 30 <= 38 (no silent
    # scale truncation; the skipgram lesson)
    return (
        pg.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_features"),
            F.sum(F.col("cnt") * F.col("lw").cast("decimal(9,6)"))
            .cast("double")
            .alias("log_weight"),
        )
        .select(
            "doc_id",
            "source",
            "n_features",
            "log_weight",
            trunc6(F.col("log_weight") / F.col("n_features")).alias(
                "avg_log_weight"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PPS systematic resampling (r10) — the SELECTION step importance/length
# weighting feeds: pick K documents with probability proportional to size
# (token count) via systematic sampling (evenly spaced thresholds over the
# cumulative weight line — the classic survey-sampling / particle-filter
# resampler; shard samplers use exactly this to draw documents
# length-proportionally). Everything is INTEGER algebra: thresholds
# t_i = floor((2i+1)*T / 2K), doc j owns i iff cum_{j-1} <= t_i < cum_j,
# inverted per doc into an arithmetic [i_lo, i_hi] range — NO threshold
# join, no RAND(), one exploded projection.
# ---------------------------------------------------------------------------

_PPS_K = 64
_PPS_FAN = 64  # prefix-sum bucket fan-in (doc_id div fan)

_PPS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST({TOKEN_COUNT_ORACLE_SQL.format(col='text')} AS BIGINT) AS nt
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
c AS (
  SELECT doc_id, nt,
         SUM(nt) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
),
tt AS (SELECT CAST(SUM(nt) AS BIGINT) AS t FROM d),
rng AS (
  SELECT doc_id, nt, cum - nt AS cum_prev, cum, tt.t,
         CASE WHEN {2 * _PPS_K} * (cum - nt) <= tt.t THEN 0
              ELSE ({2 * _PPS_K} * (cum - nt) - tt.t + 2 * tt.t - 1)
                   // (2 * tt.t) END AS i_lo,
         LEAST(CASE WHEN {2 * _PPS_K} * cum <= tt.t THEN -1
                    ELSE ({2 * _PPS_K} * cum - tt.t - 1) // (2 * tt.t) END,
               {_PPS_K - 1}) AS i_hi
  FROM c, tt
)
SELECT CAST(u.i AS BIGINT) AS pick_i, doc_id,
       nt AS n_tokens, CAST(cum_prev AS BIGINT) AS cum_prev,
       CAST(((2 * u.i + 1) * t) // {2 * _PPS_K} AS BIGINT) AS threshold
FROM rng, unnest(generate_series(CAST(i_lo AS BIGINT), CAST(i_hi AS BIGINT))) u(i)
WHERE i_hi >= i_lo
""".strip()


@register("pps_systematic_sample", oracle=_PPS_ORACLE)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sample of 64 documents
    (weight = token count): thresholds t_i = floor((2i+1)*T/128) march
    evenly up the cumulative token line; each document inverts the
    threshold inequality into an arithmetic [i_lo, i_hi] pick range and
    explodes it — exactly 64 rows, every value integer-exact, the whole
    draw under the driver hash. No RAND(), no threshold join (a
    K-row-spine BETWEEN join would broadcast-nested-loop over the
    corpus); changing K or the weight column redraws deterministically.

    Scale shape: the cumulative sum is HIERARCHICAL, not a
    single-partition window — per-bucket (doc_id div 64) running sums
    partition-parallel, bucket offsets from a bucket-level range join
    over the n/64-row bucket-sum frame (at 100 TB recurse the same
    two-step one more level: fan^3 = 262k-way reduction puts the top
    frame driver-bounded; each level is the same code). The oracle
    computes the same cumsum with one global window — identical VALUES,
    different physical strategy, which is the point: the plan never
    moves the corpus to one partition. Threshold inversion is a pure
    codegen projection; 2K*T must fit the integer domain (lift cum/T to
    DECIMAL(38,0) past ~7e16 total tokens)."""
    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    d = docs.select(
        "doc_id",
        token_count("text").alias("nt"),
        F.expr(f"doc_id div {_PPS_FAN}").alias("b"),
    )
    from pyspark.sql.window import Window as W

    wb = W.partitionBy("b").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    within = d.select("doc_id", "nt", "b", F.sum("nt").over(wb).alias("in_cum"))
    bs = d.groupBy("b").agg(F.sum("nt").alias("ss")).localCheckpoint(eager=True)
    off = (
        bs.select(F.col("b").alias("xb"))
        .join(
            bs.select(F.col("b").alias("yb"), F.col("ss").alias("yss")),
            F.col("yb") < F.col("xb"),
            "left",
        )
        .groupBy(F.col("xb").alias("b"))
        .agg(F.coalesce(F.sum("yss"), F.lit(0)).alias("off"))
    )
    c = within.join(F.broadcast(off), "b").select(
        "doc_id",
        "nt",
        (F.col("in_cum") + F.col("off")).alias("cum"),
    )
    tt = d.agg(F.sum("nt").cast("long").alias("t"))
    k2 = 2 * _PPS_K
    rng = (
        c.crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            "nt",
            (F.col("cum") - F.col("nt")).alias("cum_prev"),
            "cum",
            "t",
        )
        .select(
            "doc_id",
            "nt",
            "cum_prev",
            "t",
            F.when(F.lit(k2) * F.col("cum_prev") <= F.col("t"), F.lit(0))
            .otherwise(
                F.expr(
                    f"({k2} * cum_prev - t + 2 * t - 1) div (2 * t)"
                )
            )
            .alias("i_lo"),
            F.least(
                F.when(F.lit(k2) * F.col("cum") <= F.col("t"), F.lit(-1)).otherwise(
                    F.expr(f"({k2} * cum - t - 1) div (2 * t)")
                ),
                F.lit(_PPS_K - 1),
            ).alias("i_hi"),
        )
    )
    return (
        rng.filter(F.col("i_hi") >= F.col("i_lo"))
        .select(
            F.explode(F.sequence("i_lo", "i_hi")).alias("pick_i"),
            "doc_id",
            F.col("nt").alias("n_tokens"),
            F.col("cum_prev").cast("long").alias("cum_prev"),
            "t",
        )
        .select(
            F.col("pick_i").cast("long"),
            "doc_id",
            "n_tokens",
            "cum_prev",
            F.expr(f"((2 * pick_i + 1) * t) div {k2}").cast("long").alias("threshold"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — BM25 + vector cosine fused by Reciprocal Rank Fusion
# (Cormack et al. 2009), the standard RAG retrieval shape: two independent
# rankers, rank-level fusion (RRF needs no score calibration between a
# BM25 scale and a cosine scale, which is why it's the default fusion).
# ---------------------------------------------------------------------------

_RRF_K = 60
_HYBRID_DEPTH = 50

#: CTE chain up to the fused RRF frame, shared by the hybrid top-20 oracle
#: and the rerank-stage oracle so the fusion formula can never fork between
#: them (same discipline as _BM25_SCORED_CTES).
_RRF_FUSED_CTES = f"""{_BM25_SCORED_CTES},
lex AS (
  SELECT doc_id, rank_t FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank_t
    FROM scored WHERE doc_id != 0
  ) WHERE rank_t <= {_HYBRID_DEPTH}
),
q AS (SELECT embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id = 0),
vcos AS (
  SELECT vec_id AS doc_id,
         ROUND(list_dot_product(embedding::DOUBLE[], q.q_vec)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_vec, q.q_vec))), 6) AS cos
  FROM embeddings, q WHERE vec_id != 0
),
vec AS (
  SELECT doc_id, rank_v FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS rank_v
    FROM vcos
  ) WHERE rank_v <= {_HYBRID_DEPTH}
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         CAST(l.rank_t IS NOT NULL AS BIGINT) AS in_lexical,
         CAST(v.rank_v IS NOT NULL AS BIGINT) AS in_vector,
         COALESCE(1.0 / ({_RRF_K} + l.rank_t), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + v.rank_v), 0.0) AS rrf
  FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
)"""

_HYBRID_RRF_ORACLE = f"""
WITH {_RRF_FUSED_CTES}
SELECT doc_id, in_lexical, in_vector,
       floor(rrf * 1000000) / 1000000 AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT 20
""".strip()


def _rrf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused RRF frame (doc_id, in_lexical, in_vector, rrf) shared by
    hybrid_search_rrf and the rerank stage — Python twin of
    _RRF_FUSED_CTES. See hybrid_search_rrf for semantics and scale shape."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )

    def ranked_topk(df: DataFrame, sort_col: str, rank_name: str) -> DataFrame:
        """Top-_HYBRID_DEPTH via orderBy().limit() — TakeOrderedAndProject,
        a distributed partial top-k — THEN ranked on the <=50-row result.
        A global row_number over the corpus-sized frame would move every
        row to one partition (the 100 TB killer). Sort keys written ONCE so
        the selection and the rank can't diverge (r7 review). The rank is
        monotonically_increasing_id over the coalesce(1)-sorted frame —
        contiguous 0..n-1 on a single partition, identical to row_number()
        over Window.orderBy(keys) here, but structurally free of the
        partitionless-WindowExec WARN spam that crowded the r7 bench tail
        (r7 verdict ask #6): the single partition is explicit in the plan,
        not a silent window side effect."""
        keys = [F.col(sort_col).desc(), F.col("doc_id").asc()]
        return (
            df.orderBy(*keys)
            .limit(_HYBRID_DEPTH)
            .coalesce(1)
            .sortWithinPartitions(*keys)
            .withColumn(
                rank_name, (F.monotonically_increasing_id() + 1).cast("int")
            )
            .select("doc_id", rank_name)
        )

    # lexical leg — the query DOC (doc_id 0, whose embedding is the query
    # vector) is excluded from BOTH legs, not just the vector one
    lex = ranked_topk(
        _bm25_scored(spark, sf_dir).filter(F.col("doc_id") != 0), "score", "rank_t"
    )
    # vector leg
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_vec(F.col("embedding")).alias("q_vec")
    )
    vec = ranked_topk(
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(as_double_vec(F.col("embedding")), F.col("q_vec")), 6
            ).alias("cos"),
        ),
        "cos",
        "rank_v",
    )
    return lex.join(vec, "doc_id", "full").select(
        "doc_id",
        F.col("rank_t").isNotNull().cast("long").alias("in_lexical"),
        F.col("rank_v").isNotNull().cast("long").alias("in_vector"),
        (
            F.coalesce(1.0 / (_RRF_K + F.col("rank_t")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_v")), F.lit(0.0))
        ).alias("rrf"),
    )


@register("hybrid_search_rrf", oracle=_HYBRID_RRF_ORACLE)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical top-50 and the exact-cosine
    vector top-50 (query = vec_id 0's embedding) fused by Reciprocal Rank
    Fusion, rrf = sum over legs of 1/(60 + rank) — rank-level fusion needs
    no cross-scale score calibration, which is why RRF is the default in
    every hybrid RAG stack. Top-20 fused docs with per-leg membership
    flags.

    Determinism: both legs rank on engine-identical values (the decimal-
    summed BM25 score; cosine rounded to 6dp) with doc_id tie-breaks, and
    the RRF score is a fixed-order sum of two reciprocals of small
    integers — bit-identical across engines, so even a LIMIT-boundary tie
    resolves the same way. Scale shape: each leg is its registered
    operator's plan (BM25: pre-agg term filter, broadcast stats; vector:
    broadcast 1-row query, partition-local scoring), each leg's top-50 is
    a distributed partial top-k (TakeOrderedAndProject — never a global
    row_number over the corpus), and the fusion joins two <=50-row
    frames — free at any corpus size. The QUERY document (doc_id 0,
    whose embedding is the query vector) is excluded from both legs;
    beyond that, the vector leg covers docs holding an embedding (vec_id
    space), the lexical leg all docs — RRF's COALESCE handles one-legged
    docs, which is fusion working as designed, not a gap."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    fused = _rrf_fused(spark, sf_dir)
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "in_lexical", "in_vector", trunc6(F.col("rrf")).alias("rrf_score"))
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia 2020), the
# candidate-bounded rerank stage, and the matryoshka truncation audit
# (Kusupati et al. 2022) — the remaining stages of a modern RAG stack on
# top of bm25_search / ann_* / hybrid_search_rrf.
# ---------------------------------------------------------------------------

_MAXSIM_T = 4  # token vectors per document (64-dim embedding -> 4 x 16)
_MAXSIM_D = 16  # dims per token vector
_MAXSIM_K = 10

_MAXSIM_ORACLE = f"""
WITH qtok AS (
  SELECT t.t AS t, (embedding::DOUBLE[])[(t.t*{_MAXSIM_D}+1):(t.t*{_MAXSIM_D}+{_MAXSIM_D})] AS qv
  FROM embeddings, unnest([0,1,2,3]) AS t(t)
  WHERE vec_id = 0
),
dtok AS (
  SELECT vec_id AS doc_id, d.d AS d,
         (embedding::DOUBLE[])[(d.d*{_MAXSIM_D}+1):(d.d*{_MAXSIM_D}+{_MAXSIM_D})] AS dv
  FROM embeddings, unnest([0,1,2,3]) AS d(d)
  WHERE vec_id != 0
),
best AS (
  SELECT doc_id, t,
         MAX(ROUND(list_dot_product(qv, dv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(dv, dv))), 6)) AS best_cos
  FROM dtok, qtok
  GROUP BY doc_id, t
),
scored AS (
  SELECT doc_id, CAST(SUM(CAST(best_cos AS DECIMAL(18,6))) AS DOUBLE) AS maxsim
  FROM best GROUP BY doc_id
)
SELECT doc_id, floor(maxsim * 1000000) / 1000000 AS maxsim_score
FROM scored ORDER BY maxsim DESC, doc_id ASC LIMIT {_MAXSIM_K}
""".strip()


@register("late_interaction_maxsim", oracle=_MAXSIM_ORACLE)
def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim retrieval: each embedding is
    treated as 4 token vectors of 16 dims (a fixed
    reshape of the stored vector — the container has no encoder, so the
    multi-vector layout is derived, not learned; the OPERATOR is the real
    thing). score(doc) = sum over query tokens t of max over doc tokens d
    of cos(q_t, d_d); top-10 docs for query vec_id 0.

    Scale shape: all 16 token-pair cosines are computed IN ONE PROJECTION
    over the scan (the 1-row query side is a broadcast cross join), the
    per-query-token max is F.greatest — not an explode + re-aggregate, so
    the corpus is never inflated 4x and there is ZERO shuffle before the
    distributed partial top-k (TakeOrderedAndProject). At 100 TB this is
    a single linear scan, which is exactly how a late-interaction scorer
    should burn down: per-row arithmetic, no state.

    Determinism: each cosine is rounded to 6dp (both engines share the
    left-to-right dot fold), the 4 per-token maxima sum exactly as
    DECIMAL(18,6), ordering tie-breaks on doc_id."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")

    def tokvecs(col):
        return [
            F.slice(col, t * _MAXSIM_D + 1, _MAXSIM_D) for t in range(_MAXSIM_T)
        ]

    q = emb.filter(F.col("vec_id") == 0).select(
        *[
            v.alias(f"qv{t}")
            for t, v in enumerate(tokvecs(as_double_vec(F.col("embedding"))))
        ]
    )
    d = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dv = tokvecs(as_double_vec(F.col("embedding")))
    best = [
        F.greatest(
            *[F.round(cosine(F.col(f"qv{t}"), dv[j]), 6) for j in range(_MAXSIM_T)]
        ).cast("decimal(18,6)")
        for t in range(_MAXSIM_T)
    ]
    maxsim = best[0]
    for b in best[1:]:
        maxsim = maxsim + b
    return (
        d.select(
            F.col("vec_id").alias("doc_id"),
            maxsim.cast("double").alias("maxsim"),
        )
        .orderBy(F.col("maxsim").desc(), F.col("doc_id").asc())
        .limit(_MAXSIM_K)
        .select("doc_id", trunc6(F.col("maxsim")).alias("maxsim_score"))
    )


_MATRYOSHKA_PREFIX = 16
_MATRYOSHKA_K = 10

_MATRYOSHKA_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qf,
         (embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}] AS qp
  FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS df,
         (embedding::DOUBLE[])[1:{_MATRYOSHKA_PREFIX}] AS dp
  FROM embeddings WHERE vec_id != 0
),
fullr AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROUND(list_dot_product(df, qf)
      / (sqrt(list_dot_product(df, df)) * sqrt(list_dot_product(qf, qf))), 6) AS c
    FROM cand, q
  ) ORDER BY c DESC, doc_id ASC LIMIT {_MATRYOSHKA_K}
),
prefr AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROUND(list_dot_product(dp, qp)
      / (sqrt(list_dot_product(dp, dp)) * sqrt(list_dot_product(qp, qp))), 6) AS c
    FROM cand, q
  ) ORDER BY c DESC, doc_id ASC LIMIT {_MATRYOSHKA_K}
),
ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap FROM fullr JOIN prefr USING (doc_id))
SELECT CAST({_MATRYOSHKA_K} AS BIGINT) AS k, n_overlap,
       floor(CAST(n_overlap AS DOUBLE) / {_MATRYOSHKA_K} * 1000000) / 1000000 AS overlap_ratio
FROM ov
""".strip()


@register("matryoshka_overlap_check", oracle=_MATRYOSHKA_ORACLE)
def matryoshka_overlap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: how much of the exact-cosine top-10
    (query = vec_id 0) survives when vectors are truncated to their first
    16 dims — the overlap@k a team measures before
    shipping MRL-style short embeddings to cut ANN index cost 4x. One row:
    (k, n_overlap, overlap_ratio).

    Scale shape: both rankings are single-scan broadcast-query projections
    feeding distributed partial top-ks; the overlap join is 10x10 rows.
    The prefix leg reads the SAME column (a slice projection), so at
    100 TB this is two passes over one parquet scan's cache, not two
    datasets."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_vec(F.col("embedding")).alias("qf"),
        F.slice(as_double_vec(F.col("embedding")), 1, _MATRYOSHKA_PREFIX).alias("qp"),
    )
    cand = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    def topk(vec_col: str, qcol: str) -> DataFrame:
        dvec = (
            F.slice(as_double_vec(F.col("embedding")), 1, _MATRYOSHKA_PREFIX)
            if vec_col == "prefix"
            else as_double_vec(F.col("embedding"))
        )
        return (
            cand.select(
                F.col("vec_id").alias("doc_id"),
                F.round(cosine(dvec, F.col(qcol)), 6).alias("c"),
            )
            .orderBy(F.col("c").desc(), F.col("doc_id").asc())
            .limit(_MATRYOSHKA_K)
            .select("doc_id")
        )

    ov = (
        topk("full", "qf")
        .join(topk("prefix", "qp"), "doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return ov.select(
        F.lit(_MATRYOSHKA_K).cast("long").alias("k"),
        "n_overlap",
        trunc6(F.col("n_overlap").cast("double") / _MATRYOSHKA_K).alias(
            "overlap_ratio"
        ),
    )


_RERANK_DEPTH = 20
_RERANK_K = 10

_RERANK_ORACLE = f"""
WITH {_RRF_FUSED_CTES},
cand AS (SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_RERANK_DEPTH}),
qg AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(generate_series(1, greatest(length(lower(text))-2, 0)),
           i -> substr(lower(text), i, 3))) AS g
    FROM documents WHERE doc_id = 0)
),
qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM qg),
dg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT c.doc_id,
           unnest(list_transform(generate_series(1, greatest(length(lower(d.text))-2, 0)),
             i -> substr(lower(d.text), i, 3))) AS g
    FROM cand c JOIN documents d USING (doc_id))
),
inter AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ni FROM dg JOIN qg USING (g) GROUP BY doc_id)
SELECT c.doc_id,
       COALESCE(i.ni, 0) AS n_shared_grams,
       floor(CAST(COALESCE(i.ni, 0) AS DOUBLE) / NULLIF(qn.nq, 0) * 1000000) / 1000000 AS ce_score,
       floor(c.rrf * 1000000) / 1000000 AS rrf_score
FROM cand c LEFT JOIN inter i USING (doc_id), qn
ORDER BY COALESCE(i.ni, 0) DESC, c.rrf DESC, c.doc_id ASC
LIMIT {_RERANK_K}
""".strip()


@register("hybrid_rerank_containment", oracle=_RERANK_ORACLE)
def hybrid_rerank_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-2 rerank over the hybrid RRF top-20: candidates are re-scored
    by character-trigram containment against the query document (doc 0) —
    |3grams(d) intersect 3grams(q)| / |3grams(q)| — and re-ordered by
    (containment, rrf, doc_id). This is the rerank pattern itself: an
    expensive PAIRWISE scorer (here trigram set intersection; in prod a
    cross-encoder) that would be ruinous corpus-wide is affordable because
    it only ever touches the candidate page. Top-10 out.

    Scale shape: the fused frame is two joined top-50s (<=100 rows); the
    candidate page broadcasts INTO the documents scan (broadcast hash
    join — the corpus is filtered to 20 rows before any text work), and
    the trigram extraction/intersection runs on exactly 20+1 documents
    regardless of corpus size. At 100 TB the rerank stage costs the same
    as at 100 MB — that invariance is the point of retrieve-then-rerank.

    Determinism: containment ordering uses the INTEGER intersection size
    (ni), rrf is the bit-identical fixed-order reciprocal sum pinned by
    hybrid_search_rrf, final tie-break doc_id."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    fused = _rrf_fused(spark, sf_dir)
    cand = (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(_RERANK_DEPTH)
        .select("doc_id", "rrf")
    )
    docs = table(spark, sf_dir, "documents")

    def grams(col):
        low = F.lower(col)
        return F.when(
            F.length(low) >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(low) - 2),
                    lambda i: F.substr(low, i, F.lit(3)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    qrow = docs.filter(F.col("doc_id") == 0).select(grams(F.col("text")).alias("qg"))
    scored = (
        docs.join(F.broadcast(cand), "doc_id")
        .crossJoin(F.broadcast(qrow))
        .select(
            "doc_id",
            "rrf",
            F.size(F.array_intersect(grams(F.col("text")), F.col("qg")))
            .cast("long")
            .alias("ni"),
            F.size("qg").alias("nq"),
        )
    )
    return (
        scored.orderBy(
            F.col("ni").desc(), F.col("rrf").desc(), F.col("doc_id").asc()
        )
        .limit(_RERANK_K)
        .select(
            "doc_id",
            F.col("ni").alias("n_shared_grams"),
            trunc6(F.col("ni").cast("double") / F.col("nq")).alias("ce_score"),
            trunc6(F.col("rrf")).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive-training data prep: hard-negative mining.
# ---------------------------------------------------------------------------

_HNM_ANCHORS = 32
_HNM_K = 3

_HNM_ORACLE = f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS a_vec, label AS a_label
  FROM embeddings WHERE vec_id < {_HNM_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, e.vec_id AS neg_id,
         ROUND(list_dot_product(e.embedding::DOUBLE[], a.a_vec)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(a.a_vec, a.a_vec))), 6) AS cos
  FROM embeddings e JOIN anchors a ON e.label != a.a_label
),
ranked AS (
  SELECT anchor_id, neg_id, cos,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS neg_rank
  FROM scored
)
SELECT anchor_id, neg_rank, neg_id,
       floor(cos * 1000000) / 1000000 AS cos_sim
FROM ranked WHERE neg_rank <= {_HNM_K}
ORDER BY anchor_id, neg_rank
""".strip()


@register("hard_negative_mining", oracle=_HNM_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each of
    the 32 anchor vectors, the top-3 most-similar vectors with a DIFFERENT
    label — the negatives that actually move an InfoNCE/triplet loss
    (random negatives are trivially separable; the hard ones live at the
    decision boundary). Non-vacuous: 10 labels, so ~90% of the corpus
    competes per anchor.

    Scale shape: the anchor page (32 rows) broadcasts into the corpus scan
    — a bounded-query-side pattern identical to ann_cosine_topk's; scoring
    is one projection per (row, anchor) pair and the per-anchor top-k is a
    window PARTITIONED on anchor_id (32 partitions, never a global sort).
    At 100 TB with B anchors this is O(corpus x B) scan work, the same
    complexity the mining loop costs on a GPU cluster — and the natural
    next step, bucketing anchors via the IVF coarse lists, is what
    ann_ivf_topk already provides."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _HNM_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        as_double_vec(F.col("embedding")).alias("a_vec"),
        F.col("label").alias("a_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("a_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            F.round(
                cosine(as_double_vec(F.col("embedding")), F.col("a_vec")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HNM_K)
        .select(
            "anchor_id",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            "neg_id",
            trunc6(F.col("cos")).alias("cos_sim"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


_HYBRID_RECALL_ORACLE = f"""
WITH {_RRF_FUSED_CTES},
page AS (SELECT doc_id FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_RERANK_DEPTH}),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT doc_id FROM (
    SELECT vec_id AS doc_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv.v)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv.v, qv.v))), 6) AS c
    FROM embeddings, qv WHERE vec_id != 0
  ) ORDER BY c DESC, doc_id ASC LIMIT 5
)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM exact JOIN page USING (doc_id)) AS BIGINT) AS n_in_fused_page
""".strip()


@register("hybrid_recall_check", oracle=_HYBRID_RECALL_ORACLE)
def hybrid_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval-quality certificate for the hybrid stack: how
    many of the exact-cosine top-5 appear in the fused RRF top-20 (the
    page the rerank stage sees). Unlike the ANN recall bounds, BOTH sides
    are SQL-expressible, so the oracle computes the TRUE intersection —
    the hash certifies the exact recall value (5/5 at every TESTDATA sf),
    not a tuned floor. A fusion regression that lets the lexical leg push
    a true vector neighbor off the page flips n_in_fused_page."""
    fused = _rrf_fused(spark, sf_dir)
    page = (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(_RERANK_DEPTH)
        .select("doc_id")
    )
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_vec(F.col("embedding")).alias("qv")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(as_double_vec(F.col("embedding")), F.col("qv")), 6
            ).alias("c"),
        )
        .orderBy(F.col("c").desc(), F.col("doc_id").asc())
        .limit(5)
        .select("doc_id")
    )
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    n_found = (
        exact.join(page, "doc_id")
        .agg(F.count("*").cast("long").alias("n_in_fused_page"))
    )
    return n_exact.crossJoin(n_found)


# ---------------------------------------------------------------------------
# Fused RAG index-build pipeline — the serving-side twin of
# training_shard_pipeline: dedup survivorship + chunk accounting + int8
# quantization + LSH shard assignment as ONE plan.
# ---------------------------------------------------------------------------

_RAG_CHUNK = 64
_RAG_OVERLAP = 16
_RAG_STEP = _RAG_CHUNK - _RAG_OVERLAP
_RAG_PLANES = 4


def _rag_index_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=_RAG_PLANES, seed=42)
    return f"""
WITH base AS (
  SELECT doc_id,
         {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fingerprint,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
surv AS (
  SELECT MIN(doc_id) AS doc_id, min_by(n_tok, doc_id) AS n_tok
  FROM base GROUP BY fingerprint
),
chunked AS (
  SELECT doc_id,
         GREATEST(1, (n_tok - {_RAG_OVERLAP} + {_RAG_STEP - 1}) // {_RAG_STEP}) AS n_chunks
  FROM surv
),
emb0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale
  FROM embeddings
),
idx AS (SELECT vec_id, scale, CAST({bucket} AS BIGINT) AS bucket FROM emb0),
j AS (
  SELECT i.bucket, i.scale, c.n_chunks
  FROM idx i JOIN chunked c ON i.vec_id = c.doc_id
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
       CAST(MAX(n_chunks) AS BIGINT) AS max_chunks,
       floor(CAST(SUM(CAST(scale AS DECIMAL(28, 12))) AS DOUBLE) / COUNT(*)
             * 1000000) / 1000000 AS avg_scale
FROM j GROUP BY bucket ORDER BY bucket
""".strip()


@register("rag_index_build_pipeline", oracle=_rag_index_oracle())
def rag_index_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-index build as ONE fused plan — the read-side twin of
    training_shard_pipeline: documents pass the blank gate, exact-dedup
    survivorship (min doc_id per content fingerprint) picks the indexed
    copy, chunk COUNTS come from token counts arithmetically (the chunk
    bodies are never materialized — an index build needs the accounting,
    not 4x corpus inflation), embeddings are int8-quantized and assigned
    to their 4-plane LSH shard in the scan projection, and the final
    per-shard stats (vector count, chunk totals, mean quantization scale)
    are what a capacity planner reads before provisioning the ANN serving
    tier.

    Scale shape: each input parquet is scanned EXACTLY ONCE (documents ->
    fingerprint groupBy; embeddings -> pure projection), the only join is
    survivors⋈vectors on the id (equi, shuffle-partitioned both sides),
    and the output aggregation has 2^4 groups. Zero UDFs, zero explodes,
    zero re-scans — at 100 TB this is two linear passes and one shuffle.

    Determinism: fingerprint is md5, chunk math is integer, buckets are
    the literal-plane sign test both engines fold identically
    (lsh_bucket_sql), avg scale is a decimal-summed mean truncated at
    6dp."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        doc_fingerprint_md5,
        tokens,
    )
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_id,
        quantize_int8,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    base = docs.select(
        "doc_id",
        doc_fingerprint_md5(F.col("text")).alias("fingerprint"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    surv = (
        base.groupBy("fingerprint")
        .agg(F.min(F.struct("doc_id", "n_tok")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.n_tok").alias("n_tok"))
    )
    chunked = surv.select(
        "doc_id",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(n_tok - {_RAG_OVERLAP} + {_RAG_STEP - 1}) div {_RAG_STEP}"
            ),
        ).alias("n_chunks"),
    )
    emb = table(spark, sf_dir, "embeddings")
    scale, _codes = quantize_int8(F.col("embedding"))
    idx = emb.select(
        "vec_id",
        scale.alias("scale"),
        lsh_bucket_id(F.col("embedding"), dim=64, n_planes=_RAG_PLANES).alias(
            "bucket"
        ),
    )
    j = idx.join(chunked, idx["vec_id"] == chunked["doc_id"])
    return (
        j.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("n_chunks").cast("long").alias("total_chunks"),
            F.max("n_chunks").cast("long").alias("max_chunks"),
            trunc6(
                F.sum(F.col("scale").cast("decimal(28,12)")).cast("double")
                / F.count("*")
            ).alias("avg_scale"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM cross-entropy — the CCNet/KenLM-style perplexity
# quality filter one model order up from unigram_xent_scores: score each
# document by mean -ln p(w_i | w_{i-1}) under a Jelinek-Mercer-interpolated
# bigram model trained on the corpus itself.
# ---------------------------------------------------------------------------

#: Jelinek-Mercer interpolation weight on the bigram term; 1-lambda falls
#: back to the unigram MLE. 3/4 is the classic default and is exactly
#: representable in binary, so 0.75*x is one IEEE multiply in both engines.
_BIGRAM_LAMBDA = 0.75

_BIGRAM_XENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tok AS (
  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM toks
),
big AS (
  SELECT a.doc_id, a.t AS w1, b.t AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
cb AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY w1, w2),
cw AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS n1 FROM cb GROUP BY w1),
uni AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM big GROUP BY doc_id, w1, w2)
SELECT db.doc_id,
       CAST(SUM(db.k) AS BIGINT) AS n_bigrams,
       floor((CAST(SUM(CAST(db.k * -ln(
                 0.75 * (CAST(cb.c AS DOUBLE) / cw.n1)
               + 0.25 * (CAST(uni.cnt AS DOUBLE) / tot.n))
               AS DECIMAL(28,12))) AS DOUBLE)
              / SUM(db.k)) * 1000000) / 1000000 AS xent_nats
FROM db
  JOIN cb ON db.w1 = cb.w1 AND db.w2 = cb.w2
  JOIN cw ON db.w1 = cw.w1
  JOIN uni ON uni.t = db.w2, tot
GROUP BY db.doc_id
""".strip()


@register("bigram_xent_scores", oracle=_BIGRAM_XENT_ORACLE)
def bigram_xent_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean -ln p(w_i | w_{i-1}) per document under a Jelinek-Mercer
    interpolated bigram model (lambda=0.75 bigram MLE + 0.25 unigram MLE)
    trained on the corpus in the same plan — the CCNet-style perplexity
    filter one order above unigram_xent_scores: n-gram-soup documents that
    a unigram model scores as "common tokens" surface here because their
    TRANSITIONS are rare. Docs with < 2 tokens have no bigram events and
    drop out (same rule both engines).

    Determinism: every probability is a ratio of exact integer counts
    widened to double, the interpolation weights (0.75/0.25) are binary-
    exact, the per-event -ln terms are summed in DECIMAL(28,12) (order-
    proof), and the mean is trunc6'd — the unigram_xent discipline.

    Scale shape: bigram extraction is a zero-shuffle arrays_zip projection
    (no self-join on token position — the oracle's join formulation would
    shuffle the corpus' token stream twice); the model is built with two
    corpus-keyed aggregations (bigram counts, unigram counts) and scoring
    is a (doc,w1,w2)-stream join against model frames keyed by vocabulary
    — model cardinality, not corpus cardinality. At 100 TB, stage the
    model to a table once and broadcast-or-bucket the scoring join; the
    per-doc rollup below is unchanged by that split."""
    from kol_bigdata_realtime_analytics_spark.functions.text import tokens
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    big = docs.select("doc_id", tokens("text").alias("ts")).filter(
        F.size("ts") >= 2
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, size(ts) - 1),"
                " (w, i) -> struct(w AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    tok = docs.select(F.explode(tokens("text")).alias("t"))
    # ONE bigram-extraction pass (r12 opt, guide §6 — the
    # kneser_ney_xent_scores shape): cb is a strict rollup of the
    # checkpoint-marked db, dropping the second tokenize + explode pass.
    # The unigram pass stays separate — it must count every token,
    # including single-token docs db never sees.
    db = (
        big.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)
    )
    cb = db.groupBy("w1", "w2").agg(F.sum("k").alias("c"))
    cw = cb.groupBy("w1").agg(F.sum("c").alias("n1"))
    uni = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("n"))
    lam = _BIGRAM_LAMBDA
    p = F.lit(lam) * (F.col("c").cast("double") / F.col("n1")) + F.lit(
        1.0 - lam
    ) * (F.col("cnt").cast("double") / F.col("n"))
    return (
        db.join(cb, ["w1", "w2"])
        .join(cw, "w1")
        .join(uni, db["w2"] == uni["t"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            trunc6(
                F.sum((F.col("k") * -F.log(p)).cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.sum("k")
            ).alias("xent_nats"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM cross-entropy — the canonical rung above
# Jelinek-Mercer for perplexity filtering (Kneser & Ney 1995; Chen &
# Goodman 1999 found interpolated KN best-in-class among classic n-gram
# smoothers): absolute discounting of observed bigram mass, redistributed
# via CONTINUATION counts — p_cont(w) ∝ how many distinct predecessors w
# follows, not how often w occurs, which is what distinguishes a genuinely
# versatile token from one frequent in a single collocation.
# ---------------------------------------------------------------------------

#: absolute discount; the standard literal (Chen & Goodman's fixed-D
#: variant), binary-exact so c - D is one IEEE subtract in both engines.
_KN_D = 0.75

# f-string so the oracle shares the ONE _KN_D literal with the Spark plan —
# editing the constant can never silently desync the two engines (r9 advice).
_KN_XENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tok AS (
  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM toks
),
big AS (
  SELECT a.doc_id, a.t AS w1, b.t AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
cb AS MATERIALIZED (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY w1, w2),
cw AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS n1 FROM cb GROUP BY w1),
fw AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS nf FROM cb GROUP BY w1),
bw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM cb GROUP BY w2),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM cb),
db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM big GROUP BY doc_id, w1, w2)
SELECT db.doc_id,
       CAST(SUM(db.k) AS BIGINT) AS n_bigrams,
       floor((CAST(SUM(CAST(db.k * -ln(
                 GREATEST(CAST(cb.c AS DOUBLE) - {_KN_D}, 0.0) / cw.n1
               + (({_KN_D} * CAST(fw.nf AS DOUBLE)) / cw.n1)
                 * (CAST(bw.nb AS DOUBLE) / nt.nt))
               AS DECIMAL(28,12))) AS DOUBLE)
              / SUM(db.k)) * 1000000) / 1000000 AS xent_nats
FROM db
  JOIN cb ON db.w1 = cb.w1 AND db.w2 = cb.w2
  JOIN cw ON db.w1 = cw.w1
  JOIN fw ON db.w1 = fw.w1
  JOIN bw ON db.w2 = bw.w2, nt
GROUP BY db.doc_id
""".strip()


@register("kneser_ney_xent_scores", oracle=_KN_XENT_ORACLE)
def kneser_ney_xent_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean -ln p_KN(w_i | w_{i-1}) per document under an interpolated
    Kneser-Ney bigram model (absolute discount D=0.75) trained on the
    corpus in the same plan:

      p_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1.)
                  + (D * N1+(w1.)/c(w1.)) * (N1+(.w2) / N1+(..))

    The continuation distribution N1+(.w2)/N1+(..) — distinct-predecessor
    counts, not token frequencies — is what JM's unigram fallback lacks:
    a token frequent only inside one collocation ("Francisco") gets a LOW
    continuation probability however high its unigram count, so KN ranks
    singleton-transition-heavy documents differently from
    bigram_xent_scores (pinned in pytest on a planted two-doc corpus
    where the KN and JM orderings INVERT).

    Determinism: all model quantities are exact integer counts widened to
    double, D is binary-exact, the discount/backoff expression is written
    with identical association in both engines, per-event -ln terms sum
    in DECIMAL(28,12), mean trunc6'd — the bigram_xent discipline.

    Scale shape: identical to bigram_xent_scores — zero-shuffle
    transform/slice bigram extraction, model frames keyed by VOCABULARY
    (cb/cw/fw/bw aggregations), one scoring join stream; the two extra
    model frames (forward/backward type counts) are vocabulary-sized
    rollups of cb, adding no corpus-keyed work."""
    from kol_bigdata_realtime_analytics_spark.functions.text import tokens
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    big = docs.select("doc_id", tokens("text").alias("ts")).filter(
        F.size("ts") >= 2
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, size(ts) - 1),"
                " (w, i) -> struct(w AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # ONE bigram-extraction pass (r12 opt, guide §6 scan reuse): cb is a
    # strict rollup of db (sum of per-doc k == corpus bigram count), so
    # deriving it from the checkpoint-marked db drops the second
    # tokenize + explode pass the separate big.groupBy(w1, w2) paid. db
    # is the frame the scoring join shuffles anyway; pinning it after
    # its aggregation materializes post-shuffle, deduplicated rows.
    db = (
        big.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)
    )
    cb = db.groupBy("w1", "w2").agg(F.sum("k").alias("c"))
    cb = cb.localCheckpoint(eager=False)  # feeds cw/fw/bw + the scoring join
    cw = cb.groupBy("w1").agg(F.sum("c").alias("n1"))
    fw = cb.groupBy("w1").agg(F.count("*").alias("nf"))
    bw = cb.groupBy("w2").agg(F.count("*").alias("nb"))
    nt = cb.agg(F.count("*").alias("nt"))
    d = _KN_D
    p = F.greatest(F.col("c").cast("double") - F.lit(d), F.lit(0.0)) / F.col(
        "n1"
    ) + ((F.lit(d) * F.col("nf").cast("double")) / F.col("n1")) * (
        F.col("nb").cast("double") / F.col("nt")
    )
    return (
        db.join(cb, ["w1", "w2"])
        .join(cw, "w1")
        .join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(nt))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            trunc6(
                F.sum((F.col("k") * -F.log(p)).cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.sum("k")
            ).alias("xent_nats"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization + host-level crawl dedup — the first operator every
# web-scale ingest runs (pairs with the WarcishDataSource): normalize
# scheme/host case, strip default ports and trailing slashes, sort query
# params — ONE native expression chain, no UDF — then per-host page
# counts, alias collapse, cross-host mirrored paths, and cross-host
# exact-content duplicates. The corpus has no URL column, so messy URLs
# are SYNTHESIZED deterministically per doc (the warcish/detrange
# discipline: both engines derive identical inputs, so the canonicalizer
# is exercised end-to-end on planted alias variants and the hash
# certifies they collapse).
# ---------------------------------------------------------------------------

_URL_SYNTH_SQL = """
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
  || (CASE WHEN doc_id % 3 = 0
           THEN upper('www.' || source || '.example')
           ELSE 'www.' || source || '.example' END)
  || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
  || '/docs/' || CAST(doc_id // 40 AS VARCHAR)
  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
""".strip()

_URL_DEDUP_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, {DOC_FINGERPRINT_ORACLE_SQL.format(col="text")} AS fp,
         {_URL_SYNTH_SQL} AS url
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
c1 AS (
  SELECT doc_id, fp,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
           AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
  FROM raw
),
c2 AS (
  SELECT *, lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
         regexp_replace(rest, '^[^/?#]*', '') AS tail
  FROM c1
),
c3 AS (
  SELECT doc_id, fp, scheme,
         CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              ELSE hostport END AS host,
         regexp_extract(tail, '^([^?#]*)', 1) AS path,
         regexp_extract(tail, '\\?([^#]*)', 1) AS q
  FROM c2
),
c4 AS (
  SELECT doc_id, fp, host,
         CASE WHEN path = '' THEN '/'
              ELSE COALESCE(NULLIF(regexp_replace(path, '/+$', ''), ''), '/')
              END
         || CASE WHEN q = '' THEN ''
                 ELSE '?' || list_aggr(list_sort(string_split(q, '&')),
                                       'string_agg', '&') END AS pq,
         scheme AS sch
  FROM c3
),
pages AS MATERIALIZED (
  SELECT doc_id, fp, host, sch || '://' || host || pq AS curl, pq FROM c4
),
mirror AS (
  SELECT pq FROM (
    SELECT pq, COUNT(DISTINCT host) AS nh FROM pages GROUP BY pq
  ) WHERE nh > 1
),
xdup AS (
  SELECT fp FROM (
    SELECT fp, COUNT(DISTINCT host) AS nh FROM pages GROUP BY fp
  ) WHERE nh > 1
)
SELECT p.host,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(COUNT(DISTINCT p.curl) AS BIGINT) AS n_canonical,
       CAST(COUNT(*) - COUNT(DISTINCT p.curl) AS BIGINT)
         AS n_aliases_collapsed,
       CAST(COUNT(DISTINCT CASE WHEN m.pq IS NOT NULL THEN p.pq END)
            AS BIGINT) AS n_mirrored_paths,
       CAST(SUM(CASE WHEN x.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_xdup_docs
FROM pages p
  LEFT JOIN mirror m ON p.pq = m.pq
  LEFT JOIN xdup x ON p.fp = x.fp
GROUP BY p.host
ORDER BY p.host
""".strip()


@register("url_canonical_dedup", oracle=_URL_DEDUP_ORACLE)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize one messy URL per document — scheme/host lowercased,
    default :443/:80 stripped, trailing slashes collapsed (root '/'
    preserved), query params sorted — with ONE chain of native
    regexp/split/sort expressions (no UDF), then the crawl-frontier
    rollup: per canonical host, raw page count, distinct canonical URLs,
    aliases collapsed (planted case/port/slash/param-order variants — the
    hash certifies they merge), paths mirrored on other hosts (the
    mirror-site signal; same /docs/{g} path lands on several source
    hosts by construction, non-vacuous at every sf), and docs whose exact
    content fingerprint appears on another host (non-vacuous at sf0.1,
    where the corpus plants cross-source exact duplicates; 0 below).

    URLs are synthesized deterministically from (doc_id, source) in BOTH
    engines — the corpus ships no URL column — so the canonicalizer, not
    the synthesis, is what the oracle certifies: the SQL re-derives the
    same messy strings and re-canonicalizes them with DuckDB's own
    regexp/list functions.

    Scale shape: synthesis and canonicalization live in the scan
    projection (zero shuffles); the rollup is one groupBy(host) plus two
    key-grouped marker frames (mirrored paths, duplicated fingerprints)
    equi-joined back — every stage keyed, nothing pairwise. Reference
    analog: the scrapers' ad-hoc URL handling
    (ingestion/sources/kol_scraper.py)."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        doc_fingerprint_md5,
    )

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    base_host = F.concat(F.lit("www."), F.col("source"), F.lit(".example"))
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(
            F.lit("https")
        ),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper(base_host)).otherwise(
            base_host
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.expr("cast(doc_id div 40 as string)"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
    )
    raw = docs.select(
        "doc_id", doc_fingerprint_md5(F.col("text")).alias("fp"), url.alias("url")
    )
    c1 = raw.select(
        "doc_id",
        "fp",
        F.lower(
            F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        ).alias("scheme"),
        F.regexp_replace("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://", "").alias(
            "rest"
        ),
    )
    c2 = c1.select(
        "doc_id",
        "fp",
        "scheme",
        F.lower(F.regexp_extract("rest", r"^([^/?#]*)", 1)).alias("hostport"),
        F.regexp_replace("rest", r"^[^/?#]*", "").alias("tail"),
    )
    c3 = c2.select(
        "doc_id",
        "fp",
        "scheme",
        F.when(
            F.col("scheme") == "https",
            F.regexp_replace("hostport", r":443$", ""),
        )
        .when(F.col("scheme") == "http", F.regexp_replace("hostport", r":80$", ""))
        .otherwise(F.col("hostport"))
        .alias("host"),
        F.regexp_extract("tail", r"^([^?#]*)", 1).alias("path"),
        F.regexp_extract("tail", r"\?([^#]*)", 1).alias("q"),
    )
    path_norm = F.when(F.col("path") == "", F.lit("/")).otherwise(
        F.coalesce(
            F.nullif(F.regexp_replace("path", r"/+$", ""), F.lit("")),
            F.lit("/"),
        )
    )
    q_norm = F.when(F.col("q") == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split("q", "&")), "&"))
    )
    pages = c3.select(
        "doc_id",
        "fp",
        "host",
        F.concat(path_norm, q_norm).alias("pq"),
        F.concat(F.col("scheme"), F.lit("://"), F.col("host"), path_norm, q_norm)
        .alias("curl"),
    ).localCheckpoint(eager=False)  # feeds the rollup + two marker frames
    mirror = (
        pages.groupBy("pq")
        .agg(F.countDistinct("host").alias("nh"))
        .filter(F.col("nh") > 1)
        .select("pq", F.lit(1).alias("mirrored"))
    )
    xdup = (
        pages.groupBy("fp")
        .agg(F.countDistinct("host").alias("nh"))
        .filter(F.col("nh") > 1)
        .select("fp", F.lit(1).alias("dup"))
    )
    return (
        pages.join(mirror, "pq", "left")
        .join(xdup, "fp", "left")
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct("curl").cast("long").alias("n_canonical"),
            (F.count("*") - F.countDistinct("curl"))
            .cast("long")
            .alias("n_aliases_collapsed"),
            F.countDistinct(
                F.when(F.col("mirrored").isNotNull(), F.col("pq"))
            )
            .cast("long")
            .alias("n_mirrored_paths"),
            F.sum(F.when(F.col("dup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_xdup_docs"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# 1-bit binary quantization ANN — the most aggressive rung of the memory
# ladder (float32 -> int8 -> PQ -> sign bits): 64 dims pack into two longs
# and candidate generation is xor+popcount, fully integer, so unlike every
# other approximate scorer in the family the top-k itself is hash-exact
# against the oracle (both engines compute identical codes bit-for-bit —
# operators/similarity.binary_code_sql).
# ---------------------------------------------------------------------------


def _binary_base_sql() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        binary_code_sql,
    )

    lo, hi = binary_code_sql("embedding::DOUBLE[]")
    return f"""
base AS (SELECT vec_id, embedding::DOUBLE[] AS vec, {lo} AS lo, {hi} AS hi
         FROM embeddings),
q AS (SELECT vec_id AS q_id, vec AS q_vec, lo AS q_lo, hi AS q_hi
      FROM base WHERE vec_id < 5),
ham AS (
  SELECT q.q_id, b.vec_id AS c_id,
         CAST(bit_count(xor(q.q_lo, b.lo)) + bit_count(xor(q.q_hi, b.hi))
              AS BIGINT) AS hamming
  FROM base b, q WHERE b.vec_id != q.q_id
),
btop AS (
  SELECT q_id, c_id, hamming, rank FROM (
    SELECT q_id, c_id, hamming,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY hamming ASC, c_id ASC) AS BIGINT)
             AS rank
    FROM ham) WHERE rank <= 3
)"""


def _binary_hamming_scored(spark: SparkSession, sf_dir: str):
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        binary_code_cols,
        hamming64,
    )

    emb = table(spark, sf_dir, "embeddings")
    lo, hi = binary_code_cols(F.col("embedding"))
    coded = emb.select("vec_id", lo.alias("lo"), hi.alias("hi"))
    q = coded.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    scored = coded.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        hamming64(F.col("q_lo"), F.col("q_hi"), F.col("lo"), F.col("hi")).alias(
            "hamming"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("hamming").asc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "hamming", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "ann_binary_hamming_topk",
    oracle=f"""
    WITH {_binary_base_sql().lstrip()}
    SELECT q_id, c_id, hamming, rank FROM btop
    """,
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-3 per query (vec_id < 5) over 1-bit sign-quantized
    embeddings: bit i = (x_i > 0), 64 dims in two packed longs, distance =
    popcount(xor) — Charikar 2002 sign-bit angular approximation.

    Scale shape: quantization happens in the scan projection (native
    aggregate() fold, no UDF), the 5-row query code frame broadcasts into
    the corpus scan, and the hot path is two xors + two popcounts per
    (query, candidate) — a 100 TB float32 index becomes ~3 TB of codes
    scanned entirely inside whole-stage codegen with zero float math.
    Integer distances + integer tie-break make this the one approximate
    scorer whose top-k is itself HASH-exact cross-engine."""
    return _binary_hamming_scored(spark, sf_dir)


@register(
    "ann_binary_recall_check",
    oracle=f"""
    WITH {_binary_base_sql().lstrip()},
    exact AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY ROUND(list_dot_product(q.q_vec, c.vec)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(c.vec, c.vec))), 6) DESC,
                   c.vec_id ASC) AS rn
        FROM base c, q WHERE c.vec_id != q.q_id
      ) WHERE rn <= 3
    )
    SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM exact e JOIN btop b
                 ON e.q_id = b.q_id AND e.c_id = b.c_id) AS BIGINT)
             AS binary_hits,
           floor(((SELECT COUNT(*) FROM exact e JOIN btop b
                   ON e.q_id = b.q_id AND e.c_id = b.c_id) * 1.0
                  / (SELECT COUNT(*) FROM exact)) * 1000000) / 1000000
             AS recall_at_3
    """,
)
def ann_binary_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the 1-bit Hamming scorer vs brute-force cosine — the
    quality half of the binary-quantization contract. Both scorers are
    deterministic (integer Hamming / round6 cosine, id tie-breaks), so the
    recall VALUE itself is hash-certified, not just bounded."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        brute_force_topk,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3).select("q_id", "c_id")
    btop = _binary_hamming_scored(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("m")
    )
    j = exact.join(btop, ["q_id", "c_id"], "left")
    return j.agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("binary_hits"),
        trunc6(
            F.coalesce(F.sum("m"), F.lit(0)) * F.lit(1.0) / F.count("*")
        ).alias("recall_at_3"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH (Lv et al., VLDB 2007) — recover the recall that tighter
# buckets cost by ALSO probing the buckets at Hamming distance 1 from the
# query's bucket, instead of widening buckets (fewer planes = exponentially
# more candidates) or adding tables (each one re-hashes the corpus).
# ---------------------------------------------------------------------------

_MP_PLANES = 6  # 64 buckets; probing 1+6 of them scans ~11% of the corpus


def _mp_probe_literals(qb: str) -> list[str]:
    return [qb] + [f"xor({qb}, {1 << i})" for i in range(_MP_PLANES)]


def _exact_topk_cte(name: str, source: str, k: int) -> str:
    """DuckDB CTE `name` (q_id, c_id): each q0 probe's top-k by exact cosine
    (ROUND 6, vec_id ASC on ties), self-matches excluded. `source` is the
    FROM clause pairing the candidate table `b` with q0."""
    return f"""{name} AS (
      SELECT q_id, c_id FROM (
        SELECT q0.q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY q0.q_id ORDER BY
                 ROUND(list_dot_product(q0.q_vec, b.vec)
                       / (sqrt(list_dot_product(q0.q_vec, q0.q_vec))
                          * sqrt(list_dot_product(b.vec, b.vec))), 6) DESC,
                 b.vec_id ASC) AS rn
        FROM {source} WHERE b.vec_id != q0.q_id
      ) WHERE rn <= {k}
    )"""


def _mp_oracle_sql() -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=_MP_PLANES, seed=42)
    probes = ", ".join(_mp_probe_literals("q_bkt"))
    return f"""
base0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
base AS (SELECT vec_id, vec, {bucket} AS bkt FROM base0),
q0 AS (SELECT vec_id AS q_id, vec AS q_vec, bkt AS q_bkt FROM base WHERE vec_id < 5),
qp AS (SELECT q_id, q_vec, unnest([{probes}]) AS probe FROM q0),
mtop AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT qp.q_id, b.vec_id AS c_id,
           ROUND(list_dot_product(qp.q_vec, b.vec)
                 / (sqrt(list_dot_product(qp.q_vec, qp.q_vec))
                    * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY qp.q_id ORDER BY
             ROUND(list_dot_product(qp.q_vec, b.vec)
                   / (sqrt(list_dot_product(qp.q_vec, qp.q_vec))
                      * sqrt(list_dot_product(b.vec, b.vec))), 6) DESC,
             b.vec_id ASC) AS BIGINT) AS rank
    FROM base b JOIN qp ON b.bkt = qp.probe WHERE b.vec_id != qp.q_id
  ) WHERE rank <= 3
)"""


def _mp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        cosine,
        lsh_bucket_id,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        as_double_vec(F.col("embedding")).alias("vec"),
        lsh_bucket_id(F.col("embedding"), dim=64, n_planes=_MP_PLANES).alias("bkt"),
    )
    q0 = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("bkt").alias("q_bkt"),
    )
    probes = F.array(
        F.col("q_bkt"),
        *[
            F.col("q_bkt").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(_MP_PLANES)
        ],
    )
    qp = q0.select("q_id", "q_vec", F.explode(probes).alias("probe"))
    # equi-join on the probe bucket — multi-probe stays on the hash-join
    # path (an OR-of-buckets condition would fall off to a nested loop)
    cand = base.join(
        F.broadcast(qp), (F.col("bkt") == F.col("probe")) & (F.col("vec_id") != F.col("q_id"))
    ).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cosine"),
    )
    return rank_topk(cand, 3)


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH {_mp_oracle_sql().lstrip()}
    SELECT q_id, c_id, cosine, rank FROM mtop
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-3 (Lv et al. 2007): candidates come from the
    query's 6-plane bucket PLUS the 6 buckets at Hamming distance 1
    (flip one sign bit), exact-cosine reranked. ~7/64 of the corpus is
    scored per query — the recall of a coarser index at the cost profile
    of a fine one, without re-hashing the corpus into extra tables.

    Like the multi-table `ann_lsh_topk` (also hash-certified since r10),
    buckets here are literal-plane derived in BOTH engines
    (lsh_bucket_sql), so this approximate top-k is fully HASH-certified.

    Scale shape: probe expansion is 7 rows per query exploded on the
    QUERY side (the corpus is hashed once, in the scan projection), and
    candidate generation is an equi-join corpus.bkt == probe — the
    hash-join path; an OR-of-7-buckets predicate would plan a nested
    loop over the corpus."""
    return _mp_topk(spark, sf_dir)


@register(
    "ann_lsh_multiprobe_recall_check",
    oracle=f"""
    WITH {_mp_oracle_sql().lstrip()},
    {_exact_topk_cte("exact", "base b, q0", 3)},
    {_exact_topk_cte("single", "base b JOIN q0 ON b.bkt = q0.q_bkt", 3)}
    SELECT CAST((SELECT COUNT(*) FROM q0) AS BIGINT) AS n_queries,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM exact e JOIN single s
                 ON e.q_id = s.q_id AND e.c_id = s.c_id) AS BIGINT)
             AS single_probe_hits,
           CAST((SELECT COUNT(*) FROM exact e JOIN mtop m
                 ON e.q_id = m.q_id AND e.c_id = m.c_id) AS BIGINT)
             AS multi_probe_hits,
           ((SELECT COUNT(*) FROM exact e JOIN mtop m
             ON e.q_id = m.q_id AND e.c_id = m.c_id)
            > (SELECT COUNT(*) FROM exact e JOIN single s
               ON e.q_id = s.q_id AND e.c_id = s.c_id)) AS multi_beats_single
    """,
)
def ann_lsh_multiprobe_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certifies that Hamming-1 probing strictly beats single-bucket
    probing at the same plane count (measured: hits 0 -> 2 at sf0.001,
    0 -> 4 at sf0.01/0.1 out of 15) — the quality contract behind
    ann_lsh_multiprobe_topk. All three scorers (exact / single / multi)
    run in-engine and deterministically, so the recall VALUES are under
    the driver hash, not just a bound."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        brute_force_topk,
        cosine,
        lsh_bucket_id,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3).select("q_id", "c_id")

    base = emb.select(
        "vec_id",
        as_double_vec(F.col("embedding")).alias("vec"),
        lsh_bucket_id(F.col("embedding"), dim=64, n_planes=_MP_PLANES).alias("bkt"),
    )
    q0 = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("bkt").alias("q_bkt"),
    )
    sing = base.join(
        F.broadcast(q0),
        (F.col("bkt") == F.col("q_bkt")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cosine"),
    )
    single = rank_topk(sing, 3).select("q_id", "c_id")
    multi = _mp_topk(spark, sf_dir).select("q_id", "c_id")

    s_hits = exact.join(
        single.withColumn("m", F.lit(1)), ["q_id", "c_id"], "left"
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("h"))
    m_hits = exact.join(
        multi.withColumn("m", F.lit(1)), ["q_id", "c_id"], "left"
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("h"))
    meta = exact.agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
    )
    return (
        meta.crossJoin(F.broadcast(s_hits.select(F.col("h").alias("single_probe_hits"))))
        .crossJoin(F.broadcast(m_hits.select(F.col("h").alias("multi_probe_hits"))))
        .select(
            "n_queries",
            "n_exact",
            "single_probe_hits",
            "multi_probe_hits",
            (F.col("multi_probe_hits") > F.col("single_probe_hits")).alias(
                "multi_beats_single"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Approximate k-NN GRAPH construction (r8 verdict ask #3) — the substrate
# NN-descent, offline HNSW builds, and graph-based SemDeDup all start
# from: EVERY vector gets its top-k cosine neighbors, candidates drawn
# from the union of its own LSH bucket and the Hamming-1 multi-probe
# buckets. Unlike the query-side ANN ops (5 probe vectors), this is a
# corpus x corpus operator, so the plane count SCALES with the corpus:
# n_planes = log2(n / target_bucket), keeping bucket size ~constant
# (~125) — candidate work stays O(n * bucket * probes) = O(n) at any
# scale, never O(n^2).
# ---------------------------------------------------------------------------

_KNN_K = 3
_KNN_TARGET_BUCKET = 125  # ~bucket rows at any sf; 800 -> 3 planes, 80k -> 10
_KNN_PROBE_BITS = 3  # probe own bucket + flips of planes 0..2 (4 buckets)


def _knn_planes(n: int) -> int:
    import math

    return max(3, math.ceil(math.log2(max(2.0, n / _KNN_TARGET_BUCKET))))


def _knn_scored(
    spark: SparkSession, sf_dir: str, probe_bits: int, max_q: int | None = None
) -> DataFrame:
    """(vec_id, neighbor_id, cosine, rank) top-{_KNN_K} per vector, ranked
    over the union of `1 + probe_bits` probed buckets. Norms are computed
    once per ROW before the pair join (O(n*dim), not O(pairs*dim)).
    `max_q` restricts the QUERY side (vec_id < max_q) — the per-q_id
    window makes the restricted result identical to filtering the full
    graph, which is exactly what this does. The full graph is an index
    artifact built once per session (see artifacts) and consumed by every
    downstream job (NN-descent, SemDeDup, HNSW, recall certificates)."""

    def build():
        full = _knn_scored_build(spark, sf_dir, probe_bits)
        return full.localCheckpoint(eager=True)

    full = artifacts.cached("knn_graph", sf_dir, (probe_bits,), build)
    return full if max_q is None else full.filter(F.col("vec_id") < max_q)


def _knn_scored_build(spark: SparkSession, sf_dir: str, probe_bits: int) -> DataFrame:
    """The uncached kNN-graph build (see _knn_scored)."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        bucket_pair_scores,
        lsh_bucket_id,
        norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    planes = _knn_planes(n)
    base = (
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn("bkt", lsh_bucket_id(F.col("vec"), dim=64, n_planes=planes))
        .localCheckpoint(eager=False)
    )
    probes = F.array(
        F.col("bkt"),
        *[
            F.col("bkt").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(probe_bits)
        ],
    )
    # fresh projections per side: the self-join reads one checkpointed scan
    q = base.select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.explode(probes).alias("probe"),
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("vec").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
        F.col("bkt").alias("c_bkt"),
    )
    # cogrouped Arrow scoring on the bucket id (bucket_pair_scores): probes
    # are distinct buckets, so each (q, c) pair matches at most once and
    # needs no dedup; results bit-identical to the former bucket equi-join
    # + interpreted HOF fold, measured 4x faster (guide §4.2 — vectors
    # cross the Python boundary per bucket membership, not per pair)
    scored = bucket_pair_scores(q, c)
    return rank_topk(scored, _KNN_K).select(
        F.col("q_id").alias("vec_id"),
        F.col("c_id").alias("neighbor_id"),
        "cosine",
        "rank",
    )


def _knn_oracle_base_sql(sf_dir: str, probe_bits: int) -> str:
    """Shared CTE head re-deriving the scaled plane count and buckets from
    the same literal LCG constants — bucket ids match Spark bit-for-bit
    (lsh_bucket_sql), so the approximate graph itself is hash-exact."""
    import duckdb

    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    planes = _knn_planes(int(n))
    bucket = lsh_bucket_sql("vec", dim=64, n_planes=planes)
    probe_list = ", ".join(
        ["bkt"] + [f"xor(bkt, {1 << i})" for i in range(probe_bits)]
    )
    return f"""
base0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
base AS MATERIALIZED (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm,
         {bucket} AS bkt
  FROM base0),
qp AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm,
              unnest([{probe_list}]) AS probe FROM base{{q_where}}),
knn AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT s.q_id, s.c_id, s.cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY s.cosine DESC, s.c_id ASC) AS BIGINT) AS rank
    FROM (
      SELECT qp.q_id, b.vec_id AS c_id,
             ROUND(list_dot_product(qp.q_vec, b.vec) / (qp.q_nrm * b.nrm), 6)
               AS cosine
      FROM base b JOIN qp ON b.bkt = qp.probe AND b.vec_id <> qp.q_id) s
  ) WHERE rank <= {_KNN_K}
)"""


def _knn_graph_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    return f"""
    WITH {head.lstrip()}
    SELECT q_id AS vec_id, c_id AS neighbor_id, cosine, rank FROM knn
    """


@register("knn_graph_build", oracle=_knn_graph_oracle)
def knn_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole embedding corpus: per vector,
    its top-3 cosine neighbors among the vectors sharing its LSH bucket or
    one of the 3 Hamming-1 probe buckets. Long form
    (vec_id, neighbor_id, cosine, rank) — the input every graph-based
    vector algorithm (NN-descent refinement, offline HNSW layering,
    SemDeDup-on-graph, connected-component dedup) consumes.

    Buckets are literal-plane derived in BOTH engines (lsh_bucket_sql), so
    even the approximate graph is fully HASH-certified; the oracle
    re-derives the scaled plane count from the same corpus-size formula.

    Scale shape: plane count grows as log2(n / 125), pinning bucket size
    ~125 at ANY corpus size, so candidate volume is O(n * 125 * 4) — a
    corpus-LINEAR pair join, never O(n^2). The join is a bucket-id
    equi-join (hash-join path, both sides co-partitioned on the bucket);
    per-row norms are computed once before the join; the hashed corpus is
    localCheckpoint-pinned so the probe and candidate sides read one scan.
    At 100 TB the same plan holds with planes ~= 33 — bucket size is the
    knob, not the corpus."""
    return _knn_scored(spark, sf_dir, _KNN_PROBE_BITS)


def _knn_recall_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(
        q_where=" WHERE vec_id < 5"
    )
    return f"""
    WITH {head.lstrip()},
    q0 AS (SELECT vec_id AS q_id, vec AS q_vec FROM base0 WHERE vec_id < 5),
    {_exact_topk_cte("exact", "base0 b, q0", _KNN_K)},
    own AS (
      SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY s.cosine DESC, s.c_id ASC) AS rn
        FROM (
          SELECT q.vec_id AS q_id, b.vec_id AS c_id,
                 ROUND(list_dot_product(q.vec, b.vec) / (q.nrm * b.nrm), 6)
                   AS cosine
          FROM base b JOIN base q ON b.bkt = q.bkt AND b.vec_id <> q.vec_id
          WHERE q.vec_id < 5) s
      ) WHERE rn <= {_KNN_K}
    ),
    gsub AS (SELECT q_id, c_id FROM knn)
    SELECT CAST((SELECT COUNT(*) FROM q0) AS BIGINT) AS n_queries,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM exact e JOIN own o
                 ON e.q_id = o.q_id AND e.c_id = o.c_id) AS BIGINT)
             AS own_bucket_hits,
           CAST((SELECT COUNT(*) FROM exact e JOIN gsub g
                 ON e.q_id = g.q_id AND e.c_id = g.c_id) AS BIGINT)
             AS graph_hits,
           floor(((SELECT COUNT(*) FROM exact e JOIN gsub g
                   ON e.q_id = g.q_id AND e.c_id = g.c_id) * 1.0
                  / (SELECT COUNT(*) FROM exact)) * 1000000) / 1000000
             AS recall_at_3,
           ((SELECT COUNT(*) FROM exact e JOIN gsub g
             ON e.q_id = g.q_id AND e.c_id = g.c_id)
            >= (SELECT COUNT(*) FROM exact e JOIN own o
                ON e.q_id = o.q_id AND e.c_id = o.c_id)) AS probe_not_worse
    """


@register("knn_graph_recall_check", oracle=_knn_recall_oracle)
def knn_graph_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 certificate for knn_graph_build on a 5-query sample: the
    graph's neighbor lists vs brute-force cosine top-3 over the whole
    corpus, plus the own-bucket-only baseline — certifying the Hamming-1
    probes never lose recall (probe_not_worse; candidate supersets can
    only improve a top-k). All three scorers run deterministically in
    both engines, so the recall VALUES are under the driver hash, not
    just a bound."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        brute_force_topk,
    )
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=_KNN_K).select("q_id", "c_id")
    own = _knn_scored(spark, sf_dir, 0, max_q=5).select(
        F.col("vec_id").alias("q_id"), F.col("neighbor_id").alias("c_id")
    )
    graph = _knn_scored(spark, sf_dir, _KNN_PROBE_BITS, max_q=5).select(
        F.col("vec_id").alias("q_id"), F.col("neighbor_id").alias("c_id")
    )
    o_hits = exact.join(
        own.withColumn("m", F.lit(1)), ["q_id", "c_id"], "left"
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("h"))
    g_hits = exact.join(
        graph.withColumn("m", F.lit(1)), ["q_id", "c_id"], "left"
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("h"))
    meta = exact.agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
    )
    return (
        meta.crossJoin(F.broadcast(o_hits.select(F.col("h").alias("own_bucket_hits"))))
        .crossJoin(F.broadcast(g_hits.select(F.col("h").alias("graph_hits"))))
        .select(
            "n_queries",
            "n_exact",
            "own_bucket_hits",
            "graph_hits",
            trunc6(F.col("graph_hits") * F.lit(1.0) / F.col("n_exact")).alias(
                "recall_at_3"
            ),
            (F.col("graph_hits") >= F.col("own_bucket_hits")).alias(
                "probe_not_worse"
            ),
        )
    )


# ---------------------------------------------------------------------------
# NN-descent refinement round (Dong, Moses & Li, WWW 2011) — the first
# consumer of knn_graph_build: "a neighbor of a neighbor is likely a
# neighbor". Each vector's candidate set becomes its current neighbors
# UNION the 2-hop neighborhood of the UNDIRECTED graph, exact-cosine
# reranked, keep top-k. One round here; production NN-descent iterates
# until the graph stops changing — each round is this same plan shape.
# ---------------------------------------------------------------------------


def _nn_descent_cand_sql(head: str) -> str:
    """CTE chain from the knn graph to the reranked refined graph."""
    # set-ops live INSIDE subqueries, never CTE-top-level: under the WITH
    # RECURSIVE prefix semdedup_graph_clusters needs, DuckDB reinterprets
    # a top-level `q1 UNION q2` CTE body through recursive-union rules
    # even when the CTE never references itself (measured: cand 7498 ->
    # 15756 rows), silently changing the result
    return f"""{head},
g AS MATERIALIZED (SELECT q_id AS a, c_id AS b FROM knn),
u AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM g UNION ALL SELECT b, a FROM g) t
),
cand AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM g
    UNION ALL
    SELECT u1.a, u2.b FROM u u1 JOIN u u2 ON u1.b = u2.a WHERE u2.b <> u1.a
  ) t
),
resc AS (
  SELECT cand.a AS q_id, cand.b AS c_id,
         ROUND(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) AS cosine
  FROM cand JOIN base x ON x.vec_id = cand.a
            JOIN base y ON y.vec_id = cand.b
),
rtop AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT q_id, c_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rank
    FROM resc) WHERE rank <= {_KNN_K}
)"""


def _nn_descent_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    return f"""
    WITH {_nn_descent_cand_sql(head.lstrip()).lstrip()}
    SELECT q_id AS vec_id, c_id AS neighbor_id, cosine, rank FROM rtop
    """


def _nn_descent_refined(
    spark: SparkSession, sf_dir: str, seed: DataFrame | None = None
) -> DataFrame:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        dot,
        norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = (
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .localCheckpoint(eager=False)
    )
    # callers that already materialized the seed kNN graph (gain/fixpoint
    # checks) pass it in so the LSH bucket join + top-k window run ONCE
    # per plan, not once per consumer (r9 advice)
    if seed is None:
        seed = _knn_scored(spark, sf_dir, _KNN_PROBE_BITS).localCheckpoint(
            eager=True
        )  # feeds u twice + the candidate union
    g = seed.select(F.col("vec_id").alias("a"), F.col("neighbor_id").alias("b"))
    u = g.unionByName(
        g.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    two_hop = (
        u.select(F.col("a"), F.col("b").alias("mid"))
        .join(u.select(F.col("a").alias("mid"), F.col("b")), "mid")
        .filter(F.col("b") != F.col("a"))
        .select("a", "b")
    )
    cand = g.unionByName(two_hop).distinct()
    x = base.select(
        F.col("vec_id").alias("a"), F.col("vec").alias("x_vec"),
        F.col("nrm").alias("x_nrm"),
    )
    y = base.select(
        F.col("vec_id").alias("b"), F.col("vec").alias("y_vec"),
        F.col("nrm").alias("y_nrm"),
    )
    resc = (
        cand.join(x, "a")
        .join(y, "b")
        .select(
            F.col("a").alias("q_id"),
            F.col("b").alias("c_id"),
            F.round(
                dot(F.col("x_vec"), F.col("y_vec"))
                / (F.col("x_nrm") * F.col("y_nrm")),
                6,
            ).alias("cosine"),
        )
    )
    return rank_topk(resc, _KNN_K).select(
        F.col("q_id").alias("vec_id"),
        F.col("c_id").alias("neighbor_id"),
        "cosine",
        "rank",
    )


@register("nn_descent_round", oracle=_nn_descent_oracle)
def nn_descent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent refinement round over knn_graph_build: per vector,
    exact-cosine top-3 over (current neighbors UNION the undirected
    2-hop neighborhood) — the Dong et al. 2011 local-join step that
    converges an LSH-seeded graph toward the true k-NN graph without
    ever touching all pairs. Deterministic end to end (literal-plane
    seed graph, exact rerank, id tie-breaks), so the refined graph is
    HASH-certified like its input.

    Scale shape: the undirected graph has 2kn edges, the 2-hop candidate
    join is degree-bounded (<= (2k)^2 per node = O(n) total rows), and
    the rerank fetches vectors through two id-keyed equi-joins — all
    shuffles on ids, never pairwise over the corpus. Candidate volume
    per round is independent of corpus size given fixed k, which is why
    NN-descent is the standard offline graph builder at billion-vector
    scale."""
    return _nn_descent_refined(spark, sf_dir)


def _nn_gain_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    return f"""
    WITH {_nn_descent_cand_sql(head.lstrip()).lstrip()},
    isum AS (
      SELECT CAST(SUM(CAST(cosine AS DECIMAL(28,12))) AS DOUBLE) AS s
      FROM knn
    ),
    rsum AS (
      SELECT CAST(SUM(CAST(cosine AS DECIMAL(28,12))) AS DOUBLE) AS s
      FROM rtop
    ),
    pernode AS (
      SELECT i.q_id,
             SUM(CAST(i.cosine AS DECIMAL(28,12))) AS si,
             (SELECT SUM(CAST(r.cosine AS DECIMAL(28,12))) FROM rtop r
              WHERE r.q_id = i.q_id) AS sr
      FROM knn i GROUP BY i.q_id
    ),
    q0 AS (SELECT vec_id AS q_id, vec AS q_vec FROM base0 WHERE vec_id < 5),
    {_exact_topk_cte("exact", "base0 b, q0", _KNN_K)}
    SELECT CAST((SELECT COUNT(*) FROM knn) AS BIGINT) AS n_edges,
           floor((SELECT s FROM isum) * 1000000) / 1000000 AS init_sum_t6,
           floor((SELECT s FROM rsum) * 1000000) / 1000000 AS refined_sum_t6,
           CAST((SELECT COUNT(*) FROM pernode WHERE sr > si) AS BIGINT)
             AS improved_nodes,
           ((SELECT s FROM rsum) >= (SELECT s FROM isum)) AS refine_not_worse,
           CAST((SELECT COUNT(*) FROM exact e JOIN knn g
                 ON e.q_id = g.q_id AND e.c_id = g.c_id) AS BIGINT)
             AS init_hits,
           CAST((SELECT COUNT(*) FROM exact e JOIN rtop r
                 ON e.q_id = r.q_id AND e.c_id = r.c_id) AS BIGINT)
             AS refined_hits
    """


@register("nn_descent_gain_check", oracle=_nn_gain_oracle)
def nn_descent_gain_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-improvement certificate for nn_descent_round: total and
    per-node top-3 cosine mass can only grow (candidates are a superset
    of the current neighbors), refine_not_worse certifies it, and
    improved_nodes counts how many vectors actually got a better
    neighborhood this round (50/53/165 across SFs — the convergence
    signal an iterated build watches). Same guarantee for sample recall:
    any true top-3 member present in the candidate set must enter the
    refined top-3, so refined_hits >= init_hits by construction (equal
    on this near-random corpus after ONE round — the cosine-mass gain
    lands on non-sample nodes; recall improvement accrues over iterated
    rounds as the graph mixes)."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    init = _knn_scored(spark, sf_dir, _KNN_PROBE_BITS).localCheckpoint(
        eager=True
    )
    refined = _nn_descent_refined(spark, sf_dir, seed=init).localCheckpoint(
        eager=True
    )
    isum = init.agg(
        F.sum(F.col("cosine").cast("decimal(28,12)")).cast("double").alias("si")
    )
    rsum = refined.agg(
        F.sum(F.col("cosine").cast("decimal(28,12)")).cast("double").alias("sr")
    )
    per_i = init.groupBy("vec_id").agg(
        F.sum(F.col("cosine").cast("decimal(28,12)")).alias("si")
    )
    per_r = refined.groupBy("vec_id").agg(
        F.sum(F.col("cosine").cast("decimal(28,12)")).alias("sr")
    )
    improved = (
        per_i.join(per_r, "vec_id")
        .filter(F.col("sr") > F.col("si"))
        .agg(F.count("*").cast("long").alias("improved_nodes"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=_KNN_K).select("q_id", "c_id")
    i_hits = exact.join(
        init.select(
            F.col("vec_id").alias("q_id"), F.col("neighbor_id").alias("c_id")
        ).withColumn("m", F.lit(1)),
        ["q_id", "c_id"],
        "left",
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("init_hits"))
    r_hits = exact.join(
        refined.select(
            F.col("vec_id").alias("q_id"), F.col("neighbor_id").alias("c_id")
        ).withColumn("m", F.lit(1)),
        ["q_id", "c_id"],
        "left",
    ).agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("refined_hits"))
    n_edges = init.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(isum))
        .crossJoin(F.broadcast(rsum))
        .crossJoin(F.broadcast(improved))
        .crossJoin(F.broadcast(i_hits))
        .crossJoin(F.broadcast(r_hits))
        .select(
            "n_edges",
            (F.floor(F.col("si") * 1e6) / 1e6).alias("init_sum_t6"),
            (F.floor(F.col("sr") * 1e6) / 1e6).alias("refined_sum_t6"),
            "improved_nodes",
            (F.col("sr") >= F.col("si")).alias("refine_not_worse"),
            "init_hits",
            "refined_hits",
        )
    )


# NN-descent convergence certificate (r9 verdict ask #4): iterate the
# refinement round until the graph stops changing and put every round's
# update count — including the terminal no-op round — under the driver
# hash. The r9 fixpoint lesson (LPA/BFS budgets were silently too small)
# says an iterative op ships WITH its convergence evidence, not a
# fixed-round snapshot. Budget: measured first no-op round is 3 at every
# sf (updates 52/8/0/0 at sf0.001, 56/10/0/0 at sf0.01, similar decay at
# sf0.1) — near-random vectors mix in two 2-hop sweeps, inside the ~4-5
# sweeps Dong et al. 2011 report at recall-convergence on real corpora;
# the certificate, not the constant, is what transfers to 100 TB.
# 4 rounds = converged + 1 slack round at every sf, and the certificate
# FAILS HONESTLY (converged=false under the hash) if a future corpus
# needs more.
_NN_FIXPOINT_ROUNDS = 4


def _nn_fixpoint_round_sql(prev: int, cur: int) -> str:
    """One unrolled NN-descent round in DuckDB: edges e{prev} -> e{cur}.
    Same candidate algebra as _nn_descent_cand_sql (set-ops inside
    subqueries — the WITH RECURSIVE reinterpretation fence)."""
    return f""",
u{cur} AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e{prev} UNION ALL SELECT b, a FROM e{prev}) t
),
cand{cur} AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e{prev}
    UNION ALL
    SELECT u1.a, u2.b FROM u{cur} u1 JOIN u{cur} u2 ON u1.b = u2.a
    WHERE u2.b <> u1.a
  ) t
),
e{cur} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT cand.a, cand.b,
           ROW_NUMBER() OVER (PARTITION BY cand.a ORDER BY
             ROUND(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) DESC,
             cand.b ASC) AS rk
    FROM cand{cur} cand JOIN base x ON x.vec_id = cand.a
                        JOIN base y ON y.vec_id = cand.b
  ) WHERE rk <= {_KNN_K}
)"""


def _nn_fixpoint_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    rounds = "".join(
        _nn_fixpoint_round_sql(r - 1, r)
        for r in range(1, _NN_FIXPOINT_ROUNDS + 1)
    )
    row_sql = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS r, (SELECT COUNT(*) FROM e{r} x WHERE NOT EXISTS "
        f"(SELECT 1 FROM e{r - 1} p WHERE p.a = x.a AND p.b = x.b)) AS nu"
        for r in range(1, _NN_FIXPOINT_ROUNDS + 1)
    )
    return f"""
    WITH {head.lstrip()},
    e0 AS MATERIALIZED (SELECT q_id AS a, c_id AS b FROM knn){rounds}
    SELECT CAST(r AS BIGINT) AS round, CAST(nu AS BIGINT) AS n_updates,
           nu = 0 AS converged
    FROM (
      {row_sql}
    ) t
    """


@register("nn_descent_fixpoint_check", oracle=_nn_fixpoint_oracle)
def nn_descent_fixpoint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence certificate for the NN-descent build: run the
    refinement round 4x (= _NN_FIXPOINT_ROUNDS) from the LSH seed graph and
    emit one row per round with the number of edges that round changed
    and whether it was a no-op — the first n_updates = 0 row PROVES the
    documented budget exceeds convergence depth, under the driver hash
    (both engines unroll the identical candidate/rerank algebra, so the
    per-round graphs are hash-exact all the way to the fixpoint).
    Convergence is guaranteed, not hoped for: each node's top-k is drawn
    from a candidate superset of its current neighbors, so the (cosine
    mass, id-vector) key is lexicographically monotone per node and the
    iteration cannot cycle.

    Scale shape: per round one degree-bounded 2-hop join + id-keyed
    rerank (the nn_descent_round plan), each round's graph
    localCheckpoint-pinned so plans stay constant-depth; the update
    counter is a broadcast-free anti-join on (vec_id, neighbor_id) —
    2kn rows vs 2kn rows on the same key, linear at any corpus."""
    prev = (
        _knn_scored(spark, sf_dir, _KNN_PROBE_BITS)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    out = None
    for r in range(1, _NN_FIXPOINT_ROUNDS + 1):
        cur = (
            _nn_descent_refined(spark, sf_dir, seed=prev)
            .select("vec_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
        upd = (
            cur.join(
                prev.select(
                    F.col("vec_id").alias("pv"), F.col("neighbor_id").alias("pn")
                ),
                (F.col("vec_id") == F.col("pv"))
                & (F.col("neighbor_id") == F.col("pn")),
                "left_anti",
            )
            .agg(F.count("*").alias("nu"))
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("nu").cast("long").alias("n_updates"),
                (F.col("nu") == 0).alias("converged"),
            )
        )
        out = upd if out is None else out.unionByName(upd)
        prev = cur
    return out


# ---------------------------------------------------------------------------
# Graph-based SemDeDup — the third consumer of the k-NN graph stack
# (after the recall check and NN-descent): threshold the refined graph's
# edges at the corpus' near-dup cosine, close them into components
# (pointer-doubling CC), and report the duplicate-cluster size histogram
# — the numbers a dedup run reads before deleting. Complements
# semantic_dedup_survivors (k-means-cluster-blocked SemDeDup): the graph
# variant needs no cluster count hyperparameter and inherits the
# LSH-seeded graph's linear candidate generation.
# ---------------------------------------------------------------------------

#: near-dup cosine threshold; this corpus' planted embedding near-dups
#: sit just above 0.35 and nothing exceeds 0.5 (measured — same literal
#: as embedding_neardup_pairs), so 0.35 is the non-vacuous choice at
#: every sf.
_SEMG_T = 0.35


def _semg_oracle(sf_dir: str) -> str:
    head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    return f"""
    WITH RECURSIVE {_nn_descent_cand_sql(head.lstrip()).lstrip()},
    sd_edges AS MATERIALIZED (
      SELECT q_id AS a, c_id AS b FROM rtop
      WHERE cosine >= {_SEMG_T} AND q_id < c_id
      GROUP BY 1, 2
    ),
    sedge AS (
      SELECT src, dst FROM (
        SELECT a AS src, b AS dst FROM sd_edges
        UNION ALL SELECT b, a FROM sd_edges) t
    ),
    comp(node, lab) AS (
      SELECT vec_id, vec_id FROM base0
      UNION
      SELECT e.dst, c.lab FROM comp c JOIN sedge e ON e.src = c.node
    ),
    final AS (SELECT node, MIN(lab) AS cluster_id FROM comp GROUP BY node),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM final GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_vectors,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removed
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


@register("semdedup_graph_clusters", oracle=_semg_oracle)
def semdedup_graph_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based SemDeDup decision table: edges of the NN-descent-
    refined k-NN graph at cosine >= 0.35 (the corpus' planted near-dup
    band — nothing exceeds 0.5 on these vectors, so the literal is
    non-vacuous at every sf), closed into duplicate components with the
    pointer-doubling CC operator, reported as the cluster-size histogram
    with survivor (one per cluster) and removal counts. The oracle
    closes the same thresholded edges with a recursive CTE — independent
    fixpoint formulations under one hash, the entity_resolution_golden
    pattern.

    Scale shape: candidate generation is the k-NN graph stack's linear
    pipeline (never all-pairs); CC runs on EDGE-TOUCHED nodes only in
    O(log diameter) pointer-doubling rounds (operators/dedup.
    duplicate_clusters); the histogram is a two-level rollup of the
    O(nodes) label frame."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import (
        duplicate_clusters,
    )

    refined = _nn_descent_refined(spark, sf_dir)
    edges = (
        refined.filter(
            (F.col("cosine") >= _SEMG_T)
            & (F.col("vec_id") < F.col("neighbor_id"))
        )
        .select(F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
        .distinct()
    )
    nodes = table(spark, sf_dir, "embeddings").select("vec_id")
    clusters = duplicate_clusters(nodes, edges, id_col="vec_id")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_vectors"),
            (F.sum("cluster_size") - F.count("*"))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — the subsampling step every corpus
# mix runs: per (lang, source) stratum, keep exactly min(quota, |stratum|)
# documents, selection by a seeded content-independent hash order so the
# sample is (a) reproducible across runs/engines/cluster sizes, (b)
# uniform within the stratum, and (c) STABLE under corpus growth (a doc's
# hash priority never changes, so re-running on an extended corpus keeps
# the previously sampled docs that still make the cut — the property
# random() sampling lacks and the reason hash-order sampling is the
# production standard for train-set freezes).
# ---------------------------------------------------------------------------

_STRAT_QUOTA = 8
_STRAT_SEED = "r9"  # salt folded into the hash so new seeds redraw


def _strat_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.plans.registry import sql_hash52

    pri = sql_hash52(f"'{_STRAT_SEED}|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT lang, source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY {pri} ASC, doc_id ASC) AS rn
  FROM documents WHERE trim(COALESCE(text, '')) != ''
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
FROM ranked WHERE rn <= {_STRAT_QUOTA}
GROUP BY lang, source ORDER BY lang, source
""".strip()


@register("stratified_sample_quota", oracle=_strat_oracle())
def stratified_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: per (lang, source) stratum the
    8 (= _STRAT_QUOTA) documents with the smallest seeded hash52 priority
    (md5 over seed|doc_id — uniform, content-independent, engine-exact),
    rolled up to per-stratum sample counts + id aggregates so the whole
    selected SET is under the driver hash. Every stratum fills its quota
    exactly (or its full size when smaller); changing the seed literal
    redraws the sample; extending the corpus never evicts a sampled doc
    whose priority still clears the quota — the reproducible-freeze
    property production samplers need.

    Scale shape: one scan computing the codegen'd md5 priority in the
    projection, one window partitioned by the stratum key (shuffle on
    (lang, source) only), quota filter before any rollup. No RAND(), no
    driver-side sampling, no second pass."""
    from kol_bigdata_realtime_analytics_spark.plans.registry import hash52

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    pri = hash52(
        F.concat(F.lit(_STRAT_SEED + "|"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("lang", "source").orderBy(
        F.col("pri").asc(), F.col("doc_id").asc()
    )
    ranked = docs.select("lang", "source", "doc_id", pri.alias("pri")).withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.filter(F.col("rn") <= _STRAT_QUOTA)
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.sum("doc_id").cast("long").alias("sum_doc_ids"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# HNSW offline layer assignment (Malkov & Yashunin 2016) — the third
# build primitive the k-NN-graph stack feeds: every vector draws a
# geometric level (P(level >= k) = 4^-k here, i.e. the standard
# exponential-decay layer populations with M=4), the top layers form the
# coarse routing graph and layer 0 holds everyone. Offline builders
# assign levels FIRST (it fixes each node's layer memberships and the
# entry point), then run the knn/NN-descent machinery once per layer
# population — this operator is that assignment plus the layer census.
# Levels come from trailing zeros of the seeded hash52 (exact integers,
# the HLL rho trick), not floor(-ln(u)*mL) floats — same geometric law,
# zero float risk.
# ---------------------------------------------------------------------------

_HNSW_MAX_LEVEL = 8
_HNSW_SEED = "hnsw-r9"


def _hnsw_oracle() -> str:
    from kol_bigdata_realtime_analytics_spark.plans.registry import sql_hash52

    h = sql_hash52(f"'{_HNSW_SEED}|' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH lv AS (
  SELECT vec_id,
         LEAST(CASE WHEN {h} = 0 THEN {_HNSW_MAX_LEVEL}
                    ELSE bit_count((({h}) & -({h})) - 1) // 2 END,
               {_HNSW_MAX_LEVEL}) AS level
  FROM embeddings
),
per AS (
  SELECT level, CAST(COUNT(*) AS BIGINT) AS n_at_level,
         CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
         CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids
  FROM lv GROUP BY level
)
SELECT level, n_at_level,
       CAST(SUM(n_at_level) OVER (ORDER BY level DESC) AS BIGINT)
         AS n_in_layer,
       min_vec_id, sum_vec_ids
FROM per ORDER BY level
""".strip()


@register("hnsw_layer_assign", oracle=_hnsw_oracle())
def hnsw_layer_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW level assignment + layer census: per level, how many vectors
    top out there (n_at_level), the LAYER population (n_in_layer = nodes
    with level >= this one — the set a per-layer graph build runs over),
    and id aggregates putting the exact assignment under the driver
    hash. Levels are geometric with ratio 1/4 via trailing-zero pairs of
    a seeded hash52 — deterministic, content-independent, identical in
    both engines; the top row's min_vec_id is the entry point an HNSW
    search starts from.

    Scale shape: one scan with a codegen'd md5 + bit arithmetic
    projection and one level-keyed rollup — layer assignment at 100 TB
    is exactly this embarrassingly parallel pass, which is why offline
    HNSW builds assign levels before any graph work. The per-layer
    graphs themselves are knn_graph_build/nn_descent_round runs over
    each n_in_layer population."""
    from kol_bigdata_realtime_analytics_spark.plans.registry import hash52

    h = hash52(
        F.concat(F.lit(_HNSW_SEED + "|"), F.col("vec_id").cast("string"))
    )
    tz = F.bit_count(h.bitwiseAND(-h) - 1)
    level = F.least(
        F.when(h == 0, F.lit(_HNSW_MAX_LEVEL)).otherwise(
            (tz / 2).cast("long")
        ),
        F.lit(_HNSW_MAX_LEVEL).cast("long"),
    )
    lv = table(spark, sf_dir, "embeddings").select(
        "vec_id", level.alias("level")
    )
    per = lv.groupBy("level").agg(
        F.count("*").cast("long").alias("n_at_level"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
    ).localCheckpoint(eager=True)  # <=9 rows, feeds both sides below
    # layer population via a <=9x9 self range-join — a global desc-ordered
    # window would plan single-partition WindowExec (the WARN class the
    # bench tail is kept free of)
    above = per.select(
        F.col("level").alias("b_level"), F.col("n_at_level").alias("b_n")
    )
    cum = (
        per.select("level")
        .join(above, F.col("b_level") >= F.col("level"))
        .groupBy("level")
        .agg(F.sum("b_n").cast("long").alias("n_in_layer"))
    )
    return (
        per.join(cum, "level")
        .select("level", "n_at_level", "n_in_layer", "min_vec_id", "sum_vec_ids")
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# Per-layer HNSW graph build + beam-descent certificate (r9 verdict ask
# #3): materialize the layered neighbor lists hnsw_layer_assign implies —
# for each level l, the knn_graph_build machinery restricted to nodes
# with level >= l, plane count re-scaled to THAT layer's population (so
# buckets stay ~_KNN_TARGET_BUCKET rows at every layer) — then certify
# the structure end-to-end: a beam search entering at the top layer's
# min-vec_id and descending layer by layer must reach each probe's true
# nearest neighbor within a literal hop budget. Completes the offline-
# HNSW arc (Malkov & Yashunin 2016): layer assignment (r9) -> per-layer
# graphs -> certified descent.
# ---------------------------------------------------------------------------

#: per-node neighbor-list width of the layered graphs. 16 = the hnswlib
#: default M, and a MEASURED navigability requirement on this corpus: with
#: k=3 lists the beam search plateaus in local optima (0-2 of 3 probes
#: reach their true NN, any beam/hop budget); with M=16 every probe
#: reaches its exact true top-1 at every sf under the budgets below.
_HNSW_M = 16
#: descent beam width (HNSW ef) and hops spent per layer
_HNSW_BEAM = 8
_HNSW_HOPS = 6
#: probes the descent certificate navigates for
_HNSW_PROBES = 3


def _hnsw_level_expr():
    """Spark Column: the hnsw_layer_assign level formula (trailing-zero
    pairs of the seeded hash52 — geometric with ratio 1/4, capped)."""
    from kol_bigdata_realtime_analytics_spark.plans.registry import hash52

    h = hash52(F.concat(F.lit(_HNSW_SEED + "|"), F.col("vec_id").cast("string")))
    tz = F.bit_count(h.bitwiseAND(-h) - 1)
    return F.least(
        F.when(h == 0, F.lit(_HNSW_MAX_LEVEL)).otherwise((tz / 2).cast("long")),
        F.lit(_HNSW_MAX_LEVEL).cast("long"),
    )


def _hnsw_level_sql() -> str:
    """DuckDB fragment matching _hnsw_level_expr bit-for-bit."""
    from kol_bigdata_realtime_analytics_spark.plans.registry import sql_hash52

    h = sql_hash52(f"'{_HNSW_SEED}|' || CAST(vec_id AS VARCHAR)")
    return (
        f"LEAST(CASE WHEN {h} = 0 THEN {_HNSW_MAX_LEVEL} "
        f"ELSE bit_count((({h}) & -({h})) - 1) // 2 END, {_HNSW_MAX_LEVEL})"
    )


def _hnsw_layer_counts(sf_dir: str) -> dict[int, int]:
    """{level: n_at_level} from the parquet file via DuckDB — the oracle
    generator's twin of the engine's bounded census collect."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {_hnsw_level_sql()} AS lvl, COUNT(*) AS n "
        f"FROM (SELECT vec_id FROM '{sf_dir}/embeddings.parquet') GROUP BY lvl"
    ).fetchall()
    return {int(l): int(n) for l, n in rows}


def _hnsw_pop_layers(counts: dict[int, int]) -> list[tuple[int, int]]:
    """(level, n_in_layer) for every level 0..max with >= 2 member nodes
    (a 0/1-node layer has no edges and contributes no graph rows)."""
    lmax = max(counts)
    out = []
    for l in range(lmax + 1):
        n_l = sum(n for k, n in counts.items() if k >= l)
        if n_l >= 2:
            out.append((l, n_l))
    return out


def _fused_layer_topk(per_layer, k: int) -> DataFrame:
    """Fuse per-layer bucket-probe top-k joins into ONE cogrouped Arrow
    scoring pass + ONE ranking window, keyed by (level, bucket).

    per_layer: [(level, q_df, c_df)] with q_df = (q_id, q_vec, q_nrm,
    probe) and c_df = (c_id, c_vec, c_nrm, c_bkt). Returns the long-form
    neighbor lists (level, vec_id, neighbor_id, cosine, rank <= k) —
    row-for-row identical to unioning one bucket join + window per layer
    (the pre-r11 shape), but the N layer joins collapse into one
    bucket_pair_scores pass and the N windows into one partitioned by
    (level, q_id): fewer stages, and the pair scoring runs vectorized in
    Arrow instead of interpreted per pair (guide §4.2; PERF §2.1)."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        bucket_pair_scores,
    )

    q_all = None
    c_all = None
    for l, q, c in per_layer:
        qt = q.select(F.lit(l).cast("long").alias("ltag"), "*")
        ct = c.select(F.lit(l).cast("long").alias("ltag"), "*")
        q_all = qt if q_all is None else q_all.unionByName(qt)
        c_all = ct if c_all is None else c_all.unionByName(ct)
    scored = bucket_pair_scores(
        q_all, c_all, keys=[("ltag", "ltag"), ("probe", "c_bkt")]
    )
    w = Window.partitionBy("ltag", "q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("ltag").alias("level"),
            F.col("q_id").alias("vec_id"),
            F.col("c_id").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _probe_cols():
    """The multi-probe bucket array: own bucket + single-bit flips."""
    return F.array(
        F.col("bkt"),
        *[
            F.col("bkt").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(_KNN_PROBE_BITS)
        ],
    )


def _hnsw_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, int], DataFrame]:
    """(base, counts, graph): the checkpointed (vec_id, vec, nrm, level)
    scan, the bounded layer census, and the long-form layered neighbor
    lists (level, vec_id, neighbor_id, cosine, rank) — one scan feeds
    every layer; per layer a bucket projection with layer-scaled planes
    + the knn probe join + top-k. Built once per session (see artifacts)
    and consumed by the build query AND the descent certificate."""
    return artifacts.cached(
        "hnsw_build", sf_dir, (), lambda: _hnsw_build_uncached(spark, sf_dir)
    )


def _hnsw_build_uncached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, int], DataFrame]:
    """The uncached HNSW build (see _hnsw_build)."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        lsh_bucket_id,
        norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = (
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn("level", _hnsw_level_expr())
        .localCheckpoint(eager=True)  # one scan feeds every layer
    )
    counts = {
        int(r["level"]): int(r["n"])
        for r in base.groupBy("level").agg(F.count("*").alias("n")).collect()
    }  # bounded: <= _HNSW_MAX_LEVEL + 1 rows
    per_layer = []
    for l, n_l in _hnsw_pop_layers(counts):
        planes_l = _knn_planes(n_l)
        pop = base.filter(F.col("level") >= l).withColumn(
            "bkt", lsh_bucket_id(F.col("vec"), dim=64, n_planes=planes_l)
        )
        q = pop.select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            F.explode(_probe_cols()).alias("probe"),
        )
        c = pop.select(
            F.col("vec_id").alias("c_id"),
            F.col("vec").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            F.col("bkt").alias("c_bkt"),
        )
        per_layer.append((l, q, c))
    out = _fused_layer_topk(per_layer, _HNSW_M).localCheckpoint(eager=True)
    return base, counts, out


def _hnsw_layer_cte_sql(l: int, n_l: int) -> str:
    """DuckDB CTE chain for one layer's knn graph (bl{l}/qp{l}/knn{l})."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=_knn_planes(n_l))
    probe_list = ", ".join(
        ["bkt"] + [f"xor(bkt, {1 << i})" for i in range(_KNN_PROBE_BITS)]
    )
    return f""",
bl{l} AS MATERIALIZED (
  SELECT vec_id, vec, nrm, {bucket} AS bkt FROM hbase WHERE level >= {l}),
qp{l} AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm,
              unnest([{probe_list}]) AS probe FROM bl{l}),
knn{l} AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT s.q_id, s.c_id, s.cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY s.cosine DESC, s.c_id ASC) AS BIGINT) AS rank
    FROM (
      SELECT qp.q_id, b.vec_id AS c_id,
             ROUND(list_dot_product(qp.q_vec, b.vec) / (qp.q_nrm * b.nrm), 6)
               AS cosine
      FROM bl{l} b JOIN qp{l} qp
        ON b.bkt = qp.probe AND b.vec_id <> qp.q_id) s
  ) WHERE rank <= {_HNSW_M}
)"""


_HNSW_BASE_SQL = """
base0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
hbase AS MATERIALIZED (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm,
         {level} AS level
  FROM base0)"""


def _hnsw_graph_oracle(sf_dir: str) -> str:
    layers = _hnsw_pop_layers(_hnsw_layer_counts(sf_dir))
    ctes = "".join(_hnsw_layer_cte_sql(l, n) for l, n in layers)
    head = _HNSW_BASE_SQL.format(level=_hnsw_level_sql())
    body = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({l} AS BIGINT) AS level, q_id AS vec_id, "
        f"c_id AS neighbor_id, cosine, rank FROM knn{l}"
        for l, _ in layers
    )
    return f"""
    WITH {head.lstrip()}{ctes}
    {body}
    """


@register("hnsw_layer_graphs", oracle=_hnsw_graph_oracle)
def hnsw_layer_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-layer HNSW neighbor lists: for every level l with
    >= 2 member nodes, the approximate M=16 nearest-neighbor lists over
    the nodes with level >= l, in long form (level, vec_id, neighbor_id,
    cosine, rank) — layer 0 spans the whole corpus (knn_graph_build's
    candidate machinery, widened from k=3 to the hnswlib-default M=16:
    measured, 3-link layers are NOT navigable — beam search plateaus in
    local optima — while M=16 routes every descent probe to its exact
    true NN), upper layers are the coarse routing graphs. HASH-exact end
    to end: levels
    come from the seeded hash52 and every layer's buckets from literal
    LCG planes (lsh_bucket_sql), with the plane count re-derived per
    layer from that layer's population by both engines.

    Scale shape: ONE checkpointed corpus scan; per layer, a codegen'd
    bucket projection + the bounded-bucket probe join (planes_l =
    log2(n_l / 125) pins ~125-row buckets at every layer). Populations
    shrink 4x per level, so total pair volume is a geometric series
    summing to ~4/3 of the base build — the textbook reason offline
    HNSW construction is only fractionally dearer than one kNN graph."""
    _, _, graph = _hnsw_build(spark, sf_dir)
    return graph


# ---------------------------------------------------------------------------
# HNSW incremental insert (r10) — the index-MAINTENANCE rung after the
# offline build: a NEW batch of vectors (vec_id % 10 = 0, the
# dedup_incremental_batch split) is appended to a FROZEN layered index —
# levels from the same seeded hash52, per-layer plane counts pinned to
# the CORPUS-ONLY layer populations (a live index does not re-derive its
# hash family per insert) — and each new node gets its per-layer M=16
# neighbor list from bucket-matched candidates among corpus + earlier-
# visible batch nodes. Probe work is BATCH-sized: the corpus is bucketed
# once (the persisted index) and never pair-joined against itself.
# ---------------------------------------------------------------------------


def _hnsw_split_counts(sf_dir: str) -> tuple[dict[int, int], dict[int, int]]:
    """({level: corpus_n}, {level: batch_n}) via DuckDB — oracle twin of
    the engine's bounded census."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {_hnsw_level_sql()} AS lvl, vec_id % 10 = 0 AS b, COUNT(*) "
        f"FROM (SELECT vec_id FROM '{sf_dir}/embeddings.parquet') GROUP BY 1, 2"
    ).fetchall()
    corpus: dict[int, int] = {}
    batch: dict[int, int] = {}
    for l, b, n in rows:
        (batch if b else corpus)[int(l)] = int(n)
    return corpus, batch


def _hnsw_insert_layers(
    corpus: dict[int, int], batch: dict[int, int]
) -> list[tuple[int, int]]:
    """(level, frozen_planes) for every level with >= 1 batch node to
    insert and >= 1 corpus node frozen-indexed there. planes come from
    the CORPUS-ONLY layer population — the frozen index's hash family."""
    out = []
    lmax = max(list(corpus) + list(batch))
    for l in range(lmax + 1):
        cn = sum(n for k, n in corpus.items() if k >= l)
        bn = sum(n for k, n in batch.items() if k >= l)
        if cn >= 1 and bn >= 1:
            out.append((l, _knn_planes(cn)))
    return out


def _hnsw_insert_cte_sql(l: int, planes: int) -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_sql,
    )

    bucket = lsh_bucket_sql("vec", dim=64, n_planes=planes)
    probe_list = ", ".join(
        ["bkt"] + [f"xor(bkt, {1 << i})" for i in range(_KNN_PROBE_BITS)]
    )
    return f""",
il{l} AS MATERIALIZED (
  SELECT vec_id, vec, nrm, {bucket} AS bkt FROM hbase WHERE level >= {l}),
iq{l} AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm,
              unnest([{probe_list}]) AS probe FROM il{l}
          WHERE vec_id % 10 = 0),
ik{l} AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT s.q_id, s.c_id, s.cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY s.cosine DESC, s.c_id ASC) AS BIGINT) AS rank
    FROM (
      SELECT qp.q_id, b.vec_id AS c_id,
             ROUND(list_dot_product(qp.q_vec, b.vec) / (qp.q_nrm * b.nrm), 6)
               AS cosine
      FROM il{l} b JOIN iq{l} qp
        ON b.bkt = qp.probe AND b.vec_id <> qp.q_id) s
  ) WHERE rank <= {_HNSW_M}
)"""


def _hnsw_insert_oracle(sf_dir: str) -> str:
    layers = _hnsw_insert_layers(*_hnsw_split_counts(sf_dir))
    ctes = "".join(_hnsw_insert_cte_sql(l, p) for l, p in layers)
    body = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({l} AS BIGINT) AS level, q_id AS vec_id, "
        f"c_id AS neighbor_id, cosine, rank FROM ik{l}"
        for l, _ in layers
    )
    head = _HNSW_BASE_SQL.format(level=_hnsw_level_sql())
    return f"""
    WITH {head.lstrip()}{ctes}
    {body}
    """


@register("hnsw_insert_batch", oracle=_hnsw_insert_oracle)
def hnsw_insert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HNSW insert: per new-batch vector (vec_id % 10 = 0)
    and per layer it joins (level >= l, levels from the same seeded
    hash52 as the build), the M=16 neighbor list drawn from bucket-
    matched candidates in the FROZEN index — plane counts pinned to the
    corpus-only layer populations, exactly what a live index does (its
    hash family does not drift per insert; at today's SFs the frozen and
    full-population plane counts happen to coincide, so the semantics is
    dormant — documented, not hidden). Long form (level, vec_id,
    neighbor_id, cosine, rank), all hash-exact via the literal-plane
    discipline.

    Scale shape: the corpus side is bucketed ONCE per layer (in
    production that bucket column is the persisted index partition key)
    and the probe join's pair volume is BATCH-sized — ~500 candidates
    per new vector at any corpus size, the property that makes insert
    cost independent of index size. Bidirectional repair (corpus nodes
    whose lists should now include new neighbors) is the same
    bucket-join shape with sides swapped."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = (
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn("level", _hnsw_level_expr())
        .localCheckpoint(eager=True)
    )
    return _hnsw_insert_from_base(spark, base)


def _hnsw_insert_from_base(spark: SparkSession, base: DataFrame) -> DataFrame:
    """hnsw_insert_batch's core against an explicit frozen-index base
    frame (vec_id, vec, nrm, level) — the registered query builds it from
    the corpus scan; index_persistence_roundtrip_check feeds the SAME
    frame LOADED from the persisted parquet artifact, certifying the
    stored index drives an identical insert."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        lsh_bucket_id,
    )

    census = {
        (int(r["level"]), bool(r["b"])): int(r["n"])
        for r in base.groupBy(
            "level", (F.col("vec_id") % 10 == 0).alias("b")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }  # bounded: <= 2 * (_HNSW_MAX_LEVEL + 1) rows
    corpus = {l: n for (l, b), n in census.items() if not b}
    batch = {l: n for (l, b), n in census.items() if b}
    per_layer = []
    for l, planes_l in _hnsw_insert_layers(corpus, batch):
        pop = base.filter(F.col("level") >= l).withColumn(
            "bkt", lsh_bucket_id(F.col("vec"), dim=64, n_planes=planes_l)
        )
        q = pop.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            F.explode(_probe_cols()).alias("probe"),
        )
        c = pop.select(
            F.col("vec_id").alias("c_id"),
            F.col("vec").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            F.col("bkt").alias("c_bkt"),
        )
        per_layer.append((l, q, c))
    return _fused_layer_topk(per_layer, _HNSW_M)


def _hnsw_descent_oracle(sf_dir: str) -> str:
    from kol_bigdata_realtime_analytics_spark.plans.hnsw_search import (
        _descend_cte_sql,
    )

    return f"""
    WITH {_descend_cte_sql(sf_dir, _HNSW_PROBES)},
    found AS (
      SELECT q_id, node AS found_id, cosine AS found_cosine FROM (
        SELECT q_id, node, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, node ASC) AS rk
        FROM (SELECT DISTINCT * FROM fin)) WHERE rk = 1
    ),
    tru AS (
      SELECT q_id, node AS true_id, cosine AS true_cosine FROM (
        SELECT p.q_id, v.vec_id AS node,
               ROUND(list_dot_product(p.q_vec, v.vec) / (p.q_nrm * v.nrm), 6)
                 AS cosine,
               ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
                 ROUND(list_dot_product(p.q_vec, v.vec) / (p.q_nrm * v.nrm), 6)
                   DESC, v.vec_id ASC) AS rk
        FROM pr p JOIN hbase v ON v.vec_id <> p.q_id) WHERE rk = 1
    )
    SELECT f.q_id, CAST(e.node AS BIGINT) AS entry_id,
           CAST(f.found_id AS BIGINT) AS found_id, f.found_cosine,
           CAST(t.true_id AS BIGINT) AS true_id, t.true_cosine,
           f.found_id = t.true_id AS reached
    FROM found f JOIN tru t ON t.q_id = f.q_id, ent e
    """


@register("hnsw_descent_check", oracle=_hnsw_descent_oracle)
def hnsw_descent_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descent certificate for hnsw_layer_graphs: a width-8 beam search
    (HNSW ef-search) enters at the top layer's min-vec_id node, spends 6
    hops per layer descending the UNDIRECTED layer links to layer 0; per
    probe (vec_id < 3) the row records where the walk landed vs the TRUE
    nearest neighbor (brute-force cosine top-1), with `reached`
    certifying the layered graph actually routes to it within the
    literal budget — true for every probe at every sf (measured; the
    probe's own node is excluded from the RESULT, not the walk, exactly
    as corpus-point queries are evaluated). Every step is deterministic
    (exact cosines, id tie-breaks) and unrolled identically in the
    DuckDB oracle, so the whole trajectory — not just the endpoint — is
    hash-certified.

    Scale shape: the walk is a loop of constant-size frames (beam =
    probes x 3 rows) joined against the id-keyed layer edge lists and
    the checkpointed base for rescoring — each hop shuffles nothing
    corpus-sized (the beam side broadcasts); the brute-force truth side
    is one probes-x-corpus scan, the same bounded shape as
    knn_graph_recall_check's sample."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import dot
    from kol_bigdata_realtime_analytics_spark.plans.hnsw_search import _descend

    pr, bv, ent, fin = _descend(spark, sf_dir, _HNSW_PROBES)
    wf = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("node").asc())
    found = (
        fin.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") == 1)
        .select(
            "q_id",
            F.col("node").alias("found_id"),
            F.col("cosine").alias("found_cosine"),
        )
    )
    tru_scored = bv.join(F.broadcast(pr), F.col("node") != F.col("q_id")).select(
        "q_id",
        "node",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_nrm") * F.col("n_nrm")),
            6,
        ).alias("cosine"),
    )
    tru = (
        tru_scored.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") == 1)
        .select(
            "q_id",
            F.col("node").alias("true_id"),
            F.col("cosine").alias("true_cosine"),
        )
    )
    return (
        found.join(tru, "q_id")
        .crossJoin(F.broadcast(ent.select(F.col("node").alias("entry_id"))))
        .select(
            "q_id",
            F.col("entry_id").cast("long"),
            F.col("found_id").cast("long").alias("found_id"),
            "found_cosine",
            F.col("true_id").cast("long").alias("true_id"),
            "true_cosine",
            (F.col("found_id") == F.col("true_id")).alias("reached"),
        )
    )
# that runs AFTER URL canonicalization: documents inherit their canonical
# host, and filtering decisions move from per-document to per-DOMAIN
# (a host whose corpus-wide mean quality sits below the corpus mean is a
# candidate for the blocklist however good its individual best pages
# look). Pairs with url_canonical_dedup: same host derivation, next
# pipeline stage.
# ---------------------------------------------------------------------------

_DQR_LOW_Q = 0.25  # low-quality doc threshold; ~40% of docs sit below it


@register(
    "domain_quality_rollup",
    oracle=f"""
    WITH m AS (
      SELECT 'www.' || source || '.example' AS host,
             CAST({TOKEN_COUNT_ORACLE_SQL.format(col="text")} AS DOUBLE)
               AS n_tokens,
             {PUNCT_RATIO_ORACLE_SQL.format(col="text")} AS pr,
             {STOPWORD_RATIO_ORACLE_SQL.format(col="text")} AS sr
      FROM documents WHERE trim(COALESCE(text, '')) != ''
    ),
    q AS (
      SELECT host, n_tokens,
             floor(LEAST(n_tokens / 100.0, 1.0)
                   * (1.0 - LEAST(pr, 0.5))
                   * (0.5 + LEAST(sr, 0.5)) * 1000000) / 1000000 AS quality
      FROM m
    ),
    per AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             floor(CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) * 1000000) / 1000000 AS mean_quality_t6,
             floor(CAST(SUM(CAST(n_tokens AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) * 1000000) / 1000000 AS mean_tokens_t6,
             CAST(COUNT(*) FILTER (quality < {_DQR_LOW_Q}) AS BIGINT)
               AS n_low_quality
      FROM q GROUP BY host
    ),
    g AS (
      SELECT floor(CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) * 1000000) / 1000000 AS corpus_mean
      FROM q
    )
    SELECT per.host, per.n_docs, per.mean_quality_t6, per.mean_tokens_t6,
           per.n_low_quality,
           (per.mean_quality_t6 < g.corpus_mean) AS below_corpus_mean
    FROM per, g ORDER BY per.host
    """,
)
def domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-canonical-host quality census: doc count, mean quality score
    and mean token count (decimal-summed, trunc6), low-quality doc count
    (quality < 0.25 — ~40% of this corpus, non-vacuous everywhere), and
    the blocklist signal below_corpus_mean comparing the host's mean to
    the corpus mean at the same truncation. Domain-level filtering is
    how production web pipelines spend their quality budget — one
    reputation decision covers millions of pages that per-doc scoring
    would re-litigate individually.

    Scale shape: per-doc metrics run in the scan projection, ONE
    groupBy(host) rollup, and the corpus mean is a broadcast 1-row
    frame; everything is host-cardinality after the single pass."""
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    q = docs.select(
        F.concat(F.lit("www."), F.col("source"), F.lit(".example")).alias(
            "host"
        ),
        token_count("text").cast("double").alias("n_tokens"),
        trunc6(quality_score("text")).alias("quality"),
    ).localCheckpoint(eager=False)  # feeds the host rollup + corpus mean
    per = q.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        trunc6(
            F.sum(F.col("quality").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("mean_quality_t6"),
        trunc6(
            F.sum(F.col("n_tokens").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("mean_tokens_t6"),
        F.sum(F.when(F.col("quality") < _DQR_LOW_Q, 1).otherwise(0))
        .cast("long")
        .alias("n_low_quality"),
    )
    g = q.agg(
        trunc6(
            F.sum(F.col("quality").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("corpus_mean")
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "host",
            "n_docs",
            "mean_quality_t6",
            "mean_tokens_t6",
            "n_low_quality",
            (F.col("mean_quality_t6") < F.col("corpus_mean")).alias(
                "below_corpus_mean"
            ),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez 1985; the "diversity
# selection" in modern data-pruning pipelines, e.g. coreset-based training
# subset selection): iteratively pick the point FARTHEST from everything
# selected so far. The selected ids + their selection-time distances are
# deterministic (round6 distance, id tie-break), so the whole trajectory
# is driver-hashable against an unrolled oracle.
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle_sql(k: int) -> str:
    parts = [
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
        "s0 AS (SELECT MIN(vec_id) AS vec_id, 0.0 AS dmin FROM base)",
    ]
    sel = ["s0"]
    for t in range(1, k):
        prev = " UNION ALL ".join(f"SELECT vec_id FROM {s}" for s in sel)
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT b.vec_id,
         MIN(ROUND(list_dot_product(b.v, b.v) - 2*list_dot_product(b.v, s.v)
             + list_dot_product(s.v, s.v), 6)) AS dmin
  FROM base b JOIN base s ON s.vec_id IN ({prev})
  WHERE b.vec_id NOT IN ({prev})
  GROUP BY b.vec_id
),
s{t} AS MATERIALIZED (SELECT vec_id, dmin FROM d{t} ORDER BY dmin DESC, vec_id ASC LIMIT 1)""")
        sel.append(f"s{t}")
    union = " UNION ALL ".join(
        f"SELECT {i} AS round, vec_id, dmin FROM s{i}" for i in range(k)
    )
    parts.append(f"""
SELECT CAST(round AS BIGINT) AS round, CAST(vec_id AS BIGINT) AS vec_id,
       dmin AS dist_to_set
FROM ({union}) ORDER BY round""")
    return "".join(parts).strip()


@register("kcenter_coreset_select", oracle=_kcenter_oracle_sql(_KCENTER_K))
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center selection of 8 maximally-diverse embedding vectors:
    seed = min vec_id, then 7 rounds of "farthest point from the selected
    set" (squared L2 expanded to three left-to-right dot folds so both
    engines see identical IEEE doubles; round6 + id tie-break make every
    argmax total). Output: the selection trajectory (round, vec_id,
    distance-to-set at selection time).

    This is the diversity-sampling half of data pruning (the other half,
    importance weighting, is dsir_importance_weights): the selected
    coreset maximizes coverage radius, and the round-t distance column is
    the coverage-radius curve a pruning pipeline reads the elbow off.

    Scale shape: the selected set lives on the DRIVER (k rows — the
    embedding_kmeans_lloyd discipline) and each round is ONE corpus scan
    computing min-distance-to-k-literals (k<=8 codegen dot folds, no
    join, no shuffle except the 1-row argmax TakeOrdered) — k scans
    total. The O(n*k) work is inherent to exact greedy k-center; at
    100 TB you run it on the IVF-bucketed sample like every other fit."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        dot,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    seed = emb.agg(F.min("vec_id")).collect()[0][0]
    sel_rows = [(0, int(seed), 0.0)]
    sel_vecs = {
        int(r["vec_id"]): r["v"]
        for r in emb.filter(F.col("vec_id") == seed).collect()
    }
    # dot(s,s) must fold IDENTICALLY to the engines' left-to-right
    # aggregate; Python's running sum is that fold
    def _ss(vec):
        acc = 0.0
        for x in vec:
            acc += x * x
        return acc

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    for t in range(1, _KCENTER_K):
        ids = list(sel_vecs.keys())
        # r11 opt (guide §4.2): the per-selected dot folds ran interpreted
        # per row per element; one Arrow pass computes the RAW distances to
        # all t selected vectors with the identical IEEE sequence — the
        # per-dimension left-to-right accumulation of the F.aggregate fold
        # (the bucket_pair_scores discipline), and the same expression
        # order (ss_v - 2*dot) + ss_s. round6 and least() stay Spark-side,
        # exactly as before.
        S = np.array([sel_vecs[i] for i in ids], dtype="float64")  # (t, 64)
        ss_s = np.array([_ss(sel_vecs[i]) for i in ids], dtype="float64")

        def _mk_draw(S, ss_s):
            @pandas_udf("array<double>")
            def _draw(vs: pd.Series) -> pd.Series:
                V = np.stack(vs.to_numpy())  # (n, 64)
                acc = np.zeros((len(V), len(S)), dtype="float64")
                ssv = np.zeros(len(V), dtype="float64")
                for d in range(V.shape[1]):  # sequential per-dim fold
                    acc += V[:, d : d + 1] * S[None, :, d]
                    ssv += V[:, d] * V[:, d]
                D = (ssv[:, None] - 2.0 * acc) + ss_s[None, :]
                return pd.Series(list(D))

            return _draw

        _draw = _mk_draw(S, ss_s)

        arr = F.col("_draw")
        dists = [F.round(arr[j], 6) for j in range(len(ids))]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        top = (
            emb.filter(~F.col("vec_id").isin(ids))
            .withColumn("_draw", _draw(F.col("v")))
            .select("vec_id", "v", dmin.alias("dmin"))
            .orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        sel_rows.append((t, int(top["vec_id"]), float(top["dmin"])))
        sel_vecs[int(top["vec_id"])] = top["v"]
    return spark.createDataFrame(
        sel_rows, "round long, vec_id long, dist_to_set double"
    )


# ---------------------------------------------------------------------------
# Skip-gram training-pair generation (word2vec / embedding pretraining
# data prep): (center, context) co-occurrence pairs within a +/-2 token
# window, downweighted by Mikolov frequency subsampling. The stochastic
# drop of the original is replaced by its EXPECTATION — each pair carries
# weight w(center)*w(context), w(f) = min(1, sqrt(t/f)) — which is the
# deterministic quantity the sampled pipeline converges to, and the form
# a weighted-negative-sampling trainer consumes directly.
# ---------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_T = 1e-3  # the standard word2vec subsampling threshold
_SG_TOP = 30

_SKIPGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
tok AS (
  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM toks
),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
w AS (
  SELECT t, LEAST(1.0, sqrt({_SG_T} / (CAST(c AS DOUBLE) / tot.n))) AS sw
  FROM freq, tot
),
pairs AS (
  SELECT a.t AS center, b.t AS context
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.i BETWEEN a.i - {_SG_WINDOW} AND a.i + {_SG_WINDOW}
   AND b.i != a.i
)
SELECT center, context,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       floor(CAST(SUM(CAST(wc.sw * wx.sw AS DECIMAL(28,12))) AS DOUBLE)
             * 1000000) / 1000000 AS weighted_t6
FROM pairs
  JOIN w wc ON wc.t = pairs.center
  JOIN w wx ON wx.t = pairs.context
GROUP BY center, context
ORDER BY weighted_t6 DESC, center ASC, context ASC
LIMIT {_SG_TOP}
""".strip()


@register("skipgram_training_pairs", oracle=_SKIPGRAM_ORACLE)
def skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{N} skip-gram (center, context) pairs within a +/-{W} window,
    weighted by expected Mikolov subsampling (w(f) = min(1, sqrt(t/f)),
    t = 1e-3) — the training-pair table an embedding pretrain consumes.
    Subsampling is applied as its expectation rather than a coin flip:
    deterministic, and exactly what the sampled stream converges to.

    Scale shape: pair extraction is a zero-shuffle flatten of per-token
    window offsets (the bigram_xent_scores idiom generalized to +/-2 —
    the oracle's positional self-join shape would shuffle the token
    stream twice); the weight join keys on the vocabulary; weighted
    counts sum in DECIMAL(28,12). Window size fixed -> fan-out bounded
    at 2W rows per token."""
    from kol_bigdata_realtime_analytics_spark.functions.text import tokens
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    ts = docs.select("doc_id", tokens("text").alias("ts"))
    tok = docs.select(F.explode(tokens("text")).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    w = freq.crossJoin(F.broadcast(tot)).select(
        "t",
        F.least(
            F.lit(1.0),
            F.sqrt(F.lit(_SG_T) / (F.col("c").cast("double") / F.col("n"))),
        ).alias("sw"),
    )
    # window offsets as a generator over the token array: for position i,
    # contexts at i+d for d in [-W..W]\{0} with bounds checks — no self-join
    offs = [d for d in range(-_SG_WINDOW, _SG_WINDOW + 1) if d != 0]
    pair_structs = ", ".join(
        f"IF(i + ({d}) >= 0 AND i + ({d}) < size(ts),"
        f" struct(w AS center, ts[i + ({d})] AS context), NULL)"
        for d in offs
    )
    pairs = ts.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (w, i) ->"
                f" filter(array({pair_structs}), p -> p IS NOT NULL)))"
            )
        ).alias("p")
    ).select("p.center", "p.context")
    wc = w.select(F.col("t").alias("center"), F.col("sw").alias("sw_c"))
    wx = w.select(F.col("t").alias("context"), F.col("sw").alias("sw_x"))
    # aggregate-first (r12 opt, guide §2.3): the summand sw_c * sw_x is
    # CONSTANT per (center, context), so count the raw pairs before the
    # weight joins — the joins and the decimal arithmetic then run over
    # the vocab^2-bounded pair table instead of every corpus pair row.
    # n_raw * d == the former SUM of n_raw copies of d exactly, PROVIDED
    # the multiply itself is exact: d <= 1, so decimal(13,12) holds the
    # identical scale-12 rounding of the double product as the former
    # decimal(28,12) cast, and bigint(= decimal(20,0)) x decimal(13,12)
    # has result precision 34 <= 38 — no scale truncation (a direct
    # decimal(28,12) multiplicand overflowed to precision 49 and Spark
    # silently dropped scale digits: 481 rows off by 1e-6 at sf0.001).
    pc = pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("n_raw")
    )
    return (
        pc.join(F.broadcast(wc), "center")
        .join(F.broadcast(wx), "context")
        .select(
            "center",
            "context",
            "n_raw",
            trunc6(
                (
                    F.col("n_raw")
                    * (F.col("sw_c") * F.col("sw_x")).cast("decimal(13,12)")
                ).cast("double")
            ).alias("weighted_t6"),
        )
        .orderBy(F.col("weighted_t6").desc(), F.col("center").asc(), F.col("context").asc())
        .limit(_SG_TOP)
    )
