"""Unigram-LM (SentencePiece-style) tokenizer round — the OTHER tokenizer
family next to BPE (plans/llm_ops.bpe_*): Kudo 2018 trains by EM over a
piece inventory instead of greedy pair merges. One full round is
implemented distributedly and integer-exactly:

  init    piece inventory = every substring (len 1..4) of the distinct-word
          vocabulary, occurrence-weighted by word frequency;
  E-step  Viterbi-segment every distinct word under fixed-point piece costs
          (cost = floor(1e6 * ln(total/cnt)) — identical doubles in both
          engines, floored to an INTEGER, so the whole DP is exact integer
          arithmetic with a total (cost, backpointer) tie-break);
  M-step  re-estimate piece counts from the Viterbi segmentations,
          occurrence-weighted.

Everything runs on the DISTINCT-WORD vocabulary (31 words here; ~1e5-1e6
in a real corpus — the same vocab-not-corpus scaling argument as
bpe_vocab_train, plans/llm_ops.py:3090): corpus-sized data is touched
exactly once to build word frequencies. The Viterbi loop is a driver loop
over word POSITIONS (max word length, data-derived), each round one
vocab-sized join against the piece-cost table.

Reference capability: the reference repo tokenizes with external
pretrained tokenizers; training one in-engine is the training-data-
pipeline extension (SURVEY.md LLM-ops mandate), matching
sentencepiece's unigram trainer semantics at one-EM-round fidelity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.plans.registry import register, table

_MAX_PIECE = 4


def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, c): distinct whitespace tokens with corpus frequencies."""
    from kol_bigdata_realtime_analytics_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        # Paths are '|'-joined and re-split in the M-step; a vocabulary
        # word containing the separator would silently fragment pieces in
        # BOTH engines (hash-green but wrong), so such words are excluded
        # here and in the oracle's vocab CTE.
        .filter(~F.col("w").contains("|"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


def _pieces(vocab: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..{_MAX_PIECE} of every
    vocabulary word, occurrence-weighted by word frequency — the standard
    unigram-LM seed inventory."""
    spans = vocab.select(
        "w",
        "c",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("s"),
    ).select(
        "w",
        "c",
        "s",
        F.explode(F.sequence(F.lit(1), F.lit(_MAX_PIECE))).alias("l"),
    ).filter(F.col("s") + F.col("l") - 1 <= F.length("w"))
    return (
        spans.select(F.expr("substring(w, s, l)").alias("piece"), "c")
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt"))
    )


def _viterbi_segments(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Viterbi-segment every vocabulary word under fixed-point costs.

    Returns (segments, vocab): segments = (w, c, path) where path is the
    '|'-joined piece sequence of the minimum-cost segmentation.

    DP: best[0] = 0; best[i] = min over j in [i-4, i-1] of
    best[j] + cost(w[j+1..i]), argmin tie-broken on smallest j (prefer the
    LONGEST final piece on equal cost — deterministic and total since j
    determines the piece). Costs are integers (floor-scaled -ln), so every
    comparison is exact. The loop runs max(len(w)) rounds (data-derived
    scalar), each round ONE equi-join of the vocab-sized state frame
    against the piece-cost table plus one argmin window partitioned by
    word — no corpus data inside the loop."""
    vocab = _vocab(spark, sf_dir).localCheckpoint(eager=True)
    pieces = _pieces(vocab)
    tot = pieces.agg(F.sum("cnt").alias("tot"))
    costs = (
        pieces.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.floor(
                F.lit(1e6)
                * F.log(F.col("tot").cast("double") / F.col("cnt").cast("double"))
            ).cast("long").alias("cost"),
        )
        .localCheckpoint(eager=True)
    )
    mrow = vocab.agg(
        F.max(F.length("w")).alias("ml"),
        F.count("*").alias("n"),
        F.sum(F.length("w")).alias("chars"),
    ).collect()[0]  # one bounded probe: DP depth + driver-path bounds
    segments = _viterbi_dp(
        vocab,
        costs,
        int(mrow["ml"]),
        n_vocab=int(mrow["n"]),
        n_chars=int(mrow["chars"]),
    )
    return segments, vocab


#: _viterbi_dp runs the DP on the driver only while the vocabulary has at
#: most UNIGRAM_DRIVER_MAX_WORDS words AND at most UNIGRAM_DRIVER_MAX_CHARS
#: characters; past either bound the distributed loop runs.
UNIGRAM_DRIVER_MAX_WORDS = 200_000
UNIGRAM_DRIVER_MAX_CHARS = 20_000_000


def _viterbi_dp(
    vocab: DataFrame,
    costs: DataFrame,
    max_len: int,
    n_vocab: int | None = None,
    n_chars: int | None = None,
) -> DataFrame:
    """The DP loop itself, shared by the seed round and the pruned
    retrain round: (w, c, path) per vocabulary word under the given
    (piece, cost) table. Pieces absent from `costs` drop out of the
    candidate join — pruning needs no special casing here.

    Driver short-circuit (the bpe_vocab_train discipline): the DP state
    is VOCABULARY-sized (distinct words, ~1e5-1e6 at 100 TB by Heaps'
    law — the same bound the BPE trainer collects under), yet the
    distributed loop pays max(len(w)) rounds of join + window + eager
    checkpoint — pure scheduler floor at bench scale. Below the bounds
    the identical integer DP (same candidates, same (cost, j) tie-break,
    same reachability semantics) runs over the collected vocab and the
    SPARK-computed integer cost table — no float op is re-implemented,
    so results are bit-identical; equality of the two paths is pinned in
    tests/test_unigram_lm_model.py. Above either bound the distributed
    loop runs unchanged."""
    # char-volume bound: word COUNT alone under-estimates the driver DP's
    # latency/memory on long-word vocabularies (state is O(total chars),
    # work O(total chars x _MAX_PIECE)); both bounds must hold before the
    # collect. Unknown char volume (no probe) counts as over-bound,
    # falling back to the distributed loop.
    n = vocab.count() if n_vocab is None else n_vocab
    if (
        n <= UNIGRAM_DRIVER_MAX_WORDS
        and n_chars is not None
        and n_chars <= UNIGRAM_DRIVER_MAX_CHARS
    ):
        return _viterbi_dp_driver(vocab, costs, max_len)
    # state: best cost + path per (word, position); position 0 = empty
    state = vocab.select(
        "w",
        "c",
        F.lit(0).cast("int").alias("pos"),
        F.lit(0).cast("long").alias("best"),
        F.lit("").alias("path"),
    ).localCheckpoint(eager=True)
    w_arg = Window.partitionBy("w", "i").orderBy(F.col("nbest").asc(), F.col("pos").asc())
    for i in range(1, int(max_len) + 1):
        cand = (
            state.filter(
                (F.col("pos") >= i - _MAX_PIECE)
                & (F.col("pos") <= i - 1)
                & (F.length("w") >= i)
            )
            .select(
                "w",
                "c",
                "pos",
                "best",
                "path",
                F.lit(i).alias("i"),
                F.expr(f"substring(w, pos + 1, {i} - pos)").alias("piece"),
            )
            .join(costs, "piece")
            .select(
                "w",
                "c",
                F.lit(i).cast("int").alias("i"),
                "pos",
                (F.col("best") + F.col("cost")).alias("nbest"),
                F.concat(
                    F.col("path"),
                    F.when(F.col("path") == "", F.lit("")).otherwise(F.lit("|")),
                    F.col("piece"),
                ).alias("npath"),
            )
        )
        nxt = (
            cand.withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") == 1)
            .select(
                "w",
                "c",
                F.col("i").alias("pos"),
                F.col("nbest").alias("best"),
                F.col("npath").alias("path"),
            )
        )
        state = state.unionByName(nxt).localCheckpoint(eager=True)
    return state.filter(F.col("pos") == F.length("w")).select("w", "c", "path")


def _viterbi_dp_driver(
    vocab: DataFrame, costs: DataFrame, max_len: int
) -> DataFrame:
    """Driver-side twin of the distributed DP (see _viterbi_dp): the same
    best[i] = min over j in [i-_MAX_PIECE, i-1] of best[j] + cost(piece)
    recursion with the (nbest, pos) tie-break, over the collected
    vocabulary and the Spark-computed INTEGER cost table — exact integer
    arithmetic only, so the segmentations are bit-identical to the
    distributed loop's. Words whose final position is unreachable under
    the piece inventory drop out, exactly like the pos == len(w) filter."""
    spark = vocab.sparkSession
    cost_map = {r["piece"]: int(r["cost"]) for r in costs.collect()}
    out = []
    for row in vocab.collect():
        w, c = row["w"], int(row["c"])
        n = len(w)
        best: list[int | None] = [0] + [None] * n
        path: list[str] = [""] + [""] * n
        for i in range(1, n + 1):
            nb, nj, npiece = None, None, None
            for j in range(max(0, i - _MAX_PIECE), i):
                if best[j] is None:
                    continue
                piece = w[j:i]
                cost = cost_map.get(piece)
                if cost is None:
                    continue
                cand = best[j] + cost
                if nb is None or cand < nb or (cand == nb and j < nj):
                    nb, nj, npiece = cand, j, piece
            if nb is not None:
                best[i] = nb
                # mirrors concat(path, IF(path = '', '', '|'), piece)
                path[i] = path[nj] + ("" if path[nj] == "" else "|") + npiece
        if best[n] is not None:
            out.append((w, c, path[n]))
    return spark.createDataFrame(out, "w string, c long, path string")


def _unigram_oracle_sql(sf_dir: str) -> str:
    """Unrolled-DP DuckDB oracle: replays the identical integer Viterbi as
    chained MATERIALIZED CTEs (b0..bL; L probed from the same parquet —
    the sf-dependent-oracle pattern of embedding_pca_project)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    max_len = con.execute(
        """
        SELECT MAX(len(w)) FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE trim(COALESCE(text, '')) != '')
        """
    ).fetchone()[0]
    con.close()

    head = f"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE trim(COALESCE(text, '')) != ''
),
vocab AS MATERIALIZED (
  SELECT w, COUNT(*) AS c FROM tok WHERE w NOT LIKE '%|%' GROUP BY w),
pieces AS MATERIALIZED (
  SELECT substr(w, s, l) AS piece, CAST(SUM(c) AS BIGINT) AS cnt
  FROM vocab,
       unnest(range(1, len(w) + 1)) AS t(s),
       unnest(range(1, {_MAX_PIECE + 1})) AS u(l)
  WHERE s + l - 1 <= len(w)
  GROUP BY piece
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pieces),
costs AS MATERIALIZED (
  SELECT piece,
         CAST(floor(1e6 * ln(CAST(tot.tot AS DOUBLE) / cnt)) AS BIGINT) AS cost
  FROM pieces, tot
),
b0 AS MATERIALIZED (
  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS best, '' AS path FROM vocab
)"""
    parts = [head]
    parts.append(_dp_chain_sql("b", "costs", "segs", int(max_len)))
    return "".join(parts).strip()


def _dp_chain_sql(prefix: str, costs_tbl: str, segs_name: str, max_len: int) -> str:
    """Generate the unrolled Viterbi CTE chain {prefix}1..{prefix}L reading
    piece costs from `costs_tbl`, ending in `{segs_name}` — shared by the
    seed round (b*, costs) and the pruned retrain round (p*, costs2).
    The {prefix}0 base state CTE must already exist."""
    parts = []
    prev_states = [f"{prefix}0"]
    for i in range(1, max_len + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT * FROM {s}" for s in prev_states[-_MAX_PIECE:]
        )
        parts.append(f""",
{prefix}{i} AS MATERIALIZED (
  SELECT w, c, {i} AS pos, nbest AS best, npath AS path FROM (
    SELECT st.w, st.c,
           st.best + co.cost AS nbest,
           CASE WHEN st.path = '' THEN pc ELSE st.path || '|' || pc END AS npath,
           ROW_NUMBER() OVER (PARTITION BY st.w
                              ORDER BY st.best + co.cost ASC, st.pos ASC) AS rn
    FROM (SELECT *, substr(w, pos + 1, {i} - pos) AS pc
          FROM ({prev_union}) p
          WHERE pos >= {i - _MAX_PIECE} AND pos <= {i - 1} AND len(w) >= {i}) st
    JOIN {costs_tbl} co ON co.piece = st.pc
  ) WHERE rn = 1
)""")
        prev_states.append(f"{prefix}{i}")
    all_states = " UNION ALL ".join(f"SELECT * FROM {s}" for s in prev_states)
    parts.append(f""",
{segs_name} AS MATERIALIZED (
  SELECT w, c, path FROM ({all_states}) s WHERE pos = len(w)
)""")
    return "".join(parts)


def _em_counts_tail_sql() -> str:
    return """,
mstep AS (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS est_cnt
  FROM (SELECT c, unnest(string_split(path, '|')) AS piece FROM segs) x
  GROUP BY piece
)
SELECT piece, est_cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY est_cnt DESC, piece ASC) AS BIGINT)
         AS rank
FROM mstep
ORDER BY est_cnt DESC, piece ASC
LIMIT 20"""


def _unigram_em_oracle(sf_dir: str) -> str:
    return _unigram_oracle_sql(sf_dir) + _em_counts_tail_sql()


@register("unigram_lm_em_round", oracle=_unigram_em_oracle)
def unigram_lm_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM round of unigram-LM (SentencePiece) tokenizer training:
    seed piece inventory -> integer-exact Viterbi E-step over the
    distinct-word vocabulary -> occurrence-weighted M-step recount.
    Output: top-20 pieces by re-estimated count — the inventory the next
    round would keep (pruning drops the tail, exactly what sentencepiece's
    trainer does between rounds).

    The whole trajectory is hash-certified against an unrolled-DP DuckDB
    oracle (sf-dependent: the DP depth is the observed max word length)."""
    segments, _ = _viterbi_segments(spark, sf_dir)
    mstep = (
        segments.select("c", F.explode(F.split("path", r"\|")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("est_cnt"))
    )
    w = Window.orderBy(F.col("est_cnt").desc(), F.col("piece").asc())
    return (
        mstep.orderBy(F.col("est_cnt").desc(), F.col("piece").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("piece", "est_cnt", "rank")
    )


def _unigram_stats_oracle(sf_dir: str) -> str:
    return _unigram_oracle_sql(sf_dir) + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(c) AS BIGINT) AS corpus_tokens,
       CAST(SUM(c * (len(path) - len(replace(path, '|', '')) + 1)) AS BIGINT)
         AS corpus_pieces_after,
       CAST(SUM(len(w) * c) AS BIGINT) AS corpus_chars
FROM segs"""


@register("unigram_lm_segmentation_stats", oracle=_unigram_stats_oracle)
def unigram_lm_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level compression certificate for the unigram-LM round:
    words, corpus tokens, total Viterbi pieces after segmentation
    (occurrence-weighted) and total characters — the chars/pieces ratio is
    the tokenizer's compression rate, the headline number every tokenizer
    train reports. Integer-only output."""
    segments, _ = _viterbi_segments(spark, sf_dir)
    return segments.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("c").cast("long").alias("corpus_tokens"),
        F.sum(
            F.col("c") * (F.size(F.split("path", r"\|")))
        ).cast("long").alias("corpus_pieces_after"),
        F.sum(F.length("w") * F.col("c")).cast("long").alias("corpus_chars"),
    )


# ---------------------------------------------------------------------------
# Prune + retrain — the loop step sentencepiece actually iterates: keep
# the top-V multi-character pieces by EM-estimated count (plus every
# single character, so any word stays segmentable), re-normalize costs
# from the M-step counts, and re-run the Viterbi E-step on the pruned
# inventory. Output: the inventory/compression tradeoff the prune bought.
# ---------------------------------------------------------------------------

_PRUNE_V = 20


def _unigram_prune_oracle(sf_dir: str) -> str:
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    max_len = con.execute(
        """
        SELECT MAX(len(w)) FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE trim(COALESCE(text, '')) != '')
        """
    ).fetchone()[0]
    con.close()
    return (
        _unigram_oracle_sql(sf_dir)
        + f""",
mstep AS MATERIALIZED (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS est
  FROM (SELECT c, unnest(string_split(path, '|')) AS piece FROM segs) x
  GROUP BY piece
),
chars AS (SELECT DISTINCT piece FROM pieces WHERE len(piece) = 1),
kept_multi AS MATERIALIZED (
  SELECT piece, est FROM mstep WHERE len(piece) > 1
  ORDER BY est DESC, piece ASC LIMIT {_PRUNE_V}
),
kept AS MATERIALIZED (
  SELECT ch.piece, COALESCE(m.est, 1) AS cnt
  FROM chars ch LEFT JOIN mstep m ON m.piece = ch.piece
  UNION ALL
  SELECT piece, est FROM kept_multi
),
tot2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM kept),
costs2 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(1e6 * ln(CAST(tot2.t AS DOUBLE) / cnt)) AS BIGINT) AS cost
  FROM kept, tot2
),
p0 AS MATERIALIZED (
  SELECT w, c, 0 AS pos, CAST(0 AS BIGINT) AS best, '' AS path FROM vocab
)"""
        + _dp_chain_sql("p", "costs2", "segs2", int(max_len))
        + """
SELECT CAST((SELECT COUNT(*) FROM pieces) AS BIGINT) AS inventory_seed,
       CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS inventory_kept,
       CAST((SELECT SUM(c * (len(path) - len(replace(path, '|', '')) + 1))
             FROM segs) AS BIGINT) AS corpus_pieces_round1,
       CAST((SELECT SUM(c * (len(path) - len(replace(path, '|', '')) + 1))
             FROM segs2) AS BIGINT) AS corpus_pieces_pruned
"""
    )


@register("unigram_lm_prune_round", oracle=_unigram_prune_oracle)
def unigram_lm_prune_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune-retrain step of unigram-LM training: EM round 1 estimates
    piece counts, the inventory shrinks to the top-{V} multi-character
    pieces (plus every single character with a count floor of 1 — any
    word stays segmentable), costs re-normalize from the M-step counts,
    and the Viterbi re-runs on the pruned inventory. Output: inventory
    sizes and corpus segmentation length before/after — the
    compression-vs-vocabulary tradeoff the prune bought, the curve a
    tokenizer train reads its stopping point off.

    Fully hash-certified: the oracle unrolls BOTH Viterbi chains (seed
    costs, then pruned costs2) as MATERIALIZED CTEs."""
    seg1, vocab = _viterbi_segments(spark, sf_dir)
    seg1 = seg1.localCheckpoint(eager=True)  # feeds mstep + round-1 stats
    mstep = (
        seg1.select("c", F.explode(F.split("path", r"\|")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("c").alias("est"))
        .localCheckpoint(eager=True)
    )
    chars = _pieces(vocab).filter(F.length("piece") == 1).select("piece")
    kept_multi = (
        mstep.filter(F.length("piece") > 1)
        .orderBy(F.col("est").desc(), F.col("piece").asc())
        .limit(_PRUNE_V)
    )
    kept = (
        chars.join(mstep, "piece", "left")
        .select("piece", F.coalesce("est", F.lit(1)).alias("cnt"))
        .unionByName(kept_multi.select("piece", F.col("est").alias("cnt")))
    )
    tot2 = kept.agg(F.sum("cnt").alias("t"))
    costs2 = (
        kept.crossJoin(F.broadcast(tot2))
        .select(
            "piece",
            F.floor(
                F.lit(1e6)
                * F.log(F.col("t").cast("double") / F.col("cnt").cast("double"))
            ).cast("long").alias("cost"),
        )
        .localCheckpoint(eager=True)
    )
    mrow = vocab.agg(
        F.max(F.length("w")).alias("ml"),
        F.count("*").alias("n"),
        F.sum(F.length("w")).alias("chars"),
    ).collect()[0]
    seg2 = _viterbi_dp(
        vocab,
        costs2,
        int(mrow["ml"]),
        n_vocab=int(mrow["n"]),
        n_chars=int(mrow["chars"]),
    )

    n_pieces = lambda seg: F.sum(  # noqa: E731 — local reducer alias
        F.col("c") * F.size(F.split("path", r"\|"))
    ).cast("long")
    inv_seed = _pieces(vocab).agg(F.count("*").cast("long").alias("inventory_seed"))
    inv_kept = kept.agg(F.count("*").cast("long").alias("inventory_kept"))
    r1 = seg1.agg(n_pieces(seg1).alias("corpus_pieces_round1"))
    r2 = seg2.agg(n_pieces(seg2).alias("corpus_pieces_pruned"))
    return (
        inv_seed.crossJoin(F.broadcast(inv_kept))
        .crossJoin(F.broadcast(r1))
        .crossJoin(F.broadcast(r2))
    )
