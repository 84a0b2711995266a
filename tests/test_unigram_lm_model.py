"""Pin the distributed unigram-LM EM round against an INDEPENDENT
pure-Python model (Kudo 2018, one-round fidelity). The DuckDB oracle
replays the same unrolled DP shape as the Spark loop, so a common-mode
bug in the DP formulation (off-by-one substring bounds, wrong tie-break,
wrong cost scale) could pass both engines — this model implements Viterbi
as a classic dense per-word DP sharing nothing with either."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from kol_bigdata_realtime_analytics_spark.plans.unigram_lm import (
    _MAX_PIECE,
    unigram_lm_em_round,
    unigram_lm_segmentation_stats,
)


def _python_model(sf_dir: str):
    con = duckdb.connect()
    words = con.execute(
        f"""
        SELECT w, COUNT(*) AS c FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM '{sf_dir}/documents.parquet'
          WHERE trim(COALESCE(text, '')) != '') GROUP BY w
        """
    ).fetchall()
    con.close()
    vocab = dict(words)

    pieces: Counter = Counter()
    for w, c in vocab.items():
        for s in range(len(w)):
            for l in range(1, _MAX_PIECE + 1):
                if s + l <= len(w):
                    pieces[w[s : s + l]] += c
    tot = sum(pieces.values())
    cost = {p: math.floor(1e6 * math.log(tot / cnt)) for p, cnt in pieces.items()}

    est: Counter = Counter()
    n_pieces_after = 0
    for w, c in vocab.items():
        best = [None] * (len(w) + 1)
        back = [None] * (len(w) + 1)
        best[0] = 0
        for i in range(1, len(w) + 1):
            for j in range(max(0, i - _MAX_PIECE), i):
                if best[j] is None:
                    continue
                cand = best[j] + cost[w[j:i]]
                # tie-break: smallest j wins (j ascends, strict < replaces)
                if best[i] is None or cand < best[i]:
                    best[i], back[i] = cand, j
        # walk back
        segs = []
        i = len(w)
        while i > 0:
            j = back[i]
            segs.append(w[j:i])
            i = j
        segs.reverse()
        n_pieces_after += c * len(segs)
        for p in segs:
            est[p] += c
    top = sorted(est.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    stats = (
        len(vocab),
        sum(vocab.values()),
        n_pieces_after,
        sum(len(w) * c for w, c in vocab.items()),
    )
    return top, stats


def test_unigram_em_round_matches_python_model(spark, sf_small):
    top, _ = _python_model(sf_small)
    got = unigram_lm_em_round(spark, sf_small).collect()
    assert [(r["piece"], r["est_cnt"], r["rank"]) for r in got] == [
        (p, c, i + 1) for i, (p, c) in enumerate(top)
    ]


def test_unigram_segmentation_stats_match_python_model(spark, sf_small):
    _, stats = _python_model(sf_small)
    row = unigram_lm_segmentation_stats(spark, sf_small).collect()[0]
    assert (
        row["n_words"],
        row["corpus_tokens"],
        row["corpus_pieces_after"],
        row["corpus_chars"],
    ) == stats


def test_viterbi_dp_formulation_is_optimal():
    """The bounded-lookback DP both engines implement (best[i] = min over
    j in [i-4, i-1]) must find the TRUE minimum-cost segmentation: compare
    against exhaustive enumeration of every segmentation into pieces of
    length <= _MAX_PIECE, over adversarial cost tables (pure Python — this
    pins the shared FORMULATION, independent of either engine)."""
    import random

    rng = random.Random(42)
    alphabet = "abc"
    for trial in range(200):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        pieces = {
            w[s : s + l]
            for s in range(len(w))
            for l in range(1, _MAX_PIECE + 1)
            if s + l <= len(w)
        }
        cost = {p: rng.randint(0, 50) for p in pieces}

        # the DP under test (the formulation shared by Spark and the oracle)
        best = [None] * (len(w) + 1)
        best[0] = 0
        for i in range(1, len(w) + 1):
            for j in range(max(0, i - _MAX_PIECE), i):
                if best[j] is not None:
                    c = best[j] + cost[w[j:i]]
                    if best[i] is None or c < best[i]:
                        best[i] = c

        # exhaustive: every composition of len(w) into parts <= _MAX_PIECE
        def seg_costs(rem_start):
            if rem_start == len(w):
                yield 0
                return
            for l in range(1, min(_MAX_PIECE, len(w) - rem_start) + 1):
                for tail in seg_costs(rem_start + l):
                    yield cost[w[rem_start : rem_start + l]] + tail

        assert best[len(w)] == min(seg_costs(0)), (w, trial)


@pytest.mark.parametrize("forced", ["unigram_words", "unigram_chars"], indirect=True)
def test_viterbi_driver_and_distributed_paths_agree(spark, sf_small, forced):
    """The driver short-circuit must produce bit-identical segmentations
    to the distributed loop (same candidates, same integer costs, same
    (cost, j) tie-break). Each bound alone sends the second run down the
    distributed path on the same data; under the chars bound the
    vocabulary stays under the words bound, so only chars forces it."""
    from kol_bigdata_realtime_analytics_spark.plans import unigram_lm as ul

    segs_drv, _ = ul._viterbi_segments(spark, sf_small)
    drv = sorted((r["w"], r["c"], r["path"]) for r in segs_drv.collect())
    assert 0 < len(drv) <= ul.UNIGRAM_DRIVER_MAX_WORDS
    with forced():
        segs_dist, _ = ul._viterbi_segments(spark, sf_small)
        dist = sorted((r["w"], r["c"], r["path"]) for r in segs_dist.collect())
    assert drv == dist
