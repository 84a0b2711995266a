"""Pin the distributed BPE trainer/encoder against an INDEPENDENT
pure-Python tuple-level model (Sennrich et al. 2016). The DuckDB oracle
shares the wrapped-string replace() application strategy with the Spark
plan, so a common-mode bug in that encoding (wrapper collision, overlap
handling, tie order) would pass both engines — this model uses explicit
symbol tuples and an index-walking greedy merge, sharing nothing."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.plans.llm_ops import (
    _BPE_C2,
    _BPE_C3,
    bpe_encode_expr,
    bpe_train,
)


def _apply_merge(syms: tuple, a: str, b: str) -> tuple:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)."""
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _bpe_train_ref(words: list[str], n_merges: int) -> list[tuple]:
    freq = Counter(w for w in words if len(w) >= 2)
    vocab = {w: tuple(w) for w in freq}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            f = freq[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        # max count, ties -> lexicographically smallest (a, b)
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        vocab = {w: _apply_merge(s, a, b) for w, s in vocab.items()}
    return merges


def _encode_ref(word: str, merges: list[tuple]) -> tuple:
    syms = tuple(word)
    for _rank, a, b, _m, _c in merges:
        syms = _apply_merge(syms, a, b)
    return syms


def _check_corpus(spark, words: list[str], n_merges: int) -> None:
    wdf = spark.createDataFrame([(w,) for w in words], "w string").filter(
        F.length("w") >= 2
    )
    got = bpe_train(wdf, n_merges)
    want = _bpe_train_ref(words, n_merges)
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    # encode every distinct word under the trained merges, both ways
    if got:
        from kol_bigdata_realtime_analytics_spark.plans.llm_ops import (
            bpe_decode_expr,
        )

        distinct = sorted({w for w in words if len(w) >= 2})
        ddf = spark.createDataFrame([(w,) for w in distinct], "w string")
        enc = bpe_encode_expr(F.col("w"), got)
        syms = F.split(
            F.substring(enc, 2, F.length(enc) - 2), _BPE_C3 + _BPE_C2
        )
        # round trip: the reverse inverse-replace chain must reproduce the
        # char-wrapped original for every word (bpe_roundtrip_check's core)
        wrapped = F.regexp_replace(
            F.col("w"), "(?s)(.)", _BPE_C2 + "$1" + _BPE_C3
        )
        ok = (bpe_decode_expr(enc, got) == wrapped).alias("rt")
        rows = {
            r["w"]: (tuple(r["s"]), r["rt"])
            for r in ddf.select("w", syms.alias("s"), ok).collect()
        }
        for w in distinct:
            assert rows[w][0] == _encode_ref(w, got), (w, rows[w][0], _encode_ref(w, got))
            assert rows[w][1], f"round-trip failed for {w!r}"


def test_bpe_overlapping_runs(spark):
    """'aaaa' must merge to ('aa','aa') — greedy non-overlapping; the next
    round can then merge ('aa','aa'). The wrapped-replace encoding gets
    this right only because adjacent matches share no boundary chars."""
    _check_corpus(spark, ["aaaa", "aaaa", "aaa"], 4)


def test_bpe_merged_symbol_pairs_again(spark):
    """'abab' -> merge (a,b) twice -> ('ab','ab') -> merge (ab,ab): multi
    char symbols must participate in later rounds exactly like chars."""
    _check_corpus(spark, ["abab", "abab", "ab", "ba"], 5)


def test_bpe_tie_breaks_lexicographic(spark):
    """Equal-count pairs must resolve (a, b) ascending in both models —
    'xy' and 'xz' appear equally often."""
    _check_corpus(spark, ["xy", "xz", "xy", "xz"], 3)


def test_bpe_frequency_weighting(spark):
    """Pair counts weight by word OCCURRENCE (Sennrich), not distinct
    word: 'ab' three times must beat 'cd' twice + 'ce' once."""
    _check_corpus(spark, ["ab", "ab", "ab", "cd", "cd", "ce"], 2)


def test_bpe_roundtrip_same_merged_string_different_splits(spark):
    """Two merges can produce the SAME merged string via different splits
    (('a','bc') and ('ab','c') both yield 'abc'): the reverse decode chain
    may expand a token through the OTHER split, but every expansion path of
    a symbol yields its constituent chars, so the char-level round trip
    still holds — the exact robustness bpe_roundtrip_check relies on."""
    # force both 'ab'+'c' and 'a'+'bc' style merges into one table
    words = ["abc"] * 6 + ["ab"] * 5 + ["bc"] * 4 + ["abcabc"] * 3
    _check_corpus(spark, words, 6)


def test_bpe_byte_fallback_mixed_words(spark):
    """Byte fallback on MIXED known/unknown words (the registered probe row
    uses unknown-only words so the oracle stays chain-free; the mixed case
    is pinned here): trained merges apply to the known chars exactly as
    without fallback, and each unknown char re-bills its single symbol as
    octet_length(char) byte tokens. Reference token count per word =
    len(_encode_ref) - n_unknown + sum(utf8 bytes of unknown chars)."""
    words = ["abab", "abab", "ab", "cab"]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    merges = bpe_train(wdf, 3)
    alphabet = sorted({c for w in words for c in w})
    mixed = ["cabé", "ab€ab", "π", "café¥"]
    alph_lit = F.array(*[F.lit(c) for c in alphabet])
    enc = bpe_encode_expr(F.col("w"), merges)
    n_sub = F.size(
        F.split(F.substring(enc, 2, F.length(enc) - 2), _BPE_C3 + _BPE_C2)
    ).cast("long")
    unknown = F.filter(F.split("w", ""), lambda c: ~F.array_contains(alph_lit, c))
    n_tok = n_sub - F.size(unknown).cast("long") + F.aggregate(
        unknown, F.lit(0).cast("long"), lambda acc, c: acc + F.octet_length(c)
    )
    got = {
        r["w"]: r["t"]
        for r in spark.createDataFrame([(w,) for w in mixed], "w string")
        .select("w", n_tok.alias("t"))
        .collect()
    }
    for w in mixed:
        unk = [c for c in w if c not in alphabet]
        want = (
            len(_encode_ref(w, merges)) - len(unk) + sum(len(c.encode("utf-8")) for c in unk)
        )
        assert got[w] == want, (w, got[w], want)
    # sanity on the widths the fixture exercises: 2-byte (é, π, ¥), 3-byte (€)
    assert got["π"] == 2


@pytest.mark.parametrize("forced", ["bpe_words"], indirect=True)
def test_bpe_driver_and_distributed_paths_agree(spark, forced):
    """bpe_train has two interchangeable executions of the same merge
    sequence: the in-memory incremental-pair-count trainer (default for
    small vocabularies) and the distributed Spark loop (forced by the
    `forced` fixture). Pin them equal — and equal to the independent
    reference — on a corpus mixing runs, ties, multi-char re-merges and
    multi-byte chars, so neither path can drift from the other."""
    rng = random.Random(7)
    words = (
        ["aaaa", "abab", "café", "caféé"]
        + ["".join(rng.choice("abc") for _ in range(rng.randint(2, 7))) for _ in range(40)]
    )
    wdf = spark.createDataFrame([(w,) for w in words], "w string").filter(
        F.length("w") >= 2
    )
    driver = bpe_train(wdf, 10)
    with forced():
        distributed = bpe_train(wdf, 10)
    assert driver == distributed, f"\ndriver: {driver}\ndist:   {distributed}"
    assert driver == _bpe_train_ref(words, 10)


def test_bpe_random_corpus_seeded(spark):
    """A seeded random corpus over a tiny alphabet maximizes run/overlap
    and tie cases per word; 8 merge rounds exercise deep multi-char
    symbol interactions."""
    rng = random.Random(42)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randint(2, 6)))
        for _ in range(30)
    ]
    _check_corpus(spark, words, 8)
