"""Streaming approximate distinct count with BOUNDED state: bucket-sharded
HLL-style registers maintained by applyInPandasWithState.

The batch engine already certifies native HLL sketches
(approx_distinct_users, rolling_hll_users_check); an unbounded STREAM
needs the same answer with state that never grows — here each of
N_BUCKETS key shards keeps M=16 max-rank registers, total state
O(N_BUCKETS * M) longs at any stream length.

Unlike Misra-Gries (streaming/heavy_hitters.py), whose candidate SET
depends on Arrow chunk boundaries, the register array is a MAX-fold of a
deterministic per-key hash — associative, commutative, idempotent — so
the streamed state is bit-identical under ANY chunking/partitioning and
the streaming query itself is hash-oracled (DuckDB re-derives the same
registers from the same integer hash). That chunking-invariance is pinned
by a Hypothesis property test.

Hash arithmetic stays inside 2^63 (key * 2654435761 <= ~2.4e16 for int32
user ids) because DuckDB ERRORS on BIGINT overflow where Java silently
wraps — the constants below are chosen so both engines compute the
identical value.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

N_BUCKETS = 4
M_REGISTERS = 16  # p = 4 index bits; rho over the remaining 28 hash bits
_KNUTH = 2654435761
_MASK32 = (1 << 32) - 1

OUTPUT_SCHEMA = "bucket long, reg_idx long, rho_max long"
STATE_SCHEMA = "regs array<long>"


def _hash32_py(key: int) -> int:
    h = (key * _KNUTH) & _MASK32
    return (h ^ (h >> 16)) & _MASK32


def _reg_rho_py(key: int) -> tuple[int, int]:
    h = _hash32_py(key)
    reg = h & (M_REGISTERS - 1)
    w = h >> 4
    if w == 0:
        return reg, 29  # all 28 suffix bits zero
    rho = ((w & -w) - 1).bit_count() + 1
    return reg, rho


def hash_sql(key_expr: str) -> tuple[str, str]:
    """(register-index SQL, rho SQL) DuckDB expressions matching
    _reg_rho_py bit-for-bit."""
    h0 = f"(({key_expr}) * {_KNUTH}) % {1 << 32}"
    h = f"(xor({h0}, ({h0}) >> 16) % {1 << 32})"
    reg = f"({h} & {M_REGISTERS - 1})"
    w = f"({h} >> 4)"
    rho = (
        f"CASE WHEN {w} = 0 THEN 29 "
        f"ELSE bit_count((({w}) & -({w})) - 1) + 1 END"
    )
    return reg, rho


def _ad_fn(key, pdfs, state):
    regs = list(state.get[0]) if state.exists else [0] * M_REGISTERS
    for pdf in pdfs:
        for k in pdf["sketch_key"]:
            reg, rho = _reg_rho_py(int(k))
            if rho > regs[reg]:
                regs[reg] = rho
    state.update((regs,))
    yield pd.DataFrame(
        {
            "bucket": [int(key[0])] * M_REGISTERS,
            "reg_idx": list(range(M_REGISTERS)),
            "rho_max": regs,
        }
    )


def approx_distinct_stream(keyed: DataFrame) -> DataFrame:
    """Streaming HLL registers over a frame with a `sketch_key` long
    column: keys shard into N_BUCKETS groups (pmod), each group's state is
    its M_REGISTERS max-rank registers. One shuffle per micro-batch
    (groupBy bucket); emitted rows are exactly N_BUCKETS * M_REGISTERS
    per batch regardless of stream length."""
    bucketed = keyed.select(
        F.col("sketch_key").cast("long").alias("sketch_key"),
        F.pmod(F.col("sketch_key"), F.lit(N_BUCKETS)).cast("long").alias("bucket"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _ad_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
