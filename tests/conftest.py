from __future__ import annotations

import contextlib
import importlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kol_bigdata_realtime_analytics_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s


#: Each size-gated driver short-circuit: the module holding its bound, the
#: bound's name, and its driver twin — the code only the driver branch runs:
#: a function of the same module, or for CC the DataFrame method its
#: union-find streams the edges through.
GATES = {
    "cc_edges": ("operators.dedup", "CC_DRIVER_MAX_EDGES", "toLocalIterator"),
    "bpe_words": ("plans.llm_ops", "BPE_DRIVER_MAX_WORDS", "_bpe_train_driver"),
    "unigram_words": ("plans.unigram_lm", "UNIGRAM_DRIVER_MAX_WORDS", "_viterbi_dp_driver"),
    "unigram_chars": ("plans.unigram_lm", "UNIGRAM_DRIVER_MAX_CHARS", "_viterbi_dp_driver"),
}


@pytest.fixture
def forced(request, spark, monkeypatch):
    """Returns a context manager that forces one gate (the indirect
    parameter, a GATES key) onto its distributed branch: inside it the
    gate's bound is -1, and on exit a spy on the gate's driver twin fails
    the test if the twin ran. Code outside the block keeps the default
    bound, so a test can take the driver branch's rows first and compare.
    The bound is -1, not 0: an empty input passes `<= 0` and would still
    take the driver branch."""
    mod_name, bound, twin = GATES[request.param]
    module = importlib.import_module(f"kol_bigdata_realtime_analytics_spark.{mod_name}")
    owner = type(spark.range(0)) if twin == "toLocalIterator" else module
    real = getattr(owner, twin)
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, twin, spy)

    @contextlib.contextmanager
    def distributed():
        with monkeypatch.context() as m:
            m.setattr(module, bound, -1)
            before = len(calls)
            yield
        assert len(calls) == before, f"{twin} ran: the driver branch was taken"

    return distributed


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
