"""The generated batch tokenizer (_parse_batch) must be value-identical to
the readable reference implementation (tests/parse_reference.py) on every
field — real generator rows, adversarial type-confusion probes, garbage, and
the skip path. This is the guard for the codegen optimization (round 6): any drift
between the generated source and the reference grammar fails here before it
can reach the oracle gate."""
from __future__ import annotations

import pytest

from mongo_log_parser_spark.functions import parse as P
from tests.parse_reference import ADVERSARIAL, grammar_rows, run_reference


def _run_generated(texts, skips=None):
    out = {n: [] for n in P._ALL_FIELD_NAMES}
    P._parse_batch(texts, out, skips)
    return out


@pytest.fixture(scope="module")
def corpus():
    return grammar_rows() + ADVERSARIAL * 3


def test_generated_matches_reference(corpus):
    ref = run_reference(corpus)
    gen = _run_generated(corpus)
    assert set(ref) == set(gen)
    for k in P._ALL_FIELD_NAMES:
        assert ref[k] == gen[k], f"field {k} diverged"


def test_generated_matches_reference_skip_path(corpus):
    skips = [(i % 3 == 0) for i in range(len(corpus))]
    ref = run_reference(corpus, skips)
    gen = _run_generated(corpus, skips)
    for k in P._ALL_FIELD_NAMES:
        assert ref[k] == gen[k], f"field {k} diverged on skip path"


def test_generated_source_compiles_fresh():
    """The source builder is deterministic and self-contained."""
    src = P._gen_batch_source()
    ns = dict(P._GEN_NS)
    exec(compile(src, "<regen>", "exec"), ns)
    texts = ADVERSARIAL * 2
    out = {n: [] for n in P._ALL_FIELD_NAMES}
    ns["_parse_batch"](texts, out, None)
    assert all(len(v) == len(texts) for v in out.values())
