#!/usr/bin/env python
"""Spark-free microbenchmark of the parse layer's tokenizer.

Times `parse._parse_batch` (the generated tokenizer that `parse_lines` runs
on every Arrow batch), then the per-row reference parser of
tests/parse_reference.py, over 20,000 deterministic datagen grammar rows plus
the adversarial rows, single-threaded, and prints one JSON line with the
min-of-7 µs/row of each.

    python scripts/parse_microbench.py

For an A/B, run it from both checkouts in turn, alternating which runs first,
and compare the parent's spread with the change's median. The min-of-7 is a
steady-state figure; perfbench's traced `parse.us_per_row` is the in-engine
one.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from mongo_log_parser_spark.functions import parse  # noqa: E402
from tests.parse_reference import ADVERSARIAL, grammar_rows, run_reference  # noqa: E402

ROWS = 20000
REPEAT = 7


def _generated(texts):
    out = {n: [] for n in parse._ALL_FIELD_NAMES}
    parse._parse_batch(texts, out, None)
    return out


def time_us_per_row(fn, texts) -> list[float]:
    """µs/row of each of REPEAT full passes of `fn` over `texts`."""
    runs = []
    for _ in range(REPEAT):
        t0 = time.perf_counter()
        fn(texts)
        runs.append((time.perf_counter() - t0) * 1e6 / len(texts))
    return runs


def main() -> dict:
    texts = grammar_rows(ROWS) + ADVERSARIAL * 3
    runs = time_us_per_row(_generated, texts)
    result = {
        "rows": len(texts),
        "repeat": REPEAT,
        "parse_batch_us_per_row": round(min(runs), 3),
        "parse_batch_runs": [round(r, 3) for r in runs],
        "reference_us_per_row": round(min(time_us_per_row(run_reference, texts)), 3),
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
