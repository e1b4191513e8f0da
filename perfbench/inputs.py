"""Seeded benchmark inputs built from the engine's synthetic record grammar.

`sources.datagen` writes one fixed table per scale factor (seed 42, a 30-day
window). The benchmark needs the same line grammar under its own seed, line
count and day span, so it calls datagen's row builder directly with those
parameters. Inputs keep datagen's line mix, including the 1-in-3000 lines over
1 MiB. Each input is a directory of zstd parquet part files with datagen's
`pages` schema, in datagen's part-file layout but with at least
FILES_PER_DAY files per day, cached under the benchmark's work dir by
(seed, lines, days) together with its oracle results.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import timedelta
from unittest import mock

# Bump when the generated bytes or the cached expected results change shape.
INPUT_VERSION = "1"
FILES_PER_DAY = 4


def input_dir(cache_root: str, seed: int, lines: int, days: int) -> str:
    return os.path.join(cache_root, f"v{INPUT_VERSION}-seed{seed}-n{lines}-d{days}")


def write_pages(dest: str, seed: int, lines: int, days: int) -> None:
    """Write `lines` log lines spread evenly over `days` days to `dest`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_log_parser_spark.sources import datagen

    rng = np.random.default_rng(np.random.PCG64(seed))
    # _build_rows spaces rows evenly across datagen.WINDOW; narrow the window
    # to the requested day span for this call only.
    with mock.patch.object(datagen, "WINDOW", timedelta(days=days)):
        urls, warc_ts, htmls, texts, langs, _hosts = datagen._build_rows(lines, rng)
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    # datagen's part-file count, but at least FILES_PER_DAY contiguous files
    # per day, so each day's scan has that many tasks
    k = max(datagen.n_files(lines), FILES_PER_DAY * days)
    per = -(-lines // k)
    os.makedirs(dest)
    for i in range(k):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(dest, f"part-{i:05d}.parquet"),
                       row_group_size=per, compression="zstd")


def ensure_input(cache_root: str, seed: int, lines: int, days: int) -> str:
    """Return the pages dir for (seed, lines, days), generating it on a miss.

    Writes go to a temporary sibling that is renamed into place, so an
    interrupted run leaves no half-written cache entry."""
    final = os.path.join(input_dir(cache_root, seed, lines, days), "pages")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            write_pages(tmp, seed, lines, days)
            os.replace(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def prepare(cache_root: str, seed: int, lines: int, days: int, kind: str,
            threads: int) -> tuple[str, dict]:
    """(pages dir, oracle results) for one measured input; `kind` is "sinks"
    (report) or "route" (ingest)."""
    from perfbench import check

    pages = ensure_input(cache_root, seed, lines, days)
    compute = {"sinks": check.expected_sinks, "route": check.expected_route_counts}[kind]
    return pages, ensure_expected(pages, kind, lambda p: compute(p, threads))


def ensure_expected(pages: str, kind: str, compute) -> dict:
    """Oracle results for `pages`, cached as expected-<kind>.json beside it.
    `compute(pages)` must return a JSON-able dict."""
    path = os.path.join(os.path.dirname(pages), f"expected-{kind}.json")
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(compute(pages), f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    # python3 -m perfbench.inputs CACHE_ROOT SEED LINES DAYS KIND THREADS
    import sys

    root, seed, lines, days, kind, threads = sys.argv[1:7]
    prepare(root, int(seed), int(lines), int(days), kind, int(threads))
