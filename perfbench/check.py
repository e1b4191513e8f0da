"""Output checks: the engine's results against the DuckDB oracle.

The oracle (`contracts/log_oracle.q_*`) recomputes every report sink and the
routing counts from the same input parquet with DuckDB's JSON functions. The
expected side is computed once per input, outside any timed region, and
cached next to the input as canonical row multisets.
"""

from __future__ import annotations

import glob
import math
import os
from collections import Counter

# parquet sink name -> oracle query builder name in contracts/log_oracle.py
SINK_ORACLES = {
    "main_ops": "q_main_ops",
    "ttl_ops": "q_ttl_ops",
    "op_stats": "q_op_stats",
    "query_hash": "q_query_hash",
    "plan_cache": "q_plan_cache",
    "index_stats": "q_index_stats",
    "error_codes": "q_error_codes",
    "transactions": "q_transactions",
    "slow_planning": "q_slow_planning",
    "app_conn_stats": "q_app_conn_stats",
    "driver_stats": "q_driver_stats",
    "ignored": "q_ignored_categories",
    "ignored_sample": "q_ignored_sample",
}

ROUTE_STREAMS = ("oversized", "ignored", "kept")


def canon(v, col: str = "") -> str:
    """One comparable string per value. p95 columns are rounded to 4 places
    (the oracle's convention), other floats compared to 6 significant digits."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if col.startswith("p95"):
            v = round(v, 4)
        return f"{v:.6g}"
    return str(v)


def row_multiset(cols: list[str], rows) -> Counter:
    """Order-insensitive multiset of rows, columns taken in sorted name order."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("\x1f".join(canon(r[i], cols[i]) for i in order) for r in rows)


def _duckdb(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    return con


def expected_sinks(input_dir: str, threads: int) -> dict:
    """{sink: {"columns": [...], "rows": {canonical_row: count}}} from the oracle."""
    from mongo_log_parser_spark.contracts import log_oracle

    glob_path = os.path.join(input_dir, "*.parquet")
    con = _duckdb(threads)
    try:
        out = {}
        for sink, q in SINK_ORACLES.items():
            rel = con.sql(getattr(log_oracle, q)(glob_path))
            cols = [c.lower() for c in rel.columns]
            out[sink] = {"columns": sorted(cols),
                         "rows": dict(row_multiset(cols, rel.fetchall()))}
        return out
    finally:
        con.close()


def expected_route_counts(input_dir: str, threads: int) -> dict[str, int]:
    """{oversized, ignored, kept, rows_in} from q_route_counts."""
    from mongo_log_parser_spark.contracts import log_oracle

    con = _duckdb(threads)
    try:
        rows = con.sql(log_oracle.q_route_counts(
            os.path.join(input_dir, "*.parquet"))).fetchall()
    finally:
        con.close()
    counts = {stream: int(n) for stream, n in rows}
    counts["rows_in"] = sum(counts[s] for s in ROUTE_STREAMS)
    return counts


def du_mb(path: str) -> float:
    """Bytes under `path`, in MB."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pq.read_table(files)


def check_report(out_dir: str, expected: dict) -> list[str]:
    """Problems found comparing the run's parquet sinks with the oracle
    (empty list = pass). driver_stats is compared on the oracle's columns
    only: the engine adds sample_auth_line and sample_metadata_line."""
    problems = []
    for sink, exp in expected.items():
        try:
            table = _read_parquet_dir(os.path.join(out_dir, "sinks", sink))
        except (FileNotFoundError, OSError) as e:
            problems.append(f"{sink}: unreadable ({e})")
            continue
        cols = [c.lower() for c in table.column_names]
        if sink == "driver_stats":
            keep = [c for c in table.column_names if c.lower() in exp["columns"]]
            table = table.select(keep)
            cols = [c.lower() for c in keep]
        if sorted(cols) != exp["columns"]:
            problems.append(f"{sink}: columns {sorted(cols)} != oracle {exp['columns']}")
            continue
        got = row_multiset(cols, zip(*(table.column(i).to_pylist()
                                       for i in range(table.num_columns))))
        want = Counter(exp["rows"])
        if got != want:
            problems.append(f"{sink}: {sum((got - want).values())} rows only in engine, "
                            f"{sum((want - got).values())} only in oracle")
    return problems


def manifest_rows(ingest_dir: str) -> list[dict]:
    return _read_parquet_dir(os.path.join(ingest_dir, "manifest")).to_pylist()


def check_ingest(ingest_dir: str, expected: dict[str, int], days: int) -> list[str]:
    """Every committed manifest row reconciles (rows_in == oversized + ignored
    + kept) and the summed counters equal the oracle's route counts."""
    problems = []
    rows = manifest_rows(ingest_dir)
    if len(rows) != days:
        problems.append(f"manifest has {len(rows)} rows for {days} days")
    for r in rows:
        if r["rows_in"] != r["oversized"] + r["ignored"] + r["kept"]:
            problems.append(f"day {r['day']}: rows_in {r['rows_in']} != "
                            f"{r['oversized']} + {r['ignored']} + {r['kept']}")
    for key in ("rows_in",) + ROUTE_STREAMS:
        got = sum(r[key] for r in rows)
        if got != expected[key]:
            problems.append(f"sum({key}) = {got}, oracle {expected[key]}")
    return problems
