from __future__ import annotations

import contextlib
import io
import math
from collections import Counter

import pytest


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return Counter("\x1f".join(canon(r[i]) for i in order) for r in rows)


def assert_df_equals_sql(sdf, con, sql, name=""):
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(sql)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: schema {sorted(scols)} != {sorted(ocols)}"
    assert len(srows) == len(orows), f"{name}: rowcount {len(srows)} != {len(orows)}"
    sm, om = multiset(scols, srows), multiset(ocols, orows)
    if sm != om:
        s_only = list((sm - om).items())[:3]
        o_only = list((om - sm).items())[:3]
        raise AssertionError(f"{name}: value mismatch\n spark-only: {s_only}\n oracle-only: {o_only}")


def formatted_plan(df) -> str:
    """The text df.explain(mode="formatted") prints; skips the test when
    this PySpark build prints no plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    if "Physical Plan" not in plan:
        pytest.skip("formatted plan text unavailable")
    return plan


def persistent_rdds(spark) -> set:
    """Ids of the RDDs the context holds persisted; skips the test when this
    PySpark build has no JVM context. Compare id sets, not sizes: the context
    cleaner may release an earlier test's RDD meanwhile."""
    jsc = getattr(spark.sparkContext, "_jsc", None)
    if jsc is None:
        pytest.skip("persistent RDD list unavailable")
    return set(jsc.getPersistentRDDs().keys())
