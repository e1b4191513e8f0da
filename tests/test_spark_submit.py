"""Packaging / deployment contract: the job must run via `spark-submit
--py-files` on a multi-executor cluster (north rule), not only in-process
local mode. Spark's `local-cluster[N,cores,memMB]` master spawns a real
standalone master plus N separate worker JVMs on this machine, so the test
exercises the full path: package zip shipped to executors, session factory
deferring to the submitted master, Python workers importing the package from
the zip — then asserts the distributed run's aggregates equal the in-process
local-mode run on the same deterministic input (cross-deployment routed-row
equality)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

from mongo_log_parser_spark.session import _default_shuffle_partitions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def test_default_shuffle_partitions_parses_masters():
    assert _default_shuffle_partitions("local[8]", 32) == 8
    assert _default_shuffle_partitions("local[*]", 32) == 32
    assert _default_shuffle_partitions("local-cluster[2,2,1500]", 32) == 4
    assert _default_shuffle_partitions("local-cluster[4,4,4096]", 32) == 16
    # unrecognized (real cluster) masters fall back to the env CPU count
    assert _default_shuffle_partitions("spark://host:7077", 32) == 32
    assert _default_shuffle_partitions("yarn", 16) == 16


def test_spark_submit_local_cluster(spark):
    """Full spark-submit run on local-cluster[2,2,1500] (2 executor JVMs x 2
    cores), package via --py-files; aggregates must equal the in-process
    local-mode pipeline on the same sf0.001 input."""
    submit = _find_spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on this host")

    with tempfile.TemporaryDirectory() as tmp:
        pkg_zip = os.path.join(tmp, "mlp.zip")
        src = os.path.join(REPO, "mongo_log_parser_spark")
        with zipfile.ZipFile(pkg_zip, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(src):
                if "__pycache__" in root:
                    continue
                for f in files:
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO))
        out_dir = os.path.join(tmp, "out")
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", "4")
        proc = subprocess.run(
            [submit, "--master", "local-cluster[2,2,1500]",
             "--py-files", pkg_zip,
             os.path.join(REPO, "scripts", "submit_job.py"),
             "--sf", "0.001", "--out", out_dir],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=480)
        assert proc.returncode == 0, proc.stderr[-3000:]
        # the submitted session must have used the multi-executor master, not
        # fallen back to in-process local mode
        assert "Executor added:" in proc.stderr, "job ran in local mode"
        with open(os.path.join(out_dir, "report.json")) as f:
            submitted = json.load(f)

    # same input, in-process local mode (the shared test session)
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.sinks import writers

    sinks = pipeline.plan_sinks(route.split_streams(pipeline.read_pages(spark, sf=0.001)))
    local = writers.json_report(sinks, metadata={})

    def multiset(rows):
        # count-desc ties are partition-order-dependent; compare as multisets
        return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)

    assert submitted["summary"] == local["summary"]
    for section in ("mainOperations", "operationTypeStats", "errorCodes",
                    "ttlOperations", "indexStats", "transactions"):
        assert multiset(submitted[section]) == multiset(local[section]), section
    assert len(submitted["queryHashAnalysis"]) == len(local["queryHashAnalysis"])


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-v"]))
