"""Benchmark decontamination (n-gram collision vs an eval set) and the
unigram-LM perplexity-proxy scorer — DuckDB-oracle parity on crafted data
and the sf0.001 documents table, plus plan/behavior pins."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mongo_log_parser_spark.contracts.data_oracle import (
    contamination_sql as _hits_sql,
    unigram_sql as _unigram_sql,
)
from mongo_log_parser_spark.functions import textstats
from mongo_log_parser_spark.operators import decontam
from tests.util import assert_df_equals_sql, formatted_plan

DOCS = "read_parquet('/root/testdata/sf0.001/documents.parquet')"


TRAIN = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "what is the capital of france paris is the answer"),   # eval leak
    (2, "completely unrelated text about cooking pasta with garlic"),
    (3, "what is the capital of spain madrid obviously right"),  # partial overlap
    (4, ""),
]
EVAL = [
    (900, "what is the capital of france"),
    (901, "name the largest planet in the solar system"),
]


@pytest.fixture(scope="module")
def crafted(spark, duck):
    tr = pd.DataFrame(TRAIN, columns=["doc_id", "text"])
    ev = pd.DataFrame(EVAL, columns=["doc_id", "text"])
    duck.register("dc_train", tr)
    duck.register("dc_eval", ev)
    return spark.createDataFrame(tr), spark.createDataFrame(ev)


def test_contamination_hits_vs_oracle(crafted, duck):
    train, ev = crafted
    got = decontam.contamination_hits(train, ev, n=5)
    assert_df_equals_sql(got, duck, _hits_sql("dc_train", "dc_eval", 5), "contam-crafted")
    ids = {r["doc_id"] for r in got.collect()}
    # doc 1 embeds the whole eval question; doc 3 shares the 5-gram
    # "what is the capital of" — both contaminated, clean docs absent
    assert ids == {1, 3}


def test_decontaminate_removes_only_hits(crafted):
    train, ev = crafted
    kept = {r["doc_id"] for r in decontam.decontaminate(train, ev, n=5).collect()}
    assert kept == {0, 2, 4}
    # at n=6 the "capital of" prefix overlap is too short; only doc 1 drops
    kept6 = {r["doc_id"] for r in decontam.decontaminate(train, ev, n=6).collect()}
    assert kept6 == {0, 2, 3, 4}


def test_contamination_broadcast_plan(crafted):
    train, ev = crafted
    plan = formatted_plan(decontam.contamination_hits(train, ev, n=5))
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_sf0001_vs_oracle(spark, duck):
    """Eval set = a slice of the corpus itself → guaranteed collisions."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    duck.execute("CREATE OR REPLACE VIEW dc_eval_sf AS "
                 "SELECT doc_id, text FROM documents WHERE doc_id < 20")
    got = decontam.contamination_hits(docs, ev, n=8)
    assert_df_equals_sql(got, duck, _hits_sql(DOCS.replace("read_parquet", "read_parquet"),
                                              "dc_eval_sf", 8), "contam-sf0.001")
    # every eval doc with ≥8 tokens must at least hit itself
    long_eval = {r["doc_id"] for r in ev.filter(
        F.size(textstats.tokens("text")) >= 8).collect()}
    hit_ids = {r["doc_id"] for r in got.collect()}
    assert long_eval <= hit_ids


def test_unigram_scores_crafted_vs_oracle(crafted, duck):
    train, ev = crafted
    got = textstats.unigram_logprob_scores(train, ev)
    assert_df_equals_sql(got, duck, _unigram_sql("dc_train", "dc_eval"), "unigram-crafted")
    rows = {r["doc_id"]: r for r in got.collect()}
    # the leaked doc is closer to the eval distribution than the cooking doc
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]
    assert rows[2]["oov_toks"] == rows[2]["n_toks"]  # fully OOV
    assert 4 not in rows  # empty doc absent


def test_unigram_scores_sf0001_vs_oracle(spark, duck):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    duck.execute("CREATE OR REPLACE VIEW ug_ref AS "
                 "SELECT * FROM documents WHERE doc_id % 5 = 0")
    got = textstats.unigram_logprob_scores(docs, ref, min_count=2)
    assert_df_equals_sql(got, duck, _unigram_sql(DOCS, "ug_ref", min_count=2),
                         "unigram-sf0.001")


def test_unigram_vocab_broadcast_plan(spark, crafted):
    train, ev = crafted
    plan = formatted_plan(textstats.unigram_logprob_scores(train, ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the single-row totals ride-along
