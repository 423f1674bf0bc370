"""curate_corpus executes its expensive front (scan → redact → gate) once per
call: the pipeline stages ``gated`` and ``deboiled`` at its two fan-out
points instead of letting every downstream branch re-run the front."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from photo_vector_search_spark.pipelines.curation import curate_corpus

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "fixtures",
    "documents.parquet",
)
N = 300


def _slice(spark):
    pdf = pq.read_table(FIXTURE).slice(0, N).to_pandas()
    return spark.createDataFrame(pdf[["doc_id", "source", "text"]])


def _counted(df):
    """``df`` behind an identity mapInPandas that adds every row it passes
    to an accumulator: the accumulator counts front executions × rows."""
    acc = df.sparkSession.sparkContext.accumulator(0)

    def passthrough(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(passthrough, schema=df.schema), acc


def test_front_runs_once_per_call(spark):
    docs, acc = _counted(_slice(spark))
    curated, stats = curate_corpus(docs, compute_stats=False)
    survivors = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    assert stats == {}
    assert 0 < len(survivors) < N
    # exact dedup, boilerplate removal, LSH and the shuffle read the staged
    # copies, so the front runs exactly once
    assert acc.value == N

    with_stats, stats = curate_corpus(_slice(spark), compute_stats=True)
    assert sorted(r["doc_id"] for r in with_stats.select("doc_id").collect()) == survivors
    assert stats["input"] == N
    assert stats["after_near_dedup"] == len(survivors)


def test_empty_and_all_gated_out_inputs_return_empty_frames(spark):
    empty = _slice(spark).limit(0)
    gated_out = _slice(spark).withColumn("text", F.lit("x"))
    for docs in (empty, gated_out):
        curated, stats = curate_corpus(docs, compute_stats=True)
        assert "pos" in curated.columns
        assert curated.count() == 0
        assert stats["after_quality_gate"] == 0
        assert stats["after_near_dedup"] == 0
