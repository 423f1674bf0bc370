"""One delta-segment lifecycle for the four maintained stores (IVF,SQ8,
MaxSim, ColBERTv2, BM25), on ~20-row stores: delta-wins upsert, delete and
revive; live view ≡ the in-memory composition encoded under the build's
frozen model; compaction identity with the side tables cleared; stale side
tables left by a crash at any point of the cleanup overlay idempotently; a
foreign-build side table is refused; and a crash between the two renames of
a base or sidecar snapshot swap heals on the next live load."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators import (
    bm25_store,
    cv2_maintenance,
    index_maintenance,
    maxsim_maintenance,
)
from photo_vector_search_spark.operators.late_interaction import (
    build_maxsim_store,
    doc_token_embeddings,
    with_pooled_column,
)
from photo_vector_search_spark.operators.sq import (
    build_ivf_sq8_store,
    encode_sq8,
    load_ivf_sq8_store,
)
from photo_vector_search_spark.operators.token_compression import (
    build_colbertv2_store,
    encode_token_matrices,
    load_colbertv2_store,
)
from photo_vector_search_spark.sources.tables import load_table

TOK = {"max_tokens": 8, "dim": 16}


@dataclass
class Kind:
    id_col: str
    build: Callable  # (base frame, path) -> None
    upsert: Callable  # (spark, path, rows) -> int
    delete: Callable  # (spark, path, ids) -> int
    live: Callable  # (spark, path) -> list of live frames
    compact: Callable  # (spark, path) -> int
    encode: Callable  # (spark, path, composed frame) -> list of frames
    sidecar: str
    sides: tuple  # side tables, in compaction's clear order


def _ivf_encode(spark, path, composed):
    from photo_vector_search_spark.operators.ann import assign_clusters

    _, centroids, model = load_ivf_sq8_store(spark, path)
    return [encode_sq8(assign_clusters(composed, centroids), model)]


def _toks(composed):
    return with_pooled_column(doc_token_embeddings(composed, **TOK))


def _cv2_encode(spark, path, composed):
    _, quant, _ = load_colbertv2_store(spark, path)
    return [encode_token_matrices(_toks(composed), quant)]


def _bm25_encode(spark, path, composed):
    meta = bm25_store.load_bm25_store(spark, path)[2]
    toks = bm25_store._tokenized(composed, "doc_id", "text")
    return [
        bm25_store._postings_of(toks, "doc_id", meta["n_buckets"]),
        toks.select("doc_id", F.size("_toks").alias("dl")),
    ]


KINDS = {
    "ivf_sq8": Kind(
        "vec_id",
        lambda base, path: build_ivf_sq8_store(base, path, n_clusters=2),
        index_maintenance.upsert_ivf_sq8_store,
        index_maintenance.delete_from_ivf_sq8_store,
        lambda spark, path: [index_maintenance.load_live_ivf_sq8(spark, path)[0]],
        index_maintenance.compact_ivf_sq8_store,
        _ivf_encode,
        ".ivfsqmeta",
        (".tombstones", ".delta"),
    ),
    "maxsim": Kind(
        "doc_id",
        lambda base, path: build_maxsim_store(base, path, **TOK),
        maxsim_maintenance.upsert_maxsim_store,
        maxsim_maintenance.delete_from_maxsim_store,
        lambda spark, path: [maxsim_maintenance.load_live_maxsim(spark, path)[0]],
        maxsim_maintenance.compact_maxsim_store,
        lambda spark, path, composed: [_toks(composed)],
        ".meta",
        (".tombstones", ".delta"),
    ),
    "colbertv2": Kind(
        "doc_id",
        lambda base, path: build_colbertv2_store(base, path, n_centroids=8, **TOK),
        cv2_maintenance.upsert_colbertv2_store,
        cv2_maintenance.delete_from_colbertv2_store,
        lambda spark, path: [cv2_maintenance.load_live_colbertv2(spark, path)[0]],
        cv2_maintenance.compact_colbertv2_store,
        _cv2_encode,
        ".meta",
        (".tombstones", ".delta"),
    ),
    "bm25": Kind(
        "doc_id",
        lambda base, path: bm25_store.build_bm25_store(base, path, n_buckets=4),
        bm25_store.upsert_bm25_store,
        bm25_store.delete_from_bm25_store,
        lambda spark, path: list(bm25_store.load_live_bm25(spark, path)[:2]),
        bm25_store.compact_bm25_store,
        _bm25_encode,
        ".meta",
        (".dldelta", ".delta", ".tombstones"),
    ),
}


def _canon(v):
    return tuple(_canon(x) for x in v) if isinstance(v, (list, tuple)) else v


def _rows(frames, cols_of=None):
    """Order-insensitive content of each frame, build_id stamps excluded,
    columns taken from ``cols_of`` (the frames to compare against)."""
    out = []
    for i, df in enumerate(frames):
        cols = sorted(c for c in (cols_of or frames)[i].columns if c != "build_id")
        out.append(sorted(_canon(tuple(r)) for r in df.select(*cols).collect()))
    return out


def _batches(spark, sf_dir, kind):
    """(base, upsert batch, revive batch): the batch replaces ids 3 and 5
    and adds 900 and 901; the revive batch re-adds id 7 with new content."""
    if kind.id_col == "vec_id":
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") < 20)

        def moved(src, dst):
            return emb.filter(F.col("vec_id") == src).select(
                F.lit(dst).cast("long").alias("vec_id"), "embedding",
                F.lit(99).alias("label"),
            )

        batch = moved(30, 3).unionByName(moved(31, 5)).unionByName(
            moved(40, 900)).unionByName(moved(41, 901))
        return base, batch, moved(50, 7)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 20)
    batch = spark.createDataFrame(
        [(3, "quick brown fox quick"), (5, "lazy dog lazy dog"),
         (900, "quick new doc"), (901, "another fresh brown text")],
        "doc_id long, text string",
    )
    revive = spark.createDataFrame([(7, "revived fox text")], "doc_id long, text string")
    return base, batch, revive


@pytest.mark.parametrize("name", list(KINDS))
def test_lifecycle(spark, sf_dir, tmp_path, name):
    kind, id_col = KINDS[name], KINDS[name].id_col
    base, batch, revive = _batches(spark, sf_dir, kind)
    path = str(tmp_path / name)
    kind.build(base, path)

    assert kind.upsert(spark, path, batch) == 4
    assert kind.delete(spark, path, [7, 900]) == 2
    assert kind.upsert(spark, path, revive) == 1
    composed = (
        base.join(batch.select(id_col), id_col, "left_anti")
        .unionByName(batch)
        .filter(~F.col(id_col).isin([7, 900]))
        .unionByName(revive)
    )
    live = _rows(kind.live(spark, path))
    assert live == _rows(kind.encode(spark, path, composed), kind.live(spark, path))

    # a side table stamped by another build is refused
    ts = path + ".tombstones"
    keep = str(tmp_path / "ts_keep")
    shutil.copytree(ts, keep)
    foreign = spark.read.parquet(ts).withColumn("build_id", F.lit("deadbeefdeadbeef"))
    foreign.localCheckpoint(eager=True).write.mode("overwrite").parquet(ts + ".new")
    shutil.rmtree(ts)
    os.rename(ts + ".new", ts)
    with pytest.raises(ValueError, match="from build"):
        kind.live(spark, path)
    shutil.rmtree(ts)
    shutil.copytree(keep, ts)

    # compaction folds the same view into the base and clears the sides
    stale = str(tmp_path / "stale")
    for side in kind.sides:
        shutil.copytree(path + side, stale + side)
    n = kind.compact(spark, path)
    assert n == composed.count()
    for side in kind.sides:
        assert not os.path.exists(path + side)
        assert not os.path.exists(path + side + ".old")
    assert _rows(kind.live(spark, path)) == live

    # a crash at any point of the cleanup leaves the remaining stale side
    # tables (a suffix of the clear order): each overlays idempotently
    for i in range(len(kind.sides)):
        for side in kind.sides[i:]:
            shutil.copytree(stale + side, path + side)
        assert _rows(kind.live(spark, path)) == live, kind.sides[i:]
        for side in kind.sides[i:]:
            shutil.rmtree(path + side)
    # and a compaction over restored stale tables converges
    for side in kind.sides:
        shutil.copytree(stale + side, path + side)
    assert kind.compact(spark, path) == n
    assert _rows(kind.live(spark, path)) == live


@pytest.mark.parametrize("name", list(KINDS))
def test_half_swap_heals_on_live_load(spark, sf_dir, tmp_path, name):
    """A crash between the two renames of `store.snapshot_overwrite` leaves
    only ``<table>.old``; the live load (and compaction) must restore it
    rather than refuse the store as torn or missing."""
    kind = KINDS[name]
    base, batch, _ = _batches(spark, sf_dir, kind)
    path = str(tmp_path / name)
    kind.build(base, path)
    kind.upsert(spark, path, batch)
    want = _rows(kind.live(spark, path))
    for table in (path, path + kind.sidecar):
        os.rename(table, table + ".old")
        assert _rows(kind.live(spark, path)) == want
        assert os.path.isdir(table) and not os.path.exists(table + ".old")
    os.rename(path, path + ".old")
    assert kind.compact(spark, path) == len(want[-1])
