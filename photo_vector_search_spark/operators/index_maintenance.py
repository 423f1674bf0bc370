"""Incremental maintenance for the persisted serving stores — upsert,
delete, live serving, and compaction WITHOUT a full rebuild (the
delta-segment + tombstone pattern every LSM-backed index uses; cf. the
reference's own workflow, which adds photos to its ChromaDB index
one directory at a time — photo_vector_search.py:84-117 — rather than
rebuilding it).

This module is the one home of that lifecycle. It serves the IVF,SQ8
store itself and lends its private primitives to the MaxSim
(`maxsim_maintenance`), ColBERTv2 (`cv2_maintenance`) and BM25
(`bm25_store`) stores, which keep only their encode step and their meta
restamp.

Layout around a store at ``path`` (every side table stamped with the
base's ``build_id``, so a side table written against different
centroids/ranges/codebooks is refused at load):

    <path>              base rows (IVF,SQ8: codes, hive-partitioned by
                        cluster_id; its sidecar is <path>.ivfsqmeta)
    <path>.delta        upserted rows, same schema/partitioning as the base
    <path>.tombstones   deleted ids

Semantics:
- ``upsert``: encode new rows against the build's FROZEN model (IVF,SQ8:
  existing centroids + SQ8 range; out-of-range values clip — the
  documented encode_sq8/FAISS convention; re-fit when drift warrants a
  rebuild). Rows replace same-id rows anywhere (delta wins over base),
  and revive tombstoned ids. Each upsert snapshot-rewrites the delta
  (O(delta), not O(base) — the delta stays small between compactions).
- ``delete``: ids enter the tombstone set and leave the delta.
- live view = (base anti shadow-ids) ∪ delta rows, anti tombstones; the
  shadow ids are the delta's own ids (BM25: the doclens delta's). The
  anti-joins are AQE-broadcastable (side tables are recent changes, never
  corpus-scale); the base scan keeps its partition pruning because probe
  filters push through the union.
- ``compact``: snapshot-rewrite the base as the live view, restamp the
  store's meta sidecar where it has one, then clear the side tables.

Crash windows (all bounded; no torn or mixed-build state is ever served):
- upsert swaps the delta BEFORE the tombstone revive. A crash between the
  two leaves a re-upserted, previously-tombstoned id invisible (the
  anti-tombstone join suppresses its fresh delta row) until the caller's
  natural retry replays the upsert, which rewrites the delta idempotently
  and completes the revive. Revive-first would have the opposite window: a
  crash could revive a tombstone whose replacement row never landed,
  resurrecting a DELETED row — losing availability of a row being re-added
  beats serving a row the caller deleted.
- ``build_id`` is STABLE: a hash of the build's parameters and frozen
  model, not of the base directory, so compaction never restamps side
  tables or sidecars. The meta sidecar's ``store_sig`` (the base
  directory signature) is what compaction restamps; loaders refuse a base
  whose signature disagrees, so a crash between the base swap and the
  meta rewrite is refused, never served.
- compaction is convergent: it reads the RAW tables (meta for params,
  side tables checked against the META build id, the signature
  deliberately not verified), so re-running it from any crash point folds
  the same live view. A stale side table left by a crash before cleanup
  (or restored after it) carries the same build id and overlays
  idempotently: its rows are already folded into the base, so the
  anti-join + union reproduces the identical view, and stale tombstones
  re-delete rows the new base already dropped.
- every table swap goes through `store.snapshot_overwrite`; a crash
  between its two renames leaves ``<table>.old``, which every loader and
  compaction heals through `store.recover_store` before reading.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import _file_build_ids, _store_signature
from .sq import SQ8Model, encode_sq8, ivf_sq8_topk, load_ivf_sq8_store
from .store import recover_store, snapshot_overwrite

_SIDE_KIND = {
    ".delta": "delta segment",
    ".dldelta": "doclens delta",
    ".tombstones": "tombstone set",
}


def _read_meta(spark, path: str, kind: str, tables=("", ".meta")):
    """The one-row ``path + '.meta'`` sidecar, after healing a half-swapped
    snapshot of every table in ``tables`` (suffixes of ``path``). A missing
    table or a sidecar without exactly one row is refused."""
    for suffix in tables:
        recover_store(path + suffix)
    missing = [s or "base" for s in tables if not os.path.isdir(path + s)]
    if missing:
        raise ValueError(
            f"no {kind} store at {path!r} (missing: {missing}) — build the "
            "store first"
        )
    rows = spark.read.parquet(path + ".meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"{kind} store sidecar at {path + '.meta'!r} has {len(rows)} "
            "rows, want exactly 1 — rebuild the store"
        )
    return rows[0]


def _restamp_meta(spark, path: str, schema: str, meta: dict) -> None:
    """Rewrite the one-row meta sidecar from ``meta`` in ``schema``'s column
    order, with the base directory's current ``store_sig``."""
    row = {**meta, "store_sig": _store_signature(path)}
    names = [field.split()[0] for field in schema.split(",")]
    snapshot_overwrite(
        spark.createDataFrame([tuple(row[n] for n in names)], schema),
        path + ".meta",
    )


def _side_tables(spark, path: str, build_id: str, *sides: str) -> list:
    """Each side table ``path + side``, checked against ``build_id``
    (parquet footers, no table scan). A missing or file-less dir is None —
    a crashed cleanup may leave either, both are valid empty states."""
    out = []
    for side in sides:
        sub = path + side
        recover_store(sub)
        df = None
        if glob.glob(os.path.join(sub, "**", "*.parquet"), recursive=True):
            df = spark.read.parquet(sub)
            builds = _file_build_ids(sub)
            if builds and builds != {build_id}:
                raise ValueError(
                    f"{_SIDE_KIND[side]} at {sub!r} is from build "
                    f"{sorted(builds, key=str)} but the base store is build "
                    f"{build_id!r} — it was written against different "
                    "centroids/ranges; compact or rebuild before serving"
                )
        out.append(df)
    return out


def _id_batch(spark, batch, id_col: str, unique: bool = False):
    """(distinct id frame, size) of a batch of ids: a list, or a DataFrame
    whose first column holds them. ``unique`` (an upsert batch, one row per
    id): the size counts rows, and a repeated id raises."""
    if isinstance(batch, DataFrame):
        col = batch.select(F.col(batch.columns[0]).alias(id_col))
    else:
        col = spark.createDataFrame([(int(v),) for v in batch], f"`{id_col}` long")
    ids = col.distinct()
    if not unique:
        return ids, ids.count()
    n = col.count()
    if n and ids.count() != n:
        raise ValueError("duplicate ids in the upsert batch — one row per id")
    return ids, n


def _merge_side_table(
    spark, path, side, build_id, ids, id_col, rows=None, partition_by=None,
    distinct=False,
) -> None:
    """Rewrite side table ``path + side`` as ``rows`` ∪ (old table anti
    ``ids``): the upsert delta, a tombstone revive, or delete's
    drop-from-delta (``rows`` None). No-op when there is nothing to write."""
    (old,) = _side_tables(spark, path, build_id, side)
    if old is not None:
        kept = old.join(F.broadcast(ids), id_col, "left_anti")
        rows = kept if rows is None else rows.unionByName(kept)
        if distinct:
            rows = rows.distinct()
    if rows is None:
        return
    # materialize BEFORE the swap — a lazy plan reading the old side table
    # would race its own overwrite
    snapshot_overwrite(
        rows.localCheckpoint(eager=True), path + side, partition_by=partition_by
    )


def _tombstone(spark, path: str, build_id: str, ids: DataFrame, id_col: str) -> None:
    """Add ``ids`` to the tombstone set."""
    _merge_side_table(
        spark, path, ".tombstones", build_id, ids, id_col,
        rows=ids.withColumn("build_id", F.lit(build_id)), distinct=True,
    )


def _overlay(base, delta_rows, shadow_ids, tombstones, id_col: str) -> DataFrame:
    """(base anti shadow_ids) ∪ delta_rows, anti tombstones — the live view
    (module docstring). Any of the three may be None."""
    live = base
    if shadow_ids is not None:
        live = live.join(F.broadcast(shadow_ids.select(id_col)), id_col, "left_anti")
    if delta_rows is not None:
        live = live.unionByName(delta_rows.select(*base.columns))
    if tombstones is not None:
        live = live.join(F.broadcast(tombstones.select(id_col)), id_col, "left_anti")
    return live


def _clear_side_tables(path: str, sides=(".tombstones", ".delta")) -> None:
    """Remove the side tables and their ``.old`` backups after a compact."""
    for side in sides:
        shutil.rmtree(path + side, ignore_errors=True)
        shutil.rmtree(path + side + ".old", ignore_errors=True)


def upsert_ivf_sq8_store(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> int:
    """Encode ``new_embeddings`` against the store's existing centroids +
    SQ8 model and merge them into the delta segment (same-id delta rows
    replaced, tombstones revived). Returns the number of upserted rows.
    O(new + delta) — the base is never rewritten. Crash window: module
    docstring."""
    from photo_vector_search_spark.operators.ann import assign_clusters

    base, centroids, model = load_ivf_sq8_store(spark, path)
    (build_id,) = _file_build_ids(path)  # verified by the load: no Spark job

    emb = new_embeddings
    if vec_col != "embedding":
        emb = emb.withColumnRenamed(vec_col, "embedding")
    ids, n_new = _id_batch(spark, emb.select(id_col), id_col, unique=True)
    if n_new == 0:
        return 0
    coded = encode_sq8(assign_clusters(emb, centroids), model).select(
        id_col,
        *keep_cols,
        "cluster_id",
        "sq8",
        F.lit(build_id).alias("build_id"),
    )
    if sorted(coded.columns) != sorted(base.columns):
        raise ValueError(
            f"upsert columns {sorted(coded.columns)} do not match the base "
            f"store's {sorted(base.columns)} — pass the keep_cols the store "
            "was built with"
        )
    _merge_side_table(
        spark, path, ".delta", build_id, ids, id_col, rows=coded,
        partition_by=["cluster_id"],
    )
    _merge_side_table(spark, path, ".tombstones", build_id, ids, id_col)
    return n_new


def delete_from_ivf_sq8_store(spark, path: str, vec_ids, id_col: str = "vec_id") -> int:
    """Tombstone ``vec_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    load_ivf_sq8_store(spark, path)  # refuses a torn or missing store
    (build_id,) = _file_build_ids(path)
    ids, n = _id_batch(spark, vec_ids, id_col)
    if n == 0:
        return 0
    _tombstone(spark, path, build_id, ids, id_col)
    _merge_side_table(
        spark, path, ".delta", build_id, ids, id_col, partition_by=["cluster_id"]
    )
    return n


def load_live_ivf_sq8(
    spark, path: str, id_col: str = "vec_id"
) -> tuple[DataFrame, np.ndarray, SQ8Model]:
    """The serving view: delta ∪ (base anti delta-ids) anti tombstones,
    with every side-table verified against the base build. Probe filters
    push through the union, so base partition pruning is preserved."""
    base, centroids, model = load_ivf_sq8_store(spark, path)
    (build_id,) = _file_build_ids(path)
    delta, ts = _side_tables(spark, path, build_id, ".delta", ".tombstones")
    return _overlay(base, delta, delta, ts, id_col), centroids, model


def live_ivf_sq8_topk(
    spark,
    path: str,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """ivf_sq8_store_topk over the LIVE view (base + delta − tombstones)."""
    if rerank is not None and rerank_source is None:
        raise ValueError(
            "rerank over a persisted IVF,SQ8 store needs rerank_source — the "
            "store holds codes only; pass the source embeddings frame"
        )
    live, centroids, model = load_live_ivf_sq8(spark, path)
    return ivf_sq8_topk(
        live,
        centroids,
        model,
        query_vec,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        rerank_source=rerank_source,
    )


def compact_ivf_sq8_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base (same build — the sidecar
    is untouched) and clear them. Returns the compacted base row count.
    Step order makes every crash point recoverable: (1) base snapshot
    swap, (2) clear tombstones, (3) clear delta — module docstring."""
    live, _, _ = load_live_ivf_sq8(spark, path)
    live = live.localCheckpoint(eager=True)
    n = live.count()
    snapshot_overwrite(live, path, partition_by=["cluster_id"])
    _clear_side_tables(path)
    return n
