"""Incremental maintenance for the persisted MaxSim token store — the
`index_maintenance` delta-segment + tombstone lifecycle (layout, live view
and crash windows are stated there once) applied to a
`late_interaction.build_maxsim_store` store, so the late-interaction
family grows without re-embedding or rewriting the corpus.

What differs here:
- the encode step re-embeds ONLY the new docs under the build's frozen
  (max_tokens, dim) and — for clustered stores — assigns them to the
  build's FROZEN centroids; the delta is cluster-partitioned like the base.
- empty docs are refused: a doc that tokenizes to ZERO tokens has no token
  matrix, so no delta row could shadow its old version (delete it
  instead). The BM25 store, by contrast, represents empty docs.
- compaction restamps the meta sidecar (``store_sig``, ``n_docs``); the
  centroid sidecar is untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.index_maintenance import (
    _clear_side_tables,
    _id_batch,
    _merge_side_table,
    _overlay,
    _read_meta,
    _restamp_meta,
    _side_tables,
    _tombstone,
)
from photo_vector_search_spark.operators.late_interaction import (
    _META_SCHEMA,
    _load_maxsim_centroids,
    _serve_maxsim,
    doc_token_embeddings,
    load_maxsim_store,
    with_pooled_column,
)
from photo_vector_search_spark.operators.store import snapshot_overwrite


def _base_partitioning(meta) -> list | None:
    return ["cluster_id"] if meta["n_clusters"] >= 1 else None


def _meta_keep_cols(meta) -> list[str]:
    """keep_cols recorded at build (empty for stores predating the field —
    Row lookup on a missing column raises, old sidecars have none)."""
    try:
        raw = meta["keep_cols"]
    except Exception:
        return []
    return [c for c in (raw or "").split(",") if c]


def _embed_new_docs(meta, new_docs: DataFrame, text_col: str) -> DataFrame:
    """Token matrices + pooled vectors of ONLY the new docs under the
    build's frozen (max_tokens, dim) — the O(delta) half of the contract
    shared by the MaxSim and ColBERTv2 stores. A keep_cols store requires
    the same metadata columns on the upsert batch (delta rows must union
    with the base schema)."""
    keep = _meta_keep_cols(meta)
    missing = [c for c in keep if c not in new_docs.columns]
    if missing:
        raise ValueError(
            f"store was built with keep_cols={keep} but the upsert batch "
            f"lacks {missing} — supply the metadata columns"
        )
    toks = with_pooled_column(
        doc_token_embeddings(
            new_docs,
            text_col=text_col,
            id_col=meta["id_col"],
            max_tokens=meta["max_tokens"],
            dim=meta["dim"],
        ),
        id_col=meta["id_col"],
    )
    if keep:
        toks = toks.join(new_docs.select(meta["id_col"], *keep), meta["id_col"])
    return toks


def _stamp_nonempty(coded: DataFrame, meta, n_new: int, delete_fn: str) -> DataFrame:
    """``coded`` stamped with the build id; refuses the batch when a doc
    produced no row (NULL/empty text) — silently keeping its OLD base
    version would violate delta-wins, so the caller decides."""
    coded = coded.withColumn("build_id", F.lit(meta["build_id"]))
    n_coded = coded.count()
    if n_coded != n_new:
        raise ValueError(
            f"{n_new - n_coded} upsert doc(s) have NULL/empty text and "
            "produce no token matrix — an empty doc cannot shadow its old "
            f"version; delete those ids instead ({delete_fn})"
        )
    return coded


def _raw_live(spark, path: str, kind: str, tables) -> tuple:
    """(meta, materialized live view, its row count) from the RAW tables —
    the compaction read, convergent from any crash point
    (`index_maintenance` module docstring)."""
    meta = _read_meta(spark, path, kind, tables)
    delta, ts = _side_tables(spark, path, meta["build_id"], ".delta", ".tombstones")
    live = _overlay(spark.read.parquet(path), delta, delta, ts, meta["id_col"])
    live = live.localCheckpoint(eager=True)
    return meta, live, live.count()


def upsert_maxsim_store(
    spark, path: str, new_docs: DataFrame, text_col: str = "text"
) -> int:
    """Embed ``new_docs`` against the store's frozen build and merge them
    into the delta segment (same-id delta rows replaced, tombstones
    revived). Returns the number of upserted docs. O(new + delta) — the
    base is never rewritten; the embed pass runs over the NEW docs only."""
    _, meta = load_maxsim_store(spark, path)
    id_col, build_id = meta["id_col"], meta["build_id"]
    ids, n_new = _id_batch(spark, new_docs.select(id_col), id_col, unique=True)
    if n_new == 0:
        return 0
    toks = _embed_new_docs(meta, new_docs, text_col)
    if meta["n_clusters"] >= 1:
        from photo_vector_search_spark.operators.ann import assign_clusters

        centroids = _load_maxsim_centroids(spark, path, meta)
        toks = assign_clusters(
            toks.withColumnRenamed("pooled", "embedding"), centroids
        ).withColumnRenamed("embedding", "pooled")
    coded = _stamp_nonempty(toks, meta, n_new, "delete_from_maxsim_store")
    _merge_side_table(
        spark, path, ".delta", build_id, ids, id_col, rows=coded,
        partition_by=_base_partitioning(meta),
    )
    _merge_side_table(spark, path, ".tombstones", build_id, ids, id_col)
    return n_new


def delete_from_maxsim_store(spark, path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    _, meta = load_maxsim_store(spark, path)
    id_col, build_id = meta["id_col"], meta["build_id"]
    ids, n = _id_batch(spark, doc_ids, id_col)
    if n == 0:
        return 0
    _tombstone(spark, path, build_id, ids, id_col)
    _merge_side_table(
        spark, path, ".delta", build_id, ids, id_col,
        partition_by=_base_partitioning(meta),
    )
    return n


def load_live_maxsim(spark, path: str):
    """(live token frame, meta): delta ∪ (base anti delta-ids) − tombstones,
    every side table build-checked. Cluster/pool filters push through the
    union, so the base scan keeps its partition pruning."""
    base, meta = load_maxsim_store(spark, path)
    delta, ts = _side_tables(spark, path, meta["build_id"], ".delta", ".tombstones")
    return _overlay(base, delta, delta, ts, meta["id_col"]), meta


def live_maxsim_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int | None = None,
    fast: bool = True,
    nprobe: int | None = None,
    filter=None,
) -> DataFrame:
    """`maxsim_store_search` over the LIVE view (base + delta − tombstones):
    the serving call for a store growing through upserts between
    compactions. ≡ composing the corpora in memory, pinned in tests.
    ``filter`` (keep_cols stores): metadata predicate applied before the
    prefilter, pushed through the union to both the base and delta scans."""
    from photo_vector_search_spark.operators.late_interaction import (
        MAX_QUERY_TOKENS,
    )

    live, meta = load_live_maxsim(spark, path)
    centroids = (
        _load_maxsim_centroids(spark, path, meta)
        if nprobe is not None and meta["n_clusters"] >= 1
        else None
    )
    return _serve_maxsim(
        spark, live, meta, query, k=k, prefilter_n=prefilter_n,
        max_query_tokens=(
            MAX_QUERY_TOKENS if max_query_tokens is None else max_query_tokens
        ),
        fast=fast, nprobe=nprobe, centroids=centroids, filter=filter,
    )


def compact_maxsim_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base, restamp the meta sidecar's
    ``store_sig`` and ``n_docs`` (``build_id`` is stable — no side-table or
    centroid restamp), and clear the side tables. Convergent from any
    crash point; `load_maxsim_store` refuses to SERVE any intermediate
    state. Returns the compacted base row count."""
    meta, live, n = _raw_live(spark, path, "maxsim", ("", ".meta"))
    snapshot_overwrite(live, path, partition_by=_base_partitioning(meta))
    _restamp_meta(spark, path, _META_SCHEMA, {
        **meta.asDict(), "n_docs": n, "keep_cols": ",".join(_meta_keep_cols(meta)),
    })
    _clear_side_tables(path)
    return n
