"""Incremental maintenance for the ColBERTv2 residual-compressed token
store — the `index_maintenance` delta-segment + tombstone lifecycle
(layout, live view and crash windows are stated there once) applied to a
`token_compression.build_colbertv2_store` store, so the compressed
late-interaction rung grows without re-fitting the quantizer or rewriting
the corpus codes.

What differs here:
- the encode step re-embeds AND re-encodes only the new docs against the
  build's FROZEN quantizer (token centroids + residual range; residuals
  outside the fitted range clip to the edges, the `encode_sq8`
  convention). ``build_id`` hashes params + quantizer bytes, so a side
  table encoded under another codebook is refused — serving foreign codes
  would decode garbage silently.
- empty docs are refused, as in the MaxSim store: a zero-token doc has no
  code rows and cannot shadow its old version; delete it explicitly.
- compaction rewrites the base range-partitioned and id-sorted (the build
  layout) and restamps the meta sidecar; the quantizer sidecar is
  untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.index_maintenance import (
    _clear_side_tables,
    _id_batch,
    _merge_side_table,
    _overlay,
    _restamp_meta,
    _side_tables,
    _tombstone,
)
from photo_vector_search_spark.operators.maxsim_maintenance import (
    _embed_new_docs,
    _meta_keep_cols,
    _raw_live,
    _stamp_nonempty,
)
from photo_vector_search_spark.operators.store import snapshot_overwrite
from photo_vector_search_spark.operators.token_compression import (
    _META_SCHEMA,
    encode_token_matrices,
    load_colbertv2_store,
    maxsim_topk_compressed,
)


def upsert_colbertv2_store(
    spark, path: str, new_docs: DataFrame, text_col: str = "text"
) -> int:
    """Encode ``new_docs`` against the store's frozen quantizer and merge
    them into the delta segment (same-id delta rows replaced, tombstones
    revived). Returns the number of upserted docs. O(new + delta) — the
    base codes are never rewritten."""
    _base, quant, meta = load_colbertv2_store(spark, path)
    id_col, build_id = meta["id_col"], meta["build_id"]
    ids, n_new = _id_batch(spark, new_docs.select(id_col), id_col, unique=True)
    if n_new == 0:
        return 0
    coded = _stamp_nonempty(
        encode_token_matrices(
            _embed_new_docs(meta, new_docs, text_col), quant, id_col=id_col
        ),
        meta, n_new, "delete_from_colbertv2_store",
    )
    _merge_side_table(spark, path, ".delta", build_id, ids, id_col, rows=coded)
    _merge_side_table(spark, path, ".tombstones", build_id, ids, id_col)
    return n_new


def delete_from_colbertv2_store(spark, path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    _base, _quant, meta = load_colbertv2_store(spark, path)
    id_col, build_id = meta["id_col"], meta["build_id"]
    ids, n = _id_batch(spark, doc_ids, id_col)
    if n == 0:
        return 0
    _tombstone(spark, path, build_id, ids, id_col)
    _merge_side_table(spark, path, ".delta", build_id, ids, id_col)
    return n


def load_live_colbertv2(spark, path: str):
    """(live codes frame, quantizer, meta): delta ∪ (base anti delta-ids)
    − tombstones, every side table build-checked. Prefilter/candidate
    filters push through the union, so the base keeps its pruning."""
    base, quant, meta = load_colbertv2_store(spark, path)
    delta, ts = _side_tables(spark, path, meta["build_id"], ".delta", ".tombstones")
    return _overlay(base, delta, delta, ts, meta["id_col"]), quant, meta


def live_colbertv2_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int | None = None,
    filter=None,
) -> DataFrame:
    """`colbertv2_store_search` over the LIVE view (base + delta −
    tombstones): the serving call for a store growing through upserts
    between compactions. ≡ composing the corpora in memory, pinned in
    tests. ``filter`` (keep_cols stores): metadata predicate applied
    before the prefilter, pushed through the union to both scans."""
    import numpy as np

    from photo_vector_search_spark.operators.late_interaction import (
        MAX_QUERY_TOKENS,
        _pooled_flat_candidate_ids,
        _query_token_vecs,
    )

    mqt = MAX_QUERY_TOKENS if max_query_tokens is None else max_query_tokens
    live, quant, meta = load_live_colbertv2(spark, path)
    id_col, dim = meta["id_col"], meta["dim"]
    if filter is not None:
        live = live.filter(filter)
    if prefilter_n is not None:
        if prefilter_n < k:
            raise ValueError(
                f"prefilter_n ({prefilter_n}) must be >= k ({k})"
            )
        qvecs = np.asarray(
            _query_token_vecs(query, mqt, dim), dtype=np.float64
        )
        cand = _pooled_flat_candidate_ids(
            live, qvecs.mean(axis=0), prefilter_n, id_col
        )
        live = live.filter(F.col(id_col).isin(cand))
    return maxsim_topk_compressed(
        live, quant, query, k=k, id_col=id_col,
        max_query_tokens=mqt, dim=dim,
    )


def compact_colbertv2_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base, restamp the meta sidecar's
    ``store_sig`` and ``n_docs`` (``build_id`` is stable), and clear the
    side tables. Convergent from any crash point; `load_colbertv2_store`
    refuses to SERVE any intermediate state. Returns the live doc count."""
    meta, live, n = _raw_live(spark, path, "ColBERTv2", ("", ".quant", ".meta"))
    id_col = meta["id_col"]
    # the build layout: range-partitioned + id-sorted for row-group pruning
    snapshot_overwrite(
        live.repartitionByRange(F.col(id_col)).sortWithinPartitions(id_col),
        path,
    )
    _restamp_meta(spark, path, _META_SCHEMA, {
        **meta.asDict(), "n_docs": n, "keep_cols": ",".join(_meta_keep_cols(meta)),
    })
    _clear_side_tables(path)
    return n
