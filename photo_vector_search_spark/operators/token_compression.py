"""ColBERTv2-style residual compression for per-token embedding matrices
(Santhanam, Khattab, Saad-Falcon, Potts & Zaharia, NAACL 2022: every token
embedding is stored as its nearest TOKEN-centroid id plus a scalar-quantized
RESIDUAL) — the compressed rung of the late-interaction family.

`late_interaction.build_maxsim_store` persists raw float64 token matrices:
max_tokens · dim · 8 bytes per doc, the dominant at-rest cost of MaxSim
serving at 100 TB. Here each token costs 4 bytes of centroid id + dim bytes
of residual code — ~7.5× smaller at dim=64 — and serving decodes
asymmetrically inside the scoring kernel (centroid lookup + residual
dequantize + the same BLAS matmul / segment-max as `maxsim_scores_fast`),
so the full-precision matrices are never materialized.

The pieces are the engine's own conventions composed:
- token centroids: `ann.train_centroids` (cosine-space mini k-means) over
  the EXPLODED token vectors — centroids describe token space, not doc
  space (the ColBERTv2 observation: token vectors cluster tightly, so
  residuals are small and quantize well).
- residual quantization: the `sq.py` SQ8 formula (per-dim min/max over
  residuals, 8-bit codes, decode exact at both endpoints, error ≤ step/2
  per dim). ColBERTv2 ships 1-2 bit residuals; 8-bit is the conservative
  setting on the same axis — the store layout is agnostic to the width.
- serving error is bounded: |Δscore| ≤ max_query_tokens · Σ_d |q_d| ·
  step_d/2 — and the ``rerank`` ladder (`sq8_topk` discipline) re-scores a
  compressed-score candidate pool EXACTLY from the float source, matching
  exact MaxSim bit-for-bit once the pool covers it (pinned in tests).

Persisted form (`build_colbertv2_store`): codes-only rows
(id, tok_cids, tok_codes, pooled) — `pooled` stays the EXACT float mean
(64 doubles/doc, the prefilter's whole read) — under the shared
crash-consistency contract: content-hash ``build_id`` stamped on store +
both sidecars (`.meta` single row with the directory ``store_sig``,
`.quant` kind-rows holding centroids/vmin/vmax), torn pairs refused at
load (`sq.build_ivf_sq8_store` discipline).

Scale shape (100 TB): fit is one sample + one map-side minmax pass; encode
is map-only; serving reads ~1/7.5 of the raw-store bytes with the same
map-only → TakeOrdered plan as `maxsim_scores_fast`; the pooled prefilter
composes unchanged (flat column pruning, candidate IN-filter into the
id-sorted layout).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.late_interaction import (
    MAX_DOC_TOKENS,
    MAX_QUERY_TOKENS,
    _query_token_vecs,
    _tok_matrices,
)


class TokenQuantizer(NamedTuple):
    centroids: np.ndarray  # (K, dim) token centroids, float64
    vmin: np.ndarray  # per-dim residual minima (dim,)
    vmax: np.ndarray  # per-dim residual maxima (dim,)

    @property
    def scale(self) -> np.ndarray:
        """Per-dim residual step (vmax-vmin)/255; 0 where the residual is
        constant (those dims decode exactly to vmin) — the SQ8Model rule."""
        return (self.vmax - self.vmin) / 255.0


def _assign_tokens(flat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest token centroid by cosine (argmax over the normalized rows —
    the `ann.assign_clusters` rule; ties resolve to the lower centroid id
    via argmax first-win). Residuals are taken against the RAW vector, so
    decode is exact regardless of the assignment metric."""
    m = flat / np.maximum(np.linalg.norm(flat, axis=1, keepdims=True), 1e-300)
    return np.argmax(m @ centroids.T, axis=1).astype(np.int32)


def fit_token_quantizer(
    doc_toks: DataFrame,
    n_centroids: int = 256,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> TokenQuantizer:
    """Train the token-space codebook + residual range: k-means over the
    exploded token vectors (one sample collect, the `ann.train_centroids`
    rule), then ONE map-side Arrow pass assigning every token and tracking
    per-dim residual min/max (the `sq.fit_sq8` partials shape — the driver
    collect is bounded by Arrow batch count, two dim-vectors each)."""
    from photo_vector_search_spark.operators.ann import train_centroids

    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    token_vecs = doc_toks.select(F.explode("tok_embs").alias("embedding"))
    centroids = train_centroids(
        token_vecs, n_clusters=n_centroids, sample=sample, iters=iters,
        seed=seed,
    )
    bc = doc_toks.sparkSession.sparkContext.broadcast(centroids)

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            vals = pdf["embedding"].dropna()
            if not len(vals):
                continue
            x = np.vstack(vals.to_numpy()).astype(np.float64)
            res = x - cent[_assign_tokens(x, cent)]
            yield pd.DataFrame(
                {"lo": [res.min(axis=0)], "hi": [res.max(axis=0)]}
            )

    parts = token_vecs.mapInPandas(
        _partials, schema="lo array<double>, hi array<double>"
    ).collect()
    if not parts:
        raise ValueError(
            "cannot fit token quantizer: no document has any token embedding"
        )
    vmin = np.min([np.asarray(r["lo"]) for r in parts], axis=0)
    vmax = np.max([np.asarray(r["hi"]) for r in parts], axis=0)
    return TokenQuantizer(centroids=centroids, vmin=vmin, vmax=vmax)


def encode_token_matrices(
    doc_toks: DataFrame,
    quant: TokenQuantizer,
    id_col: str = "doc_id",
) -> DataFrame:
    """Map-only encode of every doc's token matrix under the broadcast
    quantizer: ``tok_embs`` → (``tok_cids`` array<int>, ``tok_codes``
    array<array<smallint>>), token order preserved. Residuals outside the
    fitted range clip to the edges (the `encode_sq8` / FAISS convention).
    Docs whose matrix is NULL/empty pass through with NULL codes."""
    sc = doc_toks.sparkSession.sparkContext
    b = sc.broadcast((quant.centroids, quant.vmin, quant.scale))
    keep_fields = [f for f in doc_toks.schema.fields if f.name != "tok_embs"]
    out_names = [f.name for f in keep_fields] + ["tok_cids", "tok_codes"]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in keep_fields)
        + ", tok_cids array<int>, tok_codes array<array<smallint>>"
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, vmin, step = b.value
        safe = np.where(step > 0, step, 1.0)
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            flat, counts, keep = _tok_matrices(pdf["tok_embs"])
            cids = pd.Series([None] * len(pdf), dtype=object)
            codes = pd.Series([None] * len(pdf), dtype=object)
            if flat is not None:
                assign = _assign_tokens(flat, cent)
                res = flat - cent[assign]
                c = np.rint((res - vmin) / safe)
                c[:, step == 0] = 0.0
                c = np.clip(c, 0, 255).astype(np.int16)
                pos = 0
                for row_pos, n in zip(np.flatnonzero(keep), counts):
                    cids[row_pos] = assign[pos : pos + n]
                    codes[row_pos] = list(c[pos : pos + n])
                    pos += n
            pdf = pdf.copy()
            pdf["tok_cids"] = cids
            pdf["tok_codes"] = codes
            yield pdf[out_names]

    return doc_toks.mapInPandas(_encode, schema=out_schema)


def _decode_flat(
    cids: np.ndarray, codes: np.ndarray, cent, vmin, step
) -> np.ndarray:
    """x̂ = centroid[cid] + vmin + code·step — the SQ8 decode against the
    token codebook; exact at both range endpoints."""
    return cent[cids] + vmin + codes * step


def decode_token_matrices(
    coded: DataFrame,
    quant: TokenQuantizer,
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverse of `encode_token_matrices`: (id, tok_embs) with each token
    reconstructed to within step/2 per dim — for composition with the
    float-path operators (e.g. feeding `maxsim_topk` directly); serving
    should prefer `maxsim_topk_compressed`, which decodes inside the
    scoring kernel without materializing the matrices."""
    sc = coded.sparkSession.sparkContext
    b = sc.broadcast((quant.centroids, quant.vmin, quant.scale))
    id_type = coded.schema[id_col].dataType.simpleString()

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, vmin, step = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            out = []
            for cid_arr, code_arr in zip(pdf["tok_cids"], pdf["tok_codes"]):
                if cid_arr is None or len(cid_arr) == 0:
                    out.append(None)
                    continue
                cids = np.asarray(list(cid_arr), dtype=np.int64)
                codes = np.vstack(
                    [np.asarray(c, dtype=np.float64) for c in code_arr]
                )
                out.append(
                    [list(map(float, row)) for row in
                     _decode_flat(cids, codes, cent, vmin, step)]
                )
            yield pd.DataFrame({id_col: pdf[id_col], "tok_embs": out})

    return coded.select(id_col, "tok_cids", "tok_codes").mapInPandas(
        _decode, schema=f"`{id_col}` {id_type}, tok_embs array<array<double>>"
    )


def maxsim_scores_compressed(
    coded: DataFrame,
    quant: TokenQuantizer,
    query: str,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
) -> DataFrame:
    """(id, maxsim) over COMPRESSED token matrices — the
    `maxsim_scores_fast` kernel with asymmetric decode fused in: per Arrow
    batch, reconstruct the batch's stacked tokens (centroid gather +
    dequantize), ONE BLAS matmul, ``maximum.reduceat`` segment-max, and the
    query-token-ordered sum. Map-only, no shuffle; rounding via the shared
    ``F.round``. ``mapInArrow`` over the flat list buffers (r12,
    `functions.arrowkit`): the batch's stacked codes are one reshape of the
    Arrow values buffer, not a per-row vstack — same arithmetic,
    bit-identical scores."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.arrowkit import flat_values, nested_matrix

    qmat = np.asarray(
        _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
    )
    sc = coded.sparkSession.sparkContext
    b = sc.broadcast((qmat, quant.centroids, quant.vmin, quant.scale))
    id_field = coded.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("_raw", DoubleType(), True),
        ]
    )
    arrow_out = to_arrow_schema(out_schema)
    dim_ = dim

    def _score(batches):
        qm, cent, vmin, step = b.value
        for batch in batches:
            cols = {nm: i for i, nm in enumerate(batch.schema.names)}
            codes, counts, keep = nested_matrix(
                batch.column(cols["tok_codes"]), dim_
            )
            if codes is None:
                continue
            cids = flat_values(batch.column(cols["tok_cids"]), np.int64)
            flat = _decode_flat(cids, codes, cent, vmin, step)
            sims = qm @ flat.T
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            best = np.maximum.reduceat(sims, offsets, axis=1)
            tot = np.zeros(best.shape[1], dtype=np.float64)
            for j in range(qm.shape[0]):  # the expression fold's sum order
                tot = tot + best[j]
            ids_np = batch.column(cols[id_col]).to_numpy(
                zero_copy_only=False
            )[keep]
            yield pa.record_batch(
                [
                    pa.array(ids_np, type=arrow_out.field(0).type),
                    pa.array(tot, type=arrow_out.field(1).type),
                ],
                schema=arrow_out,
            )

    scored = coded.select(id_col, "tok_cids", "tok_codes").mapInArrow(
        _score, schema=out_schema
    )
    return scored.select(id_col, F.round("_raw", 6).alias("maxsim"))


def maxsim_topk_compressed(
    coded: DataFrame,
    quant: TokenQuantizer,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Top-k by compressed MaxSim — (id, maxsim, rank), ties by ascending
    id, TakeOrderedAndProject (the knn ordering discipline). ``rerank``
    widens the compressed-score pool to ``rerank`` (>= k) candidates and
    re-scores them EXACTLY from ``rerank_source`` (a float ``tok_embs``
    frame, e.g. `doc_token_embeddings` output) — with a pool covering the
    true top-k this matches exact `maxsim_topk` bit-for-bit (pinned in
    tests), at a fraction of the scan bytes."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rerank is not None:
        if rerank < k:
            raise ValueError(f"rerank pool ({rerank}) must be >= k ({k})")
        if rerank_source is None:
            raise ValueError(
                "rerank over compressed codes needs rerank_source — the "
                "coded frame carries no float matrices to re-score from; "
                "pass the source token-embedding frame (the sq8_topk "
                "contract)"
            )
    scores = maxsim_scores_compressed(
        coded, quant, query, id_col=id_col,
        max_query_tokens=max_query_tokens, dim=dim,
    )
    if rerank is None:
        top = scores.orderBy(
            F.col("maxsim").desc(), F.col(id_col).asc()
        ).limit(k)
        return top.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("maxsim").desc(), F.col(id_col).asc())
            ),
        ).select(id_col, "maxsim", "rank")

    from photo_vector_search_spark.operators.late_interaction import maxsim_topk

    pool = scores.orderBy(
        F.col("maxsim").desc(), F.col(id_col).asc()
    ).limit(rerank)
    cand = [r[id_col] for r in pool.select(id_col).collect()]  # ≤ rerank rows
    return maxsim_topk(
        rerank_source.filter(F.col(id_col).isin(cand)),
        query,
        k=k,
        id_col=id_col,
        max_query_tokens=max_query_tokens,
        dim=dim,
    )


def maxsim_batch_topk_compressed(
    coded: DataFrame,
    quant: TokenQuantizer,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    max_queries: int = 4096,
) -> DataFrame:
    """Batched compressed MaxSim: Q text queries share ONE pass over the
    codes — (query_id, id, maxsim, rank), ≡ a Python loop of
    `maxsim_topk_compressed` per query (pinned in tests) — the
    `maxsim_batch_topk` kernel with the asymmetric decode fused in: per
    Arrow batch the codes decode ONCE and every query's token matrix scores
    against the same reconstruction (one stacked BLAS matmul, segment-max
    per doc, segment-sum per query, per-batch local top-k), so the shuffle
    carries O(batches · Q · k) survivor rows. ``mapInArrow`` over the flat
    list buffers (r12, `functions.arrowkit`) — one reshape per batch, no
    per-row conversion; bit-identical scores."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.arrowkit import flat_values, nested_matrix

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qrows = queries.select("query_id", "query").limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f">{max_queries} queries — split the batch or raise max_queries"
        )
    if not qrows:
        raise ValueError("empty query frame")
    qids = [r["query_id"] for r in qrows]
    if len(set(qids)) != len(qids):
        raise ValueError(
            "duplicate query_id in the batch — per-query top-k is "
            "ill-defined; de-duplicate the query frame first"
        )
    qmats = [
        np.asarray(
            _query_token_vecs(r["query"], max_query_tokens, dim),
            dtype=np.float64,
        )
        for r in qrows
    ]
    allq = np.vstack(qmats)
    q_offsets = np.concatenate(
        ([0], np.cumsum([m.shape[0] for m in qmats])[:-1])
    )
    sc = coded.sparkSession.sparkContext
    bq = sc.broadcast(
        (
            np.asarray(qids, dtype=np.int64),
            allq,
            q_offsets,
            quant.centroids,
            quant.vmin,
            quant.scale,
        )
    )
    id_field = coded.schema[id_col]
    out_schema = StructType(
        [
            StructField("query_id", queries.schema["query_id"].dataType, True),
            StructField(id_col, id_field.dataType, True),
            StructField("_raw", DoubleType(), True),
        ]
    )

    arrow_out = to_arrow_schema(out_schema)
    dim_ = dim

    def _score(batches):
        ids, qm, qoff, cent, vmin, step = bq.value
        nq = len(ids)
        for batch in batches:
            cols = {nm: i for i, nm in enumerate(batch.schema.names)}
            ids_np = batch.column(cols[id_col]).to_numpy(zero_copy_only=False)
            # pre-sort by id: stable argsort breaks ties by ascending id
            order = np.argsort(ids_np, kind="stable")
            order_pa = pa.array(order)
            codes, counts, keep = nested_matrix(
                batch.column(cols["tok_codes"]).take(order_pa), dim_
            )
            if codes is None:
                continue
            cids = flat_values(
                batch.column(cols["tok_cids"]).take(order_pa), np.int64
            )
            flat = _decode_flat(cids, codes, cent, vmin, step)  # decode ONCE
            doc_ids = ids_np[order][keep]
            d_offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            sims = qm @ flat.T
            best = np.maximum.reduceat(sims, d_offsets, axis=1)
            scores = np.add.reduceat(best, qoff, axis=0)  # (Q, docs)
            kk = min(k, scores.shape[1])
            out_q, out_d, out_r = [], [], []
            for j in range(nq):
                row = scores[j]
                take = np.argsort(-row, kind="stable")[:kk]
                out_q.extend([ids[j]] * len(take))
                out_d.extend(doc_ids[take])
                out_r.extend(row[take])
            yield pa.record_batch(
                [
                    pa.array(out_q, type=arrow_out.field(0).type),
                    pa.array(out_d, type=arrow_out.field(1).type),
                    pa.array(out_r, type=arrow_out.field(2).type),
                ],
                schema=arrow_out,
            )

    survivors = coded.select(id_col, "tok_cids", "tok_codes").mapInArrow(
        _score, schema=out_schema
    )
    win = Window.partitionBy("query_id").orderBy(
        F.round("_raw", 6).desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, F.round("_raw", 6).alias("maxsim"), "rank"
        )
    )


# ---------------------------------------------------------------------------
# persisted form — the shared store contract
# ---------------------------------------------------------------------------


def _cv2_build_id(id_col, max_tokens, dim, quant: TokenQuantizer) -> str:
    """Content-hash build identity: params + the codebook and range bytes
    (two stores sharing params but trained on different corpora cannot
    collide) — the `build_ivf_sq8_store` rule."""
    import hashlib

    h = hashlib.md5(f"{id_col}:{max_tokens}:{dim}".encode())
    h.update(quant.centroids.tobytes())
    h.update(quant.vmin.tobytes())
    h.update(quant.vmax.tobytes())
    return h.hexdigest()[:16]


def build_colbertv2_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = MAX_DOC_TOKENS,
    dim: int = 64,
    n_centroids: int = 256,
    sample: int = 4096,
    keep_cols: tuple[str, ...] = (),
) -> str:
    """Embed, fit the token quantizer, and persist CODES-ONLY rows
    (id, tok_cids, tok_codes, pooled) — ``pooled`` stays the EXACT float
    mean so the prefilter is unaffected by compression — range-partitioned
    and sorted by id (tight row-group id stats for the candidate
    IN-filter, the `build_maxsim_store` layout). Sidecars: ``.meta`` one
    row (build_id, store_sig, id_col, max_tokens, dim, n_docs,
    n_centroids), ``.quant`` kind-rows (centroid i / vmin / vmax), all
    stamped with the content-hash build id; meta written LAST so a crash
    anywhere leaves a store `load_colbertv2_store` refuses. Returns the
    build id.

    ``keep_cols``: metadata columns from ``docs`` carried onto the code
    rows (recorded in meta) so `colbertv2_store_search(filter=...)` can
    push an equality predicate into the scan BEFORE the prefilter — the
    filtered-search discipline."""
    from photo_vector_search_spark.operators.ann import _store_signature
    from photo_vector_search_spark.operators.late_interaction import (
        doc_token_embeddings,
        with_pooled_column,
    )
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    spark = docs.sparkSession
    toks = with_pooled_column(
        doc_token_embeddings(
            docs, text_col=text_col, id_col=id_col,
            max_tokens=max_tokens, dim=dim,
        ),
        id_col=id_col,
    )
    if keep_cols:
        toks = toks.join(docs.select(id_col, *keep_cols), id_col)
    quant = fit_token_quantizer(toks, n_centroids=n_centroids, sample=sample)
    build_id = _cv2_build_id(id_col, max_tokens, dim, quant)
    coded = (
        encode_token_matrices(toks, quant, id_col=id_col)
        .withColumn("build_id", F.lit(build_id))
        .repartitionByRange(F.col(id_col))
        .sortWithinPartitions(id_col)
    )
    snapshot_overwrite(coded, path)
    n_docs = spark.read.parquet(path).count()
    side = [
        ("centroid", i, [float(x) for x in c], build_id)
        for i, c in enumerate(quant.centroids)
    ] + [
        ("vmin", None, [float(x) for x in quant.vmin], build_id),
        ("vmax", None, [float(x) for x in quant.vmax], build_id),
    ]
    snapshot_overwrite(
        spark.createDataFrame(
            side, "kind string, idx int, vec array<double>, build_id string"
        ),
        path + ".quant",
    )
    snapshot_overwrite(
        spark.createDataFrame(
            [
                (
                    build_id,
                    _store_signature(path),
                    id_col,
                    max_tokens,
                    dim,
                    n_docs,
                    len(quant.centroids),
                    ",".join(keep_cols),
                )
            ],
            _META_SCHEMA,
        ),
        path + ".meta",
    )
    return build_id


_META_SCHEMA = (
    "build_id string, store_sig string, id_col string, max_tokens int, "
    "dim int, n_docs long, n_centroids int, keep_cols string"
)


def load_colbertv2_store(spark, path: str):
    """(coded frame, TokenQuantizer, meta row) — refuses torn pairs: the
    postings directory's recomputed content signature must equal the meta's
    ``store_sig``, and store rows + quant sidecar must carry the meta's
    build id (serving codes against a different build's codebook decodes
    garbage silently — exactly what this check exists to prevent)."""
    from photo_vector_search_spark.operators.ann import _store_signature
    from photo_vector_search_spark.operators.index_maintenance import _read_meta

    meta = _read_meta(spark, path, "ColBERTv2", ("", ".quant", ".meta"))
    sig = _store_signature(path)
    if sig != meta["store_sig"]:
        raise ValueError(
            f"ColBERTv2 store at {path!r} is torn: directory signature "
            f"{sig} != sidecar store_sig {meta['store_sig']} — rebuild"
        )
    side = spark.read.parquet(path + ".quant").collect()
    builds = {r["build_id"] for r in side}
    if builds != {meta["build_id"]}:
        raise ValueError(
            f"ColBERTv2 quantizer sidecar at {path + '.quant'!r} is from "
            f"build {sorted(builds)} but the store is build "
            f"{meta['build_id']!r} — torn pair; rebuild"
        )
    by_kind: dict[str, list] = {}
    for r in side:
        by_kind.setdefault(r["kind"], []).append(r)
    cents = sorted(by_kind.get("centroid", []), key=lambda r: r["idx"])
    if not cents or "vmin" not in by_kind or "vmax" not in by_kind:
        raise ValueError(
            f"ColBERTv2 sidecar at {path + '.quant'!r} is missing "
            f"{'centroids' if not cents else 'the residual range'} — not a "
            "build_colbertv2_store sidecar"
        )
    quant = TokenQuantizer(
        centroids=np.vstack(
            [np.asarray(r["vec"], dtype=np.float64) for r in cents]
        ),
        vmin=np.asarray(by_kind["vmin"][0]["vec"], dtype=np.float64),
        vmax=np.asarray(by_kind["vmax"][0]["vec"], dtype=np.float64),
    )
    return spark.read.parquet(path), quant, meta


def colbertv2_store_batch_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    max_queries: int = 4096,
) -> DataFrame:
    """Batched serving from the persisted compressed store: Q queries share
    ONE codes pass (decode once per Arrow batch, all queries score the same
    reconstruction) — ≡ a per-query loop of `colbertv2_store_search` with
    no prefilter, pinned in tests."""
    coded, quant, meta = load_colbertv2_store(spark, path)
    return maxsim_batch_topk_compressed(
        coded, quant, queries, k=k, id_col=meta["id_col"],
        max_query_tokens=max_query_tokens, dim=meta["dim"],
        max_queries=max_queries,
    )


def colbertv2_store_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
    filter=None,
) -> DataFrame:
    """Serve compressed MaxSim from the persisted store: load (torn-pair
    checked), optional metadata ``filter`` (keep_cols stores — applied
    FIRST, the P2 discipline), optional pooled-cosine prefilter (EXACT
    float pooled column — same candidates as the uncompressed store would
    pick), compressed rescore; optional exact ``rerank`` from a float
    source. The store read is ~1/7.5 the raw token-store bytes; with
    ``prefilter_n`` it is the pooled column + candidate row groups only."""
    coded, quant, meta = load_colbertv2_store(spark, path)
    id_col, dim = meta["id_col"], meta["dim"]
    if filter is not None:
        coded = coded.filter(filter)
    if prefilter_n is not None:
        if prefilter_n < k:
            raise ValueError(
                f"prefilter_n ({prefilter_n}) must be >= k ({k})"
            )
        from photo_vector_search_spark.operators.late_interaction import (
            _pooled_flat_candidate_ids,
        )

        qvecs = np.asarray(
            _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
        )
        cand = _pooled_flat_candidate_ids(
            coded, qvecs.mean(axis=0), prefilter_n, id_col
        )
        # IN filter pushes into the id-sorted store scan → row-group pruning
        coded = coded.filter(F.col(id_col).isin(cand))
    return maxsim_topk_compressed(
        coded, quant, query, k=k, id_col=id_col,
        max_query_tokens=max_query_tokens, dim=dim,
        rerank=rerank, rerank_source=rerank_source,
    )
