"""Persisted BM25 postings store — the materialized-index rung of the
lexical-retrieval family (`operators/bm25` computes postings on the fly
from the corpus; this persists them once so serving never re-tokenizes).

Every other serving family already has its store (IVF `ann.py:92`, SQ8
`sq.py:213`, IVF,SQ8 `sq.py:491`, PQ `pq.py:569`, BQ `bq.py:341`, MaxSim
`late_interaction.build_maxsim_store`); this is the same discipline for the
keyword half, the Lucene/Elasticsearch architecture re-expressed at rest as
Parquet (cf. reference scope: the reference's whole value is a PERSISTENT
index, photo_vector_search.py:16-20 — its ChromaDB store holds embeddings;
this is the sibling store for term statistics).

Layout around ``path``:
- ``path``              postings ``(id, term, tf, dl, build_id)``
                        hive-partitioned by ``term_bucket`` =
                        md5(term) mod n_buckets and sorted by ``term``
                        within files — a q-term query prunes to ≤ q bucket
                        DIRECTORIES at file-listing time, then to the
                        matching row groups via Parquet term min/max.
- ``path + '.doclens'`` one narrow row per indexed doc ``(id, dl,
                        build_id)`` — the live view recomputes exact
                        (N, avgdl) from it after upserts/deletes; ~0.01%
                        of corpus bytes, a metadata-scale scan.
- ``path + '.meta'``    single row: build_id, store_sig (postings-dir
                        content signature), id/text col names, n_buckets,
                        and the BASE corpus stats (n_docs, sum_dl).

The bucket hash is md5-based (NOT xxhash64) deliberately: the driver must
map a query's terms to buckets WITHOUT a Spark job, so the function has to
be replayable in plain Python (`term_bucket_py`) — the `sampling.py` md5
discipline; parity with the Spark column form is pinned in tests.

``build_id`` is a content hash (params + corpus stats + a bit_xor checksum
over the postings rows), so torn cross-build pairs cannot collide even when
two corpora share (N, sum_dl); postings, doclens, meta, and every
maintenance side table carry it, and ``load_bm25_store`` refuses any
mismatch (the `build_ivf_sq8_store` crash-consistency contract). Build
writes postings → doclens → meta LAST; a crash anywhere leaves a store the
loader refuses (missing meta, or store_sig mismatch), never a silently
inconsistent one.

Incremental maintenance is the `index_maintenance` delta-segment +
tombstone lifecycle (crash windows stated there once), with two
differences:
- dldelta membership: besides ``path + '.delta'`` (postings,
  bucket-partitioned so the term filter prunes it too) there is
  ``path + '.dldelta'`` (doclens), and the dldelta id set is the
  DOC-LEVEL membership authority: live postings = (base anti dldelta-ids)
  ∪ (delta semi dldelta-ids) − tombstones. Upsert writes the postings
  delta FIRST, so orphan postings rows from a crash before the dldelta
  swap are ignored (the old doc version keeps serving) until the upsert
  is replayed; compaction clears the dldelta first for the same reason.
- empty docs are allowed: a doc that tokenizes to zero terms is a dl=0
  doclen row with no postings — it counts toward N/avgdl and matches
  nothing, exactly the on-the-fly semantics (the MaxSim and ColBERTv2
  stores must refuse such docs).

Scale shape (100 TB): serving reads ≤ q postings-list partitions of a store
that is a small multiple of the corpus's TOKEN count in fixed-width rows —
never the corpus text; df/idf is an agg over the already-pruned rows (they
are read for scoring anyway); doclens stats ride from the meta row (base)
or one narrow-column agg (live). The final top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.text import tokens
from photo_vector_search_spark.operators.ann import _file_build_ids, _store_signature
from photo_vector_search_spark.operators.bm25 import BM25_B, BM25_K1, query_terms
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
from photo_vector_search_spark.operators.store import snapshot_overwrite

N_BUCKETS = 64


def term_bucket_py(term: str, n_buckets: int = N_BUCKETS) -> int:
    """Driver-side bucket of a term: md5 hex[:15] as an integer, mod
    n_buckets — 60 bits, always non-negative, bit-identical to
    `term_bucket_col` (pinned in tests) and replayable in DuckDB."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def term_bucket_col(col, n_buckets: int = N_BUCKETS):
    """The same bucket as a codegen column expression (md5 → hex-to-decimal
    conv → mod), for the build/upsert write paths."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks) over non-NULL-text docs — the exact `bm25_scores` base
    (NULL text is unindexable; empty text is an indexed zero-length doc)."""
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
    )


def _postings_of(base: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """(id, _term, _tf, _dl, term_bucket) from a `_tokenized` frame — dl
    rides with every row (the bm25.py discipline: scoring never joins back
    to the corpus for lengths)."""
    return (
        base.select(
            id_col,
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .groupBy(id_col, "_term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
        .withColumn("term_bucket", term_bucket_col(F.col("_term"), n_buckets))
    )


def _postings_checksum(postings: DataFrame, id_col: str) -> int:
    """Order-insensitive content checksum: bit_xor of xxhash64 over the
    (id, term, tf) triples — rows are unique per (id, term), so xor can't
    self-cancel, and xor never overflows (sum would, under ANSI)."""
    row = postings.select(
        F.expr(f"bit_xor(xxhash64(`{id_col}`, _term, _tf))").alias("c")
    ).first()
    return int(row["c"]) if row["c"] is not None else 0


def build_bm25_store(
    docs: DataFrame,
    path: str,
    n_buckets: int = N_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Tokenize the corpus ONCE and persist postings + doclens + meta (see
    module docstring for the layout and crash contract). Returns the meta
    dict. The postings write repartitions by bucket and sorts by term
    within files, so both pruning levers (directory + row group) are set at
    rest."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = docs.sparkSession
    base = _tokenized(docs, id_col, text_col)
    doclens = base.select(id_col, F.size("_toks").alias("dl"))
    n_docs, sum_dl = _dl_stats(doclens)
    if n_docs == 0:
        raise ValueError(
            "build_bm25_store: no document has non-NULL text — nothing to "
            "index"
        )
    if sum_dl == 0:
        # a partitioned write of ZERO postings rows emits no parquet files,
        # leaving a dir no loader can read — an all-empty corpus has
        # nothing to serve anyway
        raise ValueError(
            "build_bm25_store: every document tokenizes to zero terms — "
            "nothing to index"
        )

    postings = _postings_of(base, id_col, n_buckets)
    checksum = _postings_checksum(postings, id_col)
    build_id = hashlib.md5(
        f"{id_col}:{text_col}:{n_buckets}:{n_docs}:{sum_dl}:{checksum}".encode()
    ).hexdigest()[:16]

    snapshot_overwrite(
        # sorted by (bucket, term): the dynamic-partition writer streams each
        # bucket's file sequentially (no writer-side re-sort that would
        # scramble term order) and every file gets tight term min/max stats
        postings.withColumn("build_id", F.lit(build_id))
        .repartition("term_bucket")
        .sortWithinPartitions("term_bucket", "_term"),
        path,
        partition_by=["term_bucket"],
    )
    snapshot_overwrite(
        doclens.withColumn("build_id", F.lit(build_id)), path + ".doclens"
    )
    meta = {
        "build_id": build_id,
        "store_sig": _store_signature(path),
        "id_col": id_col,
        "text_col": text_col,
        "n_buckets": n_buckets,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
    }
    snapshot_overwrite(
        spark.createDataFrame([tuple(meta.values())], _META_SCHEMA),
        path + ".meta",
    )
    return meta


_META_SCHEMA = (
    "build_id string, store_sig string, id_col string, text_col string, "
    "n_buckets int, n_docs long, sum_dl long"
)
_TABLES = ("", ".doclens", ".meta")
# membership authority first: compaction clears in this order, so a crash
# mid-cleanup never leaves a doclens delta without its postings delta
_SIDES = (".dldelta", ".delta", ".tombstones")


def _dl_stats(doclens: DataFrame) -> tuple[int, int]:
    """(N, sum of doc lengths) of a doclens frame — one narrow agg job."""
    row = doclens.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def load_bm25_store(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """(postings, doclens, meta) — recovers any half-finished snapshot
    swap, then verifies all three tables share ONE build and the postings
    directory still matches the recorded content signature before returning
    anything a query could consume (torn builds/compactions and post-hoc
    rewrites are refused, not served)."""
    meta = _read_meta(spark, path, "BM25", _TABLES).asDict()
    sig = _store_signature(path)
    if sig != meta["store_sig"]:
        raise ValueError(
            f"BM25 store at {path!r} does not match its recorded content "
            "signature — a rebuild/compaction crashed between the postings "
            "swap and the meta rewrite (or the store was rewritten outside "
            "the engine); re-run build_bm25_store or compact_bm25_store"
        )
    postings = spark.read.parquet(path)
    doclens = spark.read.parquet(path + ".doclens")
    for sub, name in ((path, "postings"), (path + ".doclens", "doclens")):
        builds = _file_build_ids(sub)
        if builds != {meta["build_id"]}:
            raise ValueError(
                f"BM25 {name} at {path!r} is from build "
                f"{sorted(builds, key=str)} but the sidecar records "
                f"{meta['build_id']!r} — a rebuild crashed between snapshot "
                "swaps; re-run build_bm25_store"
            )
    return postings, doclens, meta


def _pruned_postings(
    postings: DataFrame, terms: list[str], n_buckets: int
) -> DataFrame:
    """Bucket-prune (partition directories) then term-filter (row groups +
    rows) — the read path's whole point."""
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    return postings.filter(F.col("term_bucket").isin(buckets)).filter(
        F.col("_term").isin(terms)
    )


def _score_postings(
    pruned: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """(id, bm25, n_terms) over an already-pruned postings frame — the
    `bm25_scores` formula (Lucene idf), df collected from the same pruned
    rows scoring reads anyway (a ≤|terms|-row job over the pruned parquet)
    and folded into constant idf literals — no df subtree, no broadcast
    join in the scoring plan (r13, the `bm25._scored_with_idf` discipline;
    values bit-identical to the join shape, pinned in tests)."""
    from photo_vector_search_spark.operators.bm25 import _scored_with_idf

    scored = _scored_with_idf(
        pruned.select(id_col, "_term", "_tf", "_dl"), n_docs, fold=True
    )
    num = F.col("_tf") * F.lit(k1 + 1.0)
    den = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum(F.col("_idf") * num / den), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def _topk(scores: DataFrame, k: int, id_col: str) -> DataFrame:
    top = scores.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        ),
    ).select(id_col, "bm25", "n_terms", "rank")


def _serve_topk(
    spark,
    postings: DataFrame,
    meta: dict,
    query: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"b must be in [0, 1], got {b}")
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    id_col = meta["id_col"]
    if meta["sum_dl"] == 0:  # every indexed doc is empty: nothing can match
        return spark.createDataFrame(
            [], f"`{id_col}` long, bm25 double, n_terms long, rank int"
        )
    avgdl = meta["sum_dl"] / meta["n_docs"]
    pruned = _pruned_postings(postings, terms, meta["n_buckets"])
    return _topk(
        _score_postings(pruned, meta["n_docs"], avgdl, k1, b, id_col),
        k,
        id_col,
    )


def bm25_store_scores(
    spark,
    path: str,
    query: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 scores over the persisted BASE snapshot — ≡
    `bm25_scores` over the indexed corpus (and therefore its DuckDB twin)
    value-for-value, pinned in tests; one row per doc matching ≥1 query
    term, (id, bm25, n_terms)."""
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"b must be in [0, 1], got {b}")
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    postings, _doclens, meta = load_bm25_store(spark, path)
    id_col = meta["id_col"]
    if meta["sum_dl"] == 0:
        return spark.createDataFrame(
            [], f"`{id_col}` long, bm25 double, n_terms long"
        )
    pruned = _pruned_postings(postings, terms, meta["n_buckets"])
    return _score_postings(
        pruned, meta["n_docs"], meta["sum_dl"] / meta["n_docs"], k1, b, id_col
    )


def bm25_store_topk(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k by BM25 over the persisted BASE snapshot — ≡ `bm25_topk` over
    the indexed corpus value-for-value (pinned in tests), but the serving
    scan reads ≤ q bucket partitions of fixed-width postings instead of
    tokenizing the corpus. Pending deltas are NOT consulted — that is
    `live_bm25_topk` (the `ivf_sq8_store_topk` convention)."""
    postings, _doclens, meta = load_bm25_store(spark, path)
    return _serve_topk(spark, postings, meta, query, k=k, k1=k1, b=b)


def bm25_store_batch_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    query_id_col: str = "query_id",
    query_col: str = "query",
    max_queries: int = 4096,
) -> DataFrame:
    """Batched store serving: Q queries share ONE pruned postings scan over
    the union of their terms' buckets — (query_id, id, bm25, rank), ≡ a
    Python loop of `bm25_store_topk` per query (idf/N/avgdl are corpus
    statistics, so shared scoring agrees exactly; pinned in tests). The
    `bm25_batch_topk` shape with the corpus explode replaced by the pruned
    store read."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"b must be in [0, 1], got {b}")
    postings, _doclens, meta = load_bm25_store(spark, path)
    id_col = meta["id_col"]

    qrows = queries.select(query_id_col, query_col).limit(
        max_queries + 1
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"bm25_store_batch_topk: >{max_queries} queries — split the "
            "query set or raise max_queries"
        )
    ids = [r[query_id_col] for r in qrows]
    if len(set(ids)) != len(ids):
        raise ValueError(
            "duplicate query_id values in queries — each id must be unique"
        )
    pairs = []
    for r in qrows:
        for t in query_terms(r[query_col] or ""):
            pairs.append((r[query_id_col], t))
    if not pairs:
        raise ValueError("no query has any terms after tokenization")
    all_terms = sorted({t for _, t in pairs})

    from pyspark.sql import types as T

    qid_field = queries.schema[query_id_col]
    if meta["sum_dl"] == 0:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, qid_field.dataType),
                    T.StructField(id_col, T.LongType()),
                    T.StructField("bm25", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    qterms = spark.createDataFrame(
        pairs,
        T.StructType(
            [
                T.StructField(query_id_col, qid_field.dataType),
                T.StructField("_term", T.StringType()),
            ]
        ),
    )
    avgdl = meta["sum_dl"] / meta["n_docs"]
    pruned = _pruned_postings(postings, all_terms, meta["n_buckets"])
    from photo_vector_search_spark.operators.bm25 import _scored_with_idf

    num = F.col("_tf") * F.lit(k1 + 1.0)
    den = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)
    )
    scored = _scored_with_idf(
        pruned.select(id_col, "_term", "_tf", "_dl"), meta["n_docs"],
        fold=True,
    ).select(id_col, "_term", (F.col("_idf") * num / den).alias("_s"))
    per_query = (
        scored.join(F.broadcast(qterms), "_term")
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "bm25", "rank")
    )


def rm3_store_topk(
    spark,
    path: str,
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """RM3 retrieval with BOTH postings passes served from the persisted
    store (r13): feedback top-``fb_docs`` and the final weighted rescore
    each read ≤ |terms| pruned term-bucket partitions of fixed-width
    postings instead of tokenizing the corpus — the `bm25_store_topk`
    discipline applied to the whole PRF loop. ``docs`` is touched only by
    the fb-doc term-distribution explode, filtered to ``fb_docs`` ids
    (parquet id pushdown, never corpus-sized). ≡ `bm25.rm3_topk` over the
    indexed corpus value-for-value (pinned in tests); the store is loaded
    ONCE for both stages."""
    from photo_vector_search_spark.operators.bm25 import rm3_topk

    postings, _doclens, meta = load_bm25_store(spark, path)
    return rm3_topk(
        docs, query, k=k, fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha,
        k1=k1, b=b, id_col=meta["id_col"], text_col=meta["text_col"],
        store=(postings, meta),
    )


def rm3_store_batch_topk(
    spark,
    path: str,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    query_id_col: str = "query_id",
    query_col: str = "query",
    max_queries: int = 4096,
) -> DataFrame:
    """Batched RM3 served from the persisted store (r13): stage-1 feedback
    and stage-2 weighted rescore both read pruned postings buckets over the
    union of the batch's terms — ZERO corpus tokenize passes (was two per
    call); only the fb-doc distribution explode touches ``docs``, filtered
    to ≤ Q·fb_docs ids. ≡ `bm25.rm3_batch_topk` (and therefore ≡ a loop of
    `rm3_topk`) value-for-value, pinned in tests; store loaded ONCE."""
    from photo_vector_search_spark.operators.bm25 import rm3_batch_topk

    postings, _doclens, meta = load_bm25_store(spark, path)
    return rm3_batch_topk(
        docs, queries, k=k, fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha,
        k1=k1, b=b, id_col=meta["id_col"], text_col=meta["text_col"],
        query_id_col=query_id_col, query_col=query_col,
        max_queries=max_queries, store=(postings, meta),
    )


# ---------------------------------------------------------------------------
# incremental maintenance — the index_maintenance delta/tombstone lifecycle
# ---------------------------------------------------------------------------


def _bm25_overlay(postings, doclens, dldelta, delta, ts, id_col):
    """(live postings, live doclens). The dldelta id set is the doc-level
    membership authority: postings delta rows whose id is not in it are
    crash orphans and are ignored (module docstring)."""
    fresh = None
    if delta is not None and dldelta is not None:
        fresh = delta.join(F.broadcast(dldelta.select(id_col)), id_col, "left_semi")
    return (
        _overlay(postings, fresh, dldelta, ts, id_col),
        _overlay(doclens, dldelta, dldelta, ts, id_col),
    )


def upsert_bm25_store(spark, path: str, new_docs: DataFrame) -> int:
    """Tokenize ``new_docs`` under the store's recorded (id, text) columns
    and merge them into the delta segments (same-id delta rows replaced,
    tombstones revived). O(new + delta) — the base postings are never
    rewritten. Returns the number of upserted docs.

    Write order is postings-delta → doclens-delta → tombstone revive: the
    dldelta id set is the doc-level membership authority, so a crash after
    the first swap leaves orphan postings rows the live view IGNORES (the
    old doc version keeps serving) and replaying the upsert heals — no
    window ever serves a doc's old and new rows together. NULL-text docs
    are refused (unindexable — delete those ids instead); EMPTY-text docs
    are fine (a dl=0 doclen row, no postings — they count toward avgdl and
    match nothing, the on-the-fly semantics)."""
    _, _, meta = load_bm25_store(spark, path)
    id_col, text_col, build_id = meta["id_col"], meta["text_col"], meta["build_id"]
    ids, n_new = _id_batch(spark, new_docs.select(id_col), id_col, unique=True)
    if n_new == 0:
        return 0

    toks = _tokenized(new_docs, id_col, text_col)
    new_dl = toks.select(
        id_col, F.size("_toks").alias("dl")
    ).withColumn("build_id", F.lit(build_id))
    n_indexable = new_dl.count()
    if n_indexable != n_new:
        raise ValueError(
            f"{n_new - n_indexable} upsert doc(s) have NULL text — an "
            "unindexable doc cannot shadow its old version; delete those "
            "ids instead (delete_from_bm25_store)"
        )
    new_post = _postings_of(toks, id_col, meta["n_buckets"]).withColumn(
        "build_id", F.lit(build_id)
    )
    _merge_side_table(
        spark, path, ".delta", build_id, ids, id_col, rows=new_post,
        partition_by=["term_bucket"],
    )
    _merge_side_table(spark, path, ".dldelta", build_id, ids, id_col, rows=new_dl)
    _merge_side_table(spark, path, ".tombstones", build_id, ids, id_col)
    return n_new


def delete_from_bm25_store(spark, path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (a list or a one-column DataFrame) and drop
    them from both delta segments. Returns the number of ids tombstoned."""
    _, _, meta = load_bm25_store(spark, path)
    id_col, build_id = meta["id_col"], meta["build_id"]
    ids, n = _id_batch(spark, doc_ids, id_col)
    if n == 0:
        return 0
    _tombstone(spark, path, build_id, ids, id_col)
    for side, part in ((".delta", ["term_bucket"]), (".dldelta", None)):
        _merge_side_table(spark, path, side, build_id, ids, id_col, partition_by=part)
    return n


def load_live_bm25(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """(live postings, live doclens, meta with LIVE n_docs/sum_dl): delta ∪
    (base anti dldelta-ids) − tombstones, every side table build-checked.
    The bucket/term filters push through the union, so the base scan keeps
    its partition pruning; live stats are ONE agg over the narrow doclens
    view."""
    postings, doclens, meta = load_bm25_store(spark, path)
    sides = _side_tables(spark, path, meta["build_id"], *_SIDES)
    live_post, live_dl = _bm25_overlay(postings, doclens, *sides, meta["id_col"])
    n_docs, sum_dl = _dl_stats(live_dl)
    return live_post, live_dl, {**meta, "n_docs": n_docs, "sum_dl": sum_dl}


def live_bm25_topk(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """`bm25_store_topk` over the LIVE view (base + deltas − tombstones)
    with exact live (N, avgdl) — ≡ `bm25_topk` over the composed corpus,
    pinned in tests."""
    live_post, _live_dl, live_meta = load_live_bm25(spark, path)
    if live_meta["n_docs"] == 0:
        id_col = live_meta["id_col"]
        return spark.createDataFrame(
            [], f"`{id_col}` long, bm25 double, n_terms long, rank int"
        )
    return _serve_topk(spark, live_post, live_meta, query, k=k, k1=k1, b=b)


def compact_bm25_store(spark, path: str) -> int:
    """Fold the deltas and tombstones into the base postings/doclens,
    restamp the meta sidecar's ``store_sig`` and base (n_docs, sum_dl)
    (``build_id`` is stable), and clear the side tables. Reads the RAW
    tables, so it converges when re-run from any crash point;
    `load_bm25_store` refuses to SERVE any intermediate state. Returns the
    live doc count."""
    meta = _read_meta(spark, path, "BM25", _TABLES).asDict()
    sides = _side_tables(spark, path, meta["build_id"], *_SIDES)
    live_post, live_dl = _bm25_overlay(
        spark.read.parquet(path), spark.read.parquet(path + ".doclens"),
        *sides, meta["id_col"],
    )
    live_post = live_post.localCheckpoint(eager=True)
    live_dl = live_dl.localCheckpoint(eager=True)
    n_docs, sum_dl = _dl_stats(live_dl)
    if sum_dl == 0:
        # n_docs == 0 (all tombstoned) or only zero-token docs remain:
        # either way the compacted postings table has ZERO rows, and a
        # partitioned empty write emits no parquet files — a dir no loader
        # can read. Refuse and point at the real operation.
        raise ValueError(
            "compaction would leave a store with no postings "
            f"({n_docs} live docs, all empty) — drop it instead "
            "(operators.store.drop_store) or upsert real content first"
        )

    snapshot_overwrite(
        live_post.repartition("term_bucket").sortWithinPartitions(
            "term_bucket", "_term"
        ),
        path,
        partition_by=["term_bucket"],
    )
    snapshot_overwrite(live_dl, path + ".doclens")
    _restamp_meta(
        spark, path, _META_SCHEMA, {**meta, "n_docs": n_docs, "sum_dl": sum_dl}
    )
    _clear_side_tables(path, _SIDES)
    return n_docs
