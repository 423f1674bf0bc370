"""The benchmark's workloads: one seeded, single-process, closed-loop client
each, calling the package's public functions directly.

A workload has three parts, all driven from ``run.py``:

- ``setup``: input synthesis and store builds, timed into ``setup_s``.
  The synthesis runs ``SETUP_REPS`` times and its median counts; the
  rest runs once. No warm-up call runs: both workloads measure on a fresh
  session, as a batch job or a newly started server runs.
- ``unit``: one complete unit of client work (a corpus pass, a serving and
  maintenance round). The loop runs units until ``--seconds`` have passed;
  a unit, once started, always completes, so every run measures the same
  mix of calls.
- checks: ``unit`` queues one closure per output check in
  ``Client.to_check``; they run untimed after the loop, a few at a time,
  then ``check`` runs whatever needs all of them. A result that differs
  from its reference twin counts as a failed operation.

Every call into the package runs inside a ``Tracer`` span named
``<layer>[.<module>].<function>``, and every measured call is one latency
sample, whatever number of docs, queries or rows it carries.
"""

from __future__ import annotations

import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

SETUP_REPS = 3
CORPUS_COPIES = 1
CORPUS_FILES = 4
# survivors of curate_corpus(compute_stats=False) over the CORPUS_COPIES = 1
# corpus (the sf0.1 documents), in any row order: the over-removal check's
# reference
CURATED_DOCS = 2143
KNN_QUERIES = 64
NEAR_DUP_TAU = 0.45
NEAR_DUP_SAMPLE = 64
BATCH = 8
TOP_K = 10
KNN_K = 5
HYBRID_POOL = 3 * TOP_K
IVF_NPROBE = 4
IVF_RECALL_FLOOR = 0.2
FRESH_ID0 = 1_000_000
COMPACT_EVERY = 2  # commits of one store between its compactions: once per unit
STUB_QID = 100  # query ids of the stub-embedded hybrid queries in the knn twin


class Client:
    """State one workload run shares between setup, units and checks."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.items = 0  # docs, queries or rows completed by measured units
        # (kind, wall) of every measured call; kind is batch.call,
        # serve.call, maintain.commit, maintain.read or maintain.compact
        self.latency: list[tuple[str, float]] = []
        # items per kind (batch.docs, serve.queries, maintain.rows):
        # [count, wall of the calls that carried them]
        self.kind_items: dict[str, list] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.to_check: list = []  # deferred output checks (closures)
        self.state: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def measured(self, kind: str, wall: float) -> None:
        """One latency sample: a measured call of ``kind``."""
        self.latency.append((kind, wall))

    def carried(self, items: str, n: int, wall: float) -> None:
        """``n`` items of kind ``items`` completed by calls of wall ``wall``."""
        acc = self.kind_items.setdefault(items, [0, 0.0])
        acc[0] += n
        acc[1] += wall
        self.items += n

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


def _rows(rows, cols: list[str]) -> list[tuple]:
    """Rows as sorted tuples over ``cols``, floats rounded 6dp."""
    out = [tuple(round(r[c], 6) if isinstance(r[c], float) else r[c] for c in cols) for r in rows]
    return sorted(out, key=repr)


def dir_bytes(*paths: str) -> tuple[int, int]:
    """(bytes, data files) under ``paths`` (missing paths count zero)."""
    total = files = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                total += os.path.getsize(os.path.join(root, n))
                files += not n.startswith((".", "_"))
    return total, files


def plain_parquet_bytes(table: pa.Table, path: str) -> int:
    """Bytes of ``table`` written as one plain parquet file."""
    pq.write_table(table, path)
    size = os.path.getsize(path)
    os.remove(path)
    return size


# ------------------------------------------------------------------ corpus_batch


class CorpusBatch:
    """One pass over a generated multi-file corpus: embed → curate →
    embedding near-dup → similarity join, each output written as parquet.
    Most of its work moves data — scans, shuffle, executor CPU and the
    Python/Arrow boundary — while store metadata does none: the batch path.

    ``curate_corpus`` runs with ``compute_stats=False``, the setting its
    docstring prescribes at scale: the default re-executes every upstream
    stage once per stage count, which doubles the pass and does not fit the
    run budget."""

    name = "corpus_batch"

    def setup(self, c: Client) -> list[float]:
        walls = []
        copy_seed = int(c.rng.integers(2**31))
        for rep in range(SETUP_REPS):
            with c.tracer.span("perfbench.synthesize", "setup") as s:
                docs, emb = gen.corpus_copies(np.random.default_rng(copy_seed), CORPUS_COPIES)
                d = c.path(f"in{rep}")
                gen.write_parquet(docs, os.path.join(d, "documents"), CORPUS_FILES)
                gen.write_parquet(emb, os.path.join(d, "embeddings"), CORPUS_FILES)
            walls.append(s["wall_s"])
        for rep in range(1, SETUP_REPS):
            shutil.rmtree(c.path(f"in{rep}"))
        qv = gen.query_vectors(c.rng, emb, KNN_QUERIES)
        c.state.update(docs=docs, emb=emb, dir=c.path("in0"),
                       queries=[(i, v) for i, (_vid, v) in enumerate(qv)],
                       sample_seed=int(c.rng.integers(2**31)))
        return walls

    def unit(self, c: Client, i: int) -> None:
        from photo_vector_search_spark.operators.dedup import embedding_near_dup_fast
        from photo_vector_search_spark.operators.knn import knn_batch_fast
        from photo_vector_search_spark.pipelines.curation import curate_corpus
        from photo_vector_search_spark.pipelines.embed import embed_documents

        spark, src, out = c.spark, c.state["dir"], c.path(f"out{i}")
        docs = spark.read.parquet(os.path.join(src, "documents"))
        emb = spark.read.parquet(os.path.join(src, "embeddings"))
        queries = spark.createDataFrame(c.state["queries"], "query_id long, query_vec array<float>")
        calls = [
            ("pipelines.embed_documents", lambda: embed_documents(docs), "embedded"),
            ("pipelines.curate_corpus", lambda: curate_corpus(docs, compute_stats=False)[0], "curated"),
            ("operators.dedup.embedding_near_dup_fast",
             lambda: embedding_near_dup_fast(emb, tau=NEAR_DUP_TAU), "near_dup"),
            ("operators.knn.knn_batch_fast", lambda: knn_batch_fast(emb, queries, k=KNN_K), "knn"),
        ]
        with c.tracer.span("perfbench.corpus_pass", "measure") as p:
            for name, fn, part in calls:
                with c.tracer.span(name) as s:
                    fn().write.parquet(os.path.join(out, part))
                c.measured("batch.call", s["wall_s"])
        c.carried("batch.docs", c.state["docs"].num_rows, p["wall_s"])
        c.attempted += 4
        c.to_check.append(lambda: self._check_pass(c, out, queries))

    def _check_pass(self, c: Client, out: str, queries) -> None:
        import duckdb

        from photo_vector_search_spark.operators.knn import knn_batch

        cols = ["query_id", "vec_id", "label", "dist", "rank"]
        emb = c.spark.read.parquet(os.path.join(c.state["dir"], "embeddings"))
        got = _rows(c.spark.read.parquet(os.path.join(out, "knn")).collect(), cols)
        c.expect(got == _rows(knn_batch(emb, queries, k=KNN_K).collect(), cols),
                 "knn_batch_fast similarity join != knn_batch")

        # exact dedup: DuckDB groups the generated docs by normalized text
        # (the doc_fingerprint key); its distinct count bounds the survivors,
        # every survivor is its group's lowest id (the canonical curation
        # keeps), and the survivor count is the recorded one, so removing
        # too much fails as well as keeping a duplicate
        cur = os.path.join(out, "curated", "*.parquet")
        src = os.path.join(c.state["dir"], "documents", "*.parquet")
        n, n_canonical, n_distinct = duckdb.sql(
            "WITH g AS (SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm, "
            f"min(doc_id) AS canon FROM read_parquet('{src}') GROUP BY norm) "
            f"SELECT count(*), count(g.canon), (SELECT count(*) FROM g) "
            f"FROM read_parquet('{cur}') c LEFT JOIN g ON c.doc_id = g.canon"
        ).fetchone()
        c.expect(n == n_canonical == CURATED_DOCS and n <= n_distinct,
                 f"curated corpus: {n} rows, {n_canonical} group canonicals, "
                 f"{n_distinct} distinct texts, {CURATED_DOCS} expected")

        # near-dup: a seeded sample of reported pairs has true cosine >= tau
        pairs = pq.read_table(os.path.join(out, "near_dup")).to_pandas()
        c.expect(len(pairs) > 0, "no near-dup pairs reported")
        emb_t = c.state["emb"]
        ids = emb_t.column("vec_id").to_numpy()
        mat = gen.vectors_of(emb_t)
        pos = {int(v): j for j, v in enumerate(ids)}
        rng = np.random.default_rng(c.state["sample_seed"])
        take = rng.choice(len(pairs), min(NEAR_DUP_SAMPLE, len(pairs)), replace=False)
        for a, b in zip(pairs["vec_a"].to_numpy()[take], pairs["vec_b"].to_numpy()[take]):
            u, v = mat[pos[int(a)]], mat[pos[int(b)]]
            sim = float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
            c.expect(sim >= NEAR_DUP_TAU - 1e-6, f"near-dup pair ({a},{b}) has sim {sim:.6f}")

    def check(self, c: Client) -> None:
        """Every check of a pass is queued by ``unit``."""

    def space(self, c: Client) -> tuple[float, int]:
        """(bytes the passes wrote ÷ the same rows as one plain parquet file
        per output, data files written)."""
        on_disk = plain = files = 0
        for out in sorted(d for d in os.listdir(c.work) if d.startswith("out")):
            for part in ("embedded", "curated", "near_dup", "knn"):
                p = c.path(out, part)
                b, f = dir_bytes(p)
                on_disk, files = on_disk + b, files + f
                plain += plain_parquet_bytes(pq.read_table(p), c.path("plain.parquet"))
        return on_disk / plain, files


# ----------------------------------------------------------------- serve_maintain


class ServeMaintain:
    """Stores built in setup from the base tables. One unit is a serving
    round — seeded 8-query batches through the store-served BM25, RM3,
    hybrid and knn batch rungs, each result collected — then a maintenance
    round: four seeded commits against the maintained BM25 store and the
    IVF,SQ8 store, each followed by a read-after-write, then both stores
    compacted (``COMPACT_EVERY``). Inputs are pruned and KB-sized, so most
    of its time is driver floor, jobs per call, planning and store-metadata
    loads, on the same store modules for reads and writes: the serving
    path, the counterpart of ``corpus_batch``."""

    name = "serve_maintain"

    def setup(self, c: Client) -> list[float]:
        from photo_vector_search_spark.operators.bm25_store import build_bm25_store
        from photo_vector_search_spark.operators.sq import build_ivf_sq8_store

        spark = c.spark
        walls = []
        for rep in range(SETUP_REPS):
            with c.tracer.span("perfbench.synthesize", "setup") as s:
                docs, emb = gen.base_documents(), gen.base_embeddings()
                d = c.path(f"in{rep}")
                gen.write_parquet(docs, os.path.join(d, "documents"))
                gen.write_parquet(emb, os.path.join(d, "embeddings"))
            walls.append(s["wall_s"])
        for rep in range(1, SETUP_REPS):
            shutil.rmtree(c.path(f"in{rep}"))
        docs_df = spark.read.parquet(c.path("in0", "documents"))
        emb_df = spark.read.parquet(c.path("in0", "embeddings"))
        mat = gen.vectors_of(emb).astype(np.float32)
        c.state.update(docs=docs, emb=emb, docs_df=docs_df, emb_df=emb_df, recall=[])
        c.state["vocab"] = gen.vocabulary(docs)  # the query batches draw from it
        c.state.update(
            batches=[self._batch(c, emb) for _ in range(2)],
            live_docs=dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())),
            live_vecs={i: (mat[j], lab) for j, (i, lab) in enumerate(
                zip(emb.column("vec_id").to_pylist(), emb.column("label").to_pylist()))},
            plan=gen.commit_plan(c.rng, 400), next_id=FRESH_ID0, commit_j=0,
        )

        def lexical():
            c.tracer.call("operators.bm25_store.build_bm25_store", build_bm25_store, docs_df, c.path("bm25"))
            for side in ("", ".doclens", ".meta"):  # the maintained copy
                shutil.copytree(c.path("bm25" + side), c.path("bm25m" + side))

        def vector():
            c.tracer.call("operators.sq.build_ivf_sq8_store", build_ivf_sq8_store, emb_df, c.path("ivf"))

        # store builds take ~10 s each, too slow to repeat within a run; they
        # are driver-bound job chains, so the two overlap
        with ThreadPoolExecutor(2) as pool:
            for done in [pool.submit(lexical), pool.submit(vector)]:
                done.result()
        return walls

    @staticmethod
    def _batch(c: Client, emb: pa.Table) -> tuple[list, list]:
        texts = gen.query_texts(c.rng, c.state["vocab"], BATCH)
        vecs = gen.query_vectors(c.rng, emb, BATCH)
        return list(enumerate(texts)), [(i, v) for i, (_vid, v) in enumerate(vecs)]

    @staticmethod
    def _frames(spark, batch: tuple[list, list]):
        texts, vecs = batch
        return (spark.createDataFrame(texts, "query_id long, query string"),
                spark.createDataFrame(vecs, "query_id long, query_vec array<float>"))

    def unit(self, c: Client, i: int) -> None:
        self._serve(c, i % len(c.state["batches"]))
        for _ in range(4):
            self._commit(c, c.state["commit_j"])
            c.state["commit_j"] += 1

    def _serve(self, c: Client, b: int) -> None:
        from photo_vector_search_spark.operators.bm25_store import (
            bm25_store_batch_topk,
            rm3_store_batch_topk,
        )
        from photo_vector_search_spark.operators.fusion import hybrid_batch_search
        from photo_vector_search_spark.operators.knn import knn_batch_fast

        spark, store = c.spark, c.path("bm25")
        q, qv = self._frames(spark, c.state["batches"][b])
        docs, emb = c.state["docs_df"], c.state["emb_df"]
        calls = [
            ("bm25", "operators.bm25_store.bm25_store_batch_topk",
             lambda: bm25_store_batch_topk(spark, store, q, k=TOP_K)),
            ("rm3", "operators.bm25_store.rm3_store_batch_topk",
             lambda: rm3_store_batch_topk(spark, store, docs, q, k=TOP_K)),
            ("hybrid", "operators.fusion.hybrid_batch_search",
             lambda: hybrid_batch_search(docs, emb, q, k=TOP_K, bm25_store_path=store)),
            ("knn", "operators.knn.knn_batch_fast", lambda: knn_batch_fast(emb, qv, k=KNN_K)),
        ]
        served = {}
        for kind, name, fn in calls:
            with c.tracer.span(name, "measure") as s:
                served[kind] = fn().collect()
                s["rows"] = len(served[kind])
            c.measured("serve.call", s["wall_s"])
            c.carried("serve.queries", BATCH, s["wall_s"])
            c.attempted += 1
        c.to_check.append(lambda: self._check_rm3(c, b, served["rm3"]))
        c.to_check.append(lambda: self._check_pools(c, b, served))

    def _commit(self, c: Client, j: int) -> None:
        from photo_vector_search_spark.operators import bm25_store as bs
        from photo_vector_search_spark.operators import index_maintenance as im

        spark = c.spark
        step = c.state["plan"][j]
        rng = np.random.default_rng(step["draw"])
        store, op = step["kind"].split("_")
        size = step["size"]
        if store == "bm25":
            live, path = c.state["live_docs"], c.path("bm25m")
            if op == "upsert":
                # every upserted doc carries the commit's marker term, which
                # the read-after-write query asks for
                ids = self._upsert_ids(c, rng, live, size)
                texts = [f"m{j} " + t for t in gen.query_texts(rng, c.state["vocab"], len(ids), words=6)]
                new = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
                with c.tracer.span("operators.bm25_store.upsert_bm25_store", "measure") as s:
                    bs.upsert_bm25_store(spark, path, new)
                live.update(zip(ids, texts))
                query = f"m{j} {gen.query_texts(rng, c.state['vocab'], 1)[0]}"
            else:
                ids = [int(x) for x in rng.choice(sorted(live), size, replace=False)]
                with c.tracer.span("operators.bm25_store.delete_from_bm25_store", "measure") as s:
                    bs.delete_from_bm25_store(spark, path, ids)
                for x in ids:
                    del live[x]
                query = gen.query_texts(rng, c.state["vocab"], 1)[0]
            with c.tracer.span("operators.bm25_store.live_bm25_topk", "measure") as r:
                rows = bs.live_bm25_topk(spark, path, query, k=TOP_K).collect()
                r["rows"] = len(rows)
            snapshot = dict(live)
            c.to_check.append(lambda: self._check_bm25(c, snapshot, query, rows, op))
        else:
            live, path = c.state["live_vecs"], c.path("ivf")
            if op == "upsert":
                ids = self._upsert_ids(c, rng, live, size)
                mat = rng.standard_normal((len(ids), gen.DIM))
                mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)
                labels = [int(x) for x in rng.integers(0, 10, len(ids))]
                new = spark.createDataFrame(
                    [(i, [float(x) for x in v], lab) for i, v, lab in zip(ids, mat, labels)],
                    "vec_id long, embedding array<float>, label int")
                with c.tracer.span("operators.index_maintenance.upsert_ivf_sq8_store", "measure") as s:
                    im.upsert_ivf_sq8_store(spark, path, new)
                live.update((i, (v, lab)) for i, v, lab in zip(ids, mat, labels))
                qvec, must_hit = mat[0], ids[0]
            else:
                ids = [int(x) for x in rng.choice(sorted(live), size, replace=False)]
                qvec, must_hit = live[ids[0]][0], None
                with c.tracer.span("operators.index_maintenance.delete_from_ivf_sq8_store", "measure") as s:
                    im.delete_from_ivf_sq8_store(spark, path, ids)
                for x in ids:
                    del live[x]
            with c.tracer.span("operators.index_maintenance.live_ivf_sq8_topk", "measure") as r:
                rows = im.live_ivf_sq8_topk(spark, path, [float(x) for x in qvec], k=KNN_K,
                                            nprobe=IVF_NPROBE).collect()
                r["rows"] = len(rows)
            snapshot = dict(live)
            c.to_check.append(lambda: self._check_ivf(c, snapshot, qvec, rows, op, must_hit))
        c.attempted += 2
        c.measured("maintain.commit", s["wall_s"])
        c.carried("maintain.rows", size, s["wall_s"])
        c.measured("maintain.read", r["wall_s"])
        if (j // 2 + 1) % COMPACT_EVERY == 0:  # commits alternate the two stores
            compact = (bs.compact_bm25_store if store == "bm25" else im.compact_ivf_sq8_store)
            mod = "bm25_store" if store == "bm25" else "index_maintenance"
            with c.tracer.span(f"operators.{mod}.{compact.__name__}", "measure") as k:
                compact(spark, path)
            c.measured("maintain.compact", k["wall_s"])
            c.attempted += 1

    @staticmethod
    def _upsert_ids(c: Client, rng, live: dict, size: int) -> list[int]:
        """Fresh ids, except a seeded tenth that overwrite live rows."""
        n_old = size // 10
        old = [int(x) for x in rng.choice(sorted(live), n_old, replace=False)]
        fresh = list(range(c.state["next_id"], c.state["next_id"] + size - n_old))
        c.state["next_id"] += size - n_old
        return old + fresh

    def _check_bm25(self, c: Client, snapshot: dict, query: str, rows, op: str) -> None:
        from photo_vector_search_spark.operators.bm25 import bm25_topk

        docs = c.spark.createDataFrame(list(snapshot.items()), "doc_id long, text string")
        cols = ["doc_id", "bm25", "rank"]
        c.expect(_rows(rows, cols) == _rows(bm25_topk(docs, query, k=TOP_K).collect(), cols),
                 f"live_bm25_topk after {op} != bm25_topk over the composed corpus")

    def _check_ivf(self, c: Client, snapshot: dict, qvec, rows, op: str, must_hit) -> None:
        keys = np.fromiter(snapshot, dtype=np.int64)
        mat = np.vstack([v for v, _ in snapshot.values()]).astype(np.float64)
        q = np.asarray(qvec, dtype=np.float64)
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        exact = set(keys[np.argsort(-sims, kind="stable")[:KNN_K]].tolist())
        got = [r["vec_id"] for r in rows]
        c.state["recall"].append(len(exact & set(got)) / KNN_K)
        c.expect(set(got) <= set(snapshot), f"live_ivf_sq8_topk after {op} serves a dead id")
        if must_hit is not None:
            c.expect(got[:1] == [must_hit], f"live_ivf_sq8_topk misses the row just upserted ({got})")

    def _check_rm3(self, c: Client, b: int, rows) -> None:
        from photo_vector_search_spark.operators.bm25 import rm3_batch_topk

        q = c.spark.createDataFrame(c.state["batches"][b][0], "query_id long, query string")
        cols = ["query_id", "doc_id", "score", "n_terms", "rank"]
        c.expect(_rows(rows, cols) == _rows(rm3_batch_topk(c.state["docs_df"], q, k=TOP_K).collect(), cols),
                 f"rm3_store_batch_topk batch {b} != rm3_batch_topk")

    def _check_pools(self, c: Client, b: int, served: dict) -> None:
        """bm25, knn and hybrid results against one exact lexical pass and
        one exact vector pass at the hybrid pool depth, whose top ranks are
        also the bm25 and knn twins."""
        from photo_vector_search_spark.operators.bm25 import bm25_batch_topk
        from photo_vector_search_spark.operators.knn import knn_batch
        from photo_vector_search_spark.pipelines.embed import stub_embed_one

        spark = c.spark
        texts, vecs = c.state["batches"][b]
        q = spark.createDataFrame(texts, "query_id long, query string")
        lex = bm25_batch_topk(c.state["docs_df"], q, k=HYBRID_POOL).collect()
        stub = [(STUB_QID + qid, [float(x) for x in stub_embed_one(t)]) for qid, t in texts]
        qv = spark.createDataFrame(vecs + stub, "query_id long, query_vec array<float>")
        vec = knn_batch(c.state["emb_df"], qv, k=HYBRID_POOL).collect()
        cols = {
            "bm25": ["query_id", "doc_id", "bm25", "rank"],
            "knn": ["query_id", "vec_id", "label", "dist", "rank"],
            "hybrid": ["query_id", "doc_id", "rrf_score", "rank"],
        }
        want = {
            "bm25": _rows([r for r in lex if r["rank"] <= TOP_K], cols["bm25"]),
            "knn": _rows([r for r in vec if r["query_id"] < STUB_QID and r["rank"] <= KNN_K], cols["knn"]),
            "hybrid": _rrf(lex, [r for r in vec if r["query_id"] >= STUB_QID]),
        }
        for kind, rows in want.items():
            c.expect(_rows(served[kind], cols[kind]) == rows, f"{kind} batch {b} != exact twin")

    def check(self, c: Client) -> None:
        """The IVF,SQ8 recall floor, once every read has been checked."""
        rec = c.state["recall"]
        c.expect(statistics.fmean(rec) >= IVF_RECALL_FLOOR,
                 f"IVF,SQ8 mean recall@{KNN_K} {statistics.fmean(rec):.3f} < {IVF_RECALL_FLOOR}")

    def space(self, c: Client) -> tuple[float, int]:
        """(bytes on disk of the three stores ÷ the same live rows as plain
        parquet, data files of the two maintained stores)."""
        maintained = [c.path(p) for p in os.listdir(c.work) if p.startswith(("bm25m", "ivf"))]
        served = [c.path(p) for p in os.listdir(c.work) if p.startswith("bm25") and not p.startswith("bm25m")]
        on_disk, files = dir_bytes(*maintained)
        on_disk += dir_bytes(*served)[0]
        live_docs, live_vecs = c.state["live_docs"], c.state["live_vecs"]
        plain = sum(plain_parquet_bytes(t, c.path("plain.parquet")) for t in (
            c.state["docs"].select(["doc_id", "text"]),
            pa.table({"doc_id": pa.array(list(live_docs), pa.int64()), "text": pa.array(list(live_docs.values()))}),
            pa.table({
                "vec_id": pa.array(list(live_vecs), pa.int64()),
                "embedding": gen.vector_array(np.vstack([v for v, _ in live_vecs.values()])),
                "label": pa.array([lab for _, lab in live_vecs.values()], pa.int32()),
            }),
        ))
        return on_disk / plain, files


def _rrf(lex: list[dict], vec: list[dict]) -> list[tuple]:
    """Reciprocal-rank fusion of the exact lexical and vector pools by the
    ``fusion.rrf_fuse`` rule (weights 1, k = 60): per query, the sum of
    1 / (60 + rank), rounded half-up to 6 dp, ranked by score desc then doc
    id asc, top ``TOP_K``."""
    from decimal import ROUND_HALF_UP, Decimal

    score: dict[tuple[int, int], float] = {}
    for q, d, rank in [(r["query_id"], r["doc_id"], r["rank"]) for r in lex] + \
                      [(r["query_id"] - STUB_QID, r["vec_id"], r["rank"]) for r in vec]:
        score[(q, d)] = score.get((q, d), 0.0) + 1.0 / (60.0 + rank)
    by_q: dict[int, list] = {}
    for (q, d), s in score.items():
        by_q.setdefault(q, []).append((float(Decimal(repr(s)).quantize(Decimal("1e-6"), ROUND_HALF_UP)), d))
    out = []
    for q, lst in by_q.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        out += [(q, d, s, r + 1) for r, (s, d) in enumerate(lst[:TOP_K])]
    return sorted(out, key=repr)


WORKLOADS = {w.name: w for w in (CorpusBatch(), ServeMaintain())}
