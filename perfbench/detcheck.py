"""Check that job-group tagging adds no Spark job.

    python3 perfbench/detcheck.py

Run from the root of a checkout. In one session it makes the same calls
twice: once untagged, counting the jobs that ran with no job group, and
once inside a traced span, counting the jobs of its group (and checking no
untagged job appeared meanwhile). Job counts come from Spark's status
tracker, not the event log, so the untagged side runs without tracing.
Exit 1 when any count differs. (The other deterministic counts are checked
across two traced runs by ``steady.py --traced 2``.)
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    import run

    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, run.WORK_DIR, f"detcheck-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.environment(work, traced=False)

    import gen
    from tracing import Tracer

    from photo_vector_search_spark.operators.bm25_store import (
        bm25_store_batch_topk,
        build_bm25_store,
    )
    from photo_vector_search_spark.operators.knn import knn_batch_fast
    from photo_vector_search_spark.session import get_spark

    spark = get_spark(app_name="perfbench-detcheck")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()
    ok = True
    try:
        import numpy as np

        rng = np.random.default_rng(0)
        gen.write_parquet(gen.base_documents(), os.path.join(work, "documents"))
        gen.write_parquet(gen.base_embeddings(), os.path.join(work, "embeddings"))
        docs = spark.read.parquet(os.path.join(work, "documents"))
        emb = spark.read.parquet(os.path.join(work, "embeddings"))
        store = os.path.join(work, "bm25")
        build_bm25_store(docs, store)
        vocab = gen.vocabulary(gen.base_documents())
        q = spark.createDataFrame(list(enumerate(gen.query_texts(rng, vocab, 8))), "query_id long, query string")
        qv = spark.createDataFrame(
            [(i, v) for i, (_, v) in enumerate(gen.query_vectors(rng, gen.base_embeddings(), 8))],
            "query_id long, query_vec array<float>")
        calls = {
            "operators.bm25_store.bm25_store_batch_topk":
                lambda: bm25_store_batch_topk(spark, store, q, k=10).collect(),
            "operators.knn.knn_batch_fast": lambda: knn_batch_fast(emb, qv, k=5).collect(),
        }
        tracer = Tracer(spark.sparkContext, traced=True)
        for name, fn in calls.items():
            fn()  # warm-up: both counted calls below see the same warm state
            before = set(st.getJobIdsForGroup(None))
            fn()
            untagged = len(set(st.getJobIdsForGroup(None)) - before)
            before = set(st.getJobIdsForGroup(None))
            with tracer.span(name, "measure") as s:
                fn()
            tagged = len(st.getJobIdsForGroup(s["call_id"]))
            stray = len(set(st.getJobIdsForGroup(None)) - before)
            same = tagged == untagged and stray == 0
            ok &= same
            print(f"{name}: untagged {untagged} jobs, tagged {tagged} jobs, "
                  f"untagged during tagged call {stray} -> {'same' if same else 'DIFFERENT'}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
