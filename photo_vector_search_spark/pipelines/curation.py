"""End-to-end corpus curation: the composition of the engine's training-data
operators into the standard pretraining cleanup pipeline —

    redact PII → quality-gate (Gopher rules) → (opt-in) span decontamination
    → exact dedup → strip cross-doc boilerplate → near-dup dedup
    (MinHash-LSH) → deterministic shuffle → (opt-in) BPE/unigram tokenize
    → JSONL shard export

Exact dedup runs BEFORE boilerplate removal on purpose: a fully-duplicated
document is one whose every line is cross-doc duplicated, so line-level
removal first would delete ALL its copies, where dedup keeps a canonical —
dedup-then-deboil preserves exactly one copy and still strips shared chrome
between distinct documents.

Every stage is one of the individually-tested operators; this module only
composes them (no new semantics) and keeps per-stage survivor counts so a
100 TB run can report what each filter cost.

The pipeline is staged (``operators.staging.stage_frame``) at its two
fan-out points, so the expensive front executes once per call:

- ``gated`` — the frame after redaction, the Gopher gate and every opt-in
  filter tier, just before exact dedup. Exact dedup, the survivor join and
  the three subtrees of boilerplate removal all consume it; Spark does not
  share a common subtree across branches that project differently, so
  unstaged each of them would re-run scan → redact → gate.
- ``deboiled`` — the frame after boilerplate removal. MinHash-LSH and the
  near-dup anti join both consume it; staged, it is a bare parquet scan,
  so ``minhash_lsh_pairs`` re-derives its shingles instead of persisting
  them.

Beyond those two, the near-dup stage stages its pair result (see
``minhash_lsh_pairs``), the shuffle stages its hashed projection (see
``shuffle_corpus``) and the export writes; every other stage is
DataFrame-lazy.

Scale shape: redact+gate are map-only and pipeline into the scan; each
staging point is one linear parquet write; boilerplate is two keyed
shuffles; exact dedup one; LSH the documented banding pipeline; shuffle one
fixed-bucket window exchange; export one hash repartition. Nothing
quadratic, nothing driver-sized except the stats dict (a handful of longs)
and the shuffle's ≤4096 bucket offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.redact import redact_pii
from photo_vector_search_spark.functions.text import GOPHER_FLAG_COLUMNS, gopher_flags
from photo_vector_search_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    remove_boilerplate_lines,
)
from photo_vector_search_spark.operators.shuffle import shuffle_corpus
from photo_vector_search_spark.operators.staging import stage_frame


def curate_corpus(
    docs: DataFrame,
    min_docs_boilerplate: int = 2,
    lsh_tau: float = 0.5,
    shuffle_seed: int = 0,
    export_path: str | None = None,
    n_shards: int = 8,
    compute_stats: bool = True,
    near_dedup: str = "greedy",
    quality_gate: bool = True,
    compression_bounds: tuple[float, float] | None = None,
    substring_ngram: int | None = None,
    quality_model=None,
    pareto_alpha: float = 9.0,
    quality_seed: int = 0,
    langid_model=None,
    langid_keep: tuple[str, ...] | None = None,
    langid_min_conf: float = 0.0,
    bpe_model: tuple[list[tuple[str, str]], dict[str, int]] | None = None,
    unigram_model: tuple[dict[str, float], dict[str, int]] | None = None,
    pack_context_len: int | None = None,
    pack_eos_id: int | None = None,
    corrupt_rate: float | None = None,
    corrupt_mean_span: float = 3.0,
    corrupt_sentinel_start: int = 32_000,
    corrupt_seed: int = 0,
    fim_rate: float | None = None,
    fim_spm_fraction: float = 0.5,
    fim_seed: int = 0,
    ppl_lm: tuple[DataFrame, int] | None = None,
    ppl_by: str | None = None,
    kn_lm: tuple[DataFrame, dict] | None = None,
    kn_keep_frac: float | None = 0.67,
    kn_exact: bool = False,
    budget_tokens: int | None = None,
    prototype_keep_frac: float | None = None,
    prototype_clusters: int = 16,
    prototype_keep: str = "hard",
    prototype_embedder=None,
    dsir_target=None,
    dsir_keep: int | None = None,
    dsir_temperature: float = 1.0,
    dsir_seed: int = 0,
    dsir_buckets: int = 4096,
    decon_benchmark: DataFrame | None = None,
    decon_ngram: int = 13,
    decon_min_fragment: int = 20,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation pipeline over ``docs`` (doc_id, text, ...).

    Returns ``(curated, stats)``: the curated corpus with a ``pos`` shuffle
    column, and per-stage survivor counts. When ``export_path`` is given the
    curated corpus is also written as ``n_shards`` JSONL shards.

    Dedup canonicalization keeps the LOWEST doc_id of each duplicate group
    (exact groups via fingerprint). Near-dup removal has two policies via
    ``near_dedup``:

    - ``"greedy"`` (default, cheapest): drop every doc named as the larger
      member of an LSH pair. In a similarity CHAIN (pairs (1,2),(2,3) without
      (1,3)) doc 3's witness (doc 2) is itself removed — content can drop
      with no surviving near-duplicate above τ.
    - ``"cluster"``: form duplicate clusters with
      ``operators/graph.connected_components`` (min-label + pointer jumping)
      and keep each component's min-id member — witness-correct (every
      removed doc's cluster retains its canonical) at the cost of the
      CC rounds (O(log n), a handful of keyed joins at dedup cadence).

    ``quality_gate=False`` skips the Gopher-rule stage for corpora that
    arrive pre-filtered (or gate upstream with custom rules); every later
    stage is gate-agnostic. The scale bench uses this to exercise the
    downstream stages at full synthetic volume — the synthesized sf1 copies
    are substitution-ciphered and the English-statistics gate (correctly)
    rejects them, which would otherwise hide downstream scaling.

    ``quality_model`` (opt-in, r6) runs the LEARNED quality tier right
    after the rule gate: ``pipelines/quality.score_quality`` with the given
    fitted model, then the GPT-3 Pareto keep rule (``pareto_alpha``,
    ``quality_seed``) — filtering early cuts every downstream stage's
    volume. Train the model once with
    ``quality.train_quality_classifier(seed_corpus, raw_crawl)`` and reuse
    it across runs; the survivor set is deterministic (md5-uniform keep
    rule). The transient ``quality_score`` column is dropped after the
    stage.

    ``substring_ngram=N`` (opt-in, r6) appends exact repeated-span removal
    (``operators/substring.remove_repeated_ngrams`` at n-gram length N)
    AFTER near-dup dedup, before the shuffle — coarse-to-fine, the
    RefinedWeb ordering: doc-level near-dup must see the original shingles
    (removing shared spans first would shrink a near-dup pair's Jaccard
    below τ and hide it), and span removal then cleans the repeated
    passages that survive between docs that are NOT near-duplicates as
    wholes. LOSSINESS: a doc that loses a span gets the operator's
    whitespace/case-CANONICALIZED rebuild (single-space-joined lowercase
    tokens — the removal mask is computed on that canonical form, so the
    rebuilt surface is what the mask provably applies to); docs with no
    removed span keep their ORIGINAL text verbatim.
    ``stats["substring_rewritten"]`` reports how many docs were rewritten.
    Default off so measured pipeline walls/survivors of earlier rounds stay
    comparable.

    ``langid_model`` + ``langid_keep`` (opt-in, r7b) run learned language
    identification as the FIRST filter after redaction — CCNet's pipeline
    order (fastText lang-ID is its first stage), and the cheapest place to
    cut: every downstream stage sees only the target languages. The model
    is ``pipelines/langid.train_langid`` output (train once on labeled
    text, persist, reuse); docs whose predicted language is not in
    ``langid_keep`` — or whose confidence is below ``langid_min_conf`` —
    are dropped, and the transient ``lang_pred``/``lang_conf`` columns are
    removed. ``stats["after_langid"]`` records survivors.

    ``ppl_lm`` (opt-in, r7) runs the CCNet perplexity tier right after the
    learned-quality tier: ``(lm, vocab_size)`` from
    ``plans.text_queries.train_bigram_lm`` (train on a trusted corpus once,
    reuse across runs — scoring the corpus with a model trained on itself
    still ranks outliers last, but the CCNet setup is a clean-corpus LM)
    scores every doc, ``perplexity_buckets`` cuts each ``ppl_by`` group
    (``None`` = global cutoffs; pass ``"lang"`` when the corpus carries it)
    into head/middle/tail tertiles, and the tail third plus docs too short
    to score (< 2 tokens) are dropped — the paper's keep rule.
    ``stats["after_ppl_filter"]`` records survivors.

    ``compression_bounds=(lo, hi)`` (opt-in, r9) runs the zlib
    compression-ratio gate right after the rule gate — docs compressing
    below ``lo`` (template spam, token floods) or above ``hi``
    (incompressible noise) drop, the Dolma-style two-sided signal.
    ``stats["after_compression_gate"]`` records survivors.

    ``kn_lm`` (opt-in, r9) runs the Kneser-Ney perplexity tier right after
    the add-k tier (use either or both): ``(lm, consts)`` from
    ``operators.kneser_ney.train_kn_lm``, the most-fluent ``kn_keep_frac``
    of scoreable docs survive (sketch cutoff by default, ``kn_exact=True``
    for the exact percentile). Docs too short to score (< 2 tokens) drop,
    the CCNet rule. ``stats["after_kn_ppl"]`` records survivors.
    ``kn_keep_frac=None`` skips this FILTER while the LM still feeds the
    ``budget_tokens`` ranking (budget-only callers keep short docs).

    ``budget_tokens`` (opt-in, r10) is the TERMINAL volume cut before the
    shuffle: rank the surviving docs most-fluent-first under the KN LM
    (``kn_lm`` is required — a budget cut without a quality ranking is just
    id-order truncation) and keep the maximal prefix whose cumulative
    whitespace-token count fits the budget
    (``operators/selection.budget_select`` — the 'release the best N
    tokens' cut; FineWeb/DSIR §5). Docs too short to score (< 2 tokens,
    no KN row) order last and are taken only if every scored doc fits.
    Runs after ALL filters so the budget buys the best of what SURVIVED
    curation. ``stats["after_budget_select"]`` records survivors.

    ``prototype_keep_frac`` (opt-in, r9) runs prototype-difficulty pruning
    (Sorscher et al. 2022, ``operators.pruning``) after ALL dedup stages,
    just before the shuffle: embed the survivors (``prototype_embedder``
    or the deterministic stub), k-means prototypes, keep the
    ``prototype_keep='hard'`` (atypical) or ``'easy'`` fraction PER
    CLUSTER. This is the abundant-data "prune easy/redundant" rule at
    corpus scale; it runs last among filters because near-duplicate groups
    must be collapsed before they can vote their shared prototype easy.
    ``stats["after_prototype_prune"]`` records survivors.

    ``dsir_target`` + ``dsir_keep`` (opt-in, r7) run DSIR importance
    RESAMPLING right after the quality tiers: hashed-n-gram log-ratios are
    estimated against ``dsir_target`` (a boolean Column over the gated docs
    marking the high-quality seed slice), every doc is scored, and
    ``dsir_keep`` docs are Gumbel-sampled ∝ exp(score/``dsir_temperature``)
    (``operators/dsir`` — deterministic given ``dsir_seed``, no global sort).
    Selection-before-dedup, the paper's pool→select order; the transient
    ``dsir_score``/``n_feats`` columns are dropped after the stage.

    ``bpe_model`` (opt-in, r7) appends BPE TOKENIZATION as the terminal
    stage — the ``(merges, vocab)`` artifact ``operators/bpe.train_bpe_model``
    returns (train once, persist via ``bpe_merges_df``, reuse across runs) is
    applied with ``encode_bpe`` AFTER the shuffle, so the exported JSONL
    shards carry ``input_ids`` next to ``text`` — the tokenized-shards
    product a training run actually consumes. Map-only (Arrow-batched, no
    shuffle); it reads the shuffle stage's staged projection, not a pipeline
    re-execution. ``stats["bpe_total_tokens"]`` records the corpus token
    count when stats are on.

    ``pack_context_len`` (opt-in, r8) re-chunks the tokenized corpus into
    fixed training windows AFTER tokenization (``operators/packing.
    pack_token_windows`` in the shuffle's ``pos`` order, optional
    ``pack_eos_id`` separator) — the output becomes the WINDOW frame
    ``(seq_id, input_ids, n_tokens, n_docs)``, the shape a pretraining
    loader consumes; requires a tokenizer (``bpe_model`` or
    ``unigram_model`` — the r8 SentencePiece-style alternative,
    ``operators/unigram.train_unigram_model``'s ``(logprobs, vocab)``
    artifact applied with ``encode_unigram``; same one-corpus-job training
    discipline, ``stats["unigram_total_tokens"]`` mirrors the BPE stat).
    ``corrupt_rate`` (opt-in, r8)
    additionally runs T5 span corruption over the packed windows
    (``operators/corruption.corrupt_spans`` — deterministic per
    ``corrupt_seed``), yielding the denoising-dataset columns
    ``inputs``/``targets``/``n_noise_tokens`` (lossless:
    ``reconstruct_spans(inputs, targets) == input_ids``, pinned in tests);
    requires ``pack_context_len``. ``fim_rate`` (opt-in, r8; mutually
    exclusive with ``corrupt_rate``) instead applies the fill-in-the-middle
    layout (``operators/fim.fim_transform`` — the paper's joint-training
    Bernoulli gate; ``stats["fim_transformed"]`` counts transformed
    windows). When packing is on, JSONL export shards by ``seq_id``.
    ``stats["packed_windows"]`` records the window count.

    ``decon_benchmark`` (opt-in, r8) runs SPAN-LEVEL benchmark
    decontamination (``operators/decontamination.decontaminate_rewrite`` —
    the GPT-3 appendix-C policy: remove every contaminated
    ``decon_ngram``-token window, keep the clean fragments, drop fragment
    shrapnel under ``decon_min_fragment`` tokens) right BEFORE exact dedup:
    it rewrites text, so it must precede fingerprinting, and it benefits
    from every volume cut upstream. Docs whose every fragment is shrapnel
    are dropped; untouched docs keep their text verbatim (the substring
    stage's contract). ``stats["decon_rewritten"]`` counts rewritten
    survivors, ``stats["after_decontaminate"]`` the survivor set.

    ``compute_stats=True`` runs one count action per stage. Each filter
    tier's count re-executes the front from the scan, except the last
    tier's, which reads the staged ``gated`` copy; every later count reads a
    staged copy (``gated``, ``deboiled`` or the LSH stage's pairs) instead
    of re-running the front. At
    100 TB pass ``compute_stats=False`` (stats then holds only
    ``shards_written`` when exporting) or persist/checkpoint between the
    filter tiers yourself."""
    if near_dedup not in ("greedy", "cluster"):
        # validate BEFORE any stage executes — with compute_stats on, a typo'd
        # policy would otherwise burn four full-corpus count actions first
        raise ValueError(
            f"near_dedup must be 'greedy' or 'cluster', got {near_dedup!r}"
        )
    if (dsir_target is None) != (dsir_keep is None):
        # same entry-time discipline as the near_dedup check above
        raise ValueError(
            "curate_corpus: dsir_target and dsir_keep must be passed together"
        )
    if (langid_model is None) != (langid_keep is None):
        raise ValueError(
            "curate_corpus: langid_model and langid_keep must be passed together"
        )
    if budget_tokens is not None:
        if kn_lm is None:
            raise ValueError(
                "curate_corpus: budget_tokens requires kn_lm — the budget cut "
                "ranks docs by KN fluency; without a ranking it would just "
                "truncate by doc_id"
            )
        if budget_tokens < 0:
            raise ValueError(
                f"curate_corpus: budget_tokens must be >= 0, got {budget_tokens}"
            )
    if bpe_model is not None and unigram_model is not None:
        raise ValueError(
            "curate_corpus: bpe_model and unigram_model are mutually "
            "exclusive — pick one tokenizer"
        )
    if pack_context_len is not None and bpe_model is None and unigram_model is None:
        raise ValueError(
            "curate_corpus: pack_context_len requires bpe_model or "
            "unigram_model (packing consumes the tokenizer's input_ids)"
        )
    if corrupt_rate is not None and pack_context_len is None:
        raise ValueError(
            "curate_corpus: corrupt_rate requires pack_context_len "
            "(span corruption consumes packed windows)"
        )
    if fim_rate is not None and pack_context_len is None:
        raise ValueError(
            "curate_corpus: fim_rate requires pack_context_len "
            "(FIM consumes packed windows)"
        )
    if fim_rate is not None and corrupt_rate is not None:
        raise ValueError(
            "curate_corpus: fim_rate and corrupt_rate are mutually "
            "exclusive — pick one denoising objective"
        )
    stats: dict[str, int] = {}

    def _stat(key: str, df: DataFrame) -> None:
        if compute_stats:
            stats[key] = df.count()

    _stat("input", docs)

    clean = docs.withColumn("text", redact_pii(F.col("text")))

    if langid_model is not None:
        from photo_vector_search_spark.pipelines.langid import predict_lang

        keep_langs = tuple(langid_keep)
        if not keep_langs:
            raise ValueError("curate_corpus: langid_keep must be non-empty")
        cond = F.col("lang_pred").isin(*keep_langs)
        if langid_min_conf > 0.0:
            cond = cond & (F.col("lang_conf") >= langid_min_conf)
        clean = (
            predict_lang(clean, langid_model)
            .filter(cond)
            .drop("lang_pred", "lang_conf")
        )
        _stat("after_langid", clean)

    if quality_gate:
        gated = clean.select("*", *gopher_flags(F.col("text")))
        # drop exactly the flag columns gopher_flags emitted — a "g_" prefix
        # match would silently destroy user metadata columns like g_score
        gated = gated.filter(F.col("gopher_pass")).drop(*GOPHER_FLAG_COLUMNS)
    else:
        # corpora that arrive pre-filtered (or use a custom gate upstream)
        # skip the Gopher rules; every later stage is gate-agnostic
        gated = clean
    # each filter tier's survivors are counted when the next tier starts; the
    # last tier's count reads the staged copy of ``gated`` below
    gate_stat = "after_quality_gate"

    if compression_bounds is not None:
        from photo_vector_search_spark.pipelines.quality import (
            compression_gate,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_compression_gate"
        lo, hi = compression_bounds
        gated = compression_gate(gated, min_ratio=lo, max_ratio=hi)

    if quality_model is not None:
        from photo_vector_search_spark.pipelines.quality import (
            pareto_keep,
            score_quality,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_learned_quality"
        gated = pareto_keep(
            score_quality(gated, quality_model),
            alpha=pareto_alpha,
            seed=quality_seed,
        ).drop("quality_score")

    if ppl_lm is not None:
        from photo_vector_search_spark.plans.text_queries import (
            ccnet_keep,
            perplexity_buckets,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_ppl_filter"
        lm_df, vocab_size = ppl_lm
        gated = ccnet_keep(
            perplexity_buckets(gated, lm_df, vocab_size, by=ppl_by)
        )

    if kn_lm is not None and kn_keep_frac is not None:
        # kn_keep_frac=None skips the FILTER while kn_lm still feeds the
        # budget_tokens ranking below (budget-only callers)
        from photo_vector_search_spark.operators.kneser_ney import (
            kn_ppl_filter,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_kn_ppl"
        kn_df, kn_consts = kn_lm
        kept = kn_ppl_filter(
            gated, kn_df, kn_consts, keep_frac=kn_keep_frac, exact=kn_exact
        )
        gated = gated.join(kept.select("doc_id"), "doc_id", "left_semi")

    if dsir_keep is not None:
        from photo_vector_search_spark.operators.dsir import (
            dsir_featurize,
            dsir_log_ratios,
            dsir_scores,
            dsir_select,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_dsir"
        # featurize once: the staged gram frame feeds both the count table
        # and the scoring join (and, with stats on, the upstream stages are
        # not re-executed by the second DSIR pass either)
        feats = dsir_featurize(gated, dsir_target, n_buckets=dsir_buckets)
        ratios = dsir_log_ratios(None, n_buckets=dsir_buckets, feats=feats)
        gated = dsir_select(
            dsir_scores(gated, ratios, n_buckets=dsir_buckets, feats=feats),
            n_keep=dsir_keep,
            temperature=dsir_temperature,
            seed=dsir_seed,
        ).drop("dsir_score", "n_feats")

    if decon_benchmark is not None:
        from photo_vector_search_spark.operators.decontamination import (
            decontaminate_rewrite,
        )

        _stat(gate_stat, gated)
        gate_stat = "after_decontaminate"
        gated = decontaminate_rewrite(
            gated,
            decon_benchmark,
            n=decon_ngram,
            min_fragment_tokens=decon_min_fragment,
        )
        if compute_stats:
            stats["decon_rewritten"] = gated.filter(
                F.col("n_removed_tokens") > 0
            ).count()
        gated = gated.drop("n_removed_tokens")

    # fan-out point 1: exact dedup, the survivor join and boilerplate
    # removal's three subtrees each read ``gated``
    gated = stage_frame(gated, "pvs_curate_gated")
    _stat(gate_stat, gated)

    fp = exact_dedup(gated)
    exact_survivors = fp.filter(F.col("doc_id") == F.col("canonical_id")).select(
        "doc_id"
    )
    deduped = gated.join(exact_survivors, "doc_id")
    _stat("after_exact_dedup", deduped)

    rebuilt = remove_boilerplate_lines(
        deduped, min_docs=min_docs_boilerplate
    ).withColumnRenamed("clean", "text")
    keep_cols = [c for c in deduped.columns if c != "text"]
    # fan-out point 2: MinHash-LSH and the near-dup anti join (or the
    # cluster policy) each read ``deboiled``
    deboiled = stage_frame(
        deduped.select(*keep_cols).join(rebuilt, "doc_id"), "pvs_curate_deboiled"
    )
    _stat("after_boilerplate", deboiled)

    pairs = minhash_lsh_pairs(deboiled, tau=lsh_tau)
    if near_dedup == "cluster":
        from photo_vector_search_spark.operators.graph import dedup_clusters

        assigned = dedup_clusters(deboiled, pairs)
        near = assigned.filter(F.col("doc_id") == F.col("group_id")).drop("group_id")
    else:  # "greedy" — validated at entry
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        near = deboiled.join(losers, "doc_id", "left_anti")
    _stat("after_near_dedup", near)

    if substring_ngram is not None:
        from photo_vector_search_spark.operators.substring import (
            remove_repeated_ngrams,
        )

        cleaned = remove_repeated_ngrams(near, n=substring_ngram)
        # ONLY docs that actually lost a span get the operator's rebuilt text
        # (LOSSY for those docs: lowercased, whitespace-collapsed token join —
        # the canonical form the removal mask is computed on); every untouched
        # doc keeps its ORIGINAL text verbatim, casing and whitespace intact.
        # stats["substring_rewritten"] counts the rewritten docs so a run can
        # see exactly how much surface was canonicalized.
        near = cleaned.withColumn(
            "text",
            F.when(
                F.col("n_removed_tokens") > 0, F.col("text_deduped")
            ).otherwise(F.col("text")),
        ).drop("text_deduped")
        if compute_stats:
            stats["substring_rewritten"] = near.filter(
                F.col("n_removed_tokens") > 0
            ).count()
        near = near.drop("n_removed_tokens")
        _stat("after_substring", near)

    if prototype_keep_frac is not None:
        # coarse-to-fine, after ALL dedup: exact/near dedup first removes
        # literal copies, then the Sorscher metric prunes what remains by
        # semantic redundancy — pruning first would let near-duplicate
        # groups vote their shared prototype easy and survive dedup thinner
        from photo_vector_search_spark.operators.pruning import (
            prune_prototypes,
        )
        from photo_vector_search_spark.pipelines.embed import (
            embed_documents,
            stub_embedder,
        )

        emb = embed_documents(
            near.select("doc_id", "text"),
            prototype_embedder or stub_embedder(),
        ).select("doc_id", "embedding")
        survivors = prune_prototypes(
            emb,
            keep_frac=prototype_keep_frac,
            n_clusters=prototype_clusters,
            keep=prototype_keep,
            id_col="doc_id",
        )
        near = near.join(survivors.select("doc_id"), "doc_id", "left_semi")
        _stat("after_prototype_prune", near)

    if budget_tokens is not None:
        # terminal volume cut: most-fluent-first prefix that fits the token
        # budget — after every filter, so the budget buys curated survivors.
        # The survivor frame is STAGED first: budget_select drives two
        # driver actions (score cuts, bucket totals) plus the final
        # assembly, and without staging each one would re-execute the whole
        # upstream ladder (the LSH stage's multi-consumer rule).
        from photo_vector_search_spark.operators.kneser_ney import (
            doc_log_perplexity_kn,
        )
        from photo_vector_search_spark.operators.selection import budget_select

        kn_df, kn_consts = kn_lm
        near = stage_frame(near, "pvs_budget_survivors")
        scored = doc_log_perplexity_kn(
            near.select("doc_id", "text"), kn_df, kn_consts
        )
        near = budget_select(
            stage_frame(
                near.join(
                    scored.select("doc_id", F.col("nll").alias("_budget_nll")),
                    "doc_id",
                    "left",  # unscoreable docs keep a row: NULL orders last
                ),
                "pvs_budget_scored",
            ),
            budget_tokens,
            score_col="_budget_nll",
            ascending=True,  # LOW perplexity = most fluent first
        ).drop("_budget_nll")
        _stat("after_budget_select", near)

    curated = shuffle_corpus(near, seed=shuffle_seed)

    if unigram_model is not None:
        from photo_vector_search_spark.operators.unigram import encode_unigram

        u_logp, u_vocab = unigram_model
        curated = encode_unigram(curated, u_logp, u_vocab)
        if compute_stats:
            stats["unigram_total_tokens"] = int(
                curated.agg(
                    F.sum(
                        F.when(
                            F.col("input_ids").isNotNull(), F.size("input_ids")
                        )
                    )
                ).first()[0]
                or 0
            )

    if bpe_model is not None:
        from photo_vector_search_spark.operators.bpe import encode_bpe

        merges, vocab = bpe_model
        curated = encode_bpe(curated, merges, vocab)
        if compute_stats:
            # size() guarded for NULL ids: non-ANSI sessions evaluate
            # size(NULL) as -1, which would silently subtract one token per
            # NULL-text doc from the reported total
            stats["bpe_total_tokens"] = int(
                curated.agg(
                    F.sum(
                        F.when(
                            F.col("input_ids").isNotNull(), F.size("input_ids")
                        )
                    )
                ).first()[0]
                or 0
            )

    shard_key = "doc_id"
    if pack_context_len is not None:
        from photo_vector_search_spark.operators.packing import (
            pack_token_windows,
        )

        curated = pack_token_windows(
            curated,
            pack_context_len,
            ids_col="input_ids",
            order_col="pos",
            eos_id=pack_eos_id,
        )
        shard_key = "seq_id"
        _stat("packed_windows", curated)
        if corrupt_rate is not None:
            from photo_vector_search_spark.operators.corruption import (
                corrupt_spans,
            )

            curated = corrupt_spans(
                curated,
                rate=corrupt_rate,
                mean_span_len=corrupt_mean_span,
                sentinel_start=corrupt_sentinel_start,
                seed=corrupt_seed,
            )
        if fim_rate is not None:
            from photo_vector_search_spark.operators.fim import fim_transform

            curated = fim_transform(
                curated,
                rate=fim_rate,
                spm_fraction=fim_spm_fraction,
                sentinel_start=corrupt_sentinel_start,
                seed=fim_seed,
            )
            if compute_stats:
                stats["fim_transformed"] = curated.filter(
                    F.col("fim_applied")
                ).count()

    if export_path is not None:
        from photo_vector_search_spark.sources.jsonl import write_jsonl_shards

        stats["shards_written"] = write_jsonl_shards(
            curated, export_path, n_shards=n_shards, shard_key=shard_key
        )
    return curated, stats
