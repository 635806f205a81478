"""Composed corpus-curation pipeline: quality filter → exact dedup
(keep-first) → near-duplicate drop.

This is the end-to-end shape a training-data pipeline actually runs over
a crawl corpus, composed from the engine's primitives so every stage
keeps its at-scale properties:

1. **quality gate** — pure column expressions
   (:func:`webextract.functions.text.with_text_features`), pushed into
   the scan's whole-stage-codegen span; no shuffle.
2. **exact dedup, keep-first** — one hash aggregation on the content
   fingerprint (deterministic survivor = min id, the resume-safe rule of
   :func:`webextract.functions.dedup.exact_duplicates`).
3. **near-dup drop** — the composed MinHash→LSH→exact-Jaccard verify of
   :func:`webextract.functions.dedup.near_duplicate_docs` (shingle work
   proportional to candidates, not corpus); for every verified pair
   ``(a < b, jaccard >= t)`` the higher id is dropped — the greedy
   keep-lowest rule (pairwise; see
   :func:`webextract.functions.dedup.duplicate_groups` for the
   cluster-transitive alternative, which this pipeline uses when
   ``transitive=True``).

The whole plan is built-in expressions + the documented LSH band join —
zero Python, one candidate-bounded shuffle chain — and has an exact
DuckDB oracle (``__spark_entry__.oracle_sql()['curated_docs']``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import duplicate_groups, near_duplicate_docs
from .text import with_text_features


def curate_corpus(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", min_quality: float = 0.3,
                  threshold: float = 0.8,
                  candidates: DataFrame | None = None,
                  pairs: DataFrame | None = None,
                  transitive: bool = False) -> DataFrame:
    """corpus → surviving documents after quality + exact + near-dup.

    Returns (id, n_tokens, quality_score, fingerprint) for every
    surviving document. Deterministic: survivors depend only on content
    and ids, never on partitioning or execution order.

    ``candidates`` / ``pairs`` let the production shape (signatures,
    candidate pairs, verified pairs — stored once per corpus snapshot)
    feed this pipeline instead of re-deriving the MinHash stack from
    scratch: pass corpus-level
    :func:`~webextract.functions.dedup.lsh_candidate_pairs` /
    :func:`~webextract.functions.dedup.near_duplicate_docs` output and
    it is narrowed to rows whose BOTH endpoints survive the quality +
    exact-dedup gates. Band keys and pairwise Jaccard depend only on
    the two documents' own content, so corpus-level stages restricted
    to survivors equal the stages the survivor set would produce —
    results are identical. ``pairs`` wins when both are given (it skips
    verification entirely).

    The feature stage and the exact-dedup survivor set are each
    checkpointed (``localCheckpoint(eager=False)``): the near-dup stage
    consumes the survivors THREE times (shingle derivation, pair
    verification, final anti-join), and without the cut the whole
    feature+dedup subtree recomputes per consumer (measured ~3x wall on
    the fused plan). Checkpoint blocks are freed by the ContextCleaner
    once the returned frame is unreferenced, so nothing needs releasing.
    """
    # checkpoint the feature stage BEFORE the quality filter: a
    # deterministic filter is otherwise pushed below the feature
    # projections, substituting the full quality expression — including
    # the top-2-gram sort + aggregate fold, which the filter condition
    # then re-evaluates per reference — into the scan (measured 8× the
    # feature cost at sf0.1). At 10^12 docs features are a stored
    # per-snapshot stage table exactly like signatures/candidates; this
    # checkpoint is its local stand-in.
    feats = with_text_features(docs).select(
        id_col, text_col, "n_tokens", "quality_score", "fingerprint") \
        .localCheckpoint(eager=False)
    passing = feats.filter(F.col("quality_score") >= min_quality)
    # exact dedup keep-first: the min id per fingerprint survives.
    # Deliberately groupBy(min) + semi-join rather than a window-min:
    # the window shape forces a full-row (text-carrying) exchange +
    # sort, while here the aggregation exchanges only (fingerprint, id)
    # and the semi-join back is id-keyed (broadcast at bench scale) —
    # measured ~2 s faster per composed curate query at sf0.1, and at
    # corpus scale the narrow agg + id-keyed join still beats sorting
    # text rows.
    keep = passing.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    # lineage CUT (the dedup_increment lesson): the near-dup verify
    # chain below references this relation many times (shingle
    # semi-join, band sides, verify join, final anti-join); uncut, every
    # reference re-analyzes the whole feature tree, and the composed
    # curate_full plan measured 407 KB (exact) / 1.9 MB (approx) of
    # physical-plan text with driver analysis dominating wall time. The
    # checkpoint makes each reference a constant-size leaf. At cluster
    # scale the equivalent is the stored exact-survivor stage table
    # (curate_full's ``stage_path`` seam covers the durable shape).
    exact_survivors = passing.join(
        keep.select(id_col), id_col, "left_semi") \
        .select(id_col, text_col, "n_tokens", "quality_score",
                "fingerprint") \
        .localCheckpoint(eager=False)
    def _narrow(rel: DataFrame) -> DataFrame:
        ids = exact_survivors.select(F.col(id_col).alias("_sid"))
        return (
            rel.join(ids, rel["doc_a"] == ids["_sid"], "left_semi")
            .join(ids, rel["doc_b"] == ids["_sid"], "left_semi")
        )

    if pairs is not None:
        pairs = _narrow(pairs).filter(F.col("jaccard") >= threshold)
    else:
        if candidates is not None:
            candidates = _narrow(candidates)
        pairs = near_duplicate_docs(
            exact_survivors.select(F.col(id_col), F.col(text_col)),
            id_col=id_col, text_col=text_col, threshold=threshold,
            candidates=candidates)
    if transitive:
        # cluster-consistent drop: exactly one survivor (the min id) per
        # connected component of verified pairs — a chain a~b~c keeps
        # only a, even though (a,c) never verified directly
        groups = duplicate_groups(pairs)
        drops = (groups.filter(F.col("doc_id") != F.col("group_id"))
                 .select(F.col("doc_id").alias(id_col)))
    else:
        # greedy pairwise drop: higher id of every verified pair is
        # removed (single-pass; a doc can survive because its duplicate
        # was itself dropped)
        drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    survivors = exact_survivors.join(drops, id_col, "left_anti")
    return survivors.select(
        F.col(id_col), F.col("n_tokens"),
        F.col("quality_score"), F.col("fingerprint"))


def curate_full(docs: DataFrame, blocked: DataFrame, benchmark: DataFrame,
                id_col: str = "doc_id", url_col: str = "url",
                text_col: str = "text", strata_col: str = "source",
                min_quality: float = 0.3, threshold: float = 0.8,
                budget_tokens: int = 3000, budget_mode: str = "exact",
                transitive: bool = False,
                stage_path: str | None = None) -> DataFrame:
    """The complete production curation chain, one staged pipeline:

    1. **URL canonicalization + re-crawl collapse** — re-crawls and
       share-link variants of the same page collapse on
       :func:`~webextract.functions.hygiene.canonicalize_url` (survivor
       = min id). One hash aggregation on the canonical key.
    2. **domain blocklist** — broadcast anti-join
       (:func:`~webextract.functions.hygiene.filter_blocklist`); the
       corpus never shuffles.
    3. **PII masking** — map-only
       (:func:`~webextract.functions.hygiene.with_pii_masked`); the
       masked text is what every later stage (and training) sees.
    4. **benchmark decontamination** — docs sharing an 8-gram with the
       held-out set are dropped
       (:func:`~webextract.functions.hygiene.decontaminate`; benchmark
       side broadcast).
    5. **quality gate → exact dedup → near-dup drop** — the
       :func:`curate_corpus` composition (one LSH band-join shuffle
       chain, candidate-bounded verify).
    6. **token-budget mixture fill** — per ``strata_col``, keep
       best-quality docs first until ``budget_tokens``
       (:func:`~webextract.functions.hygiene.token_budget_sample`;
       ``budget_mode="approx"`` for the two-phase scale path — same
       rows either way).

    Stage order is the at-scale order: the three map-only / broadcast
    gates (1–4) shrink the corpus before anything shuffles on content,
    and the near-dup stage — the only quadratic-risk step — sees only
    quality-passing exact-unique survivors. Returns
    (id, stratum, n_tokens, cum_tokens), deterministic regardless of
    partitioning; the full chain is oracle-checked end to end
    (``__spark_entry__.oracle_sql()['curate_full']``).

    ``stage_path`` materializes the post-hygiene ``clean`` stage to a
    durable parquet table instead of a ``localCheckpoint``: checkpoint
    blocks live on executors, so distributed runs (where an executor
    loss must recompute, not fail the job) pass a path; local
    benchmarking keeps the default in-memory lineage cut. Same rows
    either way.
    """
    from .hygiene import (
        canonicalize_url, filter_blocklist, token_budget_sample,
        with_pii_masked,
    )

    # re-crawl collapse keep-first: groupBy(min) + id-keyed semi-join
    # (NOT a window-min — see the rationale at curate_corpus's exact
    # dedup: the window would sort and exchange full text rows)
    canon = docs.withColumn("_canon", canonicalize_url(F.col(url_col)))
    first = canon.groupBy("_canon").agg(F.min(id_col).alias(id_col))
    collapsed = canon.join(first.select(id_col), id_col, "left_semi") \
        .drop("_canon")
    allowed = filter_blocklist(collapsed, blocked, url_col=url_col)
    masked = with_pii_masked(allowed, text_col=text_col).select(
        F.col(id_col), F.col("masked_text").alias(text_col),
        F.col(strata_col))
    # decontamination as an any-overlap ANTI-join: this chain only needs
    # the contaminated ids to drop, so the full decontaminate() contract
    # (per-doc n_overlap count + left join back so clean docs get a
    # zero row) is wasted work here — any shared n-gram already decides
    # the drop. Same clean set, two fewer exchanges.
    from .hygiene import _gram_hashes
    from .text import norm_text

    bench_grams = (
        benchmark.select(F.explode(F.array_distinct(
            _gram_hashes(norm_text("text"), 8))).alias("gh"))
        .distinct())
    contaminated = (
        masked.select(F.col(id_col),
                      F.explode(F.array_distinct(
                          _gram_hashes(norm_text(text_col), 8)))
                      .alias("gh"))
        .join(bench_grams, "gh", "left_semi")
        .select(id_col).distinct())
    clean = masked.join(contaminated, id_col, "left_anti")
    # materialized once: consumed by curate_corpus (itself a
    # multi-consumer stage) AND the budget join below. localCheckpoint
    # (not persist): clean's analyzed tree carries the whole
    # canonicalize→blocklist→PII→decontaminate chain, and an
    # InMemoryRelation keeps that tree as its child — AQE re-analyzes
    # it once per downstream stage and the LSH self-joins reference it
    # ~50x (measured: 76 s / 16 MB plan strings at sf0.001 vs 35 s /
    # 1.5 MB with the lineage cut). localCheckpoint blocks live on
    # executors, so on a real cluster an executor loss fails the job
    # instead of recomputing — distributed runs pass ``stage_path`` and
    # the clean stage is written to (and re-read from) durable storage,
    # exactly as pipeline.py's sinks stage their tables.
    if stage_path is not None:
        clean.write.mode("overwrite").parquet(stage_path)
        clean = docs.sparkSession.read.parquet(stage_path)
    else:
        clean = clean.localCheckpoint(eager=False)
    survivors = curate_corpus(clean, id_col=id_col, text_col=text_col,
                              min_quality=min_quality, threshold=threshold,
                              transitive=transitive)
    # the budget stage needs only (id, stratum, priority, n_tokens):
    # survivors already carry quality_score AND n_tokens (computed by
    # the feature stage over the same masked text), so the join pulls
    # just the stratum column and the exchange never moves text
    enriched = survivors.select(id_col, "quality_score", "n_tokens").join(
        clean.select(F.col(id_col), F.col(strata_col)), id_col)
    return token_budget_sample(
        enriched, budget_tokens=budget_tokens, strata_col=strata_col,
        priority_col="quality_score", id_col=id_col, text_col=text_col,
        mode=budget_mode, n_tokens_col="n_tokens")
