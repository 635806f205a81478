"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All built-in-function expressions (whole-stage codegen, no Python on the
hot path). Shuffle discipline at 100 TB:

- exact dedup: one hash-partitioned aggregation on the 128-bit content
  fingerprint (map-side partial agg makes near-duplicate-free corpora
  cheap);
- MinHash: signatures are computed per-row with **zero shuffle**
  (array expressions over the row's own shingles); only the LSH
  band-bucket self-join shuffles, on band keys whose cardinality ~
  corpus size — the classic shingle→minhash→band→bucket-join plan;
- n-gram Jaccard: the shingle self-join is quadratic per bucket, so it is
  meant to run on LSH *candidates* at scale (at test scale it runs
  directly and doubles as the LSH ground truth).

Integer hashes use the md5→conv trick (see package docstring) so every
operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import norm_text

N_MINHASH = 4
SHINGLE_W = 3


def hash60(col: Column) -> Column:
    """60-bit bigint from md5 — identical in Spark SQL and DuckDB."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10) \
        .cast("long")


def shingles(norm: Column, w: int = SHINGLE_W) -> Column:
    """Word w-gram shingles of normalized text (empty array if < w words).

    Pure array expressions: sequence + slice + array_join run inside
    codegen; no explode, no shuffle.
    """
    toks = F.split(norm, " ")
    n = F.size(toks)
    return F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_minhash(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 n_hashes: int = N_MINHASH) -> DataFrame:
    """documents → (id, mh0..mh{n-1}) MinHash signatures, zero shuffle.

    Hash k is the (k % 4)-th 8-hex-char (32-bit) slice of digest group
    ``g = k // 4``, where group 0 is ``md5(shingle)`` and group g > 0 is
    ``md5('g:' || shingle)`` — one md5 per shingle per 4 hashes, so the
    default width costs a single digest on the dominant path and wider
    signatures (recall/precision tuning via r×b at production scale) pay
    one extra digest per 4 additional hashes. 32-bit minhashes are ample
    for banding (per-shingle collision p = 2^-32).
    """
    assert n_hashes >= 1
    n_groups = (n_hashes + 3) // 4
    norm = norm_text(text_col)
    sh = shingles(norm)

    def _slice(d: Column, j: int) -> Column:
        return F.conv(F.substring(d, 1 + 8 * j, 8), 16, 10).cast("long")

    def _digests(s: Column) -> Column:
        # NB: 1-arg callable — F.transform feeds (element, index) to
        # 2-arg callables, so loop-binding defaults would capture indices
        return F.struct(*[
            F.md5(F.encode(
                s if g == 0 else F.concat(F.lit(f"{g}:"), s), "UTF-8"))
            .alias(f"d{g}")
            for g in range(n_groups)
        ])

    # ONE fold over the digest array computes ALL minhashes: each shingle
    # is digested exactly once per group (the digest struct is the fold's
    # lambda variable, so Catalyst cannot duplicate the md5 per column)
    sentinel = F.lit(1 << 62).cast("long")
    init = F.struct(*[sentinel.alias(f"mh{k}") for k in range(n_hashes)])
    agg = F.aggregate(
        F.transform(sh, _digests),
        init,
        lambda acc, d: F.struct(*[
            F.least(acc[f"mh{k}"], _slice(d[f"d{k // 4}"], k % 4))
            .alias(f"mh{k}")
            for k in range(n_hashes)
        ]),
    )
    has_shingles = F.size(F.split(norm, " ")) >= SHINGLE_W
    out = docs.select(
        F.col(id_col), F.when(has_shingles, agg).alias("_mh"))
    return out.select(
        id_col,
        *[F.col(f"_mh.mh{k}").alias(f"mh{k}") for k in range(n_hashes)])


def band_table(signatures: DataFrame, id_col: str = "doc_id",
               n_hashes: int = N_MINHASH,
               band_size: int = 2) -> DataFrame:
    """(id, band_key) — one row per signature band; NULL-signature rows
    (shingle-less docs) are excluded so the empty-text bucket never
    skews a band join. Shared by :func:`lsh_candidate_pairs` (self-join)
    and :func:`dedup_increment` (new-vs-corpus join)."""
    assert n_hashes % band_size == 0
    # ONE pass over the signatures: all band keys are emitted as an
    # array and exploded, instead of a UNION of per-band selects — the
    # union shape re-evaluated the whole signature subtree once per
    # band when the input was not materialized (e.g. dedup_increment's
    # corpus side, where signatures derive from text in-flight)
    keys = []
    for b in range(n_hashes // band_size):
        cols = [F.col(f"mh{b * band_size + j}").cast("string")
                for j in range(band_size)]
        keys.append(F.md5(F.concat_ws("|", F.lit(str(b)), *cols)))
    return (
        signatures.filter(F.col("mh0").isNotNull())
        .select(F.col(id_col), F.explode(F.array(*keys)).alias("band_key"))
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        n_hashes: int = N_MINHASH,
                        band_size: int = 2,
                        persist_bands: bool = True) -> DataFrame:
    """Band the signatures and self-join per band → candidate pairs (a<b).

    Each band key is a hash of ``band_size`` consecutive minhashes; docs
    sharing any band collide. The join key has ~corpus-size cardinality,
    so the shuffle is balanced; a skewed bucket (e.g. the empty-text
    signature) is bounded by dropping NULL-signature rows.

    ``persist_bands``: the default checkpoints the band table
    (``localCheckpoint(eager=False)``) so the self-join does not
    recompute the whole shingle→md5→minhash subtree per join side
    (measured ~1.4x on a fused plan; Spark does not exchange-reuse
    across the rename). The checkpoint is written by the first action
    that reads it and freed by the ContextCleaner once the returned
    frame is unreferenced, so it needs no release. When ``signatures``
    is already materialized (a column in the corpus table, a
    checkpointed DataFrame — the at-scale shape), pass
    ``persist_bands=False``: recomputing the banding over materialized
    signatures is just an md5.
    """
    assert n_hashes % band_size == 0
    all_bands = band_table(signatures, id_col=id_col, n_hashes=n_hashes,
                           band_size=band_size)
    if persist_bands:
        all_bands = all_bands.localCheckpoint(eager=False)
    left = all_bands.select(F.col(id_col).alias("doc_a"), "band_key")
    right = all_bands.select(F.col(id_col).alias("doc_b"), "band_key")
    return (
        left.join(right, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup by content fingerprint: one hash aggregation.

    Returns (fingerprint, n_docs, keep_id) — `keep_id` is the
    deterministic survivor (min id), the resume-safe "keep first" rule.
    """
    fp = F.md5(F.encode(norm_text(text_col), "UTF-8"))
    return (
        docs.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def simhash16(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash over whitespace tokens (with multiplicity).

    Classic two-phase plan: explode tokens → per-token hash60 → per-doc,
    per-bit signed vote sums (one hash aggregation, map-side combined) →
    bit reassembly. 16 bits keeps the oracle SQL tractable; the width is
    a constant, not a design limit.
    """
    norm = norm_text(text_col)
    toks = (
        docs.select(F.col(id_col), F.explode(F.split(norm, " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", hash60(F.concat(F.lit("s:"), F.col("tok"))))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(16)
    ]
    per_doc = toks.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(16):
        sim = sim + F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(0)
    return per_doc.select(F.col(id_col), sim.alias("simhash16"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.8) -> DataFrame:
    """Pairs (a<b) with Jaccard similarity >= threshold over distinct
    word 3-gram shingles. Exact; at scale feed it LSH candidates.

    Per-doc shingle dedup is ``array_distinct`` inside codegen — (id, sh)
    duplicates only occur within one document, so no global ``distinct``
    exchange is needed, and sizes are a row-local ``size()``. The compact
    per-doc set relation is checkpointed once
    (``localCheckpoint(eager=False)``): it feeds both self-join sides and
    the sizes projection, and with no exchange below the join there is
    otherwise nothing for ReuseExchange to share — each side would
    re-shingle the corpus.

    Shingles are hashed to 60-bit ints (:func:`hash60`) BEFORE the
    self-join: the exchange then moves 8-byte keys instead of ~15-byte×w
    n-gram strings — a several-fold shuffle-byte cut at 100 TB — and
    since the md5-derived hash is deterministic the DuckDB oracle stays
    exact. Collisions (p ≈ n²/2^61 per doc pair) cannot produce a false
    pair on their own; they could only nudge a count."""
    sets = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(norm_text(text_col)), hash60)).alias("shs")) \
        .localCheckpoint(eager=False)
    # set sizes ride THROUGH the shingle self-join as one extra 4-byte
    # int per row instead of two id-keyed joins after the aggregation:
    # the per-group size is constant, so max() recovers it exactly and
    # the two post-agg exchanges disappear
    doc_shingles = sets.select(
        "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh"))
    a = doc_shingles.select(F.col("id").alias("doc_a"),
                            F.col("n_sh").alias("n_a"), "sh")
    b = doc_shingles.select(F.col("id").alias("doc_b"),
                            F.col("n_sh").alias("n_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"))
    )
    return (
        common
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicate_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Transitive duplicate grouping: connected components over verified
    near-dup pairs → (doc_id, group_id), group_id = MIN doc id in the
    component (the canonical representative, same keep-lowest convention
    as exact dedup).

    Iterative min-label propagation with pointer jumping — every join is
    keyed on doc id, no driver-side graph state, so it scales like any
    id-keyed shuffle chain. Each round does (a) neighbor-min: a node
    adopts the smallest label among itself and its neighbors, and (b)
    pointer jump: ``label ← label(label)``, which makes convergence
    O(log diameter) instead of O(diameter). Labels only decrease, so the
    sum of labels is a strictly decreasing convergence witness: one
    1-row aggregate per round (the standard driver-side loop of
    iterative Spark algorithms — the per-round data stays distributed).

    Duplicate clusters in web corpora are near-cliques (diameter ≤ 3 in
    practice), so this converges in 2–3 rounds; ``max_iter`` is a
    safety bound, and non-convergence raises instead of returning a
    partially-merged grouping.

    Each round's labels are materialized with ``localCheckpoint`` —
    the pointer-jump self-join references the previous round TWICE, so
    an un-truncated lineage doubles per round (exponential plan growth
    OOMs the driver long before the data does). On a real cluster with
    executor loss, point ``spark.sparkContext.setCheckpointDir`` at
    durable storage and swap in ``checkpoint`` — same plan shape.
    """
    fwd = pairs.select(F.col("doc_a").alias("src"),
                       F.col("doc_b").alias("dst"))
    # localCheckpoint (not persist): a cached relation still carries its
    # full logical plan — here the whole verify pipeline — into EVERY
    # round's analysis, making driver-side planning the dominant
    # per-round cost; truncating the lineage keeps round plans constant-
    # size. The loop state needs no release path: checkpointed RDDs are
    # dropped by the ContextCleaner as soon as the previous round's frame
    # is unreferenced.
    edges = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).distinct()
        .localCheckpoint()
    )
    # decimal(38,0) witness: a long sum wraps silently at 2^63, so with
    # 64-bit doc ids at corpus scale a round's decrease could wrap past
    # the modulus and falsely compare equal — decimal cannot.
    # The witness is collected via observe() DURING the eager
    # checkpoint's own job instead of a separate per-round agg action —
    # one fewer Spark job per round (the loop's cost is job count, not
    # data).
    from pyspark.sql import Observation

    _wsum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")

    def _checkpoint_with_sum(df):
        obs = Observation()
        cp = df.observe(obs, _wsum).localCheckpoint()
        return cp, obs.get["s"]

    labels, prev_sum = _checkpoint_with_sum(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")))
    if prev_sum is None:  # no pairs at all
        return labels.select(F.col("id").alias("doc_id"),
                             F.col("label").alias("group_id"))
    for _ in range(max_iter):
        # one agg over self ∪ neighbor messages replaces the
        # nbr-agg + left-join-least shape: fewer exchanges per round,
        # and exchange count IS the round cost (the relations are far
        # smaller than the corpus; stage latency dominates)
        msgs = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "label")
            .unionByName(labels)
        )
        stepped = msgs.groupBy("id").agg(F.min("label").alias("label"))
        # pointer jump: labels are always existing node ids, so the
        # inner self-join is total
        ptr = stepped.select(F.col("id").alias("pid"),
                             F.col("label").alias("plabel"))
        labels, new_sum = _checkpoint_with_sum(
            stepped.join(ptr, stepped["label"] == ptr["pid"])
            .select("id", F.col("plabel").alias("label"))
        )
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"duplicate_groups did not converge in {max_iter} rounds")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("group_id"))


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_occurrences: int = 1) -> DataFrame:
    """CCNet-style paragraph-level exact dedup across the corpus
    (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data"): drop every normalized paragraph that
    occurs more than ``max_occurrences`` times corpus-wide — the cheap,
    high-yield boilerplate killer (nav bars, cookie banners, footers
    repeat across a site's every page while article bodies don't).

    Returns (id, kept_text, n_paras, n_dropped): ``kept_text`` is the
    surviving paragraphs rejoined with ``\\n`` in original order (empty
    string when everything was boilerplate); docs with no non-empty
    paragraphs are absent. Matching CCNet's procedure, hashing and
    counting happen on the *normalized* paragraph but the ORIGINAL
    paragraph bytes survive into ``kept_text`` — intra-paragraph
    formatting is never rewritten by dedup (whitespace-only paragraphs,
    which normalize to empty, are the one exception: they are treated
    as non-content and dropped).

    Plan at 10^12 docs: paragraphs explode to rows once, keyed by a
    60-bit content hash (:func:`hash60` — the exchange moves longs, not
    paragraph strings). Three keyed exchanges, all well-behaved: (1) the
    occurrence count is a hash aggregation with map-side combine, so a
    footer repeated 10^9 times arrives at its reducer as per-partition
    partial counts, not 10^9 rows; (2) the count join back is on the
    same hash key (hot keys carry distinct (doc, pos) rows — AQE skew
    handling splits them); (3) the reassembly groups by doc id, whose
    cardinality and fan-in (paragraphs per doc) are bounded. Nothing
    driver-side, no all-pairs anywhere.
    """
    norm_para = norm_text(F.col("para"))
    # pnorm exists only long enough to be hashed: the rows that flow
    # through the count join carry (id, pos, para, h) — one string per
    # row, same volume as hashing the normalized form
    paras = (
        docs.select(F.col(id_col).alias("id"),
                    F.posexplode(F.split(F.col(text_col), "\n"))
                    .alias("pos", "para"))
        .filter(F.length(norm_para) > 0)
        .withColumn("h", hash60(norm_para))
    )
    counts = paras.groupBy("h").agg(F.count("*").alias("n_occ"))
    flagged = paras.join(counts, "h").withColumn(
        "keep", F.col("n_occ") <= max_occurrences)
    kept_struct = F.when(F.col("keep"),
                         F.struct(F.col("pos"), F.col("para")))
    return (
        flagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["para"]),
                "\n").alias("kept_text"),
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
        )
    )


def candidate_shingle_sets(docs: DataFrame, cands: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """(id, shs: array<bigint>) — the DISTINCT hashed-shingle set per doc
    that appears in a candidate-pair set, one compact array row per doc.
    Shingles are :func:`hash60`-hashed at materialization so the verify
    join exchanges 8-byte ints, not n-gram strings (and the checkpointed
    relation is several-fold smaller).

    Two scale properties: the semi-join before shingling keeps the
    expensive materialization proportional to |candidates| (~linear for
    web text), not |corpus| — and the per-doc dedup is ``array_distinct``
    INSIDE codegen, not a global ``distinct()``: (id, sh) duplicates can
    only occur within a single document, so deduping row-locally removes
    the multi-million-row exchange (and the downstream per-doc size()
    needs no aggregation either). The candidate-id side is left to AQE:
    it broadcasts when the dup rate is low and shuffles when candidates
    are corpus-sized — no forced hint, since at 10^12 docs the id set is
    NOT broadcastable.
    """
    cand_ids = (
        cands.select(F.col("doc_a").alias("id"))
        .unionByName(cands.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(cand_ids, "id", "left_semi")
        .select("id", F.array_distinct(
            F.transform(shingles(norm_text(text_col)), hash60)).alias("shs"))
    )


def dedup_increment(new_docs: DataFrame, corpus: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    threshold: float = 0.8,
                    n_hashes: int = N_MINHASH, band_size: int = 2,
                    corpus_fingerprints: DataFrame | None = None,
                    corpus_signatures: DataFrame | None = None) -> DataFrame:
    """Dedup a NEW crawl snapshot against a committed corpus without
    re-deduping the corpus — the incremental-growth shape of a
    continuously-crawled 100 TB training set (the committed side is
    already unique; only new-vs-corpus and new-vs-new work may run).

    Returns ``(id, fingerprint)`` for every new doc that survives:

    1. **exact stage** — in-batch keep-first on the content fingerprint
       (min id per fingerprint), then a hash anti-join against the
       corpus fingerprints. The corpus side exchanges only its
       fingerprint column.
    2. **near-dup stage** — the exact-stage survivors are MinHash-banded
       and joined against the union of corpus bands and their own bands;
       the corpus NEVER self-joins (its pairs are already resolved), so
       candidate work is proportional to the new batch, not the corpus.
       Candidates verify with exact Jaccard
       (:func:`near_duplicate_docs` with the precomputed pair set); the
       greedy pairwise rule then drops, for every verified pair, the
       higher new id of a new-new pair and the new side of a
       corpus-new pair — REGARDLESS of whether the pair's lower side
       itself survives (single-pass, matching
       :func:`~webextract.functions.curate.curate_corpus` and the SQL
       oracle).

    Ids must be unique across the two inputs (they share one id space —
    the url-hash/doc_id contract of the pipeline). At production scale
    the corpus side's ``fingerprint`` and ``mh*`` columns are STORED
    stage tables (the ``dedup-stages`` CLI materializes them once per
    snapshot) — pass them via ``corpus_fingerprints(id, fingerprint)`` /
    ``corpus_signatures(id, mh0..)`` and the corpus text is only read
    for the candidate-bounded verification; left unset, both derive
    from ``corpus`` in one map-only pass (the local/test shape).
    """
    def _fps(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(F.encode(norm_text(text_col), "UTF-8"))
            .alias("fingerprint"))

    new_fp = _fps(new_docs)
    corpus_fp = (corpus_fingerprints if corpus_fingerprints is not None
                 else _fps(corpus))
    # in-batch keep-first as a window-min: one exchange on the
    # fingerprint instead of groupBy(min) + semi-join (two exchanges
    # plus a join; the keep side is batch-sized, not broadcastable at
    # production snapshot sizes)
    from pyspark.sql import Window

    batch_first = (
        new_fp.withColumn(
            "_min_id",
            F.min(id_col).over(Window.partitionBy("fingerprint")))
        .filter(F.col(id_col) == F.col("_min_id")).drop("_min_id"))
    # lineage cut, not persist (the curate_full lesson):
    # the banding/verify/drop chain below references these relations
    # dozens of times, and an InMemoryRelation keeps the whole analyzed
    # producer tree as its child — AQE re-analyzes it per reference and
    # the final plan exploded to ~48k scan nodes (measured: 42 s cold /
    # 17 s with every block cached, pure driver analysis; 14 s / 3 s
    # with the cut). At cluster scale the equivalent is the stored
    # exact-survivor stage table.
    exact_surv = batch_first.join(
        corpus_fp.select("fingerprint"), "fingerprint", "left_anti") \
        .localCheckpoint(eager=False)

    # near-dup candidates: new bands vs (corpus ∪ new) bands — consumed
    # by the verify join AND the drop classification below
    new_surv = (
        new_docs.select(F.col(id_col), F.col(text_col))
        .join(exact_surv.select(id_col), id_col, "left_semi")
        .localCheckpoint(eager=False))
    new_sigs = with_minhash(new_surv, id_col, text_col, n_hashes)
    corpus_sigs = (corpus_signatures if corpus_signatures is not None
                   else with_minhash(corpus.select(id_col, text_col),
                                     id_col, text_col, n_hashes))
    nb = band_table(new_sigs, id_col, n_hashes, band_size) \
        .localCheckpoint(eager=False)
    cb = band_table(corpus_sigs, id_col, n_hashes, band_size)
    other = (cb.select(F.col(id_col).alias("_o"), "band_key")
             .unionByName(nb.select(F.col(id_col).alias("_o"),
                                    "band_key")))
    cands = (
        nb.select(F.col(id_col).alias("_n"), "band_key")
        .join(other, "band_key")
        .filter(F.col("_n") != F.col("_o"))
        .select(F.least("_n", "_o").alias("doc_a"),
                F.greatest("_n", "_o").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False))  # 3 consumers inside the verify

    universe = corpus.select(F.col(id_col), F.col(text_col)) \
        .unionByName(new_surv)
    # no checkpoint: since the drop rule became two marker left-joins,
    # the pair stream flows through it ONCE — a cut here would only add
    # a materialization barrier (its lineage is already constant-size
    # thanks to the cands/sets cuts inside the verify)
    pairs = near_duplicate_docs(
        universe, id_col=id_col, text_col=text_col, threshold=threshold,
        candidates=cands)
    # greedy drop rule over verified pairs (doc_a < doc_b): the higher
    # new id of a new-new pair, and the new side of a corpus-new pair.
    # Two left joins with membership markers replace the previous
    # semi + anti + semi + union shape (three joins and a union):
    # b-is-new → drop doc_b; else a-is-new → drop doc_a.
    b_ids = new_surv.select(F.col(id_col).alias("_bid"))
    a_ids = new_surv.select(F.col(id_col).alias("_aid"))
    drops = (
        pairs.join(b_ids, pairs["doc_b"] == F.col("_bid"), "left")
        .join(a_ids, pairs["doc_a"] == F.col("_aid"), "left")
        .select(F.when(F.col("_bid").isNotNull(), F.col("doc_b"))
                .when(F.col("_aid").isNotNull(), F.col("doc_a"))
                .alias(id_col))
        .filter(F.col(id_col).isNotNull())
        .distinct())
    return exact_surv.join(drops, id_col, "left_anti") \
        .select(F.col(id_col), F.col("fingerprint"))


def near_duplicate_docs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """The composed at-scale near-dup pipeline: MinHash → LSH banding →
    exact Jaccard verification on the candidate pairs only.

    This is how the quadratic :func:`ngram_jaccard_pairs` survives 10^12
    docs: the shingle self-join runs against the LSH candidate set (~linear
    in corpus size for web text) instead of all pairs. Pairs the banding
    misses are excluded by design (approximate recall, exact precision:
    every emitted jaccard is the true value).

    ``candidates`` (columns ``doc_a``, ``doc_b``) skips the internal
    MinHash+LSH stage — pass the output of :func:`lsh_candidate_pairs`
    when the pipeline already materialized it (signatures and candidate
    pairs are stored stages in a production dedup run, computed once per
    corpus snapshot, not per downstream consumer).

    Two relations here have multiple consumers and are materialized with
    ``localCheckpoint(eager=False)`` so Spark does not recompute their
    subtrees per consumer: the candidate pairs (semi-join id set + the
    verify join) and the per-doc candidate shingle-set relation (sizes +
    both sides of the common-shingle join — measured ~4x wall on the
    unfused plan at sf0.1). The checkpointed relation is one compact
    array row per doc; the exploded forms derive from it. Each checkpoint
    is written on the first action that reads it, replaces its lineage
    in every later plan, and lives in executor block storage until the
    ContextCleaner frees it once the returned frame is unreferenced, so
    no caller releases anything; an executor loss fails the job instead
    of recomputing.
    """
    if candidates is not None:
        cands = candidates
    else:
        # fused path: the candidate set feeds both the shingle semi-join
        # and the verify join; unmaterialized, each consumer would
        # recompute the whole minhash+band self-join subtree
        cands = lsh_candidate_pairs(
            with_minhash(docs, id_col, text_col), id_col=id_col) \
            .localCheckpoint(eager=False)
    sets = candidate_shingle_sets(docs, cands, id_col, text_col) \
        .localCheckpoint(eager=False)
    # set sizes ride THROUGH the verify join (one extra int per exploded
    # row, candidate-bounded volume) instead of two id-keyed joins after
    # the aggregation — per group the size is constant, max() recovers
    # it exactly and two exchanges disappear from the verify chain
    a = sets.select(F.col("id").alias("doc_a"),
                    F.size("shs").alias("n_a"),
                    F.explode("shs").alias("sh_a"))
    b = sets.select(F.col("id").alias("_id_b"),
                    F.size("shs").alias("n_b"),
                    F.explode("shs").alias("sh_b"))
    common = (
        cands.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_id_b"))
              & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"))
    )
    return (
        common
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
