"""Corpus-hygiene operators a training-data pipeline runs between
extraction and tokenization: PII masking, benchmark decontamination,
domain-level statistics / blocklist filtering, and deterministic
(stratified) hash sampling.

These fill the curation surface that Dolma / RefinedWeb / CCNet-style
pipelines treat as first-class and the reference (an image-segmentation
engine) has no analog for — they are beyond-reference operators per the
build brief. Everything is a pure column expression (whole-stage
codegen; the only shuffles are the aggregations that define the
operator) with an exact DuckDB oracle in ``__spark_entry__.oracle_sql``.

Cross-engine regex note: every pattern below stays inside the
Java-regex / RE2 common subset — character classes, bounded repetition,
alternation, ``\\b`` word boundaries; no backreferences, no lookaround
(RE2 has neither). Both engines match leftmost-first with greedy
quantifiers, so ``regexp_replace``/``regexp_count`` agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from webextract.functions.dedup import hash60
from webextract.functions.text import norm_text

# ---------------------------------------------------------------------------
# PII masking
# ---------------------------------------------------------------------------

# (name, pattern, replacement) — applied IN ORDER, each over the output
# of the previous (emails first so their user@host digits never feed the
# phone/ip patterns). Heuristic by design: deterministic, high-recall on
# the formats that dominate web text, and cheap enough to run over every
# byte of a 100 TB corpus. The masking sentinels are angle-bracket tokens
# the downstream tokenizer keeps as single units.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    # E.164-ish international numbers, anchored on '+' so ordinary
    # integers never match: either the compact form (+14155551234) or a
    # space/dash-separated form (+31 20 5551234). Leftmost-first
    # alternation: both engines try the compact branch first.
    ("phone", r"\+\d{7,14}\b|\+\d{1,3}[ \-]\d{2,4}[ \-]\d{3,8}",
     "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def with_pii_masked(docs: DataFrame, text_col: str = "text",
                    out_col: str = "masked_text") -> DataFrame:
    """documents → + (masked_text, n_emails, n_phones, n_ips, has_pii).

    Counts are measured on the ORIGINAL text (the audit numbers a
    curation report wants); ``masked_text`` is the sequential
    ``regexp_replace`` chain over :data:`PII_PATTERNS`. One projection,
    zero shuffles — at 10^12 docs this is a map-only stage that fuses
    into whatever scan feeds it.
    """
    masked: Column = F.col(text_col)
    counts: dict[str, Column] = {}
    for name, pattern, repl in PII_PATTERNS:
        counts[name] = F.regexp_count(F.col(text_col), F.lit(pattern)) \
            .cast("long")
        masked = F.regexp_replace(masked, pattern, repl)
    out = docs.withColumn(out_col, masked)
    for name in counts:
        out = out.withColumn(f"n_{name}s", counts[name])
    total = sum((counts[n] for n in counts), F.lit(0).cast("long"))
    return out.withColumn("has_pii", total > 0)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def _gram_hashes(norm: Column, n: int) -> Column:
    """array<bigint> of hash60'd word n-grams of normalized text (empty
    when shorter than n words): :func:`dedup.shingles` at width ``n``
    with each gram hashed — one gram-construction implementation, so
    the oracle-mirrored slice/sequence arithmetic cannot drift."""
    from webextract.functions.dedup import shingles

    return F.transform(shingles(norm, n), hash60)


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text", n: int = 8,
                  min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama procedure):
    flag every training document sharing ≥ ``min_overlap`` distinct word
    ``n``-grams with a held-out evaluation set, so benchmark text can be
    dropped (or its docs down-weighted) before training.

    Returns (id, n_overlap, contaminated) for EVERY doc (n_overlap = 0
    when clean) — callers anti-join or filter on ``contaminated``.

    Plan at 10^12 docs: the benchmark side is tiny by definition
    (thousands of eval items vs billions of docs) — its distinct-gram
    set is built once and broadcast by AQE; the corpus side explodes
    distinct gram hashes (8-byte longs, not strings) map-side, hits the
    broadcast join with no corpus shuffle, and only the matching rows
    (rare) reach the per-doc count. The final left join back to ids is
    the one keyed exchange.
    """
    bench_grams = (
        benchmark.select(F.explode(F.array_distinct(
            _gram_hashes(norm_text(bench_text_col), n))).alias("gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            _gram_hashes(norm_text(text_col), n))).alias("gh"))
    overlaps = (
        doc_grams.join(bench_grams, "gh")
        .groupBy("id").agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(overlaps, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap)
            .alias("contaminated"))
    )


# ---------------------------------------------------------------------------
# domain statistics + blocklist filtering
# ---------------------------------------------------------------------------

# host = authority minus optional userinfo@ prefix and :port suffix —
# otherwise 'spam.example.net:8080' or 'user@spam.example.net' would
# slip past a blocklist entry for the bare host
_HOST_PATTERN = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def domain_of(url: Column) -> Column:
    """Registrable host of a URL ('' when not parseable): the authority
    with userinfo and port stripped, case-folded. One regexp_extract,
    identical under Java regex and RE2 (DuckDB's
    regexp_extract(col, pattern, 1) mirrors group capture; ``(?:...)``
    non-capturing groups exist in both)."""
    return F.lower(F.regexp_extract(url, _HOST_PATTERN, 1))


def domain_stats(docs: DataFrame, url_col: str = "url",
                 quality_col: str | None = None) -> DataFrame:
    """Per-domain corpus accounting: (domain, n_docs, total_chars[,
    avg_quality]) — the table a curation run reads to spot low-quality /
    over-represented hosts before choosing mixture weights. One hash
    aggregation; domain cardinality (~10^8 web-wide) shards fine."""
    aggs = [F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars")]
    if quality_col is not None:
        aggs.append(F.round(F.avg(quality_col), 6).alias("avg_quality"))
    return (docs.withColumn("domain", domain_of(F.col(url_col)))
            .groupBy("domain").agg(*aggs))


def filter_blocklist(docs: DataFrame, blocked: DataFrame,
                     url_col: str = "url",
                     blocked_col: str = "domain") -> DataFrame:
    """Drop every doc whose URL host appears in a blocklist table
    (spam/adult/SEO-farm lists in production). Left-anti join on the
    extracted domain; the blocklist side is small → AQE broadcasts the
    anti-join, so the corpus never shuffles."""
    return (
        docs.withColumn("_domain", domain_of(F.col(url_col)))
        .join(blocked.select(F.col(blocked_col).alias("_domain")),
              "_domain", "left_anti")
        .drop("_domain")
    )


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

# query params that never change content: analytics attribution tags
_TRACKING_PARAM = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)="


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a crawl URL — the key under which re-crawls and
    share-link variants of the same page collapse for exact dedup:

    1. fragment stripped (``#...`` is client-side only),
    2. scheme+host lowercased (case-insensitive per RFC 3986; the path
       stays case-sensitive),
    3. tracking params (``utm_*``, ``fbclid``, ``gclid``) removed via a
       split → filter → rejoin of the query string (a single-pass
       regexp_replace cannot drop consecutive params),
    4. a trailing ``/`` and an emptied ``?`` dropped.

    All codegen string/array expressions, exactly mirrored in DuckDB
    (``split_part``/``list_filter``); non-URL strings pass through
    steps 1/3/4 unchanged (step 2 finds no scheme to lowercase).
    """
    big = F.lit(1_000_000_000)
    base = F.substring_index(url, "#", 1)
    head = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?]*)",
                            1)
    lowered = F.concat(F.lower(head),
                       F.substring(base, F.length(head) + 1, big))
    path = F.substring_index(lowered, "?", 1)
    qs = F.when(F.length(path) < F.length(lowered),
                F.substring(lowered, F.length(path) + 2, big)) \
        .otherwise(F.lit(""))
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM))
    tail = F.when(F.size(params) > 0,
                  F.concat(F.lit("?"), F.array_join(params, "&"))) \
        .otherwise(F.lit(""))
    return F.concat(F.regexp_replace(path, "/$", ""), tail)


# ---------------------------------------------------------------------------
# deterministic (stratified) sampling
# ---------------------------------------------------------------------------

def lm_bigram_model(ref_docs: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """(bg: bigram hash60, c: corpus count) — the counting half of a
    word-bigram language model over a reference corpus (the CCNet role
    of the KenLM model: score crawl text by how familiar it looks
    against a trusted corpus). One explode + hash aggregation with
    map-side combine; the exchange moves 8-byte hashes."""
    norm = norm_text(text_col)
    return (
        ref_docs.select(F.explode(_gram_hashes(norm, 2)).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("c"))
    )


def with_lm_familiarity(docs: DataFrame, model: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Score documents against a :func:`lm_bigram_model`: per doc,
    ``n_bigrams``, ``n_known`` (bigrams the model has seen),
    ``known_rate`` and ``avg_count`` (mean model count over the doc's
    bigrams, unseen = 0) — gibberish/spam scores near 0, text that
    resembles the reference corpus scores high.

    Deliberately integer-exact instead of log-perplexity: float
    log-prob sums depend on summation order and libm rounding, so they
    cannot be value-hash-mirrored across engines; integer count sums
    with one final division are exact everywhere and carry the same
    ranking signal. Plan: explode doc bigrams (hashes), join the model
    (broadcast when small, hash join at corpus scale — never hinted),
    one per-doc aggregation, left join back so unscored docs (no
    bigrams) keep zeros.
    """
    norm = norm_text(text_col)
    grams = docs.select(F.col(id_col).alias("id"),
                        F.explode(_gram_hashes(norm, 2)).alias("bg"))
    scored = (
        grams.join(model, "bg", "left")
        .groupBy("id")
        .agg(F.count("*").alias("n_bigrams"),
             F.count("c").alias("n_known"),
             F.coalesce(F.sum("c"), F.lit(0)).alias("_csum"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_known", F.lit(0)).alias("n_known"),
            F.round(F.when(F.col("n_bigrams") > 0,
                           F.col("n_known") / F.col("n_bigrams"))
                    .otherwise(F.lit(0.0)), 6).alias("known_rate"),
            F.round(F.when(F.col("n_bigrams") > 0,
                           F.col("_csum") / F.col("n_bigrams"))
                    .otherwise(F.lit(0.0)), 6).alias("avg_count"),
        )
    )


def token_budget_sample(docs: DataFrame, budget_tokens: int,
                        strata_col: str, priority_col: str,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        mode: str = "exact",
                        buckets: int = 32,
                        n_tokens_col: str | None = None) -> DataFrame:
    """Budgeted mixture fill: keep documents per stratum in priority
    order until the stratum's cumulative token count would exceed
    ``budget_tokens`` — how a training-mix recipe ("15B tokens of
    source X, best-quality first") is actually materialized.

    Returns (id, stratum, n_tokens, cum_tokens) for every kept doc.
    Deterministic: the order is (priority desc, id asc), so ties never
    depend on partitioning. The boundary doc that would cross the
    budget is dropped (cum_tokens <= budget holds for every output).

    ``mode="exact"``: one hash exchange on the stratum + an
    in-partition sort for the running sum — fine while each stratum
    fits a partition's sort spill. At 10^12 docs with a handful of
    strata that per-stratum sort of the WHOLE corpus is the
    bottleneck, and the kept set is typically a tiny prefix of it
    (15B tokens out of 100T).

    ``mode="approx"`` is the two-phase scale path and returns the
    IDENTICAL rows (same oracle): bucket each stratum's priority range
    with ``percentile_approx`` edges, aggregate token mass per bucket
    (map-side combine, no row sort), keep only the candidate buckets
    whose tokens-before-bucket is <= budget — every kept doc must lie
    in one, because the exact keep-set is a priority prefix and any
    doc in a later bucket already has more than ``budget_tokens``
    ahead of it — then run the exact windowed pass over that
    ~budget-sized slice. Bucket-edge placement only affects the size
    of the boundary slice, never the result, so percentile_approx's
    sketch accuracy is a pure performance knob. ``priority`` must be
    non-null in both modes (the exact window would order nulls last;
    the histogram join gives them no bucket).

    In approx mode the projected base relation (id, stratum, priority,
    n_tokens — 4 narrow columns) is materialized with
    ``localCheckpoint``: the two-phase plan consumes it THREE times
    (edge sketch, bucket join, histogram), and without it each
    reference re-executes the whole upstream producer —
    measured 2.4× wall on the composed ``curate_full`` chain, where the
    producer is the near-dup survivor join. At 10^12 docs this
    projection is the stored stage table a budget recipe reads anyway.
    """
    from pyspark.sql import Window

    from webextract.functions.text import norm_text, token_count

    # ``n_tokens_col`` lets a producer that already carries the token
    # count (e.g. curate_corpus survivors, whose features computed the
    # identical ``token_count(norm_text(text))``) skip re-normalizing
    # and re-splitting the full text here — the budget never needs the
    # text itself, only its count. A NULL count reads as 0, as empty
    # text does on the text path: left NULL, the doc would report no
    # count, and at the head of its stratum its running sum would be
    # NULL and the doc dropped
    n_tok = (F.coalesce(F.col(n_tokens_col), F.lit(0))
             if n_tokens_col is not None
             else token_count(norm_text(text_col)))
    base = docs.select(F.col(id_col).alias("id"),
                       F.col(strata_col).alias("stratum"),
                       F.col(priority_col),
                       n_tok.alias("n_tokens"))
    if mode == "approx":
        # materialize AND cut lineage: the two-phase plan consumes this
        # relation three times (edge sketch, bucket join, histogram),
        # and in the composed curate_full chain its producer is the
        # whole near-dup survivor join — a persist alone keeps that
        # analyzed tree as the InMemoryRelation's child, re-analyzed
        # per reference (measured 1.9 MB of physical-plan text). The
        # checkpoint makes each reference a constant-size leaf; at
        # 10^12 docs this projection is the stored stage table a
        # budget recipe reads anyway. Checkpoint blocks are released by
        # the ContextCleaner when the frame is unreferenced.
        base = base.localCheckpoint(eager=False)
        prio = F.col(priority_col)
        qs = [i / buckets for i in range(1, buckets)]
        edges = base.groupBy("stratum").agg(
            F.percentile_approx(prio, qs).alias("_edges"))
        # bucket 0 = best priority: the count of edges strictly above
        # this doc's priority (edges ascend, priority sorts descending)
        bucketed = (base.join(F.broadcast(edges), "stratum")
                    .withColumn("_bucket",
                                F.size(F.filter(F.col("_edges"),
                                                lambda e: e > prio)))
                    .drop("_edges"))
        hist = (bucketed.groupBy("stratum", "_bucket")
                .agg(F.sum("n_tokens").alias("_btok"))
                .withColumn("_before",
                            F.coalesce(F.sum("_btok").over(
                                Window.partitionBy("stratum")
                                .orderBy("_bucket")
                                .rowsBetween(Window.unboundedPreceding,
                                             -1)), F.lit(0)))
                .filter(F.col("_before") <= budget_tokens)
                .select("stratum", "_bucket"))
        base = (bucketed.join(F.broadcast(hist), ["stratum", "_bucket"],
                              "left_semi")
                .drop("_bucket"))
    elif mode != "exact":
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    return (
        base
        .withColumn("cum_tokens",
                    F.sum("n_tokens").over(
                        Window.partitionBy("stratum")
                        .orderBy(F.col(priority_col).desc(),
                                 F.col("id").asc())))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("id", "stratum", "n_tokens", "cum_tokens")
    )


_SAMPLE_MOD = 1_000_000


def sample_hash(key: Column, salt: str) -> Column:
    """Uniform [0, 1M) bucket from a salted 60-bit content hash —
    deterministic across runs/engines (unlike ``rand(seed)``, which is
    partition-layout-dependent and has no SQL mirror)."""
    return F.pmod(hash60(F.concat(F.lit(salt + ":"),
                                  key.cast("string"))), F.lit(_SAMPLE_MOD))


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      strata_col: str, id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "ws1") -> DataFrame:
    """Deterministic stratified sampling — the mixture-building step of
    an LLM data pipeline (e.g. up-sample curated sources, down-sample
    crawl dumps). ``rates`` maps stratum value → keep fraction; rows keep
    iff salted-hash(id) falls under the stratum's cutoff.

    Map-only (a CASE over the stratum column + one hash compare): no
    shuffle, no rand(), re-runs reproduce the identical sample — which
    is what makes dataset builds auditable. Changing ``salt`` draws an
    independent sample.
    """
    cutoff: Column = F.lit(int(default_rate * _SAMPLE_MOD))
    expr = None
    for value in sorted(rates):
        arm = F.lit(int(rates[value] * _SAMPLE_MOD))
        cond = F.col(strata_col) == value
        expr = F.when(cond, arm) if expr is None else expr.when(cond, arm)
    cutoff = expr.otherwise(cutoff) if expr is not None else cutoff
    return docs.filter(sample_hash(F.col(id_col), salt) < cutoff)
