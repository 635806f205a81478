"""Text-analysis operators over the ``documents`` table: normalization,
language-ID heuristic, quality scoring, token counting, fingerprinting.

These are the corpus-hygiene operators a 100 TB training-data pipeline
needs in front of the extractor. All pure column expressions — they run
inside whole-stage codegen, shuffle only where an aggregation demands it,
and each has an exact DuckDB oracle (see ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Function-word marker sets for the language-ID heuristic, one per
# supported language. Deliberately tiny + fixed: the heuristic must be
# byte-reproducible in plain SQL on both engines (no model, no external
# data). Marker overlap across languages is fine — the guess is the
# ARGMAX of per-language marker ratios, with an alphabetical tiebreak.
# Round 7 broadens the Latin-script table to the remaining top-15 web
# languages (pt/it/pl/tr/vi/id): before, a Portuguese page tripped the
# Spanish markers (its only hits) and then inherited the SPANISH
# stopword base in the quality score. Each added set is chosen so its
# own language's function-word mass beats any cross-language hits
# ("de" is shared pt/nl but Dutch text carries ~2× the nl-set mass;
# "que" is shared pt/es but the es set's el/los/y never fire on pt).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "los", "que", "es", "y"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "id": ("yang", "dan", "untuk", "dengan", "tidak", "ini"),
    "it": ("di", "che", "il", "non", "per", "una"),
    "nl": ("de", "het", "een", "en", "van", "niet"),
    "pl": ("nie", "się", "jest", "oraz", "która", "przez"),
    "pt": ("de", "que", "não", "uma", "para", "dos"),
    "tr": ("bir", "ve", "bu", "için", "ile", "değil"),
    "vi": ("của", "và", "là", "không", "các", "một"),
}
LANG_THRESHOLD = 0.04  # best marker ratio below this → 'und'

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in", "to", "is")

# Unicode-script detection (round 6): the Latin marker argmax maps every
# non-Latin page — the majority of a global crawl — to 'und'. Script
# code-point ratios are checked FIRST, so Chinese/Japanese/Korean/
# Russian/Arabic/Hindi pages get a real class and their own quality
# base. Character classes use the \x{...} hex-escape syntax shared by
# Java regex (Spark) and RE2 (DuckDB), so the oracle stays exact.
SCRIPT_RANGES: dict[str, str] = {
    "arabic": r"[\x{0600}-\x{06FF}\x{0750}-\x{077F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "han": r"[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}]",
    "hangul": r"[\x{1100}-\x{11FF}\x{AC00}-\x{D7AF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "kana": r"[\x{3040}-\x{30FF}]",
    "thai": r"[\x{0E00}-\x{0E7F}]",
}
# fixed decision precedence: kana presence means Japanese even though
# Japanese text is mostly Han (kanji); then the dominant-script checks
SCRIPT_THRESHOLD = 0.3   # script chars / non-space chars
KANA_THRESHOLD = 0.05    # any real kana presence → ja
# (script, language, threshold) in decision order
SCRIPT_DECISION: tuple[tuple[str, str, float], ...] = (
    ("kana", "ja", KANA_THRESHOLD),
    ("han", "zh", SCRIPT_THRESHOLD),
    ("hangul", "ko", SCRIPT_THRESHOLD),
    ("arabic", "ar", SCRIPT_THRESHOLD),
    ("devanagari", "hi", SCRIPT_THRESHOLD),
    ("cyrillic", "ru", SCRIPT_THRESHOLD),
    ("greek", "el", SCRIPT_THRESHOLD),
    ("hebrew", "he", SCRIPT_THRESHOLD),
    ("thai", "th", SCRIPT_THRESHOLD),
)
# languages whose function words are not whitespace-delimited: the
# stopword base counts marker SUBSTRING occurrences over non-space
# chars instead of marker tokens over whitespace tokens. Thai (round 7)
# rides the same path — its script writes without word spaces, so its
# multi-char function words are counted as substrings (occurrences()
# handles any needle length on both engines).
CJK_LANGS: tuple[str, ...] = ("ja", "ko", "th", "zh")
CJK_CHAR_MARKERS: dict[str, tuple[str, ...]] = {
    "ja": ("の", "に", "は", "を", "が", "た"),
    "ko": ("이", "는", "을", "가", "의", "에"),
    "th": ("ที่", "และ", "ของ", "ใน", "เป็น", "ได้"),
    "zh": ("的", "是", "了", "在", "和", "不"),
}
# word-based stopword sets for space-delimited non-Latin scripts
SCRIPT_STOPWORDS: dict[str, tuple[str, ...]] = {
    "ar": ("في", "من", "على", "أن", "هذا", "لا"),
    "el": ("και", "να", "το", "της", "με", "που"),
    "he": ("של", "את", "על", "זה", "לא", "הוא"),
    "hi": ("है", "के", "में", "की", "और", "का"),
    "ru": ("и", "в", "не", "на", "что", "это"),
}


def norm_text(col: str | Column = "text") -> Column:
    """Whitespace-canonicalized text — mirror of the extractor's
    normalization (single-space runs, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def occurrences(text: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences via the length/replace trick —
    chosen over regexp because it is exactly portable to the oracle SQL."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count of normalized text ('' -> 0)."""
    return F.when(F.length(text) == 0, F.lit(0).cast("long")).otherwise(
        F.size(F.split(text, " ")).cast("long")
    )


def marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``markers`` (with multiplicity): ONE
    pass over the token array with a short-circuit In per token — far
    cheaper than per-marker length/replace scans of the whole text
    (which cost O(markers × chars) and undercount adjacent repeats)."""
    return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("long")


def stopword_hits(toks: Column) -> Column:
    """Total stopword token count of the normalized token array."""
    return marker_hits(toks, STOPWORDS)


# word-or-punct token pattern for the BPE-ish count: alnum runs count as
# one token, every other non-space char as its own token — the same
# class-based regex evaluates identically under Java regex (Spark) and
# DuckDB's RE2, which keeps the oracle exact
TOKEN_REGEX = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


def token_count_regex(text: Column) -> Column:
    """Sub-word-ish token count: alnum runs + individual punctuation
    marks. A closer proxy for BPE token counts than whitespace splitting
    (punctuation tokenizes separately), still a pure codegen expression."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX)).cast("long")


def winnow_fingerprint(norm: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken):
    hash every word ``k``-gram (rolling 60-bit md5-derived hash), take
    the minimum per sliding window of ``w`` consecutive hashes, and md5
    the sorted distinct selected values. Robust to local edits — two
    documents sharing long runs share most selected hashes — and fully
    plan-side: sequence/transform/slice/zip_with run inside codegen,
    no explode, no shuffle, exact DuckDB mirror.

    NOTE: as a single Column the gram array is re-evaluated once per
    reference (w+1 times — HOF lambdas get no subexpression
    elimination); prefer :func:`with_winnow_fingerprint`, whose
    projection boundary materializes it once per row.
    """
    toks = F.split(norm, " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.conv(F.substring(
            F.md5(F.encode(F.array_join(F.slice(toks, i, k), " "),
                           "UTF-8")), 1, 15), 16, 10).cast("long"),
    )
    # sliding-window min WITHOUT referencing `grams` inside a lambda:
    # higher-order functions re-evaluate captured expressions PER ELEMENT
    # (no subexpression elimination inside HOF lambdas), which turns the
    # obvious transform(i -> array_min(slice(grams, i, w))) into O(n·w)
    # md5 recomputations of the whole gram array — measured 40 ms/doc.
    # zip_with evaluates its array arguments once per ROW, so folding the
    # w shifted copies pairwise keeps the md5 work at w recomputes per
    # row (constant), not per element.
    m = F.size(grams)
    out_len = m - (w - 1)

    def shifted(j: int) -> Column:
        return F.slice(grams, 1 + j, out_len)

    mins = shifted(0)
    for j in range(1, w):
        mins = F.zip_with(mins, shifted(j), lambda a, b: F.least(a, b))
    selected = F.array_sort(F.array_distinct(mins))
    fp = F.md5(F.encode(
        F.array_join(F.transform(selected, lambda x: x.cast("string")),
                     ","), "UTF-8"))
    # short docs: fewer than k+w-1 words -> fingerprint of the whole text
    return F.when(n >= k + w - 1, fp).otherwise(
        F.md5(F.encode(norm, "UTF-8")))


def with_winnow_fingerprint(docs: DataFrame, text_col: str = "text",
                            k: int = 5, w: int = 4,
                            out_col: str = "winnow_fp") -> DataFrame:
    """DataFrame-level winnowing with the gram array materialized ONCE
    per row: the k-gram hash array lands in its own projection and the
    sliding-min consumes it as a column reference. CollapseProject
    declines to inline a non-cheap alias that is referenced multiple
    times, so the expensive md5 transform is evaluated once per row —
    the single-Column form re-evaluates it per reference (w+1 times;
    measured 4.6x slower at sf0.1). Same values as
    :func:`winnow_fingerprint`.
    """
    norm = norm_text(text_col)
    toks = F.split(norm, " ")
    n = F.size(toks)
    grams = F.when(n >= k + w - 1, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.conv(F.substring(
            F.md5(F.encode(F.array_join(F.slice(toks, i, k), " "),
                           "UTF-8")), 1, 15), 16, 10).cast("long"),
    )).otherwise(F.array().cast("array<long>"))
    step1 = docs.withColumn("_winnow_norm", norm) \
        .withColumn("_winnow_grams", grams)
    g = F.col("_winnow_grams")
    out_len = F.size(g) - (w - 1)
    mins = F.slice(g, 1, out_len)
    for j in range(1, w):
        mins = F.zip_with(mins, F.slice(g, 1 + j, out_len),
                          lambda a, b: F.least(a, b))
    fp = F.md5(F.encode(F.array_join(
        F.transform(F.array_sort(F.array_distinct(mins)),
                    lambda x: x.cast("string")), ","), "UTF-8"))
    return (
        step1.withColumn(out_col, F.when(F.size(g) > 0, fp).otherwise(
            F.md5(F.encode(F.col("_winnow_norm"), "UTF-8"))))
        .drop("_winnow_norm", "_winnow_grams")
    )


# Gopher-style quality bands (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1): mean word
# length in [3, 10]; symbol-to-word ratio ≤ 0.1 (# and …); ≤ 90% of
# lines starting with a bullet; ≤ 30% of lines ending with an ellipsis;
# ≤ 30% duplicate lines; ≤ 20% of characters in the top word 2-gram
# (the repetition gates — the strongest cheap boilerplate/spam
# predictors in LLM curation).
MEAN_WORD_LEN_BAND = (3.0, 10.0)
MAX_SYMBOL_RATIO = 0.1
MAX_BULLET_LINE_RATIO = 0.9
MAX_ELLIPSIS_LINE_RATIO = 0.3
MAX_DUP_LINE_RATIO = 0.3
MAX_TOP2GRAM_CHAR_RATIO = 0.2
_BULLET_PREFIXES = ("\n- ", "\n* ", "\n• ")
_ELLIPSIS_SUFFIXES = ("...\n", "…\n")

# Per-language stopword bases for the quality score: the guessed
# language selects its own function-word set (reusing LANG_MARKERS) so
# a French or German article is not scored against English stopwords;
# 'en' and 'und' keep the broader English set.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    **{code: LANG_MARKERS[code] for code in LANG_MARKERS if code != "en"},
    # space-delimited non-Latin scripts keep the word-based path; the
    # CJK languages are handled by CJK_CHAR_MARKERS instead
    **SCRIPT_STOPWORDS,
}


# --- memoized feature expression tree (round 6) ---------------------------
# Building the feature Column tree costs ~1.8-2.3 s of pure DRIVER time:
# every F.when/F.col/HOF call is a py4j round-trip constructing a JVM
# expression node, and the tree has thousands of nodes. The tree is
# input-independent (it references fixed column names), so it is built
# ONCE per process and re-applied to any DataFrame via withColumns —
# measured construction drops from ~2.0 s to ~ms on every call after the
# first, which every consumer (quality_scores, lang_id, token counts,
# curate) pays per fresh DataFrame. Cache validity is keyed on the py4j
# gateway identity: Column objects wrap JVM expression nodes that stay
# valid across SparkSession stop/start in one JVM, but not across a JVM
# restart (new gateway → rebuild).
_FEATURE_CACHE: dict[str, object] = {}


def _gateway_token() -> object:
    """A weakref to the live py4j gateway (not ``id()`` — CPython reuses
    freed addresses, so an id captured from a dead gateway could
    validate stale Column trees after a gateway restart; a weakref to
    the old object dereferences to None instead)."""
    try:  # classic mode: the py4j gateway singleton
        import weakref

        from pyspark import SparkContext

        gw = SparkContext._gateway  # noqa: SLF001 — public-enough singleton
        return weakref.ref(gw) if gw is not None else None
    except Exception:  # pragma: no cover - connect mode has no gateway
        return None


def _memoized_stages(key: str, build) -> tuple:
    tok = _gateway_token()
    cached = _FEATURE_CACHE.get(key)
    if (cached is not None and cached[0] == tok
            and (tok is None or tok() is not None)):
        return cached[1]
    stages = build()
    _FEATURE_CACHE[key] = (tok, stages)
    return stages


def with_text_features(docs: DataFrame) -> DataFrame:
    """documents → + (norm, n_tokens, guess_lang, n_stop, stop_ratio,
    mean_word_len, symbol_ratio, bullet_line_ratio, ellipsis_line_ratio,
    dup_line_frac, top2gram_char_frac, quality_score, fingerprint).

    quality_score is a deterministic [0,1] heuristic: the graded base
    (token-length band + stopword presence, averaged) MULTIPLIED by the
    Gopher-style penalty gates (mean-word-length band, symbol-to-word
    ratio, bullet/ellipsis line ratios, duplicate-line fraction and
    top-2-gram character fraction — the banded constants above). Gates
    multiply rather than average because in Gopher they are hard drops:
    a bullet-list or copy-pasted-line page scores 0 regardless of its
    length, and a clean page's score is unchanged by them.

    The stopword base is language-aware: ``guess_lang`` selects that
    language's function-word set (:data:`LANG_STOPWORDS`) so a French
    article's ``stop_ratio`` measures FRENCH function words — under an
    English-only base every non-English page scored as if it had no
    function words at all.

    ``guess_lang`` checks Unicode-script ratios BEFORE the Latin marker
    argmax (:data:`SCRIPT_DECISION`): pages dominated by Han/Kana/
    Hangul/Cyrillic/Arabic/Devanagari/Greek/Hebrew/Thai code points
    classify as zh/ja/ko/ru/ar/hi/el/he/th instead of collapsing into
    'und' (the majority of a global crawl is non-Latin — the
    reference's analog is its total decode of every corpus input,
    ``utils/image_utils.py:84-168``). For the unsegmented-script
    languages (CJK + Thai), whose function words are not whitespace-
    delimited, the stopword base counts marker SUBSTRING occurrences
    (:data:`CJK_CHAR_MARKERS`) over non-space chars, the length band
    runs over non-space chars, and the mean-word-length gate (a
    whitespace-token signal, meaningless for CJK) passes by script
    class — the reported ``mean_word_len`` column is NULL for CJK rows
    so the degenerate one-giant-token value never misleads downstream
    consumers; ru/ar/hi keep the word-based path with their own sets.

    The web-text analog of the reference's mean-confidence provenance
    (A6, ``tooling/average_confidence.py``). fingerprint is the content
    hash used for exact dedup (md5 of the normalized text). All pure
    codegen expressions with an exact DuckDB mirror — line signals count
    over the RAW text (normalization collapses newlines).
    """
    stages, drop = _memoized_stages("text_features",
                                    _build_text_feature_stages)
    out = docs
    for stage in stages:
        out = out.withColumns(stage)
    return out.drop(*drop)


def _build_text_feature_stages() -> tuple:
    """The feature expression tree of :func:`with_text_features` as a
    dependency-ordered list of withColumns dicts plus the temp-column
    drop list. Values and final schema are identical to the pre-r6
    sequential-withColumn form (the golden hashes pin this); the split
    into stages exists so columns that reference earlier aliases land in
    a later projection, exactly as the chained withColumn calls did.
    """
    codes = sorted(LANG_MARKERS)
    # projection boundaries: norm (a regexp_replace) and the token array
    # are referenced by nearly every signal; as inlined Columns they
    # would be re-evaluated per reference (CollapseProject only keeps a
    # non-cheap alias materialized when it is referenced more than once
    # — exactly what these staged withColumns arrange)
    normc, toks, raw = F.col("norm"), F.col("_toks"), F.col("text")
    n_tokens = F.when(F.length(normc) == 0, F.lit(0)) \
        .otherwise(F.size(toks)).cast("long")
    nt = F.col("n_tokens")
    # Unicode-script ratios: script code points / non-space chars. The
    # _na pre-check is one cheap any-non-ASCII scan so the six
    # script-class regex counts never run on the (majority) pure-ASCII
    # pages — rlike exits at the first non-ASCII char; the ratio VALUES
    # are unchanged by the guard (an ASCII page counts 0 in every
    # class), so the oracle mirrors only the arithmetic.
    stage4: dict[str, Column] = {}
    for script in sorted(SCRIPT_RANGES):
        stage4[f"_sc_{script}"] = (
            F.when(F.col("_na") & (F.col("_nsc") > 0),
                   F.regexp_count(normc, F.lit(SCRIPT_RANGES[script]))
                   / F.col("_nsc"))
            .otherwise(F.lit(0.0)))
    # per-language marker ratios land in their own columns so each
    # single-pass token filter runs ONCE even though the argmax CASE
    # references every ratio twice (greatest + its own arm)
    for code in codes:
        stage4[f"_r_{code}"] = (
            F.when(nt > 0, marker_hits(toks, LANG_MARKERS[code]) / nt)
            .otherwise(F.lit(0.0)))
    best = F.greatest(*[F.col(f"_r_{c}") for c in codes])
    latin = F.when(best < F.lit(LANG_THRESHOLD), F.lit("und"))
    for c in codes:
        latin = latin.when(F.col(f"_r_{c}") == best, F.lit(c))
    latin = latin.otherwise(F.lit("und"))
    # script decision first (fixed precedence), Latin argmax as fallback
    guess: Column | None = None
    for script, lang_code, threshold in SCRIPT_DECISION:
        cond = F.col(f"_sc_{script}") >= F.lit(threshold)
        guess = (F.when(cond, F.lit(lang_code)) if guess is None
                 else guess.when(cond, F.lit(lang_code)))
    assert guess is not None
    guess_lang = guess.otherwise(latin)

    # effective token count: the CJK languages have no whitespace word
    # boundaries (a page is ~one giant "token"), so every per-token
    # signal uses non-space chars for them — char ≈ token in CJK
    eff = F.when(F.col("guess_lang").isin(*CJK_LANGS), F.col("_nsc")) \
        .otherwise(nt)
    ne = F.col("_eff")

    # language-aware stopword base (one lazily-evaluated CASE arm per
    # language: only the guessed language's token filter runs per row);
    # CJK languages count marker characters instead of marker tokens
    n_stop: Column | None = None
    for code in sorted(CJK_CHAR_MARKERS):
        cond = F.col("guess_lang") == code
        hits = sum((occurrences(normc, ch)
                    for ch in CJK_CHAR_MARKERS[code]),
                   F.lit(0).cast("long"))
        n_stop = (F.when(cond, hits) if n_stop is None
                  else n_stop.when(cond, hits))
    for code in sorted(LANG_STOPWORDS):
        cond = F.col("guess_lang") == code
        hits = marker_hits(toks, LANG_STOPWORDS[code])
        n_stop = (F.when(cond, hits) if n_stop is None
                  else n_stop.when(cond, hits))
    assert n_stop is not None
    n_stop = n_stop.otherwise(stopword_hits(toks))

    stop_ratio = F.round(
        F.when(ne > 0, F.col("n_stop") / ne).otherwise(F.lit(0.0)), 6)
    # chars-per-token of the normalized text (spaces excluded); NULL for
    # CJK-classified rows — a whitespace-token signal is meaningless when
    # a page is ~one giant "token", and reporting the degenerate value
    # would mislead downstream consumers of the feature column (the
    # quality gate already bypasses the band by script class)
    mean_word_len = F.when(
        F.col("guess_lang").isin(*CJK_LANGS),
        F.lit(None).cast("double")).otherwise(F.round(
            F.when(nt > 0, (F.length(normc) - (nt - 1)) / nt)
            .otherwise(F.lit(0.0)), 6))
    n_symbols = occurrences(normc, "#") + occurrences(normc, "...") \
        + occurrences(normc, "…")
    symbol_ratio = F.round(
        F.when(ne > 0, n_symbols / ne).otherwise(F.lit(0.0)), 6)
    # line signals over raw text: pad with newlines so first/last lines
    # match the same \n-anchored patterns as interior ones
    nl_padded = F.concat(F.lit("\n"), raw, F.lit("\n"))
    n_lines = occurrences(raw, "\n") + 1
    n_bullet = sum((occurrences(nl_padded, p) for p in _BULLET_PREFIXES),
                   F.lit(0).cast("long"))
    n_ellipsis = sum((occurrences(nl_padded, s) for s in _ELLIPSIS_SUFFIXES),
                     F.lit(0).cast("long"))
    bullet_ratio = F.round(n_bullet / n_lines, 6)
    ellipsis_ratio = F.round(n_ellipsis / n_lines, 6)

    # duplicate-line fraction over the raw text: 1 - distinct/total —
    # a copy-pasted-boilerplate signal, pure array expressions. The line
    # array is referenced three times, so it gets its own projection
    # boundary below (_lines) — the optimized plan must show ONE
    # split(text, '\n'), not one per reference
    lines = F.col("_lines")
    dup_line_frac = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines)))
        / F.size(lines), 6)

    # top-2-gram character fraction: the sorted word-2-gram array makes
    # the per-gram counts contiguous runs, so ONE aggregate fold finds
    # (max run, its gram's length) — no explode, no shuffle; the
    # lexicographically smallest gram wins count ties (strict > update),
    # matching the oracle's ORDER BY count DESC, gram ASC.
    # Audit note (round 6): the repeated `when(g == acc.prev, ...)`
    # inside the fold is up to 4 string compares per element with no
    # subexpression elimination — but an interleaved A/B against a
    # two-pass variant (zip_with equality array + scalar boolean fold)
    # measured the two-pass 25% SLOWER at sf0.1 (1.03 s vs 0.83 s
    # median, identical values): the extra slice/zip_with array
    # allocations outweigh the redundant compares, which exit on the
    # first differing character for almost every adjacent sorted-gram
    # pair. This fold is the faster plan, kept deliberately.
    # CJK gram source: a whitespace 2-gram over unsegmented text is two
    # giant phrase chunks — it covers a large char fraction on every
    # page and zeroes the gate corpus-wide. The Gopher repetition
    # signal adapted to unsegmented scripts is CHARACTER bigrams
    # (overlapping, over the space-stripped text); bestlen=2 falls out
    # of the same fold, and the same 0.2 char-fraction threshold
    # applies to all languages.
    empty = F.array().cast("array<string>")
    tok_grams = F.when(nt >= 2, F.array_sort(F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.array_join(F.slice(toks, i, 2), " "),
    ))).otherwise(empty)
    ns = F.col("_ns")
    char_grams = F.when(F.col("_nsc") >= 2, F.array_sort(F.transform(
        F.sequence(F.lit(1), F.col("_nsc").cast("int") - 1),
        lambda i: ns.substr(i, F.lit(2)),
    ))).otherwise(empty)
    grams2 = F.when(F.col("guess_lang").isin(*CJK_LANGS), char_grams) \
        .otherwise(tok_grams)
    zero = F.lit(0).cast("long")
    top = F.aggregate(
        F.col("_grams2"),
        F.struct(F.lit("").alias("prev"), zero.alias("run"),
                 zero.alias("best"), zero.alias("bestlen")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .cast("long").alias("run"),
            F.when(
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)))
            .otherwise(acc["best"]).cast("long").alias("best"),
            F.when(
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best"], F.length(g).cast("long"))
            .otherwise(acc["bestlen"]).alias("bestlen"),
        ),
    )
    top2_frac = F.round(
        F.when((F.length(normc) > 0) & (F.col("_top2")["best"] > 0),
               F.least(
                   F.col("_top2")["best"] * F.col("_top2")["bestlen"]
                   / F.length(normc), F.lit(1.0)))
        .otherwise(F.lit(0.0)), 6)

    len_score = F.when((ne >= 20) & (ne <= 1000), F.lit(1.0)) \
        .when(ne >= 5, F.lit(0.5)).otherwise(F.lit(0.0))
    stop_score = F.least(F.col("stop_ratio") * 4, F.lit(1.0))
    # the mean-word-length band is a whitespace-token signal; for CJK a
    # page is one giant "word", so the gate passes by script class
    word_len_score = F.when(
        F.col("guess_lang").isin(*CJK_LANGS)
        | ((F.col("mean_word_len") >= MEAN_WORD_LEN_BAND[0])
           & (F.col("mean_word_len") <= MEAN_WORD_LEN_BAND[1])),
        F.lit(1.0)).otherwise(F.lit(0.0))
    symbol_score = F.when(
        F.col("symbol_ratio") <= MAX_SYMBOL_RATIO, F.lit(1.0)) \
        .otherwise(F.lit(0.0))
    line_score = F.when(
        (F.col("bullet_line_ratio") <= MAX_BULLET_LINE_RATIO)
        & (F.col("ellipsis_line_ratio") <= MAX_ELLIPSIS_LINE_RATIO),
        F.lit(1.0)).otherwise(F.lit(0.0))
    repeat_score = F.when(
        (F.col("dup_line_frac") <= MAX_DUP_LINE_RATIO)
        & (F.col("top2gram_char_frac") <= MAX_TOP2GRAM_CHAR_RATIO),
        F.lit(1.0)).otherwise(F.lit(0.0))
    quality = F.round(
        (len_score + stop_score) / 2
        * word_len_score * symbol_score * line_score * repeat_score, 6)
    stages = [
        {"norm": norm_text("text")},
        {"_toks": F.split(normc, " "),
         "_ns": F.replace(normc, F.lit(" "), F.lit(""))},
        {"n_tokens": n_tokens,
         "_nsc": F.length(F.col("_ns")),
         "_na": normc.rlike(r"[^\x00-\x7F]")},
        stage4,
        {"guess_lang": guess_lang},
        {"_eff": eff,
         "n_stop": n_stop,
         "_grams2": grams2,
         "_lines": F.split(raw, "\n")},
        {"_top2": top,
         "stop_ratio": stop_ratio,
         "mean_word_len": mean_word_len,
         "symbol_ratio": symbol_ratio,
         "bullet_line_ratio": bullet_ratio,
         "ellipsis_line_ratio": ellipsis_ratio,
         "dup_line_frac": dup_line_frac},
        {"top2gram_char_frac": top2_frac},
        {"quality_score": quality,
         "fingerprint": F.md5(F.encode(normc, "UTF-8"))},
    ]
    drop = ("_toks", "_grams2", "_lines", "_top2", "_ns", "_nsc", "_na",
            "_eff", *[f"_r_{c}" for c in codes],
            *[f"_sc_{s}" for s in sorted(SCRIPT_RANGES)])
    return stages, drop
