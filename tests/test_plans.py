"""Physical-plan shape assertions (PLANS.md) — a plan regression should
fail here, not on a cluster. Each test pins a property that matters at
100 TB: column pruning, pushdown, shuffle count, broadcast choice,
zero-shuffle signatures."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from webextract.fixtures import pages_from_documents
from webextract.functions.dedup import with_minhash
from webextract.functions.similarity import knn_bruteforce
from webextract.pipeline import PipelineOptions, extract_dataframe, plan_todo

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _count_nodes(plan: str, node: str) -> int:
    return sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and f") {node}" in line)


def test_extraction_scan_prunes_to_url_html(spark, tmp_path):
    from webextract.fixtures import pages_dataframe
    from webextract.schema import PAGES_SCHEMA

    path = str(tmp_path / "pages")
    pages_dataframe(spark, 50, num_partitions=2, giant_every=0) \
        .write.parquet(path)
    pages = spark.read.schema(PAGES_SCHEMA).parquet(path)

    # ONE scan, ONE exchange (giants get their own salt space)
    plan = plan_of(extract_dataframe(pages, opts=PipelineOptions(num_partitions=2)))
    # the scan must read ONLY url+html — warc_ts/text/lang never cross
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    assert "MapInArrow" in plan
    assert _count_nodes(plan, "Exchange") == 1, plan
    assert _count_nodes(plan, "Scan parquet") == 1, plan


def test_minhash_is_shuffle_free_single_fold(docs):
    plan = plan_of(with_minhash(docs))
    assert "Exchange" not in plan
    assert plan.count("aggregate(") == 1  # the fold is not duplicated


def test_knn_pushes_probe_filter_and_broadcasts(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=3))
    assert "LessThan(vec_id,10)" in plan  # pushed to the parquet scan
    assert "BroadcastNestedLoopJoin" in plan
    # corpus side must NOT shuffle before scoring
    score_section = plan.split("Window")[0]
    assert "Exchange hashpartitioning" not in score_section


def test_candidate_shingle_sets_no_global_distinct(spark, docs):
    # per-doc dedup must stay a row-local array_distinct inside codegen:
    # a global distinct() would re-introduce a corpus-sized exchange in
    # the verify path (PLANS.md "Near-dup verify")
    from webextract.functions.dedup import candidate_shingle_sets

    cands = spark.createDataFrame(
        [(1, 8), (2, 9)], "doc_a long, doc_b long")
    plan = plan_of(candidate_shingle_sets(docs, cands))
    assert "array_distinct" in plan
    # only the semi-join may exchange; no aggregation anywhere
    assert _count_nodes(plan, "HashAggregate") == 2  # cand_ids distinct only
    sets_side = plan.split("LeftSemi")[0]
    assert "HashAggregate" not in sets_side


def test_winnow_fingerprint_shuffle_free(docs):
    from webextract.functions.text import norm_text, winnow_fingerprint

    plan = plan_of(docs.select(
        "doc_id", winnow_fingerprint(norm_text("text")).alias("fp")))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode: pure array expressions


def test_resume_anti_join_shape(spark):
    pages = pages_from_documents(spark, SF)
    done = pages.limit(10).select("url")
    plan = plan_of(plan_todo(pages, done))
    assert "LeftAnti" in plan


def test_metrics_two_phase_aggregation(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    plan = plan_of(agg)
    # partial + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "ReadSchema: struct<event_type:string>" in plan


def test_verify_join_keys_are_hashed_longs(spark, docs):
    # the common-shingle verify joins must exchange 8-byte hash60 ints,
    # not n-gram strings (PLANS.md "Near-dup verify"): the exploded
    # shingle column is bigint end to end
    from webextract.functions.dedup import candidate_shingle_sets

    cands = spark.createDataFrame(
        [(1, 8), (2, 9)], "doc_a long, doc_b long")
    sets = candidate_shingle_sets(docs, cands)
    assert dict(sets.dtypes)["shs"] == "array<bigint>"


def test_embedding_lsh_banded_equi_join(spark):
    # banded near-dup: keyed equi-joins on band_key only — a cartesian /
    # broadcast-nested-loop here would be the all-pairs plan the banding
    # exists to avoid
    from webextract.functions.similarity import near_duplicate_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(near_duplicate_pairs_lsh(emb, threshold=0.3, dim=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan


def test_text_features_prune_to_consumed_columns(spark, docs):
    # with_text_features carries 11 derived columns; a consumer that
    # aggregates only n_tokens must see NONE of the marker-filter or
    # quality work in its optimized plan (column pruning through the
    # staged projections)
    from webextract.functions.text import with_text_features

    q = with_text_features(docs).groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"))
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    assert "n_stop" not in optimized
    assert "_r_" not in optimized          # no language ratio columns
    assert "quality" not in optimized
    assert "ArrayFilter" not in optimized  # no marker passes at all


def test_lang_id_ascii_guard_gates_script_counts(spark, docs):
    # the lang_id audit (round 7): the six Unicode-script regexp counts
    # — the only per-char regex scans in the language guess — must each
    # sit under the CASE WHEN (_na AND nsc>0) guard, where _na is ONE
    # any-non-ASCII rlike evaluated once per row. On the (majority)
    # pure-ASCII pages of a crawl the guard short-circuits all six
    # scans; if CollapseProject ever inlined _na per reference, the
    # rlike would run six times and the guard would stop paying.
    import re

    from webextract.functions.text import (
        LANG_MARKERS, SCRIPT_RANGES, with_text_features,
    )

    q = with_text_features(docs).groupBy("lang", "guess_lang").count()
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    # regexp_count compiles to size(regexp_extract_all(...)) — exactly
    # one per script class, each under the _na guard
    n_scripts = len(SCRIPT_RANGES)
    scans = re.findall(
        r"CASE WHEN \(_na#\d+ AND \(_nsc#\d+ > 0\)\) THEN "
        r"\(cast\(size\(regexp_extract_all\(", optimized)
    assert len(scans) == n_scripts, optimized
    assert len(re.findall(
        r"regexp_extract_all\(", optimized)) == n_scripts
    # the guard itself is a single RLIKE evaluation
    assert len(re.findall(r"RLIKE", optimized)) == 1, optimized
    # one single-pass token filter per marker language, none duplicated
    assert len(re.findall(r"filter\(", optimized)) == len(LANG_MARKERS)


def test_curate_full_approx_no_full_corpus_stratum_sort(spark):
    # the COMPOSED production chain in approx budget mode (round-7 pin;
    # the standalone token_budget_sample pin is
    # test_functions.py::test_token_budget_approx_prunes_before_sort):
    # the final per-stratum running-sum window must consume the
    # bucket-pruned candidate slice, not the full survivor corpus — at
    # 10^12 docs the full-corpus per-stratum sort is the one remaining
    # scale-killer the approx mode exists to remove.
    import re

    import __spark_entry__ as entrymod

    df = entrymod.q_curate_full(spark, SF, budget_mode="approx")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # two-phase machinery present: sketch edges + bucket histogram
    assert "percentile_approx" in opt
    # exactly two windows: the bucket-mass running sum and the final
    # exact cum-sum; the FINAL one (outermost, printed first) orders by
    # quality priority and sits ABOVE the _bucket slice logic
    windows = re.findall(r"Window \[.{0,160}", opt)
    assert len(windows) == 2, windows
    assert "quality_score" in windows[0] and "DESC" in windows[0]
    assert "_bucket" in windows[1]
    assert opt.index("Window") < opt.index("_bucket")
    # contrast: the exact-mode chain has no sketch stage
    exact = entrymod.q_curate_full(spark, SF, budget_mode="exact") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in exact


def test_text_features_shared_arrays_single_evaluation(spark, docs):
    # the quality_scores audit (round 6): every shared intermediate —
    # the normalized text (regexp_replace), the token array
    # (split(norm,' ')), the line array (split(text,'\n')) and the
    # sorted 2-gram fold (aggregate) — must appear EXACTLY ONCE in the
    # optimized plan. If CollapseProject ever inlines one of the staged
    # aliases, a dozen gates re-run the split per reference and the
    # query regresses ~2-12x (the round-5 curate bug class).
    import re

    from webextract.functions.text import with_text_features

    q = with_text_features(docs).select(
        "doc_id", "guess_lang", "n_tokens", "stop_ratio", "mean_word_len",
        "symbol_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
        "dup_line_frac", "top2gram_char_frac", "quality_score",
        "fingerprint")
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"regexp_replace\(", optimized)) == 1  # norm
    assert len(re.findall(r"split\(norm", optimized)) == 1       # _toks
    assert len(re.findall(r"split\(text", optimized)) == 1       # _lines
    assert len(re.findall(r"aggregate\(", optimized)) == 1       # _top2


def test_driver_reads_spread_by_table(spark):
    # one read rule per driver table: every documents-fed query, map-heavy
    # or aggregation-only alike, gets the round-robin spread of the
    # one-split sf0.001 scan; events, whose consumers are all
    # aggregations, is read as is. Checked on the executed (AQE final)
    # plans, so a spread that AQE would drop does not count.
    import __spark_entry__ as entrymod

    if spark.sparkContext.defaultParallelism == 1:
        pytest.skip("one core: _spread never repartitions")
    qs = entrymod.queries()

    def executed(name: str) -> str:
        df = qs[name](spark, SF)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    assert "RoundRobinPartitioning" in executed("dedup_exact")
    assert "RoundRobinPartitioning" in executed("media_features")
    assert "RoundRobinPartitioning" not in executed("events_confusion")


def test_driver_scan_probe_is_keyed_by_width():
    # a scan's split count follows the session width, so the probe memo
    # is keyed by (table, width): a count probed at width 8 and reused at
    # width 16 would spread a scan that already fills the 16 cores
    from types import SimpleNamespace as NS

    import __spark_entry__ as entrymod

    probes: list[int] = []
    for width in (8, 16, 16):
        df = NS(sparkSession=NS(sparkContext=NS(defaultParallelism=width)),
                rdd=NS(getNumPartitions=lambda w=width: probes.append(w) or w),
                repartition=lambda n: "spread")
        assert entrymod._spread(df, "test://probe-by-width") is df
    assert probes == [8, 16]


def test_curate_full_decontamination_explodes_distinct_grams(spark,
                                                             monkeypatch):
    # both sides of curate_full's decontamination semi-join explode each
    # text's DISTINCT 8-gram hashes: a boilerplate-heavy doc repeats
    # grams, and each repeat would be one more row into the join.
    # curate_full checkpoints the decontaminated frame, which cuts it out
    # of the final plan, so plans are read as they are checkpointed.
    import __spark_entry__ as entrymod

    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint
    plans: list[str] = []

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    entrymod.q_curate_full(spark, SF)
    text = "\n".join(plans)
    assert text.count("explode(array_distinct(transform(") == 2, plans
    assert "explode(transform(" not in text
