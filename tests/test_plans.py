"""Physical-plan shape guards: the properties that keep the engine fast at
100 TB — predicate pushdown into the parquet scan, column pruning across the
Python boundary, broadcast joins for small dims — asserted on .explain
output so regressions fail loudly."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_region_filter_pushdown(spark):
    """SetRectangle-analogue predicates reach the parquet scan."""
    from tesserocr_spark.queries.relational import region_filter

    plan = _plan(region_filter(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:300]


def test_q1_filter_pushdown_and_codegen(spark):
    from tesserocr_spark.queries.relational import q1_flagship_agg

    df = q1_flagship_agg(spark, SF_DIR)
    df.collect()  # finalize the AQE plan so codegen stages are visible
    plan = _plan(df)
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    assert "*(1) HashAggregate" in plan or "*(2) HashAggregate" in plan  # codegen'd agg
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_revenue_join_broadcasts_dims(spark):
    from tesserocr_spark.queries.relational import revenue_by_nation

    plan = _plan(revenue_by_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_extract_text_prunes_columns(spark):
    """The text-only query must not read text/warc_ts/lang from parquet —
    column pruning through the Arrow UDF boundary."""
    from pyspark.sql import functions as F

    from tesserocr_spark.api import extract_text_only
    from tesserocr_spark.pages import synthetic_pages

    path = "/tmp/tesserocr_plan_pages"
    synthetic_pages(spark, 20).write.mode("overwrite").parquet(path)
    plan = _plan(extract_text_only(spark.read.parquet(path)))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "text" not in read_schema


def test_single_arrow_eval_for_full_extract(spark):
    """Expanding res.* must not duplicate the Python stage."""
    from tesserocr_spark.api import extract_pages
    from tesserocr_spark.pages import synthetic_pages

    plan = _plan(extract_pages(synthetic_pages(spark, 10)))
    assert plan.count("ArrowEvalPython") == 1


def test_single_arrow_eval_for_spans_views_of_unpersisted_extract(spark):
    """spans_long (and tsv_sink over it) and word_recognition_language on
    an unpersisted extract_pages frame run the extractor once: a plain
    (pos)explode made the optimizer infer ``size(spans) > 0`` below the
    projection and evaluate the UDF a second time for that filter alone."""
    from tesserocr_spark.api import extract_pages, spans_long
    from tesserocr_spark.attributes import word_recognition_language
    from tesserocr_spark.pages import synthetic_pages
    from tesserocr_spark.sinks import tsv_sink

    pages = synthetic_pages(spark, 10)
    for view in (spans_long, tsv_sink, word_recognition_language):
        assert _plan(view(extract_pages(pages))).count("ArrowEvalPython") == 1, view


def test_word_view_window_pruned_when_pos_unread(spark):
    """The reading-order word view's ``pos`` window is dropped by the
    optimizer when nothing reads ``pos`` (mean/fold/paragraph views), and
    kept exactly once when it is read."""
    from tesserocr_spark.api import spans_long
    from tesserocr_spark.attributes import paragraph_is_ltr
    from tesserocr_spark.queries.extraction import (
        all_words,
        fold_from_spans,
        mean_text_conf,
    )
    from tesserocr_spark.queries.registry import docs_for

    def windows(df) -> int:
        return df._jdf.queryExecution().optimizedPlan().toString().count("Window [")

    sl = spans_long(docs_for(spark, SF_DIR))
    for df in (mean_text_conf(spark, SF_DIR), fold_from_spans(spark, SF_DIR),
               paragraph_is_ltr(sl)):
        assert windows(df) == 0
    assert windows(all_words(spark, SF_DIR)) == 1


def test_dedup_exact_single_shuffle(spark):
    """Exact dedup = one hash-agg shuffle keyed by fingerprint."""
    from tesserocr_spark.queries.dedup import dedup_exact

    plan = _plan(dedup_exact(spark, SF_DIR))
    # AQE may add reads, but there must be exactly one Exchange boundary
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_signatures_zero_shuffle(spark):
    """Signature computation is pure array expressions — no Exchange at all
    (the old posexplode + per-doc window build paid a sort shuffle that
    dominated BENCH_r01 and anti-scaled 8→32 cores). Measured r06: a
    round-robin input spread does NOT pay for itself here (the signature
    map work is too cheap), so the plan stays exchange-free."""
    from tesserocr_spark.queries.dedup import minhash_signatures

    assert "Exchange" not in _plan(minhash_signatures(spark, SF_DIR))


def test_simhash_signatures_zero_shuffle(spark):
    from tesserocr_spark.queries.dedup import simhash_signatures

    assert "Exchange" not in _plan(simhash_signatures(spark, SF_DIR))


@pytest.fixture(scope="module")
def many_files_dir(spark, tmp_path_factory) -> str:
    """An sf_dir whose documents.parquet is written as >= defaultParallelism
    files: a corpus-shaped input that the one spread policy
    (``pages.spread``) must leave unspread."""
    n = spark.sparkContext.defaultParallelism
    out = tmp_path_factory.mktemp("many_files")
    (spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(n)
     .write.parquet(f"{out}/documents.parquet"))
    assert len(spark.read.parquet(f"{out}/documents.parquet").inputFiles()) >= n
    return str(out)


def _round_robins(plan: str) -> int:
    return plan.count("Exchange RoundRobinPartitioning")


def test_pages_from_documents_spreads_only_few_file_input(spark, many_files_dir):
    """The extraction input is spread round-robin to one partition per core
    when the documents scan reads fewer files than cores, and left alone
    when it already reads enough of them."""
    from tesserocr_spark.pages import pages_from_documents

    n = spark.sparkContext.defaultParallelism
    plan = _plan(pages_from_documents(spark, SF_DIR))
    assert _round_robins(plan) == 1
    assert f"RoundRobinPartitioning({n})" in plan
    assert _round_robins(_plan(pages_from_documents(spark, many_files_dir))) == 0


def test_substring_dedup_spreads_input_keylessly(spark, many_files_dir):
    """The substring-dedup map stage (md5 fingerprints of every 8-word
    window) is heavy enough that the single-file testdata scan must be
    spread round-robin before it — but only keyless: the real shuffles
    stay the gram aggregate and per-doc regroup. A many-file input is not
    spread at all. (The word-array frame is persisted and its plan prints
    once per use, so the single-file count is not exactly one.)"""
    from tesserocr_spark.queries.dedup import dedup_substrings

    assert _round_robins(_plan(dedup_substrings(spark, SF_DIR))) >= 1
    assert _round_robins(_plan(dedup_substrings(spark, many_files_dir))) == 0


def _assert_codec_plan_shape(plan: str, name: str, spread: bool = True) -> None:
    """The codec-query contract: both kernels chain as two MapInPandas in
    ONE stage over a doc_id-only pruned scan, and the only Exchange the
    plan may contain is the id fan-out BELOW them — it carries nothing
    but the 8-byte doc_id, so payload bytes still never cross the wire
    (shuffle the proxy, not the payload; the fan-out exists because the
    single-file testdata scan would otherwise run the kernels serially).
    ``spread=False``: the input reads enough files, so no Exchange at all."""
    assert plan.count("MapInPandas") == 2, name
    assert "ReadSchema: struct<doc_id:bigint>" in plan, name
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges == int(spread), name
    if n_exchanges:
        # the fan-out is a keyless round-robin of the id frame only, and it
        # sits BELOW both kernels (parents print first in toString): the
        # scan it repartitions reads nothing but doc_id, so no payload
        # column ever enters an exchange
        assert _round_robins(plan) == 1, name
        assert plan.index("MapInPandas") < plan.index("Exchange "), name
        scan_after_exchange = plan[plan.index("Exchange ") :]
        assert "FileScan parquet [doc_id#" in scan_after_exchange, name


def test_multimodal_decode_chains_kernels_payloads_off_the_wire(spark):
    """synth_payload_map -> decode_map must chain as two MapInPandas in the
    SAME stage (partition-independent) over a doc_id-only pruned scan;
    only the id fan-out may shuffle, never payload bytes."""
    from tesserocr_spark.queries.textops import multimodal_decode

    _assert_codec_plan_shape(
        _plan(multimodal_decode(spark, SF_DIR)), "multimodal_decode"
    )


def test_multimodal_pixels_chains_kernels_payloads_off_the_wire(spark):
    """Full PNG pixel decode: synth -> pixel_stats as two chained
    MapInPandas in one stage — payload bytes stay on the partition that
    synthesized them."""
    from tesserocr_spark.queries.textops import multimodal_pixels

    _assert_codec_plan_shape(
        _plan(multimodal_pixels(spark, SF_DIR)), "multimodal_pixels"
    )


def test_multimodal_codec_queries_chain_kernels_payloads_off_the_wire(
    spark, many_files_dir
):
    """Every full-decode codec query (GIF LZW, baseline JPEG, multi-page
    TIFF, PNM, PCM audio) keeps the multimodal_pixels plan shape — payload
    bytes never cross the wire, even for the TIFF per-page fan-out — and
    over a many-file input the JPEG plan has no Exchange at all."""
    from tesserocr_spark.queries.textops import (
        multimodal_audio,
        multimodal_gif,
        multimodal_jpeg,
        multimodal_pnm,
        multimodal_tiff,
    )

    for q in (multimodal_gif, multimodal_jpeg, multimodal_tiff,
              multimodal_pnm, multimodal_audio):
        _assert_codec_plan_shape(_plan(q(spark, SF_DIR)), q.__name__)
    _assert_codec_plan_shape(
        _plan(multimodal_jpeg(spark, many_files_dir)), "multimodal_jpeg",
        spread=False,
    )


def test_minhash_lsh_banded_equi_join_not_allpairs(spark):
    """The b×r band keys must reach the candidate self-join as equi keys
    (hash/sort-merge), never a nested-loop/cartesian all-pairs plan."""
    from tesserocr_spark.queries.dedup import dedup_minhash_lsh

    plan = _plan(dedup_minhash_lsh(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_hashes_each_shingle_once(spark):
    """Each shingle's md5 base hash is computed once, in the persisted
    shingle frame — never under the per-band minhash projection, where
    CollapseProject would inline it into all 8 band lambdas and hash every
    shingle once per band. Holds for the signature rows too."""
    from tesserocr_spark.queries.dedup import (
        dedup_minhash_lsh,
        minhash_signatures,
    )

    for q in (dedup_minhash_lsh, minhash_signatures):
        opt = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        minhash = [ln for ln in opt.splitlines() if "array_min(" in ln]
        assert minhash, f"{q.__name__}: no minhash projection in the plan"
        assert not [ln for ln in minhash if "md5(" in ln], q.__name__
        # the base hash still exists, once, below the cache
        assert "md5(" in opt, q.__name__


def test_simhash_hashes_each_word_once(spark):
    """Each word's md5 hash is computed once, in the persisted word-hash
    frame — never under the per-bit signature projection, where
    CollapseProject would inline it into every bit's lambda and hash each
    word 16 (or 60) times."""
    from tesserocr_spark.queries.dedup import (
        dedup_simhash,
        dedup_simhash64,
        simhash_signatures,
    )

    for q in (simhash_signatures, dedup_simhash, dedup_simhash64):
        opt = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        per_bit = [ln for ln in opt.splitlines() if "shiftright(" in ln]
        assert per_bit, f"{q.__name__}: no per-bit projection in the plan"
        assert not [ln for ln in per_bit if "md5(" in ln], q.__name__
        assert "md5(" in opt, q.__name__


def test_simhash_pairs_use_equi_join_not_allpairs(spark):
    """Pigeonhole bit-slice blocking must reach the join as equi keys — an
    all-pairs theta join (BNLJ/cartesian) is the O(N²) scale-killer."""
    from tesserocr_spark.queries.dedup import dedup_simhash

    plan = _plan(dedup_simhash(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash64_pairs_use_equi_join_not_allpairs(spark):
    from tesserocr_spark.queries.dedup import dedup_simhash64

    plan = _plan(dedup_simhash64(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash64_slice_keys_content_derived(spark):
    """The scale property the 64-bit variant exists for: slice values are
    20-bit content hashes, so distinct (sid, sval) join keys grow with the
    corpus — unlike the 16-bit operator whose slices have <= 64 possible
    values and degenerate to fixed buckets at 100 TB."""
    from pyspark.sql import functions as F

    from tesserocr_spark.queries.dedup import (
        _SIMHASH64_BITS,
        _candidates_exact,
        _simhash,
        _simhash_slices,
    )

    s = _simhash(_candidates_exact(spark, SF_DIR), _SIMHASH64_BITS)
    keys = (
        s.select(F.explode(F.expr(_simhash_slices(_SIMHASH64_BITS))).alias("p"))
        .select("p.sid", "p.sval")
        .distinct()
        .count()
    )
    n_docs = s.count()
    # planted copies share all 3 slices with their source, so the unique-text
    # corpus contributes ~3 fresh keys per doc; 64-value slices would cap
    # this at 128 total no matter the corpus size
    assert keys > n_docs


def test_ngram_jaccard_uses_equi_join_not_allpairs(spark):
    from tesserocr_spark.queries.dedup import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_broadcasts_queries(spark):
    """Query vectors are broadcast; the corpus side never shuffles."""
    from tesserocr_spark.queries.similarity import ann_bruteforce_topk

    plan = _plan(ann_bruteforce_topk(spark, SF_DIR))
    # query side broadcast; corpus side scanned in place
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    # rank-limit pushed below the shuffle: only each partition's top-k moves
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the only wide exchange is the per-query regroup
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_is_single_window_no_join(spark):
    """The as-of composition must plan as one user_id shuffle + window —
    no join operator at all (a BNLJ here would be quadratic per user)."""
    from tesserocr_spark.queries.relational import events_asof_view

    plan = _plan(events_asof_view(spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join_not_bnlj(spark):
    """Band bucketing must turn the time-range join into an equi hash/merge
    join; a BroadcastNestedLoopJoin or CartesianProduct means the bands
    didn't reach the join keys."""
    from tesserocr_spark.queries.relational import events_range_join

    plan = _plan(events_range_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with no
    Exchange and no Sort — the co-located join layout for corpus-scale."""
    from tesserocr_spark.jobs import write_bucketed_table
    from tesserocr_spark.pages import synthetic_pages

    pages = synthetic_pages(spark, 200).select("url", "lang")
    texts = synthetic_pages(spark, 200).select("url", "warc_ts")
    write_bucketed_table(pages, "bq_pages", n_buckets=4)
    write_bucketed_table(texts, "bq_texts", n_buckets=4)
    try:
        # hint forces SMJ (tiny test tables would otherwise broadcast);
        # the property under test is the absence of Exchange/Sort
        joined = spark.table("bq_pages").hint("merge").join(
            spark.table("bq_texts"), "url")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bq_pages")
        spark.sql("DROP TABLE IF EXISTS bq_texts")


def test_tfidf_single_term_join_no_cartesian(spark):
    """tf->df derivation must reuse the aggregate, and the n_docs scalar is
    an explicit broadcast — no cartesian blowup, exactly one non-broadcast
    join key (term)."""
    from tesserocr_spark.queries.textops import tfidf_top_terms

    plan = _plan(tfidf_top_terms(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the scalar crossJoin is a broadcast nested loop over ONE row, fine;
    # the term join must be hash-based
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_decontamination_broadcasts_eval_side(spark):
    """The eval set is tiny by construction — its gram frame must broadcast
    so the training side never shuffles on the gram key."""
    from tesserocr_spark.queries.textops import decontaminate_ngram_overlap

    plan = _plan(decontaminate_ngram_overlap(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_no_shuffle(spark):
    """Hash-bucket sampling is a pure map-side filter."""
    from tesserocr_spark.queries.textops import stratified_sample

    assert "Exchange" not in _plan(stratified_sample(spark, SF_DIR))


def test_token_budget_pack_partitions_by_source(spark):
    """Packing must window per source (parallel), never a global sort."""
    from tesserocr_spark.queries.textops import token_budget_pack

    plan = _plan(token_budget_pack(spark, SF_DIR))
    assert "hashpartitioning(source" in plan
    assert "rangepartitioning" not in plan  # a global orderBy would add one


def test_substring_dedup_gram_join_is_equi_not_allpairs(spark):
    """ExactSubstr: the occ⋈freq gram join must key on the 16-byte md5
    window hash (hash/sort-merge equi join), never an all-pairs plan, and
    the kept-word rebuild must not smuggle in a window over the corpus."""
    from tesserocr_spark.queries.dedup import dedup_substrings

    plan = _plan(dedup_substrings(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def _jobs(spark, gid: str, action) -> int:
    """The Spark jobs ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("name, most", [
    ("dedup_campaign_keep_lsh", 7),
    ("dedup_substrings", 8),
])
def test_dedup_scans_job_budget(spark, name, most):
    """Each Spark job and codegen stage costs classes in Spark's 100-entry
    codegen cache, which the benchmark mix overflows. The LSH campaign
    verifies each candidate in the band join that finds it (no distinct,
    no verify joins) and finishes connected components from one bounded
    fetch; the substring scan reads its word frame twice and collects the
    covered positions with the words as key (no join back). 7 and 8 jobs
    at sf0.001, down from 15 and 10, with the same rows."""
    from tesserocr_spark.queries import QUERIES, registry

    registry.release_cache()
    n = _jobs(spark, f"budget_{name}", lambda: QUERIES[name](spark, SF_DIR).collect())
    registry.release_cache()
    assert n <= most, n


def test_connected_components_under_budget_job_budget(spark):
    """A graph under the edge budget is fetched once, with no distinct,
    count or checkpoint job: the fetch and the caller's collect."""
    from tesserocr_spark.queries.dedup import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(400)], "src long, dst long")
    assert _jobs(spark, "cc_budget", lambda: connected_components(df).collect()) <= 1
