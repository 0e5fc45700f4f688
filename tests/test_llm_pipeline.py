"""Oracle-parity tests for the LLM-pipeline families (SURVEY §2 #28-39)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_record_matches_oracle

LLM_KEYS = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "centroid_similarity",
    "text_language_id",
    "text_quality_score",
    "text_token_stats",
    "doc_fingerprint",
    "dedup_clusters",
    "text_pii_flag",
    "dedup_lines",
    "text_rarity_score",
    "embedding_quantize_int8",
    "corpus_sample_stratified",
    "ann_recall_report",
]


@pytest.mark.parametrize("key", LLM_KEYS)
def test_llm_pipeline_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_ann_lsh_subset_of_brute_force(spark):
    """LSH top-k candidates are drawn from the probe's bucket, and every
    returned cosine must also appear in the brute-force scoring for that
    probe (approximation affects recall, never correctness of scores)."""
    from tests.conftest import SF_DIR

    brute = {
        (r.probe_id, r.vec_id): r.cosine
        for r in entrymod.queries()["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    from gdalos_spark.operators.similarity import _base, _pair_cos  # noqa: F401

    lsh = entrymod.queries()["ann_lsh_topk"](spark, SF_DIR).collect()
    assert len(lsh) > 0
    for r in lsh:
        if (r.probe_id, r.vec_id) in brute:
            assert brute[(r.probe_id, r.vec_id)] == r.cosine


def test_corpus_filter_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "corpus_filter")


def test_cc_alternating_logn_rounds_on_chain(spark):
    """Star compression must converge in O(log n) rounds on a
    chain-shaped component — the pathological case where min-label
    propagation needs diameter (= n-1) rounds. n=64 chain: diameter 63,
    2*log2(64) = 12."""
    import math

    from gdalos_spark.operators.dedup import _cc_alternating

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    roots, rounds, converged = _cc_alternating(chain)
    assert converged
    assert rounds <= 2 * math.ceil(math.log2(n))
    rows = roots.collect()
    assert len(rows) == n - 1  # every non-root vertex mapped
    assert all(r.root == 0 for r in rows)


def test_cc_alternating_holds_only_its_last_round(spark):
    """Each star round frees the previous round's checkpoint (and round
    1 the ingest's) once it is materialized: on the 64-node chain the
    loop returns holding one checkpoint, its last round's, which the
    query boundary then frees."""
    from gdalos_spark.datamodel import release_query_caches
    from gdalos_spark.operators.dedup import _cc_alternating

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    release_query_caches()
    before = persistent()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a bigint, doc_b bigint"
    )
    roots, rounds, converged = _cc_alternating(chain)
    assert converged and rounds > 1
    assert len(persistent() - before) == 1
    assert len(roots.collect()) == 63
    release_query_caches()
    assert persistent() <= before


def test_cc_alternating_multiple_components(spark):
    """Two components + a singleton pair: roots must be per-component
    minima, never cross-linked."""
    from gdalos_spark.operators.dedup import _cc_alternating

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 4), (100, 101)], "doc_a bigint, doc_b bigint"
    )
    roots, _, converged = _cc_alternating(pairs)
    assert converged
    got = {(r.node, r.root) for r in roots.collect()}
    assert got == {(5, 1), (9, 1), (4, 2), (101, 100)}


def test_round3_llm_additions_match_oracle(record, ducks):
    for key in ("benchmark_contamination", "corpus_mix_sample", "text_ngram_topk"):
        assert_record_matches_oracle(record, ducks, key)


def test_corpus_mix_sample_rates_realize_budget(spark):
    """Planned rates must sum to about the target budget (exact when no
    source saturates at rate=1.0), and achieved fractions track rates."""
    from gdalos_spark.operators.pipeline import MIX_TARGET_DOCS
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["corpus_mix_sample"](spark, SF_DIR).collect()
    assert rows
    planned = sum(r.rate * r.n_total for r in rows)
    capped = any(r.rate >= 1.0 for r in rows)
    if not capped:
        assert abs(planned - MIX_TARGET_DOCS) < 1.0
    for r in rows:
        assert 0.0 <= r.rate <= 1.0
        assert abs(r.achieved_frac - r.rate) < 0.25  # hash-sample variance


def test_embedding_pq_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "embedding_pq")


def test_embedding_pq_codebook_reconstructs_exactly(spark):
    """Vectors that ARE codewords must quantize to themselves: code_i =
    vec_id in every subspace and rel_err = 0."""
    from gdalos_spark.operators.similarity import PQ_K
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["embedding_pq"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.vec_id < PQ_K:
            assert (r.code0, r.code1, r.code2, r.code3) == (r.vec_id,) * 4
            assert r.rel_err == 0.0
        assert 0 <= min(r.code0, r.code1, r.code2, r.code3)
        assert max(r.code0, r.code1, r.code2, r.code3) < PQ_K


def test_text_repetition_score_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "text_repetition_score")


def test_text_repetition_score_signal_bounds(spark):
    """Signals are valid fractions; a doc whose top token share exceeds
    the Gopher threshold is flagged."""
    from gdalos_spark.operators.text import REP_TOPTOK_THRESH
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["text_repetition_score"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.top_tok_frac <= 1.0
        assert 0.0 <= r.top_2gram_frac <= 1.0
        assert 0.0 <= r.dup_3gram_frac <= 1.0
        if r.top_tok_frac > REP_TOPTOK_THRESH:
            assert r.repetitive == 1


def test_sequence_packing_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "sequence_packing")


def test_sequence_packing_streams_are_gapless(spark):
    """Within every (source, shard) stream the offsets tile the token
    stream exactly: sorted docs satisfy offset[i+1] = offset[i] + n_tokens[i],
    and sequence ids are consistent with the offsets."""
    from gdalos_spark.operators.pipeline import PACK_CTX
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["sequence_packing"](spark, SF_DIR).collect()
    assert rows
    streams = {}
    for r in rows:
        streams.setdefault((r.source, r.shard), []).append(r)
    for docs in streams.values():
        docs.sort(key=lambda r: r.doc_id)
        run = 0
        for r in docs:
            assert r.offset == run
            assert r.first_seq == r.offset // PACK_CTX
            assert r.last_seq == (r.offset + r.n_tokens - 1) // PACK_CTX
            assert r.spans_boundary == int(r.last_seq > r.first_seq)
            run += r.n_tokens


def test_kmeans_refine_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "kmeans_refine")


def test_kmeans_refine_partitions_all_vectors(spark):
    """Every vector lands in exactly one cluster (counts sum to the table
    size), each seed keeps itself (distance 0 => own cluster nonempty),
    and inertia/shift are non-negative."""
    from tests.conftest import SF_DIR
    from gdalos_spark.datamodel import load
    from gdalos_spark.operators.similarity import KM_K

    rows = entrymod.queries()["kmeans_refine"](spark, SF_DIR).collect()
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert len(rows) == KM_K
    assert sum(r.n_members for r in rows) == n_vecs
    for r in rows:
        assert r.n_members >= 1
        assert r.inertia >= 0.0
        assert r.shift_l1 >= 0.0


def test_text_c4_filters_rule_consistency(spark):
    """Per-line rule counts must be internally consistent: kept lines are
    exactly those failing no rule, and a blocked doc is never kept."""
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["text_c4_filters"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_kept <= r.n_lines
        assert r.n_short + r.n_no_stopword + r.n_blocked >= r.n_lines - r.n_kept
        if r.keep_doc:
            assert r.n_blocked == 0 and r.n_kept >= 3


def test_semantic_dedup_keeps_one_per_dup_group(spark):
    """In every cluster, at least one member is kept (the global keeper
    has no better duplicate), and is_dup implies a positive count."""
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["semantic_dedup"](spark, SF_DIR).collect()
    assert rows
    by_label = {}
    for r in rows:
        assert (r.is_dup == 1) == (r.n_better_dups > 0)
        by_label.setdefault(r.label, []).append(r)
    for members in by_label.values():
        assert any(m.is_dup == 0 for m in members)


def test_ann_ivfpq_ranks_are_dense_topk(spark):
    """Every probe returns at most TOP_K rows with dense ranks 1..n."""
    from gdalos_spark.operators.similarity import TOP_K
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["ann_ivfpq_topk"](spark, SF_DIR).collect()
    assert rows
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r.probe_id, []).append(r.rank)
        assert r.adc_dist2 >= 0.0
    for ranks in per_probe.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= TOP_K


def test_round4_scoring_additions_match_oracle(record, ducks):
    for key in ("text_unigram_logprob", "corpus_curation_report"):
        assert_record_matches_oracle(record, ducks, key)


def test_unigram_logprob_matches_native_log2(spark):
    """The polynomial log2 must track IEEE log2 to well under the 1e-6
    micro-unit: recompute one document's mean bits in Python."""
    import math

    from tests.conftest import SF_DIR

    rows = entrymod.queries()["text_unigram_logprob"](spark, SF_DIR).collect()
    docs = {r.doc_id: r for r in rows}
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    tf: dict[str, int] = {}
    for t in texts.values():
        for w in t.split(" "):
            tf[w] = tf.get(w, 0) + 1
    n = sum(tf.values())
    did = min(texts)
    toks = texts[did].split(" ")
    want = sum(math.log2(n / tf[w]) for w in toks) / len(toks)
    assert abs(docs[did].mean_bits - want) < 1e-5


def test_curation_report_precedence_and_keep(spark):
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["corpus_curation_report"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r.keep == 1) == (r.drop_reason == "kept")
        if r.is_benchmark:
            assert r.drop_reason == "benchmark"
        if r.keep:
            assert (r.is_exact_dup, r.contaminated, r.semantic_dup) == (0, 0, 0)
            assert r.c4_keep == 1 and r.high_ppl == 0


def test_dsir_importance_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "dsir_importance")


def test_dsir_target_slice_scores_higher(spark):
    """The target source's documents must average a higher importance
    weight than the rest of the corpus — the whole point of DSIR."""
    from gdalos_spark.operators.text import DSIR_TARGET_SOURCE
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["dsir_importance"](spark, SF_DIR).collect()
    tgt = [r.mean_logw_bits for r in rows if r.source == DSIR_TARGET_SOURCE]
    oth = [r.mean_logw_bits for r in rows if r.source != DSIR_TARGET_SOURCE]
    assert tgt and oth
    assert sum(tgt) / len(tgt) > sum(oth) / len(oth)
    for r in rows:
        assert (r.selected == 1) == (r.logw_bits > 0)


def test_polynomial_log2_property(spark):
    """Property check of the engine-neutral log2: for random integers
    the staged bit-length + atanh-Horner polynomial must track
    math.log2 to well inside the 1e-6 micro-unit, across the whole
    magnitude range the tf/N counts can take."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from gdalos_spark.operators.text import _log2_col

    @settings(max_examples=20, deadline=None)
    @given(st.integers(min_value=1, max_value=2**52))
    def check(n):
        df = spark.range(1).select(F.lit(n).cast("bigint").alias("a"))
        got = _log2_col(df, "a", "lg").collect()[0]["lg"]
        assert abs(got - math.log2(n)) < 2e-8, (n, got)

    check()


def test_bm25_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "text_bm25_topk")


def test_bm25_ranks_are_dense_and_score_ordered(spark):
    from tests.conftest import SF_DIR

    rows = sorted(
        entrymod.queries()["text_bm25_topk"](spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    assert rows
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.bm25 > b.bm25 or (a.bm25 == b.bm25 and a.doc_id < b.doc_id)


def test_split_leakage_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "split_leakage_report")


def test_split_leakage_flags_cross_split_pairs(spark):
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["split_leakage_report"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r.is_leak == 1) == (r.split_a != r.split_b)
        assert r.n_pairs > 0 and r.n_docs_a > 0


def test_cc_two_phase_matches_alternating(spark):
    """The contract-then-relabel CC (the never-shuffle-the-pair-stream
    path dedup_clusters runs) labels every random graph identically to
    the plain alternating-star algorithm."""
    import random

    from pyspark.sql import functions as F

    from gdalos_spark.operators.dedup import _cc_alternating, _cc_two_phase

    rng = random.Random(11)
    edges = set()
    # mix: two dense cliques (the quadratic case), a long chain, isolates
    for base in (0, 40):
        members = [base + i for i in range(12)]
        edges |= {(a, b) for a in members for b in members if a < b}
    edges |= {(100 + i, 101 + i) for i in range(30)}
    edges |= {(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(40)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    rm, _, conv = _cc_alternating(pairs)
    assert conv
    base_labels = {r.node: r.root for r in rm.collect()}
    for r in set(base_labels.values()):
        base_labels[r] = r
    lm, conv2 = _cc_two_phase(pairs)
    assert conv2
    two_labels = {r.node: r.root for r in lm.collect()}
    assert two_labels == base_labels
