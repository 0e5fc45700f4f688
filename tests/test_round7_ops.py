"""Round-7-session additions: oracle parity + semantic property tests for
the time-grid resampler, deterministic split assignment, incremental
(delta-vs-index) minhash dedup, the LSH-bucketed kNN graph, and the
three-batch watermark audit."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_matches_oracle, assert_record_matches_oracle

NEW_KEYS = [
    "events_resample_interpolate",
    "corpus_split_assign",
    "dedup_incremental_minhash",
    "embedding_knn_graph",
    "streaming_watermark_audit",
]


@pytest.mark.parametrize("key", NEW_KEYS)
def test_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_resample_grid_bounds_and_interp(spark):
    """Every grid point lies inside its user's [min, max] event span on
    the 6-hour lattice, and interpolated values sit within the corpus
    value range (a convex combination can't extrapolate)."""
    from pyspark.sql import functions as F

    from gdalos_spark.datamodel import load
    from gdalos_spark.operators.temporal import GRID_STEP_S, events_resample_interpolate

    out = events_resample_interpolate(spark, SF_DIR)
    ev = load(spark, SF_DIR, "events").select(
        "user_id", F.col("ts").cast("long").alias("t"), "value"
    )
    span = ev.groupBy("user_id").agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    joined = out.join(span, "user_id")
    assert joined.filter(
        (F.col("grid_ts") < F.col("t0")) | (F.col("grid_ts") > F.col("t1"))
    ).count() == 0
    assert out.filter(F.col("grid_ts") % GRID_STEP_S != 0).count() == 0
    vmin, vmax = ev.agg(F.min("value"), F.max("value")).first()
    bad = out.filter(
        (F.col("v_interp") < vmin - 1e-9) | (F.col("v_interp") > vmax + 1e-9)
    )
    assert bad.count() == 0


def test_split_assign_partitions_every_doc_once(spark):
    """The three splits partition the corpus, and the realized train
    fraction is within a few points of the declared 90% (md5 buckets are
    near-uniform)."""
    from pyspark.sql import functions as F

    from gdalos_spark.operators.pipeline import corpus_split_assign

    out = corpus_split_assign(spark, SF_DIR).cache()
    n_docs = out.count()
    assert out.select("doc_id").distinct().count() == n_docs
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == n_docs
    assert 0.80 <= counts.get("train", 0) / n_docs <= 0.97
    out.unpersist()


def test_incremental_dedup_never_pairs_index_with_index(spark):
    """Every reported match pairs a batch doc with an INDEX doc — the
    delta-join contract (batch-batch and index-index pairs are never
    generated)."""
    from gdalos_spark.operators.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_REM,
        dedup_incremental_minhash,
    )

    rows = dedup_incremental_minhash(spark, SF_DIR).collect()
    assert rows, "batch side is empty"
    for r in rows:
        assert r.doc_id % INC_BATCH_MOD == INC_BATCH_REM
        if r.match_id is not None:
            assert r.match_id % INC_BATCH_MOD != INC_BATCH_REM
            assert r.verdict == "duplicate"
        else:
            assert r.verdict == "new"


def test_knn_graph_ranks_are_dense_and_bucket_bounded(spark):
    """Per-source ranks are 1..deg with no gaps, capped at k, and no
    self-edges; nodes are distinct-vector representatives so src == dst
    never appears even on a replica corpus."""
    from collections import defaultdict

    from gdalos_spark.operators.similarity import KNN_K, embedding_knn_graph

    rows = embedding_knn_graph(spark, SF_DIR).collect()
    assert rows
    per_src = defaultdict(list)
    for r in rows:
        assert r.src_id != r.dst_id
        assert 1 <= r.rank <= KNN_K
        per_src[r.src_id].append(r.rank)
    for src, ranks in per_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_watermark_audit_drops_are_real(spark, ducks):
    """The audit's total event count must sit strictly between zero and
    the full corpus: late batch-3 rows were dropped and open windows
    withheld (if it equals the batch-twin total, watermarking did
    nothing and the operator is vacuous)."""
    from pyspark.sql import functions as F

    from gdalos_spark.datamodel import load
    from gdalos_spark.streaming.events import streaming_watermark_audit

    out = streaming_watermark_audit(spark, SF_DIR)
    streamed = out.agg(F.sum("n")).first()[0]
    total = load(spark, SF_DIR, "events").count()
    assert 0 < streamed < total


def test_label_propagation_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "embedding_label_propagation")


def test_csv_ingest_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "csv_ingest_audit")


def test_label_propagation_seeds_are_clamped(spark):
    """Seed nodes must come out carrying their own true label (clamping
    is the defining property of label propagation with trusted seeds),
    and propagation must actually spread: some non-seed node ends up
    labeled."""
    from pyspark.sql import functions as F

    from gdalos_spark.datamodel import load
    from gdalos_spark.operators.similarity import (
        LP_SEED_MOD,
        embedding_label_propagation,
    )

    out = embedding_label_propagation(spark, SF_DIR).cache()
    emb = load(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("gid"), F.col("label").cast("int").alias("true_label")
    )
    seeds = out.filter(F.col("is_seed") == 1).join(emb, "gid")
    assert seeds.filter(F.col("label") != F.col("true_label")).count() == 0
    assert out.filter((F.col("is_seed") == 0) & F.col("label").isNotNull()).count() > 0
    out.unpersist()


def test_csv_ingest_flags_exactly_the_corrupt_rows(spark):
    """The PERMISSIVE parser must flag exactly the rows the staging
    corrupted (event_id % 97 == 13) — no silent nulls, no over-flagging."""
    from pyspark.sql import functions as F

    from gdalos_spark.datamodel import load
    from gdalos_spark.sources.csv_ingest import (
        CORRUPT_MOD,
        CORRUPT_REM,
        csv_ingest_audit,
    )

    # consume the FULL audit rows (as the driver does): a projection down
    # to n_corrupt alone legitimately re-prunes the CSV parse to the
    # corrupt column and reports zero — the exact trap the operator's
    # docstring records
    rows = csv_ingest_audit(spark, SF_DIR).collect()
    flagged = sum(r.n_corrupt for r in rows)
    expected = (
        load(spark, SF_DIR, "events")
        .filter((F.col("event_id") % CORRUPT_MOD) == CORRUPT_REM)
        .count()
    )
    assert flagged == expected
    assert sum(r.n_rows for r in rows) == load(spark, SF_DIR, "events").count()


def test_round7_plan_shapes(spark):
    """Scale pins for the round-7 additions: the resampler serves both
    bracket windows from TWO exchanges total (span agg + the shared
    user_id window sort — a third would mean the union stream shuffled
    twice); the kNN graph ranks through WindowGroupLimit (partial top-k
    before the final sort); the CSV audit is scan + ONE aggregation
    exchange. The catalog-wide no-cartesian sweep in test_plans.py
    covers these keys too."""
    from gdalos_spark.operators.similarity import embedding_knn_graph
    from gdalos_spark.operators.temporal import events_resample_interpolate
    from gdalos_spark.sources.csv_ingest import csv_ingest_audit

    plan = (
        events_resample_interpolate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan

    plan = (
        embedding_knn_graph(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan

    plan = (
        csv_ingest_audit(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_parquet_sink_oracle_and_exactly_once(spark, ducks):
    """The file sink must match the batch oracle AND a re-run against the
    same checkpoint must add no files (availableNow with a committed log
    has nothing left to process) — the exactly-once contract."""
    import glob as _glob
    import os as _os
    import tempfile as _tempfile

    from gdalos_spark.datamodel import source_fingerprint
    from gdalos_spark.streaming.events import streaming_parquet_sink

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["streaming_parquet_sink"],
        entrymod.oracle_sql()["streaming_parquet_sink"],
    )
    fp = source_fingerprint(f"{SF_DIR}/events.parquet").replace(":", "_")
    out_dir = _os.path.join(
        _tempfile.gettempdir(), "gdalos_stream_sink",
        SF_DIR.strip("/").replace("/", "_"), fp, "out",
    )
    files_before = sorted(_glob.glob(f"{out_dir}/part-*"))
    streaming_parquet_sink(spark, SF_DIR).collect()
    files_after = sorted(_glob.glob(f"{out_dir}/part-*"))
    assert files_before and files_before == files_after


def test_upsert_sink_oracle_and_idempotent_rerun(spark, ducks):
    """foreachBatch merge must equal the batch argmax, and a re-run on
    the committed checkpoint must leave the _CURRENT pointer unchanged
    (no batch re-fires)."""
    import os as _os
    import tempfile as _tempfile

    from gdalos_spark.datamodel import source_fingerprint
    from gdalos_spark.streaming.events import streaming_upsert_sink

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["streaming_upsert_sink"],
        entrymod.oracle_sql()["streaming_upsert_sink"],
    )
    fp = source_fingerprint(f"{SF_DIR}/events.parquet").replace(":", "_")
    ptr = _os.path.join(
        _tempfile.gettempdir(), "gdalos_stream_upsert",
        SF_DIR.strip("/").replace("/", "_"), fp, "_CURRENT",
    )
    before = open(ptr).read()
    streaming_upsert_sink(spark, SF_DIR).collect()
    assert open(ptr).read() == before


def test_seasonal_decompose_oracle_and_additivity(spark, ducks):
    """Oracle parity plus the defining identity: wherever all three
    components exist, volume == trend + seasonal + residual to micro-unit
    exactness."""
    from gdalos_spark.operators.temporal import events_seasonal_decompose

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["events_seasonal_decompose"],
        entrymod.oracle_sql()["events_seasonal_decompose"],
    )
    for r in events_seasonal_decompose(spark, SF_DIR).collect():
        if r.trend is not None and r.seasonal is not None:
            assert abs(r.volume - (r.trend + r.seasonal + r.residual)) < 1e-6


def test_rerank_oracle_and_beats_adc_ordering(spark, ducks):
    """Oracle parity plus the point of reranking: final ranks come from
    exact cosine over the ADC shortlist (every output row carries an
    adc_rank <= RERANK_R), and per probe the rank sequence is dense
    1..k."""
    from collections import defaultdict

    from gdalos_spark.operators.similarity import RERANK_R, TOP_K, ann_ivfpq_rerank

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["ann_ivfpq_rerank"],
        entrymod.oracle_sql()["ann_ivfpq_rerank"],
    )
    rows = ann_ivfpq_rerank(spark, SF_DIR).collect()
    per_probe = defaultdict(list)
    for r in rows:
        assert 1 <= r.adc_rank <= RERANK_R
        per_probe[r.probe_id].append(r.rank)
    for probe, ranks in per_probe.items():
        assert sorted(ranks) == list(range(1, min(TOP_K, len(ranks)) + 1)), probe


def test_resample_short_span_users_dont_crash(spark, tmp_path):
    """A user whose whole event span sits between two grid lines must
    contribute zero grid rows (generate_series semantics), not crash
    Spark's sequence() with illegal boundaries."""
    from pyspark.sql import functions as F

    from gdalos_spark.operators.temporal import GRID_STEP_S, events_resample_interpolate

    d = str(tmp_path)
    df = spark.createDataFrame(
        [(1, 1, "a", 1.5, "x", 1000), (2, 1, "a", 2.5, "x", 2000),
         (3, 2, "a", 3.0, "x", GRID_STEP_S * 5)],
        "event_id long, user_id long, event_type string, value double, props string, es long",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("es") * 1_000_000).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    rows = events_resample_interpolate(spark, d).collect()
    assert [(r.user_id, r.grid_ts, r.v_interp) for r in rows] == [
        (2, GRID_STEP_S * 5, 3.0)
    ]


def test_jsonl_ingest_oracle_and_torn_rows_lose_all_fields(spark, ducks):
    """Oracle parity, plus the JSON-vs-CSV semantic the operator
    certifies: a torn object contributes NOTHING (all fields null, so
    the corrupt group's sums are zero/null) while CSV salvages intact
    fields."""
    from gdalos_spark.sources.csv_ingest import jsonl_ingest_audit

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["jsonl_ingest_audit"],
        entrymod.oracle_sql()["jsonl_ingest_audit"],
    )
    rows = {r.event_type: r for r in jsonl_ingest_audit(spark, SF_DIR).collect()}
    corrupt = rows.get("_corrupt")
    assert corrupt is not None and corrupt.n_corrupt == corrupt.n_rows > 0
    assert corrupt.id_sum is None and corrupt.good_value_sum == 0.0
