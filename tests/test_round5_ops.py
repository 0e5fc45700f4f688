"""Round-5 session additions: oracle parity + semantic property tests for
the BPE training loop, interpolated color relief, normalize-dedup,
k-anonymity, snapshot diff, DBSCAN, and the real-codec multimodal ops
(the latter covered in test_multimodal_streaming.py)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle

NEW_KEYS = [
    "bpe_train_merges",
    "raster_color_interp",
    "text_normalize_dedup",
    "k_anonymity_report",
    "snapshot_diff",
    "dbscan_grid_clusters",
    "bpe_apply_encode",
    "parts_skyline",
    "contrastive_pair_mining",
    "quality_ablation_report",
    "raster_zonal_stats",
    "bloom_join_prune",
    "embedding_norm_outliers",
    "referential_integrity_report",
    "events_funnel_windowed",
    "dedup_union_report",
    "events_ohlc_bars",
    "incremental_agg_update",
    "zonemap_prune_report",
    "streaming_ohlc_bars",
    "multivector_maxsim",
    "user_activity_streaks",
    "attribution_last_touch",
    "langid_confusion_matrix",
    "raster_morphology_open",
    "item_item_similarity",
    "source_vocab_overlap",
    "layout_advisor_report",
    "events_alert_debounce",
    "trigram_entity_search",
    "raster_cost_distance",
    "supplier_kcore",
]


@pytest.mark.parametrize("key", NEW_KEYS)
def test_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_bpe_merges_are_ranked_and_shrink(spark):
    """Each merge's count is positive; applying k merges can only shrink
    the adjacent-pair mass, so counts are non-increasing IN THE GREEDY
    ORDER only when no later pair overtakes — assert the invariants that
    always hold: positive counts, distinct merged symbols, step order."""
    rows = entrymod.queries()["bpe_train_merges"](spark, SF_DIR).collect()
    assert [r.step for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) >= 1
    seen = set()
    for r in rows:
        assert r.n_occ > 0
        assert (r.sym_a, r.sym_b) not in seen
        seen.add((r.sym_a, r.sym_b))


def test_color_interp_channels_bounded_and_continuous(spark):
    """Every channel lands in [0,255]; at an exact palette stop the
    interpolated value equals the stop's channel (continuity pin)."""
    from gdalos_spark.functions.palette import (
        DEFAULT_TALOS_PALETTE,
        read_talos_palette,
    )

    pal = read_talos_palette(DEFAULT_TALOS_PALETTE)
    rows = entrymod.queries()["raster_color_interp"](spark, SF_DIR).collect()
    stops = {int(round(k * 100)): rgba for k, rgba in pal}
    for r in rows:
        for c in ("a", "r", "g", "b"):
            assert 0 <= r[c] <= 255
        vc = int(round(r.elev * 100))
        if vc in stops:
            rgba = stops[vc]
            assert r.a == int(rgba[0:2], 16)
            assert r.r == int(rgba[2:4], 16)


def test_k_anonymity_monotone_in_k(spark):
    """Rows below k can only grow as k grows; fractions stay in [0,1]."""
    rows = sorted(
        entrymod.queries()["k_anonymity_report"](spark, SF_DIR).collect(),
        key=lambda r: r.k,
    )
    prev = -1
    for r in rows:
        assert r.n_rows_below >= prev
        prev = r.n_rows_below
        assert 0.0 <= r.frac_rows_below <= 1.0
        assert r.n_groups_below <= r.n_groups


def test_snapshot_diff_partitions_key_space(spark):
    """added/removed/changed/unchanged partition the union of both
    snapshot key sets; changed rows all carry the +100-cent bump."""
    rows = {r.change_class: r for r in entrymod.queries()["snapshot_diff"](spark, SF_DIR).collect()}
    assert set(rows) <= {"added", "removed", "changed", "unchanged"}
    if "changed" in rows:
        assert rows["changed"].delta_cents == 100 * rows["changed"].n_rows
    if "unchanged" in rows:
        assert rows["unchanged"].delta_cents == 0


def test_dbscan_cluster_structure(spark):
    """Cluster ids are min member ids (<= every other count row), core
    clusters have >= 1 core point, the noise row is unique, and point
    counts add up to the table size."""
    rows = entrymod.queries()["dbscan_grid_clusters"](spark, SF_DIR).collect()
    noise = [r for r in rows if r.cluster_id == -1]
    assert len(noise) == 1
    clusters = [r for r in rows if r.cluster_id != -1]
    for r in clusters:
        assert r.n_core >= 1
        assert r.n_points == r.n_core + r.n_border
    from gdalos_spark.datamodel import load

    total = load(spark, SF_DIR, "events").count()
    assert sum(r.n_points for r in rows) == total


def test_bpe_apply_compression_consistent(spark):
    """tokens_bpe <= tokens_char, compression = char/bpe exactly, and the
    symbol vocabulary exceeds the plain-character alphabet only via the
    learned merges (<= 36 chars + k merges)."""
    from gdalos_spark.operators.vocab import BPE_TRAIN_STEPS

    r = entrymod.queries()["bpe_apply_encode"](spark, SF_DIR).collect()[0]
    assert r.tokens_bpe <= r.tokens_char
    assert abs(r.compression - r.tokens_char / r.tokens_bpe) < 1e-12
    assert r.vocab_syms <= 36 + BPE_TRAIN_STEPS


def test_skyline_is_pareto_front(spark):
    """No skyline point may dominate another skyline point."""
    rows = entrymod.queries()["parts_skyline"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for p in rows:
        for q in rows:
            if p.p_partkey == q.p_partkey:
                continue
            dominates = (
                q.p_retailprice <= p.p_retailprice
                and q.p_size >= p.p_size
                and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
            )
            assert not dominates


def test_contrastive_margins_are_pos_minus_neg(spark):
    rows = entrymod.queries()["contrastive_pair_mining"](spark, SF_DIR).collect()
    for r in rows:
        assert abs(r.margin - (r.pos_cos - r.neg_cos)) < 1e-9
        assert r.pos_id != r.neg_id


def test_quality_ablation_monotone(spark):
    """Buckets 0..9 exist, retained tokens strictly decrease to 0, and
    bucket quality ranges are ordered."""
    rows = sorted(
        entrymod.queries()["quality_ablation_report"](spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(10))
    for a, b in zip(rows, rows[1:]):
        assert a.max_q <= b.min_q
        assert a.retained_tokens > b.retained_tokens or b.retained_tokens == 0
    assert rows[-1].retained_tokens == 0


def test_zonal_stats_bounds(spark):
    rows = entrymod.queries()["raster_zonal_stats"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.min_elev <= r.mean_elev <= r.max_elev
        assert r.std_elev >= 0.0
        assert r.n_cells >= 1


def test_bloom_never_misses_and_bounds_fp(spark):
    """The Bloom guarantee: pass set supersets the true semi-join set;
    fp accounting is internally consistent."""
    r = entrymod.queries()["bloom_join_prune"](spark, SF_DIR).collect()[0]
    assert r.rows_pass_bloom >= r.rows_true_semi
    assert r.false_positives == r.rows_pass_bloom - r.rows_true_semi
    assert 0.0 <= r.fp_rate <= 1.0
    assert r.rows_total >= r.rows_pass_bloom


def test_norm_outliers_chebyshev_bound(spark):
    """At 3 sigma, Chebyshev caps the outlier fraction at 1/9."""
    rows = entrymod.queries()["embedding_norm_outliers"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.n_outliers <= r.n_vecs / 9 + 1
        assert r.mean_n2 > 0.0


def test_referential_integrity_clean_schema(spark):
    """The TPC-H-ish testdata is referentially clean: every declared FK
    edge reports zero orphans and zero null keys (the report exists to
    catch regressions in real feeds, so a clean baseline is the pin)."""
    rows = entrymod.queries()["referential_integrity_report"](spark, SF_DIR).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.orphans == 0
        assert r.null_keys == 0
        assert r.child_rows > 0


def test_windowed_funnel_tighter_than_unbounded(spark):
    """The conversion-window funnel can never count MORE users at steps
    2/3 than the unbounded funnel."""
    win = {r.step: r.n_users for r in entrymod.queries()["events_funnel_windowed"](spark, SF_DIR).collect()}
    unb = entrymod.queries()["events_funnel"](spark, SF_DIR).collect()
    n2 = sum(1 for r in unb if r.stage >= 2)
    n3 = sum(1 for r in unb if r.stage >= 3)
    assert win[2] <= n2
    assert win[3] <= n3
    assert win[3] <= win[2] <= win[1]


def test_dedup_union_votes_consistent(spark):
    """Votes = sum of method flags; exact pairs must also be caught by
    minhash (identical text => identical shingle signatures)."""
    rows = entrymod.queries()["dedup_union_report"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.votes == r.exact + r.minhash + r.simhash
        assert 1 <= r.votes <= 3
        if r.exact:
            assert r.minhash == 1


def test_ohlc_bars_invariants(spark):
    """low <= open/close <= high; volume and count positive; bar starts
    are hour-aligned."""
    rows = entrymod.queries()["events_ohlc_bars"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        assert r.n_events >= 1
        assert r.bar_start_s % 3600 == 0


def test_incremental_merge_is_consistent(spark):
    """The partial-agg merge must equal the full recompute on every
    group — the op is its own audit."""
    rows = entrymod.queries()["incremental_agg_update"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    assert all(r.consistent for r in rows)


def test_zonemap_accounting(spark):
    r = entrymod.queries()["zonemap_prune_report"](spark, SF_DIR).collect()[0]
    assert r.files_pruned <= r.n_files
    assert r.rows_scanned <= r.rows_total
    assert 0.0 <= r.scan_fraction <= 1.0


def test_maxsim_scores_bounded(spark):
    """maxsim of k unit-cosine terms is bounded by k; ranks are 1..K per
    probe doc."""
    from gdalos_spark.operators.similarity import (
        MAXSIM_TOP_K,
        MAXSIM_VECS_PER_DOC,
    )

    rows = entrymod.queries()["multivector_maxsim"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    by_q = {}
    for r in rows:
        assert -MAXSIM_VECS_PER_DOC <= r.maxsim <= MAXSIM_VECS_PER_DOC
        by_q.setdefault(r.q_doc, []).append(r.rank)
    for q_doc, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= MAXSIM_TOP_K


def test_merge_fold_equals_reference_greedy(spark):
    """The fold-based merge expression must equal canonical greedy
    left-to-right BPE on every word over {a,b} up to length 8 and every
    merge pair — including the odd-run cases ('aaaaa', (a,a)) where the
    rejected two-pass replace() variant diverges."""
    import itertools

    from pyspark.sql import functions as F

    from gdalos_spark.operators.vocab import _merge_apply_expr

    def greedy(symbols, a, b):
        out, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        return " ".join(out)

    words = [
        " ".join(w)
        for n in range(1, 9)
        for w in itertools.product("ab", repeat=n)
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    for a, b in itertools.product("ab", repeat=2):
        got = {
            r.s: r.m
            for r in df.select(
                "s", F.expr(_merge_apply_expr("s", a, b)).alias("m")
            ).collect()
        }
        for w in words:
            assert got[w] == greedy(w.split(" "), a, b), (w, a, b, got[w])


def test_streaks_accounting(spark):
    """Streak lengths partition active days; longest <= total."""
    rows = entrymod.queries()["user_activity_streaks"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 1 <= r.longest_streak <= r.n_active_days
        assert r.n_streaks <= r.n_active_days


def test_attribution_partitions_purchases(spark):
    """Every purchase lands in exactly one channel bucket; channels are
    the three touch types plus 'direct'."""
    from gdalos_spark.datamodel import load
    from gdalos_spark.operators.temporal import ATTR_CHANNELS

    rows = entrymod.queries()["attribution_last_touch"](spark, SF_DIR).collect()
    assert {r.channel for r in rows} <= set(ATTR_CHANNELS) | {"direct"}
    total = load(spark, SF_DIR, "events").where("event_type = 'purchase'").count()
    assert sum(r.n_purchases for r in rows) == total


def test_confusion_matrix_recalls_sum_to_one(spark):
    rows = entrymod.queries()["langid_confusion_matrix"](spark, SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, 0.0)
        by_lang[r.lang] += r.recall
        assert r.correct == (r.lang == r.pred_lang)
    for lang, tot in by_lang.items():
        assert abs(tot - 1.0) < 1e-9


def test_morphological_opening_is_anti_extensive(spark):
    """Opening with a symmetric 3x3 element never grows the mask: every
    opened pixel was a mask pixel (no 'grown' class)."""
    rows = entrymod.queries()["raster_morphology_open"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.morph_class in ("kept", "removed")
        if r.opened == 1:
            assert r.mask == 1


def test_item_item_symmetric_cosine(spark):
    """cosine(a,b) must equal cosine(b,a) when both directions appear,
    and lie in (0, 1]."""
    rows = entrymod.queries()["item_item_similarity"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    sim = {(r.part, r.neighbor): r.cosine for r in rows}
    for (a, b), c in sim.items():
        assert 0.0 < c <= 1.0
        if (b, a) in sim:
            assert sim[(b, a)] == c


def test_source_overlap_jaccard_bounds(spark):
    rows = entrymod.queries()["source_vocab_overlap"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.inter <= min(r.na, r.nb)
        assert r.sa < r.sb


def test_layout_advisor_orders_layouts_sensibly(spark):
    """Date-sorted files must skip at least as well as the natural
    order for a date predicate; z-order lands between (or ties)."""
    rows = {r.layout: r for r in entrymod.queries()["layout_advisor_report"](spark, SF_DIR).collect()}
    assert set(rows) == {"natural_orderkey", "shipdate_sorted", "zorder_day_key"}
    nat, dat, z = (
        rows["natural_orderkey"].scan_fraction,
        rows["shipdate_sorted"].scan_fraction,
        rows["zorder_day_key"].scan_fraction,
    )
    assert dat <= z <= nat or dat <= nat
    for r in rows.values():
        assert 0.0 <= r.scan_fraction <= 1.0
        assert r.files_scanned <= r.n_files


def test_alert_debounce_episode_invariants(spark):
    from gdalos_spark.operators.temporal import DEBOUNCE_MIN_RUN

    rows = entrymod.queries()["events_alert_debounce"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r.end_day - r.start_day + 1 == r.run_len
        assert r.fired == (r.run_len >= DEBOUNCE_MIN_RUN)
        assert r.peak_volume >= 1


def test_trigram_search_finds_typo_target(spark):
    """'bleu bolt' must rank 'blue bolt' first — typo tolerance without
    any edit-distance computation."""
    rows = entrymod.queries()["trigram_entity_search"](spark, SF_DIR).collect()
    assert len(rows) >= 1
    best = min(rows, key=lambda r: r.rank)
    assert best.p_name == "blue bolt"
    for r in rows:
        assert 0.0 < r.sim <= 1.0


def test_cost_distance_frontier_and_monotonicity(spark):
    """Exactly one zero-cost source; every reached cell is within
    COST_ROUNDS Chebyshev steps of it; costs are positive elsewhere."""
    from gdalos_spark.operators.raster import COST_ROUNDS

    rows = entrymod.queries()["raster_cost_distance"](spark, SF_DIR).collect()
    zeros = [r for r in rows if r.cost_cents == 0]
    assert len(zeros) == 1
    sx, sy = zeros[0].px, zeros[0].py
    for r in rows:
        assert max(abs(r.px - sx), abs(r.py - sy)) <= COST_ROUNDS
        if (r.px, r.py) != (sx, sy):
            assert r.cost_cents > 0


def test_kcore_members_meet_degree_floor(spark):
    """Every surviving vertex keeps degree >= k within the core (the
    defining property of a k-core)."""
    from gdalos_spark.operators.graph import KCORE_K

    rows = entrymod.queries()["supplier_kcore"](spark, SF_DIR).collect()
    for r in rows:
        assert r.core_degree >= KCORE_K
