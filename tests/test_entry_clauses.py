"""Direct clause tests for entry-level query semantics (screen batch 15).

The entry queries are pinned end-to-end by the DuckDB oracle parity gate,
but — exactly like the events adapter before batch 13 — several BOUNDARY
clauses only fire when the data lands precisely on the boundary, which
the synthetic sf tables cannot be relied on to do: an exactly-1800 s
session gap, a click exactly 24 h after signup, a split hash landing on
bucket 80, a basket pair with support exactly 2, a series going stale at
exactly end-24h.  These tests plant parquet fixtures that sit ON each
boundary and assert the query output directly, so mutants M77-M86 have
deterministic killers independent of corpus luck.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from queries import events, sim, text, tpch, tsdb

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, sf_dir, rows):
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/events.parquet")


def test_sessionize_gap_boundary_exactly_1800s(spark, tmp_path):
    """Mutant M77: a gap of EXACTLY 1800 s continues the session (the
    break condition is strictly ``gap > 1800``); 1801 s starts a new one."""
    t0 = datetime(2024, 1, 2, 0, 0, 0)
    _write_events(spark, str(tmp_path), [
        (1, t0, 1, "click", 1.0, '{"k": 1}'),
        (2, t0 + timedelta(seconds=1800), 1, "click", 1.0, '{"k": 1}'),
        (3, t0, 2, "click", 1.0, '{"k": 1}'),
        (4, t0 + timedelta(seconds=1801), 2, "click", 1.0, '{"k": 1}'),
    ])
    out = events.q_events_sessionize(spark, str(tmp_path)).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [2], per_user  # boundary gap: one session
    assert sorted(per_user[2]) == [1, 1], per_user  # 1801 s: split


def test_funnel_stage_window_boundaries(spark, tmp_path):
    """Mutants M78/M79: a click at EXACTLY the signup instant qualifies
    (``ts >= t_signup``) and a click EXACTLY 24 h after signup qualifies
    (``<= day``); 24 h + 1 s does not.  A purchase at exactly the click
    instant keeps the third stage non-vacuous."""
    t0 = datetime(2024, 1, 2, 0, 0, 0)
    day = timedelta(seconds=86400)
    _write_events(spark, str(tmp_path), [
        # u1: click at the signup instant; purchase at the click instant
        (1, t0, 1, "signup", 1.0, '{"k": 1}'),
        (2, t0, 1, "click", 1.0, '{"k": 1}'),
        (3, t0, 1, "purchase", 1.0, '{"k": 1}'),
        # u2: click exactly 24 h after signup (inclusive boundary), then a
        # purchase exactly 24 h after THAT click (pins the purchase-stage
        # window boundary independently — mutant M101)
        (4, t0, 2, "signup", 1.0, '{"k": 1}'),
        (5, t0 + day, 2, "click", 1.0, '{"k": 1}'),
        (8, t0 + day + day, 2, "purchase", 1.0, '{"k": 1}'),
        # u3: click 24 h + 1 s after signup (outside, both spellings)
        (6, t0, 3, "signup", 1.0, '{"k": 1}'),
        (7, t0 + day + timedelta(seconds=1), 3, "click", 1.0, '{"k": 1}'),
    ])
    row = events.q_events_funnel(spark, str(tmp_path)).collect()[0]
    assert (row["n_signup"], row["n_click_after"], row["n_purchase_after"]) == (
        3, 2, 2,
    ), row


def test_dataset_split_hash_bucket_boundaries(spark, tmp_path):
    """Mutant M80: the 80/10/10 split boundaries are ``h < 80`` and
    ``h < 90`` — ids whose md5-prefix bucket lands EXACTLY on 80 / 90 go
    to val / test.  doc_ids 69/204/19/25 hash to buckets 79/80/89/90
    (computed offline; md5 is stable)."""
    rows = [(i, "t", "en", "src", 1) for i in (69, 204, 19, 25)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["split"]: r["n_docs"]
        for r in text.q_dataset_split(spark, str(tmp_path)).collect()
    }
    assert got == {"train": 1, "val": 2, "test": 1}, got


def test_market_basket_support_boundary_and_no_self_pairs(spark, tmp_path):
    """Mutants M81/M82: a pair co-occurring in EXACTLY 2 orders survives
    the ``support >= 2`` floor, and the pair expansion (``slice`` from
    ``i + 2``) never emits self-pairs — a basket of {10,20} in two orders
    must produce exactly one output row, (10, 20, 2)."""
    rows = [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30),
            (4, 40), (4, 40), (4, 50)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = [
        (r["part_a"], r["part_b"], r["support"])
        for r in tpch.q_orders_market_basket(spark, str(tmp_path)).collect()
    ]
    assert got == [(10, 20, 2)], got


def test_matryoshka_prefix_is_the_leading_16_dims(spark, tmp_path):
    """Mutant M83: the Matryoshka prefix is dims 1..16 — the MRL property
    only holds for the LEADING prefix.  vec 10 matches the query in dim 1
    (inside the window), vec 11 only in dim 17 (outside): the top
    neighbor must be 10.  A shifted window (dims 2..17) inverts the
    ranking.  All vectors carry a tiny dim-16 component (inside both
    windows) so no slice has zero norm."""
    def v(d1=0.0, d17=0.0):
        vec = [0.0] * 64
        vec[0] = d1
        vec[15] = 0.001
        vec[16] = d17
        return vec

    rows = [(0, v(d1=1.0, d17=1.0), 0), (10, v(d1=1.0), 0), (11, v(d17=1.0), 0)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = (
        sim.q_sim_matryoshka_topk(spark, str(tmp_path))
        .orderBy("rnk")
        .collect()
    )
    assert [r["neighbor_id"] for r in out] == [10, 11], out


def test_stale_series_boundary_exactly_24h(spark, tmp_path):
    """Mutant M86: a series whose newest sample sits EXACTLY at
    end - 24 h is NOT stale (the cut is strictly ``last_t < end - 86400``);
    one second older is.  T20 = 2024-01-20 00:00:00 UTC."""
    edge = datetime(2024, 1, 19, 0, 0, 0)  # T20 - 24h exactly
    _write_events(spark, str(tmp_path), [
        (1, datetime(2024, 1, 5), 1, "click", 1.0, '{"k": 1}'),
        (2, edge, 1, "click", 1.0, '{"k": 1}'),          # on the boundary
        (3, datetime(2024, 1, 10), 2, "view", 1.0, '{"k": 1}'),   # stale
        (4, datetime(2024, 1, 19, 12), 3, "purchase", 1.0, '{"k": 1}'),
    ])
    out = tsdb.q_tsdb_stale_series(spark, str(tmp_path)).collect()
    assert {r["metric_name"] for r in out} == {"view"}, out


# -- batch 16 (r16): arithmetic / frame / tie-break clauses ----------------

def test_doc_packing_bin_is_pre_doc_cumulative(spark, tmp_path):
    """Mutant M87: a document's bin comes from the cumulative count
    BEFORE the doc (``floor((cum - n_tokens)/4096)``) — the doc that
    crosses a 4096 boundary still belongs to the bin it started in.
    Token runs 3000/2000/2000: cums 3000/5000/7000, so bins 0/0/1; the
    post-doc spelling yields 0/1/1."""
    rows = [
        (1, "w " * 3000, "en", "src", 1),
        (2, "w " * 2000, "en", "src", 1),
        (3, "w " * 2000, "en", "src", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["lang"], r["bin"]): (r["n_docs"], r["sum_tokens"])
        for r in text.q_doc_packing(spark, str(tmp_path)).collect()
    }
    assert got == {("en", 0): (2, 5000), ("en", 1): (1, 2000)}, got


def test_moving_avg_frame_is_trailing_five_points(spark, tmp_path):
    """Mutant M88: the smoothing frame is exactly the trailing FIVE rows
    (``rowsBetween(-4, 0)``).  Six hourly samples 1..6 on one series:
    the sixth point averages samples 2..6 = 4.0 (a six-point frame gives
    3.5)."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    _write_events(spark, str(tmp_path), [
        (i, t0 + timedelta(hours=i), 7, "view", float(i + 1), '{"k": 1}')
        for i in range(6)
    ])
    out = tsdb.q_tsdb_moving_avg(spark, str(tmp_path)).orderBy("t").collect()
    assert [r["avg5"] for r in out] == [1.0, 1.5, 2.0, 2.5, 3.0, 4.0], out


def test_quality_filter_token_count_boundaries(spark, tmp_path):
    """Mutants M89/M90: the C4 gate keeps docs with EXACTLY 20 tokens
    (``< 20`` flags) and EXACTLY 512 tokens (``> 512`` flags).  Both
    boundary docs use distinct 4-letter tokens (repetition 0, mean
    length 4) so only the count rules can fire; a 5-token doc pins the
    short-flag itself."""
    t20 = " ".join(f"a{i:03d}" for i in range(20))
    t512 = " ".join(f"b{i:03d}" for i in range(512))
    t5 = " ".join(f"c{i:03d}" for i in range(5))
    rows = [(1, t20, "en", "s", 1), (2, t512, "en", "s", 1), (3, t5, "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["lang"], r["fail_mask"]): (r["n_docs"], r["sum_tokens"])
        for r in text.q_text_quality_filter(spark, str(tmp_path)).collect()
    }
    assert got == {("en", 0): (2, 532), ("en", 1): (1, 5)}, got


def test_tfidf_tie_breaks_on_document_frequency_asc(spark, tmp_path):
    """Mutant M91: keywords tying on tf rank by ASCENDING df — the rarer
    (more distinctive) term wins.  In doc 1, apple and banana both have
    tf 2, but apple also appears in doc 2 (df 2 vs banana's 1): banana
    must out-rank apple."""
    rows = [
        (1, "apple banana apple banana cherry", "en", "s", 1),
        (2, "apple kiwi", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["term"]: r["rk"]
        for r in text.q_text_tfidf_keywords(spark, str(tmp_path)).collect()
        if r["doc_id"] == 1
    }
    assert got == {"banana": 1, "apple": 2, "cherry": 3}, got


def test_vocab_rank_tie_breaks_on_term_asc(spark, tmp_path):
    """Mutant M92: vocabulary ranks tie-break by term ASCENDING on equal
    counts — zz and aa both count 2, so aa takes rank 1."""
    rows = [(1, "zz zz aa aa bb", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["term"]: r["rnk"]
        for r in text.q_text_vocab(spark, str(tmp_path)).collect()
    }
    assert got == {"aa": 1, "zz": 2, "bb": 3}, got


def test_interleave_positions_round_robin_across_sources(spark, tmp_path):
    """Mutant M93: the global training position is ``rnk * n_sources +
    src_idx`` — consecutive positions ALTERNATE sources (round-robin),
    never block by source.  Two sources x two docs: positions 0..3 must
    map to sources a,b,a,b."""
    rows = [(1, "t", "en", "a", 1), (2, "t", "en", "a", 1),
            (3, "t", "en", "b", 1), (4, "t", "en", "b", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["position"]: r["source"]
        for r in text.q_dataset_interleave(spark, str(tmp_path)).collect()
    }
    assert got == {0: "a", 1: "b", 2: "a", 3: "b"}, got


def test_sliding_range_max_excludes_exactly_one_hour_old(spark, tmp_path):
    """Mutant M94: the trailing-hour RANGE frame is ``(-3599, 0)`` — a
    sample EXACTLY 3600 s older is outside the hour.  Two signup samples
    3600 s apart (values 10 then 1): the second point's max is 1."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    _write_events(spark, str(tmp_path), [
        (1, t0, 9, "signup", 10.0, '{"k": 1}'),
        (2, t0 + timedelta(seconds=3600), 9, "signup", 1.0, '{"k": 1}'),
    ])
    out = tsdb.q_tsdb_sliding_range_max(spark, str(tmp_path)).orderBy("t").collect()
    assert [r["max_1h"] for r in out] == [10.0, 1.0], out


# -- batch 17 (r16): floor-vs-trunc, set direction, null-drop, tie-breaks --

def test_topk_series_tie_breaks_on_labelset_asc(spark, tmp_path):
    """Mutant M95: series tying on mean value rank by labelset ASC — the
    deterministic-ranking pin (the M30 analog for topk_series).  Users
    1/2/3 all average 5.0; user 4 averages 1.0 and falls outside the
    top 3.  Users 1/2/4 avoid the user%3==0 tier=gold label, which would
    re-order the labelset strings."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    rows = [(u * 10 + i, t0 + timedelta(hours=i), u, "click", 5.0, '{"k": 1}')
            for u in (1, 2, 4) for i in range(2)]
    rows += [(50, t0, 5, "click", 1.0, '{"k": 1}')]
    _write_events(spark, str(tmp_path), rows)
    got = {
        r["labels_str"]: r["rk"]
        for r in tsdb.q_tsdb_topk_series(spark, str(tmp_path)).collect()
    }
    assert got == {"k=1,user=1": 1, "k=1,user=2": 2, "k=1,user=4": 3}, got


def test_value_histogram_floor_buckets_negative_values(spark, tmp_path):
    """Mutant M96: the value bucket is FLOOR(value/10), not a toward-zero
    long cast — value -5.0 lands in bucket -1, not 0."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    rows = [(1, t0, 1, "click", -5.0, '{"k": 1}'),
            (2, t0, 2, "click", 15.0, '{"k": 1}')]
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/events.parquet")
    got = {
        r["bucket"]: r["n"]
        for r in events.q_events_value_histogram(spark, str(tmp_path)).collect()
    }
    assert got == {-1: 1, 1: 1}, got


def test_max_gap_drops_single_sample_series(spark, tmp_path):
    """Mutant M97: a single-sample series has NO gap (its lag is null) and
    must not appear in the report at all — not appear with a null gap."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    _write_events(spark, str(tmp_path), [
        (1, t0, 1, "purchase", 1.0, '{"k": 1}'),
        (2, t0 + timedelta(hours=2), 1, "purchase", 1.0, '{"k": 1}'),
        (3, t0, 2, "purchase", 1.0, '{"k": 1}'),  # single sample: no row
    ])
    out = tsdb.q_tsdb_max_gap(spark, str(tmp_path)).collect()
    assert [(r["labels_str"], r["max_gap_s"]) for r in out] == [
        ("k=1,user=1", 7200),
    ], out


def test_customers_lapsed_set_difference_direction(spark, tmp_path):
    """Mutant M98: lapsed = ordered in 1996 AND NOT in 1997 — customer A
    (1996 only) is lapsed, C (1997 only) is new, B (both) is neither."""
    rows = [
        (1, 100, datetime(1996, 3, 1)),   # A: 1996 only -> lapsed
        (2, 200, datetime(1996, 5, 1)),   # B: both years
        (3, 200, datetime(1997, 2, 1)),
        (4, 300, datetime(1997, 7, 1)),   # C: 1997 only
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = [r["o_custkey"] for r in tpch.q_customers_lapsed(spark, str(tmp_path)).collect()]
    assert got == [100], got


def test_count_values_floors_the_gauge_key(spark, tmp_path):
    """Mutant M99: the count_values key is FLOOR(value) — a -2.5 gauge
    counts under -3, not the toward-zero -2."""
    t0 = datetime(2024, 1, 6, 0, 0, 0)
    _write_events(spark, str(tmp_path), [
        (1, t0, 1, "view", -2.5, '{"k": 1}'),
    ])
    out = tsdb.q_tsdb_count_values(spark, str(tmp_path)).collect()
    assert [(r["value"], r["n_samples"]) for r in out] == [(-3, 1)], out


def test_label_centroids_floor_quantize_negative_components(spark, tmp_path):
    """Mutant M100: embedding components quantize by FLOOR(v*1e6) — a
    -2.5e-6 component contributes -3 micro-units, not the toward-zero
    -2."""
    vec = [0.0] * 64
    vec[0] = -2.5e-6
    spark.createDataFrame(
        [(0, vec, 7)], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {
        (r["label"], r["dim"]): r["centroid_v"]
        for r in sim.q_emb_label_centroids(spark, str(tmp_path)).collect()
    }
    assert out[(7, 0)] == -3e-6, out


def test_offset_ratio_compares_today_with_yesterday(spark, tmp_path):
    """Mutant M103: the day-over-day join shifts YESTERDAY's bucket
    forward (+86400) so today's row carries yesterday's sum as s_prev —
    day-2 hour-0 must report (3.0 vs 2.0) with ratio 1.5."""
    _write_events(spark, str(tmp_path), [
        (1, datetime(2024, 1, 6, 0, 15), 1, "view", 2.0, '{"k": 1}'),
        (2, datetime(2024, 1, 7, 0, 20), 1, "view", 3.0, '{"k": 1}'),
    ])
    out = tsdb.q_tsdb_offset_ratio(spark, str(tmp_path)).collect()
    assert [
        (r["bucket_t"], r["sum_micro"], r["prev_sum_micro"], r["dod_ratio_micro"])
        for r in out
    ] == [(1704585600, 3000000, 2000000, 1500000)], out


def test_dataset_sample_membership_boundary_bucket_10(spark, tmp_path):
    """Mutant M104: the 10% membership cut is ``h < 10`` — a doc whose
    md5 bucket lands EXACTLY on 10 (doc_id 3) is NOT sampled; bucket 9
    (doc_id 138) is."""
    rows = [(3, "t", "en", "s", 1), (138, "t", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = text.q_dataset_sample(spark, str(tmp_path)).collect()
    assert [(r["lang"], r["n_docs"], r["n_sampled"]) for r in out] == [
        ("en", 2, 1)
    ], out
