"""as-of / range join semantics (operators/joins.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataframe_sql_spark.operators.joins import (
    asof_join,
    best_match_linkage,
    range_join,
    symmetric_difference,
)


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_backward_match(spark):
    left = spark.createDataFrame(
        [(1, "u1", _ts(10)), (2, "u1", _ts(12)), (3, "u2", _ts(9))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u1", _ts(9), 100.0), ("u1", _ts(11), 200.0), ("u2", _ts(10), 300.0)],
        ["user_id", "ts", "price"],
    )
    out = {r.event_id: r.price for r in asof_join(left, right, on="ts", by="user_id").collect()}
    assert out[1] == 100.0  # latest right ≤ 10:00 is 09:00
    assert out[2] == 200.0  # latest right ≤ 12:00 is 11:00
    assert out[3] is None  # u2 has no right row ≤ 09:00


def test_asof_equal_timestamp_matches(spark):
    left = spark.createDataFrame([(1, "u", _ts(10))], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame([("u", _ts(10), 5.0)], ["user_id", "ts", "price"])
    out = asof_join(left, right, on="ts", by="user_id").collect()
    assert out[0].price == 5.0


def test_asof_tolerance(spark):
    left = spark.createDataFrame([(1, "u", _ts(12))], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame([("u", _ts(9), 7.0)], ["user_id", "ts", "price"])
    out = asof_join(left, right, on="ts", by="user_id", tolerance="'1' HOUR").collect()
    assert out[0].price is None  # 3h-old match exceeds 1h tolerance


def test_range_join_bucketed_equals_naive(spark):
    points = spark.createDataFrame(
        [(i, _ts(9 + i % 6, 7 * i % 60)) for i in range(20)], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [(100, _ts(9), _ts(11)), (200, _ts(10, 30), _ts(12, 30)), (300, _ts(14), _ts(15))],
        ["iid", "start", "end"],
    )
    naive = {
        (r.pid, r.iid)
        for r in range_join(points, intervals, "ts", "start", "end").collect()
    }
    bucketed = {
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, "ts", "start", "end", bucket_granularity="hour"
        ).collect()
    }
    assert naive == bucketed and len(naive) > 0


def test_symmetric_difference_matches_reference_oracle(spark):
    # mirrors the pandas merge-indicator EXCEPT oracle (ref :602-614)
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (4,)], ["k"])
    got = sorted(r.k for r in symmetric_difference(a, b).collect())
    assert got == [1, 3, 4]  # 2 in both → dropped entirely; dups collapsed


def test_best_match_linkage_picks_min_distance(spark):
    dirty = spark.createDataFrame(
        [(1, "jon smith", "b1"), (2, "mary jones", "b1"), (3, "zzz", "b2")],
        ["d_id", "name", "block"],
    )
    master = spark.createDataFrame(
        [
            (10, "john smith", "b1"),  # dist 1 to "jon smith"
            (11, "joan smith", "b1"),  # dist 2 to "jon smith"
            (12, "mary janes", "b1"),  # dist 1 to "mary jones"
            (13, "totally different", "b2"),
        ],
        ["m_id", "name", "block"],
    )
    out = {
        r.d_id: (r.matched_id, r.distance)
        for r in best_match_linkage(
            dirty, master, ["block"], "d_id", "m_id", "name", "name", max_distance=2
        ).collect()
    }
    assert out[1] == (10, 1)  # min distance wins over dist-2 candidate
    assert out[2] == (12, 1)
    assert 3 not in out  # no candidate within max_distance


def test_best_match_linkage_tiebreak_is_min_right_id(spark):
    dirty = spark.createDataFrame([(1, "abc", "b")], ["d_id", "name", "block"])
    master = spark.createDataFrame(
        [(20, "abd", "b"), (10, "abe", "b")], ["m_id", "name", "block"]
    )
    out = best_match_linkage(
        dirty, master, ["block"], "d_id", "m_id", "name", "name", max_distance=2
    ).collect()
    # both candidates at distance 1 → deterministic min right-id
    assert (out[0].matched_id, out[0].distance) == (10, 1)


def test_best_match_linkage_respects_blocking(spark):
    # identical name in a different block must NOT match
    dirty = spark.createDataFrame([(1, "same", "b1")], ["d_id", "name", "block"])
    master = spark.createDataFrame([(9, "same", "b2")], ["m_id", "name", "block"])
    assert (
        best_match_linkage(
            dirty, master, ["block"], "d_id", "m_id", "name", "name"
        ).count()
        == 0
    )


def test_sorted_neighborhood_pairs_window_semantics(spark):
    from dataframe_sql_spark.operators.joins import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aab"), (3, "aac"), (4, "zzz")], ["rid", "name"]
    )
    got = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(df, ["name"], "rid", window=2).collect()
    }
    # sort order is aaa,aab,aac,zzz; each pairs with its next 2 neighbors
    assert got == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}


def test_sorted_neighborhood_carry_cols_match_rejoin(spark):
    """carry_cols (r15) must return exactly the values a per-side
    re-join of the source would have attached — same pairs, same
    carried attributes — since it exists to REPLACE those two joins."""
    from dataframe_sql_spark.operators.joins import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aab"), (3, "aac"), (4, "zzz")], ["rid", "name"]
    )
    carried = {
        (r.id_a, r.id_b): (r.pos_a, r.pos_b, r.name_a, r.name_b)
        for r in sorted_neighborhood_pairs(
            df, ["name"], "rid", window=2, carry_cols=("name",)
        ).collect()
    }
    plain = {
        (r.id_a, r.id_b): (r.pos_a, r.pos_b)
        for r in sorted_neighborhood_pairs(df, ["name"], "rid", window=2).collect()
    }
    names = {r.rid: r.name for r in df.collect()}
    assert set(carried) == set(plain)
    for (a, b), (pa, pb, na, nb) in carried.items():
        assert (pa, pb) == plain[(a, b)]
        assert na == names[a] and nb == names[b]


@pytest.mark.parametrize("carry", ["rid", "id", "pos", "__pos"])
def test_sorted_neighborhood_rejects_colliding_carry_cols(spark, carry):
    """A carry column equal to id_col, aliasing onto id_a/id_b/pos_a/
    pos_b, or shadowing an internal __ column is rejected up front."""
    from dataframe_sql_spark.operators.joins import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "aaa", 0, 0, 0)], ["rid", "name", "id", "pos", "__pos"])
    with pytest.raises(ValueError, match=repr(carry)):
        sorted_neighborhood_pairs(df, ["name"], "rid", carry_cols=("name", carry))


def test_sorted_neighborhood_candidate_volume_is_linear(spark):
    from dataframe_sql_spark.operators.joins import sorted_neighborhood_pairs

    df = spark.createDataFrame([(i, f"n{i:04d}") for i in range(100)], ["rid", "name"])
    n = sorted_neighborhood_pairs(df, ["name"], "rid", window=3).count()
    # exactly n*w - w*(w+1)/2 pairs (tail records have fewer neighbors)
    assert n == 100 * 3 - 6


def test_interval_overlap_bucketed_equals_naive(spark):
    from dataframe_sql_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, _ts(9), _ts(11)), (2, _ts(13), _ts(13, 30)), (3, _ts(20), _ts(21))],
        ["lid", "ls", "le"],
    )
    right = spark.createDataFrame(
        [
            (10, _ts(10, 30), _ts(12)),  # overlaps 1
            (20, _ts(11), _ts(13)),      # touches 1 at 11:00 -> half-open, no
            (30, _ts(13, 15), _ts(14)),  # overlaps 2
            (40, _ts(22), _ts(23)),      # overlaps nothing
        ],
        ["rid", "rs", "re"],
    )
    naive = {
        (r.lid, r.rid)
        for r in interval_overlap_join(left, right, "ls", "le", "rs", "re").collect()
    }
    bucketed = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_granularity="hour"
        ).collect()
    }
    assert naive == bucketed == {(1, 10), (2, 30)}


def test_interval_overlap_bucketed_multiplicity_and_malformed(spark):
    """Round-4 semantics fixes: (1) the bucketed path emits exactly ONE
    row per matching pair via the canonical-bucket predicate — and
    duplicate INPUT rows produce duplicate matches (no all-column
    distinct collapsing them); (2) malformed (end < start) intervals
    are dropped before the explode instead of crashing sequence()."""
    from dataframe_sql_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [
            (1, _ts(9), _ts(12)),   # spans 3+ hour buckets
            (1, _ts(9), _ts(12)),   # exact duplicate input row
            (2, _ts(15), _ts(14)),  # malformed: end < start
        ],
        ["lid", "ls", "le"],
    )
    right = spark.createDataFrame(
        [(10, _ts(10), _ts(11, 30))], ["rid", "rs", "re"]
    )
    rows = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_granularity="hour"
    ).collect()
    pairs = [(r.lid, r.rid) for r in rows]
    # the duplicate left row matches twice; the multi-bucket overlap
    # still yields one row per pair; the malformed row neither crashes
    # nor matches
    assert sorted(pairs) == [(1, 10), (1, 10)]


def test_bloom_prefilter_join_rejects_outer_modes(spark):
    """The Bloom prefilter drops probe rows BEFORE the join, which is
    only semantics-preserving for inner/left_semi — outer modes must
    be rejected, not silently wrong (round-5 ADVICE fix)."""
    import pytest

    from dataframe_sql_spark.operators.joins import bloom_prefilter_join

    probe = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    build = spark.createDataFrame([(1, "x")], ["k", "w"])
    for how in ("left", "full", "left_anti", "right"):
        with pytest.raises(ValueError):
            bloom_prefilter_join(probe, build, "k", how=how)
    # the allowed modes still work
    assert bloom_prefilter_join(probe, build, "k").count() == 1
    assert bloom_prefilter_join(probe, build, "k", how="left_semi").count() == 1
