"""Continuous-aggregate rollups (lake/rollup.py): incremental refresh via
table_changes must always equal a from-scratch recompute of the same
definition, through inserts, deletes, and no-op refreshes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ducktales_spark.lake import connect
from ducktales_spark.lake.rollup import (
    _bucket_expr,
    create_rollup,
    refresh_rollup,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return connect(f"lake:{tmp_path}/cat", spark)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, value double"
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )


BASE = [
    (1, "2024-01-01 00:05:00", 1, 10.0),
    (2, "2024-01-01 00:55:00", 1, 20.0),
    (3, "2024-01-01 01:05:00", 2, 30.0),
    (4, "2024-01-01 01:10:00", 1, 40.0),
    (5, "2024-01-01 03:00:00", 2, 50.0),
]


def _recompute(lake, src="ev"):
    return (
        lake.read(src)
        .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("value").alias("sum_value"),
        )
    )


def _rows(df):
    return sorted(
        (r["bucket_start"], r["user_id"], r["n_rows"], r["sum_value"])
        for r in df.collect()
    )


def test_create_matches_recompute(spark, lake):
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))


def test_incremental_refresh_equals_recompute(spark, lake):
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    # append into an existing bucket, a new bucket, and a new user
    lake.insert("ev", _mk_events(spark, [
        (6, "2024-01-01 00:20:00", 1, 5.0),    # existing (00h, u1)
        (7, "2024-01-01 05:00:00", 3, 7.0),    # brand-new bucket + user
    ]))
    # delete one row from (01h, u?) — erases event 3's contribution
    lake.delete("ev", "event_id = 3")
    stats = refresh_rollup(lake, "ev_hourly")
    assert stats["to_version"] > stats["from_version"]
    assert stats["changed_buckets"] > 0
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))


def test_bucket_vanishes_when_all_rows_deleted(spark, lake):
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    lake.delete("ev", "event_id = 5")  # (03h, u2) had exactly one row
    refresh_rollup(lake, "ev_hourly")
    got = _rows(lake.read("ev_hourly"))
    assert got == _rows(_recompute(lake))
    assert all(r[2] > 0 for r in got)  # no zero-count residue rows


def test_refresh_runs_only_merge_legs_with_rows(spark, lake, monkeypatch):
    """An insert-only refresh runs the upsert MERGE alone (its delete leg
    is empty) and never walks ``lake.snapshots()`` (one snapshot-log query
    decides). test_bucket_vanishes_when_all_rows_deleted covers the delete
    leg."""
    from ducktales_spark.lake.catalog import LakeCatalog, Transaction

    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(lake, "ev_hourly", "ev", "ts", 3600,
                  keys=("user_id",), sum_cols=("value",))
    calls = []
    real_merge = Transaction.merge

    def spy(self, name, source, on, **kw):
        calls.append(kw.get("when_matched", "update"))
        return real_merge(self, name, source, on, **kw)

    def no_listing(self):
        raise AssertionError("refresh listed every snapshot")

    monkeypatch.setattr(Transaction, "merge", spy)
    monkeypatch.setattr(LakeCatalog, "snapshots", no_listing)
    lake.insert("ev", _mk_events(spark, [(6, "2024-01-01 07:00:00", 4, 1.0)]))
    assert refresh_rollup(lake, "ev_hourly")["changed_buckets"] == 1
    assert calls == ["update"]
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))


def test_noop_refresh(spark, lake):
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(lake, "ev_hourly", "ev", "ts", 3600,
                  keys=("user_id",), sum_cols=("value",))
    before = _rows(lake.read("ev_hourly"))
    stats = refresh_rollup(lake, "ev_hourly")
    assert stats["changed_buckets"] == 0
    assert stats["from_version"] == stats["to_version"]
    assert _rows(lake.read("ev_hourly")) == before


def test_repeated_refreshes_are_idempotent_per_version(spark, lake):
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(lake, "ev_hourly", "ev", "ts", 3600,
                  keys=("user_id",), sum_cols=("value",))
    for i in range(3):
        lake.insert("ev", _mk_events(
            spark, [(100 + i, "2024-01-01 06:00:00", 9, 1.0)]
        ))
        refresh_rollup(lake, "ev_hourly")
        assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))
    # an extra refresh with no new writes changes nothing
    stats = refresh_rollup(lake, "ev_hourly")
    assert stats["changed_buckets"] == 0


def test_read_rollup_derives_avg(spark, lake):
    """The read face derives avg_<c> = sum_<c>/n_rows at read time — exact
    against a from-source AVG, through create AND an incremental refresh;
    the stored table itself carries no avg column (zero maintenance)."""
    from ducktales_spark.lake.rollup import read_rollup

    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    lake.insert("ev", _mk_events(spark, [(6, "2024-01-01 00:20:00", 1, 5.0)]))
    lake.delete("ev", "event_id = 3")
    refresh_rollup(lake, "ev_hourly")
    assert "avg_value" not in lake.read("ev_hourly").columns
    want = sorted(
        (r["bucket_start"], r["user_id"], r["avg_value"])
        for r in lake.read("ev")
        .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
        .agg(F.avg("value").alias("avg_value"))
        .collect()
    )
    got = sorted(
        (r["bucket_start"], r["user_id"], r["avg_value"])
        for r in read_rollup(lake, "ev_hourly").collect()
    )
    assert [(b, u, pytest.approx(a)) for b, u, a in want] == got


def test_keys_only_materialized_view(spark, lake):
    """time_col=None: the rollup degenerates to an incrementally-maintained
    GROUP BY keys materialized view — identical diff/merge machinery, one
    constant bucket — and stays equal to a recompute through inserts and
    deletes (including a key vanishing entirely)."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "by_user", "ev", None, keys=("user_id",), sum_cols=("value",),
    )

    def recompute():
        return sorted(
            (r["user_id"], r["n_rows"], r["sum_value"])
            for r in lake.read("ev")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("value").alias("sum_value"),
            )
            .collect()
        )

    def view():
        return sorted(
            (r["user_id"], r["n_rows"], r["sum_value"])
            for r in lake.read("by_user").collect()
        )

    assert view() == recompute()
    lake.insert("ev", _mk_events(spark, [
        (10, "2024-02-01 00:00:00", 1, 2.5),
        (11, "2024-02-01 00:00:00", 9, 4.0),  # brand-new key
    ]))
    lake.delete("ev", "user_id = 2")  # key vanishes entirely
    stats = refresh_rollup(lake, "by_user")
    assert stats["changed_buckets"] > 0
    assert view() == recompute()
    users = {u for u, _, _ in view()}
    assert 9 in users and 2 not in users


def test_minmax_rollup_partial_recompute(spark, lake):
    """minmax_cols: refreshes switch to partial recompute of the touched
    buckets — deleting the current max of a bucket must surface the
    runner-up (a signed-delta fold cannot express that), untouched buckets
    keep their files, and the view equals recompute throughout."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_mm", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",), minmax_cols=("value",),
    )

    def recompute():
        return sorted(
            (r["bucket_start"], r["user_id"], r["n_rows"],
             r["sum_value"], r["min_value"], r["max_value"])
            for r in lake.read("ev")
            .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("value").alias("sum_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .collect()
        )

    def view():
        return sorted(
            (r["bucket_start"], r["user_id"], r["n_rows"],
             r["sum_value"], r["min_value"], r["max_value"])
            for r in lake.read("ev_mm").collect()
        )

    assert view() == recompute()
    # event 2 is (00h, u1)'s max (20.0) — delete it: the recompute path must
    # surface 10.0 as the new max, which delta folding cannot do
    lake.delete("ev", "event_id = 2")
    lake.insert("ev", _mk_events(spark, [
        (20, "2024-01-01 03:30:00", 2, 99.0),   # new max for (03h, u2)
        (21, "2024-01-01 06:00:00", 7, 1.0),    # brand-new bucket + user
    ]))
    stats = refresh_rollup(lake, "ev_mm")
    assert stats["changed_buckets"] > 0
    assert view() == recompute()
    row = {
        (b.hour, u): (mn, mx)
        for b, u, _, _, mn, mx in view()
    }
    assert row[(0, 1)] == (10.0, 10.0)   # max fell back to the runner-up
    assert row[(3, 2)] == (50.0, 99.0)
    # delete an entire bucket's rows: its group must vanish
    lake.delete("ev", "user_id = 7")
    refresh_rollup(lake, "ev_mm")
    assert view() == recompute()
    assert all(u != 7 for _, u, *_ in view())


def test_count_col_rollup_additive(spark, lake):
    """count_cols (null-skipping COUNT(col)): additive like n_rows — the
    signed-delta fast path maintains it through inserts AND deletes,
    including null values that COUNT(col) must skip but COUNT(*) counts."""
    rows = BASE + [(6, "2024-01-01 00:20:00", 1, None)]  # null value, 00h u1
    lake.ctas("ev", _mk_events(spark, rows))
    create_rollup(
        lake, "ev_c", "ev", "ts", 3600,
        keys=("user_id",), count_cols=("value",),
    )

    def recompute():
        return sorted(
            (r["bucket_start"], r["user_id"], r["n_rows"], r["count_value"])
            for r in lake.read("ev")
            .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count("value").cast("bigint").alias("count_value"),
            )
            .collect()
        )

    def view():
        return sorted(
            (r["bucket_start"], r["user_id"], r["n_rows"], r["count_value"])
            for r in lake.read("ev_c").collect()
        )

    assert view() == recompute()
    by_key = {(b.hour, u): (n, c) for b, u, n, c in view()}
    assert by_key[(0, 1)] == (3, 2)  # null row counted by n_rows only
    # inserts (one null, one not) + a delete of a non-null row
    lake.insert("ev", _mk_events(spark, [
        (7, "2024-01-01 00:40:00", 1, None),
        (8, "2024-01-01 01:20:00", 2, 5.0),
    ]))
    lake.delete("ev", "event_id = 1")
    stats = refresh_rollup(lake, "ev_c")
    assert stats["changed_buckets"] > 0
    assert view() == recompute()
    by_key = {(b.hour, u): (n, c) for b, u, n, c in view()}
    assert by_key[(0, 1)] == (3, 1)  # -1 non-null, +1 null


def test_approx_distinct_rollup(spark, lake):
    """approx_cols (HLL sketches): insert-only refreshes fold via
    hll_union on the O(changes) path; a delete routes the refresh through
    partial recompute — in both cases the estimate equals a from-scratch
    hll of the current source (exact at these tiny cardinalities)."""
    from ducktales_spark.lake.rollup import read_rollup

    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_ad", "ev", "ts", 3600,
        keys=(), approx_cols=("user_id",),
    )

    def recompute():
        return sorted(
            (r["bucket_start"], r["n_rows"], r["approx_distinct_user_id"])
            for r in lake.read("ev")
            .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.hll_sketch_agg("user_id").alias("h"),
            )
            .select(
                "bucket_start", "n_rows",
                F.hll_sketch_estimate("h").cast("bigint")
                .alias("approx_distinct_user_id"),
            )
            .collect()
        )

    def view():
        df = read_rollup(lake, "ev_ad")
        assert "hll_user_id" not in df.columns  # sketch state stays hidden
        return sorted(
            (r["bucket_start"], r["n_rows"], r["approx_distinct_user_id"])
            for r in df.collect()
        )

    assert view() == recompute()
    # insert-only refresh: new users in an existing bucket + a new bucket
    lake.insert("ev", _mk_events(spark, [
        (10, "2024-01-01 00:30:00", 5, 1.0),
        (11, "2024-01-01 00:45:00", 1, 2.0),   # already-seen user: no-op
        (12, "2024-01-01 07:00:00", 6, 3.0),
    ]))
    assert refresh_rollup(lake, "ev_ad")["changed_buckets"] > 0
    assert view() == recompute()
    by_bucket = {b.hour: d for b, _, d in view()}
    assert by_bucket[0] == 2 and by_bucket[7] == 1  # {u1, u5}, {u6}
    # a delete forces the recompute path: the removed user must disappear
    # from the bucket's distinct count (sketches cannot subtract)
    lake.delete("ev", "event_id = 10")
    assert refresh_rollup(lake, "ev_ad")["changed_buckets"] > 0
    assert view() == recompute()
    assert {b.hour: d for b, _, d in view()}[0] == 1  # u5 gone, {u1} left


def test_exact_distinct_rollup(spark, lake):
    """distinct_cols (exact COUNT(DISTINCT col)): always routed through
    partial recompute; equals a from-scratch COUNT(DISTINCT) through
    inserts, duplicate inserts, and deletes of one-of-many duplicates."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_d", "ev", "ts", 3600,
        keys=("user_id",), distinct_cols=("value",),
    )

    def recompute():
        return sorted(
            (r["bucket_start"], r["user_id"], r["distinct_value"])
            for r in lake.read("ev")
            .groupBy(_bucket_expr("ts", 3600).alias("bucket_start"), "user_id")
            .agg(
                F.count_distinct(F.col("value")).alias("distinct_value"),
            )
            .collect()
        )

    def view():
        return sorted(
            (r["bucket_start"], r["user_id"], r["distinct_value"])
            for r in lake.read("ev_d").collect()
        )

    assert view() == recompute()
    # duplicate value in-bucket: distinct stays, n_rows moves
    lake.insert("ev", _mk_events(spark, [
        (30, "2024-01-01 00:15:00", 1, 10.0),  # dup of event 1's value
        (31, "2024-01-01 00:25:00", 1, 77.0),  # new value
    ]))
    assert refresh_rollup(lake, "ev_d")["changed_buckets"] > 0
    assert view() == recompute()
    # delete ONE of the two 10.0 rows: exact distinct must NOT drop (the
    # sketch-union model cannot express this; recompute can)
    lake.delete("ev", "event_id = 1")
    assert refresh_rollup(lake, "ev_d")["changed_buckets"] > 0
    assert view() == recompute()
    by_key = {(b.hour, u): d for b, u, d in view()}
    assert by_key[(0, 1)] == 3  # {10.0, 20.0, 77.0} — 10.0 survived


def test_refresh_survives_snapshot_expiry(spark, lake):
    """expire_snapshots can retire the rollup's stamped base version; the
    refresh must then fall back to a full recompute (the CDC diff is
    uncomputable) instead of failing forever — and later refreshes go back
    to the incremental path."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    lake.insert("ev", _mk_events(spark, [
        (6, "2024-01-01 00:20:00", 1, 5.0),
        (7, "2024-01-01 05:00:00", 3, 7.0),
    ]))
    lake.expire_snapshots(keep_last=1)  # retires the stamped base
    out = refresh_rollup(lake, "ev_hourly")
    assert out["changed_buckets"] > 0
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))
    # next refresh is a metadata-only no-op again (incremental path)
    assert refresh_rollup(lake, "ev_hourly")["changed_buckets"] == 0
    # and a subsequent change refreshes incrementally
    lake.insert("ev", _mk_events(spark, [(8, "2024-01-01 06:00:00", 1, 2.0)]))
    refresh_rollup(lake, "ev_hourly")
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))


def test_read_rollup_time_travel(spark, lake):
    """read_rollup(version=) reconstructs the rollup AS OF a past catalog
    version — stored state and derived avg columns both come from that
    snapshot, even after later refreshes changed the rollup."""
    from ducktales_spark.lake.rollup import read_rollup

    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    v_created = lake.current_version()
    before = sorted(
        (r["bucket_start"], r["user_id"], r["n_rows"], r["avg_value"])
        for r in read_rollup(lake, "ev_hourly").collect()
    )
    lake.insert("ev", _mk_events(spark, [
        (6, "2024-01-01 00:20:00", 1, 100.0),
    ]))
    refresh_rollup(lake, "ev_hourly")
    after = sorted(
        (r["bucket_start"], r["user_id"], r["n_rows"], r["avg_value"])
        for r in read_rollup(lake, "ev_hourly").collect()
    )
    assert after != before  # refresh changed the (00h, u1) bucket
    at_v = sorted(
        (r["bucket_start"], r["user_id"], r["n_rows"], r["avg_value"])
        for r in read_rollup(lake, "ev_hourly", version=v_created).collect()
    )
    assert at_v == before


def test_randomized_mutation_sequences_match_recompute(spark, lake):
    """Seeded random insert/delete/refresh sequences: after EVERY refresh,
    the incrementally-maintained rollup must equal a from-scratch recompute
    of its definition — the continuous-aggregate correctness invariant
    under interleavings no hand-written scenario enumerates."""
    import random

    rng = random.Random(20260815)
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    next_id = 100
    for step in range(6):
        op = rng.choice(["insert", "delete", "refresh"])
        if op == "insert":
            rows = [
                (
                    next_id + i,
                    f"2024-01-01 0{rng.randrange(10)}:0{rng.randrange(10)}:00",
                    rng.randrange(1, 4),
                    float(rng.randrange(1, 100)),
                )
                for i in range(rng.randrange(1, 4))
            ]
            next_id += len(rows)
            lake.insert("ev", _mk_events(spark, rows))
        elif op == "delete":
            with lake.transaction() as tx:
                tx.delete("ev", f"event_id % 3 = {rng.randrange(3)}")
        refresh_rollup(lake, "ev_hourly")
        assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake)), (
            f"diverged at step {step} after {op}"
        )


def test_compaction_is_refresh_noop(spark, lake):
    """Compacting the source rewrites files without changing rows: the
    next refresh must fold ZERO buckets (the row-level diff is empty) and
    the rollup still equals recompute — file-layout maintenance can never
    perturb a continuous aggregate."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_hourly", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",),
    )
    lake.insert("ev", _mk_events(spark, [(6, "2024-01-01 00:30:00", 1, 2.0)]))
    lake.compact("ev")
    out = refresh_rollup(lake, "ev_hourly")
    # the insert before compaction IS folded; compaction itself adds none
    assert out["changed_buckets"] >= 1
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))
    lake.compact("ev")
    assert refresh_rollup(lake, "ev_hourly")["changed_buckets"] == 0
    assert _rows(lake.read("ev_hourly")) == _rows(_recompute(lake))


def test_filtered_rollup_incremental_equals_recompute(spark, lake):
    """WHERE-filtered continuous aggregate: every refresh path (additive
    fold, minmax partial recompute, approx delete-recompute) applies the
    stored predicate, so incremental == a filtered from-scratch recompute
    through inserts, boundary-crossing updates, and deletes."""
    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "ev_f", "ev", "ts", 3600,
        keys=("user_id",), sum_cols=("value",), minmax_cols=("value",),
        where="value >= 20.0",
    )

    def recompute():
        return (
            lake.read("ev", where="value >= 20.0")
            .groupBy(
                _bucket_expr("ts", 3600).alias("bucket_start"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("value").alias("sum_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )

    def rows(df):
        return sorted(
            (
                r["bucket_start"], r["user_id"], r["n_rows"],
                r["sum_value"], r["min_value"], r["max_value"],
            )
            for r in df.collect()
        )

    assert rows(lake.read("ev_f")) == rows(recompute())
    # inserts both inside and outside the predicate
    lake.insert("ev", _mk_events(spark, [
        (6, "2024-01-01 00:20:00", 1, 5.0),    # filtered out
        (7, "2024-01-01 00:30:00", 1, 25.0),   # filtered in
    ]))
    refresh_rollup(lake, "ev_f")
    assert rows(lake.read("ev_f")) == rows(recompute())
    # UPDATE moving rows across the predicate boundary, both directions
    lake.update("ev", {"value": "6.0"}, "event_id = 3")     # out (was 30)
    lake.update("ev", {"value": "60.0"}, "event_id = 6")    # in  (was 5)
    refresh_rollup(lake, "ev_f")
    assert rows(lake.read("ev_f")) == rows(recompute())
    # delete OUTSIDE the predicate: refresh folds an empty diff
    lake.delete("ev", "value < 20.0")
    out = refresh_rollup(lake, "ev_f")
    assert out["changed_buckets"] == 0
    assert rows(lake.read("ev_f")) == rows(recompute())
    # delete INSIDE the predicate empties its bucket
    lake.delete("ev", "event_id = 5")
    refresh_rollup(lake, "ev_f")
    assert rows(lake.read("ev_f")) == rows(recompute())


def test_array_column_rollup_guards(spark, lake):
    """Complex-typed source columns: SUM/AVG state is non-additive over
    arrays, so creation fails with a CLEAN error and no half-created
    tables; hash-shaped aggregates (keys, exact/approx DISTINCT) over the
    same array column work and refresh — and the widening gate already
    refuses ALTER TYPE on complex columns, so an engine-forced retype can
    never reach array-maintained MV state."""
    lake.ctas(
        "vec",
        spark.createDataFrame(
            [(1, [1.0, 2.0], 10.0), (2, [3.0, 4.0], 20.0),
             (3, [1.0, 2.0], 30.0)],
            "id bigint, e array<double>, w double",
        ),
    )
    v0 = lake.current_version()
    with pytest.raises(Exception, match="non-additive type"):
        create_rollup(lake, "bad", "vec", None, keys=(), sum_cols=("e",))
    # nothing half-created, no snapshot minted
    assert "bad" not in lake.tables()
    assert "bad__rollup_meta" not in lake.tables()
    assert lake.current_version() == v0
    # array as a KEY plus approx/exact distinct over it: legal + refreshable
    create_rollup(
        lake, "by_vec", "vec", None, keys=("e",), sum_cols=("w",),
        approx_cols=("e",), distinct_cols=("e",),
    )
    lake.insert(
        "vec",
        spark.createDataFrame(
            [(4, [1.0, 2.0], 40.0)], "id bigint, e array<double>, w double"
        ),
    )
    refresh_rollup(lake, "by_vec")
    got = {
        tuple(r["e"]): (r["n_rows"], r["sum_w"])
        for r in lake.read("by_vec").collect()
    }
    assert got == {(1.0, 2.0): (3, 80.0), (3.0, 4.0): (1, 20.0)}
    # the widening gate blocks complex-type retypes at the source
    with pytest.raises(Exception, match="widening"):
        lake.alter_column_type("vec", "e", "array<float>")


# -- expression keys (round 10) ----------------------------------------------


def _expr_recompute(lake, src="docs"):
    """DuckDB-free oracle: a from-scratch Spark recompute of the
    expression-keyed definition."""
    return {
        (r["dom"], r["band"]): (int(r["n"]), float(r["s"]))
        for r in (
            lake.read(src)
            .groupBy(
                F.expr("lower(domain)").alias("dom"),
                F.expr("CAST(v % 3 AS INT)").alias("band"),
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
    }


def _mv_state(lake, name="mv"):
    return {
        (r["dom"], r["band"]): (int(r["n_rows"]), float(r["sum_value"]))
        for r in lake.read(name).collect()
    }


def test_expression_keys_incremental_equals_recompute(spark, lake):
    """Expression group keys (stored as SQL text like where_sql): the
    incrementally maintained state equals a from-scratch recompute
    through insert / update / delete, with the expr computed on every
    refresh path."""
    df = spark.createDataFrame(
        [(1, "A.com", 1, 10.0), (2, "a.COM", 2, 20.0), (3, "B.org", 3, 30.0),
         (4, "b.ORG", 4, 40.0), (5, "C.net", 5, 50.0)],
        "id bigint, domain string, v int, value double",
    )
    lake.ctas("docs", df)
    create_rollup(
        lake, "mv", "docs", time_col=None,
        keys=("dom", "band"), sum_cols=("value",),
        key_exprs={"dom": "lower(domain)", "band": "CAST(v % 3 AS INT)"},
    )
    assert _mv_state(lake) == _expr_recompute(lake)
    lake.insert("docs", spark.createDataFrame(
        [(6, "A.COM", 7, 5.0), (7, "d.io", 1, 1.0)],
        "id bigint, domain string, v int, value double"))
    lake.update("docs", {"value": "value + 100"}, where="id = 3")
    lake.delete("docs", where="id = 2")
    refresh_rollup(lake, "mv")
    assert _mv_state(lake) == _expr_recompute(lake)
    # group vanishes when its last row leaves
    lake.delete("docs", where="id IN (5)")
    refresh_rollup(lake, "mv")
    state = _mv_state(lake)
    assert state == _expr_recompute(lake)
    assert ("c.net", 2) not in state


def test_expression_keys_rename_follow_through(spark, lake):
    """Renaming a source column referenced ONLY inside a key expression
    rewrites the stored expr text (rewrite_sql_identifiers) so later
    refreshes keep resolving; the stored alias column never renames."""
    lake.ctas("docs", spark.createDataFrame(
        [(1, "X.com", 1, 2.0)], "id bigint, domain string, v int, value double"))
    create_rollup(
        lake, "mv", "docs", time_col=None,
        keys=("dom",), sum_cols=("value",),
        key_exprs={"dom": "lower(domain)"},
    )
    lake.rename_column("docs", "domain", "host")
    lake.insert("docs", spark.createDataFrame(
        [(2, "x.COM", 1, 3.0)], "id bigint, host string, v int, value double"))
    refresh_rollup(lake, "mv")
    rows = {r["dom"]: float(r["sum_value"]) for r in lake.read("mv").collect()}
    assert rows == {"x.com": 5.0}
    import json

    meta = lake.read("mv__rollup_meta").collect()[0].asDict()
    assert json.loads(meta["key_exprs"]) == {"dom": "lower(host)"}


def test_expression_keys_guard_drop_and_widen(spark, lake):
    """Dropping a column referenced by a key expression is refused;
    widening one re-derives the stored alias type and REBUILDS the state
    (type-dependent exprs like a string cast change output values)."""
    lake.ctas("docs", spark.createDataFrame(
        [(1, 7, 2.0), (2, 9, 3.0)], "id bigint, v int, value double"))
    create_rollup(
        lake, "mv", "docs", time_col=None,
        keys=("vs",), sum_cols=("value",),
        key_exprs={"vs": "CAST(v AS STRING)"},
    )
    with pytest.raises(Exception, match="maintain|rollup|refus|depend"):
        lake.drop_column("docs", "v")
    lake.alter_column_type("docs", "v", "bigint")
    # state rebuilt under the widened type; incremental keeps matching
    lake.insert("docs", spark.createDataFrame(
        [(3, 7, 5.0)], "id bigint, v bigint, value double"))
    refresh_rollup(lake, "mv")
    rows = {r["vs"]: float(r["sum_value"]) for r in lake.read("mv").collect()}
    assert rows == {"7": 7.0, "9": 3.0}


def test_expression_keys_nonadditive_partial_recompute(spark, lake):
    """Expression keys compose with the non-additive (minmax / exact
    distinct) partial-recompute path: touched groups re-aggregate from the
    source with the expr recomputed there too."""
    lake.ctas("docs", spark.createDataFrame(
        [(1, "A.com", 1, 10.0), (2, "a.COM", 2, 20.0), (3, "b.org", 3, 30.0)],
        "id bigint, domain string, v int, value double"))
    create_rollup(
        lake, "mv", "docs", time_col=None,
        keys=("dom",), minmax_cols=("value",),
        key_exprs={"dom": "lower(domain)"},
    )
    lake.delete("docs", where="id = 2")  # removes a max -> recompute path
    lake.insert("docs", spark.createDataFrame(
        [(4, "A.COM", 9, 5.0)], "id bigint, domain string, v int, value double"))
    refresh_rollup(lake, "mv")
    rows = {
        r["dom"]: (float(r["min_value"]), float(r["max_value"]))
        for r in lake.read("mv").collect()
    }
    assert rows == {"a.com": (5.0, 10.0), "b.org": (30.0, 30.0)}


def test_having_python_api_read_face_filter(spark, lake):
    """create_rollup(having=...) filters GROUPS at read time only: the
    state stays maintained for every group, so incremental refreshes keep
    sub-threshold accumulators alive and read_rollup always equals the
    from-scratch GROUP BY ... HAVING recompute."""
    from ducktales_spark.lake.rollup import RollupError, read_rollup

    lake.ctas("ev", _mk_events(spark, BASE))
    create_rollup(
        lake, "mv", "ev", time_col=None, keys=("user_id",),
        sum_cols=("value",), having="n_rows >= 2 AND avg_value > 20.0",
    )
    got = {r["user_id"] for r in read_rollup(lake, "mv").collect()}
    # user 1: n=3 avg=23.3 (in); user 2: n=2 avg=40 (in)
    assert got == {1, 2}
    # drop user 2 below the row threshold, push user 1 below the avg:
    # both groups disappear from the face but their state persists
    lake.delete("ev", where="event_id = 5")
    lake.insert("ev", _mk_events(
        spark, [(6, "2024-01-01 04:00:00", 1, 0.0)]
    ))
    refresh_rollup(lake, "mv")
    assert read_rollup(lake, "mv").count() == 0
    state = {
        r["user_id"]: r["n_rows"] for r in lake.read("mv").collect()
    }
    assert state == {1: 4, 2: 1}  # accumulators alive under the face
    # and a later insert resurfaces the group with full history intact
    lake.insert("ev", _mk_events(
        spark, [(7, "2024-01-01 05:00:00", 2, 99.0)]
    ))
    refresh_rollup(lake, "mv")
    rows = {
        r["user_id"]: (r["n_rows"], r["sum_value"])
        for r in read_rollup(lake, "mv").collect()
    }
    assert rows == {2: (2, 129.0)}
    # invalid predicates fail BEFORE any transaction starts
    with pytest.raises(RollupError, match="invalid HAVING"):
        create_rollup(
            lake, "mv2", "ev", time_col=None, keys=("user_id",),
            sum_cols=("value",), having="no_such_col > 1",
        )
    assert "mv2" not in lake.tables()
