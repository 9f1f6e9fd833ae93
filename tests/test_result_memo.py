"""Result memo: a hot read (empty refresh window) at a watermark this
session already finalized returns the memoized DataFrame with zero Spark
work. Sound because state is immutable per watermark and finalize is pure;
any watermark advance changes the key."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import group_job_stats, rows_set

SQL = (
    "SELECT date_trunc('hour', ts) AS h, count(*) AS n, "
    "round(sum(value), 2) AS s FROM events_rm GROUP BY 1"
)


def _cut(spark):
    return int(spark.table("events").approxQuantile("ts_ns", [0.5], 0.0)[0])


def test_hot_reread_served_from_memo(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    first = qc.sql(SQL)
    assert not qc.last_decision.served_from_memo
    # re-read at the same (or earlier) now: refresh window provably empty
    qc.config.override_now_ns = cut - 1
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and d.served_from_memo
    assert rows_set(again) == rows_set(first)
    # results are as-of the watermark (ts < cut), like any hot read
    want = (
        ev.filter(F.col("ts_ns") < F.lit(cut))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    assert rows_set(again) == rows_set(want)


def test_watermark_advance_invalidates_memo(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    ev.filter(F.col("ts_ns") < F.lit(cut)).createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    qc.sql(SQL).collect()
    qc.sql(SQL).collect()
    assert qc.last_decision.served_from_memo  # memo active at wm=cut
    # new data + a later now: must NOT serve the old memo
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut + 10**18
    got = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    assert rows_set(got) == rows_set(spark.sql(SQL.replace("events_rm", "events")))
    # and the refreshed result seeds a NEW memo entry at the new watermark
    got2 = qc.sql(SQL)
    assert qc.last_decision.served_from_memo
    assert rows_set(got2) == rows_set(spark.sql(SQL.replace("events_rm", "events")))


def test_refresh_interval_serves_within_window(spark, qc):
    """min_refresh_interval_ns: a re-run within the interval serves as-of
    the stored watermark (zero-work with the memo); past the interval it
    does a real incremental refresh."""
    ev = spark.table("events")
    cut = _cut(spark)
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    qc.config.min_refresh_interval_ns = 10**9  # 1s staleness budget
    first = qc.sql(SQL)
    # 0.5s later: inside the interval → hot (memo) serve as-of cut
    qc.config.override_now_ns = cut + 5 * 10**8
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and d.served_from_memo and d.watermark_ns == cut
    assert rows_set(again) == rows_set(first)
    # 2s later: past the interval → genuine refresh, watermark advances
    qc.config.override_now_ns = cut + 2 * 10**9
    ref = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    want = (
        ev.filter(F.col("ts_ns") < F.lit(cut + 2 * 10**9))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    assert rows_set(ref) == rows_set(want)


def test_memo_disabled_by_config(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    qc.config.result_memo = False
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    first = qc.sql(SQL)
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    assert rows_set(again) == rows_set(first)


def test_memo_keyed_by_post_shape(spark, qc_mem):
    """Queries sharing a fingerprint (same state entry) but differing in
    ORDER BY / LIMIT / select order must NOT share a memoized result —
    r12 find: at a pinned now, `LIMIT 2` hot-served its 2 rows to a later
    `LIMIT 4`, and DESC got the ASC rows."""
    from pyspark.sql import functions as F

    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    qc_mem.config.override_now_ns = mx + 10**9
    base = "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1"
    a = qc_mem.sql(base + " LIMIT 2")
    assert a.count() == 2
    b = qc_mem.sql(base + " LIMIT 4")
    assert b.count() == 4  # was 2 before the fix
    c = qc_mem.sql(base + " DESC LIMIT 2")
    rows = [r[0] for r in c.collect()]
    assert rows == sorted(rows, reverse=True), rows
    # and a TRUE repeat still hot-serves from the memo
    qc_mem.sql(base + " LIMIT 2").collect()
    assert qc_mem.last_decision.served_from_memo


# -- memo coverage: every cached shape re-reads with zero Spark jobs --------

DAY_NS = 24 * 3600 * 10**9


def _asof(sql: str, view: str, now_ns: int) -> str:
    """Plain twin of a cached query as of ``now``: the source bounded to
    ``ts_ns < now`` and ``now()`` pinned to the same instant."""
    bounded = f"FROM (SELECT * FROM {view} WHERE ts_ns < {now_ns}) {view}"
    return sql.replace(f"FROM {view}", bounded).replace(
        "now()", f"timestamp_micros({now_ns // 1000})"
    )


def _hot_reads(spark, qc, sql, n=2):
    """``n`` re-reads at the session's current now: each must be a memo
    serve running no Spark job (planning and collect both counted)."""
    rows = None
    for _ in range(n):
        # a fresh group per read: the tracker keeps every job of a group
        got, jobs = group_job_stats(
            spark, f"memo-hot-{uuid.uuid4().hex}", lambda: qc.sql(sql).collect()
        )
        d = qc.last_decision
        assert d.cache_hit and d.served_from_memo, d
        assert jobs == [], f"hot read ran Spark jobs {jobs}"
        assert rows is None or got == rows
        rows = got
    return rows


def _rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.fixture(scope="module")
def events_day_part(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("memo") / "events_day_part")
    spark.table("events").withColumn("d", F.to_date("ts")).write.partitionBy(
        "d"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("events_dp")
    return path


def test_memo_dynamic_big_layered_state(
    spark, tmp_path, monkeypatch, events_day_part
):
    """(a) a dynamic window over day-partitioned state above the driver-
    collect cap (classic tier, bucket-tail layers): each refresh evaluates
    the bound and the tail's lower bucket in one tiny job and collects its
    LIMITed result inside sql(); every hot read is a memo serve."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.cache import _ParquetEntry
    from datafusion_query_cache_spark.log import HistoryLog

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 50)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 97 AS k, "
        "count(*) AS n FROM events_dp WHERE ts > now() - INTERVAL 20 DAY "
        "GROUP BY 1, 2 ORDER BY n DESC, dd, k LIMIT 10"
    )
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "c")),
            temporal_partition_columns={"ts": "d"},
            log=HistoryLog(),
        ),
    )
    now = mx - 6 * DAY_NS
    qc.config.override_now_ns = now
    qc.sql(sql).collect()
    fp = qc.last_decision.fingerprint
    evals = []
    inner = qc._eval_bound_and_bucket

    def counting(*a, **kw):
        evals.append(kw.get("trunc_ns"))
        return inner(*a, **kw)

    monkeypatch.setattr(qc, "_eval_bound_and_bucket", counting)
    for step in (2, 2):
        now += step * DAY_NS
        qc.config.override_now_ns = now
        evals.clear()
        seen = len(qc.config.log.messages())
        refreshed = qc.sql(sql).collect()
        d = qc.last_decision
        assert d.cache_hit and d.refresh_tier == "classic"
        assert not d.served_from_memo
        logged = qc.config.log.messages()[seen:]
        assert any("bucket-tail layer" in m for m in logged)
        # one evaluation, carrying the old watermark's bucket truncation
        assert len(evals) == 1 and evals[0] is not None
        hot = _hot_reads(spark, qc, sql)
        assert hot == refreshed
        want = spark.sql(_asof(sql, "events_dp", now)).collect()
        assert _rows(hot) == _rows(want)
    assert qc.config.cache.entry(fp).layer_count() >= 2


MA_SQL = (
    "SELECT dd, n, round(avg(n) OVER (ORDER BY dd ROWS BETWEEN 6 "
    "PRECEDING AND CURRENT ROW) + 1e-9, 2) AS ma7 FROM "
    "(SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n "
    "FROM events GROUP BY 1) t ORDER BY dd"
)


def test_memo_window_over_aggregate(spark, qc):
    """(b) a window replayed over a cached aggregate (derived table): the
    outer result is memoized under the inner key plus the outer shape."""
    cut = _cut(spark)
    qc.config.override_now_ns = cut
    qc.sql(MA_SQL).collect()
    now = cut + DAY_NS
    qc.config.override_now_ns = now
    refreshed = qc.sql(MA_SQL).collect()
    assert qc.last_decision.cache_hit and not qc.last_decision.served_from_memo
    hot = _hot_reads(spark, qc, MA_SQL)
    assert hot == refreshed
    assert _rows(hot) == _rows(spark.sql(_asof(MA_SQL, "events", now)).collect())
    # a different outer shape over the same inner entry never shares it
    other = MA_SQL.replace("6 PRECEDING", "2 PRECEDING")
    got = qc.sql(other).collect()
    assert not qc.last_decision.served_from_memo
    assert _rows(got) == _rows(spark.sql(_asof(other, "events", now)).collect())


TOPK_SQL = (
    "SELECT event_id, value FROM events WHERE event_type = 'click' "
    "ORDER BY value DESC, event_id LIMIT 10"
)


@pytest.mark.parametrize("nano", [True, False], ids=["nano", "spark"])
def test_memo_filter_topk(spark, qc, nano):
    """(c) a filter ORDER BY … LIMIT (maintained top-k), on the driver
    tier and on the Spark tier."""
    if not nano:
        qc.config.nano_refresh_max_bytes = 0
    cut = _cut(spark)
    qc.config.override_now_ns = cut
    qc.sql(TOPK_SQL).collect()
    now = cut + DAY_NS
    qc.config.override_now_ns = now
    refreshed = qc.sql(TOPK_SQL).collect()
    d = qc.last_decision
    assert d.refresh_tier == ("nano" if nano else "topk")
    hot = _hot_reads(spark, qc, TOPK_SQL)
    assert hot == refreshed
    want = spark.sql(_asof(TOPK_SQL, "events", now)).collect()
    assert [tuple(r) for r in hot] == [tuple(r) for r in want]


UNBOUNDED_SQL = (
    "SELECT user_id % 97 AS k, count(*) AS n, round(sum(value), 2) AS s "
    "FROM events GROUP BY 1"
)


def test_memo_skips_result_above_bound(spark, qc, monkeypatch):
    """(d) no LIMIT over state above the driver-collect cap: the result
    has no provable size bound, so it stays lazy and is not memoized."""
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 10)
    cut = _cut(spark)
    qc.config.override_now_ns = cut
    first = qc.sql(UNBOUNDED_SQL).collect()
    for _ in range(2):
        df = qc.sql(UNBOUNDED_SQL)
        d = qc.last_decision
        assert d.cache_hit and not d.served_from_memo and d.memo_key is None
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" not in plan
        assert _rows(df.collect()) == _rows(first)
    assert not qc._result_memo
    assert _rows(first) == _rows(
        spark.sql(_asof(UNBOUNDED_SQL, "events", cut)).collect()
    )


def test_held_bounded_result_survives_superseding_refresh(spark, qc, monkeypatch):
    """A memoized bounded hot read holds its rows: a refresh of the same
    fingerprint that removes the superseded state directory leaves the
    held frame readable. (A held LAZY result over distributed state — no
    LIMIT, state above the cap — still reads the removed files; that half
    is open.)"""
    import os

    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 10)
    sql = UNBOUNDED_SQL + " ORDER BY k LIMIT 10"
    cut = _cut(spark)
    qc.config.override_now_ns = cut
    qc.sql(sql).collect()
    fp = qc.last_decision.fingerprint
    held = qc.sql(sql)
    assert qc.last_decision.served_from_memo
    want = spark.sql(_asof(sql, "events", cut)).collect()
    old_dirs = qc.config.cache.entry(fp)._state_paths()
    assert all(os.path.exists(p) for p in old_dirs)
    now = cut
    while any(os.path.exists(p) for p in old_dirs):
        now += DAY_NS
        assert now < cut + 40 * DAY_NS, "superseded state never removed"
        qc.config.override_now_ns = now
        qc.sql(sql).collect()
    assert [tuple(r) for r in held.collect()] == [tuple(r) for r in want]


def test_healed_entry_nested_memo_never_served(spark, tmp_path):
    """audit_heal='invalidate' drops the healed fingerprint's memoized
    results, derived-table outer shapes included: the recompute at the
    same now serves the late rows, not the pre-heal memo."""
    import datetime as dt

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.log import HistoryLog

    ev = spark.table("events")
    cut_ns = _cut(spark) // 1000 * 1000
    cut = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=cut_ns // 1000)
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "heal")),
            log=HistoryLog(),
            audit_heal="invalidate",
        ),
    )
    sql = MA_SQL.replace("FROM events", "FROM events_hm")
    early = ev.filter(F.col("ts") < F.lit(cut))
    early.createOrReplaceTempView("events_hm")
    qc.config.override_now_ns = cut_ns
    before = qc.sql(sql).collect()
    fp = qc.last_decision.fingerprint
    qc.sql(sql).collect()
    assert qc.last_decision.served_from_memo
    # late rows (ts < watermark) break append-only; the audit heals
    early.unionByName(early.limit(50)).createOrReplaceTempView("events_hm")
    assert qc.audit(fp, buckets=5).ok is False
    assert not any(k[0] == fp for k in qc._result_memo)
    got = qc.sql(sql).collect()
    d = qc.last_decision
    assert not d.served_from_memo and not d.cache_hit
    assert got != before
    assert _rows(got) == _rows(spark.sql(_asof(sql, "events_hm", cut_ns)).collect())


def test_memo_dynamic_bound_keys_the_delta(spark, qc):
    """Every `ts > now() - Δ` shares one bound-independent state entry,
    so the memo key must carry the bound: after a refresh of the 5-day
    window, the 10-day window at the same now must not get its rows (it
    did when the key held only the watermark and now), and each re-reads
    its own rows."""
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    now = mx - 3 * DAY_NS
    sqls = [
        "SELECT count(*) AS n FROM events WHERE ts > now() - INTERVAL 5 DAY",
        "SELECT count(*) AS n FROM events WHERE ts > now() - INTERVAL 10 DAY",
    ]
    qc.config.override_now_ns = now - 2 * DAY_NS
    qc.sql(sqls[0]).collect()
    qc.config.override_now_ns = now
    want = [spark.sql(_asof(q, "events", now)).collect() for q in sqls]
    assert want[0] != want[1]
    for q, w in zip(sqls, want):
        assert qc.sql(q).collect() == w
    for q, w in zip(sqls, want):
        assert _hot_reads(spark, qc, q, n=1) == w


@pytest.fixture
def rm_seg(spark):
    spark.sql(
        "SELECT DISTINCT user_id AS uid, concat('s', user_id % 4) AS segment "
        "FROM events"
    ).createOrReplaceTempView("rm_seg")
    yield
    spark.catalog.dropTempView("rm_seg")


#: dynamic bounds keep the cached parts off the fused tier (which always
#: finishes driver-side) on misses and hot reads
COMPOSITE_SQLS = {
    "dims": (
        "SELECT segment, k, n FROM (SELECT user_id AS k, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 20 DAY GROUP BY 1) x "
        "JOIN rm_seg ON k = uid"
    ),
    "union": (
        "SELECT event_type, count(*) AS n FROM events WHERE value > 50 "
        "AND ts > now() - INTERVAL 20 DAY GROUP BY 1 UNION ALL "
        "SELECT event_type, count(*) AS n FROM events WHERE value <= 50 "
        "AND ts > now() - INTERVAL 20 DAY GROUP BY 1"
    ),
}


@pytest.mark.parametrize("shape", sorted(COMPOSITE_SQLS))
def test_composite_result_keeps_parts_lazy(spark, qc, monkeypatch, rm_seg, shape):
    """A result that reads more than its cached parts (a derived table
    joined to dims, a UNION) is never memoized, so its bounded parts are
    not collected inside sql() either: that would only add a driver round
    trip before the join or union runs."""
    sql = COMPOSITE_SQLS[shape]
    calls = []
    monkeypatch.setattr(
        qc, "_materialize", lambda df, fp: calls.append(fp) or df
    )
    cut = _cut(spark)
    # miss, hot read, refresh
    for now in (cut, cut, cut + DAY_NS):
        qc.config.override_now_ns = now
        got = qc.sql(sql).collect()
        d = qc.last_decision
        assert d.cached and not d.served_from_memo and d.memo_key is None, d
        want = spark.sql(_asof(sql, "events", now)).collect()
        assert _rows(got) == _rows(want)
    assert calls == []


def test_materialize_propagates_execution_errors(spark, qc):
    """An error running a bounded result surfaces from sql(), as it would
    from collect(), instead of being swallowed and the query re-run at
    read time; a schema Arrow cannot carry stays lazy."""
    bad = spark.range(3).select(
        F.when(F.col("id") > 1, F.raise_error(F.lit("qc-boom")))
        .otherwise(F.col("id"))
        .alias("x")
    )
    with pytest.raises(Exception, match="qc-boom"):
        qc._materialize(bad, "fp")
    iv = spark.range(1).select(F.expr("make_interval(1, 2)").alias("iv"))
    assert qc._materialize(iv, "fp") is iv


def test_mixed_null_placement_result_is_driver_local(spark, qc):
    """``ORDER BY n DESC, k`` mixes null placements (DESC puts nulls last,
    ASC first), which one Arrow sort cannot express: Spark sorts the rows
    once inside sql(), so reading the result, and every memoized hot read
    of it, runs no Spark job."""
    sql = (
        "SELECT event_type AS k, count(*) AS n FROM events GROUP BY 1 "
        "ORDER BY n DESC, k"
    )
    cut = _cut(spark)
    qc.config.override_now_ns = cut
    df = qc.sql(sql)
    got, jobs = group_job_stats(
        spark, f"memo-read-{uuid.uuid4().hex}", df.collect
    )
    assert jobs == [], f"reading the result ran Spark jobs {jobs}"
    want = spark.sql(_asof(sql, "events", cut)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert _hot_reads(spark, qc, sql) == got
