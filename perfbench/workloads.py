"""The benchmark's workloads. Each one drives the package only through its
public API, with one client in a closed loop: send an operation, wait for
its result, send the next.

A workload builds its whole operation plan from ``--seed`` before anything
runs (so the plan digest does not depend on timing), sets itself up once,
then executes plan steps until the clock runs out.

Every timed operation is paired with its reference, run right after it on
the same inputs: the plain ``spark.sql`` twin over the as-of source for a
cached query, the batch recompute for an index ingest. The reference is the
correctness check of the operation, and the ratio of the two latencies is
the figure the benchmark gates on: a burst of load on the host slows both
halves of a pair alike, so the ratio holds where raw latencies drift.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from typing import Dict, List, Optional

from data import DOCS_PER_SF, SPAN_US, T0_US, prepare_base, prepare_multiplied
from harness import Bench, dir_bytes, dir_files, median

HOUR_NS = 3600 * 10**9
DAY_NS = 24 * HOUR_NS
TIERS = ("nano", "lite", "template", "classic", "topk", "rowset")


def lit_ts(now_ns: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S.%f}'"


def asof_sql(sql: str, view: str, now_ns: int) -> str:
    """The plain twin of a cached query as of ``now``: the source bounded to
    ``ts_ns < now`` and ``now()`` rendered as a literal."""
    bounded = f"FROM (SELECT * FROM {view} WHERE ts_ns < {now_ns}) {view}"
    return sql.replace(f"FROM {view}", bounded).replace("now()", lit_ts(now_ns))


class Workload:
    name = ""
    #: the op kind whose latency the workload exists to measure
    primary = "refresh"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.sf = ctx.sf
        self.decisions: List[dict] = []
        self.bench: Optional[Bench] = None
        self.qc = None
        self.cache_root: Optional[str] = None
        self.parsed: set = set()
        self.extra: Dict[str, float] = {}

    # -- helpers ------------------------------------------------------------
    def fresh_dir(self, tag: str) -> str:
        p = os.path.join(self.ctx.run_dir, f"{tag}-{time.perf_counter_ns()}")
        os.makedirs(p)
        return p

    def new_session(self, now_ns: int, **cfg):
        from datafusion_query_cache_spark import (
            CachedSparkSession,
            ParquetQueryCache,
            QueryCacheConfig,
        )

        cache_kw = cfg.pop("cache_kw", {})
        if self.cache_root is not None:
            shutil.rmtree(self.cache_root, ignore_errors=True)
        self.cache_root = self.fresh_dir("cache")
        self.cache = ParquetQueryCache(self.cache_root, **cache_kw)
        self.qc = CachedSparkSession(
            self.spark,
            QueryCacheConfig(cache=self.cache, override_now_ns=now_ns, **cfg),
        )
        self.decisions = []
        return self.qc

    def parse_span(self, sql: str) -> None:
        """Time ``plans.parser.parse_query`` once per distinct text (traced
        steps only; outside any op so op latency is untouched)."""
        tr = self.bench.tracer
        if not tr.enabled or sql in self.parsed:
            return
        self.parsed.add(sql)
        from datafusion_query_cache_spark.plans.ir import Unsupported
        from datafusion_query_cache_spark.plans.parser import parse_query

        with tr.span("plans.parse", kind="parse"):
            try:
                parse_query(sql)
            except Unsupported:
                pass

    def cached(self, kind: str, panel: str, sql: str, op_id: str):
        """One ``qc.sql(sql).collect()`` op; records its decision. Kind
        ``revisit`` is filed as ``refresh`` or ``miss`` by what the cache
        did; a query the cache declines is filed as ``passthrough``."""
        tr = self.bench.tracer
        self.parse_span(sql)
        pre = dir_files(self.cache_root) if tr.enabled else None

        def run(span):
            with tr.span("session.sql"):
                df = self.qc.sql(sql)
            with tr.span("session.collect"):
                return df.collect()

        rows, ms = self.bench.op(kind, panel, run, op_id, record=False)
        d = self.qc.last_decision
        if kind == "revisit":
            kind = "refresh" if d.cache_hit else "miss"
        if kind in ("miss", "refresh") and not d.cached:
            kind = "passthrough"
        if ms is not None:
            self.bench.record(kind, panel, ms)
        rec = {
            "kind": kind, "panel": panel, "ms": ms, "op_id": op_id,
            "cached": bool(d.cached), "hit": bool(d.cache_hit),
            "memo": bool(d.served_from_memo), "tier": d.refresh_tier,
            "reason": d.reason or "", "fp": d.fingerprint,
            "fresh": d.fresh_rows() if d.cached else None,
            "wm": d.watermark_ns, "now": self.qc.config.override_now_ns,
        }
        if pre is not None:
            post = dir_files(self.cache_root)
            rec["write_bytes"] = sum(sz for p, sz in post.items() if pre.get(p) != sz)
            root = next(s for s in reversed(tr.spans) if s.parent is None)
            root.attrs.update(kind=kind, tier=d.refresh_tier, fingerprint=d.fingerprint)
        self.decisions.append(rec)
        return rows, rec

    def paired_plain(self, rec: dict, rows, sql: str, view: str) -> Optional[float]:
        """Run the plain twin of a cached op (as of its ``now``; over the
        full source when the cache declined it), check the op's rows against
        it and file the latency ratio. Returns the plain latency."""
        if rows is None:
            return None
        if rec["cached"]:
            sql = asof_sql(sql, view, rec["now"])
        tr = self.bench.tracer

        def run(span):
            with tr.span("plain.sql"):
                df = self.spark.sql(sql)
            with tr.span("plain.collect"):
                return df.collect()

        op_id = rec["op_id"]
        want, ms = self.bench.op("plain", rec["panel"], run, op_id + ":plain")
        if want is None:
            return None
        if self.bench.check(op_id, rec["panel"], rows, want):
            self.bench.pair(rec["kind"], rec["panel"], rec["ms"], ms)
        return ms

    # -- interface ----------------------------------------------------------
    def prepare(self) -> None:
        prepare_base(self.ctx.data_dir, self.sf)

    def plan(self) -> list:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def step(self, i: int, step: dict) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        tr = self.bench.tracer
        if tr.enabled and self.cache_root:
            t = []
            for info in self.cache.entries():
                with tr.span("cache.get_arrow", kind="maintenance") as s:
                    self.cache.entry(info.fingerprint).get_arrow()
                t.append(s.ms)
            self.extra["cache.get_arrow_ms"] = median(t)

    def sanity(self) -> List[str]:
        return []

    def state_mb(self) -> float:
        return dir_bytes(self.cache_root) / 2**20 if self.cache_root else 0.0

    def detail(self, b: Bench) -> Dict[str, float]:
        """Per-kind figures under their own names: latency median and p90
        (ms), sample count, and the median latency ratio to the reference."""
        out = {}
        for kind in ("refresh", "hot", "miss", "passthrough", "plain", "ingest", "batch"):
            if b.samples.get(kind):
                out[f"{kind}_p50_ms"] = b.kind_p50(kind)
                out[f"{kind}_p90_ms"] = b.kind_p90(kind)
                out[f"{kind}_n"] = len(b.samples[kind])
            if b.kind_ratio(kind):
                out[f"{kind}_vs_ref"] = b.kind_ratio(kind)
        return out


# ---------------------------------------------------------------------------
# dash: standing dashboard panels over sf0.1 events
# ---------------------------------------------------------------------------

FLAGSHIP_SQL = (
    "SELECT date_trunc('hour', ts) AS h, round(avg(value) + 1e-9, 2) AS avg_value, "
    "count(*) AS n FROM events WHERE value > 1 GROUP BY 1 ORDER BY 1"
)
MA_SQL = (
    "SELECT dd, n, round(avg(n) OVER (ORDER BY dd ROWS BETWEEN 6 "
    "PRECEDING AND CURRENT ROW) + 1e-9, 2) AS ma7 FROM "
    "(SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n "
    "FROM events GROUP BY 1) t ORDER BY dd"
)
DYN_SQL = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
    "FROM events WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1"
)
TOPK_SQL = (
    "SELECT event_id, value FROM events WHERE event_type = 'click' "
    "ORDER BY value DESC, event_id LIMIT 100"
)
#: a window over a filter query: the cache declines it (passthrough)
DECLINED_SQL = (
    "SELECT user_id, value, rank() OVER (PARTITION BY event_type "
    "ORDER BY value DESC, event_id) AS r FROM events WHERE user_id < 3"
)


class EventsMixin:
    """Registers the generated ``events`` and keeps its ``ts`` column for
    counting the rows truly in a refresh window (outside any op)."""

    mult = 1

    def register(self, tables=("events",)) -> str:
        from datafusion_query_cache_spark.sources.tables import register_testdata

        base = prepare_base(self.ctx.data_dir, self.sf)
        register_testdata(self.spark, base, list(tables))
        if not hasattr(self, "_ts_ns"):
            import numpy as np
            import pyarrow.parquet as pq

            ts = pq.read_table(os.path.join(base, "events.parquet"), columns=["ts"])
            self._ts_ns = ts["ts"].cast("int64").to_numpy() * 1000
            self._np = np
        return base

    def true_rows(self, lo_ns: Optional[int], hi_ns: int) -> int:
        np = self._np
        lo = 0 if lo_ns is None else int(np.searchsorted(self._ts_ns, lo_ns, "left"))
        hi = int(np.searchsorted(self._ts_ns, hi_ns, "left"))
        return (hi - lo) * self.mult

    def ts_at(self, q: float) -> int:
        """Whole-second instant at quantile ``q`` of the event-time range."""
        return (T0_US + int(SPAN_US * q)) // 10**6 * 10**9


class PanelWorkload(EventsMixin, Workload):
    """Standing panels refreshed as ``now`` advances (dash, tail). Each step
    refreshes every panel in a seeded order, each paired with its plain
    twin, then re-reads every cached panel ``hot_reads`` times, in a seeded
    order, at the same ``now``."""

    view = "events"
    panels: Dict[str, str] = {}
    declined: tuple = ()
    hot_reads = 1
    qc_kw: dict = {}

    def start_now(self) -> int:
        raise NotImplementedError

    def step_ns(self) -> int:
        raise NotImplementedError

    def plan(self) -> list:
        names = list(self.panels)
        cached = [p for p in names if p not in self.declined] * self.hot_reads
        self.warm_now = self.start_now() + self.step_ns() // 2
        now = self.warm_now
        steps = []
        for _ in range(400):
            now += self.step_ns()
            order, hot = names[:], cached[:]
            self.rng.shuffle(order)
            self.rng.shuffle(hot)
            steps.append({"now": now, "order": order, "hot": hot})
        return steps

    def register_views(self) -> None:
        self.register()

    def setup(self) -> None:
        self.register_views()
        qc = self.new_session(self.start_now(), **self.qc_kw)
        for name, sql in self.panels.items():
            qc.sql(sql).collect()  # populating miss
            if name in self.declined and qc.last_decision.cached:
                raise RuntimeError(f"panel {name} was expected to be declined")
        qc.config.override_now_ns = self.warm_now
        for name, sql in self.panels.items():  # untimed warm-up pass
            qc.sql(sql).collect()
            sql_now = sql if name in self.declined else asof_sql(sql, self.view, self.warm_now)
            self.spark.sql(sql_now).collect()

    def step(self, i: int, step: dict) -> None:
        self.qc.config.override_now_ns = step["now"]
        plain_ms, last = {}, {}
        for name in step["order"]:
            kind = "passthrough" if name in self.declined else "refresh"
            rows, rec = self.cached(kind, name, self.panels[name], f"s{i}:{name}")
            self.after_refresh(name, rec)
            plain_ms[name] = self.paired_plain(rec, rows, self.panels[name], self.view)
            last[name] = rows
        for name in step["hot"]:
            rows, rec = self.cached("hot", name, self.panels[name], f"s{i}:{name}:hot")
            if rows is None or last[name] is None:
                continue
            # same now as the refresh just before: same rows, same reference
            if self.bench.check(rec["op_id"], name, rows, last[name]) and plain_ms[name]:
                self.bench.pair("hot", name, rec["ms"], plain_ms[name])

    def after_refresh(self, name: str, rec: dict) -> None:
        pass

    def refreshes(self) -> List[dict]:
        return [r for r in self.decisions if r["kind"] == "refresh" and r["ms"] is not None]


class Dash(PanelWorkload):
    name = "dash_sf01"
    #: a hot read costs a few ms: several per step keep its median steady
    hot_reads = 3
    panels = {
        "flagship": FLAGSHIP_SQL,
        "ma7": MA_SQL,
        "dyn10d": DYN_SQL,
        "topk": TOPK_SQL,
        "declined": DECLINED_SQL,
    }
    declined = ("declined",)

    def start_now(self) -> int:
        return self.ts_at(0.7)

    def step_ns(self) -> int:
        # one to three hours of events: a few hundred fresh rows at sf0.1
        return self.rng.randint(3600, 3 * 3600) * 10**9

    def sanity(self) -> List[str]:
        r = self.refreshes()
        driver = sum(1 for x in r if x["tier"] in ("nano", "topk"))
        bad = []
        if not r or driver * 2 <= len(r):
            bad.append(f"dash: only {driver}/{len(r)} refreshes on nano/topk")
        if any(x["cached"] for x in self.decisions if x["panel"] == "declined"):
            bad.append("dash: the declined panel was cached")
        return bad


# ---------------------------------------------------------------------------
# tail: the distributed refresh tiers over a date-partitioned events x10
# ---------------------------------------------------------------------------


class Tail(PanelWorkload):
    name = "tail_x10"
    mult = 10
    view = "events_x10"
    qc_kw = {"temporal_partition_columns": {"ts": "d"}}
    panels = {
        "static": (
            "SELECT date_trunc('hour', ts) AS h, round(avg(value) + 1e-9, 2) AS av, "
            "count(*) AS n FROM events_x10 GROUP BY 1 ORDER BY 1"
        ),
        # (day, key) state above the driver-collect row cap: the store-back
        # is partitioned by day and layered
        "hicard": (
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, "
            "event_id % 99991 AS k, count(*) AS n FROM events_x10 "
            "WHERE ts > now() - INTERVAL 25 DAY GROUP BY 1, 2 "
            "ORDER BY n DESC, dd, k LIMIT 100"
        ),
    }

    def start_now(self) -> int:
        return self.ts_at(1.0) - 4 * DAY_NS

    def step_ns(self) -> int:
        # sub-day steps through the last days
        return self.rng.randint(3 * 3600, 6 * 3600) * 10**9

    def prepare(self) -> None:
        prepare_multiplied(self.spark, self.ctx.data_dir, self.sf, self.mult)

    def register_views(self) -> None:
        from datafusion_query_cache_spark.sources.tables import with_ns_shadow

        self.register(())
        path, _ = prepare_multiplied(self.spark, self.ctx.data_dir, self.sf, self.mult)
        with_ns_shadow(self.spark.read.parquet(path), "ts").createOrReplaceTempView(self.view)
        self.layers_max = 0

    def after_refresh(self, name: str, rec: dict) -> None:
        if name == "hicard" and rec["fp"]:
            self.layers_max = max(self.layers_max, self.cache.entry(rec["fp"]).layer_count())

    def sanity(self) -> List[str]:
        r = self.refreshes()
        bad = []
        if not r or any(x["tier"] == "nano" for x in r):
            bad.append("tail: a refresh was served by nano (or none ran)")
        if self.layers_max < 2:
            bad.append(f"tail: hicard state never layered (layers_max={self.layers_max})")
        return bad


# ---------------------------------------------------------------------------
# churn: distinct ad-hoc aggregates under a byte budget
# ---------------------------------------------------------------------------


class Churn(EventsMixin, Workload):
    name = "churn_sf01"
    primary = "miss"
    #: byte budget of the cache: below what a run writes, so entries evict
    max_bytes = 48 << 10
    sweep_every = 8

    KEYS = [
        ("date_trunc('hour', ts)", "h"),
        ("date_trunc('day', ts)", "dd"),
        ("date_trunc('week', ts)", "wk"),
        ("event_type", "et"),
        ("user_id % {m}", "um"),
    ]
    AGGS = [
        ("count(*)", "n"),
        ("sum(value)", "s"),
        ("avg(value)", "a"),
        ("min(value)", "lo"),
        ("max(value)", "hi"),
        ("stddev(value)", "sd"),
    ]

    def gen_query(self, seen: set) -> tuple:
        rng = self.rng
        while True:
            if rng.random() < 0.2:
                u = rng.randint(0, 1499)
                sql = (
                    "SELECT user_id, value, rank() OVER (PARTITION BY event_type "
                    f"ORDER BY value DESC, event_id) AS r FROM events WHERE user_id = {u}"
                )
                kind = "passthrough"
            else:
                keys = rng.sample(self.KEYS, rng.randint(1, 2))
                if sum(k.startswith("date_trunc") for k, _a in keys) > 1:
                    continue  # one temporal bucket at most, or it passes through
                aggs = rng.sample(self.AGGS, rng.randint(1, 3))
                sel = [k.format(m=rng.choice((7, 13, 50, 97))) + f" AS {a}" for k, a in keys]
                sel += [f"{e} AS {a}" for e, a in aggs]
                where = ""
                if rng.random() < 0.5:
                    where = f" WHERE value > {rng.randint(0, 20000) / 100:.2f}"
                groups = ", ".join(str(i + 1) for i in range(len(keys)))
                sql = f"SELECT {', '.join(sel)} FROM events{where} GROUP BY {groups}"
                kind = "miss"
            if sql not in seen:
                seen.add(sql)
                return kind, sql

    def plan(self) -> list:
        seen: set = set()
        self.warm = [self.gen_query(seen) for _ in range(3)]
        now = self.ts_at(0.6)
        self.warm_now = now
        steps: List[dict] = []
        revisits: Dict[int, List[int]] = {}
        for i in range(400):
            now += self.rng.randint(600, 3600) * 10**9
            kind, sql = self.gen_query(seen)
            st = {"now": now, "kind": kind, "sql": sql,
                  "hot": kind == "miss" and self.rng.random() < 0.25,
                  "revisit": revisits.pop(i, [])}
            if kind == "miss" and self.rng.random() < 0.25:
                revisits.setdefault(i + self.rng.randint(3, 10), []).append(i)
            steps.append(st)
        return steps

    def setup(self) -> None:
        self.register()
        qc = self.new_session(self.warm_now, cache_kw={"max_bytes": self.max_bytes})
        for _kind, sql in self.warm:  # untimed warm-up of the miss path
            qc.sql(sql).collect()
            self.spark.sql(asof_sql(sql, "events", self.warm_now)).collect()
        self.sqls: List[str] = []
        self.evicted = 0
        self.sweep_ms: List[float] = []

    def step(self, i: int, st: dict) -> None:
        self.sqls.append(st["sql"])
        self.qc.config.override_now_ns = st["now"]
        rows, rec = self.cached(st["kind"], "adhoc", st["sql"], f"s{i}")
        plain_ms = self.paired_plain(rec, rows, st["sql"], "events")
        if st["hot"] and rows is not None:
            hot, hrec = self.cached("hot", "adhoc", st["sql"], f"s{i}:hot")
            if hot is not None and self.bench.check(hrec["op_id"], "adhoc", hot, rows) and plain_ms:
                self.bench.pair("hot", "adhoc", hrec["ms"], plain_ms)
        for j in st["revisit"]:
            rows, rec = self.cached("revisit", "adhoc", self.sqls[j], f"s{i}:re{j}")
            self.paired_plain(rec, rows, self.sqls[j], "events")
        if (i + 1) % self.sweep_every == 0:
            t0 = time.perf_counter()
            with self.bench.tracer.span("cache.sweep", kind="maintenance"):
                self.evicted += len(self.cache.sweep())
            self.sweep_ms.append((time.perf_counter() - t0) * 1e3)

    def finish(self) -> None:
        super().finish()
        self.extra["cache.sweep_ms"] = median(self.sweep_ms)

    def sanity(self) -> List[str]:
        kinds = [r["kind"] for r in self.decisions]
        bad = []
        if kinds.count("miss") <= kinds.count("refresh"):
            bad.append("churn: misses do not dominate")
        if self.evicted == 0:
            bad.append("churn: nothing was evicted")
        return bad


# ---------------------------------------------------------------------------
# ingest: a standing contamination index fed advancing document slices
# ---------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest_docs"
    primary = "ingest"
    #: corpus size relative to the events scale (2,500 docs at sf0.1): the
    #: batch reference of every step must fit several times into a run
    docs_scale = 0.5

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf = ctx.sf * self.docs_scale

    def plan(self) -> list:
        n = max(40, int(round(DOCS_PER_SF * self.sf)))
        self.cut = int(n * self.rng.uniform(0.48, 0.52))
        self.warm_upto = self.cut + max(1, n // 100)  # the untimed warm-up ingest
        upto = self.warm_upto
        steps = []
        while True:
            upto += max(1, int(n * self.rng.uniform(0.01, 0.03)))
            if upto > n:
                break
            steps.append({"upto": upto})
        # the batch reference costs ~5 ingests: pair it with every other one
        phase = self.rng.randint(0, 1)
        for i, st in enumerate(steps):
            st["batch"] = i % 2 == phase
        return steps

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from datafusion_query_cache_spark.operators.incremental_contamination import (
            ContaminationIndex,
        )
        from datafusion_query_cache_spark.sources.tables import register_testdata

        register_testdata(self.spark, prepare_base(self.ctx.data_dir, self.sf), ["documents"])
        docs = self.spark.table("documents")
        self.F = F
        # every seventh doc is benchmark text, the rest is training corpus
        self.bench_docs = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
        self.corpus = docs.filter(F.col("doc_id") % 7 != 0)
        if getattr(self, "root", None):
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = self.fresh_dir("contam")
        self.index = ContaminationIndex(self.root, k=8, hashed=True)
        self.index.update(docs=self.upto(self.cut), benchmark=self.bench_docs).collect()
        # untimed warm-up: one small ingest and the batch plan the checks run
        self.index.update(docs=self.upto(self.warm_upto)).collect()
        self.batch(self.warm_upto).collect()
        self.upd: List[float] = []
        self.last = None

    def upto(self, n: int):
        return self.corpus.filter(self.F.col("doc_id") < self.F.lit(n))

    def batch(self, n: int):
        from datafusion_query_cache_spark.operators.textstats import contamination_scores

        return contamination_scores(self.upto(n), self.bench_docs, k=8, hashed=True)

    def timed(self, kind: str, name: str, make, op_id: str):
        """Times ``make().collect()``; returns (rows, ms)."""
        tr = self.bench.tracer

        def run(span):
            with tr.span(name):
                return make().collect()

        return self.bench.op(kind, "contam", run, op_id)

    def step(self, i: int, st: dict) -> None:
        n = st["upto"]
        got, ms = self.timed(
            "ingest", "operators.contam_update",
            lambda: self.index.update(docs=self.upto(n)), f"s{i}",
        )
        if ms is not None:
            self.upd.append(ms)
        # the same standing table again: nothing new to ingest
        hot, hot_ms = self.timed(
            "hot", "operators.contam_update",
            lambda: self.index.update(docs=self.upto(n)), f"s{i}:hot",
        )
        self.last = (i, n, got, ms, hot, hot_ms)
        if st["batch"]:
            self.check_batch()

    def check_batch(self) -> None:
        """Batch recompute at the last ingest's cut: the check of that
        ingest and of its re-ingest, and the reference they pair with."""
        i, n, got, ms, hot, hot_ms = self.last
        self.last = None
        want, batch_ms = self.timed("batch", "batch.contam", lambda: self.batch(n), f"s{i}:batch")
        if want is None:
            return
        if got is not None and self.bench.check(f"s{i}", "contam", got, want):
            self.bench.pair("ingest", "contam", ms, batch_ms)
        if hot is not None and self.bench.check(f"s{i}:hot", "contam", hot, want):
            self.bench.pair("hot", "contam", hot_ms, batch_ms)

    def finish(self) -> None:
        if self.last is not None:  # the last ingest is always checked
            self.check_batch()

    def state_mb(self) -> float:
        return dir_bytes(self.root) / 2**20

    def sanity(self) -> List[str]:
        return [] if self.upd else ["ingest: the index was never updated"]


WORKLOADS = {w.name: w for w in (Dash, Tail, Churn, Ingest)}
