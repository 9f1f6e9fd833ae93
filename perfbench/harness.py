"""Measurement machinery shared by the workloads.

- ``Tracer``: spans kept in memory. A root span per operation, child spans
  around public calls. py4j round-trips are counted by wrapping
  ``GatewayClient.send_command``; Spark jobs are attributed by setting a job
  group per span and reading ``statusTracker`` when the span closes. Both are
  attached to the innermost open span. Disabled, every method is a no-op.
- ``Bench``: latency samples and paired ratios per operation kind, and the
  output checks.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import resource
import statistics
import time
from typing import Callable, Dict, List, Optional


class Span:
    __slots__ = (
        "id", "parent", "op", "name", "attrs", "t0", "t1",
        "py4j_calls", "py4j_ms", "jobs", "tasks",
    )

    def __init__(self, sid: int, parent: Optional["Span"], name: str, attrs: dict):
        self.id = sid
        self.parent = parent
        self.op = parent.op if parent is not None else sid
        self.name = name
        self.attrs = attrs
        self.t0 = time.perf_counter()
        self.t1 = None
        self.py4j_calls = 0
        self.py4j_ms = 0.0
        self.jobs = 0
        self.tasks = 0

    @property
    def ms(self) -> float:
        return ((self.t1 or time.perf_counter()) - self.t0) * 1e3

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent.id if self.parent is not None else None,
            "op": self.op,
            "name": self.name,
            "ms": self.ms,
            "py4j_calls": self.py4j_calls,
            "py4j_ms": self.py4j_ms,
            "jobs": self.jobs,
            "tasks": self.tasks,
            **{k: v for k, v in self.attrs.items() if v is not None},
        }


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._quiet = 0  # >0 while the tracer itself talks to the JVM
        self._orig_send = None
        if enabled:
            self._hook_py4j()

    # -- py4j boundary ------------------------------------------------------
    def _hook_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if tracer._quiet or not tracer._stack:
                return orig(client, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, command, *args, **kwargs)
            finally:
                s = tracer._stack[-1]
                s.py4j_calls += 1
                s.py4j_ms += (time.perf_counter() - t0) * 1e3

        GatewayClient.send_command = send_command
        self._orig_send = orig

    def close(self) -> None:
        if self._orig_send is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig_send
            self._orig_send = None

    # -- spans ----------------------------------------------------------------
    def _set_group(self, group: Optional[str]) -> None:
        self._quiet += 1
        try:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._quiet -= 1

    def _read_jobs(self, span: Span, group: str) -> None:
        self._quiet += 1
        try:
            st = self.spark.sparkContext.statusTracker()
            for jid in st.getJobIdsForGroup(group):
                span.jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        span.tasks += stage.numTasks
        finally:
            self._quiet -= 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, attrs)
        self.spans.append(s)
        group = f"perfbench-{s.id}"
        self._set_group(group)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(f"perfbench-{parent.id}" if parent is not None else None)
            self._read_jobs(s, group)

    # -- derived views ----------------------------------------------------------
    def children(self) -> Dict[int, List[Span]]:
        out: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent.id, []).append(s)
        return out

    def subtree(self, s: Span, kids: Dict[int, List[Span]], attr: str) -> float:
        return getattr(s, attr) + sum(
            self.subtree(c, kids, attr) for c in kids.get(s.id, ())
        )

    def roots(self) -> List[Span]:
        return [s for s in self.spans if s.parent is None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


# -- results ------------------------------------------------------------------


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def row_hash(rows) -> str:
    """Order-insensitive digest of a result: rows canonicalized (floats to
    nine significant digits), sorted, hashed."""
    canon = sorted(repr(tuple(_canon(x) for x in r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive equality: the row hashes agree, or (for float
    results that straddle a rounding digit) the sorted rows agree within a
    relative 1e-9."""
    got, want = [tuple(r) for r in got], [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if row_hash(got) == row_hash(want):
        return True

    def key(r):
        return repr(tuple(round(x, 4) if isinstance(x, float) else x for x in r))

    return all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
        for a, b in zip(sorted(got, key=key), sorted(want, key=key))
    )


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def dir_files(path: str) -> Dict[str, int]:
    """Size of every file below ``path``."""
    out = {}
    for r, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def jvm_live_mb(spark) -> float:
    """JVM heap in use right after a full collection: the retained set,
    which unlike the resident peak does not depend on when the collector
    last ran."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def rss_mb(spark) -> tuple:
    """(python peak RSS, JVM peak RSS) in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return py, jvm


class Bench:
    """Per-run bookkeeping: latency samples and paired ratios per op kind,
    output checks and failures."""

    def __init__(self, tracer: Tracer, seconds: float):
        self.tracer = tracer
        self.seconds = seconds
        self.samples: Dict[str, List[float]] = {}
        self.panel_samples: Dict[tuple, List[float]] = {}
        #: samples of traced steps, kept apart (tracing adds overhead)
        self.traced_samples: Dict[tuple, List[float]] = {}
        #: (op latency, latency of its paired reference) per (kind, panel)
        self.pairs: Dict[tuple, List[tuple]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []
        self.checked = 0
        self.deadline = None

    def start_clock(self) -> None:
        self.deadline = time.perf_counter() + self.seconds

    def time_left(self) -> bool:
        return time.perf_counter() < self.deadline

    def record(self, kind: str, panel: str, ms: float) -> None:
        if self.tracer.enabled:
            self.traced_samples.setdefault((kind, panel), []).append(ms)
            return
        self.samples.setdefault(kind, []).append(ms)
        self.panel_samples.setdefault((kind, panel), []).append(ms)

    def pair(self, kind: str, panel: str, op_ms: float, ref_ms: float) -> None:
        if not self.tracer.enabled and op_ms and ref_ms:
            self.pairs.setdefault((kind, panel), []).append((op_ms, ref_ms))

    def op(self, kind: str, panel: str, fn: Callable, op_id: str, record: bool = True):
        """Run one closed-loop operation; returns (result, ms) or (None, None)
        when it raised (counted as failed, named in the failure list).
        ``record=False`` leaves filing the latency to the caller."""
        self.attempted += 1
        with self.tracer.span("op", kind=kind, panel=panel, op_id=op_id) as s:
            t0 = time.perf_counter()
            try:
                out = fn(s)
            except Exception as e:  # noqa: BLE001 - every failure is reported
                self.failed += 1
                self.failures.append(f"{op_id} {kind}/{panel}: raised {type(e).__name__}: {str(e)[:200]}")
                return None, None
            ms = (time.perf_counter() - t0) * 1e3
        if record:
            self.record(kind, panel, ms)
        return out, ms

    def check(self, op_id: str, what: str, got, want) -> bool:
        self.checked += 1
        if same_rows(got, want):
            return True
        self.failed += 1
        self.failures.append(f"{op_id} {what}: result differs from reference")
        return False

    def kind_p50(self, kind: str, traced: bool = False) -> float:
        """Geometric mean over panels of each panel's median latency: robust
        to how many ops of each panel fit into the run."""
        per = self.traced_samples if traced else self.panel_samples
        return geomean([median(v) for (k, _p), v in per.items() if k == kind])

    def kind_ratio(self, kind: str) -> float:
        """Geometric mean over panels of the panel's median op latency over
        the median latency of the references paired with those ops."""
        return geomean([
            median([o for o, _r in v]) / median([r for _o, r in v])
            for (k, _p), v in self.pairs.items() if k == kind
        ])

    def kind_p90(self, kind: str) -> float:
        return pct(self.samples.get(kind, []), 0.9)


def digest(plan) -> str:
    return hashlib.sha256(json.dumps(plan, sort_keys=True, default=str).encode()).hexdigest()[:16]
