"""Benchmark entry point.

    python3 perfbench/run.py --workload dash_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs under ``.perfbench/``,
starts one local Spark session (``local[N]``, N = ``SPARK_GRAFT_CPUS`` or the
number of usable cores), sets the workload up, runs its closed loop for
``--seconds`` and checks every sampled result against a plain-Spark or batch
reference. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it carries the op-sequence digest, the
per-kind figures under their own names and any failing op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_vs_ref": "ratio",
    "hot_vs_ref": "ratio",
    "state_mb": "MB",
    "mem_mb": "MB",
}


def layer_units() -> dict:
    from workloads import TIERS

    u = {
        "plans.parse_ms": "ms",
        "session.sql_ms": "ms",
        "session.sql_self_ms": "ms",
        "session.collect_ms": "ms",
        "session.hit_frac": "ratio",
        "session.memo_frac": "ratio",
        "session.passthrough_frac": "ratio",
        "session.fallback_count": "count",
        "session.fresh_rows": "count",
        "session.fresh_amp": "ratio",
    }
    for t in TIERS:
        u[f"tiers.share.{t}"] = "ratio"
        u[f"tiers.{t}.p50_ms"] = "ms"
    u.update({
        "py4j.calls_per_op": "count",
        "py4j.ms_per_op": "ms",
        "py4j.sql_calls_per_op": "count",
        "py4j.sql_ms_per_op": "ms",
        "py4j.collect_calls_per_op": "count",
        "py4j.collect_ms_per_op": "ms",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "cache.state_mb": "MB",
        "cache.entries": "count",
        "cache.state_rows": "count",
        "cache.evicted": "count",
        "cache.write_mb_per_op": "MB",
        "cache.layers_max": "count",
        "cache.get_arrow_ms": "ms",
        "cache.sweep_ms": "ms",
        "operators.contam_update_ms": "ms",
        "operators.jobs_per_update": "count",
        "operators.index_mb": "MB",
        "driver.py_rss_mb": "MB",
        "driver.jvm_rss_mb": "MB",
        "trace.overhead_frac": "ratio",
        "trace.coverage": "ratio",
    })
    return u


class Ctx:
    pass


def configure_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (the launcher's too) would otherwise keep an hsperfdata
    # file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("QC_DRIVER_MEMORY", "3g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def clean_stale(work: str) -> None:
    for d in os.listdir(work):
        if d.startswith("run-"):
            try:
                os.kill(int(d[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
            except PermissionError:
                pass


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from py4j.protocol import Py4JError

    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    try:
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
    except (Py4JError, OSError):
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


#: state_mb is taken after this many steps (or at the end of a shorter
#: run), so it does not depend on how many steps the host fits in a run
STATE_AFTER_STEPS = 4


def run_steps(w, plan, bench, limit=None, trace=False) -> tuple:
    """Closed loop over the plan until the clock runs out; returns (steps
    run, state MB). With ``trace``, even steps run traced and odd steps
    untraced, so one run yields both the span tree and the tracing
    overhead."""
    w.bench = bench
    n, state = 0, None
    bench.start_clock()
    for i, st in enumerate(plan):
        if (limit is not None and n >= limit) or not bench.time_left():
            break
        bench.tracer.enabled = trace and i % 2 == 0
        w.step(i, st)
        n += 1
        if n == STATE_AFTER_STEPS:
            state = w.state_mb()
    bench.tracer.enabled = trace
    w.finish()
    return n, state if state is not None else w.state_mb()


def layer_metrics(w, b, tr) -> dict:
    from harness import median, rss_mb
    from workloads import TIERS

    kids = tr.children()
    ops = [s for s in tr.roots() if s.name == "op"]
    prim = [s for s in ops if s.attrs.get("kind") == w.primary]

    def child(s, name):
        return [c for c in kids.get(s.id, ()) if c.name == name]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    sql = [c for s in prim for c in child(s, "session.sql")]
    col = [c for s in prim for c in child(s, "session.collect")]
    m = {
        "plans.parse_ms": median([s.ms for s in tr.spans if s.name == "plans.parse"]),
        "session.sql_ms": median([c.ms for c in sql]),
        "session.sql_self_ms": median([c.ms - tr.subtree(c, kids, "py4j_ms") for c in sql]),
        "session.collect_ms": median([c.ms for c in col]),
    }
    decs = [r for r in w.decisions if r["ms"] is not None]
    n = len(decs)
    m["session.hit_frac"] = sum(r["hit"] for r in decs) / n if n else 0.0
    m["session.memo_frac"] = sum(r["memo"] for r in decs) / n if n else 0.0
    m["session.passthrough_frac"] = sum(not r["cached"] for r in decs) / n if n else 0.0
    m["session.fallback_count"] = sum(r["reason"].startswith("engine error") for r in decs)
    refr = [r for r in decs if r["kind"] == "refresh"]
    fresh = [r for r in refr if r["fresh"] is not None]
    m["session.fresh_rows"] = median([r["fresh"] for r in fresh])
    amps = []
    for r in fresh:
        true = w.true_rows(r["wm"], r["now"])
        if true > 0:
            amps.append(r["fresh"] / true)
    m["session.fresh_amp"] = median(amps)
    for t in TIERS:
        of = [r["ms"] for r in refr if r["tier"] == t]
        m[f"tiers.share.{t}"] = len(of) / len(refr) if refr else 0.0
        m[f"tiers.{t}.p50_ms"] = median(of)
    m["py4j.calls_per_op"] = mean([tr.subtree(s, kids, "py4j_calls") for s in prim])
    m["py4j.ms_per_op"] = mean([tr.subtree(s, kids, "py4j_ms") for s in prim])
    m["py4j.sql_calls_per_op"] = mean([tr.subtree(c, kids, "py4j_calls") for c in sql])
    m["py4j.sql_ms_per_op"] = mean([tr.subtree(c, kids, "py4j_ms") for c in sql])
    m["py4j.collect_calls_per_op"] = mean([tr.subtree(c, kids, "py4j_calls") for c in col])
    m["py4j.collect_ms_per_op"] = mean([tr.subtree(c, kids, "py4j_ms") for c in col])
    m["spark.jobs_per_op"] = mean([tr.subtree(s, kids, "jobs") for s in prim])
    m["spark.tasks_per_op"] = mean([tr.subtree(s, kids, "tasks") for s in prim])
    is_ingest = w.primary == "ingest"
    entries = [] if is_ingest else w.cache.entries()
    m["cache.state_mb"] = 0.0 if is_ingest else w.state_mb()
    m["cache.entries"] = len(entries)
    m["cache.state_rows"] = sum(e.rows or 0 for e in entries)
    m["cache.evicted"] = getattr(w, "evicted", 0)
    m["cache.write_mb_per_op"] = mean(
        [r.get("write_bytes", 0) / 2**20 for r in decs if r["kind"] == w.primary]
    )
    m["cache.layers_max"] = getattr(w, "layers_max", 0)
    m["cache.get_arrow_ms"] = w.extra.get("cache.get_arrow_ms", 0.0)
    m["cache.sweep_ms"] = w.extra.get("cache.sweep_ms", 0.0)
    m["operators.contam_update_ms"] = median(getattr(w, "upd", []))
    m["operators.jobs_per_update"] = mean(
        [tr.subtree(c, kids, "jobs") for s in prim for c in kids.get(s.id, ())
         if c.name.startswith("operators.")]
    )
    m["operators.index_mb"] = w.state_mb() if is_ingest else 0.0
    py, jvm = rss_mb(w.spark)
    m["driver.py_rss_mb"] = py
    m["driver.jvm_rss_mb"] = jvm
    traced, untraced = b.kind_p50(w.primary, traced=True), b.kind_p50(w.primary)
    m["trace.overhead_frac"] = traced / untraced - 1.0 if traced and untraced else 0.0
    covered = sum(c.ms for s in ops for c in kids.get(s.id, ()))
    m["trace.coverage"] = covered / sum(s.ms for s in ops) if ops else 0.0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs / fewer steps for the self-test
    ap.add_argument("--sf", type=float, default=0.1, help=argparse.SUPPRESS)
    ap.add_argument("--max-steps", type=int, default=None, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    # the package under test comes from this checkout and nowhere else
    sys.path.insert(0, ROOT)
    try:
        import datafusion_query_cache_spark as pkg
    except ImportError as e:
        print(f"perfbench: package not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: package resolved outside the checkout: {pkg.__file__}", file=sys.stderr)
        return 3

    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    clean_stale(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    configure_env(run_dir)

    from harness import Bench, Tracer, digest, jvm_live_mb, rss_mb
    from datafusion_query_cache_spark.sources.tables import get_session

    spark = get_session(
        app="perfbench",
        cpus=os.environ["SPARK_GRAFT_CPUS"],
        warehouse=os.path.join(run_dir, "warehouse"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = time.perf_counter() - T_START
    try:
        ctx = Ctx()
        ctx.spark, ctx.seed, ctx.sf = spark, a.seed, a.sf
        ctx.run_dir, ctx.data_dir = run_dir, os.path.join(work, "data")
        ctx.prep_s = 0.0
        w = WORKLOADS[a.workload](ctx)
        plan = w.plan()
        t0 = time.perf_counter()
        w.prepare()  # one-time input build; not part of set-up
        ctx.prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t0

        tr = Tracer(spark, bool(a.trace))
        bench = Bench(tr, a.seconds)
        n, state_mb = run_steps(w, plan, bench, a.max_steps, bool(a.trace))
        tr.close()
        problems = w.sanity()
        info = {
            "workload": a.workload,
            "seed": a.seed,
            "digest": digest(plan),
            "steps_planned": len(plan),
            "steps_run": n,
            "jvm_start_s": jvm_s,
            "setup_inproc_s": setup_s,
            "prep_s": ctx.prep_s,
            "checked": bench.checked,
            "failed_frac": bench.failed / max(1, bench.attempted),
            "detail": w.detail(bench),
        }
        if a.trace:
            metrics, units = layer_metrics(w, bench, tr), layer_units()
            spans_path = os.path.join(work, f"spans-{a.workload}-{a.seed}.json")
            tr.write(spans_path)
            info["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            py, _jvm = rss_mb(spark)
            metrics = {
                "setup_s": jvm_s + setup_s,
                "op_vs_ref": bench.kind_ratio(w.primary),
                "hot_vs_ref": bench.kind_ratio("hot"),
                "state_mb": state_mb,
                "mem_mb": py + jvm_live_mb(spark),
            }
            units = E2E_UNITS
        info["sanity"] = problems
        info["failures"] = bench.failures[:20]
        print(json.dumps(info, default=str))
        out = {
            "correct": bench.failed == 0 and not problems,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
