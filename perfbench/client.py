"""One benchmark client: set up a session, then run a workload's queries one
at a time -- a cold pass, then warm passes -- and write the measurements to
a JSON file. ``run.py`` starts this in a fresh environment and process
group; run that, not this.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.digest import materialize  # noqa: E402
from perfbench.run import session_pids, stat_fields  # noqa: E402
from perfbench.trace import Tracer, layer_self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

PKG = "facebook_ad_library_data_pipeline_spark"
DATA_DIR = str(ROOT / "perfbench" / "data" / "sf0.01")
DIGESTS = ROOT / "perfbench" / "digests.json"
# set-ups per run; the first also launches the JVM
SETUPS = 3
# a query slower than this counts as failed
DEADLINE_S = 60.0
# warm passes per run, whatever --seconds allows
MIN_WARM_PASSES = 1


def purge_package() -> None:
    """Forget the package's modules so the next import is a fresh one, with
    empty module-level caches."""
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def set_up(tracer: Tracer | None):
    """Session, query registry and warm-up; returns (spark, registry, parts)."""
    span = tracer.span if tracer else (lambda name: nullcontext())
    purge_package()
    parts = {}
    t = time.perf_counter()
    with span("session.start"):
        spark = importlib.import_module(PKG + ".session").get_spark("perfbench")
    parts["session.start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with span("registry.load"):
        if tracer:
            # wrap before any operator module binds these names on import
            catalog = importlib.import_module(PKG + ".catalog")
            catalog.load_table = tracer.wrap(catalog.load_table, "catalog.load")
            events = importlib.import_module(PKG + ".streaming.events")
            events.run_stream_to_memory = tracer.wrap(events.run_stream_to_memory, "streaming.run")
        registry = importlib.import_module(PKG + ".registry").load_all()
    parts["registry.load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with span("session.warmup"):
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.read.parquet(f"{DATA_DIR}/lineitem.parquet").limit(10).count()
    parts["session.warmup_s"] = time.perf_counter() - t
    return spark, registry, parts


def run_query(spark, query, qid: str, pinned: str | None, tracer: Tracer | None) -> dict:
    traced = tracer is not None and tracer.enabled
    span = tracer.span if traced else (lambda name: nullcontext())
    rec = {"query": query.name, "ok": False, "error": None}
    if traced:
        tracer.begin_query(qid)
    t = time.perf_counter()
    try:
        with span("query"):
            with span("registry.build"), (tracer.counting_py4j() if traced else nullcontext()):
                df = query.fn(spark, DATA_DIR)
            if traced:
                with span("trace.bookkeeping"):
                    tracer.record_analysis(df)
                    tracer.mark_build_end()
            with span("materialize"):
                digest = materialize(df, query.name)
        rec["wall_s"] = time.perf_counter() - t
        if pinned is None:
            rec["error"] = "no pinned digest"
        elif digest != pinned:
            rec["error"] = f"digest {digest} != pinned {pinned}"
        elif rec["wall_s"] > DEADLINE_S:
            rec["error"] = f"took {rec['wall_s']:.1f} s, deadline {DEADLINE_S:.0f} s"
        else:
            rec["ok"] = True
    except Exception as e:  # a failing query is reported by name, never dropped
        rec["wall_s"] = time.perf_counter() - t
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        traceback.print_exc()
    if traced:
        rec["counters"] = tracer.end_query()
    return rec


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the client, the
    JVM and Python workers, including exited children that were reaped."""
    ticks = 0
    for pid in session_pids(os.getsid(0)):
        fields = stat_fields(str(pid))
        if fields:
            # utime stime cutime cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def run_pass(spark, registry, workload, rng, pinned, tracer, label) -> dict:
    t, cpu = time.perf_counter(), tree_cpu_s()
    recs = [
        run_query(spark, registry[name], f"{label}:{name}", pinned.get(name), tracer)
        for name in pass_order(workload.queries, rng)
    ]
    return {
        "label": label, "start": t, "wall_s": time.perf_counter() - t,
        "cpu_s": tree_cpu_s() - cpu, "queries": recs,
    }


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setups: list[float], cold: dict, warm: list[dict]) -> dict:
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for r in p["queries"]:
            if r["ok"]:
                per_query.setdefault(r["query"], []).append(r["wall_s"])
    medians = [statistics.median(v) for v in per_query.values()]
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_geomean_ms": geomean(medians) * 1e3 if medians else float("nan"),
    }


# layer metrics that are span self times
SPAN_LAYERS = {
    "registry.build": "registry.build_s",
    "catalog.load": "catalog.load_s",
    "streaming.run": "streaming.run_s",
    "streaming.start": "streaming.start_s",
    "materialize": "materialize_s",
}
# counters that sum over queries; the others are derived below
COUNTER_SUMS = (
    "registry.py4j_calls",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.input_bytes", "exec.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "python.total_s", "python.boot_s", "python.init_s",
    "python.bytes_sent", "python.bytes_received",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.planning_s", "streaming.input_rows",
    "streaming.idle_s", "state.commit_s", "state.rows_total",
    "sources.output_bytes", "sources.output_rows",
)
# layer metrics the cold pass moves most: module-cache misses rebuild plans,
# layouts and files, and Python workers boot
COLD_LAYERS = (
    "registry.build_s", "registry.py4j_calls", "catalog.load_s",
    "catalyst.optimization_s", "catalyst.planning_s", "exec.run_s", "exec.input_bytes",
    "python.boot_s", "python.init_s", "streaming.trigger_s", "state.commit_s",
    "sources.output_bytes", "sources.output_rows",
)


def layer_metrics(spans: list[dict], p: dict) -> dict:
    """Per-layer totals of one traced pass: span self times plus counters."""
    mine = [s for s in spans if s["query"] and s["query"].split(":", 1)[0] == p["label"]]
    self_s = layer_self_times(mine)
    m = {metric: self_s.get(span, 0.0) for span, metric in SPAN_LAYERS.items()}
    counters = [r.get("counters", {}) for r in p["queries"]]
    for k in COUNTER_SUMS:
        m[k] = sum(c.get(k, 0) for c in counters)
    done = sum(c.get("exec.completed_tasks", 0) for c in counters)
    failed = sum(c.get("exec.failed_tasks", 0) for c in counters)
    m["exec.tasks"] = done + failed
    m["exec.failed_task_frac"] = failed / (done + failed) if done + failed else 0.0
    m["state.memory_bytes_peak"] = max(c.get("state.memory_bytes_peak", 0) for c in counters)
    empty = sum(c.get("streaming.empty_batches", 0) for c in counters)
    batches = m["streaming.batches"]
    m["streaming.empty_batch_frac"] = empty / batches if batches else 0.0
    inp = m["exec.input_bytes"]
    m["sources.bytes_per_input_byte"] = m["sources.output_bytes"] / inp if inp else 0.0
    # how much of each query span the build and materialize spans explain
    by_id = {s["id"]: s for s in mine}
    q_total = sum(s["end"] - s["start"] for s in mine if s["name"] == "query")
    covered = sum(
        s["end"] - s["start"]
        for s in mine
        if s["name"] in ("registry.build", "materialize")
        and s["parent"] is not None
        and by_id[s["parent"]]["name"] == "query"
    )
    m["trace.span_coverage"] = covered / q_total if q_total else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]
    pinned = json.loads(DIGESTS.read_text())["digests"]
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install_pyspark()

    setups, setup_parts = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = T0 if i == 0 else time.perf_counter()
        spark, registry, parts = set_up(tracer)
        setups.append(time.perf_counter() - t)
        setup_parts.append(parts)
    if tracer:
        # only the final set-up's spans describe the measured session
        tracer.spans.clear()
        tracer.attach(spark)

    rng = random.Random(args.seed)
    start = time.perf_counter()
    cold = run_pass(spark, registry, workload, rng, pinned, tracer, "cold")
    warm: list[dict] = []
    if tracer:
        # untraced passes on both sides of the traced one, so warming
        # within the session does not count as tracing overhead
        tracer.set_enabled(False)
        warm.append(run_pass(spark, registry, workload, rng, pinned, tracer, "untraced0"))
        tracer.set_enabled(True)
        traced = run_pass(spark, registry, workload, rng, pinned, tracer, "warm")
        tracer.set_enabled(False)
        warm.append(run_pass(spark, registry, workload, rng, pinned, tracer, "untraced1"))
    else:
        while True:
            warm.append(run_pass(spark, registry, workload, rng, pinned, tracer, f"warm{len(warm)}"))
            elapsed = time.perf_counter() - start
            if len(warm) >= MIN_WARM_PASSES and elapsed + warm[-1]["wall_s"] > args.seconds:
                break
    spark.stop()

    passes = [cold, *warm] + ([traced] if tracer else [])
    passes.sort(key=lambda p: p["start"])
    recs = [r for p in passes for r in p["queries"]]
    out = {
        "attempted": len(recs),
        "failed": sum(not r["ok"] for r in recs),
        "failures": [f"{p['label']}:{r['query']}: {r['error']}" for p in passes for r in p["queries"] if not r["ok"]],
        "setups_s": setups,
        "passes": [
            {"label": p["label"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
             "queries": {r["query"]: r["wall_s"] for r in p["queries"]}}
            for p in passes
        ],
    }
    if tracer:
        m = layer_metrics(tracer.spans, traced)
        m.update({f"cold.{k}": v for k, v in layer_metrics(tracer.spans, cold).items() if k in COLD_LAYERS})
        m["cold.pass_s"] = cold["wall_s"]
        for k in ("session.start_s", "session.warmup_s", "registry.load_s"):
            m[k] = statistics.median(p[k] for p in setup_parts)
        m["session.first_setup_s"] = setups[0]
        untraced = statistics.mean(p["wall_s"] for p in warm)
        m["trace.warm_pass_s"] = traced["wall_s"]
        m["trace.untraced_warm_pass_s"] = untraced
        m["trace.overhead_s"] = traced["wall_s"] - untraced
        out["metrics"] = m
        out["spans"] = tracer.spans
        out["queries"] = [
            {"pass": p["label"], **r} for p in passes for r in p["queries"]
        ]
    else:
        out["metrics"] = end_to_end(setups, cold, warm)
    Path(args.out).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
