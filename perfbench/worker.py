"""One benchmark run of one workload, in a process that ``run.py`` started
with a pinned environment (see ``run.py``).

The run is a closed loop with one client: each entry is built and fully
materialized before the next starts. Phases:

1. start the Spark session;
2. a cold pass that collects every entry and checks it against its golden
   digest (``digests.json``), untimed;
3. the workload's ``WARM_PASSES`` untimed warm-up passes;
4. timed passes, each building every entry and materializing it with a
   ``noop`` write, until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``).

Every pass visits the entries in its own order, drawn from ``--seed``.
Between passes, untimed, temp views are dropped, streams reset, the cache
cleared and both the Python and the JVM heap collected.

With ``--trace 1`` the timed passes alternate between untraced and traced,
and after them each tag-union part is run on its own twice, untimed and
then traced.

Prints one JSON line: the run's detail (every pass time, the trend
check, the failures), the counts of attempted and failed entry runs, and
the metric values, which ``run.py`` turns into the result line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
MIN_PASSES = 3


def _bound(name: str) -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == name)


def cleanup(spark) -> None:
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    for q in spark.streams.active:
        q.stop()
    spark.streams.resetTerminated()
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


class Bench:
    def __init__(self, spark, queries, entries, golden, tracer):
        self.spark = spark
        self.queries = queries
        self.golden = golden
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.entry_times: dict[str, list[float]] = {e: [] for e in entries}
        self.cold_times: dict[str, float] = {}

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why)
        print(f"FAIL {name}: {why}", file=sys.stderr, flush=True)

    def run_pass(self, order, *, check: bool = False) -> float:
        """Build and materialize every entry once; returns the wall time.
        With ``check`` the entries are collected and digest-checked."""
        from digest import digest

        span = self.tracer.span
        t_pass = time.perf_counter()
        with span("pass", "pass") as pass_span:
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with span(name, "entry"):
                        with span("build", "build"):
                            df = self.queries[name](self.spark, DATA_DIR)
                        with span("exec", "exec"):
                            if check:
                                cols, rows = df.columns, df.collect()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - a failing entry is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    self._fail(name, f"{type(e).__name__}: {str(e)[:300]}")
                    continue
                if check:
                    self.cold_times[name] = time.perf_counter() - t0
                    got = digest(cols, rows)
                    want = self.golden.get(name, {}).get("digest")
                    if got != want:
                        self._fail(name, f"digest mismatch ({len(rows)} rows; golden {want})")
                else:
                    self.entry_times[name].append(time.perf_counter() - t0)
        elapsed = time.perf_counter() - t_pass
        self.last_pass_span = pass_span
        return elapsed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--entries", default="")
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"))
    ap.add_argument("--spans", default="")
    args = ap.parse_args()
    t_start = float(os.environ["PERFBENCH_T0"])

    from workloads import LAYER_TIME_METRICS, LAYERS, WARM_PASSES, WORKLOADS

    entries = args.entries.split(",") if args.entries else list(WORKLOADS[args.workload])
    with open(args.digests) as fh:
        golden = json.load(fh)["entries"]

    from pygrametl_spark.queries import QUERIES
    from pygrametl_spark.session import get_spark
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    bench = Bench(spark, QUERIES, entries, golden, tracer)
    rng = random.Random(args.seed)

    def order():
        return rng.sample(entries, len(entries))

    first_pass_s = bench.run_pass(order(), check=True)
    cleanup(spark)
    for _ in range(WARM_PASSES[args.workload]):
        bench.run_pass(order())
        cleanup(spark)
    bench.entry_times = {e: [] for e in entries}

    t_timed = time.time()
    setup_s = t_timed - t_start
    plain: list[float] = []
    traced: list[float] = []
    layer_passes: list[dict] = []
    while True:
        if args.trace and len(plain) > len(traced):
            tracer.enable()
            traced.append(bench.run_pass(order()))
            layer_passes.append(
                tracer.pass_metrics(bench.last_pass_span, LAYERS, LAYER_TIME_METRICS)
            )
            tracer.disable()
        else:
            plain.append(bench.run_pass(order()))
        cleanup(spark)
        done = time.time() - t_timed >= args.seconds
        if args.trace:
            # two of each kind for trace.overhead, ending on a complete pair
            enough = len(traced) >= 2 and len(plain) == len(traced)
        else:
            enough = len(plain) >= MIN_PASSES
        if done and enough:
            break

    trend = {"first": plain[0], "last": plain[-1], "change": plain[-1] / plain[0] - 1}
    trend["flagged"] = abs(trend["change"]) > _bound("pass_s")
    if trend["flagged"]:
        print(f"WARNING timed passes still trend: {plain}", file=sys.stderr)
    values = {"setup_s": setup_s, "pass_s": statistics.median(plain)}
    detail = {
        "workload": args.workload, "seed": args.seed, "entries": entries,
        "passes_s": plain, "timed_passes": len(plain), "trend": trend,
        "session_start_s": session_start_s, "first_pass_s": first_pass_s,
        "entry_median_s": {e: statistics.median(v) for e, v in bench.entry_times.items() if v},
        "cold_entry_s": bench.cold_times,
        "failures": bench.failures, "tmpdir": os.environ.get("TMPDIR"),
    }
    if args.trace:
        values = traced_values(spark, bench, tracer, layer_passes, entries)
        values.update({
            "session.start_s": session_start_s,
            "session.first_pass_s": first_pass_s,
            "trace.overhead": statistics.median(traced) / statistics.median(plain),
        })
        if args.spans:
            tracer.write_spans(args.spans)
            detail["spans"] = args.spans
        detail["traced_passes_s"] = traced

    spark.stop()
    print(json.dumps({
        "detail": detail, "attempted": bench.attempted, "failed": bench.failed,
        "values": values,
    }))


def traced_values(spark, bench, tracer, layer_passes, entries) -> dict:
    """Per-layer values: medians over the traced passes, plus the tag-union
    metrics, from a warm, traced run of every part on its own."""
    from pygrametl_spark.queries import ALL_QUERIES
    from pygrametl_spark.queries_merged import MERGES
    from tracing import median_metrics

    values = median_metrics(layer_passes)
    merged = [e for e in entries if e in MERGES]
    union_s = sum(
        statistics.median(
            s["end"] - s["start"] for s in tracer.spans
            if s["kind"] == "entry" and s["name"] == e
        )
        for e in merged
    )

    def run_parts() -> None:
        for e in merged:
            for tag, part in MERGES[e][1]:
                bench.attempted += 1
                with tracer.span(f"{e}/{tag}", "part"):
                    try:
                        df = ALL_QUERIES[part](spark, DATA_DIR)
                        df.write.format("noop").mode("overwrite").save()
                    except Exception as ex:  # noqa: BLE001 - a failing part is counted, not fatal
                        bench._fail(f"{e}/{tag}", f"{type(ex).__name__}: {str(ex)[:300]}")
        cleanup(spark)

    # a first, untraced round warms each part the way the warm-up passes
    # warmed the unions, so that parts_s and union_s are both warm figures
    run_parts()
    tracer.enable()
    run_parts()
    tracer.disable()
    parts_s = sum(s["end"] - s["start"] for s in tracer.spans if s["kind"] == "part")
    values.update({
        "queries_merged.union_s": union_s,
        "queries_merged.parts_s": parts_s,
        "queries_merged.share": union_s / parts_s if parts_s else 0.0,
        "exec.jvm_hwm_mb": tracer.jvm_hwm_mb(),
    })
    return values


if __name__ == "__main__":
    main()
