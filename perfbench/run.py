"""Benchmark launcher: one workload, one fresh process, one isolated run.

Usage:
  python3 perfbench/run.py --workload warehouse --seed 1 --seconds 15 --trace 0

Run from the repository root. The launcher

- times a fixed CPU loop (``host.gauge_s``) before and after the run;
- makes a fresh run directory under ``perfbench/out/tmp`` and starts
  ``worker.py`` there with ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's
  ``java.io.tmpdir`` inside it, ``SPARK_GRAFT_CPUS`` set to the cores this
  process may use, ``SPARK_GRAFT_COLD_GATES=1`` (no cross-run stream
  replay) and the repository on ``PYTHONPATH``;
- stops every process the run started and deletes the run directory;
- prints the worker's detail line, then the result line
  ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
  metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
  (``--trace 1``, which also writes the span file under ``perfbench/out``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DEADLINE_S = 170.0

sys.path.insert(0, HERE)


def host_gauge() -> float:
    """Seconds a fixed pure-Python CPU loop takes: a host-speed reading
    that no change to the program can move."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...); empty where the file is missing."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def run_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))
    }
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_COLD_GATES": "1",
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>/<pid>
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
    })
    return env


def session_members(sid: int) -> list[int]:
    """Pids of every live (not zombie) process in session ``sid``. The
    worker leads its own session, and PySpark's Python daemon moves to its
    own process group but stays in the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    zombie = fh.read().rsplit(")", 1)[1].split()[0] == "Z"
                if not zombie and os.getsid(int(entry)) == sid:
                    pids.append(int(entry))
            except (OSError, IndexError):
                pass
    return pids


def stop_session(sid: int) -> None:
    """Stop every process the worker started (JVM, Python workers) and
    wait until each has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_members(sid):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not session_members(sid):
            return


def result_line(spec: dict, worker: dict, trace: bool, gauge: list[float]) -> dict:
    values = dict(worker["values"])
    if trace:
        values["host.gauge_s"] = sum(gauge) / len(gauge)
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        raise SystemExit(f"worker did not report {missing}")
    return {
        "correct": worker["failed"] == 0,
        "attempted": worker["attempted"],
        "failed": worker["failed"],
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in metrics
        },
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # so that a launcher stopped by SIGTERM still stops its worker and
    # deletes the run directory
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--entries", default="", help="comma-separated entries (tests only)")
    ap.add_argument("--digests", default="", help="golden digest file (tests only)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pygrametl_spark")):
        print(f"pygrametl_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    t_launch = time.monotonic()
    gauge = [host_gauge()]
    ticks0 = cpu_ticks()
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(OUT, "tmp"))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    if args.entries:
        cmd += ["--entries", args.entries]
    if args.digests:
        cmd += ["--digests", os.path.abspath(args.digests)]
    if args.trace:
        cmd += ["--spans", os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json")]
    try:
        env = run_env(run_dir)
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S - (time.monotonic() - t_launch))
        except subprocess.TimeoutExpired:
            print(f"run exceeded {DEADLINE_S:.0f}s; stopped", file=sys.stderr)
            return 3
        finally:
            stop_session(proc.pid)
            proc.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        print(f"worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    worker = json.loads(out.strip().splitlines()[-1])
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    gauge.append(host_gauge())
    worker["detail"]["host_gauge_s"] = gauge
    # share of the host's CPU time taken by the hypervisor from this VM
    worker["detail"]["host_steal"] = ticks[7] / sum(ticks) if len(ticks) > 7 else None
    print(json.dumps({"detail": worker["detail"]}))
    print(json.dumps(result_line(spec, worker, bool(args.trace), gauge)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
