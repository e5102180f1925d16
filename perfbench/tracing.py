"""Tracing for the benchmark's traced run, measured from outside the engine.

Spans are recorded around the benchmark's own calls into each layer
(``run -> pass -> entry -> {build, exec}``, plus ``part`` spans for the
tag-union parts) and stay in memory until the run ends. Spark jobs and
stages are attributed to spans by job-id range, read from the DAG
scheduler at each span boundary; build-pool threads of the tag unions do
not inherit a job group, but their jobs still fall inside the range of the
span that started them. Counts come from Spark's status store, the SQL
status store, a Python ``StreamingQueryListener`` and a counting wrapper
around the py4j gateway client.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1e6
_UNIT = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value ("1,024", "3.2 MiB", "1.5 s",
    or the "total (min, med, max ...)" form), in bytes, seconds or units."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class _Skip(threading.local):
    on = False


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress of every streaming query."""

    def __init__(self, skip: _Skip):
        self.skip = skip
        self.progress: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.skip.on = True
        try:
            p = event.progress
            rec = {
                "query": str(p.id),
                "rows": int(p.numInputRows),
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
            }
        finally:
            self.skip.on = False
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and counters of one traced run; inert until :meth:`enable`."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.run = {
            "id": 0, "name": "run", "kind": "run", "parent": None,
            "start": time.perf_counter(), "job0": 0, "py4j0": 0, "progress0": 0,
        }
        self.spans: list[dict] = [self.run]
        self.stack: list[dict] = []
        self.on = False
        self._skip = _Skip()
        self._calls = 0
        self._calls_lock = threading.Lock()
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command
        self._listener = _ProgressListener(self._skip)
        self._dag = self.sc._jsc.sc().dagScheduler()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._jvm_pid = int(jvm.ProcessHandle.current().pid())

    # -- switching -------------------------------------------------------
    def enable(self) -> None:
        def counting_send(*args, **kwargs):
            if not self._skip.on:
                with self._calls_lock:
                    self._calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counting_send
        self.spark.streams.addListener(self._listener)
        self.on = True

    def disable(self) -> None:
        self.on = False
        self.spark.streams.removeListener(self._listener)
        self._client.send_command = self._send

    # -- spans -----------------------------------------------------------
    def _own(self, fn):
        self._skip.on = True
        try:
            return fn()
        finally:
            self._skip.on = False

    def _boundary(self) -> tuple[float, int, int]:
        job = self._own(self._dag.nextJobId)
        return time.perf_counter(), int(job), self._calls

    @contextmanager
    def span(self, name: str, kind: str):
        if not self.on:
            yield None
            return
        t, job, calls = self._boundary()
        rec = {
            "id": len(self.spans), "name": name, "kind": kind,
            "parent": self.stack[-1]["id"] if self.stack else self.run["id"],
            "start": t, "job0": job, "py4j0": calls,
            "progress0": len(self._listener.progress),
        }
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"], rec["job1"], rec["py4j1"] = self._boundary()

    def settle_listener(self, timeout: float = 3.0) -> None:
        """Wait until asynchronous progress events stop arriving."""
        deadline = time.monotonic() + timeout
        seen = -1
        while time.monotonic() < deadline:
            n = len(self._listener.progress)
            if n == seen:
                return
            seen = n
            time.sleep(0.25)

    # -- harvesting ------------------------------------------------------
    def _json(self, obj):
        return json.loads(self._own(lambda: self._mapper.writeValueAsString(obj)))

    def harvest(self, job0: int, job1: int) -> dict:
        """Jobs, stages and SQL metrics of jobs ``job0 <= id < job1``."""
        jvm = self.spark._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = [
            j for j in self._json(store.jobsList(jvm.java.util.ArrayList()))
            if job0 <= j["jobId"] < job1
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._json(store.stageList(
                jvm.java.util.ArrayList(), True, False,
                self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            ))
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        python = {"python_s": 0.0, "python_boot_s": 0.0, "python_bytes": 0.0, "python_rows": 0.0}
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in self._json(sql_store.executionsList()):
            if not any(job0 <= int(j) < job1 for j in ex["jobs"]):
                continue
            ids = {
                m["accumulatorId"]: m["name"] for m in ex["metrics"]
                if m["name"] in _PY_METRICS
            }
            if not ids:
                continue
            values = self._json(sql_store.executionMetrics(ex["executionId"]))
            values = {int(k): v for k, v in values.items()}
            for acc, name in ids.items():
                if acc in values:
                    python[_PY_METRICS[name]] += parse_sql_metric(values[acc])
            # The Python node's row count is the metric created right after
            # its "time to run Python workers" metric (PythonSQLMetrics order).
            for acc, name in ids.items():
                if name == "time to run Python workers" and acc + 1 in values:
                    python["python_rows"] += parse_sql_metric(values[acc + 1])
        return {"jobs": jobs, "stages": stages, "python": python}

    def jvm_hwm_mb(self) -> float:
        try:
            with open(f"/proc/{self._jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024 / _MB
        except OSError:
            pass
        return 0.0

    # -- per-pass metrics ------------------------------------------------
    def pass_metrics(self, pass_span: dict, entry_layers: dict, layer_metrics: dict) -> dict:
        """Per-layer metrics of one traced pass. ``entry_layers`` maps an
        entry to the layers it exercises, ``layer_metrics`` a layer to the
        metric that sums its entries' time."""
        self.settle_listener()
        h = self.harvest(pass_span["job0"], pass_span["job1"])
        kids = [s for s in self.spans if s["parent"] == pass_span["id"] and s["kind"] == "entry"]
        builds = [s for s in self.spans if s["kind"] == "build" and s["parent"] in {k["id"] for k in kids}]
        execs = [s for s in self.spans if s["kind"] == "exec" and s["parent"] in {k["id"] for k in kids}]
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        exec_jobs = set()
        for s in execs:
            exec_jobs.update(range(s["job0"], s["job1"]))
        exec_stage_ids = {st for j in h["jobs"] if j["jobId"] in exec_jobs for st in j["stageIds"]}
        stages = h["stages"]
        exec_s = sum(dur(s) for s in execs)
        exec_task_ms = sum(s["executorRunTime"] for s in stages if s["stageId"] in exec_stage_ids)
        worst = 0.0
        for s in stages:
            wall = (s.get("completionTime") or 0) - (s.get("submissionTime") or 0)
            tasks = (s.get("tasks") or {}).values()
            if s["numTasks"] >= 2 and wall >= 100 and tasks:
                worst = max(worst, max(t["duration"] or 0 for t in tasks) / wall)
        # Progress events arrive asynchronously, so after settling every
        # event since the pass began belongs to it.
        progress = self._listener.progress[pass_span["progress0"]:]
        last_state: dict[str, tuple[int, int]] = {}
        for p in progress:
            last_state[p["query"]] = (p["state_rows"], p["state_bytes"])
        d = lambda p, k: p["duration_ms"].get(k, 0) / 1e3  # noqa: E731
        m = {
            "catalog.input_mb": sum(s["inputBytes"] for s in stages) / _MB,
            "catalog.input_rows": sum(s["inputRecords"] for s in stages),
            "queries.build_s": sum(dur(s) for s in builds),
            "queries.build_jobs": sum(s["job1"] - s["job0"] for s in builds),
            "queries.py4j_calls": pass_span["py4j1"] - pass_span["py4j0"],
            "functions.python_s": h["python"]["python_s"],
            "functions.python_boot_s": h["python"]["python_boot_s"],
            "functions.python_mb": h["python"]["python_bytes"] / _MB,
            "functions.python_rows": h["python"]["python_rows"],
            "streaming.batches": len(progress),
            "streaming.input_rows": sum(p["rows"] for p in progress),
            "streaming.trigger_s": sum(d(p, "triggerExecution") for p in progress),
            "streaming.addbatch_s": sum(d(p, "addBatch") for p in progress),
            "streaming.commit_s": sum(d(p, "walCommit") + d(p, "commitOffsets") for p in progress),
            "streaming.state_rows": sum(r for r, _ in last_state.values()),
            "streaming.state_mb": sum(b for _, b in last_state.values()) / _MB,
            "exec.s": exec_s,
            "exec.jobs": len(h["jobs"]),
            "exec.stages": len(stages),
            "exec.tasks": sum(s["numCompleteTasks"] for s in stages),
            "exec.task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "exec.core_use": exec_task_ms / 1e3 / (exec_s * self.cores) if exec_s else 0.0,
            "exec.max_task_share": worst,
            "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "exec.spill_mb": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages) / _MB,
            "exec.peak_exec_mb": max((s["peakExecutionMemory"] for s in stages), default=0) / _MB,
        }
        for metric in layer_metrics.values():
            m[metric] = 0.0
        for k in kids:
            for layer in entry_layers.get(k["name"], ()):
                m[layer_metrics[layer]] += dur(k)
        return m

    def write_spans(self, path: str) -> None:
        """Write every span, times in seconds since the run began."""
        self.run["end"], self.run["job1"], self.run["py4j1"] = self._boundary()
        t0 = self.run["start"]
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh)


def median_metrics(per_pass: list[dict]) -> dict:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
