"""Self-tests of the benchmark itself (not of the engine).

Run from the repository root:  python3 -m pytest perfbench/tests -q
The run tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

from workloads import LAYERS, UNTIMED, WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*args: str) -> tuple[int, list[dict], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines, proc.stderr


def _tree(path: str) -> set[str]:
    out = set()
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x not in ("out", "__pycache__", ".git")]
        out.update(os.path.relpath(os.path.join(d, f), path) for f in files)
        out.update(os.path.relpath(os.path.join(d, x), path) for x in dirs)
    return out


def test_workloads_cover_registry_exactly_once():
    from pygrametl_spark.queries import QUERIES

    assigned = [e for entries in WORKLOADS.values() for e in entries] + list(UNTIMED)
    assert sorted(assigned) == sorted(QUERIES)
    assert set(LAYERS) <= set(QUERIES)
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_every_entry_has_an_oracle_digest():
    from pygrametl_spark.queries import QUERIES

    golden = json.load(open(os.path.join(BENCH, "digests.json")))["entries"]
    assert set(golden) == set(QUERIES)


def test_sql_metric_parsing():
    from tracing import parse_sql_metric

    assert parse_sql_metric("1,024") == 1024
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, ...)") == 1.5
    assert parse_sql_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert parse_sql_metric("total (min, med, max)\n12 ms (1 ms, ...)") == pytest.approx(0.012)


def test_fails_without_the_repository():
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "__pycache__"))
        proc = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", "warehouse", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120,
        )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_runs_are_isolated():
    """A run leaves nothing outside its own run directory, which it deletes,
    so a second run in the same checkout finds nothing the first left."""
    system_tmp = tempfile.gettempdir()
    before_tmp = set(os.listdir(system_tmp))
    before_repo = _tree(ROOT)
    tmpdirs = []
    for seed in (1, 2):
        rc, lines, err = _run("--workload", "warehouse", "--seed", str(seed), "--seconds", "1",
                              "--trace", "0", "--entries", "pep249_sink_roundtrip,dim_update")
        assert rc == 0, err[-2000:]
        assert lines[-1]["correct"] is True
        tmpdirs.append(lines[-2]["detail"]["tmpdir"])
        assert not os.path.exists(os.path.dirname(tmpdirs[-1]))
        assert os.listdir(os.path.join(BENCH, "out", "tmp")) == []
        assert set(os.listdir(system_tmp)) - before_tmp == set()
        assert _tree(ROOT) == before_repo
    assert tmpdirs[0] != tmpdirs[1]


def test_corrupted_digest_is_a_failure(tmp_path):
    golden = json.load(open(os.path.join(BENCH, "digests.json")))
    golden["entries"]["dim_update"]["digest"] = "0" * 64
    bad = tmp_path / "digests.json"
    bad.write_text(json.dumps(golden))
    rc, lines, err = _run("--workload", "warehouse", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--entries", "dim_update,newest_version",
                          "--digests", str(bad))
    assert rc == 0, err[-2000:]
    result = lines[-1]
    assert result["correct"] is False and result["failed"] == 1
    assert list(lines[-2]["detail"]["failures"]) == ["dim_update"]


def test_traced_run_reports_every_per_layer_metric():
    rc, lines, err = _run("--workload", "warehouse", "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--entries", "dim_getby,scd2_streaming_maintain")
    assert rc == 0, err[-2000:]
    metrics = lines[-1]["metrics"]
    assert list(metrics) == [m["name"] for m in SPEC["per_layer"]]
    assert metrics["queries_merged.parts_s"]["value"] > 0
    assert metrics["streaming.batches"]["value"] > 0
    spans = json.load(open(lines[-2]["detail"]["spans"]))
    kinds = {s["kind"] for s in spans}
    assert {"run", "pass", "entry", "build", "exec", "part"} <= kinds
