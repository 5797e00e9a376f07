"""The benchmark's own tests: input determinism, metric names, refusal
outside a checkout, and one-second smoke runs of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    from perfbench.inputs import page_range, write_pages

    paths = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        paths[tag] = str(tmp_path / f"{tag}.parquet")
        write_pages(paths[tag], page_range(seed, 16))
    assert _digest(paths["a"]) == _digest(paths["b"])
    assert _digest(paths["a"]) != _digest(paths["c"])


def test_page_ranges_keep_generator_structure():
    from perfbench.inputs import page_range

    rows = page_range(7, 400)
    assert any(i % 100 == 0 for i in rows)  # hot-entity rows
    assert any(i % 101 == 100 for i in rows)  # malformed markup rows
    assert set(rows).isdisjoint(page_range(8, 400))


def test_declared_names_match_the_emitters():
    from perfbench import run

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()


def test_refuses_outside_a_checkout(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files there is no
    program to measure: a non-zero exit and no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    spec = _spec()
    p = subprocess.run(
        spec["command"] + ["--workload", "kg_query", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _session_members(sid: int) -> list[int]:
    members = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            members.append(int(entry))
    return members


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """One run in a session of its own; no process of that session may be
    left once the run has exited."""
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = p.communicate(timeout=600)
    assert _session_members(p.pid) == []
    assert p.returncode == 0, stderr[-3000:]
    lines = stdout.strip().splitlines()
    record = json.loads(lines[-2].removeprefix("RECORD "))
    return json.loads(lines[-1]), record


@pytest.mark.parametrize("workload", ["crawl_ingest", "kg_query"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    result, record = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, record["errors"]
    assert result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert record["hashing.jvm"] in (0, 1)
    assert record["prepare"] is not None
    if trace:
        layers = result["metrics"]
        touched = ("extract.pipeline", "rpt", "resume", "io.write") if workload == "crawl_ingest" \
            else ("sparql", "query", "reason", "graphops")
        for layer in touched:
            assert layers[f"{layer}.jobs"]["value"] > 0, layer
