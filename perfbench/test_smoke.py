"""The benchmark's own smoke tests (tiny inputs; a few minutes in all).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import querydata, spec  # noqa: E402
from perfbench.harness import Run  # noqa: E402
from perfbench.trace import Span, _label, spans_outside_rounds  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# Layer metrics that can read 0 on a correct engine: leak counts, URLs missing
# from the corpus, phases that write no shuffle, and a first set-up that was
# no slower than the median one.
MAY_BE_ZERO = {"crawler.pinned_rdds_leaked", "queries.pinned_rdds_leaked", "crawler.missing",
               "setup.warmup_s"} | {f"phase.{p}.shuffle_mb" for p in spec.PHASES}


def _run(workload: str, trace: int, cwd: str = ROOT, code: str | None = None):
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--size", "smoke"]
    cmd = ([sys.executable, "-c", code, *args] if code
           else [sys.executable, "perfbench/run.py", *args])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "layers.json"), encoding="utf-8") as f:
        layers = json.load(f)
    assert bench == spec.benchmark_json()
    assert layers == spec.layers_json()


def test_benchmark_json_follows_the_contract():
    b = spec.benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60 and 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"]] + [
        m["name"] for m in b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
               for m in b["end_to_end"] + b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert len(json.dumps(b, indent=2)) < 64 * 1024


def test_querydata_is_seeded(tmp_path):
    querydata.generate(str(tmp_path / "a"), 0.001, 5)
    querydata.generate(str(tmp_path / "b"), 0.001, 5)
    querydata.generate(str(tmp_path / "c"), 0.001, 6)
    files = sorted(os.listdir(tmp_path / "a"))
    assert len(files) == 10
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)[0] == files
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", ["lineitem.parquet"],
                            shallow=False)[1] == ["lineitem.parquet"]


def test_trace_helpers():
    assert _label("r3:commit:seen") == "commit_seen"
    assert _label("init_frontier") == "init_frontier" and _label(None) is None
    rnd = Span("run_round", 10.0, 20.0)
    inside, leaked = Span("t", 11.0, 19.0), Span("t", 12.0, 25.0)
    assert spans_outside_rounds([inside, leaked, Span("t", 30.0, 31.0)], [rnd]) == 1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["polite_crawl", "query_suite"])
def test_workload_prints_every_metric(workload, trace):
    res = _result(_run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert {n: u for n, u, *_ in want} == {n: m["unit"] for n, m in res["metrics"].items()}
    if trace:
        ours = {n for n, _u, _b, _e, wl in spec.PER_LAYER if wl in (workload, "all")}
        zero = {n for n in ours - MAY_BE_ZERO if res["metrics"][n]["value"] == 0}
        assert not zero, f"layer metrics read 0: {sorted(zero)}"
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_unmeasured_layer_metric_fails_the_run():
    r = Run("polite_crawl", 7, 1, True, "smoke")
    r.metrics = {n: 1.0 for n, *_ in spec.PER_LAYER}
    del r.metrics["phase.commit_seen.wall_s"]  # as if the job label were renamed
    res = r.result()
    assert res["correct"] is False and res["failed"] == 1
    del r.metrics["query.total_s"]  # another workload's metric: not required
    r.failed = r.attempted = 0
    r.metrics["phase.commit_seen.wall_s"] = 1.0
    assert r.result()["correct"] is True


def test_wrong_outcome_raises_error_rate():
    """A reference that disagrees with the engine must fail the run's check."""
    code = ("import sys; sys.path.insert(0, '.')\n"
            "from perfbench import run, workloads\n"
            "workloads.simhash_pairs_py = lambda docs, max_hamming=3: {(0, 1, 0)}\n"
            "raise SystemExit(run.main(sys.argv[1:]))")
    res = _result(_run("query_suite", 0, code=code))
    assert res["correct"] is False and res["failed"] >= 1


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("polite_crawl", 0, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""
