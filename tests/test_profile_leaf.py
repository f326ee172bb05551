"""`tools/profile_leaf.py` runs bench.py's leaves in the suite's own
session (and leaves it running), prints one JSON line with each leaf's
samples and rows, writes the plans under `--plan`, and names every leaf
bench.py times."""

from __future__ import annotations

import ast
import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.01"


def _tool():
    spec = importlib.util.spec_from_file_location(
        "profile_leaf", ROOT / "tools" / "profile_leaf.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bench_leaves() -> set[str]:
    """The first argument of every `timed("...", ...)` call in bench.py."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    return {
        node.args[0].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "timed"
    }


def test_profile_leaf_runs_two_leaves_in_process(spark, tmp_path, monkeypatch,
                                                 capsys):
    tool = _tool()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    payload = tool.main(
        ["--plan", str(tmp_path), "rel_q1", "pipeline_cluster/bands"]
    )

    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line) == payload
    assert payload["sf"] == SF and payload["reps"] == 1
    assert payload["master"] == spark.sparkContext.master
    assert set(payload["leaves"]) == {"rel_q1", "pipeline_cluster/bands"}
    for name, leaf in payload["leaves"].items():
        assert leaf["rows"] > 0, name
        assert len(leaf["samples"]) == 1 and leaf["best"] == leaf["samples"][0]
        plan = (tmp_path / f"{name}.txt").read_text()
        assert plan.startswith("== Physical Plan =="), name
    assert spark.range(3).count() == 3  # the suite's session still runs

    bench = _bench_leaves()
    assert len(bench) == 19
    names = set(tool.leaves(spark, SF)[0])
    assert {n for n in names if "/" not in n} == bench
    assert {n.split("/")[0] for n in names} == bench
