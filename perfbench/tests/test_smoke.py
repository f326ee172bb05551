"""Tiny-input runs of both workloads through the command line, and planted
wrong outputs that the checks must count as failed.  Needs Spark; takes
about four minutes."""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs
from perfbench.spans import Tracer
from perfbench.workloads import DocDedupOps, Ledger, PipelineIngest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 3


def run_bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["pipeline_ingest", "doc_dedup_ops"])
def test_untraced_run_is_correct(workload, spec):
    res = run_bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer(spec):
    res = run_bench("pipeline_ingest", 1)
    assert res["correct"]
    m = res["metrics"]
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    assert m["sketch.wall_s"]["value"] > 0
    assert m["checkpoint.jobs_per_stage"]["value"] >= 1
    assert m["lsh.verify.edges_out"]["value"] > 0
    assert m["dedup.simhash_pairs.wall_s"]["value"] == 0  # not on this workload
    assert m["trace.overhead_s"]["value"] > 0


def test_traced_doc_run_sizes_cells_from_the_program(spec):
    res = run_bench("doc_dedup_ops", 1)
    assert res["correct"]
    m = res["metrics"]
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    # at least the planted copy of each vector in a cell shares it
    assert m["ann.semantic_dedup.max_cell_rows"]["value"] >= 2
    assert m["dedup.simhash_pairs.wall_s"]["value"] > 0
    assert m["sketch.wall_s"]["value"] == 0  # not on this workload


def _write_stage(d: str, df: pd.DataFrame) -> None:
    os.makedirs(d, exist_ok=True)
    inputs.write_parquet(df, os.path.join(d, "part-0.parquet"))


@pytest.fixture
def work_dir():
    d = os.path.join(inputs.WORK, f"test-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_planted_wrong_pipeline_outputs_fail(work_dir):
    cache = inputs.cache_dir("pipeline_ingest", "tiny", SEED)
    assert inputs.is_ready(cache), "run the untraced smoke test first"
    wl = PipelineIngest(cache, work_dir)
    ref = sorted(wl.ref_pairs)
    assert ref, "tiny corpus has no duplicate pairs"
    d = os.path.join(work_dir, "ckpt")

    def plant(edges):
        e = pd.DataFrame(edges, columns=["sig_id_a", "sig_id_b"], dtype="int64")
        _write_stage(wl._path(d, "edges"), e)
        c = pd.DataFrame({"sig_id": wl.base_ids})
        c["cluster_id"] = c["sig_id"]
        _write_stage(wl._path(d, "clusters"), c)

    ids = sorted(int(i) for i in wl.base_ids)
    invented = next((a, b) for a in ids for b in ids if a < b and (a, b) not in wl.ref_pairs)
    ledger = Ledger()
    # right edges but unclustered output, a missing edge, an invented edge
    for edges in (ref, ref[1:], ref + [invented]):
        plant(edges)
        ledger.op(Tracer(), "plant", lambda: None,
                  lambda _: wl.check_edges_clusters(d, wl.base_ids, wl.ref_pairs, ledger))
    assert ledger.attempted == 3 and ledger.failed == 3
    assert any("outside" in p for p in ledger.problems)
    assert any("recall" in p for p in ledger.problems)
    assert any("components" in p for p in ledger.problems)


def test_planted_wrong_doc_output_fails(work_dir):
    cache = inputs.cache_dir("doc_dedup_ops", "tiny", SEED)
    assert inputs.is_ready(cache), "run the untraced smoke test first"
    wl = DocDedupOps(cache, work_dir)
    ledger = Ledger()
    for op, want in wl.oracles.items():
        ledger.op(Tracer(), op, lambda: want.copy(), lambda got, op=op: wl.check(op, got))
    assert ledger.failed == 0
    bad = wl.oracles["dedup.exact_substring_removal"].copy()
    bad.loc[0, "n_removed"] += 1
    ledger.op(Tracer(), "planted", lambda: bad,
              lambda got: wl.check("dedup.exact_substring_removal", got))
    assert ledger.attempted == 4 and ledger.failed == 1


def test_components_labels_by_smallest_member():
    from perfbench.workloads import components

    got = components(np.array([5, 1, 3, 9]), np.array([5, 3]), np.array([9, 5]))
    assert dict(zip(got.sig_id, got.cluster_id)) == {5: 3, 1: 1, 3: 3, 9: 3}
