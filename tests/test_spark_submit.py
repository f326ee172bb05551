"""Opt-in end-to-end test of the documented cluster deploy path for both
jobs: `spark-submit --py-files sourmash_spark.zip jobs/<job>.py`, with the
driver staged in an empty directory, so the package can import ONLY from
the shipped zip — see tools/spark_submit_smoke.py for the full protocol.

dedup submits twice (the second submit must resume from checkpoint);
quality_filter submits once over sf0.01.  Cold JVM submits cost ~90 s per
job, so the test is opt-in:

    RUN_SUBMIT_SMOKE=1 python -m pytest tests/test_spark_submit.py -q
"""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    not os.environ.get("RUN_SUBMIT_SMOKE"),
    reason="cold spark-submit JVMs (~90s per job); set RUN_SUBMIT_SMOKE=1",
)
@pytest.mark.parametrize("job", ["dedup", "quality_filter"])
def test_py_files_deploy_roundtrip(job):
    spec = importlib.util.spec_from_file_location(
        "spark_submit_smoke",
        os.path.join(REPO, "tools", "spark_submit_smoke.py"),
    )
    smoke = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(smoke)

    res = smoke.witness(job, input_dir="/root/testdata/sf0.01")
    # the witness already asserted submit == in-process (and == resubmit);
    # re-pin the headline invariants so a silent witness regression fails
    for k, v in res["inprocess_match"].items():
        assert res["submit"][k] == v
    submits = [res["submit"]] + ([res["resubmit"]] if "resubmit" in res else [])
    if job == "dedup":
        assert len(submits) == 2
        assert res["submit"]["n_signatures"] == res["n_files"]
    else:
        assert res["submit"]["n_in"] >= res["submit"]["n_out"] > 0
    # the deployed session runs under the submitted --master and --conf
    for s in submits:
        assert s["master"] == res["submitted"]["master"]
        assert s["shuffle_partitions"] == res["submitted"]["shuffle_partitions"]
    for cost in ("submit_cost", "resubmit_cost")[:len(submits)]:
        assert set(res[cost]) == {"wall_sec", "tree_cpu_sec"}
