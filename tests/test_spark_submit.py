"""Opt-in end-to-end test of the documented cluster deploy path.

Runs the real `spark-submit --py-files sourmash_spark.zip jobs/dedup_job.py`
twice (second submit must resume from checkpoint) with the driver staged in
an empty directory, so the package can import ONLY from the shipped zip —
see tools/spark_submit_smoke.py for the full protocol.

Two cold JVM submits cost ~90 s, so the test is opt-in:

    RUN_SUBMIT_SMOKE=1 python -m pytest tests/test_spark_submit.py -q
"""

from __future__ import annotations

import json
import os

import pytest


@pytest.mark.skipif(
    not os.environ.get("RUN_SUBMIT_SMOKE"),
    reason="two cold spark-submit JVMs (~90s); set RUN_SUBMIT_SMOKE=1",
)
def test_py_files_deploy_roundtrip():
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "spark_submit_smoke",
        os.path.join(repo, "tools", "spark_submit_smoke.py"),
    )
    smoke = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(smoke)

    assert smoke.main() == 0
    with open(smoke.EVIDENCE) as f:
        res = json.load(f)[f"n_base_{smoke.N_BASE}"]
    # the smoke already asserted submit==resubmit==in-process; re-pin the
    # headline invariants here so a silent smoke regression fails loudly
    assert res["submit"]["n_signatures"] == res["n_files"]
    assert res["submit"]["n_clusters"] == res["inprocess_match"]["n_clusters"]
    # the deployed session runs under the submitted --master and --conf
    for s in (res["submit"], res["resubmit"]):
        assert s["master"] == res["submitted"]["master"]
        assert s["shuffle_partitions"] == res["submitted"]["shuffle_partitions"]
