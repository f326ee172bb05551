"""Driver gate-window invariants: the external correctness driver records
only the FIRST 50 registered gates, so registration order is part of the
witnessing contract (ADVICE r3).  Rewritten per round for the current
rotation slice (COVERAGE.md "Gate rotation")."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

R6_NEW_OR_CHANGED = [
    # gates over code paths added or changed in r6 — MUST be driver-visible
    "pii_redaction",              # new: planted-PII redaction gate
    # gather.py counts-under-subtraction greedy + prefetch ordered=False
    "gather_greedy_murmur",
    "gather_cluster_murmur",
    "gather_weighted_murmur",
    "gather_unassigned_murmur",
    "multigather_murmur",
    "multigather_weighted_murmur",
    "tax_annotate_murmur",
    "tax_metagenome_murmur",
    "tax_genome_murmur",
    "prefetch_murmur",
    # compare.py pair agg: sizes in the group key
    "mh_compare_pairs",
    "compare_murmur_pairs",
    "mh_containment_pairs",
    "mh_compare_mixed_scaled",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    # dedup.py: window substring marking + island merge; simhash kernel
    # and simhash_pairs plans (tiled all-pairs; block_pairs chunk-key join)
    "dedup_substring_pairs",
    "dedup_substring_spans",
    "dedup_substring_exact",
    "dedup_substring_cut",
    "dedup_simhash",
    "simhash_near_pairs",
    "simhash_blockpairs",
    # cluster.py one-action CC probe
    "cc_clusters",
    "pipeline_clusters_murmur",
    "pipeline_representatives_murmur",
    # ann.py numpy batch paths
    "emb_neardup_lsh",
    "emb_semantic_dedup",
    # sketch.py vectorized sketch_md5 (md5 rides every sketch gate)
    "sketch_murmur_stats",
    "mh_sketch_stats",
    "sketch_dna_stats",
    # text.py gopher single-projection + docops.opaque
    "text_gopher_quality",
    # streaming replay safety neighborhood
    "stream_ingest_edges",
]

# VERDICT r5 #2: the scheduled r6 rotation slice (plus the three late-r5
# demotions and the new pii gate) must sit in the first-50 window
R6_PROMOTED = [
    "abund_stats", "cardinality_by_source", "hll_approx_by_source",
    "rel_q1", "rel_topk_join", "manifest_summarize", "sig_grep",
    "picklist_include", "tax_annotate_murmur", "tax_genome_murmur",
    "lca_summarize_murmur", "lca_rankinfo_murmur", "text_token_count",
    "emb_neardup",
    "prefetch_murmur", "search_murmur", "mh_compare_mixed_scaled",
    "pii_redaction",
]


def test_every_gate_has_an_oracle():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)


def test_r6_gates_inside_driver_window():
    import __spark_entry__ as e

    head = list(e.queries())[:50]
    missing = [g for g in R6_NEW_OR_CHANGED if g not in head]
    assert not missing, f"gates over r6 code outside the 50-gate window: {missing}"


def test_r6_rotation_promotes_at_least_ten():
    """>=10 gates absent from the r5 driver record must now sit in the
    first-50 window, and every scheduled promotion landed."""
    import json

    import __spark_entry__ as e

    r5 = set(json.load(open(REPO / "CORRECTNESS_r05.json")))
    head = list(e.queries())[:50]
    promoted = [g for g in head if g not in r5]
    assert len(promoted) >= 10, promoted
    missing = [g for g in R6_PROMOTED if g not in head]
    assert not missing, f"scheduled promotions outside the window: {missing}"


def test_demoted_gates_were_r5_driver_green():
    """The tail may hold only gates that the r5 driver witnessed green OR
    that were already tail in r5 (rotation latency documented in
    COVERAGE.md); nothing promoted-then-red may hide in the tail."""
    import json

    import __spark_entry__ as e

    r5 = json.load(open(REPO / "CORRECTNESS_r05.json"))
    r5_green = {
        k for k, v in r5.items()
        if v.get("rows_match") and v.get("hash_match")
    }
    tail = list(e.queries())[50:]
    # gates newly demoted THIS round (in the r5 driver record) must have
    # been green there
    newly_demoted = [g for g in tail if g in r5]
    not_green = [g for g in newly_demoted if g not in r5_green]
    assert not not_green, not_green


def test_rotation_is_stable():
    import __spark_entry__ as e

    assert list(e.queries()) == list(e.queries())


def test_demotable_tail_fails_loudly():
    """A misspelled DEMOTABLE name, or too few names to fill the tail past
    the window, raises instead of silently shrinking the tail."""
    import pytest

    import __spark_entry__ as e

    q = {f"g{i}": None for i in range(5)}
    assert list(e._demote_tail(q, ["g1", "g0"], window=3)) == [
        "g2", "g3", "g4", "g1", "g0",
    ]
    with pytest.raises(ValueError, match="no registered gate"):
        e._demote_tail(q, ["g1", "g_typo"], window=3)
    with pytest.raises(ValueError, match="fills 1 of the 2"):
        e._demote_tail(q, ["g1", "g1"], window=3)
    e.queries()  # the real DEMOTABLE list passes both checks
