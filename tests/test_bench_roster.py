"""The bench board's query roster: no bench query is removed or renamed.

``bench.py`` is imported in a fresh interpreter, which also checks that
importing it starts no Spark session (the module only defines queries;
``main()`` builds the session).
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROSTER = {
    "QUERIES": [
        "b1_scan_filter", "b2_multi_join", "b3_upsert_timetravel",
        "b4_pit_join", "b5_training_data", "b6_stats_profile",
        "b7_stream_online", "b8_minhash_dedup", "b9_ann_topk",
        "b10_corpus_curation", "b11_knn_batch",
    ],
    "EXTRA_QUERIES": [
        "e1_ivfpq_probe", "e2_incremental_dedup", "e3_doc_chunks",
        "e4_exact_window_dedup", "e5_semantic_dedup", "e6_drift_windows",
        "e7_label_window", "e8_negative_sampling", "e9_stream_batch",
        "e10_bm25_probe", "e11_lakehouse_backend",
    ],
    "X10_QUERIES": [
        "b3_upsert_timetravel", "b7_stream_online", "b4_pit_join",
        "b5_training_data", "b6_stats_profile", "b8_minhash_dedup",
        "b9_ann_topk", "b10_corpus_curation", "b11_knn_batch",
        "e2_incremental_dedup", "e4_exact_window_dedup",
        "e5_semantic_dedup", "e7_label_window", "e8_negative_sampling",
        "e9_stream_batch", "e10_bm25_probe",
    ],
    "ORACLE_QUERIES": ["b1_scan_filter", "b2_multi_join", "b6_stats_profile"],
}

_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import bench
from pyspark.sql import SparkSession
print(json.dumps({
    "session": SparkSession.getActiveSession() is not None,
    **{n: list(getattr(bench, n)) for n in sys.argv[2:]},
}))
"""


def test_bench_roster_is_pinned_and_import_starts_no_session():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, ROOT, *ROSTER],
        cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got.pop("session") is False
    assert got == ROSTER
