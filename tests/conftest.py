from __future__ import annotations

import os

import pytest

from data_engineering_hs_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

# Depth-lens suites marked `slow` and excluded from the default run
# (pytest.ini `addopts = -m "not slow"`): hypothesis fuzz-vs-naive
# sweeps, random-graph/pathological parity and streaming lifecycle
# stress. The ingest replay/compaction torture (one ~6 s test) gates
# the default run: it is the only long interleaving of batches,
# replays and compactions.
# Chosen from measured per-file call time (r17: these files carried
# ~1650 s of the suite's ~2300 s) so the default suite is a <15-min
# correctness gate (oracle parity, goldens, plan shapes, contracts)
# instead of a 45-min run the external harness cannot finish. Run
# everything with: python -m pytest tests/ -m "slow or not slow"
_SLOW_FILES = {
    "test_arrow_batch_boundaries.py",
    "test_curate_scale.py",
    "test_fuzz_assertions.py",
    "test_fuzz_chunking.py",
    "test_fuzz_corpus.py",
    "test_fuzz_csv_quarantine.py",
    "test_fuzz_decimal.py",
    "test_fuzz_dedup.py",
    "test_fuzz_geo.py",
    "test_fuzz_graph.py",
    "test_fuzz_quality.py",
    "test_fuzz_relational.py",
    "test_fuzz_sessions.py",
    "test_fuzz_sketch.py",
    "test_fuzz_splits.py",
    "test_fuzz_timeseries.py",
    "test_fuzz_unicode.py",
    "test_fuzz_upsert.py",
    "test_graph_pathological.py",
    "test_properties.py",
    "test_shuffle_semdedup.py",
    "test_stream_stream_join.py",
    "test_watermark_late_data.py",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        if os.path.basename(str(item.fspath)) in _SLOW_FILES:
            item.add_marker(slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    s.sparkContext.setLogLevel("WARN")
    yield s
