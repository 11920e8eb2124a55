"""bench.py's full-record file: only a 32-core sf0.1 run may write the
bare BENCH_FULL.json record, so a run at another core count or SF can
never overwrite it (and reads its noise prior from its own file)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_record_name_per_sf_and_core_count():
    names = {(sf, cpus): os.path.basename(bench._full_record_path(sf, cpus))
             for sf in (0.1, 0.001) for cpus in ("32", "8")}
    assert names == {
        (0.1, "32"): "BENCH_FULL.json",
        (0.1, "8"): "BENCH_FULL_c8.json",
        (0.001, "32"): "BENCH_FULL_sf0.001.json",
        (0.001, "8"): "BENCH_FULL_sf0.001_c8.json",
    }
