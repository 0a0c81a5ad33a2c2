"""Self-test of the benchmark at tiny size (about three minutes on 4 cores).

    python3 -m pytest perfbench/test_perfbench.py -q

- regime receipts: at the engine's current code, cow_merge's timed epochs
  take the observe-count control and the hash-prefilter anti-join, and
  mor_merge's take the clustered dedup — a change that moves a workload
  off its path fails here instead of silently measuring another path;
- counters repeat exactly: two traced runs of one seed agree on every
  byte, row, file, scan and job count, and on table_bytes_per_row and
  write_amp;
- every metric BENCHMARK.json names prints, with its unit, and the table
  equals the replay oracle.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quantile, spread  # noqa: E402

# counts that must repeat exactly for one seed (bytes, rows, files, jobs)
EXACT_LAYER = [
    "changes.scan_bytes",
    "changes.scan_rows",
    "dedup.shuffle_bytes",
    "normalize.python_rows",
    "normalize.arrow_bytes",
    "ingest.jobs_per_epoch",
    "merge.snapshot_scans",
    "merge.snapshot_scan_bytes",
    "merge.smj_shuffle_bytes",
    "rangewrite.shuffle_bytes",
    "lake.output_bytes",
    "lake.files_written",
    "lake.point_read_files",
]
EXACT_E2E = ["table_bytes_per_row", "write_amp"]


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int, seed: int = 3, nonce: int = 0) -> tuple[dict, dict]:
    """(detail, result) of one tiny run; ``nonce`` forces a separate run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_stats_helper_is_a_true_median():
    assert median([1, 2, 3, 10]) == 2.5
    assert quantile([0, 10], 0.9) == pytest.approx(9.0)
    assert quantile(list(range(101)), 0.9) == pytest.approx(90.0)
    assert spread([5.0]) == 0.0


def test_cow_merge_takes_hash_prefilter_and_observe_count():
    detail, res = _run("cow_merge", 1)
    assert res["correct"] and res["failed"] == 0
    assert detail["receipts"]
    for r in detail["receipts"]:
        assert (r["control"], r["merge_anti"], r["dedup"]) == ("observe-count", "hash", "window")
    # the hash regime scans the hot snapshot files twice per epoch
    assert res["metrics"]["merge.snapshot_scans"]["value"] == 2.0


def test_mor_merge_takes_clustered_dedup():
    detail, res = _run("mor_merge", 0)
    assert res["correct"] and res["failed"] == 0
    assert detail["receipts"]
    assert all(r["dedup"] == "clustered" for r in detail["receipts"])


def test_stream_drain_is_correct_and_samples_its_range_write():
    _, res = _run("stream_drain", 1)
    assert res["correct"] and res["failed"] == 0
    assert res["metrics"]["stream.sample_jobs"]["value"] > 0


def test_counters_repeat_exactly_for_one_seed():
    d1, r1 = _run("cow_merge", 1)
    d2, r2 = _run("cow_merge", 1, nonce=1)
    for k in EXACT_LAYER:
        assert r1["metrics"][k]["value"] == r2["metrics"][k]["value"], k
    for k in EXACT_E2E:
        assert d1["end_to_end"][k] == d2["end_to_end"][k], k


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_prints_with_its_unit(trace):
    bench = _bench()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    _, res = _run("cow_merge", trace)
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert res["attempted"] >= 1


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cow_merge", "--seed", "1",
         "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
