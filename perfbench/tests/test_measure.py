"""Unit tests of the benchmark's pure helpers (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from measure import (  # noqa: E402
    WriteCounter,
    amplification,
    content_hash,
    encoded_size,
    latency_summary,
    row_bytes,
    tail,
)


# -- highest percentile with >= 10 samples beyond it -----------------------


def test_tail_needs_twenty_samples_for_the_median():
    assert tail([float(i) for i in range(19)]) is None
    t = tail([float(i) for i in range(20)])
    assert t == {"p": 50.0, "value": 9.0, "n": 20}


def test_tail_picks_highest_supported_percentile():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    # p90: rank 90, 10 samples (91..100) beyond it; p95 has only 5
    assert tail(vals) == {"p": 90.0, "value": 90.0, "n": 100}
    vals = [float(i) for i in range(1, 1001)]
    # p99: rank 990, exactly 10 beyond; p99.9 has 1
    assert tail(vals) == {"p": 99.0, "value": 990.0, "n": 1000}


def test_tail_is_order_independent_and_counts_beyond_strictly():
    vals = [5.0] * 30 + [1.0] * 30
    t = tail(vals)
    # 60 samples: p75 -> rank 45, 15 beyond; p90 -> rank 54, 6 beyond
    assert t == {"p": 75.0, "value": 5.0, "n": 60}
    assert tail(list(reversed(vals))) == t


def test_latency_summary_reports_median_tail_and_count():
    s = latency_summary([3.0, 1.0, 2.0])
    assert s == {"p50": 2.0, "tail": None, "n": 3}
    with pytest.raises(ValueError):
        latency_summary([])


# -- fixed encoding and amplification ---------------------------------------


def test_encoded_size_is_fixed_per_type():
    assert encoded_size(7) == 8
    assert encoded_size(-1.5) == 8
    assert encoded_size(None) == 1
    assert encoded_size("") == 4
    assert encoded_size("héllo") == 4 + 6
    assert row_bytes({"id": 1, "s": "ab", "x": None}) == 8 + 6 + 1
    with pytest.raises(TypeError):
        encoded_size(object())


def test_amplification_rejects_zero_user_bytes():
    assert amplification(300, 100) == 3.0
    with pytest.raises(ValueError):
        amplification(1, 0)


# -- bytes-written counter ---------------------------------------------------


def _write(path: str, data: bytes, mode: str = "wb") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, mode) as fh:
        fh.write(data)


def test_write_counter_ignores_files_present_at_start(tmp_path):
    _write(str(tmp_path / "old.bin"), b"x" * 50)
    wc = WriteCounter(str(tmp_path))
    assert wc.observe() == 0
    assert wc.bytes_written == 0


def test_write_counter_counts_new_files_once(tmp_path):
    wc = WriteCounter(str(tmp_path))
    _write(str(tmp_path / "a" / "f1.parquet"), b"x" * 100)
    _write(str(tmp_path / "f2"), b"y" * 10)
    assert wc.observe() == 110
    assert wc.observe() == 0  # nothing new
    assert wc.bytes_written == 110


def test_write_counter_counts_appends_as_growth(tmp_path):
    wc = WriteCounter(str(tmp_path))
    wal = str(tmp_path / "_wal" / "rest.jsonl")
    _write(wal, b"a" * 30)
    assert wc.observe() == 30
    _write(wal, b"b" * 12, mode="ab")
    assert wc.observe() == 12
    assert wc.bytes_written == 42


def test_write_counter_counts_a_recreated_path_as_new(tmp_path):
    wc = WriteCounter(str(tmp_path))
    wal = str(tmp_path / "wal")
    _write(wal, b"a" * 30)
    assert wc.observe() == 30
    os.unlink(wal)  # truncated by a flush
    assert wc.observe() == 0
    _write(wal, b"c" * 20)  # the next journal, at the same path
    assert wc.observe() == 20
    assert wc.bytes_written == 50


def test_write_counter_counts_a_shrunk_file_as_replaced(tmp_path):
    wc = WriteCounter(str(tmp_path))
    f = str(tmp_path / "f")
    _write(f, b"a" * 30)
    wc.observe()
    _write(f, b"b" * 10)  # rewritten shorter between two listings
    assert wc.observe() == 10
    assert wc.bytes_written == 40


def test_write_counter_skips_removed_files(tmp_path):
    wc = WriteCounter(str(tmp_path))
    f = str(tmp_path / "data" / "x.parquet")
    _write(f, b"a" * 64)
    wc.observe()
    os.unlink(f)  # vacuumed
    assert wc.observe() == 0
    assert wc.bytes_written == 64


# -- content hash -------------------------------------------------------------


def test_content_hash_is_order_independent_and_multiset_exact():
    rows = [(1, "a"), (2, "b"), (3, "c")]
    assert content_hash(rows) == content_hash(list(reversed(rows)))
    assert content_hash(rows)[0] == 3
    assert content_hash(rows) != content_hash(rows[:2])
    assert content_hash(rows) != content_hash(rows + [(1, "a")])
    assert content_hash([(1, "a")]) != content_hash([(1, "b")])
    assert content_hash([(1, 2.0)]) != content_hash([(1, 2)])
