"""The output checks catch planted faults (no Spark needed)."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks

URLS = [f"https://host-{i}.example.org/doc/{i:06d}" for i in range(4)]
TEXTS = [f"para {i}\nsecond" for i in range(4)]


def _write(path: str, table: pa.Table) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


def _results(tmp_path, urls, texts, kinds=None):
    kinds = kinds or ["html"] * len(urls)
    return _write(
        str(tmp_path / "results"),
        pa.table({"url": urls, "payload_kind": kinds, "text": texts}),
    )


def _lineage(tmp_path, count):
    return _write(
        str(tmp_path / "lineage"),
        pa.table({"partition_id": pa.array([0], pa.int32()), "input_count": [count]}),
    )


@pytest.fixture
def con():
    c = duckdb.connect()
    c.register("expected", pa.table({"url": URLS, "text": TEXTS}))
    return c


def test_clean_output_passes(tmp_path, con):
    res = _results(tmp_path, URLS, TEXTS)
    assert checks.check_extraction(con, res, _lineage(tmp_path, 4)) == (4, 0)


def test_planted_wrong_text_is_caught(tmp_path, con):
    texts = list(TEXTS)
    texts[2] = "para 2 second"  # newline lost
    res = _results(tmp_path, URLS, texts)
    assert checks.check_extraction(con, res, _lineage(tmp_path, 4)) == (4, 1)


def test_planted_duplicate_url_is_caught(tmp_path, con):
    res = _results(tmp_path, URLS + URLS[:1], TEXTS + TEXTS[:1])
    assert checks.check_extraction(con, res, _lineage(tmp_path, 4)) == (4, 1)


def test_missing_quarantined_and_stray_rows_are_caught(tmp_path, con):
    urls = URLS[:3] + ["https://stray.example.org/doc/9"]
    kinds = ["html", "error", "html", "html"]
    res = _results(tmp_path, urls, TEXTS, kinds)
    # URLS[3] missing, URLS[1] quarantined, one stray row
    assert checks.check_extraction(con, res, _lineage(tmp_path, 4)) == (4, 3)


def test_lineage_count_mismatch_is_caught(tmp_path, con):
    res = _results(tmp_path, URLS, TEXTS)
    assert checks.check_extraction(con, res, _lineage(tmp_path, 3)) == (4, 1)


def test_compare_rows_is_a_multiset_comparison():
    cols = ["url", "score"]
    want = [("a", 1.0), ("b", 2.0), ("b", 2.0)]
    assert checks.compare_rows(cols, list(want), cols, want) == (3, 0)
    # column order does not matter, float noise below 6 dp does not matter
    assert checks.compare_rows(
        ["score", "url"], [(1.0000001, "a"), (2.0, "b"), (2.0, "b")], cols, want
    ) == (3, 0)
    # one duplicate lost, one wrong row added
    assert checks.compare_rows(cols, [("a", 1.0), ("b", 2.0), ("c", 3.0)], cols, want) == (3, 2)
    assert checks.compare_rows(["url"], [("a",)], cols, want) == (3, 3)
