"""Tests for the benchmark's own helpers.  Run with

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stats
from perfbench.workloads import END_TO_END, PER_LAYER, KvModel, unit

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([3.0], 90) == 3.0


def test_tail_needs_ten_samples_beyond():
    # 19 samples: only 9 lie above the median -> nothing reportable
    assert stats.reportable(19) == []
    assert stats.tail(list(range(19))) is None
    # 20 samples: p50 leaves exactly 10 beyond it
    assert stats.reportable(20) == [50]
    # 99 samples: p90 leaves 9 beyond -> still only p50
    assert stats.reportable(99) == [50]
    # 100 samples: p90 leaves 10 beyond; p99 leaves 1 -> p90 is the tail
    assert stats.reportable(100) == [50, 90]
    assert stats.tail([float(i) for i in range(1, 101)]) == (90, 90.0)
    # 1000 samples: p99 leaves 10 beyond
    assert stats.reportable(1000) == [50, 90, 99]


def _span(start, end, parent, layer="x"):
    return {"start": start, "end": end, "parent": parent, "layer": layer}


def test_self_time_subtracts_children():
    spans = [
        _span(0.0, 10.0, None, "op"),
        _span(1.0, 4.0, 0, "ops"),
        _span(2.0, 3.0, 1, "io"),
        _span(5.0, 9.0, 0, "exec"),
    ]
    assert stats.self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])
    by = stats.self_time_by_layer(spans)
    assert by == pytest.approx({"op": 3.0, "ops": 2.0, "io": 1.0, "exec": 4.0})
    # self times of a tree add back up to the root's wall time
    assert sum(by.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    # two children from a thread pool run side by side: 2..6 and 4..8
    spans = [_span(0.0, 10.0, None), _span(2.0, 6.0, 0), _span(4.0, 8.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    # a pool thread's span that outlives its parent only covers the overlap
    spans = [_span(0.0, 5.0, None), _span(4.0, 7.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(4.0)


def test_space_amp_arithmetic(tmp_path):
    assert stats.space_amp(300, 200) == 1.5
    assert stats.space_amp(200, 200) == 1.0
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "live.parquet").write_bytes(b"x" * 200)
    (tmp_path / "data" / "removed.parquet").write_bytes(b"x" * 60)
    (tmp_path / "_log").mkdir()
    (tmp_path / "_log" / "00000000.json").write_bytes(b"x" * 40)
    total = stats.dir_bytes(str(tmp_path))
    assert total == 300
    assert stats.space_amp(total, 200) == 1.5


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == unit(m["name"]), m["name"]
    assert [w["name"] for w in bench["workloads"]] == ["analytic_read", "kv_mixed"]


def test_kv_model_tracks_acknowledged_writes():
    import pyarrow as pa

    orders = pa.table({"o_orderkey": [0, 1, 2], "v": ["a", "b", "c"]})
    docs = pa.table({"doc_id": [7], "text": ["t"]})
    model = KvModel(orders, docs)
    model.put((1, "B"))
    model.put((3, "d"))
    model.delete(0)
    assert model.row(0) is None
    assert model.row(1) == (1, "B")
    assert model.row(2) == (2, "c")
    assert model.row(9) is None
    assert model.live() == {1: (1, "B"), 2: (2, "c"), 3: (3, "d")}
    assert model.docs == {7: "t"}


def test_a_table_does_not_depend_on_which_others_are_built():
    from perfbench import datagen

    alone = datagen.tables(3, ["supplier"])
    both = datagen.tables(3, ["customer", "supplier"])
    assert list(alone) == ["supplier"]
    assert alone["supplier"].equals(both["supplier"])
    assert not alone["supplier"].equals(datagen.tables(4, ["supplier"])["supplier"])
