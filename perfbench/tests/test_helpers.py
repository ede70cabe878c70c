"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

# --- percentile rule ---------------------------------------------------------


def test_highest_percentile_keeps_ten_samples_beyond():
    assert stats.highest_percentile(19) is None
    assert stats.highest_percentile(20) == pytest.approx(50.0)
    assert stats.highest_percentile(100) == pytest.approx(90.0)
    assert stats.highest_percentile(200) == pytest.approx(95.0)
    for n in (20, 37, 100, 1000):
        p = stats.highest_percentile(n)
        beyond = n * (1 - p / 100)
        assert beyond >= stats.MIN_BEYOND - 1e-9


def test_tail_refuses_thin_percentiles():
    xs = list(range(100))
    assert stats.tail(xs, 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        stats.tail(xs, 95)
    assert stats.min_samples_for(95) == 200
    assert stats.min_samples_for(50) == 20


def test_quantile_matches_linear_interpolation():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([1, 2, 3, 4]) == 2.5
    assert stats.quantile([10, 20], 0.25) == pytest.approx(12.5)
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


# --- spans -----------------------------------------------------------------------


def _tree():
    """op [0,10]: a [1,4] (with child c [2,3]), b [3,6] overlapping a."""
    t = spans.Tracer(enabled=True)
    root = t.add("op.query", 0.0, 10.0, None, "q1")
    a = t.add("queries.construct", 1.0, 4.0, root, "q1")
    t.add("session.load_table", 2.0, 3.0, a, "q1")
    t.add("spark.action", 3.0, 6.0, root, "q1")
    return t.spans


def test_self_time_subtracts_union_of_children():
    st = spans.self_times(_tree())
    assert st[0] == pytest.approx(10 - 5)  # children cover [1,6]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(3)


def test_layer_self_ms_and_unaccounted_share():
    ss = _tree()
    by_layer = spans.layer_self_ms(ss)
    assert by_layer == pytest.approx(
        {"queries": 2000.0, "session": 1000.0, "spark": 3000.0})
    assert spans.unaccounted_frac(ss) == pytest.approx(0.5)


def test_tracer_nests_spans_under_operations():
    t = spans.Tracer(enabled=True)
    with t.op("q1", "op.query"):
        with t.span("queries.construct"):
            with t.span("session.load_table"):
                pass
        with t.span("spark.action"):
            pass
    names = [(s.name, s.parent, s.op) for s in t.spans]
    assert names == [("op.query", None, "q1"),
                     ("queries.construct", 0, "q1"),
                     ("session.load_table", 1, "q1"),
                     ("spark.action", 0, "q1")]
    assert all(s.end >= s.start for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.op("q1", "op.query"):
        with t.span("x"):
            pass
    assert t.spans == []


# --- streaming progress → layer metrics ----------------------------------------


def _progress(batch, rows, trigger, state=None, frames=None):
    p = {"batchId": batch, "numInputRows": rows,
         "processedRowsPerSecond": rows / (trigger / 1000.0),
         "durationMs": {"triggerExecution": trigger, "addBatch": trigger - 30,
                        "queryPlanning": 10, "walCommit": 5,
                        "commitOffsets": 5, "latestOffset": 10}}
    if state:
        p["stateOperators"] = [state]
    if frames:
        p["observedMetrics"] = {"garmadon.frames": frames}
    return p


def test_progress_metrics_mapping():
    ps = [
        _progress(0, 100, 1000, {"numRowsTotal": 5, "memoryUsedBytes": 400,
                                 "commitTimeMs": 7, "numRowsUpdated": 5},
                  {"total": 100, "corrupt": 1}),
        _progress(1, 300, 3000, {"numRowsTotal": 3, "memoryUsedBytes": 900,
                                 "commitTimeMs": 3, "numRowsUpdated": 2},
                  {"total": 300, "corrupt": 0}),
        _progress(2, 0, 50),  # empty trigger: ignored
    ]
    m = probes.progress_metrics(ps, total_files=4)
    assert m["streaming.trigger_ms"] == pytest.approx(2000)
    assert m["streaming.add_batch_ms"] == pytest.approx(1970)
    assert m["streaming.query_planning_ms"] == pytest.approx(10)
    assert m["streaming.processed_rows_per_s"] == pytest.approx(100)
    assert m["state.rows_total"] == 5        # peak
    assert m["state.memory_bytes"] == 900    # peak
    assert m["state.commit_ms"] == 10        # total
    assert m["state.rows_updated"] == 7      # total
    assert m["frames.rows_in"] == 400
    assert m["frames.corrupt"] == 1
    assert m["streaming.backlog_files"] == pytest.approx((4 + 3) / 2)


def test_progress_metrics_of_nothing_is_zero():
    m = probes.progress_metrics([], total_files=3)
    assert set(m) >= set(probes.DURATION_KEYS.values())
    assert all(v == 0 for v in m.values())


# --- seeded inputs -------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.events_table(7, 500), inputs.events_table(7, 500)
    assert a.equals(b)
    assert not a.equals(inputs.events_table(8, 500))
    assert inputs.shuffled("abcdef", 3) == inputs.shuffled("abcdef", 3)
    assert sorted(inputs.shuffled("abcdef", 3)) == list("abcdef")


def test_shuffle_keeps_builder_and_reader_together():
    units = ("a", "b", ("build", "read"), "c", "d")
    for seed in range(20):
        order = inputs.shuffled(units, seed)
        assert sorted(order) == ["a", "b", "build", "c", "d", "read"]
        assert order.index("read") == order.index("build") + 1


def test_tables_take_the_sf01_shape():
    ev = inputs.events_table(1)
    assert ev.num_rows == 100_000
    assert len(set(ev.column("user_id").to_pylist())) == inputs.N_USERS
    assert set(ev.column("event_type").to_pylist()) == set(inputs.EVENT_TYPES)
    docs = inputs.documents_table(1)
    texts = docs.column("text").to_pylist()
    assert docs.num_rows == 5_000
    assert len(texts) - len(set(texts)) == inputs.N_EXACT_DUPS
    assert all(10 <= len(t.split()) <= 100 for t in texts)
    assert inputs.embeddings_table(1).num_rows == 2_000


def test_documents_plant_duplicates():
    docs = inputs.documents_table(1, 400).column("text").to_pylist()
    assert len(set(docs)) < len(docs)
    assert any(t.endswith(" dup") for t in docs)


def test_frame_backlog_offsets_unique_and_ordered():
    import struct

    sys.path.insert(0, os.getcwd())
    tables, frames = inputs.frame_backlog(3, target_events=3000)
    assert abs(len(frames) - 3000) <= 300
    assert len(frames) == sum(len(r) for r in tables.values())
    keys = [(p, o) for _, p, o in frames]
    assert len(set(keys)) == len(keys)
    stamps = [struct.unpack(">iqii", f[:20])[1] for f, _, _ in frames]
    assert stamps == sorted(stamps)
    markers = {struct.unpack(">iqii", f[:20])[0] for f, _, _ in frames}
    assert len(markers) == len([t for t, rows in tables.items() if rows])


def test_frame_files_split_in_order(tmp_path):
    import pyarrow.parquet as pq

    frames = [(bytes([i]), i % 4, i) for i in range(10)]
    sizes = inputs.write_frame_files(str(tmp_path), frames, 3)
    assert sizes == [4, 4, 2]
    paths = sorted(tmp_path.iterdir())
    mtimes = [p.stat().st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    offsets = [o for p in paths
               for o in pq.read_table(p).column("kafka_offset").to_pylist()]
    assert offsets == list(range(10))
