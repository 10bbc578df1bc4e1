"""The benchmark's event-log parser and summary statistics.

    python -m pytest perfbench/tests -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import Tracer, median, parse_event_log, percentile, span_of_group, tail, tail_percentile  # noqa: E402

LOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog")


def test_event_log_attributes_tasks_to_job_groups():
    """The recorded log (a rolling ``eventlog_v2_*`` directory) holds
    two jobs of group ``perfbench-7``: a pandas UDF over two
    partitions, then the aggregation over its shuffle. Two more jobs
    ran outside any group."""
    log = parse_event_log(LOG_DIR)
    assert log["jobs"] == {0: "perfbench-7", 1: "perfbench-7", 2: None, 3: None}
    g = log["groups"]["perfbench-7"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (2, 2, 3)
    assert g["task_s"] == pytest.approx(5.386)
    assert g["stage_task_s"] == {0: pytest.approx(5.272), 2: pytest.approx(0.114)}
    assert g["shuffle_write_mb"] == pytest.approx(262 / 2**20)
    assert g["shuffle_read_mb"] == pytest.approx(g["shuffle_write_mb"])
    assert g["input_mb"] == g["spill_mb"] == g["output_mb"] == 0


def test_python_worker_metrics_scaled_by_declared_type():
    """``timing`` metrics are milliseconds and ``size`` metrics bytes,
    per the AQE plan update that declares the task accumulators."""
    g = parse_event_log(LOG_DIR)["groups"]["perfbench-7"]
    assert g["python.run_s"] == pytest.approx((2237 + 2410) / 1e3)
    assert g["python.boot_s"] == pytest.approx((1354 + 1361) / 1e3)
    assert g["python.init_s"] == pytest.approx((878 + 1043) / 1e3)
    assert g["python.sent_mb"] == pytest.approx(2 * 4208 / 2**20)
    assert g["python.recv_mb"] == pytest.approx(2 * 4144 / 2**20)
    assert parse_event_log(LOG_DIR)["groups"][None]["python.run_s"] == 0


def test_torn_last_line_is_skipped(tmp_path):
    src = os.path.join(LOG_DIR, "eventlog_v2_local-1", "events_1_local-1")
    with open(src) as f:
        text = f.read()
    (tmp_path / "events_1_app").write_text(text + '{"Event": "SparkListenerTaskEnd", "Sta')
    assert parse_event_log(str(tmp_path))["groups"]["perfbench-7"]["tasks"] == 3


def test_group_names_map_back_to_spans():
    assert span_of_group("perfbench-12") == 12
    assert span_of_group("someone-else") is None
    assert span_of_group(None) is None


@pytest.mark.parametrize("n, expected", [
    (19, None),    # not even the median leaves ten samples above it
    (20, 50.0),
    (24, 58.0),
    (40, 75.0),
    (100, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (5000, 99.8),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n - percentile_rank(n, p) >= 10


def percentile_rank(n, p):
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def test_tail_value_and_fallback():
    values = [float(v) for v in range(1, 41)]  # 40 samples: p75 leaves 10 above
    assert tail(values) == (75.0, 30.0)
    assert percentile(values, 50) == 20.0
    few = [3.0, 1.0, 2.0, 4.0]
    assert tail(few) == (50.0, median(few)) == (50.0, 2.5)


def test_tracer_off_only_times():
    tr = Tracer()
    with tr.span("pass", what=1) as outer:
        with tr.span("query", what="q"):
            pass
    assert [s["name"] for s in tr.spans] == ["pass", "query"]
    assert tr.spans[1]["parent"] == outer["id"]
    assert outer["end"] >= tr.spans[1]["end"] >= tr.spans[1]["start"] >= outer["start"]
    assert "jobs" not in outer
