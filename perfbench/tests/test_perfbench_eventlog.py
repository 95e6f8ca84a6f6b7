import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.json")


def test_costs_sum_per_job_group():
    g = eventlog.per_group(FIXTURE)
    plan = g["r1:plan"]
    assert (plan["jobs"], plan["stages"], plan["tasks"]) == (1, 2, 3)
    assert plan["executor_run_s"] == pytest.approx(0.3)
    assert plan["executor_cpu_s"] == pytest.approx(0.2)
    assert plan["gc_s"] == pytest.approx(0.01)
    assert (plan["scan_bytes"], plan["records_read"]) == (1000, 50)
    assert plan["shuffle_write_bytes"] == 64
    assert plan["shuffle_read_bytes"] == 64  # local + remote
    ex = g["r1:exec"]
    assert (ex["python_sent_bytes"], ex["python_received_bytes"]) == (128, 96)
    assert ex["spill_bytes"] == 12  # memory + disk
    assert g["setup:setup"]["executor_run_s"] == pytest.approx(4.0)


def test_failed_stages_are_not_charged():
    g = eventlog.per_group(FIXTURE)
    assert g["r2:exec"]["jobs"] == 1
    assert g["r2:exec"]["stages"] == 0
    assert g["r2:exec"]["executor_run_s"] == 0


def test_summary_is_per_timed_op():
    s = eventlog.summarize(eventlog.per_group(FIXTURE), {"r1", "r2"}, rows_out=40)
    assert s["spark.jobs"] == pytest.approx(1.5)  # 3 jobs over 2 ops; setup excluded
    assert s["spark.executor_run_s"] == pytest.approx(0.15)
    assert s["spark.records_read_per_row_out"] == pytest.approx(80 / 40)
    assert "spark.records_read" not in s


def test_log_file_refuses_unfinished_logs(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.log_file(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.log_file(str(tmp_path)).endswith("app-1")
