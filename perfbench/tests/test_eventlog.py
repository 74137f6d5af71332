import os

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def _log():
    with open(os.path.join(DATA, "events_small.json")) as f:
        return eventlog.parse_lines(f)


def test_jobs_carry_group_and_span():
    log = _log()
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].group == "pass-0"
    assert log.jobs[0].span == "catalog.write_extracted"
    assert [j.job_id for j in log.jobs_in("pass-0")] == [0, 1]
    assert [j.job_id for j in log.jobs_in("noop")] == [2]


def test_stage_sums_skip_failed_tasks():
    scan = _log().stages[0]
    assert scan.n_tasks == 2  # the killed task is not counted
    assert scan.task_run_ms == [200, 300]
    assert scan.cpu_ns == 500_000_000
    assert scan.gc_ms == 2
    assert scan.input_bytes == 200
    assert scan.shuffle_write_bytes == 100
    assert scan.shuffle_write_ns == 4_000_000
    assert scan.wall_s == 0.39
    assert eventlog.PY_RUN not in scan.sql


def test_python_sql_metrics_are_summed_over_tasks():
    ex = _log().stages[2]
    assert ex.n_tasks == 3
    assert ex.sql[eventlog.PY_RUN] == 2100
    assert ex.sql[eventlog.PY_INIT] == 120
    assert ex.sql[eventlog.PY_SENT] == 3 * 1048576
    assert ex.sql[eventlog.PY_RECV] == 3 * 524288
    assert "peak memory" not in ex.sql
    assert ex.output_bytes == 3 * 2048
    assert ex.fetch_wait_ms == 9


def test_stages_in_keeps_only_stages_that_ran():
    log = _log()
    # stage 1 was skipped (listed in the job, never submitted)
    assert [s.stage_id for s in log.stages_in("pass-0")] == [0, 2]
    assert log.stages_in("noop") == []


def test_event_files_reads_rolling_directories_in_part_order(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    for n in (10, 2, 1):
        (roll / f"events_{n}_local-1").write_text("")
    (roll / "appstatus_local-1").write_text("")
    (tmp_path / ".hidden").write_text("")
    files = eventlog.event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1",
    ]
