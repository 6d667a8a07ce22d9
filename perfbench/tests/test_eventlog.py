"""The event-log reader on a small recorded log: one extraction of the
sf0.001 fixture corpus (50 docs, 119 spans) written to parquet at
local[4], with the plan descriptions and environment events trimmed."""

import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog_extract_sf0001.jsonl")


def _log():
    return eventlog.read(LOG)


def _whole(log):
    times = [t for t, _ in log.jobs.values()]
    return eventlog.window_metrics(log, min(times) / 1e3, max(times) / 1e3)


def test_parser_finds_jobs_stages_tasks_and_the_python_stage():
    log = _log()
    assert log.jobs and log.tasks
    assert log.python_stages <= log.completed_stages
    assert len(log.python_stages) == 1


def test_window_metrics_on_the_whole_run():
    m = _whole(_log())
    assert m["spark.stages"] >= 2
    assert m["spark.tasks"] == len(_log().tasks)
    # every span of the corpus crosses the Arrow boundary once
    assert m["python.rows_in"] == 119
    assert 0 < m["python.rows_out"]
    assert m["python.bytes_in"] > m["python.bytes_out"] > 0
    assert m["python.run_s"] > 0
    # the reassembly shuffle writes what it reads (one executor)
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"] > 0
    assert m["python.task_max_s"] >= m["python.task_p50_s"] > 0
    assert m["spark.task_max_s"] >= m["spark.task_p50_s"]


def test_window_before_the_run_is_empty():
    log = _log()
    first = min(t for t, _ in log.jobs.values()) / 1e3
    m = eventlog.window_metrics(log, first - 10, first - 1)
    assert m["spark.stages"] == m["spark.tasks"] == 0
    assert m["python.rows_in"] == m["spark.shuffle_write_bytes"] == 0


def test_median_metrics():
    rows = [{"a": 1, "b": 5}, {"a": 3, "b": 4}, {"a": 2, "b": 9}]
    assert eventlog.median_metrics(rows) == {"a": 2, "b": 5}
    assert eventlog.median_metrics([]) == {}


def test_progress_metrics_from_streaming_progress_records():
    recs = [
        {"numInputRows": 10, "durationMs": {"addBatch": 900,
                                            "triggerExecution": 1000},
         "stateOperators": []},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 50},
         "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 700}]},
        {"numInputRows": 4, "durationMs": {"addBatch": 300,
                                           "triggerExecution": 400},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 900},
                            {"numRowsTotal": 2, "memoryUsedBytes": 100}]},
    ]
    m = eventlog.progress_metrics(recs)
    assert m["stream.micro_batches"] == 2
    assert m["stream.add_batch_s"] == 1.2
    assert abs(m["stream.trigger_overhead_s"] - 0.25) < 1e-9
    assert m["stream.state_rows"] == 7
    assert m["stream.state_memory_bytes"] == 1000


def test_driver_only_time_excludes_overlapping_jobs():
    log = eventlog.EventLog(jobs={0: (1000, [0]), 1: (1500, [1]),
                                  2: (9000, [2])},
                            job_ends={0: 2000, 1: 2500, 2: 9500})
    # window 0.5..3.0 s: jobs cover 1.0..2.5 s
    assert eventlog.driver_only_s(log, 0.5, 3.0) == 1.0
    # a job cut by the window counts only inside it
    assert eventlog.driver_only_s(log, 2.0, 4.0) == 1.5
    assert eventlog.driver_only_s(log, 3.0, 4.0) == 1.0
