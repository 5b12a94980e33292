import json

import eventlog


def _task(stage, run_ms, cpu_ns, sent=None, shuffle=0, spill=0, read=0):
    accs = []
    if sent is not None:
        accs = [{"ID": 1, "Name": eventlog.PY_SENT, "Update": str(sent)},
                {"ID": 2, "Name": eventlog.PY_RECEIVED, "Update": str(2 * sent)},
                {"ID": 3, "Name": "number of output rows", "Update": "9"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": read},
                "Input Metrics": {"Bytes Read": 100}}}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "J1#0"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.job.description": "J1#0"}},
    _task(0, 1500, 1_000_000_000, sent=10, shuffle=7),
    _task(0, 500, 500_000_000, sent=5, shuffle=3),
    # a later job reuses stage 1 and labels it J4: the label of the
    # job whose stage submission ran the tasks wins
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.job.description": "J4#0"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
     "Properties": {"spark.job.description": "J4#0"}},
    _task(1, 2000, 250_000_000, spill=4, read=11),
    # unlabeled jobs are not attributed
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {}},
    _task(3, 9999, 9),
]


def test_fold_sums_task_metrics_by_label():
    rows = eventlog.fold(json.dumps(e) for e in CANNED)
    assert set(rows) == {"J1#0", "J4#0"}
    j1, j4 = rows["J1#0"], rows["J4#0"]
    assert (j1["jobs"], j1["tasks"]) == (1, 2)
    assert j1["run_s"] == 2.0 and j1["cpu_s"] == 1.5
    assert (j1["py_bytes_sent"], j1["py_bytes_received"]) == (15, 30)
    assert j1["shuffle_write_bytes"] == 10 and j1["input_bytes"] == 200
    assert (j4["jobs"], j4["tasks"], j4["run_s"]) == (1, 1, 2.0)
    assert j4["spill_bytes"] == 8 and j4["shuffle_read_bytes"] == 11
    assert j4["py_bytes_sent"] == 0


def test_fold_dir_reads_rolling_parts_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) + "\n" for e in CANNED]
    # part 10 must be read after part 2 (a name sort reads it first):
    # its tasks are attributed only once part 2's job start was seen
    (app / "events_2_local-1").write_text("".join(lines[:3]))
    (app / "events_10_local-1").write_text("".join(lines[3:]))
    (app / "appstatus_local-1").write_text("")
    assert eventlog.fold_dir(str(tmp_path)) == eventlog.fold(
        json.dumps(e) for e in CANNED)
