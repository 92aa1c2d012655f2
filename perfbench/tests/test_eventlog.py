"""Event-log parser and the per-layer numbers derived from it, on a
small hand-written log in Spark's JSON event format."""

import json

import pytest

import eventlog


def _rdd(scope):
    return {"Name": "MapPartitionsRDD",
            "Scope": json.dumps({"id": "1", "name": scope})}


def _job(job_id, label, stages, t0, t1, execution):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": t0, "Stage IDs": stages,
         "Properties": {"spark.job.description": label,
                        "spark.sql.execution.id": str(execution)}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": t1},
    ]


def _stage(stage_id, scopes, t0, t1, **metrics):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Submission Time": t0, "Completion Time": t1,
        "RDD Info": [_rdd(s) for s in scopes],
        "Accumulables": [{"Name": k, "Value": v}
                         for k, v in metrics.items()]}}


def _task(stage_id, launch, finish, gc=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"JVM GC Time": gc, "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0}}


def _build_log():
    ev = [{"Event": "SparkListenerLogStart"}]
    ev.append({"Event": "org.apache.spark.sql.execution.ui."
               "SparkListenerSQLExecutionStart", "executionId": 7,
               "sparkPlanInfo": {"nodeName": "Execute", "metrics": [
                   {"name": "job commit time", "accumulatorId": 99}],
                   "children": []}})
    # op 0: an exchange stage and a shard stage with two tasks
    ev += _job(0, "shard_build:build_sharded_qf:0", [0, 1], 1000, 4000, 7)
    ev.append(_stage(0, ["WholeStageCodegen (1)", "Exchange"], 1000, 2000,
                     **{"internal.metrics.shuffle.write.bytesWritten": 500}))
    ev.append(_task(0, 1000, 1900, gc=100))
    ev.append(_stage(1, ["FlatMapGroupsInArrow", "WriteFiles"], 2000, 3500,
                     **{"data sent to Python workers": 400,
                        "task commit time": 30,
                        "internal.metrics.output.bytesWritten": 64}))
    ev.append(_task(1, 2000, 2500))
    ev.append(_task(1, 2000, 3400, spill=8))
    ev.append({"Event": "org.apache.spark.sql.execution.ui."
               "SparkListenerDriverAccumUpdates", "executionId": 7,
               "accumUpdates": [[99, 20]]})
    # a job of another call, and the warm-up op, are not counted
    ev += _job(1, "shard_build:hash_only", [2], 5000, 6000, 8)
    ev.append(_stage(2, ["Exchange"], 5000, 6000,
                     **{"internal.metrics.shuffle.write.bytesWritten": 9}))
    ev += _job(2, "shard_build:build_sharded_qf:-1", [3], 100, 900, 6)
    ev.append(_stage(3, ["FlatMapGroupsInArrow"], 100, 900))
    return [json.dumps(e) for e in ev]


def test_parse_groups_jobs_and_stages():
    log = eventlog.parse_lines(_build_log())
    assert [j.job_id for j in log.label_jobs(
        "shard_build:build_sharded_qf:0")] == [0]
    stages = log.label_stages("shard_build:build_sharded_qf:0")
    assert [s.stage_id for s in stages] == [0, 1]
    assert "FlatMapGroupsInArrow" in stages[1].scopes
    assert stages[1].seconds == 1.5
    assert log.driver_metrics[7]["job commit time"] == 20


def test_build_layers_split_by_operator():
    log = eventlog.parse_lines(_build_log())
    out = eventlog.build_layers(log, ["shard_build:build_sharded_qf:0"])
    assert out["build.exchange_stage_s"] == 1.0
    assert out["build.shard_stage_s"] == 1.5
    assert out["build.shuffle_write_bytes"] == 500
    assert out["build.python_bytes_in"] == 400
    assert out["build.task_s_max"] == 1.4
    assert out["build.task_s_median"] == pytest.approx((0.5 + 1.4) / 2)
    assert out["build.gc_s"] == pytest.approx(0.1)
    assert out["build.spill_bytes"] == 8
    assert out["build.jobs"] == 1
    assert out["sources.checkpoint_write_s"] == pytest.approx(0.05)
    assert out["sources.checkpoint_bytes"] == 64


def test_layers_are_medians_over_ops():
    ev = []
    for op, secs in enumerate((1, 3, 2)):
        ev += _job(op, f"crawl_frontier:annotate:{op}", [op], 0, 0, op)
        ev.append(_stage(op, ["ArrowEvalPython"], 0, secs * 1000))
        # first wave of two tasks pays the filter load; the rest do not
        ev += [_task(op, 0, 900), _task(op, 0, 700),
               _task(op, 900, 1000), _task(op, 700, 900)]
    log = eventlog.parse_lines(json.dumps(e) for e in ev)
    out = eventlog.lookup_layers(
        log, [f"crawl_frontier:annotate:{i}" for i in range(3)], nproc=2)
    assert out["lookup.probe_stage_s"] == 2.0
    assert out["lookup.task_s_first"] == 0.8
    assert out["lookup.task_s_median"] == pytest.approx(0.15)


def test_missing_ops_give_no_numbers():
    log = eventlog.parse_lines(_build_log())
    assert eventlog.build_layers(log, []) == {}
    assert eventlog.build_layers(log, ["no such label"])[
        "build.shard_stage_s"] == 0


def test_read_dir_skips_checksums(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(_build_log()) + "\n")
    (app / ".events_1_local-1.crc").write_text("not json")
    (app / "appstatus_local-1").write_text("")
    log = eventlog.read_dir(str(tmp_path))
    assert sorted(log.jobs) == [0, 1, 2]
