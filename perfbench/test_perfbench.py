"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench -q

They check the span arithmetic and the event-log fold on synthetic input,
that concurrent Spark jobs land in their own job group, and that both
workloads run at tiny sizes with every output check passing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spans  # noqa: E402


def _span(sid, name, parent, start, end, **attrs):
    return {"id": sid, "name": name, "parent": parent, "run": "t", "thread": "MainThread",
            "start": start, "end": end, **attrs}


def _job(jid, group, submitted, **metrics):
    job = {"id": jid, "group": group, "submitted": submitted, "stages": [jid]}
    job.update(dict.fromkeys(spans._TASK_FIELDS, 0.0))  # noqa: SLF001
    job.update(metrics)
    return job


def test_self_time_and_overlap():
    parent = _span("p", "x", None, 0.0, 10.0)
    kids = [_span("a", "a", "p", 1.0, 4.0), _span("b", "b", "p", 3.0, 6.0),
            _span("c", "c", "p", 8.0, 9.0), _span("d", "d", "p", 9.5, 12.0)]
    self_s, overlap = spans.self_and_overlap(parent, kids)
    # union of children inside the parent: [1,6] + [8,9] + [9.5,10] = 6.5
    assert self_s == pytest.approx(3.5)
    assert overlap == pytest.approx(1.0)  # [3,4] counted by both a and b
    assert spans.union_length([]) == 0.0


def test_layer_metrics_on_a_synthetic_build():
    """A build whose chunks and alias_dict stages run concurrently: stage
    walls, overlap, pipeline self time and coverage follow from the spans,
    and job metrics roll up to the stage that submitted them."""
    s = [
        _span("pass", "pass", None, 0.0, 12.0),
        _span("build", "build", "pass", 0.0, 12.0),
        _span("rp", "pipeline.run_pipeline", "build", 0.0, 10.0),
        _span("al", "datagen.alias_df", "rp", 0.0, 1.0, stage="alias_dict"),
        _span("ac", "warehouse.commit", "rp", 1.0, 3.0, stage="alias_dict", table="alias_dict"),
        _span("ch", "warehouse.commit", "rp", 0.5, 4.0, stage="chunks", table="chunks"),
        _span("lm", "latest_entry", "ch", 3.5, 3.6),
        _span("tr", "warehouse.commit", "rp", 5.0, 9.0, stage="triples_raw", table="triples_raw"),
        _span("cm", "operators.canonicalize.canonical_map", "rp", 9.0, 9.5, stage="canonical_map"),
        _span("fq", "pipeline.flagship_query", "build", 10.0, 11.5),
    ]
    jobs = [_job(1, "ch", 1.0, executor_s=2.0, python_s=1.5),
            _job(2, "ac", 1.5, executor_s=0.5), _job(3, "cm", 9.1), _job(4, "cm", 9.2),
            _job(5, "lm", 3.55, shuffle_bytes=7.0)]
    m = spans.layer_metrics(s, jobs)
    assert set(m) == set(spans.per_layer_names())
    assert m["build.alias_dict.wall_s"] == pytest.approx(3.0)
    assert m["build.chunks.wall_s"] == pytest.approx(3.5)
    assert m["build.chunks.executor_s"] == pytest.approx(2.0)
    assert m["build.chunks.python_s"] == pytest.approx(1.5)
    assert m["build.chunks.shuffle_bytes"] == pytest.approx(7.0)  # job of a nested span
    assert m["build.alias_dict.executor_s"] == pytest.approx(0.5)
    assert m["build.canonical_map.jobs"] == 2
    # children of run_pipeline sum to 11.0 and cover [0,4] + [5,9.5] = 8.5
    assert m["build.overlap_s"] == pytest.approx(2.5)
    assert m["build.pipeline.self_s"] == pytest.approx(1.5)
    assert m["build.flagship.wall_s"] == pytest.approx(1.5)
    # (staged 11.0 + self 1.5 - overlap 2.5 + flagship 1.5) / build wall 12
    assert m["build.span_coverage"] == pytest.approx(11.5 / 12.0)
    assert m["traced_pass_s"] == pytest.approx(12.0)
    assert m["fold.chunks.wall_s"] == 0.0


def test_dedup_parts_split_at_the_cc_call():
    """The full dedup pass runs in set-up and the fold in the pass; both
    count, and the pass's parts split at the CC call."""
    s = [
        _span("s", "setup", None, 0.0, 6.0),
        _span("c", "dedup.corpus", "s", 0.0, 6.0),
        _span("cc", "operators.graph.connected_components", "c", 2.0, 4.0),
        _span("w", "warehouse.commit", "c", 5.0, 6.0),
        _span("p", "pass", None, 6.0, 10.0),
        _span("d", "dedup", "p", 6.0, 10.0),
        _span("f", "dedup.fold", "d", 6.0, 10.0),
    ]
    jobs = [_job(1, "c", 1.0, shuffle_bytes=1.0), _job(2, "cc", 2.5, shuffle_bytes=2.0),
            _job(3, "c", 4.5, shuffle_bytes=4.0), _job(4, "w", 5.5, shuffle_bytes=8.0, spill_bytes=1.0),
            _job(5, "f", 7.0, shuffle_bytes=16.0, spill_bytes=2.0)]
    m = spans.layer_metrics(s, jobs)
    assert (m["dedup.exact.wall_s"], m["dedup.cc.wall_s"], m["dedup.apply.wall_s"]) == (2.0, 2.0, 2.0)
    assert m["dedup.exact.shuffle_bytes"] == 1.0
    assert m["dedup.cc.shuffle_bytes"] == 2.0
    assert m["dedup.apply.shuffle_bytes"] == 12.0
    assert (m["dedup.fold.wall_s"], m["dedup.fold.shuffle_bytes"]) == (4.0, 16.0)
    assert m["dedup.spill_bytes"] == 3.0
    assert m["traced_pass_s"] == 4.0


def test_event_log_fold_charges_interleaved_tasks_to_their_job(tmp_path):
    """Two jobs in different groups whose tasks interleave in the log; a
    stage reused by a later job stays charged to the job that ran it."""
    def job_start(jid, group, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": 1000 * jid,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}

    def task_end(stage, run_ms, shuffle, py_ms=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": py_ms}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [job_start(0, "A", [0, 1]), job_start(1, "B", [2]), task_end(0, 100, 5, py_ms=40),
              task_end(2, 300, 7), task_end(1, 200, 0), task_end(2, 300, 7),
              job_start(2, "B", [1, 3]), task_end(3, 50, 1)]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    jobs = {j["id"]: j for j in spans.read_event_log(str(tmp_path))}
    assert (jobs[0]["group"], jobs[0]["shuffle_bytes"]) == ("A", 5.0)
    assert (jobs[0]["executor_s"], jobs[0]["python_s"]) == (pytest.approx(0.3), pytest.approx(0.04))
    assert (jobs[1]["group"], jobs[1]["shuffle_bytes"]) == ("B", 14.0)
    assert jobs[1]["executor_s"] == pytest.approx(0.6)
    assert (jobs[2]["executor_s"], jobs[2]["shuffle_bytes"]) == (pytest.approx(0.05), 1.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from chatvector_ai_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    log_dir = tmp_path_factory.mktemp("eventlog")
    session = get_spark(app_name="perfbench-selftest", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.dir": str(log_dir), "spark.driver.memory": "2g"})
    yield session, str(log_dir)
    session.stop()


def test_concurrent_jobs_land_in_their_own_span(spark):
    """Spans opened in two threads at once tag each thread's jobs with that
    thread's job group, and the event-log fold charges them accordingly, as
    the pipeline's concurrent stages need."""
    import time

    session, log_dir = spark
    tracer = spans.Tracer("cc", session.sparkContext)
    barrier = threading.Barrier(2)
    results = {}

    def work(name, n):
        with tracer.span(name):
            barrier.wait(timeout=60)
            for _ in range(3):
                results[name] = session.range(n).selectExpr("sum(id)").collect()[0][0]

    with tracer.span("root"):
        threads = [threading.Thread(target=work, args=(f"t{i}", 1000 * (i + 1))) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert results == {"t0": sum(range(1000)), "t1": sum(range(2000))}
    ids = {s["name"]: s["id"] for s in tracer.spans}
    assert {s["parent"] for s in tracer.spans if s["name"] != "root"} == {ids["root"]}
    # Spark's own record of each group's jobs; the listener bus writes the
    # event log asynchronously, so wait until it holds all of them
    tracker = session.sparkContext.statusTracker()
    want = {g: sorted(tracker.getJobIdsForGroup(ids[g])) for g in ("t0", "t1")}
    assert all(want.values())
    deadline = time.time() + 60
    while True:
        jobs = [j for j in spans.read_event_log(log_dir) if j["group"] in (ids["t0"], ids["t1"])]
        if len(jobs) == sum(map(len, want.values())) or time.time() > deadline:
            break
        time.sleep(0.5)
    per_group = {g: [j for j in jobs if j["group"] == ids[g]] for g in ("t0", "t1")}
    assert {g: [j["id"] for j in v] for g, v in per_group.items()} == want
    tree = spans.SpanTree(tracer.spans, jobs)
    for g in ("t0", "t1"):
        span = next(s for s in tracer.spans if s["name"] == g)
        assert [j["id"] for j in tree.jobs(span)] == want[g]
        assert sum(j["executor_s"] for j in per_group[g]) > 0
    # the two threads' jobs overlapped in time
    first_end = min(max(j["submitted"] for j in v) for v in per_group.values())
    last_start = max(min(j["submitted"] for j in v) for v in per_group.values())
    assert last_start <= first_end


@pytest.mark.parametrize("name", ["pipeline", "analytics"])
def test_workload_runs_with_no_failed_op(spark, tmp_path, monkeypatch, name):
    import workloads

    for const, value in (("PIPELINE_BASE_DOCS", 30), ("PIPELINE_FOLD_DOCS", 5),
                         ("GRAPH_KG_DOCS", 60), ("DEDUP_DOCS", 40),
                         ("DEDUP_EXACT", 4), ("DEDUP_NEAR", 2), ("DEDUP_FOLD_DOCS", 6),
                         ("DEDUP_FOLD_EXACT", 2), ("DEDUP_FOLD_NEAR", 1)):
        monkeypatch.setattr(workloads, const, value)
    session, _ = spark
    ledger = workloads.Ledger()
    wl = workloads.WORKLOADS[name](session, str(tmp_path), 7, spans.NullTracer(), ledger)
    wl.setup()
    sample = wl.run_pass()
    assert ledger.failed == 0, ledger.errors
    assert ledger.attempted > 0
    assert sample["pass_s"] > 0
    assert sample["pass_cpu_s"] > 0


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == spans.per_layer_names()
    assert all(m["unit"] == spans.unit_of(m["name"]) for m in bench["per_layer"])
    assert len(bench["per_layer"]) <= 128


def test_exits_nonzero_without_the_engine(tmp_path):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""


def test_stop_descendants_ends_orphaned_grandchildren():
    """A grandchild whose parent has exited (as a Python worker outliving
    the JVM) is adopted, killed after the grace period and reaped."""
    script = (
        "import os, subprocess, sys\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "from procstat import become_subreaper, descendants, stop_descendants\n"
        "become_subreaper()\n"
        "p = subprocess.Popen([sys.executable, '-c', "
        "'import subprocess, sys; print(subprocess.Popen([\"sleep\", \"60\"]).pid)'],"
        " stdout=subprocess.PIPE, text=True)\n"
        "orphan = int(p.stdout.readline()); p.wait()\n"
        "assert descendants(os.getpid()) == [orphan]\n"
        "assert stop_descendants(grace_s=0.5, kill_wait_s=5) == []\n"
        "assert not os.path.exists(f'/proc/{orphan}')\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
