"""KG engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up starts a ``local[<cores>]`` session
with the engine's own defaults (only the master is chosen here), writes the
seeded inputs, and runs the untimed work the output checks need, which also
warms the JVM. The timed region then repeats the workload's pass until
``--seconds`` have elapsed (at least one pass) and reports medians. Outputs
are checked after every pass. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine's entry points are wrapped in spans, Spark's event log is on, and
the metrics are the per-layer ones (see spans.py). Everything the run writes
stays under ``.perfbench_work/`` (removed at exit, also after a failure)
and ``.perfbench_out/`` (saved traces) in the current directory. Before it
exits, the run waits until the Spark JVM and its Python workers have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from procstat import RssSampler, become_subreaper, stop_descendants

ROOT = os.getcwd()


def install_spans(tracer) -> None:
    """Wrap the engine's public entry points as the pipeline and the dedup
    operator call them (module globals are looked up at call time)."""
    from chatvector_ai_spark import pipeline
    from chatvector_ai_spark.operators import dedup
    from chatvector_ai_spark.warehouse import Warehouse

    def fixed(stage):
        return lambda a, kw: {"stage": stage}

    for attr, name, stage in (
        ("alias_df", "datagen.alias_df", "alias_dict"),
        ("ingest_chunks", "operators.ingest.ingest_chunks", "chunks"),
        ("extract_triples_df", "operators.extract.extract_triples_df", "triples_raw"),
        ("mentions_from_triples", "operators.link.mentions_from_triples", "linked_mentions"),
        ("link_mentions", "operators.link.link_mentions", "linked_mentions"),
        ("canonical_map", "operators.canonicalize.canonical_map", "canonical_map"),
        ("nodes_from_linked", "pipeline.nodes_from_linked", "nodes"),
        ("edges_from_linked", "pipeline.edges_from_linked", "edges"),
    ):
        tracer.wrap(pipeline, attr, name, fixed(stage))
    tracer.wrap(dedup, "near_dup_pairs", "operators.dedup.near_dup_pairs")
    tracer.wrap(dedup, "connected_components", "operators.graph.connected_components")

    def table_at(i):
        # the table argument of a Warehouse method; committing a stage's
        # table and reading it back are that stage's work
        def attrs(a, kw):
            table = kw.get("table", a[i] if len(a) > i else None)
            return {"table": table, "stage": table}
        return attrs

    tracer.wrap(Warehouse, "commit", "warehouse.commit", table_at(2))
    tracer.wrap(Warehouse, "commit_view", "warehouse.commit_view",
                lambda a, kw: {"table": kw.get("table", a[1] if len(a) > 1 else None)})
    tracer.wrap(Warehouse, "read", "warehouse.read", table_at(2))
    for method in ("latest_entry", "is_done"):
        tracer.wrap(Warehouse, method, f"warehouse.{method}",
                    lambda a, kw: {"table": kw.get("table", a[1] if len(a) > 1 else None)})


def _median(values):
    return statistics.median(values) if values else 0.0


def _unit(name: str) -> str:
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_s"):
        return "s"
    return "count" if "removed" in name else "ratio"


def _work_shares(tree, jobs, cores: int) -> dict[str, tuple[float, float]]:
    """Per phase: executor run time and Python worker time of the phase's
    Spark tasks, each as a share of the phase's wall time on all cores."""
    out = {}
    for phase in ("build", "fold", "graph", "dedup", "dedup.corpus"):
        roots = tree.named(phase)
        wall = sum(r["end"] - r["start"] for r in roots) * cores
        js = [j for r in roots for j in tree.jobs(r)]
        if wall:
            out[phase] = (sum(j["executor_s"] for j in js) / wall, sum(j["python_s"] for j in js) / wall)
    return out


def _stop_jvm() -> None:
    """End the Spark JVM (it exits when its stdin closes) and wait until it
    and every Python worker it started have ended, so that no process of
    this run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the connection may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    left = stop_descendants()
    if left:
        print(f"perfbench: processes {left} did not end after SIGKILL", file=sys.stderr)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwind through the clean-up in main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "chatvector_ai_spark", "pipeline.py")):
        print(f"perfbench: no chatvector_ai_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the JVM, the Python workers and Spark's shuffle write
    # inside the checkout; the workers import the engine from ROOT.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    extra = {}
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": os.path.join(work, "eventlog")}

    from chatvector_ai_spark.session import get_spark

    become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}"
    samples: list[dict] = []
    jobs: list[dict] = []
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                          extra_conf=extra or None)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        tracer = spans.Tracer(run_id, spark.sparkContext) if args.trace else spans.NullTracer()
        if args.trace:
            install_spans(tracer)
        ledger = workloads.Ledger()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer, ledger)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t_setup

        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        with RssSampler(jvm_pid) as rss:
            t0 = time.perf_counter()
            while True:
                try:
                    samples.append(wl.run_pass())
                except Exception as exc:  # a pass that raised is a failed op
                    ledger.attempted += 1
                    ledger.failed += 1
                    ledger.errors.append(f"pass {wl.passes} raised {type(exc).__name__}: {exc}")
                    break
                if time.perf_counter() - t0 >= args.seconds:
                    break
        if args.trace:
            tracer.restore()
        conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        t_stop = time.perf_counter()
        spark.stop()
        spark = None
        stop_s = time.perf_counter() - t_stop
        if args.trace:  # the event log is complete once the session has stopped
            jobs = spans.read_event_log(os.path.join(work, "eventlog"))
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _stop_jvm()
            shutil.rmtree(work, ignore_errors=True)

    per_pass = {k: _median([s[k] for s in samples]) for k in (samples[0] if samples else {})}
    if args.trace:
        tree = spans.SpanTree(tracer.spans, jobs)
        # the kept corpus of the analytics workload is made once, in set-up
        setup_dedup = [s for r in tree.named("dedup.corpus") for s in [r] + tree.descendants(r)]
        layers = [spans.layer_metrics([p] + tree.descendants(p) + setup_dedup, jobs)
                  for p in tree.named("pass")]
        per_layer = {k: _median([m[k] for m in layers]) for k in spans.per_layer_names()}
        trace_path = os.path.join(out_dir, f"trace-{run_id}.json")
        tracer.write(trace_path, jobs=jobs, per_layer=per_layer, spark_conf=conf)
        metrics = {k: {"value": v, "unit": spans.unit_of(k)} for k, v in per_layer.items()}
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}; "
              f"read it with: python3 perfbench/report.py {os.path.relpath(trace_path, ROOT)}")
        for phase, (ex, py) in _work_shares(tree, jobs, cores).items():
            print(f"  {phase}: executor time {ex:.1%} and Python worker time {py:.1%} "
                  f"of wall x {cores} cores")
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
        if samples:  # no figure for a pass that did not complete
            metrics["pass_cpu_s"] = {"value": per_pass["pass_cpu_s"], "unit": "s"}

    print("spark_conf " + json.dumps(conf, sort_keys=True))
    print(f"workload {args.workload}: seed {args.seed}, doc window from {wl.w0}, "
          f"{len(samples)} timed pass(es) after a warm-up in set-up")
    print(f"  set-up: session start {session_s:.3f} s, " +
          ", ".join(f"{k} {v:.3f} s" for k, v in wl.setup_times.items()))
    for i, sample in enumerate(samples):
        print(f"  pass {i}: " + ", ".join(f"{k}={v:.3f}" for k, v in sample.items()))
    for k, v in list(per_pass.items()) + list(wl.quality.items()):
        print(f"  {k} = {v:.6g} {_unit(k)}")
    # printed, not reported: JVM heap growth makes it vary by 20-40% between runs
    print(f"  peak_rss_mb = {rss.peak_kb / 1024.0:.1f} MB")
    print(f"  session stop = {stop_s:.3f} s, run = {time.perf_counter() - t_setup:.1f} s")
    print(f"  failed_ops = {ledger.failed}/{ledger.attempted}")
    for e in ledger.errors:
        print(f"  FAILED {e}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": ledger.failed == 0 and bool(samples), "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
