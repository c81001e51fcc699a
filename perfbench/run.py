"""End-to-end benchmark of the Avro restructure service and the LLM
train-data job, with an optional traced run that attributes time to layers.

Usage, from the repository root:

    python3 perfbench/run.py --workload service_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

``--trace 0`` prints every end-to-end metric; ``--trace 1`` additionally
runs one traced iteration and prints every per-layer metric instead.  The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; with ``--workload all`` it is
``{<workload>: <that object>}``.  The exit code is 0 whenever every result
line was printed, failed checks included (they show as ``correct: false``).  Everything the run writes stays
under ``.perfbench_work/`` (removed at exit) and, for traced runs, the span
dump ``.perfbench_runs/<workload>-seed<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402

# A run must end within 180 s; no new iteration starts past this point.
DEADLINE_S = 165

E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "cpu_s": "s",
    "freshness_s": "s",
}

PER_LAYER = {
    "sources.avro.walk_s": "s",
    "sources.avro.files_listed": "count",
    "sources.avro.header_reads": "count",
    "sources.avro.decode_s": "s",
    "sources.avro.decode_cpu_s": "s",
    "sources.avro.records_decoded": "count",
    "sources.avro.bytes_read": "bytes",
    "operators.offsets.read_s": "s",
    "operators.offsets.prune_s": "s",
    "operators.offsets.files_pruned": "count",
    "operators.offsets.prune_ratio": "ratio",
    "operators.offsets.commit_s": "s",
    "operators.offsets.commit_jobs": "count",
    "operators.offsets.state_rows": "count",
    "plans.avro_job.idle_poll_s": "s",
    "plans.avro_job.topic_s": "s",
    "plans.avro_job.jobs_per_topic": "count",
    "plans.avro_job.organize_s": "s",
    "plans.avro_job.write_s": "s",
    "plans.avro_job.job_commit_s": "s",
    "plans.avro_job.output_files": "count",
    "plans.avro_job.output_bytes": "bytes",
    "plans.avro_job.records_per_output_file": "count",
    "plans.avro_job.cleaner_s": "s",
    "plans.avro_job.cleaner_files_deleted": "count",
    "plans.avro_job.cleaner_files_rolled_back": "count",
    "operators.dedup.keep_last_s": "s",
    "operators.dedup.records_in": "count",
    "operators.dedup.records_dropped": "count",
    "operators.flatten.attempts": "count",
    "operators.flatten.route_s": "s",
    "plans.layout.finalize_s": "s",
    "plans.layout.files_renamed": "count",
    "plans.layout.files_merged": "count",
    "plans.layout.merge_bytes_rewritten": "bytes",
    "plans.train_job.quality_gate_and_scrub_s": "s",
    "plans.train_job.near_dup_drop_s": "s",
    "plans.train_job.group_and_split_s": "s",
    "plans.train_job.pack_export_s": "s",
    "plans.train_job.disposition_audit_s": "s",
    "plans.train_job.near_dup_dropped": "count",
    "plans.train_job.jobs": "count",
    "plans.export.export_s": "s",
    "plans.export.shards_written": "count",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.python_worker_cpu_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="service_cycle, llm_train_job or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0, help="timed-loop length")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def session(work: str):
    """The program's own session factory, plus an uncompressed event log and
    scratch directories inside the run's work directory."""
    from restructure_hdfs_topic_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file:" + os.path.join(work, "eventlog"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def generator_selfcheck(work: str) -> list[str]:
    """Two generations with one seed must write byte-identical trees."""
    import avrogen

    spec = avrogen.TreeSpec(topics=1, partitions=2, users=3, per_user_hour=40,
                            records_per_file=25, dup_rate=0.05)
    digests = []
    for name in ("a", "b"):
        root = os.path.join(work, "selfcheck", name)
        avrogen.generate_batch(root, spec, 11, 3600 * 100, 3600 * 102, lambda t: 1e9)
        digests.append(avrogen.tree_digest(root))
    shutil.rmtree(os.path.join(work, "selfcheck"), ignore_errors=True)
    return [] if digests[0] == digests[1] else ["generator is not deterministic per seed"]


def run(args, work: str, t_start: float) -> int:
    from workloads import WORKLOADS

    for d in ("eventlog", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise leave /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    spark = session(work)
    spark.range(1).count()
    setup_s = time.time() - t_start

    attempted, failed = 0, 0

    def record(label: str, fails: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if fails:
            failed += 1
            for f in fails:
                print(f"perfbench: CHECK FAILED [{label}] {f}", flush=True)

    record("generator", generator_selfcheck(work))
    w = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
    try:
        info = w.prepare()
        if w.failures is not None:  # the warm-up ran the program
            record("warm-up", w.failures)
    except Exception:
        traceback.print_exc()
        record("warm-up", ["warm-up raised (traceback on stderr)"])
        return finish(args, spark, attempted, failed, {}, None)

    iters: list[dict] = []
    t_loop = time.time()
    last = 0.0
    reserve = 3.5 if args.trace else 1.2  # traced + reference iterations, probes
    while not iters or (
        time.time() - t_loop < args.seconds
        and time.time() - t_start + reserve * last < DEADLINE_S
    ):
        gc.collect()
        spark.catalog.clearCache()
        w.reset()
        t0 = time.time()
        try:
            it = w.iterate()
        except Exception:
            traceback.print_exc()
            record(f"iteration {len(iters)}", ["iteration raised (traceback on stderr)"])
            break
        last = time.time() - t0
        record(f"iteration {len(iters)}", w.check(it))
        iters.append(it)
    if not iters:
        return finish(args, spark, attempted, failed, {}, None)

    med = {k: statistics.median(it[k] for it in iters)
           for k in ("wall_s", "cpu_s", "freshness_s")}
    e2e = {
        "setup_s": setup_s,
        "wall_s": med["wall_s"],
        "records_per_s": statistics.median(it["records"] / it["wall_s"] for it in iters),
        "cpu_s": med["cpu_s"],
        "freshness_s": med["freshness_s"],
    }
    print(f"perfbench {args.workload} seed={args.seed}: warm-up {info}, "
          f"{len(iters)} timed iteration(s), {attempted} attempted, {failed} failed, "
          f"error_rate={failed / attempted:.4f}", flush=True)
    for k, unit in E2E.items():
        n = 1 if k == "setup_s" else len(iters)
        print(f"  {k} = {e2e[k]:.6g} {unit} (n={n})", flush=True)

    traced = None
    if args.trace:
        from spans import Tracer

        def fresh() -> None:
            gc.collect()
            spark.catalog.clearCache()
            w.reset()

        fresh()
        tracer = Tracer(spark, "traced")
        try:
            # Probes first, so the traced iteration's Python-worker CPU and
            # peak RSS below cover that iteration only.
            probes = w.probes()
            py0 = procstat.python_worker_cpu_seconds()
            with procstat.PeakRss() as rss:
                it = w.traced(tracer)
            it["probes"] = probes
            record("traced iteration", w.check(it))
            py_cpu = procstat.python_worker_cpu_seconds() - py0
            # Overhead reference: an untraced iteration right after the
            # traced one, so both are equally warm; the timed median when
            # the run has no time left for it.
            reference = med["wall_s"]
            if time.time() - t_start + it["wall_s"] < DEADLINE_S:
                fresh()
                ref = w.iterate()
                record("reference iteration", w.check(ref))
                reference = ref["wall_s"]
            traced = (tracer, it, py_cpu, rss.peak_mb, reference)
        except Exception:
            traceback.print_exc()
            record("traced iteration", ["traced iteration raised (traceback on stderr)"])
    return finish(args, spark, attempted, failed, e2e, traced, w, work)


def finish(args, spark, attempted, failed, e2e, traced, w=None, work=None) -> int:
    spark.stop()
    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items() if k in e2e}
    else:
        layers = dict.fromkeys(PER_LAYER, 0)
        if traced is not None:
            layers.update(layer_metrics(w, work, *traced, args=args, e2e=e2e))
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        for k, m in metrics.items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0 and bool(e2e),
        "attempted": max(attempted, 1),
        "failed": failed if e2e else max(failed, 1),
        "metrics": metrics,
    }), flush=True)
    return 0


def layer_metrics(w, work, tracer, it, py_cpu, peak_mb, reference_wall, args, e2e) -> dict:
    import eventlog

    log = eventlog.load(os.path.join(work, "eventlog"))
    root = tracer.root
    sess = log.fold(log.jobs_between(root.start, root.end))
    out = w.layer_metrics(tracer, log, it)
    out.update({
        "session.jobs": sess["jobs"],
        "session.stages": sess["stages"],
        "session.tasks": sess["tasks"],
        "session.task_cpu_s": sess["task_cpu_s"],
        "session.gc_s": sess["gc_s"],
        "session.shuffle_write_bytes": sess["shuffle_write_bytes"],
        "session.spill_bytes": sess["spill_bytes"],
        "session.python_worker_cpu_s": py_cpu,
        "session.peak_rss_mb": peak_mb,
        "trace.overhead_s": it["wall_s"] - reference_wall,
        "trace.unattributed_s": unattributed(tracer, it),
    })
    # Each span's own Spark jobs, with their task accounting, go into the
    # span dump; the table sums them per span name.
    own_jobs: dict = {}
    for j in log.jobs.values():
        own_jobs.setdefault(j.span, []).append(j.id)
    table: dict[str, list] = {}
    for sp in tracer.spans:
        sp.attrs["spark"] = log.fold(own_jobs.get(sp.id, []))
        row = table.setdefault(sp.name, [0, 0.0, 0.0, 0, 0.0])
        row[0] += 1
        row[1] += sp.seconds
        row[2] += tracer.self_seconds(sp)
        row[3] += sp.attrs["spark"]["jobs"]
        row[4] += sp.attrs["spark"]["task_cpu_s"]
    print(f"perfbench {args.workload} traced iteration: {it['wall_s']:.3f} s; spans "
          "(calls, total s, self s, own Spark jobs, their task CPU s):")
    for name, (n, tot, own, jobs, cpu) in sorted(table.items(), key=lambda kv: -kv[1][1]):
        print(f"  {name:42s} {n:4d} {tot:9.3f} {own:9.3f} {jobs:5d} {cpu:9.3f}")
    if it.get("probes"):
        print("  probes: " + json.dumps({k: round(v, 4) for k, v in it["probes"].items()}))
    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    dump = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-seed{args.seed}.json")
    with open(dump, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "e2e": e2e,
                   "per_layer": out, "probes": it.get("probes"),
                   "spans": tracer.to_json()}, fh, indent=1)
    return out


def unattributed(tracer, it) -> float:
    """Iteration time no layer accounts for.  Avro: the iteration's own
    self time plus each CLI step's self time (argument parsing, config
    load, the cleaner/restructure dispatch).  LLM: the job's wall minus its
    reported stage laps (the export phase counted once, as its slowest
    concurrent member)."""
    root = tracer.root
    steps = [s for s in tracer.spans if s.parent == root.id and s.name.startswith("cli.")]
    if steps:
        return tracer.self_seconds(root) + sum(tracer.self_seconds(s) for s in steps)
    st = it["raw"]["report"]["stage_seconds"]
    export = max(v for k, v in st.items() if k.startswith("pack_export_") or k == "disposition_audit")
    laps = st["input_count"] + st["quality_gate_and_scrub"] + st["near_dup_drop"] + st["group_and_split"]
    return it["wall_s"] - laps - export


def run_all(args) -> int:
    from workloads import WORKLOADS

    results, code = {}, 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "exit_code": proc.returncode}
            code = 1
    print(json.dumps(results))
    return code


def main(argv=None) -> int:
    t_start = procstat.process_start_epoch()
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "restructure_hdfs_topic_spark")):
        print("perfbench: the restructure_hdfs_topic_spark package is not beside "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, t_start)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def stop_processes() -> None:
    """End the JVM the session launched (it exits when its stdin closes),
    then wait for every process this run started."""
    started = set(procstat.tree()) - {os.getpid()}
    gateway = sys.modules["pyspark"].SparkContext._gateway if "pyspark" in sys.modules else None
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
    procstat.end_processes(started)


if __name__ == "__main__":
    sys.exit(main())
