"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload curate_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from
``--seed`` under ``.perfbench_work/``, starts a SparkSession on
``local[<cores>]``, runs one untimed pass of the workload's ops (with
output checks), then times the same pass several times. ``--seconds``
fixes the number of timed passes (passes ≈ seconds ÷ the workload's
nominal pass time on a 4-core host, at least two); the timed work
never depends on the clock. ``--trace 1`` turns on Spark's event log
and span recording and reports the per-layer metrics instead of the
end-to-end ones.

Every metric is printed as ``metric <name> <value> <unit>``; the last
stdout line is the JSON result. The exit code is nonzero when any op
or output check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "operators.py_start_s": "s",
    "operators.py_init_s": "s",
    "operators.py_run_s": "s",
    "operators.py_bytes_out": "bytes",
    "operators.py_bytes_back": "bytes",
    "operators.release_s": "s",
    "sources.parse_s": "s",
    "operators.upsert_s": "s",
    "operators.upsert_jobs": "count/op",
    "operators.upsert_written_share": "ratio",
    "operators.compact_s": "s",
    "operators.compact_bytes": "bytes",
    "sources.warehouse_files": "count",
    "quality.gate_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.op_self_s": "s",
}


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(ent))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set size (VmHWM) of this process and of every
    process it started, the Spark JVM and its Python workers, in MB
    keyed by ``<name>:<pid>``; ``total`` is their sum."""
    out = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    out["total"] = sum(out.values())
    return out


def fingerprint(data_dir: str) -> dict[str, dict]:
    """Per-input bytes, mtime and content digest, so two runs can tell
    "same code, new data" apart from a regression."""
    out = {}
    for ent in sorted(os.scandir(data_dir), key=lambda e: e.name):
        st = ent.stat()
        with open(ent.path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        out[ent.name] = {"bytes": st.st_size, "mtime": int(st.st_mtime), "sha256": digest}
    return out


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    it, and wait until all of them have ended."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _session(nproc: int, work: str, trace: bool):
    from crypto_etl_airflow_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_pass(spark, wl, tracer, check: bool, first_op: int = 0) -> tuple[list[float], int, float]:
    """Run each op of the pass once; returns (per-op seconds, failures, wall)."""
    wl.begin_pass(spark)
    lat, failed = [], 0
    t_pass = time.perf_counter()
    for i, op in enumerate(wl.ops):
        tracer.op = first_op + i
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                ok = wl.run_op(spark, op, check)
        except Exception:
            traceback.print_exc()
            ok = False
        lat.append(time.perf_counter() - t)
        failed += not ok
    wall = time.perf_counter() - t_pass
    try:
        failed += wl.end_pass(spark, check)
    except Exception:
        traceback.print_exc()
        failed += 1
    return lat, failed, wall


def per_layer(tracer, jobs, wl, wall: float) -> dict[str, float]:
    """Layer metrics summed over all timed passes (``wall`` is theirs)."""
    from perfbench.trace import PY_METRICS, attribute, self_seconds

    spans = tracer.spans
    by_span = attribute(spans, jobs)
    n_ops = len(wl.ops) * wl.repeats

    def secs(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def jobs_in(name: str) -> list:
        return [j for s in spans if s.name == name for j in by_span.get(s.id, [])]

    def msum(js: list, key: str) -> float:
        return sum(j.metrics.get(key, 0.0) for j in js)

    timed = [j for js in by_span.values() for j in js]
    files = getattr(wl, "files_listed", [])
    offered = getattr(wl, "offered_rows", 0)
    m = {
        "plans.build_s": secs("plans.build"),
        "plans.build_jobs": len(jobs_in("plans.build")),
        "spark.run_s": secs("spark.run"),
        "spark.jobs": len(timed),
        "spark.stages": sum(len(j.stages_run) for j in timed),
        "spark.tasks": sum(j.tasks for j in timed),
    }
    for key in ("spark.task_s", "spark.gc_s", "spark.shuffle_bytes",
                "spark.spill_bytes", "sources.input_bytes"):
        m[key] = msum(timed, key)
    for key, _scale in PY_METRICS.values():
        m[key] = msum(timed, key)
    m.update({
        "operators.release_s": secs("operators.release"),
        "sources.parse_s": secs("sources.parse"),
        "operators.upsert_s": secs("operators.upsert"),
        "operators.upsert_jobs": len(jobs_in("operators.upsert")) / n_ops,
        "operators.upsert_written_share": wl.written / offered if offered else 0.0,
        "operators.compact_s": secs("operators.compact"),
        "operators.compact_bytes": msum(jobs_in("operators.compact"), "output_bytes"),
        "sources.warehouse_files": statistics.mean(files) if files else 0.0,
        "quality.gate_s": secs("quality.gate"),
        "trace.ops_per_s": n_ops / wall,
        "trace.op_self_s": sum(self_seconds(s, spans) for s in spans if s.name == "op"),
    })
    return m


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import crypto_etl_airflow_spark  # noqa: F401
        import tests.oracle  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: run from a repository checkout ({e})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(nproc),
    })
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    try:
        return _run(args, nproc, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, nproc: int, work: str) -> int:
    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.seconds, work)
    tracer = Tracer(enabled=bool(args.trace))

    t_setup = time.perf_counter()
    spark = _session(nproc, work, bool(args.trace))
    try:
        from crypto_etl_airflow_spark.session import tune_execution

        posture = tune_execution(spark, wl.data_dir)
        wl.setup(spark, tracer)
        warm_lat, failed, _ = _run_pass(spark, wl, tracer, check=True)
        setup_s = time.perf_counter() - t_setup
        tracer.active = True
        lats, wall = [], 0.0
        for k in range(wl.repeats):
            lat, pass_failed, pass_wall = _run_pass(
                spark, wl, tracer, check=False, first_op=k * len(wl.ops)
            )
            lats.append(lat)
            failed += pass_failed
            wall += pass_wall
        tracer.active = False
        rss = peak_rss_mb()
        master = spark.sparkContext.master
    finally:
        _stop(spark)

    n_ops = len(wl.ops)
    attempted = n_ops * (1 + wl.repeats)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": n_ops * wl.repeats / wall,
        "op_p50_s": statistics.median(t for lat in lats for t in lat),
    }
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": n_ops,
        "timed_passes": wl.repeats,
        "nproc": nproc,
        "master": master,
        "posture": posture,
        "rss_mb": rss,
        "op_labels": [wl.label(op) for op in wl.ops],
        "op_s": [[round(t, 4) for t in lat] for lat in lats],
        "untimed_op_s": [round(t, 4) for t in warm_lat],
        "inputs": fingerprint(wl.data_dir),
        "data_gen_s": t_setup - T_PROCESS,
    }
    for name, value in e2e.items():
        print(f"metric {name} {value:.6g} {END_TO_END[name]}")
    # printed, not in the result: peak RSS swings with the JVM heap's
    # high-water mark, and fail_share is 0 on every correct run
    print(f"metric peak_rss_mb {rss['total']:.6g} MB")
    print(f"metric fail_share {failed / attempted:.6g} ratio")
    result_metrics, units = e2e, END_TO_END
    if args.trace:
        event_logs = os.listdir(os.path.join(work, "eventlog"))
        jobs = read_event_log(os.path.join(work, "eventlog", event_logs[0]))
        result_metrics, units = per_layer(tracer, jobs, wl, wall), PER_LAYER
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}.json"))
        for name, value in result_metrics.items():
            print(f"metric {name} {value:.6g} {units[name]}")
    print("provenance " + json.dumps(provenance, default=str))
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in result_metrics.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
