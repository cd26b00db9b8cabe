#!/usr/bin/env python3
"""Whole-job benchmark of the E2 bulk build and the flagship assign job.

    python3 perfbench/run.py --workload build_k6 --seed 1 --seconds 40 --trace 0

Run from anywhere inside a checkout of the repository; everything the run
writes stays under ``.perfbench/`` at the checkout root and is removed at
the end.  One run is one fresh driver process that starts a Spark session
on local[<nproc>], generates and stages the inputs from ``--seed``, runs
the workload's job once on a fresh lineage workdir (the measured part,
cold, as a spark-submit of the job would run it) and checks what the job
committed against the expected outputs.  ``--seconds`` is recorded but
does not change the work: a run always measures exactly one job.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first runs the
same seed untraced in a child process, then runs the job again with spans
around every layer call and Spark's event log on, and prints the
per-layer metrics plus the tracing overhead.  The last stdout line is the
result as one JSON object; the lines before it name each figure with its
unit, the pinned environment and the host-noise probes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRATCH = ROOT / ".perfbench"

SETUP_REPS = 3          # input generation + staging, median reported
RUN_LIMIT_S = 160       # a job still running this long after the run
                        # started is cancelled and the run fails
DRIVER_MEMORY = "2g"    # the job's inputs are small; fits a 15 GB host


def _cpu_probe() -> float:
    """Seconds for a fixed NumPy matmul: host-noise covariate, reported
    next to each sample and never used to drop one."""
    import numpy as np
    a = np.random.default_rng(1).random((1200, 1200))
    t0 = time.perf_counter()
    (a @ a).sum()
    return time.perf_counter() - t0


def _noise() -> dict:
    return {"cpu_probe_s": round(_cpu_probe(), 4),
            "loadavg_1m": os.getloadavg()[0]}


def _pin_environment(run_dir: Path, trace: bool) -> dict:
    """Pin cores, driver memory, worker imports and scratch locations from
    outside the program, before the JVM starts; returns the extra Spark
    configuration for the session."""
    cores = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher's too: temp files in the
        # run directory, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(ROOT / "perfbench")]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed-size heap: with a growable one, G1's time-based heap
        # sizing on a shared host made peak RSS spread by 10% run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false"})
    return conf


def _process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident sizes (VmHWM) of the driver JVM and every
    process under it (the Python worker daemon and its workers)."""
    total_kb = 0
    for pid in _process_tree(jvm_pid):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _untraced_wall(args) -> tuple[float | None, bool]:
    """Run the same workload and seed untraced in a fresh process, within
    half of the run's time limit."""
    cmd = [sys.executable, str(Path(__file__).resolve()),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=RUN_LIMIT_S / 2)
    except subprocess.TimeoutExpired:
        return None, False
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, False
    res = json.loads(lines[-1])
    return res["metrics"]["wall_s"]["value"], res["failed"] == 0


def _timed_job(spark, workload, inputs, workdir: str,
               deadline: float) -> tuple[float, str | None]:
    """Run the job once; returns (wall seconds, error or None).  Spark
    jobs still running at ``deadline`` (time.monotonic) are cancelled."""
    timer = threading.Timer(max(deadline - time.monotonic(), 0),
                            spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        workload.run(spark, inputs, workdir)
        error = None
    except Exception as exc:  # a failed job is a failed sample, not a crash
        error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
    finally:
        timer.cancel()
    return time.perf_counter() - t0, error


def _check(spark, workload, inputs, seed: int, workdir: str) -> list[str]:
    try:
        return workload.check(spark, inputs, seed, workdir)
    except Exception as exc:  # e.g. a stage the job never committed
        return [f"check raised {type(exc).__name__}: "
                f"{str(exc).splitlines()[0][:300]}"]


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in declared["per_layer" if trace else "end_to_end"]}


def start_session(run_dir: Path, trace: bool):
    """Pin the environment and start the Spark session; returns
    (session, seconds it took)."""
    conf = _pin_environment(run_dir, trace)
    from urbanistic_polygons_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def measure(spark, workload, seed: int, run_dir: Path, session_s: float,
            untraced: tuple[float | None, bool] | None = None,
            event_log: Path | None = None,
            deadline: float | None = None) -> dict:
    """Set up the inputs under ``run_dir``, run the job once on a fresh
    workdir there and check its outputs.  With ``untraced`` (the wall time
    and success of the same job run untraced) the job is traced, and the
    per-layer metrics come from its spans and the session's ``event_log``.
    Spark jobs still running at ``deadline`` (time.monotonic; default
    RUN_LIMIT_S from now) are cancelled and the run fails.

    Returns {"metrics", "info", "problems", "attempted", "failed"}."""
    import workloads
    deadline = deadline or time.monotonic() + RUN_LIMIT_S
    setup_s = []
    # the traced run reports session.start_s, not setup_s: one set-up
    for rep in range(SETUP_REPS if untraced is None else 1):
        t0 = time.perf_counter()
        inputs = workload.inputs(spark, seed, run_dir / f"input{rep}")
        setup_s.append(time.perf_counter() - t0)

    workdir = str(run_dir / "work")
    if untraced is None:
        wall_s, error = _timed_job(spark, workload, inputs, workdir, deadline)
    else:
        import spans
        tracer = spans.Tracer(spark.sparkContext)
        tracer.install(type(spark.range(1)))
        window = [time.time() * 1000]
        try:
            with tracer.span("job", spans.ROOT_LAYER):
                wall_s, error = _timed_job(spark, workload, inputs, workdir,
                                           deadline)
        finally:
            tracer.uninstall()
        window.append(time.time() * 1000)
    rss_mb = peak_rss_mb(spark.sparkContext._gateway.proc.pid)

    problems = [f"job failed: {error}"] if error else _check(
        spark, workload, inputs, seed, workdir)
    attempted, failed = 1, int(bool(problems))
    info = {}
    if untraced is None:
        metrics = {"wall_s": wall_s,
                   "setup_s": session_s + statistics.median(setup_s),
                   "peak_rss_mb": rss_mb}
        if hasattr(workload, "n_docs"):
            info["docs_per_s"] = (workload.n_docs / wall_s, "docs/s")
    else:
        counts = (workload.layer_counts(spark, inputs, workdir, tracer)
                  if not error else dict.fromkeys(workloads.COUNTERS, 0.0))
        # the event log is written from Spark's listener bus: let it drain
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        metrics = spans.span_metrics(tracer.spans)
        metrics.update(spans.layer_metrics(
            spans.read_event_log(event_log), tracer.spans, window))
        metrics.update(counts)
        untraced_s, untraced_ok = untraced
        metrics.update({
            "session.start_s": session_s,
            "trace.wall_s": wall_s,
            "trace.untraced_wall_s": untraced_s or 0.0,
            "trace.overhead_s": wall_s - untraced_s if untraced_s else 0.0,
        })
        attempted += 1
        failed += 0 if untraced_ok else 1
    info["failed_share"] = (failed / attempted, "ratio")
    return {"metrics": metrics, "info": info, "problems": problems,
            "attempted": attempted, "failed": failed}


def run(args) -> dict:
    """One benchmark run: prints the named figures and returns the result
    object."""
    import workloads
    deadline = time.monotonic() + RUN_LIMIT_S
    units = declared_units(bool(args.trace))
    untraced = _untraced_wall(args) if args.trace else None
    run_dir = SCRATCH / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        noise_before = _noise()
        spark, session_s = start_session(run_dir, bool(args.trace))
        out = measure(spark, workloads.WORKLOADS[args.workload], args.seed,
                      run_dir, session_s, untraced, run_dir / "eventlog",
                      deadline)
        metrics = out["metrics"]
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"declared metrics not measured: {sorted(missing)}")
        env = {
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "master": spark.sparkContext.master,
            "driver_heap": f"-Xms{DRIVER_MEMORY} -Xmx{DRIVER_MEMORY}",
            "python": sys.executable,
            "pyspark": spark.version,
            "seconds_requested": args.seconds,
        }
        for name, unit in units.items():
            print(f"{name} {metrics[name]:.6g} {unit}")
        for name, (value, unit) in out["info"].items():
            print(f"{name} {value:.6g} {unit}")
        for line in out["problems"]:
            print(f"check_failed {line}")
        print("env " + json.dumps(env))
        print("noise " + json.dumps({"before": noise_before, "after": _noise()}))
        return {
            "correct": not out["failed"], "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {name: {"value": metrics[name], "unit": unit}
                        for name, unit in units.items()},
        }
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            jvm.stdin.close()  # the gateway JVM exits at the end of its stdin
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("urbanistic_polygons_spark/__init__.py",
                           "urbanistic_polygons_spark/session.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
