"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from the seed,
then runs ops back to back for S seconds on ``local[N]`` with N <= nproc.
The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it echoes the run's
environment. Exits 1 if any output check failed.

Everything the run writes goes under ``.perfbench_run/`` in the current
directory; its scratch part is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
BUILD_REPEATS = 3  # input builds per run; setup_s takes their median
MAX_CORES = 4
# _calibrate() on a quiet 4-vCPU host; times are reported at this speed
CALIB_REF_S = 0.012

LAYERS = (
    "generate", "ingest", "cleanse", "star", "dq", "io.writers", "operators.text",
    "operators.dedup.pairs", "operators.dedup.components", "operators.corpus",
    "streaming.pipeline", "queries",
)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None, help="local[N]; default min(4, nproc)")
    return p.parse_args()


def _git_describe() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "describe", "--always", "--dirty"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _calibrate(reps: int = 9) -> list[float]:
    """Wall times of a fixed pure-Python loop, after a short spin that lets
    the core reach its working clock: the host's current single-core
    speed. On a shared host that speed drifts with the neighbours' load,
    and op wall and CPU times drift with it."""
    def loop():
        x = 0
        for i in range(200_000):
            x += i * i
        return x

    end = time.perf_counter() + 0.2
    while time.perf_counter() < end:
        loop()
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        loop()
        out.append(time.perf_counter() - t)
    return out


def _cpu_s() -> dict[int, float]:
    """pid -> user + system CPU seconds, for this process and every process
    it started (the JVM and the JVM's Python workers)."""
    out = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started."""
    pids = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    a = _args()
    nproc = _nproc()
    cores = a.cores or min(MAX_CORES, nproc)
    if cores > nproc:
        print(f"refusing to start: local[{cores}] exceeds nproc={nproc}", file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        return _run(a, cores, nproc, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, cores: int, nproc: int, work: str) -> int:
    # engine imports first: without the engine next to this directory the
    # run fails here, before any process is started
    import pyspark

    import spans as tr
    from etl_data_spark.session import get_spark
    from workloads import QUERIES, WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    calib = _calibrate()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
        tracer = tr.Tracer(spark, run_id)
        wl = WORKLOADS[a.workload](spark, work, a.seed, tracer)

        builds = []
        for k in range(BUILD_REPEATS):
            t = time.perf_counter()
            wl.build(os.path.join(work, f"inputs{k}"))
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        setup_ok = wl.prepare()
        setup_s = session_s + statistics.median(builds) + time.perf_counter() - t
        if not setup_ok:
            print("set-up output check FAILED", file=sys.stderr)
        return _measure(a, spark, tr, tracer, wl, setup_ok, setup_s, nproc, pyspark.__version__, QUERIES, calib)
    finally:
        _stop(spark)


def _measure(a, spark, tr, tracer, wl, setup_ok, setup_s, nproc, version, queries, calib) -> int:
    """Runs ops until ``--seconds`` have passed (at least one op). A traced
    run runs one op, traced. End-to-end times are scaled to the reference
    host speed ``CALIB_REF_S`` by the calibration taken before the session
    started and after the ops; the raw figures go to the context line."""
    sc = spark.sparkContext
    lat: dict[bool, list[float]] = {False: [], True: []}  # traced? -> op seconds
    cpu: list[float] = []  # untraced op CPU seconds, see _cpu_s
    rows = nbytes = attempted = failed = 0
    targets = wl.trace_targets()
    traced = bool(a.trace)
    start = time.perf_counter()
    while True:
        tracer.active = traced
        try:
            with tracer.patched(targets if traced else []), tracer.span("op", f"op{attempted}", always=True):
                c, t = _cpu_s(), time.perf_counter()
                res = wl.op(attempted)
                dt = time.perf_counter() - t
                dc = sum(v - c.get(pid, 0.0) for pid, v in _cpu_s().items())
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            break
        finally:
            tracer.active = False
            tracer.release()
        attempted += 1
        lat[traced].append(dt)
        print(f"op {attempted - 1}{' traced' if traced else ''}: {dt:.3f} s {res.note}", file=sys.stderr)
        if not res.ok:
            failed += 1
            print(f"op {attempted - 1} output check FAILED: {res.note}", file=sys.stderr)
        if not traced:
            cpu.append(dc)
            rows += res.rows
            nbytes += res.input_bytes
        if traced or time.perf_counter() - start >= a.seconds:
            break

    calib = statistics.median(calib + _calibrate())
    speed = CALIB_REF_S / calib  # < 1 on a slower host than the reference
    correct = setup_ok and failed == 0
    ops = lat[False]
    failed_share = failed / attempted
    context = {
        "workload": wl.name, "seed": a.seed, "cpus": nproc, "master": sc.master,
        "default_parallelism": sc.defaultParallelism, "pyspark": version,
        "git": _git_describe(), "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
        "storage_memory_bytes": _storage_memory(spark), "loop": "closed, one client",
        "ops": {"untraced": len(ops), "traced": len(lat[True])},
        "failed_ops_share": failed_share, "calib_s": calib,
    }
    if not correct:
        metrics = {}
    elif a.trace:
        metrics = _layer_metrics(spark, tr, tracer, lat, queries)
        metrics["failed_ops_share"] = (failed_share, "ratio")
    else:
        op_spans = [sp for sp in tracer.spans if sp.layer == "op"]
        totals = tr.totals(spark, op_spans)
        written = totals["output_bytes"] + totals["shuffle_write_bytes"] + totals["spill_bytes"]
        context["jobs_per_op"] = totals["jobs"] / len(ops)
        context["raw"] = {
            "setup_s": setup_s, "op_p50_s": statistics.median(ops),
            "op_cpu_s": statistics.median(cpu), "rows_per_s": rows / sum(ops),
        }
        metrics = {
            "setup_s": (setup_s * speed, "s"),
            "op_p50_s": (statistics.median(ops) * speed, "s"),
            "op_cpu_s": (statistics.median(cpu) * speed, "s"),
            "rows_per_s": (rows / sum(ops) / speed, "rows/s"),
            "write_amp": (written / nbytes, "ratio"),
        }
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{wl.name} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"{wl.name} failed_ops_share = {failed_share:.6g} ratio ({failed} of {attempted} ops)", file=sys.stderr)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def _storage_memory(spark) -> int:
    ex = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(ex.apply(i).maxMemory() for i in range(ex.size()))


def _layer_metrics(spark, tr, tracer, lat, queries) -> dict[str, tuple[float, str]]:
    """Per-layer figures of the traced op (zeros for layers the workload
    does not reach), ``queries.<name>`` wall and driver time per query, the
    traced op's wall time, and the wall time of the actions the tracer
    added. Tracing overhead is ``traced_op_s`` minus an untraced run's
    ``op_p50_s``; the added actions bound it from above, as the op reuses
    what they compute. Writes the spans out once."""
    units = {"wall_s": "s", "driver_s": "s", "task_s": "s", "jobs": "count",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
             "max_task_share": "ratio", "bytes_written": "bytes", "rows_out": "rows"}
    table = tr.layer_table(spark, tracer.spans, split=("queries",))
    zero = dict.fromkeys(tr.LAYER_FIELDS, 0)
    out = {}
    for layer in LAYERS:
        row = table.get(layer, zero)
        for field in tr.LAYER_FIELDS:
            out[f"{layer}.{field}"] = (row[field], units[field])
    for q in queries:
        row = table.get(f"queries.{q}", zero)
        for field in ("wall_s", "driver_s"):
            out[f"queries.{q}.{field}"] = (row[field], "s")
    out["traced_op_s"] = (lat[True][0], "s")
    out["trace_actions_s"] = (tracer.added_s, "s")
    os.makedirs(os.path.join(RUN_DIR, "spans"), exist_ok=True)
    tracer.dump(os.path.join(RUN_DIR, "spans", f"{tracer.run_id}.jsonl"))
    return out


if __name__ == "__main__":
    sys.exit(main())
