"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client, closed loop:
every operation starts only after the previous one finished. Spark runs
as ``local[<cpus>]``, and every directory it writes (warehouse, local
dirs, temp, streaming scratch, event log) lives in a fresh run dir
under ``perfbench/.work``, removed when the run ends.

A run: stage the seed's inputs (a separate process, cached by seed) ->
set the session up five times (``setup_s`` is the median) -> the first
pass on the empty warehouse (``first_pass_s``) -> warm passes for
``--seconds``, at least two (``pass_s`` is their median) -> correctness
checks on every pass's outputs. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Metric names and units come from ``BENCHMARK.json``.

``--trace 1`` turns on Spark's event log and the entry-point spans,
writes the spans to ``perfbench/.work/traces/`` and reports
``trace.overhead_s``: its own ``pass_s`` minus that of an untraced run
of the same workload (same seed when recorded, else the latest; a
child run when there is none).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "bfr_clustering_using_pyspark_spark"

SETUPS = 5  # session set-ups per run; setup_s is their median
MIN_WARM = 2  # warm passes per run, at least

_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"# {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _proc_field(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _program_digest() -> str:
    """Content hash of the program's sources: a version stamp that also
    works in a checkout without git metadata."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _pin_host(run_dir: str, trace: bool) -> dict:
    """Pin the session to this host and to the run dir. Must run
    before the JVM launches: the JVM and its Python workers inherit
    this environment."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(4096, _proc_field("/proc/meminfo", "MemTotal:") // 1024 // 4))
    dirs = {
        k: os.path.join(run_dir, k)
        for k in ("local", "tmp", "scratch", "warehouse", "eventlog", "out")
    }
    for d in dirs.values():
        os.makedirs(d)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "--conf", f"spark.local.dir={dirs['local']}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            "SPARK_GRAFT_NO_PROGRESS": "1",
            "SPARK_GRAFT_SCRATCH": dirs["scratch"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }
    )
    return {"cpus": cpus, "driver_mem_mb": mem_mb, "dirs": dirs}


def _stage(kind: str, seed: int, scale: str) -> str:
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "gen.py"),
            "--root", os.path.join(WORK, "inputs"),
            "--kind", kind, "--seed", str(seed), "--scale", scale,
        ],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"staging {kind} failed:\n{out.stderr}")
    return out.stdout.strip().splitlines()[-1]


def _setup(get_spark, tracer, cpus: int):
    """Session start through readiness (a small job has run)."""
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 10_000, 1, cpus).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t0


def _canary(spark) -> float:
    """The repo bench's fixed host-drift canary job (min of 5)."""
    from bench import _canary_sec

    return _canary_sec(spark)


def _instrument(tracer) -> None:
    """Spans around the program's public entry points."""
    from bfr_clustering_using_pyspark_spark import cli
    from bfr_clustering_using_pyspark_spark.ml import bfr, local_kmeans
    from bfr_clustering_using_pyspark_spark.sources import readers

    tracer.wrap(bfr.BFR, "fit_stream", "ml.bfr.fit_stream")
    tracer.wrap(bfr.BFR, "intermediate_stats", "ml.bfr.intermediate_stats")
    tracer.wrap(
        local_kmeans.LocalKMeans, "fit", "ml.local_kmeans.fit",
        count_rows=lambda args: len(args[1]),
    )
    tracer.wrap(cli, "run", "cli.run")
    # the CLI imported its own reference to the reader
    tracer.wrap(cli, "points_from_indexed_csv", "sources.points_from_indexed_csv")
    tracer.wrap(readers, "points_from_indexed_csv", "sources.points_from_indexed_csv")


def _traced_extras(spark, wl, outputs) -> dict:
    """Per-layer probes that need the live session; run after the
    timed passes so they never count in ``pass_s``."""
    import workloads

    extra = {}
    if isinstance(wl, workloads.Registry):
        extra["catalyst_s"] = wl.catalyst_s(outputs[-1])
    if isinstance(wl, workloads.BfrCliEmerging):
        from bfr_clustering_using_pyspark_spark.sources.readers import points_from_indexed_csv

        t = 0.0
        for f in sorted(os.listdir(wl.chunk_dir)):
            t0 = time.perf_counter()
            workloads.noop_write(points_from_indexed_csv(spark, os.path.join(wl.chunk_dir, f)))
            t += time.perf_counter() - t0
        extra["csv_parse_s"] = t
        extra["output_bytes"] = sum(os.path.getsize(p) for p in outputs[-1])
    return extra


def _stop_jvm() -> None:
    """End the py4j gateway JVM (and with it the Python workers) and
    wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _sweep_stale_run_dirs() -> None:
    """Remove run dirs left by runs that were killed before cleanup."""
    for d in glob.glob(os.path.join(WORK, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def measure(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    from workloads import WORKLOADS

    cls = WORKLOADS[workload]
    input_dir = _stage(cls.input_kind, seed, scale)
    _log(f"staged {input_dir}")

    _sweep_stale_run_dirs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return _measure_in(run_dir, cls, input_dir, workload, seed, seconds, trace, scale)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure_in(run_dir, cls, input_dir, workload, seed, seconds, trace, scale) -> dict:
    import layers
    from tracing import EventLog, Tracer
    from workloads import dir_bytes

    host = _pin_host(run_dir, trace)
    load1 = _load1()
    os.chdir(run_dir)

    from bfr_clustering_using_pyspark_spark.session import get_spark

    tracer = Tracer(trace)
    wl = cls(input_dir, host["dirs"]["out"], tracer)
    spark = None
    ctx: dict = {"cpus": host["cpus"], "load1": load1, "starts": []}
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, start_s, setup_s = _setup(get_spark, tracer, host["cpus"])
            ctx["starts"].append(start_s)
            setups.append(setup_s)
        _log(f"set up x{SETUPS}: {setups}")
        if trace:
            ctx["canary_s"] = _canary(spark)
            _instrument(tracer)
        wl.prepare(spark)

        outputs, times, spans = [], [], []
        while True:
            i = len(times)
            if trace:
                spark.sparkContext.setJobGroup(f"{workload}:{i}", f"pass {i}")
            t0 = time.perf_counter()
            with tracer.span("pass", index=i) as sp:
                outputs.append(wl.run_pass(spark, i))
            times.append(time.perf_counter() - t0)
            spans.append(sp)
            _log(f"pass {i}: {times[-1]:.3f}s {wl.pass_note()}")
            if i == 0:
                ctx["store_bytes"] = dir_bytes(host["dirs"]["warehouse"])
                t_warm = time.perf_counter()
            elif i >= MIN_WARM and time.perf_counter() - t_warm >= seconds:
                break
        peak_rss_mb = _proc_field("/proc/self/status", "VmHWM:") / 1024.0

        if trace:
            ctx.update(_traced_extras(spark, wl, outputs))
        attempted, failed, notes = wl.check(spark, outputs)
        _log(f"checked: {attempted} attempted, {failed} failed {notes}")
        if trace:
            ctx["canary_end_s"] = _canary(spark)
    finally:
        tracer.restore()
        if spark is not None:
            spark.stop()
        _stop_jvm()
        os.chdir(ROOT)

    pass_s = statistics.median(times[1:])
    result = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "cpus": host["cpus"],
        "driver_mem_mb": host["driver_mem_mb"],
        "program": _program_digest(),
        "git_commit": _git_commit(),
        "host.load1": load1,
        "host.canary_s": ctx.get("canary_s"),
        "passes_s": times,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "e2e": {
            "pass_s": pass_s,
            "points_per_s": wl.records / pass_s,
            "first_pass_s": times[0],
            "setup_s": statistics.median(setups),
            "driver_peak_rss_mb": peak_rss_mb,
        },
    }
    if trace:
        ctx.update(pass_s=pass_s, attempted=attempted, failed=failed)
        result["layers"] = layers.per_layer(
            wl, tracer, EventLog(host["dirs"]["eventlog"]), spans[1:], ctx
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{workload}-s{seed}-{scale}.jsonl"))
    return result


def _result_path(workload: str, seed: int, scale: str, trace: bool) -> str:
    suffix = "-trace" if trace else ""
    return os.path.join(WORK, "results", f"{workload}-s{seed}-{scale}{suffix}.json")


def _untraced_pass_s(a: argparse.Namespace) -> float:
    """``pass_s`` of an untraced run of the workload: the same seed's if
    recorded in this checkout, else the latest recorded one, else that
    of a child run made now."""
    path = _result_path(a.workload, a.seed, a.scale, False)
    if not os.path.exists(path):
        recorded = glob.glob(os.path.join(WORK, "results", f"{a.workload}-s*-{a.scale}.json"))
        if recorded:
            path = max(recorded, key=os.path.getmtime)
        else:
            subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0",
                    "--scale", a.scale,
                ],
                cwd=ROOT, capture_output=True, timeout=600, check=True,
            )
    with open(path) as f:
        return json.load(f)["e2e"]["pass_s"]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="full", help="input scale: full, or tiny for self-tests")
    a = p.parse_args(argv)

    # a checkout without the program fails here, before any work
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    sys.dont_write_bytecode = True
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        p.error(f"unknown workload {a.workload!r}; have {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    reference = _untraced_pass_s(a) if a.trace else None
    res = measure(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    if a.trace:
        res["layers"]["trace.overhead_s"] = res["layers"]["trace.pass_s"] - reference
        values, names = res["layers"], spec["per_layer"]
    else:
        values, names = res["e2e"], spec["end_to_end"]
    out = _result_path(a.workload, a.seed, a.scale, bool(a.trace))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(f"{out}.tmp", "w") as f:
        json.dump(res, f)
    os.replace(f"{out}.tmp", out)

    stamp = {k: v for k, v in res.items() if k not in ("e2e", "layers")}
    print("# " + json.dumps(stamp))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
