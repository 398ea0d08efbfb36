"""Per-layer numbers of a traced run.

Derived from three sources, all collected by the benchmark itself:
the spans ``run.py`` and ``workloads.py`` record around the program's
public entry points, Spark's event log (jobs, stages, task metrics),
and ``streaming.events_stream.LAST_PROGRESS``. Every figure covers the
warm passes only, as a median or a per-pass mean, so it can be set
beside the untraced ``pass_s``. A metric that does not apply to the
workload reads 0.
"""

from __future__ import annotations

import json
import statistics

import workloads


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(wl, tracer, log, warm, ctx: dict) -> dict[str, float]:
    """``warm``: the warm passes' spans; ``ctx``: figures ``run.py``
    measured itself (set-up, canary, load, store size, checks)."""

    def inside(name, outer):
        return [
            s for s in tracer.named(name)
            if outer["start"] <= s["start"] and s["end"] <= outer["end"]
        ]

    def per_pass(fn):
        return _med(fn(p) for p in warm)

    def jobs(span):
        return log.within(span["start"], span["end"])

    n_warm = max(len(warm), 1)
    m: dict[str, float] = {"session.start_s": _med(ctx["starts"])}

    # Spark executors, per warm pass
    m["exec.jobs"] = per_pass(lambda p: len(jobs(p)))
    for name, field in (
        ("exec.stages", "stages_run"),
        ("exec.tasks", "tasks"),
        ("exec.task_s", "task_s"),
        ("exec.cpu_s", "cpu_s"),
        ("exec.gc_s", "gc_s"),
        ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
        ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
        ("exec.spill_bytes", "spill_bytes"),
        ("exec.result_bytes", "result_bytes"),
    ):
        m[name] = per_pass(lambda p, f=field: log.total(jobs(p), f))
    m["exec.busy_share"] = per_pass(
        lambda p: log.total(jobs(p), "task_s") / ((p["end"] - p["start"]) * ctx["cpus"])
    )

    scan = per_pass(lambda p: log.total(jobs(p), "input_bytes"))
    m["sources.scan_bytes"] = scan
    m["sources.scan_amplification"] = scan / wl.input_bytes if wl.input_bytes else 0.0
    m["sources.csv_parse_s"] = ctx.get("csv_parse_s", 0.0)

    # ml.bfr: the fit inside each warm pass
    fits = [f for p in warm for f in inside("ml.bfr.fit_stream", p)]

    def per_fit(fn):
        return _med(fn(f) for f in fits)

    m["ml.bfr.fit_s"] = per_fit(lambda f: f["end"] - f["start"])
    m["ml.bfr.jobs"] = per_fit(lambda f: len(jobs(f)))
    m["ml.bfr.job_s"] = per_fit(lambda f: log.busy(jobs(f), f["start"], f["end"]))
    m["ml.bfr.driver_s"] = m["ml.bfr.fit_s"] - m["ml.bfr.job_s"]
    m["ml.bfr.task_s"] = per_fit(lambda f: log.total(jobs(f), "task_s"))
    m["ml.bfr.task_cpu_s"] = per_fit(lambda f: log.total(jobs(f), "cpu_s"))
    m["ml.bfr.result_bytes"] = per_fit(lambda f: log.total(jobs(f), "result_bytes"))
    m["ml.bfr.rounds"] = len(wl.stats)
    for name, col in (
        ("ml.bfr.rs_peak", "nof_point_retained"),
        ("ml.bfr.cs_clusters_peak", "nof_cluster_compression"),
        ("ml.bfr.cs_points_peak", "nof_point_compression"),
    ):
        m[name] = max((r[col] for r in wl.stats), default=0)

    km = [s for p in warm for s in inside("ml.local_kmeans.fit", p)]
    m["ml.local_kmeans.fit_s"] = sum(s["end"] - s["start"] for s in km) / n_warm
    m["ml.local_kmeans.calls"] = len(km) / n_warm
    m["ml.local_kmeans.points"] = sum(s["rows"] for s in km) / n_warm
    m["ml.metrics.nmi_s"] = _med(
        s["end"] - s["start"] for s in tracer.named("ml.metrics.nmi_score")
    )

    runs = [s for p in warm for s in inside("cli.run", p)]

    def cli_output(r):
        fit = sum(s["end"] - s["start"] for s in inside("ml.bfr.fit_stream", r))
        src = sum(s["end"] - s["start"] for s in inside("sources.points_from_indexed_csv", r))
        return (r["end"] - r["start"]) - fit - src

    m["cli.run_s"] = _med(r["end"] - r["start"] for r in runs)
    m["cli.output_s"] = _med(cli_output(r) for r in runs)
    m["cli.output_bytes"] = ctx.get("output_bytes", 0)

    registry = isinstance(wl, workloads.Registry)
    m["registry.build_s"] = _med(wl.build_s[1:]) if registry else 0.0
    m["registry.exec_s"] = _med(wl.exec_s[1:]) if registry else 0.0
    m["registry.eager_jobs"] = per_pass(
        lambda p: sum(len(jobs(b)) for b in inside("registry.build", p))
    )
    m["catalyst.s"] = ctx.get("catalyst_s", 0.0)
    for key in workloads.REGISTRY_KEYS:
        m[f"registry.key_s.{key}"] = _med(wl.key_s[key][1:]) if registry else 0.0
    m["fixtures.store_bytes"] = ctx["store_bytes"] if registry else 0

    m.update(_streaming(wl))

    m["host.canary_s"] = ctx["canary_s"]
    m["host.canary_end_s"] = ctx["canary_end_s"]
    m["host.load1"] = ctx["load1"]
    m["nmi"] = wl.nmi
    m["error_rate"] = ctx["failed"] / ctx["attempted"] if ctx["attempted"] else 1.0
    m["trace.pass_s"] = ctx["pass_s"]
    return m


def _streaming(wl) -> dict[str, float]:
    """Micro-batch machinery of the drains, from ``LAST_PROGRESS``
    after each warm pass (median over passes of the per-pass sums)."""
    names = (
        "streaming.batches",
        "streaming.trigger_ms",
        "streaming.add_batch_ms",
        "streaming.machinery_ms",
        "streaming.state_commit_ms",
        "streaming.state_rows",
        "streaming.state_bytes",
    )
    passes = []
    for snapshot in getattr(wl, "progress", [])[1:]:
        batches = trig = add = commit = rows = nbytes = 0.0
        for prog in snapshot.values():
            # StreamingQueryProgress objects; their JSON holds every field
            prog = [json.loads(p.json) for p in prog]
            batches += len(prog)
            for p in prog:
                d = p.get("durationMs", {})
                trig += d.get("triggerExecution", 0)
                add += d.get("addBatch", 0)
                commit += sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
            if prog:
                last = prog[-1].get("stateOperators", [])
                rows += sum(s.get("numRowsTotal", 0) for s in last)
                nbytes += sum(s.get("memoryUsedBytes", 0) for s in last)
        passes.append((batches, trig, add, trig - add, commit, rows, nbytes))
    cols = list(zip(*passes)) if passes else [()] * len(names)
    return {n: _med(c) for n, c in zip(names, cols)}
