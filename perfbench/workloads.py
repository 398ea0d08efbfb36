"""The benchmark's workloads.

Each workload is one class with the same life cycle, driven by
``run.py``: ``run_pass(spark, i)`` does one fully materialized pass
and returns its outputs; ``check(spark, outputs)`` verifies them after
the timed passes and returns ``(attempted, failed, notes)``. The
program is reached only through its public entry points:
``session.get_spark``, ``sources.readers``, ``ml.bfr.BFR``,
``ml.metrics.nmi_score``, ``cli.run`` and the ``plans.all_queries()``
registry.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
import sys

# Registry keys run by ``registry_sf01``, in this order: TPC-H-shape
# scans, joins and aggregates, the MinHash near-dup path (a fixture
# store on first touch, a session cache after), and two streaming
# AvailableNow drains with state stores.
REGISTRY_KEYS = (
    "q1_pricing_summary",
    "q5_local_supplier",
    "dedup_minhash_lsh",
    "stream_events_window",
    "stream_dedup",
)
REFERENCE_HEADER = [
    "round_id",
    "nof_cluster_discard",
    "nof_point_discard",
    "nof_cluster_compression",
    "nof_point_compression",
    "nof_point_retained",
]

# NMI floor for the CLI workload: the 40 emerging clusters end up folded
# into the 10 initial ones (the reference's final CS -> DS merge), so
# the current code scores about 0.8; a broken clustering scores near 0
NMI_FLOOR = 0.5


def noop_write(df) -> None:
    """Materialize every column of every row without collecting."""
    df.write.format("noop").mode("overwrite").save()


def _sha256(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    input_kind = ""

    def __init__(self, input_dir: str, out_dir: str, tracer):
        self.input_dir = input_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.records = 0  # input records a pass consumes
        self.input_bytes = 0
        self.nmi = 0.0
        self.stats: list[dict] = []  # intermediate_stats() rows of the BFR fit

    def prepare(self, spark) -> None:
        pass

    def run_pass(self, spark, i: int):
        raise NotImplementedError

    def pass_note(self) -> str:
        """A line on the last pass for the stderr log."""
        return ""

    def check(self, spark, outputs: list) -> tuple[int, int, list[str]]:
        raise NotImplementedError


class BfrCliEmerging(Workload):
    """``cli.run`` over reference-format CSV chunks; JSON + CSV written."""

    name = "bfr_cli_emerging"
    input_kind = "cli"

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        self.chunk_dir = os.path.join(self.input_dir, "chunks")
        self.labels = os.path.join(self.input_dir, "labels.parquet")
        self.records = pq.ParquetFile(self.labels).metadata.num_rows
        self.input_bytes = dir_bytes(self.chunk_dir)

    def run_pass(self, spark, i: int):
        from bfr_clustering_using_pyspark_spark import cli

        out_json = os.path.join(self.out_dir, f"clusters_{i}.json")
        out_csv = os.path.join(self.out_dir, f"intermediate_{i}.csv")
        # cli.run prints one summary line; keep stdout for the result
        with contextlib.redirect_stdout(io.StringIO()):
            cli.run(self.chunk_dir, 10, out_json, out_csv)
        return out_json, out_csv

    def check(self, spark, outputs):
        import pandas as pd

        from bfr_clustering_using_pyspark_spark.ml.metrics import nmi_score

        bad = []
        # byte-identical outputs: the assignment, intermediate_stats()
        # and so nmi repeat exactly across passes
        prints = {(_sha256(j), _sha256(c)) for j, c in outputs}
        if len(prints) != 1:
            bad.append(f"outputs differ across passes: {sorted(prints)}")
        with open(outputs[0][1], newline="") as f:
            rows = list(csv.reader(f))
        if not rows or rows[0] != REFERENCE_HEADER:
            bad.append(f"intermediate header {rows[:1]}")
        self.stats = [dict(zip(REFERENCE_HEADER, map(int, r))) for r in rows[1:]]
        with open(outputs[0][0]) as f:
            got = json.load(f)
        truth = pd.read_parquet(self.labels)
        assigned = pd.DataFrame({"id": pd.to_numeric(pd.Series(list(got))), "cluster": list(got.values())})
        del got
        if len(assigned) != len(truth) or set(assigned["id"]) != set(truth["id"]):
            bad.append(f"{len(assigned)} ids in the JSON map, {len(truth)} input points")
        with self.tracer.span("ml.metrics.nmi_score"):
            self.nmi = nmi_score(spark.createDataFrame(assigned), spark.createDataFrame(truth))
        if self.nmi < NMI_FLOOR:
            bad.append(f"nmi {self.nmi} below floor {NMI_FLOOR}")
        return len(outputs), len(bad), bad


class Registry(Workload):
    """Registry keys run in a fixed order; each full result written to noop."""

    name = "registry_sf01"
    keys = REGISTRY_KEYS
    input_kind = "corpus"

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        from bfr_clustering_using_pyspark_spark.plans import all_queries

        self.queries = all_queries()
        self.tables = sorted(f for f in os.listdir(self.input_dir) if f.endswith(".parquet"))
        self.records = sum(
            pq.ParquetFile(os.path.join(self.input_dir, f)).metadata.num_rows for f in self.tables
        )
        self.input_bytes = sum(os.path.getsize(os.path.join(self.input_dir, f)) for f in self.tables)
        self.key_s: dict[str, list[float]] = {k: [] for k in self.keys}
        self.build_s: list[float] = []
        self.exec_s: list[float] = []
        self.progress: list[dict] = []  # streaming LAST_PROGRESS after each pass

    def run_pass(self, spark, i: int):
        import time

        from bfr_clustering_using_pyspark_spark.streaming import events_stream

        frames = {}
        build = execute = 0.0
        for key in self.keys:
            op = f"{self.name}:{i}:{key}"
            self.tracer.op = op
            if self.tracer.enabled:
                spark.sparkContext.setJobGroup(op, key)
            with self.tracer.span("registry.key", key=key):
                t0 = time.perf_counter()
                with self.tracer.span("registry.build", key=key):
                    df = self.queries[key](spark, self.input_dir)
                t1 = time.perf_counter()
                with self.tracer.span("registry.exec", key=key):
                    noop_write(df)
                t2 = time.perf_counter()
            build += t1 - t0
            execute += t2 - t1
            self.key_s[key].append(t2 - t0)
            frames[key] = df
        self.tracer.op = None
        self.build_s.append(build)
        self.exec_s.append(execute)
        self.progress.append({k: list(v) for k, v in events_stream.LAST_PROGRESS.items()})
        return frames

    def pass_note(self) -> str:
        return " ".join(f"{k}={v[-1]:.2f}" for k, v in self.key_s.items())

    def catalyst_s(self, frames: dict) -> float:
        """Analysis + optimization + planning of each key's result
        frame, from its QueryExecution's phase tracker (planning is
        forced here, outside the timed passes)."""
        total = 0.0
        for df in frames.values():
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    total += opt.get().durationMs() / 1000.0
        return total

    def check(self, spark, outputs):
        """Hash every key's full result of the last pass against its
        DuckDB oracle."""
        expected = self._oracle_hashes()
        from check_correctness import table_hash

        bad = []
        for key, df in outputs[-1].items():
            rows = [tuple(r) for r in df.collect()]
            got = [len(rows), table_hash(df.columns, rows)]
            if got != expected[key]:
                bad.append(
                    f"{key}: {got[0]} rows {got[1][:12]}, "
                    f"oracle {expected[key][0]} rows {expected[key][1][:12]}"
                )
        return len(self.keys), len(bad), bad

    def _oracle_hashes(self) -> dict:
        """``[rows, hash]`` per key from DuckDB over the staged
        corpus, using the repo's gate (``tools/check_correctness.py``)
        and its scale-tractable oracle variants
        (``tools/scalable_oracles.py``). Cached next to the corpus: an
        oracle is a pure function of the corpus and the oracle code."""
        import hashlib

        import duckdb

        tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        from check_correctness import table_hash
        from scalable_oracles import overrides

        from bfr_clustering_using_pyspark_spark.plans import all_oracles

        oracles = all_oracles()
        digest = hashlib.sha256()
        with open(os.path.join(tools, "scalable_oracles.py"), "rb") as f:
            digest.update(f.read())
        for key in self.keys:
            digest.update(oracles[key].encode())
        cache = os.path.join(self.input_dir, f"oracle-{digest.hexdigest()[:16]}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                return json.load(f)
        con = duckdb.connect()
        try:
            for f in self.tables:
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.input_dir, f)}'")
            scalable = overrides(self.input_dir, con)
            out = {}
            for key in self.keys:
                oracle = scalable.get(key, oracles[key])
                if callable(oracle):
                    cols, rows = oracle(con)
                else:
                    rel = con.sql(oracle)
                    cols, rows = rel.columns, rel.fetchall()
                out[key] = [len(rows), table_hash(cols, rows)]
        finally:
            con.close()
        tmp = f"{cache}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, cache)
        return out


WORKLOADS = {w.name: w for w in (BfrCliEmerging, Registry)}
