"""functions/ column library + sinks + approx/streaming additions."""

import ast
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bfr_clustering_using_pyspark_spark.functions import (
    canonical_fingerprint,
    cosine_sim,
    dot,
    l2_norm,
    word_tokens,
)
from bfr_clustering_using_pyspark_spark.functions.tuning import drain_width
from bfr_clustering_using_pyspark_spark.operators.textstats import q_approx_distinct
from bfr_clustering_using_pyspark_spark.sources import sinks
from bfr_clustering_using_pyspark_spark.streaming import QUERIES as STREAM_QUERIES
from tests.conftest import SF_SMALL


def test_vector_functions_match_numpy(spark):
    rng = np.random.default_rng(3)
    a, b = rng.normal(size=8), rng.normal(size=8)
    df = spark.createDataFrame(pd.DataFrame({"a": [list(a)], "b": [list(b)]}))
    row = df.select(
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine_sim("a", "b").alias("cos"),
    ).collect()[0]
    assert abs(row["dot"] - float(a @ b)) < 1e-9
    assert abs(row["na"] - float(np.linalg.norm(a))) < 1e-9
    assert abs(row["cos"] - float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))) < 1e-9


def test_text_functions(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["Hello, World 42!", "hello world 42"]}))
    rows = df.select(
        word_tokens("t").alias("toks"), canonical_fingerprint("t").alias("fp")
    ).collect()
    assert rows[0]["toks"] == ["hello", "world", "42"]
    # canonical fingerprint is punctuation/case-insensitive
    assert rows[0]["fp"] == rows[1]["fp"]


def test_partitioned_sink_prunes(spark, tmp_path):
    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = str(tmp_path / "orders_part")
    sinks.write_partitioned(df, path, ["o_orderpriority"])
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    plan = back.filter(F.col("o_orderpriority") == "1-URGENT")._jdf.queryExecution().executedPlan().toString()
    # partition-pruned scan: only one partition directory read
    assert "PartitionFilters" in plan or "1-URGENT" in plan


def test_bucketed_join_has_single_shuffle(spark):
    """The whole point of q_bucketed_join: the SMJ over two tables
    bucketed on the join key must need NO Exchange on either input —
    the only shuffle left is the final year rollup."""
    import re

    from bfr_clustering_using_pyspark_spark.operators.formats import q_bucketed_join

    df = q_bucketed_join(spark, SF_SMALL)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in plan
    # the two remaining exchanges are the year rollup (hash) and the
    # final orderBy (range) — NEITHER join input may shuffle on its key
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    n_exch = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
    assert n_exch == 2, plan


def test_cluster_map_json_sink(spark, tmp_path):
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "cluster": [0, 1]}))
    out = tmp_path / "map.json"
    sinks.write_cluster_map_json(df, str(out))
    import json

    assert json.load(open(out)) == {"1": 0, "2": 1}


@pytest.mark.parametrize(
    "ids, clusters",
    [
        ([5, 1, 3, 40], [0, 2, 1, 0]),
        ([-7, 0, 12], [-1, -3, 4]),
        ([2**63 - 1, -(2**63), 0], [-(2**63), 2**63 - 1, -1]),
        ([4, 9, 4, 2, 9], [0, 1, 3, 2, 5]),
        ([], []),
    ],
    ids=["unsorted", "negative", "int64-extremes", "repeated-id", "empty"],
)
def test_cluster_map_json_matches_json_dump(spark, tmp_path, ids, clusters):
    """The Arrow-rendered map is byte-identical to ``json.dumps`` of
    the dict the reference builds: a repeated id keeps its first position
    and its last label, and the count is of distinct ids."""
    import json

    df = spark.createDataFrame(list(zip(ids, clusters)), "id long, cluster long")
    out = tmp_path / "map.json"
    n = sinks.write_cluster_map_json(df, str(out))
    want = {str(i): int(c) for i, c in zip(ids, clusters)}
    assert out.read_text() == json.dumps(want)
    assert n == len(want)


def test_cluster_map_jsonl_sink_matches_contract_face(spark, tmp_path):
    """The distributed JSONL face carries the same map as the
    single-object contract face, via executor-side shards."""
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3], "cluster": [0, 1, 0]}))
    out = tmp_path / "map_jsonl"
    sinks.write_cluster_map_jsonl(df, str(out))
    back = {
        r["id"]: r["cluster"]
        for r in spark.read.json(str(out)).collect()
    }
    assert back == {1: 0, 2: 1, 3: 0}


def test_approx_distinct_within_5pct(spark):
    rows = q_approx_distinct(spark, SF_SMALL).collect()
    for r in rows:
        assert abs(r["approx_orders"] - r["exact_orders"]) <= max(0.05 * r["exact_orders"], 2)
        assert abs(r["approx_parts"] - r["exact_parts"]) <= max(0.05 * r["exact_parts"], 2)


def test_stream_dedup_counts(spark):
    out = {r["event_type"]: r["n_unique_events"] for r in STREAM_QUERIES["stream_dedup"](spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    batch = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert out == batch  # event_ids are unique already → same counts


@pytest.mark.parametrize("knob", ["0", "-3"])
def test_nonpositive_stream_width_is_clamped(spark, monkeypatch, knob):
    """A zero or negative $SPARK_GRAFT_STREAM_WIDTH must not reach
    spark.sql.shuffle.partitions: the drain runs one state store wide."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_WIDTH", knob)
    assert drain_width(spark) == 1
    test_stream_dedup_counts(spark)


@pytest.mark.parametrize("knob", ["abc", "1.5"])
def test_non_integer_stream_width_is_rejected(spark, monkeypatch, knob):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_WIDTH", knob)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_STREAM_WIDTH must be a positive integer, got '{knob}'"):
        drain_width(spark)


def _call_name(node: ast.Call) -> str | None:
    return getattr(node.func, "id", None) or getattr(node.func, "attr", None)


def test_scratch_dir_holds_only_checkpoints():
    """``scratch_dir()`` defaults to tmpfs, which is host RAM: outside
    functions/tuning.py it is only the ``dir`` of a
    ``TemporaryDirectory(prefix="ckpt_")``, a streaming checkpoint.
    Staged data goes to tempfile's default."""
    pkg = Path(sinks.__file__).resolve().parents[1]
    stray = []
    for py in sorted(pkg.rglob("*.py")):
        if py.relative_to(pkg) == Path("functions/tuning.py"):
            continue
        calls = [n for n in ast.walk(ast.parse(py.read_text())) if isinstance(n, ast.Call)]
        checkpoint_roots = set()
        for call in calls:
            kw = {k.arg: k.value for k in call.keywords}
            prefix = kw.get("prefix")
            if _call_name(call) == "TemporaryDirectory" and getattr(prefix, "value", None) == "ckpt_" and "dir" in kw:
                checkpoint_roots.add(id(kw["dir"]))
        stray += [
            f"{py.relative_to(pkg)}:{call.lineno}"
            for call in calls
            if _call_name(call) == "scratch_dir" and id(call) not in checkpoint_roots
        ]
    assert not stray, f"scratch_dir() used for something other than a checkpoint dir: {stray}"


def test_sink_shard_manifest_covers_all_docs(spark):
    from bfr_clustering_using_pyspark_spark.operators.formats import (
        N_SHARDS,
        sink_shard_manifest,
    )

    rows = sink_shard_manifest(spark, SF_SMALL).collect()
    assert [r["shard"] for r in rows] == list(range(N_SHARDS))
    assert sum(r["n_rows"] for r in rows) == 500  # every doc in exactly one shard
    assert all(r["content_fp"] > 0 for r in rows)
