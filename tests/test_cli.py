"""Reference-parity CLI: chunked indexed-CSV in, JSON cluster map +
intermediate CSV out (reference sh_commands / Runner contract), and
the clear errors it gives for nonsense input and settings."""

import csv
import json
import os
import re

import numpy as np
import pytest

from bfr_clustering_using_pyspark_spark import cli, session
from bfr_clustering_using_pyspark_spark.ml import BFRConfig


def test_cli_end_to_end(spark, tmp_path):
    rng = np.random.default_rng(11)
    k, d, n = 4, 6, 1200
    centers = rng.normal(0, 12, (k, d))
    labels = rng.integers(0, k, n)
    X = centers[labels] + rng.normal(0, 0.4, (n, d))
    indir = tmp_path / "chunks"
    indir.mkdir()
    per = n // 2
    for ci in range(2):
        with open(indir / f"chunk_{ci}.txt", "w") as f:
            for i in range(ci * per, (ci + 1) * per):
                f.write(f"{i}," + ",".join(f"{v:.6f}" for v in X[i]) + "\n")

    clust_out = tmp_path / "clust.json"
    int_out = tmp_path / "int.csv"
    cli.run(str(indir), k, str(clust_out), str(int_out))

    with open(clust_out) as f:
        m = json.load(f)
    assert len(m) == n
    assert set(map(int, m.values())) <= set(range(-1, k))

    with open(int_out) as f:
        rows = list(csv.reader(f))
    # reference intermediate header, bfr.py:197-198
    assert rows[0] == [
        "round_id",
        "nof_cluster_discard",
        "nof_point_discard",
        "nof_cluster_compression",
        "nof_point_compression",
        "nof_point_retained",
    ]
    assert len(rows) == 3  # header + one row per chunk


def _write_chunks(indir, sizes, d, short=lambda ci, li: False):
    """Chunk files of ``pidx,dim0,...`` lines; lines where
    ``short(chunk, line)`` holds get one value fewer than the rest."""
    rng = np.random.default_rng(3)
    indir.mkdir()
    pid = 0
    for ci, n in enumerate(sizes):
        with open(indir / f"chunk_{ci}.txt", "w") as f:
            for li in range(n):
                dims = d - 1 if short(ci, li) else d
                f.write(f"{pid}," + ",".join(f"{v:.4f}" for v in rng.normal(0, 5, dims)) + "\n")
                pid += 1


# chunk 0 is small enough that the init sample takes all of it (the
# driver-side check); chunk 1 goes through the assignment kernel, where
# a batch of only short rows stacks fine and must still be caught
@pytest.mark.parametrize(
    "chunk, n_short, line, short",
    [
        (0, 1, 8, lambda ci, li: (ci, li) == (0, 7)),
        (1, 1, 124, lambda ci, li: (ci, li) == (1, 123)),
        (1, 400, 1, lambda ci, li: ci == 1),
    ],
    ids=["init-sample", "kernel-row", "kernel-batch"],
)
def test_cli_ragged_rows_name_file_and_d(spark, tmp_path, chunk, n_short, line, short):
    indir = tmp_path / "chunks"
    _write_chunks(indir, [150, 400], d=4, short=short)
    bad = re.escape(str(indir / f"chunk_{chunk}.txt"))
    with pytest.raises(
        ValueError,
        match=rf"^{bad}: bfr: {n_short} rows in chunk {chunk}.* d=4 .*; first offending line {line}: '",
    ):
        cli.run(str(indir), 3, str(tmp_path / "c.json"), str(tmp_path / "i.csv"))


# a cast that fails inside Spark: on chunk 0's first line it is the d
# probe, elsewhere in chunk 0 the init sample (the id is hashed), in
# chunk 1 of 3 the assignment kernel's input
@pytest.mark.parametrize(
    "chunk, li, field",
    [(0, 0, 2), (0, 7, 0), (1, 123, 2)],
    ids=["d-probe-feature", "init-sample-id", "kernel-feature"],
)
def test_cli_non_numeric_field_names_file_and_line(spark, tmp_path, chunk, li, field):
    indir = tmp_path / "chunks"
    _write_chunks(indir, [150, 400, 200], d=4)
    path = indir / f"chunk_{chunk}.txt"
    lines = path.read_text().splitlines(keepends=True)
    fields = lines[li].split(",")
    fields[field] = "abc"
    lines[li] = ",".join(fields)
    path.write_text("".join(lines))
    bad = re.escape(str(path))
    with pytest.raises(
        ValueError,
        match=rf"^{bad}: bfr: 'abc' in chunk {chunk} is not a number; first offending line {li + 1}: ",
    ):
        cli.run(str(indir), 3, str(tmp_path / "c.json"), str(tmp_path / "i.csv"))


def test_cli_empty_first_chunk_names_file(spark, tmp_path):
    indir = tmp_path / "chunks"
    _write_chunks(indir, [0, 200], d=4)
    bad = re.escape(str(indir / "chunk_0.txt"))
    with pytest.raises(ValueError, match=rf"^{bad}: bfr: chunk 0 has no points$"):
        cli.run(str(indir), 3, str(tmp_path / "c.json"), str(tmp_path / "i.csv"))


def test_cli_rejects_dir_without_chunks(tmp_path, monkeypatch):
    def no_spark(*a, **kw):
        raise AssertionError("the session started for an empty input directory")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    indir = tmp_path / "chunks"
    indir.mkdir()
    (indir / ".hidden").write_text("0,1.0\n")
    with pytest.raises(ValueError, match=rf"^{re.escape(str(indir))}: no chunk files"):
        cli.run(str(indir), 3, str(tmp_path / "c.json"), str(tmp_path / "i.csv"))


@pytest.mark.parametrize("field", ["n_clusters", "n_chunks"])
def test_config_rejects_nonpositive(field):
    kw = {"n_clusters": 3, "n_chunks": 2, field: 0}
    with pytest.raises(ValueError, match=f"BFRConfig.{field} must be >= 1"):
        BFRConfig(**kw)


def test_cli_rejects_bad_k_before_spark(tmp_path, monkeypatch):
    def no_spark(*a, **kw):
        raise AssertionError("the session started before num_clusters was checked")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    indir = tmp_path / "chunks"
    _write_chunks(indir, [10], d=2)
    with pytest.raises(ValueError, match="n_clusters must be >= 1, got 0"):
        cli.run(str(indir), 0, str(tmp_path / "c.json"), str(tmp_path / "i.csv"))


@pytest.mark.parametrize("value", ["abc", "0"])
def test_get_spark_rejects_bad_cpus(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_CPUS must be a positive integer, got '{value}'"):
        session.get_spark("bad_cpus")


class _SessionConf(Exception):
    """Raised by a fake builder in place of starting Spark."""


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        raise _SessionConf


@pytest.mark.parametrize("value", [None, ""], ids=["unset", "empty"])
def test_get_spark_defaults_to_usable_cores(monkeypatch, value):
    """Without the knob the session is as wide as the cores this
    process may run on, not a fixed width."""
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", type("FakeSession", (), {"builder": builder}))
    with pytest.raises(_SessionConf):
        session.get_spark("default_cpus")
    cpus = len(os.sched_getaffinity(0))
    assert builder.conf["master"] == f"local[{cpus}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(cpus)
