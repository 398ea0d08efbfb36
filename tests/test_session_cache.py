"""The shared session cache and corpus freshness token
(functions/cache.py): an edit to the source table must rebuild every
tier that depends on it — the in-memory session entry and the on-disk
warehouse store — also for a directory-layout table whose own mtime
does not move, and the token must mean the same in every process so
the on-disk stores can key on it."""

import os
import shutil
import subprocess
import sys
from pathlib import Path

from bfr_clustering_using_pyspark_spark.functions.cache import corpus_version
from bfr_clustering_using_pyspark_spark.operators import dedup as D
from bfr_clustering_using_pyspark_spark.operators import similarity as S
from tests.conftest import SF_SMALL
from tests.test_minhash_store import _write_corpus, dedup_rows

_REPO = Path(__file__).resolve().parents[1]


def test_dir_corpus_part_rewrite_rebuilds_minhash(spark, tmp_path):
    """Rewrite a part file of a directory-layout documents table in
    place and put the directory's mtime back: the session entry and
    the minhash_sigs fixture must both rebuild (one kernel run), and
    the answer must be the new corpus's."""
    stage = tmp_path / "stage"
    stage.mkdir()
    sf = tmp_path / "sf_dir"
    table = sf / "documents.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    _write_corpus(stage, seed=11)
    shutil.copyfile(stage / "documents.parquet", part)

    c0 = D.MINHASH_BUILD_COUNT
    r1 = sorted(map(tuple, dedup_rows(spark, sf)))
    assert D.MINHASH_BUILD_COUNT == c0 + 1

    dir_st = os.stat(table)
    _write_corpus(stage, seed=12)
    shutil.copyfile(stage / "documents.parquet", part)  # in place
    os.utime(table, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(table).st_mtime_ns == dir_st.st_mtime_ns

    r2 = sorted(map(tuple, dedup_rows(spark, sf)))
    assert D.MINHASH_BUILD_COUNT == c0 + 2
    assert r2 != r1

    cold = tmp_path / "cold"
    cold.mkdir()
    shutil.copyfile(stage / "documents.parquet", cold / "documents.parquet")
    assert r2 == sorted(map(tuple, dedup_rows(spark, cold)))


def test_nnd_embeddings_edit_rebuilds_in_session(spark, tmp_path):
    """Editing the embeddings in the same session (no cache clear)
    must rebuild the graph, not serve the in-memory entry."""
    d = tmp_path / "corpus"
    d.mkdir()
    shutil.copy(f"{SF_SMALL}/embeddings.parquet", d / "embeddings.parquet")
    g1 = S._nnd_graph(spark, str(d))
    builds = S.NND_BUILD_COUNT
    assert S._nnd_graph(spark, str(d)) is g1  # unchanged data: session hit
    os.utime(d / "embeddings.parquet")
    S._nnd_graph(spark, str(d))
    assert S.NND_BUILD_COUNT == builds + 1


def test_corpus_version_is_process_independent(tmp_path):
    table = tmp_path / "t.parquet"
    (table / "sub").mkdir(parents=True)
    (table / "part-0.parquet").write_bytes(b"a")
    (table / "sub" / "part-1.parquet").write_bytes(b"bc")
    code = (
        "import sys\n"
        "from bfr_clustering_using_pyspark_spark.functions.cache import corpus_version\n"
        "print(corpus_version(sys.argv[1]))\n"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", code, str(table)],
            cwd=_REPO,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
            timeout=120,
        ).stdout.strip()
        for seed in ("1", "2")
    ]
    assert outs == [str(corpus_version(str(table)))] * 2

    plain = tmp_path / "plain.parquet"
    plain.write_bytes(b"x")
    assert corpus_version(str(plain)) == os.stat(plain).st_mtime_ns
