"""spark-submit entrypoint with the reference's exact CLI contract.

Reference usage (``/root/reference/code/sh_commands:1``)::

    spark-submit code/bfr.py <input_path> <num_clusters> \\
        <cluster_out> <intermediate_out>

Ours::

    spark-submit -m bfr_clustering_using_pyspark_spark.cli \\
        <input_path> <num_clusters> <cluster_out> <intermediate_out>
    # or: python -m bfr_clustering_using_pyspark_spark.cli ...

``input_path`` is a directory of chunk files in the reference's
point format (``pidx,dim0,dim1,...`` CSV lines; reference
``Runner.load_points``, bfr.py:209-217), processed in sorted
filename order, one BFR round per file (reference ``Runner.run``,
bfr.py:431-451). Outputs match the reference byte-for-byte in shape:

- ``cluster_out``: JSON map point-id → cluster label (-1 = outlier)
  (reference bfr.py:463-464)
- ``intermediate_out``: CSV with header ``round_id,
  nof_cluster_discard, nof_point_discard, nof_cluster_compression,
  nof_point_compression, nof_point_retained`` (bfr.py:196-198,
  465-468)
"""

from __future__ import annotations

import math
import os
import sys

from .ml.bfr import BFR, BFRConfig, ChunkError
from .session import get_spark
from .sources.readers import points_from_indexed_csv
from .sources.sinks import write_cluster_map_json


def _first_bad_line(path: str, d: int | None) -> str:
    """``"; first offending line N: '...'"`` for the first line of
    chunk file ``path`` that is not an integer id and ``d`` finite
    numbers (any count while ``d`` is unknown), else ``""``. Read only
    once a fit has failed on the file."""
    with open(path) as f:
        for no, line in enumerate(f, 1):
            pidx, *values = line.rstrip("\r\n").split(",")
            try:
                int(pidx)
                ok = all(math.isfinite(float(v)) for v in values)
            except ValueError:
                ok = False
            if not ok or (d is not None and len(values) != d):
                return f"; first offending line {no}: {line.rstrip()!r}"
    return ""


def run(input_path: str, num_clusters: int, cluster_out: str, intermediate_out: str) -> None:
    files = sorted(
        os.path.join(input_path, f) for f in os.listdir(input_path) if not f.startswith(".")
    )
    if not files:
        raise ValueError(f"{input_path}: no chunk files to cluster")
    # validated before the session starts
    bfr = BFR(BFRConfig(n_clusters=num_clusters, n_chunks=len(files)))
    spark = get_spark("bfr_cli")
    chunks = [points_from_indexed_csv(spark, f) for f in files]
    try:
        assigned = bfr.fit_stream(chunks)
    except ChunkError as err:
        path = files[err.chunk]
        raise ValueError(f"{path}: {err}{_first_bad_line(path, err.d)}") from err

    n_points = write_cluster_map_json(assigned, cluster_out)
    bfr.intermediate_stats().to_csv(intermediate_out, index=False)
    print(f"clustered {n_points} points into {num_clusters} clusters")


def main() -> None:
    if len(sys.argv) != 5:
        raise SystemExit(
            "usage: python -m bfr_clustering_using_pyspark_spark.cli "
            "<input_path> <num_clusters> <cluster_out> <intermediate_out>"
        )
    run(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4])


if __name__ == "__main__":
    main()
