"""Sinks: partitioned/bucketed writers + the reference's output
formats.

At 100 TB the write path matters as much as the read path:
``write_partitioned`` lays data out for partition-pruned scans;
``write_bucketed`` pre-shuffles on the join key once so future
joins/aggs on that key are exchange-free.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    """Parquet partitioned by low-cardinality columns → partition
    pruning for every downstream query filtering on them."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 32,
                   mode: str = "overwrite") -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_col) at
    write time so joins/aggs on that key skip the shuffle."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def compact_parquet(spark, path: str, out_path: str, target_mb: int = 128) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target_mb. The small-files problem is the classic 100 TB
    operational failure mode (metadata pressure + tiny scans); this
    sizes output partitions from the actual input bytes. Returns the
    partition count used."""
    import math as _math

    df = spark.read.parquet(path)
    total_bytes = sum(
        f.stat().st_size
        for f in __import__("pathlib").Path(path).rglob("*.parquet")
    )
    n_parts = max(1, _math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df.repartition(n_parts).write.mode("overwrite").parquet(out_path)
    return n_parts


def write_cluster_map_json(assigned: DataFrame, path: str) -> int:
    """Reference ``cluster_out`` format (bfr.py:463-464): one JSON
    object mapping point-id string → cluster label, byte-identical to
    ``json.dump({str(id): int(cluster), ...})``, so a repeated id keeps
    its first position and its last label. Returns the number of
    distinct ids.

    The ``(id, cluster)`` columns reach the driver in one Arrow
    collect (``toArrow``, no per-row Python objects) and Arrow string
    kernels render them. Driver-side single-file write, as the
    reference does — this is the strict output CONTRACT face and
    inherits its scale ceiling from the contract itself (one JSON
    object cannot be sharded). For corpora where the map itself is
    big data, use ``write_cluster_map_jsonl`` — same information,
    distributed."""
    table = assigned.select("id", "cluster").toArrow()
    ids = table.column("id").to_numpy()
    clusters = table.column("cluster").to_numpy()
    uniq, first = np.unique(ids, return_index=True)
    if len(uniq) < len(ids):
        last = len(ids) - 1 - np.unique(ids[::-1], return_index=True)[1]
        order = np.argsort(first)
        ids, clusters = uniq[order], clusters[last[order]]
    entries = pc.binary_join_element_wise(
        '"', pc.cast(pa.array(ids), pa.string()), '": ', pc.cast(pa.array(clusters), pa.string()), ""
    )
    body = pc.binary_join(pa.ListArray.from_arrays([0, len(entries)], entries), ", ")[0].as_py()
    with open(path, "w") as f:
        f.write("{" + body + "}")
    return len(uniq)


def write_cluster_map_jsonl(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """The 100 TB face of the cluster map: executor-side JSONL shards
    of ``{"id": ..., "cluster": ...}`` rows — no row ever rides the
    driver. Downstream consumers stream-merge the shards (or read
    them straight back as a table); the single-object contract file
    remains available via ``write_cluster_map_json`` for
    reference-compatible tooling at contract scale."""
    assigned.select("id", "cluster").write.mode(mode).json(path)
