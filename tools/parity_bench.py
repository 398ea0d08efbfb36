"""Reference-scale parity benchmark: BFR over 3M synthetic points
(the reference's README reports clustering 3M+ points at NMI 0.999
— ``/root/reference/README.md``).

Data is generated DISTRIBUTEDLY (features derived from id inside a
mapInPandas kernel — no driver-side materialization), then BFR runs
its 5-round chunk stream, timed by ``bench.time_key``: the fit, then
its full assignment written to the ``noop`` sink. The row count and
NMI are taken after the timed region.

Usage: python tools/parity_bench.py [n_points] [dims]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_key  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    d = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    k = 10

    from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig, nmi_score
    from bfr_clustering_using_pyspark_spark.session import get_spark

    spark = get_spark("parity_bench")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    rng = np.random.default_rng(4)
    centers = rng.normal(0, 20, (k, d))
    bc = spark.sparkContext.broadcast(centers)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            g = np.random.default_rng(ids[0] if len(ids) else 0)
            labels = ids % k
            x = bc.value[labels] + g.normal(0, 0.5, (len(ids), d))
            yield pd.DataFrame({"id": ids, "features": list(x), "label": labels})

    pts = (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, schema="id long, features array<double>, label long")
        .cache()
    )
    pts.count()

    bfr = BFR(BFRConfig(n_clusters=k, n_chunks=5))
    fitted = []

    def fit():
        fitted.append(bfr.fit(pts))
        return fitted[0]

    build_s, exec_s = time_key(fit)
    elapsed = build_s + exec_s
    assigned = fitted[0]
    nmi = nmi_score(assigned, pts.select("id", "label"))
    print(
        f"BFR {n:,} x {d}d on {spark.sparkContext.defaultParallelism} cpus: "
        f"{elapsed:.1f}s (fit {build_s:.1f}s + write {exec_s:.1f}s, "
        f"{n / elapsed:,.0f} pts/s), assigned={assigned.count()}, NMI={nmi:.4f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
