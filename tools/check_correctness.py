"""Local replica of the driver's correctness gate.

For each key in ``queries()``: run the Spark plan at the given
sf_dir, run the matching ``oracle_sql()`` through DuckDB over the
same parquet files, and compare row count, schema (column names), and
an order-insensitive value hash (columns sorted by name, rows sorted,
floats canonicalized).

Usage: python tools/check_correctness.py [--scalable] [sf_dir] [key_pattern ...]

``--scalable <sf_dir>`` is the sf sweep: every key at a larger scale,
with tools/scalable_oracles.py's scale-tractable oracle variants.

Key patterns are shell-style (``fnmatch``): ``'bfr_*'`` selects the
whole family, a plain name selects only itself.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import sys
import time

import duckdb


def canon(value):
    if value is None:
        return "\x00"
    if isinstance(value, float):
        if value != value:
            return "nan"
        if value == int(value) and abs(value) < 1e15:
            return str(int(value))
        # Full precision (shortest round-trip repr): the driver's hash
        # is bit-exact, so a lossy canon here (the old %.6g) passed
        # queries the driver failed (r4: q7/q9/merge/mv float-cents).
        return repr(value)
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def table_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = [a for a in sys.argv[1:] if a != "--scalable"]
    use_scalable = "--scalable" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from bfr_clustering_using_pyspark_spark.session import get_spark

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        # a Spark-written table is a DIRECTORY of part files (the
        # scaled sf1 corpus); the driver's testdata is a single file
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    scalable: dict = {}
    if use_scalable:
        # swap in the scale-tractable oracle variants (inverted-index
        # pair ground truth, union-find closure, numpy silhouette,
        # iterative seq_pack fold, large-regime IVF SQL) — see
        # tools/scalable_oracles.py
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from scalable_oracles import overrides

        scalable = overrides(sf_dir, con)
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        oracle = scalable.get(name, oracles.get(name))
        if oracle is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            if callable(oracle):
                dcols, drows = oracle(con)
                dtypes = []
            else:
                rel = con.sql(oracle)
                dcols = rel.columns
                dtypes = [str(t) for t in rel.types]
                drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        # The external driver fetches DuckDB results via pandas, where
        # HUGEINT (sum of integers) becomes float64 ("5.0" vs Spark's
        # "5") and DECIMAL/TIMESTAMP_NS render with extra precision.
        # fetchall() hides this, so lint the types explicitly.
        sus = [
            f"{c}:{t}"
            for c, t in zip(dcols, dtypes)
            if t in ("HUGEINT", "UHUGEINT", "TIMESTAMP_NS") or t.startswith("DECIMAL")
        ]
        if sus:
            problems.append(
                "driver-unsafe oracle output types (CAST them): " + ", ".join(sus)
            )
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs, hd = table_hash(scols, srows), table_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                for a, b in list(zip(sorted(map(str, srows)), sorted(map(str, drows))))[:3]:
                    if a != b:
                        problems.append(f"  spark={a}")
                        problems.append(f"  duck ={b}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]) + f" [{time.time()-t0:.1f}s]")
            for p in problems[1:]:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
