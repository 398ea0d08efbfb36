"""Seeded input generator for the benchmark.

Every input the benchmark hands to the program is made here, from the
seed alone: the same ``(kind, seed, scale)`` always writes the same
bytes, and a different seed writes different ones.

Kinds:

- ``cli``: the reference's point-chunk CSV directory (``pidx,dim0,...``,
  one file per BFR round) of 10-d Gaussian blobs (sigma 0.5, centres
  ~N(0, 20)). Chunk 0 holds 10 base blobs only; from
  chunk 1 on, 40% of each chunk comes from 40 blobs that are absent
  at init, so the retained set grows by 8k points a round until it
  passes the 50k ``rs_max`` and is compressed. Ground
  truth labels go to a separate parquet file next to the chunk dir.
- ``corpus``: a TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, in the same schema and
  value ranges as the registry's test corpus, at scale factor
  ``sf`` (lineitem has 6M x sf rows).

Staging runs as its own process (``python3 perfbench/gen.py``), so its
time and memory never mix with the measured driver process. Staged inputs are
cached under the work dir, keyed by kind, scale, seed and
``GEN_VERSION``, and written through a temp dir plus one rename so a
crashed stage never reads as complete.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GEN_VERSION = 2

# (cli points, corpus scale factor) per benchmark scale
SCALES = {
    "full": {"cli": 200_000, "sf": 0.1},
    "tiny": {"cli": 20_000, "sf": 0.001},
}

DIMS = 10
BASE_BLOBS = 10
NEW_BLOBS = 40
CLI_CHUNKS = 10
NEW_SHARE = 0.4  # share of each cli chunk (from chunk 1 on) from the new blobs

# staged input dirs kept per kind; older ones are evicted first
KEEP_PER_KIND = 3


def gen_cli(out: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 2])
    base = rng.normal(0.0, 20.0, size=(BASE_BLOBS, DIMS))
    new = rng.normal(0.0, 20.0, size=(NEW_BLOBS, DIMS))
    centres = np.vstack([base, new])
    per_chunk = n // CLI_CHUNKS
    chunk_dir = os.path.join(out, "chunks")
    os.makedirs(chunk_dir)
    ids_all, labels_all = [], []
    perm = rng.permutation(n).astype(np.int64)  # point ids, not in file order
    for c in range(CLI_CHUNKS):
        n_new = 0 if c == 0 else int(per_chunk * NEW_SHARE)
        labels = np.concatenate(
            [
                rng.integers(0, BASE_BLOBS, size=per_chunk - n_new),
                BASE_BLOBS + rng.integers(0, NEW_BLOBS, size=n_new),
            ]
        )
        rng.shuffle(labels)
        ids = np.sort(perm[c * per_chunk : (c + 1) * per_chunk])
        pts = centres[labels] + rng.normal(0.0, 0.5, size=(len(labels), DIMS))
        cols = {"pidx": pa.array(ids)}
        for j in range(DIMS):
            cols[f"dim{j}"] = pa.array(pts[:, j])
        pacsv.write_csv(
            pa.table(cols),
            os.path.join(chunk_dir, f"chunk_{c:03d}.csv"),
            write_options=pacsv.WriteOptions(include_header=False),
        )
        ids_all.append(ids)
        labels_all.append(labels)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(np.concatenate(ids_all)),
                "label": pa.array(np.concatenate(labels_all).astype(np.int32)),
            }
        ),
        os.path.join(out, "labels.parquet"),
    )


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    base = np.datetime64(lo, "D")
    d = rng.integers(0, (hi - lo).days + 1, size=n)
    return pa.array((base + d).astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_corpus(out: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), max(int(20_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "), noun[rng.integers(0, 7, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    # events: one month of time-ordered events with microsecond stamps
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word runs; 5% are "<earlier doc> dup"
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _LANGS[rng.choice(5, size=n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # embeddings: 10 labelled clusters on the unit sphere
    centres = rng.normal(0.0, 1.0, size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vec = centres[labels] + rng.normal(0.0, 1.2, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, vec.size + 1, 64, dtype=np.int32))
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vec.reshape(-1), type=pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


GENERATORS = {
    "cli": lambda out, seed, s: gen_cli(out, seed, s["cli"]),
    "corpus": lambda out, seed, s: gen_corpus(out, seed, s["sf"]),
}


def stage(root: str, kind: str, seed: int, scale: str) -> str:
    """Write the ``kind`` inputs for ``seed`` under ``root`` (a no-op
    when already staged) and return their directory."""
    out = os.path.join(root, f"{kind}-{scale}-s{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, SCALES[scale])
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(root, kind, keep=out)
    return out


def _evict(root: str, kind: str, keep: str) -> None:
    mine = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(f"{kind}-") and ".tmp-" not in d
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP_PER_KIND:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--root", required=True)
    p.add_argument("--kind", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", default="full", choices=sorted(SCALES))
    a = p.parse_args(argv)
    print(stage(a.root, a.kind, a.seed, a.scale))


if __name__ == "__main__":
    main(sys.argv[1:])
