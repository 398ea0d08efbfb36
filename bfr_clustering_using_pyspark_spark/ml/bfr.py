"""Distributed BFR (Bradley–Fayyad–Reina) streaming clustering.

Parity target: the reference's ``Runner`` (``/root/reference/code/
bfr.py:191-468``) — Discard Sets / Compressed Sets / Retained Set
with N/SUM/SUMSQ sufficient statistics (``SummarizedSet``,
bfr.py:142-188), Mahalanobis assignment gated at α·√d
(``assign_to_ss``, bfr.py:363-374), RS re-clustering into CS
(``cluster_rs``, bfr.py:259-288), CS–CS merging (``merge_css``,
bfr.py:290-320) and a final CS/RS fold-in (``merge_into_ds``,
bfr.py:336-355).

Spark-first architecture (designed for 1000 executors / 100 TB):

- Driver state is the DS and CS summaries (O(k·d) floats, broadcast
  into every assignment pass), the retained set as two arrays
  (``rs_ids`` (n,), ``rs_pts`` (n, d); bounded by ``rs_max``, whose
  overflow triggers CS compression, per the algorithm) and one small
  table of provisional CS ids (``cs_ids``, O(#CS ever formed)). No
  driver structure holds the members of a CS: like the reference's
  ``SummarizedSet``, a CS is only its N/SUM/SUMSQ summary.
- A point that joins a CS is written with the other assignments under
  the CS's provisional label ``-2 - id``; the final CS → DS fold turns
  the id table into a literal id → DS-label array (``cs_labels``) that
  one narrow projection applies to the returned frame.
- Per-chunk assignment is one Arrow-batched ``mapInPandas`` pass —
  embarrassingly parallel, NumPy-vectorized Mahalanobis against all
  summaries at once.
- Sufficient-statistic updates are map-side partial aggregates: each
  Arrow batch emits one row per touched cluster (n, Σx, Σx²), so the
  driver collect is O(num_batches × k), independent of n. Every fold
  into a ``Summaries`` goes through ``Summaries.add_partials``.
- Each round's assignments are pinned once (an eager
  ``localCheckpoint``, or the round's parquet dir when the fit is given
  a ``run_dir``, the only case that writes files) and every fit ends
  in one union of the rounds and the driver-side tail.

The reference's fixed settings are module constants: ``ALPHA_DS``,
``ALPHA_FOLD``, ``INIT_OVERSAMPLE``, ``INIT_SAMPLE_FRAC``,
``INIT_SAMPLE_CAP``, ``RS_CLUSTER_FACTOR``, ``KMEANS_ITERATIONS`` and
``SEED``. ``BFRConfig`` keeps the cluster and chunk counts, the
``rs_max`` cap and the CS merge threshold.

Semantic divergence from the reference (deliberate, documented): the
reference updates summaries point-by-point WITHIN a chunk (bfr.py:
382-391), so a chunk's later points see slightly drifted centers.
The distributed formulation holds summaries fixed during a chunk and
folds in the partial sums afterwards — the textbook batch-BFR
semantics, and the only shuffle-free one.
"""

from __future__ import annotations

import json
import math
import os
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.errors import NumberFormatException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import json_literal_sql
from .local_kmeans import LocalKMeans

# state.json layout version; a checkpoint of another version is
# treated like a torn one (refit from scratch)
_CKPT_FORMAT = 2


@dataclass
class Summaries:
    """Sufficient statistics for a family of sets (DS or CS).

    Mirrors reference ``SummarizedSet`` (bfr.py:142-188) but stored
    columnar: counts (k,), sums (k,d), sqsums (k,d).
    """

    counts: np.ndarray
    sums: np.ndarray
    sqsums: np.ndarray

    @property
    def k(self) -> int:
        return len(self.counts)

    @property
    def centers(self) -> np.ndarray:
        return self.sums / np.maximum(self.counts[:, None], 1)

    @property
    def stds(self) -> np.ndarray:
        c = self.centers
        var = self.sqsums / np.maximum(self.counts[:, None], 1) - c**2
        return np.sqrt(np.maximum(var, 0.0))

    @classmethod
    def empty(cls, d: int, k: int = 0, dtype=np.float64) -> "Summaries":
        return cls(np.zeros(k, dtype=np.int64), np.zeros((k, d), dtype), np.zeros((k, d), dtype))

    @classmethod
    def from_points(cls, pts: np.ndarray, labels: np.ndarray, k: int) -> "Summaries":
        """Integer points give exact int64 moments; any other input
        float64."""
        d = pts.shape[1]
        dtype = np.int64 if pts.dtype.kind in "iu" else np.float64
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype)
        sqsums = np.zeros((k, d), dtype)
        for c in range(k):
            mask = labels == c
            counts[c] = mask.sum()
            if counts[c]:
                sums[c] = pts[mask].sum(axis=0)
                sqsums[c] = (pts[mask] ** 2).sum(axis=0)
        return cls(counts, sums, sqsums)

    def add_partials(self, cluster: np.ndarray, n: np.ndarray, s: np.ndarray, sq: np.ndarray) -> None:
        """Fold partial row r into set ``cluster[r]``, rows in order."""
        np.add.at(self.counts, cluster, n)
        np.add.at(self.sums, cluster, s)
        np.add.at(self.sqsums, cluster, sq)

    def add(self, other: "Summaries", at: np.ndarray) -> None:
        """Fold ``other``'s set r into set ``at[r]``, sets in order."""
        self.add_partials(at, other.counts, other.sums, other.sqsums)

    def append(self, other: "Summaries") -> None:
        self.counts = np.concatenate([self.counts, other.counts])
        self.sums = np.concatenate([self.sums, other.sums])
        self.sqsums = np.concatenate([self.sqsums, other.sqsums])

    def drop(self, idx: list[int]) -> None:
        keep = np.setdiff1d(np.arange(self.k), np.asarray(idx, dtype=int))
        self.counts = self.counts[keep]
        self.sums = self.sums[keep]
        self.sqsums = self.sqsums[keep]

    def to_dict(self) -> dict:
        return {"counts": self.counts.tolist(), "sums": self.sums.tolist(), "sqsums": self.sqsums.tolist()}

    @classmethod
    def from_dict(cls, obj: dict, d: int = -1) -> "Summaries":
        """Inverse of ``to_dict``; ``d`` is needed only when k == 0."""
        k = len(obj["counts"])
        return cls(
            np.asarray(obj["counts"], dtype=np.int64),
            np.asarray(obj["sums"], dtype=np.float64).reshape(k, d),
            np.asarray(obj["sqsums"], dtype=np.float64).reshape(k, d),
        )


def mahalanobis_to_all(pts: np.ndarray, centers: np.ndarray, stds: np.ndarray) -> np.ndarray:
    """(n, k) Mahalanobis distances; zero-σ dims contribute 0
    (reference ``Utils.mahalanobis_distance``, bfr.py:120-126)."""
    n, k = len(pts), len(centers)
    out = np.empty((n, k))
    inv = np.where(stds > 0, 1.0 / np.where(stds > 0, stds, 1.0), 0.0)
    for i in range(k):
        z = (pts - centers[i]) * inv[i]
        out[:, i] = np.einsum("nd,nd->n", z, z)
    return np.sqrt(out)


def nearest_summary(pts: np.ndarray, summ: Summaries, gate: float = np.inf) -> tuple[np.ndarray, np.ndarray]:
    """Each point's Mahalanobis-nearest set and whether it lies inside
    ``gate`` (the α·√d test of ``assign_to_ss``, bfr.py:363-374)."""
    dist = mahalanobis_to_all(pts, summ.centers, summ.stds)
    best = dist.argmin(axis=1)
    return best, dist[np.arange(len(pts)), best] < gate


class ChunkError(ValueError):
    """Malformed points in chunk ``chunk`` of a fit; ``d`` is the
    feature count the fit expects, once it is known."""

    def __init__(self, chunk: int, msg: str, d: int | None = None):
        super().__init__(msg)
        self.chunk = chunk
        self.d = d


@contextmanager
def _chunk_casts(chunk: int, d: int | None) -> Iterator[None]:
    """A Spark cast failure (a non-numeric id or feature value) while
    a fit reads chunk ``chunk`` raises ChunkError for that chunk."""
    try:
        yield
    except NumberFormatException as err:
        bad = (err.getMessageParameters() or {}).get("expression", "a value")
        raise ChunkError(chunk, f"bfr: {bad} in chunk {chunk} is not a number", d) from err


def _stack_features(features: pd.Series, d: int) -> tuple[np.ndarray | None, int, int]:
    """``(points, n_ragged, n_nonfinite)`` for a column of feature
    arrays: points is the (n, d) array, or None when rows do not all
    have ``d`` values. Those rows are counted only once the stack has
    failed, so well-formed input pays nothing extra."""
    try:
        pts = np.stack(features.to_numpy())
    except ValueError:
        n_ragged = int((features.map(len) != d).sum())
        if not n_ragged:
            raise
        return None, n_ragged, 0
    if pts.shape[1] != d:
        return None, len(pts), 0
    return pts, 0, int((~np.isfinite(pts)).sum())


def _require_valid(n_ragged: int, n_nonfinite: int, chunk: int, where: str, d: int) -> None:
    if n_ragged:
        raise ChunkError(chunk, f"bfr: {n_ragged} rows in {where} do not have d={d} feature values", d)
    if n_nonfinite:
        raise ChunkError(chunk, f"bfr: {n_nonfinite} non-finite feature values in {where}", d)


ALPHA_DS = 3.0  # ref assign_dsrsout alpha=3 (bfr.py:382)
ALPHA_FOLD = 4.0  # ref merge_into_ds alpha=4 (bfr.py:339)
INIT_OVERSAMPLE = 3  # ref init_sets: KMeans(3k) (bfr.py:400)
INIT_SAMPLE_FRAC = 0.2  # ref init_sets: 20% sample (bfr.py:396)
INIT_SAMPLE_CAP = 200_000  # driver-memory bound on the init sample
RS_CLUSTER_FACTOR = 5  # ref cluster_rs: KMeans(5k) (bfr.py:262)
KMEANS_ITERATIONS = 5  # ref HCluster(…, 5) everywhere
SEED = 42

# the retired BFRConfig fields an older saved model carries, each at
# the one value this module runs with
_RETIRED_CONFIG = dict(
    alpha_ds=ALPHA_DS, alpha_fold=ALPHA_FOLD, init_oversample=INIT_OVERSAMPLE,
    init_sample_frac=INIT_SAMPLE_FRAC, init_sample_cap=INIT_SAMPLE_CAP,
    rs_cluster_factor=RS_CLUSTER_FACTOR, kmeans_iterations=KMEANS_ITERATIONS, seed=SEED, use_cs=True,
)


@dataclass
class BFRConfig:
    n_clusters: int
    n_chunks: int = 5
    rs_max: int = 50_000  # RS pool size triggering CS compression
    cs_merge_threshold: float = 3.0  # ref merge_css: < 3·√d (bfr.py:309)

    def __post_init__(self):
        for name in ("n_clusters", "n_chunks"):
            if getattr(self, name) < 1:
                raise ValueError(f"BFRConfig.{name} must be >= 1, got {getattr(self, name)}")


@dataclass
class RoundStats:
    """Reference's intermediate CSV row (bfr.py:196-198, 453-460)."""

    round_id: int
    nof_cluster_discard: int
    nof_point_discard: int
    nof_cluster_compression: int
    nof_point_compression: int
    nof_point_retained: int


class BFR:
    def __init__(self, config: BFRConfig):
        self.cfg = config
        self.ds: Summaries | None = None
        self.cs: Summaries | None = None
        # provisional ids each CS has absorbed, its own first; a point
        # that joins CS j is labelled -2 - cs_ids[j][0] until the final
        # fold resolves it through cs_labels (provisional id → DS label)
        self.cs_ids: list[list[int]] = []
        self.cs_labels = np.zeros(0, dtype=np.int64)
        self.rs_ids = np.zeros(0, dtype=np.int64)
        self.rs_pts = np.zeros((0, 0))
        self.round_stats: list[RoundStats] = []
        self._n_discard_points = 0

    # ---------- distributed kernels ----------

    # fused-kernel row types: assignment (DS label or provisional CS
    # label), DS/CS partial sufficient stats, RS point, count of
    # non-finite feature values / of rows without d values in a batch
    _RT_ASSIGN, _RT_P_DS, _RT_P_CS, _RT_RS, _RT_NONFINITE, _RT_RAGGED = -1, 0, 1, 2, 3, 4
    _FUSED_SCHEMA = (
        "rtype int, label long, n long, sums array<double>, "
        "sqsums array<double>, id long, features array<double>"
    )

    def _assign_kernel(self, d: int):
        """Fused mapInPandas kernel: assign each point against the
        broadcast DS/CS summaries AND emit per-batch feedback in the
        same pass — assignments (id, label; features dropped),
        map-side partial N/Σ/Σ² rows and RS points (the only rows that
        carry features back out). One Arrow transfer per chunk instead
        of two."""
        cls = type(self)
        ds = self.ds
        cs = self.cs if self.cs.k else None
        cs_label = -2 - np.asarray([ids[0] for ids in self.cs_ids], dtype=np.int64)
        gate = ALPHA_DS * math.sqrt(d)

        def rows(rtype: int, **cols) -> pd.DataFrame:
            return pd.DataFrame(
                {"rtype": rtype, "label": None, "n": None, "sums": None,
                 "sqsums": None, "id": None, "features": None, **cols}
            )

        def partial_rows(pts: np.ndarray, labels: np.ndarray, k: int, rtype: int) -> pd.DataFrame:
            s = Summaries.from_points(pts, labels, k)
            hit = np.flatnonzero(s.counts)
            return rows(rtype, label=hit.astype(np.int64), n=s.counts[hit],
                        sums=s.sums[hit].tolist(), sqsums=s.sqsums[hit].tolist())

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                pts, n_ragged, n_bad = _stack_features(pdf["features"], d)
                if n_ragged or n_bad:
                    yield rows(cls._RT_RAGGED if n_ragged else cls._RT_NONFINITE, n=[n_ragged or n_bad])
                    continue
                ids = pdf["id"].to_numpy().astype(np.int64)
                best, in_ds = nearest_summary(pts, ds, gate)
                in_cs = np.zeros_like(in_ds)
                if cs is not None and not in_ds.all():
                    rest = ~in_ds
                    best[rest], in_cs[rest] = nearest_summary(pts[rest], cs, gate)

                out = []
                hit = in_ds | in_cs
                if hit.any():
                    label = best.copy()
                    label[in_cs] = cs_label[best[in_cs]]
                    out.append(rows(cls._RT_ASSIGN, label=label[hit], id=ids[hit]))
                if in_ds.any():
                    out.append(partial_rows(pts[in_ds], best[in_ds], ds.k, cls._RT_P_DS))
                if in_cs.any():
                    out.append(partial_rows(pts[in_cs], best[in_cs], cs.k, cls._RT_P_CS))
                if not hit.all():
                    out.append(rows(cls._RT_RS, id=ids[~hit], features=pd.Series(list(pts[~hit]))))
                yield pd.concat(out, ignore_index=True)

        return fn

    def _apply_feedback(self, fb: pd.DataFrame) -> None:
        """Fold one chunk's collected feedback into driver state."""

        def fold(rtype: int, summaries: Summaries) -> int:
            rows = fb[fb["rtype"] == rtype]
            if len(rows):
                summaries.add_partials(
                    rows["label"].to_numpy().astype(np.int64),
                    rows["n"].to_numpy().astype(np.int64),
                    np.stack(rows["sums"].to_numpy()),
                    np.stack(rows["sqsums"].to_numpy()),
                )
            return int(rows["n"].sum())

        self._n_discard_points += fold(self._RT_P_DS, self.ds)
        fold(self._RT_P_CS, self.cs)
        # id order, not partition order: RS order feeds the CS k-means
        rs = fb[fb["rtype"] == self._RT_RS].sort_values("id")
        if len(rs):
            self.rs_ids = np.concatenate([self.rs_ids, rs["id"].to_numpy().astype(np.int64)])
            self.rs_pts = np.concatenate([self.rs_pts, np.stack(rs["features"].to_numpy())])

    # ---------- driver-side (bounded) steps ----------

    def _init_from_sample(self, ids: np.ndarray, pts: np.ndarray) -> pd.DataFrame:
        """Reference ``init_sets`` (bfr.py:393-429): oversampled
        k-means → singleton clusters to RS → k-means(k) on inliers →
        DS. Returns the sample's (id, cluster) assignments."""
        cfg = self.cfg
        k1 = min(cfg.n_clusters * INIT_OVERSAMPLE, max(len(pts) // 2, 1))
        km1 = LocalKMeans(k1, KMEANS_ITERATIONS, SEED).fit(pts)
        sizes = np.bincount(km1.labels, minlength=k1)
        is_outlier = sizes[km1.labels] == 1
        if (~is_outlier).sum() < cfg.n_clusters:
            # degenerate tiny sample: keep everything as inlier
            is_outlier = np.zeros(len(pts), bool)

        self.rs_ids, self.rs_pts = ids[is_outlier].astype(np.int64), pts[is_outlier]
        self.cs, self.cs_ids, self.cs_labels = Summaries.empty(pts.shape[1]), [], np.zeros(0, dtype=np.int64)

        in_ids, in_pts = ids[~is_outlier], pts[~is_outlier]
        km2 = LocalKMeans(cfg.n_clusters, KMEANS_ITERATIONS, SEED).fit(in_pts)
        self.ds = Summaries.from_points(in_pts, km2.labels, cfg.n_clusters)
        self._n_discard_points += len(in_ids)
        return pd.DataFrame({"id": in_ids, "cluster": km2.labels.astype(np.int64)})

    def _compress_rs(self) -> pd.DataFrame:
        """Reference ``cluster_rs`` (bfr.py:259-288): cluster the RS
        pool with 5k clusters; singletons stay RS, the rest become
        CS; then merge close CS (``merge_css``). Returns the new CS
        members under their provisional labels."""
        k = min(self.cfg.n_clusters * RS_CLUSTER_FACTOR, len(self.rs_ids))
        km = LocalKMeans(k, KMEANS_ITERATIONS, SEED).fit(self.rs_pts)
        sizes = np.bincount(km.labels, minlength=k)
        to_cs = sizes[km.labels] > 1
        n_new = int((sizes > 1).sum())
        # k-means label → index among the new CS
        labels = (np.cumsum(sizes > 1) - 1)[km.labels[to_cs]]
        first_id = sum(map(len, self.cs_ids))
        members = pd.DataFrame({"id": self.rs_ids[to_cs], "cluster": -2 - first_id - labels})
        if n_new:
            self.cs.append(Summaries.from_points(self.rs_pts[to_cs], labels, n_new))
            self.cs_ids += [[first_id + j] for j in range(n_new)]
            self._merge_css()
        self.rs_ids, self.rs_pts = self.rs_ids[~to_cs], self.rs_pts[~to_cs]
        return members

    def _merge_css(self) -> None:
        """Reference ``merge_css`` (bfr.py:290-320): greedily merge
        CS pairs with center-to-center Mahalanobis < 3·√d."""
        d = self.cs.sums.shape[1]
        thresh = self.cfg.cs_merge_threshold * math.sqrt(d)
        merged = True
        while merged and self.cs.k > 1:
            merged = False
            centers, stds = self.cs.centers, self.cs.stds
            for j in range(self.cs.k):
                dist = mahalanobis_to_all(centers, centers[j : j + 1], stds[j : j + 1])[:, 0]
                dist[j] = np.inf
                i = int(dist.argmin())
                if dist[i] < thresh:
                    # fold j into i; i keeps its provisional ids and gains j's
                    self.cs.add_partials([i], self.cs.counts[[j]], self.cs.sums[[j]], self.cs.sqsums[[j]])
                    self.cs.drop([j])
                    self.cs_ids[i].extend(self.cs_ids[j])
                    del self.cs_ids[j]
                    merged = True
                    break

    def _fold_rs_into_ds(self, alpha: float) -> pd.DataFrame:
        """Reference ``int_rs_to_ds``/``merge_into_ds`` RS part
        (bfr.py:322-334, 336-346): assign RS points to DS within
        α·√d; unassigned stay (or become -1 at the end)."""
        d = self.ds.sums.shape[1]
        best, ok = nearest_summary(self.rs_pts, self.ds, alpha * math.sqrt(d))
        if ok.any():
            self.ds.add(Summaries.from_points(self.rs_pts[ok], best[ok], self.ds.k), np.arange(self.ds.k))
            self._n_discard_points += int(ok.sum())
        out = pd.DataFrame({"id": self.rs_ids[ok], "cluster": best[ok].astype(np.int64)})
        self.rs_ids, self.rs_pts = self.rs_ids[~ok], self.rs_pts[~ok]
        return out

    def _fold_cs_into_ds(self) -> None:
        """Reference ``merge_into_ds`` CS part (bfr.py:348-355):
        every CS joins its nearest DS unconditionally (α→∞), and every
        provisional id the CS absorbed resolves to that DS label."""
        best, _ = nearest_summary(self.cs.centers, self.ds)
        self.ds.add(self.cs, best)
        self._n_discard_points += int(self.cs.counts.sum())
        self.cs_labels = np.zeros(sum(map(len, self.cs_ids)), dtype=np.int64)
        for j, ids in enumerate(self.cs_ids):
            self.cs_labels[ids] = best[j]
        self.cs, self.cs_ids = Summaries.empty(self.ds.sums.shape[1]), []

    def _record_round(self, round_id: int) -> None:
        self.round_stats.append(
            RoundStats(
                round_id=round_id,
                nof_cluster_discard=self.cfg.n_clusters,
                nof_point_discard=self._n_discard_points,
                nof_cluster_compression=self.cs.k,
                nof_point_compression=int(self.cs.counts.sum()),
                nof_point_retained=len(self.rs_ids),
            )
        )

    # ---------- mid-stream checkpoint / resume ----------
    #
    # The reference Runner has no restartability: a crash at chunk 24
    # of 500 restarts the whole fit. At 100 TB that is the difference
    # between a re-queued task and a lost day, so every round ends by
    # checkpointing the COMPLETE mutable state (O(k·d) summaries, the
    # CS id table, the rs_max-bounded retained set and the driver-side
    # assignment tail) to ``{run_dir}/state.json`` — written AFTER
    # the round's distributed assignment write, atomically
    # (tmp + os.replace). Per-round assignments go to their own
    # subdirectory with overwrite semantics, so re-running an
    # interrupted round is idempotent: resume(chunk r) produces
    # bit-identical output whether or not the crash happened mid-
    # write. All randomness is freshly seeded per call (SEED), so
    # a resumed fit is deterministic.

    def _ckpt_write(self, run_dir: str, next_round: int, tail: list[pd.DataFrame], meta: dict) -> None:
        """Durable checkpoint: snapshot the state SYNCHRONOUSLY (the
        payload is an independent copy — tolist()/vars() detach it
        from the live arrays), then do the file IO on a background
        thread so the ~60 ms of json+fsync overlaps the next round's
        Spark jobs instead of sitting between them. Ordering is kept
        by joining the previous writer before starting a new one, so
        state.json is always the LATEST completed round. The write is
        crash-safe: fsync(tmp) → os.replace → fsync(dir) — a torn or
        empty state.json cannot survive a power loss (r11 ADVICE)."""
        import threading

        payload = {
            "format": _CKPT_FORMAT,
            "next_round": next_round,
            # provenance (r11 ADVICE): resuming with a different
            # chunking/corpus must fail loudly, not skip rounds that
            # never ran for this data
            "meta": meta,
            "ds": self.ds.to_dict(),
            "cs": self.cs.to_dict(),
            "cs_ids": [list(m) for m in self.cs_ids],
            "cs_labels": self.cs_labels.tolist(),
            "rs_ids": self.rs_ids.tolist(),
            "rs_pts": self.rs_pts.tolist(),
            "n_discard_points": int(self._n_discard_points),
            "round_stats": [vars(r) for r in self.round_stats],
            "tail": [
                {"id": df["id"].astype("int64").tolist(),
                 "cluster": df["cluster"].astype("int64").tolist()}
                for df in tail
                if len(df)
            ],
        }

        err: list[BaseException] = []

        def _io() -> None:
            try:
                tmp = os.path.join(run_dir, f"state.json.tmp-{os.getpid()}")
                with open(tmp, "w") as fh:
                    json.dump(payload, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(tmp, os.path.join(run_dir, "state.json"))
                dfd = os.open(run_dir, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except BaseException as e:  # noqa: BLE001 — re-raised at join
                err.append(e)

        self._ckpt_join()
        self._ckpt_thread = threading.Thread(target=_io, name="bfr-ckpt")
        self._ckpt_err = err
        self._ckpt_thread.start()

    def _ckpt_join(self) -> None:
        """Wait for the in-flight checkpoint write; a failed write
        must surface HERE (silently losing durability would defeat
        the checkpoint), at the next round boundary or fit end."""
        t = getattr(self, "_ckpt_thread", None)
        if t is not None:
            t.join()
            self._ckpt_thread = None
            err = getattr(self, "_ckpt_err", [])
            if err:
                self._ckpt_err = []
                raise RuntimeError("bfr checkpoint write failed") from err[0]

    def _ckpt_load(self, run_dir: str, expect_meta: dict) -> tuple[int, list[pd.DataFrame]] | None:
        path = os.path.join(run_dir, "state.json")
        if not os.path.exists(path):
            return None
        try:
            with open(path) as fh:
                payload = json.load(fh)
            if not isinstance(payload, dict) or payload.get("format") != _CKPT_FORMAT:
                raise ValueError(f"not a format-{_CKPT_FORMAT} checkpoint")
        except (ValueError, OSError) as e:
            # a torn checkpoint (pre-fsync crash on old builds, disk
            # fault) or one written in an older layout must not block
            # the resume the feature exists for: fall back to a
            # from-scratch fit
            print(f"bfr: unreadable checkpoint {path} ({e}); refitting from scratch")
            return None
        got = payload.get("meta", {})
        bad = {
            k: (got.get(k), v)
            for k, v in expect_meta.items()
            if got.get(k) is not None and got.get(k) != v
        }
        if bad:
            raise ValueError(
                f"bfr resume provenance mismatch in {path}: "
                + ", ".join(
                    f"{k}: checkpoint={a} vs this fit={b}"
                    for k, (a, b) in bad.items()
                )
                + " — resuming would skip rounds that never ran for this "
                "data. Use a fresh run_dir (or resume=False)."
            )

        self.ds = Summaries.from_dict(payload["ds"])
        d = self.ds.sums.shape[1]
        self.cs = Summaries.from_dict(payload["cs"], d)
        self.cs_ids = payload["cs_ids"]
        self.cs_labels = np.asarray(payload["cs_labels"], dtype=np.int64)
        self.rs_ids = np.asarray(payload["rs_ids"], dtype=np.int64)
        self.rs_pts = np.asarray(payload["rs_pts"], dtype=np.float64).reshape(-1, d)
        self._n_discard_points = int(payload["n_discard_points"])
        self.round_stats = [RoundStats(**r) for r in payload["round_stats"]]
        tail = [
            pd.DataFrame({"id": t["id"], "cluster": t["cluster"]})
            for t in payload["tail"]
        ]
        return int(payload["next_round"]), tail

    # ---------- main entry ----------

    def fit(self, points: DataFrame, run_dir: str | None = None, resume: bool = False) -> DataFrame:
        """Cluster (id: long, features: array<double>) → (id, cluster).

        Chunks by contiguous id ranges (the distributed analogue of
        the reference's sorted chunk files, bfr.py:431-437); parquet
        row-group pruning makes each chunk scan cheap when the data
        is id-sorted.
        """
        cfg = self.cfg
        # one job probes range, count and d, so fit_stream skips its
        # chunk-0 probe
        lo, hi, n_total, d = points.agg(
            F.min("id"), F.max("id"), F.count("*"), F.first(F.size("features"))
        ).collect()[0]
        bounds = np.linspace(lo, hi + 1, cfg.n_chunks + 1).astype(np.int64)
        chunks = [
            points.filter(
                (F.col("id") >= int(bounds[i])) & (F.col("id") < int(bounds[i + 1]))
            )
            for i in range(cfg.n_chunks)
        ]
        return self.fit_stream(
            chunks,
            run_dir=run_dir,
            approx_chunk_n=n_total / cfg.n_chunks,
            resume=resume,
            # cheap corpus fingerprint for resume provenance: id range
            # + row count pins the dataset identity without a scan
            corpus_fp=[int(lo), int(hi), int(n_total)],
            d=int(d),
        )

    def fit_stream(
        self,
        chunks: list[DataFrame],
        run_dir: str | None = None,
        approx_chunk_n: float | None = None,
        resume: bool = False,
        corpus_fp: list[int] | None = None,
        d: int | None = None,
    ) -> DataFrame:
        """Run BFR over an explicit sequence of point-chunk
        DataFrames — the exact shape of the reference's sorted
        chunk-file loop (``Runner.run``, bfr.py:431-451), one round
        per chunk. With ``resume=True`` and a ``state.json`` present
        in ``run_dir``, completed rounds are skipped and the fit
        continues from the first unfinished chunk (see the
        checkpoint/resume contract above). A non-finite feature
        value, a row without ``d`` values, or an id or feature that is not
        a number raises ``ChunkError`` (a ``ValueError``) naming the
        chunk, and so does an empty chunk 0. Only a fit given a
        ``run_dir`` writes files; ``resume`` needs one."""
        cfg = self.cfg
        spark = chunks[0].sparkSession
        if resume and run_dir is None:
            raise ValueError("bfr: resume=True needs the run_dir of the fit to resume")
        if d is None or approx_chunk_n is None:
            # one job: chunk 0's size sizes the init sample, and size()
            # is constant across rows, so first() is value-deterministic
            with _chunk_casts(0, d):
                n0, d0 = chunks[0].agg(F.count("*"), F.first(F.size("features"))).collect()[0]
            if not n0:
                raise ChunkError(0, "bfr: chunk 0 has no points", d)
            d = d0 if d is None else d
            approx_chunk_n = n0 if approx_chunk_n is None else approx_chunk_n

        n_chunks = len(chunks)
        round_paths = [f"{run_dir}/assignments/round_{r:05d}" for r in range(n_chunks)]
        ckpt_meta = {"n_chunks": n_chunks, "d": d, "corpus_fp": corpus_fp}
        driver_assignments: list[pd.DataFrame] = []
        rounds: list[DataFrame] = []
        start_round = 0
        if resume:
            restored = self._ckpt_load(run_dir, ckpt_meta)
            if restored is not None:
                start_round, driver_assignments = restored
        for round_id, chunk in enumerate(chunks):
            if round_id < start_round:
                continue
            with _chunk_casts(round_id, d):
                if round_id == 0:
                    chunk_n = max(approx_chunk_n, 1)
                    # at least ~50 points per target cluster for a sane
                    # init, bounded by the driver-memory cap
                    min_frac = min(1.0, 50.0 * cfg.n_clusters / chunk_n)
                    frac = min(max(INIT_SAMPLE_FRAC, min_frac), 1.0, INIT_SAMPLE_CAP / chunk_n)
                    # a seeded hash of the id decides membership, so the
                    # sample (sorted by id) is the same however the chunk
                    # is partitioned — a chunk.sample draw is not
                    in_sample = F.pmod(F.xxhash64("id", F.lit(SEED)), F.lit(10**6)) < round(
                        frac * 10**6
                    )
                    sample = (
                        chunk.filter(in_sample).select("id", "features").toPandas()
                        .sort_values("id", ignore_index=True)
                    )
                    ids = sample["id"].to_numpy()
                    pts, n_ragged, n_bad = _stack_features(sample["features"], d)
                    _require_valid(n_ragged, n_bad, 0, "chunk 0's init sample", d)
                    driver_assignments.append(self._init_from_sample(ids, pts))
                    # the non-sampled remainder of chunk 0 goes through
                    # the normal assignment path (ref assign_dsrsout on
                    # points_rest, bfr.py:429)
                    chunk = chunk.filter(~in_sample)

                fused = chunk.mapInPandas(self._assign_kernel(d), schema=self._FUSED_SCHEMA).persist()
                try:
                    asg = fused.filter(F.col("rtype") == self._RT_ASSIGN).select(
                        "id", F.col("label").alias("cluster")
                    )
                    if run_dir is not None:
                        # job 1: distributed write of the assignments — one
                        # subdirectory per round, OVERWRITE, so a resumed
                        # re-run of an interrupted round is idempotent
                        asg.write.mode("overwrite").parquet(round_paths[round_id])
                    else:
                        # nothing can resume without a run_dir, so pin the
                        # round in the executor block store (MEMORY_AND_DISK):
                        # ~0.15 s less fixed cost per round than a parquet commit
                        rounds.append(asg.localCheckpoint(eager=True))
                    # job 2: tiny driver-bound feedback collect (partials,
                    # RS points, bad-input counts)
                    fb = fused.filter(F.col("rtype") != self._RT_ASSIGN).toPandas()
                finally:
                    fused.unpersist()

            def n_of(rtype: int) -> int:
                return int(fb.loc[fb["rtype"] == rtype, "n"].sum())

            _require_valid(n_of(self._RT_RAGGED), n_of(self._RT_NONFINITE), round_id, f"chunk {round_id}", d)
            self._apply_feedback(fb)

            last = round_id == n_chunks - 1
            if not last and len(self.rs_ids) > cfg.rs_max:
                driver_assignments.append(self._compress_rs())
            driver_assignments.append(self._fold_rs_into_ds(ALPHA_FOLD))
            if last:
                # final round: the rest of RS → -1; CS → nearest DS
                driver_assignments.append(pd.DataFrame({"id": self.rs_ids, "cluster": -1}))
                self.rs_ids, self.rs_pts = self.rs_ids[:0], self.rs_pts[:0]
                self._fold_cs_into_ds()
            self._record_round(round_id + 1)
            # the round is durable (assignments written) — checkpoint
            # the complete mutable state so a crash before the next
            # round's write resumes HERE (IO overlaps the next round)
            if run_dir is not None:
                self._ckpt_write(run_dir, round_id + 1, driver_assignments, ckpt_meta)
        self._ckpt_join()

        if run_dir is not None:
            # this fit's rounds by name: round dirs a longer earlier fit
            # left in the same run_dir are never read
            rounds = [spark.read.parquet(*round_paths)]
        tail = [df for df in driver_assignments if len(df)]
        if tail:
            rounds.append(spark.createDataFrame(pd.concat(tail, ignore_index=True).astype("int64")))
        out = reduce(DataFrame.unionByName, rounds)
        if not len(self.cs_labels):
            return out
        # provisional CS label -2 - p → the DS label CS id p folded
        # into: one narrow projection over a literal array (one
        # constant-folded from_json node), no join, no shuffle
        c = F.col("cluster")
        lut = F.expr(json_literal_sql(self.cs_labels.tolist(), "array<bigint>"))
        resolved = F.when(c <= -2, F.element_at(lut, (-1 - c).cast("int"))).otherwise(c)
        return out.select("id", resolved.alias("cluster"))

    def intermediate_stats(self) -> pd.DataFrame:
        """Reference's intermediate CSV (bfr.py:453-460)."""
        return pd.DataFrame([vars(r) for r in self.round_stats])

    # ---------- inference / persistence ----------

    def predict(self, points: DataFrame, alpha: float | None = None) -> DataFrame:
        """Assign new points against the FROZEN fitted summaries
        (no state update) — the inference face of the model. With
        ``alpha`` set, points outside every α·√d gate get cluster -1;
        with the default None every point hard-assigns to its nearest
        DS. One broadcast + one map pass, no shuffle."""
        if self.ds is None:
            raise ValueError("predict() requires a fitted model")
        ds = self.ds
        gate = np.inf if alpha is None else alpha * math.sqrt(ds.sums.shape[1])

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                best, ok = nearest_summary(np.stack(pdf["features"].to_numpy()), ds, gate)
                if alpha is not None:
                    best = np.where(ok, best, -1)
                yield pd.DataFrame({"id": pdf["id"], "cluster": best.astype(np.int64)})

        return points.select("id", "features").mapInPandas(fn, schema="id long, cluster long")

    def save(self, path: str) -> None:
        """Persist the fitted DS summaries + config as JSON (state is
        O(k·d) — a driver-side file is the right representation)."""
        if self.ds is None:
            raise ValueError("save() requires a fitted model")
        payload = {
            "config": vars(self.cfg),
            **self.ds.to_dict(),
            "round_stats": [vars(r) for r in self.round_stats],
        }
        with open(path, "w") as f:
            json.dump(payload, f)

    @classmethod
    def load(cls, path: str) -> "BFR":
        with open(path) as f:
            payload = json.load(f)
        config = dict(payload["config"])
        for key, value in _RETIRED_CONFIG.items():
            if key in config and config.pop(key) != value:
                raise ValueError(f"BFR.load: {path} sets retired {key}; only {key}={value} is supported")
        model = cls(BFRConfig(**config))
        model.ds = Summaries.from_dict(payload)
        model.round_stats = [RoundStats(**r) for r in payload["round_stats"]]
        return model
