"""Exact kNN similarity join (SURVEY.md §2.3 J1/J2) — the engine's core
custom operator, replacing the reference's driver-global KDTree/FAISS
indexes (blocking.py:62-76, 106-118). ``knn_join(strategy="auto")``
picks one of two distributed strategies by index size; both run the same
per-task Morton-block kernel (``_make_batch_searcher``):

- **broadcast**: when the index side fits in executor memory, its
  (id, vector) arrays are broadcast and each cands partition computes
  exact top-k against the full matrix. This is the Spark analog of
  "build one KDTree and query it".

- **range**: beyond ``conf.broadcast_index_max_rows`` index rows, dim-0
  quantiles cut the index into equal-depth slices (plus a halo of
  neighbour slices) that are cogrouped with the candidates, so the index
  never reaches the driver. Candidates whose kth-ball crosses their
  slice edge are finished in one broadcast pass over the index.

``strategy="grid"`` selects a JVM-only variant: cell-partitioned
neighbor-ring expansion (equi-join on integer grid cells, running top-k
per candidate via a rank window, retirement once the kth distance is
below the ring bound — proof in the ``knn_join_grid`` docstring).

All strategies return identical rows: (cand_id, index_id, rank, dist)
with rank 1..k ordered by (dist, index_id) — the deterministic tie-break
the oracle uses (SURVEY.md §4.4).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
import pyspark.sql.types as T

from ..config import DEFAULT_CONF, EngineConf

# dist is nullable ONLY because pyarrow's pandas->Arrow conversion encodes
# float NaN as Arrow NULL: the Python kernels never emit a true null, so
# every strategy coalesces null back to NaN right after its Arrow boundary
# (keeping parity with the JVM-expression strategies, where NaN flows
# through sqrt/agg natively and sorts LAST in ascending windows — a null
# would sort FIRST and corrupt the (dist, id) rank order).
KNN_SCHEMA = T.StructType(
    [
        T.StructField("cand_id", T.StringType(), False),
        T.StructField("index_id", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("dist", T.DoubleType(), True),
    ]
)
_NAN = float("nan")


def _dist_expr(a: str, b: str):
    """JVM-side euclidean distance between two array<double> columns —
    whole-stage-codegen friendly, no Python."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# --------------------------------------------------------------------------
# broadcast strategy
# --------------------------------------------------------------------------


def knn_join_broadcast(
    cands: DataFrame,
    index: DataFrame,
    k: int,
    id_col: str = "obj_id",
    features_col: str = "features",
    round_dists: int | None = 3,
) -> DataFrame:
    """Exact kNN with the index side broadcast to every task.

    The index is collected once and broadcast; each task builds one batch
    searcher over it (``_make_batch_searcher``: Z-curve-ordered blocks
    with per-dim bounding boxes, scanned closest-box-first with pruning
    against each query's running kth distance) and answers every Arrow
    batch through it. No |B|×|I| distance matrix is ever materialized.

    Ties: the searcher orders by (dist, id string) — identical to the
    oracle's ``sorted(..., key=(dist, id))``.
    """
    spark = cands.sparkSession
    idx_rows = index.select(id_col, features_col).collect()
    idx_ids = np.array([r[0] for r in idx_rows], dtype=object)
    idx_mat = np.array([r[1] for r in idx_rows], dtype=np.float64)
    if idx_mat.ndim == 1:
        idx_mat = idx_mat[:, None]
    bc = spark.sparkContext.broadcast((idx_ids, idx_mat))
    k_eff = min(k, len(idx_ids))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_i, mat_i = bc.value
        search_many = _make_batch_searcher(ids_i, mat_i, k_eff)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qall = np.array(list(pdf[features_col]), dtype=np.float64)
            if qall.ndim == 1:
                qall = qall[:, None]
            ids_col = pdf[id_col].to_numpy()
            res = search_many(qall)
            counts = np.array([len(r[0]) for r in res], dtype=np.int64)
            total = int(counts.sum())
            if total == 0:
                continue
            sel_ids = np.concatenate([r[0] for r in res])
            d_sel = np.concatenate([r[1] for r in res])
            offs = np.zeros(len(res), dtype=np.int64)
            np.cumsum(counts[:-1], out=offs[1:])
            ranks = (
                np.arange(1, total + 1, dtype=np.int64)
                - np.repeat(offs, counts)
            ).astype(np.int32)
            # python round, element-wise on purpose: np.round's scaled
            # multiply differs from the correctly-rounded python round in
            # ulp cases, and the emitted dists must stay bit-identical to
            # the other strategies (strategy-equality tests + oracles)
            if round_dists:
                out_d = [round(float(x), round_dists) for x in d_sel]
            else:
                out_d = d_sel
            yield pd.DataFrame(
                {
                    "cand_id": np.repeat(ids_col, counts),
                    "index_id": sel_ids,
                    "rank": ranks,
                    "dist": out_d,
                }
            )

    return (
        cands.select(id_col, features_col)
        .mapInPandas(kernel, schema=KNN_SCHEMA)
        # NaN crossed the Arrow boundary as null (see KNN_SCHEMA note)
        .withColumn("dist", F.coalesce(F.col("dist"), F.lit(_NAN)))
    )


def _morton_codes(mat: np.ndarray, lo: np.ndarray, span: np.ndarray) -> np.ndarray:
    """Z-order (Morton) code per row, interleaving the quantized dims.
    Quality-only: the searcher's box bounds are computed from the actual
    values, so a poor curve never affects correctness, only pruning."""
    ndim = mat.shape[1]
    nbits = max(1, min(10, 63 // ndim))
    qz = np.clip((mat - lo) / span * (2**nbits - 1), 0, 2**nbits - 1)
    # NaN coordinates are designed-for input (elongation is NaN for
    # degenerate meshes): give them an explicit lane (cell 0) instead of
    # relying on numpy's undefined NaN→uint cast. Curve placement is
    # quality-only — searcher box bounds come from the actual values.
    qz = np.where(np.isnan(qz), 0.0, qz).astype(np.uint32)
    out = np.zeros(len(mat), dtype=np.uint64)
    for b in range(nbits):
        for d in range(ndim):
            out |= (
                (qz[:, d].astype(np.uint64) >> np.uint64(b)) & np.uint64(1)
            ) << np.uint64(b * ndim + d)
    return out


class _Blocks(NamedTuple):
    """An index laid out for the searchers: rows ordered along a Z-curve
    and cut into ``chunk``-row blocks with per-dim bounding boxes."""

    mat: np.ndarray  # rows in curve order
    ids: np.ndarray  # original ids, curve order
    ids_str: np.ndarray  # ids as str: the (dist, id) tie-break key
    starts: np.ndarray  # block b covers rows starts[b]:ends[b]
    ends: np.ndarray
    cmin: np.ndarray  # (n_blocks, ndim) box corners
    cmax: np.ndarray
    chunk: int


def _morton_blocks(ids_i: np.ndarray, mat_i: np.ndarray, chunk: int) -> _Blocks:
    ids_i = np.asarray(ids_i, dtype=object)
    n_idx = len(ids_i)
    finite = mat_i[np.isfinite(mat_i).all(axis=1)]
    base = finite if len(finite) else mat_i
    lo_v = base.min(axis=0)
    hi_v = base.max(axis=0)
    span = np.where(hi_v > lo_v, hi_v - lo_v, 1.0)
    order0 = np.argsort(_morton_codes(mat_i, lo_v, span), kind="stable")
    mat_s = np.ascontiguousarray(mat_i[order0])
    ids_s = ids_i[order0]
    starts = np.arange(0, n_idx, chunk)
    return _Blocks(
        mat=mat_s,
        ids=ids_s,
        ids_str=ids_s.astype(str),
        starts=starts,
        ends=np.minimum(starts + chunk, n_idx),
        # fmin/fmax: a NaN coordinate must not poison its block's box
        cmin=np.fmin.reduceat(mat_s, starts, axis=0),
        cmax=np.fmax.reduceat(mat_s, starts, axis=0),
        chunk=chunk,
    )


def _make_local_searcher(
    ids_i: np.ndarray, mat_i: np.ndarray, k_eff: int, chunk: int = 128
):
    """Scalar Morton-box kNN kernel: ``search(qrow) -> (ids, dists)``, the
    exact (dist, id)-ordered top-k of one query. The batch searcher's
    differential twin (tests) and its fallback for non-finite kth."""
    return _block_searcher(_morton_blocks(ids_i, mat_i, chunk), k_eff)


def _block_searcher(blk: _Blocks, k_eff: int):
    """One query at a time over ``blk``: compute the box lower bound to
    every block in five vectorized ops, scan the closest block to seed
    the kth distance, then visit only blocks whose box bound ≤ kth (kth
    shrinks as blocks land). Replaced a dim-0 sorted-window kernel in
    round 4: at sf1 density the median query's 1-D window covered 2/3 of
    its slice (dim 0 alone barely prunes a dense 3-D blob), 1.17
    ms/query; tight 3-D boxes cut it to ~0.35. All decisions compare
    sqrt-space distances (monotonicity ⇒ never drops a tie); NaN
    coordinate rows get NaN distances and sort last; a NaN/short seed
    block falls back to scanning every surviving block (kth = inf).
    Per-searcher scratch buffers are preallocated — large fresh numpy
    temporaries page-fault brutally on memory-overcommitted hosts
    (BENCH.md round 2).
    """
    mat_s, ids_orig_s, ids_sort_s = blk.mat, blk.ids, blk.ids_str
    starts, ends, cmin, cmax = blk.starts, blk.ends, blk.cmin, blk.cmax
    n_chunks, ndim = cmin.shape
    g1 = np.empty((n_chunks, ndim))
    g2 = np.empty((n_chunks, ndim))
    lb_buf = np.empty(n_chunks)
    seg_buf = np.empty((blk.chunk, ndim))
    dsq_buf = np.empty(blk.chunk)

    def search(qrow):
        """Exact (dist, id) top-k of qrow against the local index."""
        np.subtract(cmin, qrow, out=g1)
        np.subtract(qrow, cmax, out=g2)
        np.maximum(g1, g2, out=g1)
        np.maximum(g1, 0.0, out=g1)
        np.einsum("cd,cd->c", g1, g1, out=lb_buf)
        lb = np.sqrt(lb_buf, out=lb_buf)
        seed = int(np.argmin(lb))
        s, e = int(starts[seed]), int(ends[seed])
        seg = np.subtract(mat_s[s:e], qrow, out=seg_buf[: e - s])
        d0 = np.sqrt(np.einsum("nd,nd->n", seg, seg, out=dsq_buf[: e - s]))
        if e - s >= k_eff:
            kth = np.partition(d0, k_eff - 1)[k_eff - 1]
            if np.isnan(kth):
                kth = np.inf
        else:
            kth = np.inf
        acc_d = [d0]
        acc_pos = [np.arange(s, e)]
        cnt = e - s
        # ~(lb > kth), NOT lb <= kth: a block whose rows are ALL NaN in
        # some dim has a NaN box bound, and `lb <= kth` would silently
        # skip it — its NaN rows belong in the tail of the (dist, id)
        # order whenever fewer than k_eff finite rows exist. NaN-lb
        # blocks sort last and never trigger the early break, so when
        # kth is finite they cost one wasted scan at most.
        surv = np.flatnonzero(~(lb > kth))
        surv = surv[surv != seed]
        if len(surv):
            for c in surv[np.argsort(lb[surv], kind="stable")]:
                if lb[c] > kth:
                    break
                s2, e2 = int(starts[c]), int(ends[c])
                seg = np.subtract(mat_s[s2:e2], qrow, out=seg_buf[: e2 - s2])
                d = np.sqrt(
                    np.einsum("nd,nd->n", seg, seg, out=dsq_buf[: e2 - s2])
                )
                if cnt >= k_eff and kth < np.inf:
                    keep = d <= kth
                    nk = int(np.count_nonzero(keep))
                    if nk:
                        acc_d.append(d[keep].copy())
                        acc_pos.append(np.flatnonzero(keep) + s2)
                        cnt += nk
                else:
                    # kth == inf means the pool is not yet full of FINITE
                    # distances: keep the whole block (NaN rows included),
                    # otherwise `d <= kth` would drop NaN candidates from
                    # later blocks while earlier blocks kept theirs — the
                    # NaN tail of the result would then depend on block
                    # visit order instead of the documented global
                    # (dist, id) tie order (NaN features are reachable:
                    # elongation is NaN for degenerate meshes).
                    acc_d.append(d.copy())
                    acc_pos.append(np.arange(s2, e2))
                    cnt += e2 - s2
                if cnt >= k_eff:
                    alld = np.concatenate(acc_d)
                    kth = np.partition(alld, k_eff - 1)[k_eff - 1]
                    if np.isnan(kth):
                        kth = np.inf
        d = np.concatenate(acc_d) if len(acc_d) > 1 else acc_d[0]
        pos = np.concatenate(acc_pos) if len(acc_pos) > 1 else acc_pos[0]
        m = min(k_eff, len(d))
        sel = np.lexsort((ids_sort_s[pos], d))[:m]
        return ids_orig_s[pos[sel]], d[sel]

    return search


_BATCH_SCRATCH_BYTES = 64 << 20
"""Budget for the batch searcher's three (QB, n_blocks) float64 buffers."""


def _query_block(n_chunks: int) -> int:
    """Queries per batch-searcher pass (``QB``): 2048, lowered so the three
    (QB, n_chunks) float64 scratch buffers fit ``_BATCH_SCRATCH_BYTES``
    however many blocks the index has, but never below 64."""
    return int(np.clip(_BATCH_SCRATCH_BYTES // (3 * 8 * n_chunks), 64, 2048))


def _make_batch_searcher(
    ids_i: np.ndarray, mat_i: np.ndarray, k_eff: int, chunk: int = 128
):
    """Batched variant of :func:`_make_local_searcher` over the same
    block layout — identical results (same per-pair distance arithmetic,
    same (dist, id-string) tie order), ~10x less per-query
    Python/numpy-dispatch overhead. Returns ``search_many(qmat)``.

    Queries run in input order, in chunks of ``QB`` rows
    (:func:`_query_block`: 2048 unless the index has more than ~1.4k
    blocks); one vectorized pass serves the whole chunk:

    - box lower bounds for all (query, block) pairs — elementwise
      identical to the scalar kernel's, and a PROVABLE lower bound in
      float (monotone subtract/square/sum/sqrt against the row
      arithmetic), so pruning never drops a true top-k member;
    - each query gets a visit list of its (up to) ``L`` = 24 smallest-bound
      blocks; lockstep rounds scan every active query's next block in
      one gather, merge the distances into a rolling k-smallest pool and
      stop a query once its next bound exceeds its kth;
    - final per-query selection by one global (query, dist, id-order)
      sort. Queries whose kth is still non-finite after two blocks (NaN
      coordinates, tiny index) or whose visit list runs out are redone
      by the scalar kernel over the same layout.

    The pool is a superset of the scalar kernel's, and top-k by
    (dist, id) from any superset that provably contains the true top-k
    is the true top-k — bit-identical ids AND distances.
    """
    blk = _morton_blocks(ids_i, mat_i, chunk)
    mat_s, ids_orig_s, ids_sort_s = blk.mat, blk.ids, blk.ids_str
    starts, ends, cmin, cmax = blk.starts, blk.ends, blk.cmin, blk.cmax
    n_idx = len(ids_orig_s)
    n_chunks, ndim = cmin.shape
    # string order as integer ranks: the global numeric selection sort
    # below replaces 1 python lexsort-with-str-keys per query. Among rows
    # with EQUAL (dist, id string) the rank picks an arbitrary one — the
    # emitted (id, dist) values are identical either way.
    id_rank = np.empty(n_idx, dtype=np.int64)
    id_rank[np.argsort(ids_sort_s, kind="stable")] = np.arange(n_idx)
    scalar_search = _block_searcher(blk, k_eff)

    # (C, chunk) gather matrix; short last block padded (pad rows masked)
    blk_mat = np.zeros((n_chunks, chunk), dtype=np.int64)
    blk_valid = np.zeros((n_chunks, chunk), dtype=bool)
    for c in range(n_chunks):
        s, e = int(starts[c]), int(ends[c])
        blk_mat[c, : e - s] = np.arange(s, e)
        blk_valid[c, : e - s] = True

    # preallocated per-searcher scratch, reused across query chunks: large
    # fresh numpy temporaries page-fault brutally on memory-overcommitted
    # hosts (BENCH.md round 2) — the whole hot path below writes into
    # these buffers
    QB = _query_block(n_chunks)
    L = min(24, n_chunks)
    _lb = np.empty((QB, n_chunks))
    _g1 = np.empty((QB, n_chunks))
    _g2 = np.empty((QB, n_chunks))
    _gath = np.empty((QB, chunk, ndim))
    _d = np.empty((QB, chunk))
    _dm = np.empty((QB, chunk))
    _merged = np.empty((QB, k_eff + chunk))

    def _run_chunk(Q: np.ndarray, base: int, results: list):
        nq = len(Q)
        # ---- per-(query, block) box lower bounds, dim-by-dim 2-D ops —
        # elementwise arithmetic identical to the scalar kernel's bound.
        # NaN lb (all-NaN box dim ⇒ every row's distance is NaN) → inf:
        # such blocks can never contribute to a finite-kth result, and
        # non-finite-kth queries take the scalar fallback below.
        lb = _lb[:nq]
        lb.fill(0.0)
        for dd in range(ndim):
            g1 = np.subtract(cmin[None, :, dd], Q[:, dd, None], out=_g1[:nq])
            g2 = np.subtract(Q[:, dd, None], cmax[None, :, dd], out=_g2[:nq])
            np.maximum(g1, g2, out=g1)
            np.maximum(g1, 0.0, out=g1)
            g1 *= g1
            lb += g1
        np.sqrt(lb, out=lb)
        # nan= only: the default would also flatten genuine ±inf bounds
        np.nan_to_num(lb, copy=False, nan=np.inf, posinf=np.inf, neginf=-np.inf)

        # ---- per-query visit list: the L smallest-lb blocks, sorted.
        # Blocks OUTSIDE the list have lb ≥ every listed lb, so pruning
        # decisions against the list head stay sound; the rare query that
        # exhausts its list falls back to the scalar kernel.
        if n_chunks > L:
            top_idx = np.argpartition(lb, L - 1, axis=1)[:, :L]
            top_lb = np.take_along_axis(lb, top_idx, axis=1)
        else:
            top_idx = np.broadcast_to(np.arange(n_chunks), (nq, n_chunks)).copy()
            top_lb = lb.copy()
        o2 = np.argsort(top_lb, axis=1, kind="stable")
        top_idx = np.take_along_axis(top_idx, o2, axis=1)
        top_lb = np.take_along_axis(top_lb, o2, axis=1)

        # ---- lockstep block scans: each round, every active query scans
        # the next block of its visit list (one vectorized gather across
        # the whole active set), merges the round's distances into its
        # rolling k-smallest pool (the pruning bound; only ever shrinks),
        # and emits candidate triples with d <= kth. A query deactivates
        # when its next block's lb > kth — lb is a provable float lower
        # bound (monotone subtract/square/sum/sqrt against the row
        # arithmetic), so no true top-k member is ever pruned, and every
        # keep-filter used a kth ≥ the final kth ≥ the true kth.
        kth = np.full(nq, np.inf)
        best = np.full((nq, k_eff), np.inf)
        active_idx = np.arange(nq)
        ptr = np.zeros(nq, dtype=np.int64)
        fallback = np.zeros(nq, dtype=bool)
        t_q: list[np.ndarray] = []
        t_pos: list[np.ndarray] = []
        t_d: list[np.ndarray] = []
        rounds = 0
        while len(active_idx):
            rounds += 1
            cur_lb = top_lb[active_idx, ptr[active_idx]]
            ok = cur_lb <= kth[active_idx]
            active_idx = active_idx[ok]
            A = len(active_idx)
            if A == 0:
                break
            nxt = top_idx[active_idx, ptr[active_idx]]
            rows_idx = blk_mat[nxt]
            valid = blk_valid[nxt]
            seg = np.take(mat_s, rows_idx, axis=0, out=_gath[:A])
            seg -= Q[active_idx][:, None, :]
            d = np.sqrt(
                np.einsum("qnd,qnd->qn", seg, seg, out=_d[:A]), out=_d[:A]
            )
            dm = np.copyto(_dm[:A], d) or _dm[:A]
            dm[~valid] = np.inf
            merged = _merged[:A]
            merged[:, :k_eff] = best[active_idx]
            merged[:, k_eff:] = dm
            merged.partition(k_eff - 1, axis=1)
            best[active_idx] = merged[:, :k_eff]
            newkth = merged[:, k_eff - 1].copy()
            np.nan_to_num(
                newkth, copy=False, nan=np.inf, posinf=np.inf, neginf=-np.inf
            )
            kth[active_idx] = newkth
            keep = valid & (dm <= newkth[:, None])
            qi2, ri = np.nonzero(keep)
            if len(qi2):
                t_q.append(active_idx[qi2])
                t_pos.append(rows_idx[qi2, ri])
                t_d.append(d[qi2, ri])
            ptr[active_idx] += 1
            if rounds == 2:
                # still-inf kth after 2 scanned blocks: NaN coordinates or
                # an almost-entirely-NaN index — the scalar kernel's NaN
                # tail semantics apply; route to it instead of dragging
                # the lockstep through every block
                inf_now = ~np.isfinite(kth[active_idx])
                fallback[active_idx[inf_now]] = True
                active_idx = active_idx[~inf_now]
            exhausted = ptr[active_idx] >= L
            if exhausted.any():
                # list ran out while blocks might still qualify: exact
                # scalar redo for those queries
                fallback[active_idx[exhausted]] = True
                active_idx = active_idx[~exhausted]

        # ---- global (query, dist, id-order) selection, fully vectorized
        inf_kth = np.isinf(kth) | fallback
        if len(t_q):
            tq = np.concatenate(t_q)
            tpos = np.concatenate(t_pos)
            td = np.concatenate(t_d)
            # early rounds kept rows against a looser kth than the final
            # one — re-filter so the global sort sees ~k rows per query
            fin = (~inf_kth[tq]) & (td <= kth[tq])
            tq, tpos, td = tq[fin], tpos[fin], td[fin]
        else:
            tq = np.zeros(0, dtype=np.int64)
        if len(tq):
            order = np.lexsort((id_rank[tpos], td, tq))
            tq, tpos, td = tq[order], tpos[order], td[order]
            grp = np.flatnonzero(np.r_[True, tq[1:] != tq[:-1]])
            cnt = np.diff(np.r_[grp, len(tq)])
            rank_in_grp = np.arange(len(tq)) - np.repeat(grp, cnt)
            keep = rank_in_grp < k_eff
            tq, tpos, td = tq[keep], tpos[keep], td[keep]
            grp = np.flatnonzero(np.r_[True, tq[1:] != tq[:-1]])
            cnt = np.diff(np.r_[grp, len(tq)])
            sel_ids = ids_orig_s[tpos]
            for o, c in zip(grp, cnt):
                results[base + int(tq[o])] = (
                    sel_ids[o : o + c],
                    td[o : o + c],
                )

        # non-finite-kth queries (NaN coordinates, NaN-heavy or tiny
        # index): exact scalar path — it implements the documented NaN
        # tail order directly; rare by construction.
        for qi in np.flatnonzero(inf_kth):
            results[base + int(qi)] = scalar_search(Q[qi])

    def search_many(qmat: np.ndarray):
        """Top-k for every row of ``qmat``, in input order."""
        nq = len(qmat)
        results: list = [None] * nq
        if nq == 0:
            return results
        Q = np.ascontiguousarray(np.asarray(qmat, dtype=np.float64))
        for q0 in range(0, nq, QB):
            _run_chunk(Q[q0 : q0 + QB], q0, results)
        return results

    return search_many


# --------------------------------------------------------------------------
# grid strategy (neighbor-ring expansion)
# --------------------------------------------------------------------------


def _grid_coord_cols(df: DataFrame, features_col: str, width: float, gdims: int):
    out = df
    for j in range(gdims):
        out = out.withColumn(
            f"_g{j}",
            F.floor(F.element_at(F.col(features_col), j + 1) / F.lit(width)).cast(
                "long"
            ),
        )
    return out


def _shell_offsets(gdims: int, ring: int) -> list[tuple[int, ...]]:
    rng = range(-ring, ring + 1)
    if gdims == 1:
        pts = [(x,) for x in rng]
    elif gdims == 2:
        pts = [(x, y) for x in rng for y in rng]
    else:
        pts = [(x, y, z) for x in rng for y in rng for z in rng]
    return [p for p in pts if max(abs(v) for v in p) == ring]


def knn_join_grid(
    cands: DataFrame,
    index: DataFrame,
    k: int,
    grid_width: float,
    id_col: str = "obj_id",
    features_col: str = "features",
    round_dists: int | None = 3,
    conf: EngineConf = DEFAULT_CONF,
) -> DataFrame:
    """Exact kNN via grid-cell neighbor-ring expansion.

    Completeness invariant (_ring_bound): after searching Chebyshev shells
    0..r, any unsearched index point differs by ≥ r+1 cells in some grid
    dim, hence by ≥ r·width in that coordinate, hence its full-space
    distance is ≥ r·width. A candidate whose kth-best distance is
    strictly below r·width can therefore never improve → retired.
    """
    spark = cands.sparkSession
    n_dims = len(cands.select(features_col).first()[0])
    gdims = min(n_dims, 3)

    idx_g = _grid_coord_cols(
        index.select(F.col(id_col).alias("index_id"), F.col(features_col).alias("_fi")),
        "_fi",
        grid_width,
        gdims,
    ).persist()
    idx_g.count()

    remaining = _grid_coord_cols(
        cands.select(F.col(id_col).alias("cand_id"), F.col(features_col).alias("_fc")),
        "_fc",
        grid_width,
        gdims,
    ).persist()

    gcols = [f"_g{j}" for j in range(gdims)]
    best: DataFrame | None = None
    w = Window.partitionBy("cand_id").orderBy("dist", "index_id")

    for r in range(conf.knn_max_rounds + 1):
        if remaining.isEmpty():
            break
        shell = _shell_offsets(gdims, r)
        offsets_df = spark.createDataFrame(
            [tuple(int(v) for v in o) for o in shell],
            schema=", ".join(f"_d{j} long" for j in range(gdims)),
        )
        probes = remaining.crossJoin(F.broadcast(offsets_df))
        join_cond = [
            probes[f"_g{j}"] + probes[f"_d{j}"] == idx_g[f"_g{j}"] for j in range(gdims)
        ]
        new_pairs = (
            probes.join(idx_g, join_cond, "inner")
            .select(
                "cand_id",
                "index_id",
                _dist_expr("_fc", "_fi").alias("dist"),
            )
        )
        round_best = (
            new_pairs
            if best is None
            else best.select("cand_id", "index_id", "dist").unionByName(new_pairs)
        )
        # localCheckpoint truncates lineage: the loop otherwise nests every
        # previous round's plan inside the next (plan size grows
        # exponentially with rounds — OOMs Catalyst at ~10 rounds)
        round_best = (
            round_best.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint(eager=True)
        )
        if best is not None:
            best.unpersist()
        best = round_best

        # retire candidates: kth distance strictly below the ring bound
        stats = best.groupBy("cand_id").agg(
            F.count("*").alias("_n"), F.max("dist").alias("_kth")
        )
        done_ids = stats.filter(
            (F.col("_n") >= F.lit(k)) & (F.col("_kth") < F.lit(float(r) * grid_width))
        ).select("cand_id")
        new_remaining = remaining.join(
            done_ids, remaining["cand_id"] == done_ids["cand_id"], "left_anti"
        ).localCheckpoint(eager=True)
        remaining.unpersist()
        remaining = new_remaining

    # stragglers (sparse regions): exact brute-force against the full index
    if not remaining.isEmpty():
        brute = knn_join_broadcast(
            remaining.select(
                F.col("cand_id").alias(id_col), F.col("_fc").alias(features_col)
            ),
            idx_g.select(
                F.col("index_id").alias(id_col), F.col("_fi").alias(features_col)
            ),
            k,
            id_col=id_col,
            features_col=features_col,
            round_dists=None,
        )
        done_pairs = best.join(
            remaining.select("cand_id"), "cand_id", "left_anti"
        ).select("cand_id", "index_id", "dist")
        best = done_pairs.unionByName(
            brute.select("cand_id", "index_id", "dist")
        )
    else:
        best = best.select("cand_id", "index_id", "dist")

    out = best.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if round_dists is not None:
        out = out.withColumn("dist", F.round("dist", round_dists))
    return out.select("cand_id", "index_id", "rank", "dist")


# knn_join_range caches two intermediates per call. ``cnd`` is dropped as
# soon as round 1 is materialized, but ``r1`` must outlive the RETURNED lazy
# DataFrame (its `done` branch reads r1), so it cannot be unpersisted inside
# the call. Single-entry eviction instead (the _DENSE_IDX_CACHE pattern):
# each new call unpersists the previous call's r1, bounding accumulated
# cache to one outstanding result per session. Unpersisting never breaks a
# still-held older result — Spark just recomputes the lineage on next use.
_RANGE_PREV_PERSISTS: list = []


def knn_join_range(
    cands: DataFrame,
    index: DataFrame,
    k: int,
    id_col: str = "obj_id",
    features_col: str = "features",
    round_dists: int | None = 3,
    slice_rows: int = 100_000,
    halo_slices: int | None = None,
) -> DataFrame:
    """Exact distributed kNN via equi-depth dim-0 range slices — the
    beyond-broadcast scale path (round 4; replaced a pair-exploding
    binned ring-expansion loop as the auto dispatch, see BENCH.md).

    Plan shape:
      1. Interior dim-0 quantiles of the index split it into ~equal
         ``slice_rows``-row slices (balanced by construction, whatever
         the skew). Both sides get a slice id; a cogrouped
         ``applyInPandas`` runs the SAME batch searcher the broadcast
         strategy uses (``_make_batch_searcher``) against each slice —
         per-query work identical to broadcast, but the index never
         leaves the executors and no per-pair rows are ever
         materialized (the ring loop's 1M-row bench shuffled ~360M
         exploded pairs through rank windows; this shuffles each index
         row once).
      2. A candidate is final when its kth distance is strictly below the
         distance to its slice's nearest boundary (the 1-D gap bound —
         every row outside the slice differs more in dim 0 alone).
         Non-final candidates (those whose kth-ball crosses a slice edge;
         a thin, O(slab/slice_width) fraction) fan out ONCE to every
         slice overlapping [x0−kth, x0+kth] — kth can only shrink, so
         this superset is sufficient — and a final rank window over their
         per-slice partial top-k merges the answer. Per-slice top-k union
         is lossless: a row beyond its own slice's top-k is (dist, id)-
         dominated by ≥ k rows of that slice alone.

    At 10^9 index rows: ~10^4 boundary doubles broadcast, slices of
    ``slice_rows`` rows (a few MB of Arrow per task), two candidate
    shuffles, zero driver collects. Deterministic (dist, index_id) tie
    order everywhere — identical rows to the other strategies.
    """
    spark = cands.sparkSession
    while _RANGE_PREV_PERSISTS:
        try:
            _RANGE_PREV_PERSISTS.pop().unpersist()
        except Exception:
            pass
    n_index = index.count()
    # at least 4 slices per core: slice keys are HASH-distributed over the
    # cogroup partitions, so a coarse 2-per-core slicing put 2-3 slices in
    # one task (birthday collisions) and ran them sequentially while other
    # cores idled — finer slices make a collision cost ~2 s, not ~7 s.
    # Floor so a slice never falls below ~8k rows (kernel efficiency) —
    # unless the caller explicitly asked for smaller slices (tests)
    par = spark.sparkContext.defaultParallelism
    n_slices = max(
        1,
        min(
            max(n_index // slice_rows, 4 * par),
            n_index // min(slice_rows, 8_000),
        ),
    )
    x0 = F.element_at(F.col(features_col), 1)
    probs = [i / n_slices for i in range(1, n_slices)]
    interior = (
        index.agg(
            F.percentile_approx(
                x0, F.array(*[F.lit(p) for p in probs]), 10_000
            ).alias("q")
        ).first()["q"]
        if probs
        else []
    )
    bounds = np.asarray([float(v) for v in interior])
    bc_bounds = spark.sparkContext.broadcast(bounds)
    k_req = min(k, n_index)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _slice_of(x: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(bc_bounds.value, x.to_numpy(), side="right")
        )

    # Halo replication: in a dense low-dimensional space the dim-0 span of
    # a kth-NN ball holds ~k^(1/3)·n^(2/3) index rows (uniform-density
    # law), which can exceed a parallelism-sized slice — at sf1 61% of
    # queries crossed their slice edge and the second pass dominated.
    # Each index row is therefore replicated to its slice ± W neighbors
    # (JVM integer explode, 2W+1× duplication), sized so the typical
    # half-interval fits inside the halo; queries never leave their slice
    # and the crosser fallback only sees the kth-distance tail.
    if halo_slices is None:
        half_interval = (k ** (1.0 / 3.0)) * (n_index ** (2.0 / 3.0))
        rows_per_slice = max(1.0, n_index / n_slices)
        W = int(min(max(np.ceil(half_interval / rows_per_slice), 1), 8, n_slices - 1))
    else:
        W = int(min(max(halo_slices, 0), n_slices - 1))

    idx = (
        index.select(
            F.col(id_col).alias("index_id"), F.col(features_col).alias("_fi")
        )
        .withColumn("_s0", _slice_of(F.element_at(F.col("_fi"), 1)))
        .withColumn(
            "_slice",
            F.explode(F.sequence(F.col("_s0") - W, F.col("_s0") + W)),
        )
        .filter((F.col("_slice") >= 0) & (F.col("_slice") < n_slices))
        .drop("_s0")
    )
    cnd = (
        cands.select(
            F.col(id_col).alias("cand_id"), F.col(features_col).alias("_fc")
        )
        .withColumn("_x0", F.element_at(F.col("_fc"), 1))
        .withColumn("_slice", _slice_of(F.col("_x0")))
        .persist()
    )

    R1_SCHEMA = T.StructType(
        [
            T.StructField("cand_id", T.StringType(), False),
            T.StructField("index_id", T.StringType(), True),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("dist", T.DoubleType(), True),
            T.StructField("final", T.BooleanType(), False),
            T.StructField("kth", T.DoubleType(), False),
            # crosser marker: the candidate's vector, attached to exactly
            # ONE row of each NON-final candidate so round 2 needs no join
            # back to the candidate table
            T.StructField("_fc", T.ArrayType(T.DoubleType()), True),
        ]
    )
    R1_COLS = [f.name for f in R1_SCHEMA.fields]

    def round1(key, cpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0:
            return pd.DataFrame(columns=R1_COLS)
        s = int(key[0])
        b = bc_bounds.value
        # halo-aware coverage edges: this slice holds every index row of
        # slices [s-W, s+W], i.e. values in [b[s-W-1], b[s+W])
        lo_b = b[s - W - 1] if s - W - 1 >= 0 else -np.inf
        hi_b = b[s + W] if s + W < len(b) + 1 and s + W <= len(b) - 1 else np.inf

        qmat = np.array(list(cpdf["_fc"]), dtype=np.float64)
        cand_ids = cpdf["cand_id"].to_numpy()
        nq = len(cand_ids)
        if len(ipdf) == 0:
            return pd.DataFrame(
                {
                    "cand_id": cand_ids,
                    "index_id": np.full(nq, None, dtype=object),
                    "rank": np.zeros(nq, dtype=np.int32),
                    "dist": np.full(nq, np.nan),
                    "final": np.zeros(nq, dtype=bool),
                    "kth": np.full(nq, np.inf),
                    "_fc": [list(q) for q in qmat],
                }
            )
        ids_i = ipdf["index_id"].to_numpy()
        mat_i = np.array(list(ipdf["_fi"]), dtype=np.float64)
        k_eff = min(k, len(ids_i))
        search_many = _make_batch_searcher(ids_i, mat_i, k_eff)
        results = search_many(qmat)
        # per-QUERY array accumulation (per-row python appends measured
        # ~10% of the kernel loop at sf1); one concatenate + np.repeat
        # builds the output columns
        id_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        counts = np.empty(nq, dtype=np.int64)
        fin_q = np.empty(nq, dtype=bool)
        kth_q = np.empty(nq, dtype=np.float64)
        empty_q = np.zeros(nq, dtype=bool)
        gaps = np.minimum(qmat[:, 0] - lo_b, hi_b - qmat[:, 0])
        _none_id = np.array([None], dtype=object)
        _nan_d = np.array([np.nan])
        for bi in range(nq):
            sel_ids, dsel = results[bi]
            found = len(sel_ids)
            if found:
                # fewer than the required k rows in this slice → the
                # kth-ball radius is unknown: expansion must cover every
                # slice
                kq = float(dsel[-1]) if found >= k_req else np.inf
                if np.isnan(kq):
                    # kth distance NaN (NaN-feature rows inside the top-k):
                    # no finite ball bound — treat as inf so round 2 scans
                    # every slice for this candidate
                    kq = np.inf
                id_parts.append(sel_ids)
                d_parts.append(dsel)
                counts[bi] = found
            else:
                kq = np.inf
                id_parts.append(_none_id)
                d_parts.append(_nan_d)
                counts[bi] = 1
                empty_q[bi] = True
            kth_q[bi] = kq
            fin_q[bi] = (found >= k_req) and (kq < gaps[bi])
        total = int(counts.sum())
        offs = np.zeros(nq, dtype=np.int64)
        np.cumsum(counts[:-1], out=offs[1:])
        ranks = (
            np.arange(1, total + 1, dtype=np.int64)
            - np.repeat(offs, counts)
        ).astype(np.int32)
        ranks[offs[empty_q]] = 0
        fcol = np.full(total, None, dtype=object)
        for bi in np.flatnonzero(~fin_q):
            fcol[offs[bi]] = qmat[bi].tolist()
        return pd.DataFrame(
            {
                "cand_id": np.repeat(cand_ids, counts),
                "index_id": np.concatenate(id_parts),
                "rank": ranks,
                "dist": np.concatenate(d_parts),
                "final": np.repeat(fin_q, counts),
                "kth": np.repeat(kth_q, counts),
                "_fc": fcol,
            }
        )

    # Explicit repartition to 4× the slice count: slice tasks are
    # python-kernel-bound (seconds each) but their shuffle blocks are only
    # a few MB, so the default spark.sql.shuffle.partitions layout both
    # (a) let AQE coalesce them into multi-group tasks and (b) murmur-
    # collided several integer slice keys into one partition — either way
    # groups ran SEQUENTIALLY inside a task while other cores idled
    # (measured: 16-core round-1 wall 34.8 s vs ~17 s of summed kernel
    # time, BENCH.md round 4). A user repartition is exempt from AQE
    # coalescing, and 4× partitions make a key collision rare and cheap;
    # empty partitions never reach python.
    n_part = 4 * n_slices
    r1 = (
        cnd.repartition(n_part, "_slice")
        .groupBy("_slice")
        .cogroup(idx.repartition(n_part, "_slice").groupBy("_slice"))
        .applyInPandas(round1, schema=R1_SCHEMA)
        .persist()
    )

    done = r1.filter(F.col("final"))
    # round 2 — shuffle-free: the (thin) crosser set is collected and
    # broadcast; ONE mapInPandas pass over the index answers each crosser
    # from the rows inside its [x0−kth, x0+kth] interval. The interval is
    # a superset of any possible final top-k member (every top-k row has
    # full-space dist ≤ kth_r1, hence dim-0 within the interval — own
    # slice included, so round-1 partial rows are NOT merged back: no
    # duplicate-pair rank corruption, and per-batch top-k union is
    # lossless by (dist, id) dominance). This replaced a 4-shuffle-stage
    # cogroup chain whose fixed latency was the non-scaling term of the
    # sf1 N-vs-4N gate (BENCH.md round 4).
    #
    # Driver bound: crosser count ≈ queries × (kth window / slice width);
    # size slice_rows so this stays small (sf1: ~3% of 600k). The
    # broadcast is chunked so no single broadcast exceeds ~40 MB.
    cross_rows = (
        r1.filter(F.col("_fc").isNotNull()).select("cand_id", "_fc", "kth").collect()
    )
    # the collect above ran a job over every r1 partition, so r1 is now
    # fully cached and cnd's cache is dead weight; r1 itself is evicted by
    # the NEXT call (see _RANGE_PREV_PERSISTS above)
    cnd.unpersist()
    _RANGE_PREV_PERSISTS.append(r1)

    parts = [
        done.select("cand_id", "index_id", "rank", "dist").withColumn(
            "dist", F.coalesce(F.col("dist"), F.lit(_NAN))
        )
    ]
    if cross_rows:
        R2_SCHEMA = T.StructType(
            [
                T.StructField("cand_id", T.StringType(), False),
                T.StructField("index_id", T.StringType(), False),
                T.StructField("dist", T.DoubleType(), True),
            ]
        )
        # range-repartition + sort the index for this pass: interval rows
        # then occupy 1-2 consecutive Arrow batches, so each crosser emits
        # ~2k rows total instead of k rows per batch (with hash-partitioned
        # input every batch overlaps every crosser — measured as a 75M-row
        # blowup into the rank window at the 2M bench)
        idx_r2 = (
            index.select(
                F.col(id_col).alias("index_id"), F.col(features_col).alias("_fi")
            )
            .withColumn("_x0i", F.element_at(F.col("_fi"), 1))
            .repartitionByRange(max(2 * par, 8), "_x0i")
            .sortWithinPartitions("_x0i")
            .drop("_x0i")
        )
        w = Window.partitionBy("cand_id").orderBy("dist", "index_id")
        CHUNK = 500_000
        for c0 in range(0, len(cross_rows), CHUNK):
            chunk = cross_rows[c0 : c0 + CHUNK]
            c_ids = np.array([r["cand_id"] for r in chunk], dtype=object)
            c_mat = np.array([r["_fc"] for r in chunk], dtype=np.float64)
            c_kth = np.array([r["kth"] for r in chunk], dtype=np.float64)
            # sorted by x0 so each index batch can restrict the crosser
            # loop to the ones whose interval can overlap its x0 range
            # (inf-kth crossers — slice had <k rows — are kept aside and
            # always checked)
            oc = np.argsort(c_mat[:, 0], kind="stable")
            c_ids, c_mat, c_kth = c_ids[oc], c_mat[oc], c_kth[oc]
            fin_mask = np.isfinite(c_kth)
            pad = float(c_kth[fin_mask].max()) if fin_mask.any() else 0.0
            bc_cross = spark.sparkContext.broadcast(
                (c_ids, c_mat, c_kth, fin_mask, pad)
            )

            def r2_kernel(
                batches: Iterator[pd.DataFrame], _bc=bc_cross
            ) -> Iterator[pd.DataFrame]:
                # _bc bound per chunk (late-binding closure would make every
                # lazily-executed kernel read the LAST chunk's broadcast)
                ids_q, mat_q, kth_q, fin_mask, pad = _bc.value
                qx0 = mat_q[:, 0]
                inf_idx = np.flatnonzero(~fin_mask)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    ids_i = pdf["index_id"].to_numpy()
                    mat_i = np.array(list(pdf["_fi"]), dtype=np.float64)
                    order = np.argsort(mat_i[:, 0], kind="stable")
                    x0s = np.ascontiguousarray(mat_i[order, 0])
                    mats = np.ascontiguousarray(mat_i[order])
                    idss = ids_i[order]
                    ids_str = idss.astype(str)
                    # crossers whose interval can overlap this batch's range
                    ql = int(np.searchsorted(qx0, x0s[0] - pad, side="left"))
                    qh = int(np.searchsorted(qx0, x0s[-1] + pad, side="right"))
                    qis = np.concatenate(
                        [np.arange(ql, qh), inf_idx[(inf_idx < ql) | (inf_idx >= qh)]]
                    )
                    out_c, out_i, out_d = [], [], []
                    for qi in qis:
                        d = kth_q[qi]
                        lo = int(np.searchsorted(x0s, mat_q[qi, 0] - d, side="left"))
                        hi = int(np.searchsorted(x0s, mat_q[qi, 0] + d, side="right"))
                        if lo >= hi:
                            continue
                        seg = mats[lo:hi] - mat_q[qi]
                        dist = np.sqrt(np.einsum("nd,nd->n", seg, seg))
                        sel = np.lexsort((ids_str[lo:hi], dist))[:k]
                        for j in sel:
                            out_c.append(ids_q[qi])
                            out_i.append(idss[lo + j])
                            out_d.append(float(dist[j]))
                    if out_c:
                        yield pd.DataFrame(
                            {"cand_id": out_c, "index_id": out_i, "dist": out_d}
                        )

            partial = idx_r2.mapInPandas(r2_kernel, schema=R2_SCHEMA).withColumn(
                # null here is Arrow-encoded NaN; restore BEFORE the rank
                # window (ascending null-first would corrupt (dist, id))
                "dist", F.coalesce(F.col("dist"), F.lit(_NAN))
            )
            parts.append(
                partial.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("cand_id", "index_id", "rank", "dist")
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if round_dists is not None:
        out = out.withColumn("dist", F.round("dist", round_dists))
    return out.select("cand_id", "index_id", "rank", "dist")


def knn_join(
    cands: DataFrame,
    index: DataFrame,
    k: int,
    id_col: str = "obj_id",
    features_col: str = "features",
    strategy: str = "auto",
    grid_width: float | None = None,
    round_dists: int | None = 3,
    conf: EngineConf = DEFAULT_CONF,
) -> DataFrame:
    """Strategy dispatch: ``"auto"`` picks broadcast when the index has
    at most ``conf.broadcast_index_max_rows`` rows, range-sliced local
    kernels otherwise (mirrors Catalyst's broadcast-vs-shuffle join
    choice, but for the similarity join Catalyst can't plan). Range is
    the beyond-broadcast scale path — measured 5× FASTER than broadcast
    at the 2M-row crossover (15.5 s vs 76.9 s, 50k queries, BENCH.md
    round 4; broadcast pays a driver collect of the whole index) and
    flat 2M→4M. ``"grid"`` runs the JVM-only ring-expansion variant
    (``grid_width`` defaults to a sampled kth-NN distance). Any other
    value raises ``ValueError``."""
    if strategy == "auto":
        n_index = index.count()
        strategy = (
            "broadcast" if n_index <= conf.broadcast_index_max_rows else "range"
        )
    if strategy == "broadcast":
        return knn_join_broadcast(
            cands, index, k, id_col, features_col, round_dists=round_dists
        )
    if strategy == "range":
        return knn_join_range(
            cands, index, k, id_col, features_col, round_dists=round_dists
        )
    if strategy == "grid":
        if grid_width is None:
            grid_width = estimate_grid_width(cands, index, k, features_col)
        return knn_join_grid(
            cands,
            index,
            k,
            grid_width,
            id_col,
            features_col,
            round_dists=round_dists,
            conf=conf,
        )
    raise ValueError(
        f"unknown knn strategy {strategy!r}; "
        "expected 'auto', 'broadcast', 'range' or 'grid'"
    )


def estimate_grid_width(
    cands: DataFrame, index: DataFrame, k: int, features_col: str, sample: int = 256
) -> float:
    """Heuristic cell width ≈ expected kth-NN distance, from a small exact
    sample probe (driver-side; sample × sample numpy)."""
    c = np.array(
        [r[0] for r in cands.select(features_col).limit(sample).collect()],
        dtype=np.float64,
    )
    i = np.array(
        [r[0] for r in index.select(features_col).limit(sample * 4).collect()],
        dtype=np.float64,
    )
    if c.ndim == 1:
        c, i = c[:, None], i[:, None]
    d = np.sqrt(
        np.maximum(
            (c * c).sum(1)[:, None] - 2 * c @ i.T + (i * i).sum(1)[None, :], 0.0
        )
    )
    kth = np.sort(d, axis=1)[:, min(k, d.shape[1]) - 1]
    # scale up: the sampled index is sparser than the full one, so this
    # over-estimates the true kth distance → wider cells → fewer rounds
    return float(np.median(kth)) or 1.0
