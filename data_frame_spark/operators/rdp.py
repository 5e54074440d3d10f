"""Ramer-Douglas-Peucker polyline simplification
(reference private/rdp-simplify.rkt:70-116).

RDP is inherently recursive over a whole trajectory, so it cannot be
a pure Column expression. Trajectories (one activity, one device,
one track) are hash-distributed by group and simplified
independently inside ``mapInPandas``; :func:`rdp_keep` simplifies
all the trajectories of an Arrow batch in one vectorized call, a
few numpy calls per recursion level rather than several per
segment. Only the trajectories of one batch must fit in a worker's
memory at a time.

Semantics preserved from the reference:
* perpendicular point-to-segment-line distance (rdp-simplify.rkt:28-38)
* strict ``> epsilon`` split criterion, max-distance point wins ties
  by first index (:81-94)
* ``keep_positions``: the trajectory is segmented at each kept index
  p, simplifying (p+1, next_p) sub-ranges so both p and p+1 survive
  (:105-110)
* first/last points always kept; no new points invented.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rdp_keep(
    x: np.ndarray,
    y: np.ndarray,
    starts: np.ndarray,
    stops: np.ndarray,
    epsilon: float,
) -> np.ndarray:
    """Keep-mask over many polylines at once, polyline ``i`` being
    ``x[starts[i] : stops[i] + 1]`` (same for ``y``).

    Both ends of every polyline are kept. Each level of the recursion
    splits every open segment of every polyline in one vectorized
    step, so a batch of short trajectories costs a few numpy calls per
    level instead of several per segment. Where a segment splits
    depends only on its own points, so the mask equals a per-segment
    explicit-stack walk's: the same distance expression, the split
    point is the first index at the maximum (``np.argmax``'s tie rule)
    and a NaN distance never splits."""
    keep = np.zeros(len(x), dtype=bool)
    lo = np.asarray(starts, dtype=np.int64)
    hi = np.asarray(stops, dtype=np.int64)
    keep[lo] = True
    keep[hi] = True
    while True:
        opened = hi - lo > 1
        lo, hi = lo[opened], hi[opened]
        if not len(lo):
            return keep
        inner = hi - lo - 1
        first = np.cumsum(inner) - inner
        seg = np.repeat(np.arange(len(lo)), inner)
        idx = np.arange(int(inner.sum())) - first[seg] + lo[seg] + 1
        x1, y1, x2, y2 = x[lo], y[lo], x[hi], y[hi]
        dx, dy = x2 - x1, y2 - y1
        denom = np.hypot(dx, dy)
        alpha = x2 * y1 - y2 * x1
        xs, ys = x[idx], y[idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            dists = np.abs(dy[seg] * xs - dx[seg] * ys + alpha[seg]) / denom[seg]
        point = denom[seg] == 0.0
        if point.any():
            dists[point] = np.hypot(
                xs[point] - x1[seg][point], ys[point] - y1[seg][point]
            )
        best = np.maximum.reduceat(dists, first)
        split = best > epsilon
        at_best = np.flatnonzero(split[seg] & (dists == best[seg]))
        owner = seg[at_best]
        head = np.ones(len(at_best), dtype=bool)
        head[1:] = owner[1:] != owner[:-1]
        mid = idx[at_best[head]]
        keep[mid] = True
        lo = np.concatenate([lo[split], mid])
        hi = np.concatenate([mid, hi[split]])


def rdp_mask(x: np.ndarray, y: np.ndarray, epsilon: float) -> np.ndarray:
    """Boolean keep-mask for one polyline."""
    if len(x) == 0:
        return np.zeros(0, dtype=bool)
    return rdp_keep(x, y, [0], [len(x) - 1], epsilon)


def rdp_simplify_arrays(
    x: np.ndarray,
    y: np.ndarray,
    epsilon: float,
    keep_positions: Sequence[int] = (),
) -> np.ndarray:
    """Keep-mask with the reference's keep-positions segmentation
    (rdp-simplify.rkt:105-110): ranges (p+1, next_p) are simplified
    independently, preserving each kept position and its successor."""
    n = len(x)
    if not keep_positions:
        return rdp_mask(x, y, epsilon)
    keep = np.zeros(n, dtype=bool)
    bounds = sorted({-1, *keep_positions, n - 1})
    for start, stop in zip(bounds, bounds[1:]):
        lo = start + 1
        if lo < 0 or stop >= n or stop - lo < 1:
            if 0 <= stop < n:
                keep[stop] = True
            continue
        sub = rdp_mask(x[lo : stop + 1], y[lo : stop + 1], epsilon)
        keep[lo : stop + 1] |= sub
    return keep


#: trajectory number column, added and dropped inside the Python worker
_RUN = "__rdp_run"


def rdp_simplify(
    df: DataFrame,
    x_col: str,
    y_col: str,
    epsilon: float = 0.1,
    group_by: Sequence[str] = (),
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Distributed RDP: simplify each ``group_by`` trajectory
    (ordered by ``order_by``, default the x column) independently;
    returns the surviving rows with original columns.
    """
    order_by = list(order_by or [x_col])
    gcols = list(group_by)
    schema = df.schema

    def simplify(pdf: pd.DataFrame, by: list[str]) -> pd.DataFrame:
        # every run of equal ``by`` values (the whole frame when ``by``
        # is empty) is one polyline, ordered by ``order_by``; one
        # kernel call simplifies them all
        pdf = pdf.sort_values([*by, *order_by], kind="mergesort")
        if pdf.empty:
            return pdf
        keys = pdf[by].to_numpy()
        ends = np.flatnonzero((keys[1:] != keys[:-1]).any(axis=1))
        mask = rdp_keep(
            pdf[x_col].to_numpy(dtype=float),
            pdf[y_col].to_numpy(dtype=float),
            np.concatenate([[0], ends + 1]),
            np.concatenate([ends, [len(pdf) - 1]]),
            epsilon,
        )
        return pdf[mask]

    if gcols:
        # mapInPandas over group-sorted partitions, NOT
        # groupBy.applyInPandas: applyInPandas dispatches one Python
        # call and one Arrow slice PER GROUP (3x slower at many small
        # trajectories); here each Arrow batch carries many whole
        # trajectories and a cross-batch carry keeps the one
        # trajectory a batch boundary splits intact. Same shuffle
        # (hash by group), same kernel.
        def gen(it):
            pend: pd.DataFrame | None = None

            def flush(pdf: pd.DataFrame) -> pd.DataFrame:
                # trajectories numbered in order of first appearance;
                # a null key gets no number and its rows are dropped,
                # as groupby drops them
                run = pdf.groupby(gcols, sort=False).ngroup()
                out = simplify(pdf.assign(**{_RUN: run})[run.notna()], [_RUN])
                return out.drop(columns=_RUN)

            for pdf in it:
                if pend is not None:
                    pdf = pd.concat([pend, pdf])
                    pend = None
                if len(pdf) == 0:
                    continue
                # hold back the (possibly incomplete) last group
                last = pdf[gcols].iloc[-1]
                cut = (pdf[gcols] != last).any(axis=1)
                done, pend = pdf[cut], pdf[~cut]
                if len(done):
                    yield flush(done)
            if pend is not None and len(pend):
                yield flush(pend)

        return (
            df.repartition(*gcols)
            .sortWithinPartitions(*gcols, *order_by)
            .mapInPandas(gen, schema=schema)
        )
    # single trajectory: still runs through the same kernel, one task
    return df.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: simplify(pdf.drop(columns="__g"), []), schema=schema
    )
