"""Output checker for the k-means CLI sinks (the notebook's cells 19/21
oracle, made exact).

It replays Lloyd's algorithm in numpy from the run's initial centroids
with the program's own arithmetic: squared distance ``dx*dx + dy*dy``,
argmin with the lowest cid winning ties, empty clusters dropped, means
from exact sums of the 6-decimal inputs, and the objective summed on the
1e-6 integer grid. It then checks that

- pointsout holds the n input points, each once;
- every row's cid is the brute-force nearest final centroid;
- each final centroid is the mean of the points assigned to it in the
  last superstep, within 1e-9 relative;
- objfun equals the recomputed SSE within 1e-9 relative;
- the fit ran the requested number of supersteps.

``check`` returns a list of failure messages (empty when correct) and
the number of centroids alive in each superstep.
"""

import glob
import os

import numpy as np
import pandas as pd

REL_TOL = 1e-9
CHUNK = 32768


def read_csv(path, header):
    return pd.read_csv(path, header=0 if header else None,
                       float_precision="round_trip").to_numpy()


def sink_file(directory):
    """The single part file a ``coalesce(1)`` CSV sink writes."""
    parts = sorted(glob.glob(os.path.join(directory, "part-*")))
    if len(parts) != 1:
        raise ValueError("%s: expected one part file, found %d"
                         % (directory, len(parts)))
    return parts[0]


def nearest(xy, cents):
    """Index (into ``cents``, ordered by cid) of each point's nearest
    centroid; the first, i.e. lowest cid, wins a tie."""
    out = np.empty(len(xy), dtype=np.int64)
    for lo in range(0, len(xy), CHUNK):
        p = xy[lo:lo + CHUNK]
        dx = p[:, 0:1] - cents[None, :, 0]
        dy = p[:, 1:2] - cents[None, :, 1]
        out[lo:lo + CHUNK] = np.argmin(dx * dx + dy * dy, axis=1)
    return out


def exact_means(xy6, labels):
    """Per-label means of 6-decimal coordinates given as integers scaled
    by 1e6: the exact sum, correctly rounded to a double, divided by the
    count, as the program's decimal recompute does."""
    order = np.argsort(labels, kind="stable")
    lab = labels[order]
    present = np.unique(lab)
    starts = np.searchsorted(lab, present)
    sums = np.add.reduceat(xy6[order], starts, axis=0)
    counts = np.diff(np.append(starts, len(lab)))
    means = np.array([[int(sx) / 10**6 / int(c), int(sy) / 10**6 / int(c)]
                      for (sx, sy), c in zip(sums.tolist(), counts.tolist())])
    return present, means.reshape(-1, 2)


def lloyd(xy, cids, cents, iterations):
    """Final (cids, centroids) after ``iterations`` supersteps, and the
    number of live centroids in each superstep."""
    xy6 = np.rint(xy * 1e6).astype(np.int64)
    order = np.argsort(cids)
    cids, cents = cids[order], cents[order]
    alive = []
    for _ in range(iterations):
        alive.append(len(cids))
        present, cents = exact_means(xy6, nearest(xy, cents))
        cids = cids[present]
    return cids, cents, alive


def sse(xy, cents_of_points):
    """The program's objective: each squared distance rounded half-up on
    the 1e-6 grid, summed exactly, divided by 1e6."""
    d = xy - cents_of_points
    v = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]) * 1e6
    r = np.floor(v)
    r += (v - r) >= 0.5
    return float(int(r.astype(np.int64).sum())) / 1e6


def close(a, b):
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check(points_csv, init, init_header, out_dir, iterations, supersteps):
    """``init`` is the EP1 centroids file (``init_header`` True) or the
    directory the program echoed its generated centroids to."""
    fails = []
    xy = read_csv(points_csv, header=True).astype(np.float64)
    init_rows = read_csv(init if init_header else sink_file(init), init_header)
    cids, want, alive = lloyd(xy, init_rows[:, 0].astype(np.int64),
                              init_rows[:, 1:3].astype(np.float64), iterations)

    if supersteps != iterations:
        fails.append("supersteps %d != %d" % (supersteps, iterations))

    got = read_csv(sink_file(os.path.join(out_dir, "centroidsout")), False)
    got = got[np.argsort(got[:, 0])]
    got_cids, got_c = got[:, 0].astype(np.int64), got[:, 1:3].astype(np.float64)
    if not np.array_equal(got_cids, cids):
        fails.append("centroid ids %s != replay %s"
                     % (got_cids.tolist(), cids.tolist()))
    else:
        bad = [int(c) for c, g, w in zip(cids, got_c, want)
               if not (close(g[0], w[0]) and close(g[1], w[1]))]
        if bad:
            fails.append("centroids %s differ from the mean of their points"
                         % bad[:8])

    pts = read_csv(sink_file(os.path.join(out_dir, "pointsout")), False)
    if len(pts) != len(xy):
        fails.append("pointsout has %d rows, expected %d" % (len(pts), len(xy)))
        return fails, alive
    pxy = pts[:, 1:3].astype(np.float64)
    if not np.array_equal(pxy[np.lexsort(pxy.T[::-1])], xy[np.lexsort(xy.T[::-1])]):
        fails.append("pointsout does not hold the input points")
    idx = nearest(pxy, got_c)
    wrong = np.flatnonzero(got_cids[idx] != pts[:, 0].astype(np.int64))
    if len(wrong):
        fails.append("%d rows not assigned to their nearest centroid (row %d)"
                     % (len(wrong), wrong[0]))

    obj = read_csv(sink_file(os.path.join(out_dir, "objfunout")), False)
    want_obj = sse(pxy, got_c[idx])
    if obj.shape != (1, 1) or not close(float(obj[0, 0]), want_obj):
        fails.append("objfun %s != recomputed SSE %r" % (obj.ravel().tolist(), want_obj))
    return fails, alive
