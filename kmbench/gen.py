"""Deterministic inputs for the k-means CLI workloads.

Points follow sklearn's ``make_blobs`` (8 centers drawn uniformly in
[-10, 10]^2, isotropic Gaussian clusters of standard deviation 0.6,
samples split evenly over the centers, then shuffled), written as the
reference's points file: an ``X,Y`` header, one point per line. The
coordinates are printed with 6 decimals, so the program's decimal-exact
recompute sees exactly the values a checker reads back.

The centers are part of the workload's definition and drawn once, from
``CENTER_SEED``; the seed argument draws the points. With these centers
and the EP2 init seed the runner passes, no cluster empties during a
10-superstep fit, so every seed does the same k=8 work.

The EP1 centroids file holds ``k`` points drawn from distinct generated
points (header ``Cluster,X,Y``, cids 0..k-1), so no cluster starts empty.

    python3 kmbench/gen.py <seed> <n> <points.csv> [<k> <centroids.csv>]
"""

import sys

import numpy as np

CENTERS = 8
STD = 0.6
BOX = 10.0
CENTER_SEED = 5


def blobs(seed, n):
    """``n`` x 2 float64 blob points, rounded to 6 decimals."""
    centers = np.random.default_rng(CENTER_SEED).uniform(-BOX, BOX, size=(CENTERS, 2))
    rng = np.random.default_rng(seed)
    sizes = np.full(CENTERS, n // CENTERS)
    sizes[: n % CENTERS] += 1
    labels = np.repeat(np.arange(CENTERS), sizes)
    pts = centers[labels] + rng.normal(scale=STD, size=(n, 2))
    pts = pts[rng.permutation(n)]
    return np.round(pts, 6)


def write_points(path, pts):
    with open(path, "w") as f:
        f.write("X,Y\n")
        f.write("".join("%.6f,%.6f\n" % (x, y) for x, y in pts.tolist()))


def pick_centroids(seed, pts, k):
    """``k`` distinct points of ``pts``, in a seed-determined order."""
    uniq = np.unique(pts, axis=0)
    rng = np.random.default_rng([seed, k])
    return uniq[rng.choice(len(uniq), size=k, replace=False)]


def write_centroids(path, cents):
    with open(path, "w") as f:
        f.write("Cluster,X,Y\n")
        f.write("".join("%d,%.6f,%.6f\n" % (i, x, y)
                        for i, (x, y) in enumerate(cents.tolist())))


def generate(seed, n, points_path, k=None, centroids_path=None):
    pts = blobs(seed, n)
    write_points(points_path, pts)
    if k is not None:
        write_centroids(centroids_path, pick_centroids(seed, pts, k))


if __name__ == "__main__":
    a = sys.argv[1:]
    if len(a) not in (3, 5):
        sys.exit(__doc__)
    generate(int(a[0]), int(a[1]), a[2],
             int(a[3]) if len(a) == 5 else None, a[4] if len(a) == 5 else None)
