"""Self-tests of the benchmark's own parts.

    python3 kmbench/selftest.py

- the generator gives identical bytes for the same seed;
- the checker accepts outputs equal to its own replay and rejects a
  flipped cid, a perturbed objective and a wrong superstep count;
- the tracer reports one job, two stages and 4 + 3 tasks on a known
  two-stage plan, attributed to the function that ran it.

The last test builds the harness like a benchmark run does.
"""

import os
import shutil
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run as runner  # noqa: E402


def read(path):
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_deterministic(tmp):
    p = [os.path.join(tmp, "p%d.csv" % i) for i in range(3)]
    c = [os.path.join(tmp, "c%d.csv" % i) for i in range(2)]
    gen.generate(5, 5000, p[0], 16, c[0])
    gen.generate(5, 5000, p[1], 16, c[1])
    gen.generate(6, 5000, p[2])
    assert read(p[0]) == read(p[1]) and read(c[0]) == read(c[1])
    assert read(p[0]) != read(p[2])
    pts = check.read_csv(p[0], header=True)
    cents = check.read_csv(c[0], header=True)
    assert read(p[0]).startswith(b"X,Y\n") and read(c[0]).startswith(b"Cluster,X,Y\n")
    assert len(pts) == 5000 and cents[:, 0].tolist() == list(range(16))
    assert len(np.unique(cents[:, 1:], axis=0)) == 16
    assert set(map(tuple, cents[:, 1:])) <= set(map(tuple, pts))


def write_sink(out_dir, name, rows):
    d = os.path.join(out_dir, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.csv"), "w") as f:
        f.write("".join(",".join(repr(v) for v in r) + "\n" for r in rows))


def fake_outputs(out_dir, points, init, iterations):
    """The sinks a correct program writes, made from the checker's replay."""
    xy = check.read_csv(points, header=True)
    rows = check.read_csv(init, header=True)
    cids, cents, _ = check.lloyd(xy, rows[:, 0].astype(np.int64), rows[:, 1:3], iterations)
    idx = check.nearest(xy, cents)
    write_sink(out_dir, "pointsout", [(int(cids[i]), x, y) for i, (x, y) in zip(idx, xy.tolist())])
    write_sink(out_dir, "centroidsout", [(int(c), x, y) for c, (x, y) in zip(cids, cents.tolist())])
    write_sink(out_dir, "objfunout", [(check.sse(xy, cents[idx]),)])


def test_checker_rejects_wrong_outputs(tmp):
    points, init = os.path.join(tmp, "p.csv"), os.path.join(tmp, "c.csv")
    gen.generate(3, 4000, points, 12, init)
    fake_outputs(tmp, points, init, 10)

    def fails(supersteps=10):
        return check.check(points, init, True, tmp, 10, supersteps)[0]

    assert fails() == [], fails()
    assert any("supersteps" in m for m in fails(supersteps=9))

    sink = os.path.join(tmp, "pointsout", "part-00000.csv")
    good = read(sink)
    lines = good.decode().splitlines(True)
    cid, rest = lines[7].split(",", 1)
    lines[7] = "%d,%s" % ((int(cid) + 1) % 12, rest)
    with open(sink, "w") as f:
        f.write("".join(lines))
    assert any("nearest" in m for m in fails())
    with open(sink, "wb") as f:
        f.write(good)

    obj = os.path.join(tmp, "objfunout", "part-00000.csv")
    value = float(read(obj))
    with open(obj, "w") as f:
        f.write(repr(value * (1 + 1e-8)) + "\n")
    assert any("objfun" in m for m in fails())


def test_tracer_counts_a_two_stage_plan(tmp):
    runner.build()
    local = os.path.join(tmp, "spark-local")
    trace = os.path.join(tmp, "trace.jsonl")
    res = runner.harness(["selftest", trace, local], tmp, "selftest",
                         time.time() + runner.JVM_BUDGET_S)
    assert res["groups"] == 10
    sources = layers.Sources([runner.SRC, os.path.join(runner.HARNESS, "src")])
    jobs = layers.jobs_view(layers.load(trace), sources)[0]
    assert len(jobs) == 1, jobs
    assert len(jobs[0]["stages"]) == 2
    assert sorted(s["tasks"] for s in jobs[0]["stages"]) == [3, 4]
    assert len(jobs[0]["tasks"]) == 7
    assert jobs[0]["fn"] == ("Harness", "selftest"), jobs[0]["fn"]


def main():
    failed = 0
    for name, test in sorted(globals().items()):
        if not name.startswith("test_"):
            continue
        os.makedirs(runner.WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="selftest-", dir=runner.WORK)
        try:
            test(tmp)
            print("ok   " + name)
        except Exception as e:
            failed += 1
            print("FAIL %s: %r" % (name, e))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
