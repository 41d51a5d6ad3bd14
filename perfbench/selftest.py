"""Harness self-tests: `python3 perfbench/run.py --selftest`.

Python half: the op_tail_ms percentile rule, per-layer self time, and
seed determinism of every generated input. The JVM half (listener
attribution, job-interval union, bytes accounting) is perfbench.SelfTest.
"""
import filecmp
import os
import random
import shutil
import tempfile

import gen
import report

FAILED = []


def expect(cond, what):
    print(f"[selftest] {'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILED.append(what)


def test_tail():
    ms = list(range(1, 101))
    value, pct, n = report.tail(ms)
    expect(value == 90 and pct == 90.0 and n == 100, "tail of 1..100 is p90 = 90")
    for n in (11, 12, 37, 250):
        xs = [float(i) for i in range(n)]
        value, pct, count = report.tail(xs)
        beyond = sum(1 for x in xs if x > value)
        expect(beyond == 10 and count == n, f"tail of {n} samples has 10 samples beyond it")
    value, pct, n = report.tail([3.0, 1.0, 2.0])
    expect(value == 3.0 and pct == 100.0 and n == 3, "fewer than 11 samples: the maximum, stated")
    rng = random.Random(7)
    ok = True
    for n in (report.TAIL_MIN_SAMPLES, 150, 400):
        xs = [rng.lognormvariate(5, 0.5) for _ in range(n)]
        value, pct, _ = report.tail(xs)
        ok = ok and pct >= 90.0 and value >= report.median(xs)
    expect(ok, f"from {report.TAIL_MIN_SAMPLES} samples the tail is p90 or above, not below the median")
    raw = dict(setup_s=1.0, bytes_per_user_byte=1.0, warmup_failed=0,
               ops=[dict(ms=float(i), rows=1, ok=True) for i in range(1, 25)])
    res = report.summarize("ingest", raw, 0, 4)
    expect("op_tail_ms" not in res["metrics"] and
           any("p58.3 of 24 samples (10 beyond it)" in ln and "not a tail" in ln for ln in res["lines"]),
           "24 samples: op_tail_ms is printed with its percentile and not reported as a metric")


def test_self_times():
    spans = [dict(op=0, name="op.x", ms=100.0, parent=-1),
             dict(op=0, name="ds.write", ms=60.0, parent=0),
             dict(op=0, name="core.list", ms=20.0, parent=1),
             dict(op=0, name="exec.count", ms=30.0, parent=0)]
    st = report.self_times(spans)
    expect(st == {(0, "op"): 10.0, (0, "ds"): 40.0, (0, "core"): 20.0, (0, "exec"): 30.0},
           "self time is span time minus direct children")


def files_of(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.relpath(os.path.join(root, f), d) for f in files]
    return sorted(out)


def same_tree(a, b):
    fa, fb = files_of(a), files_of(b)
    if fa != fb:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
    return not mismatch and not errors


def test_seeds():
    sizes = {"ingest_batches": 6, "stream_slices": 6}
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.getcwd())
    try:
        for w in ("ingest", "analytics"):
            a, b, c = (os.path.join(tmp, f"{w}-{k}") for k in ("a", "b", "c"))
            pa_, pb, pc = (gen.write_inputs(w, s, d, sizes) for s, d in ((3, a), (3, b), (4, c)))
            expect(pa_ == pb and same_tree(a, b),
                   f"{w}: the same seed gives byte-identical inputs and op list")
            if w == "analytics":
                # the tables are pinned; the seed permutes the key order
                expect(same_tree(a, c) and pa_["ops"] != pc["ops"],
                       "analytics: another seed gives the same tables in another key order")
            else:
                expect(pa_ != pc or not same_tree(a, c),
                       f"{w}: another seed gives other inputs")
                expect(not same_tree(a, c), f"{w}: another seed gives other bytes")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(run_jvm_half):
    test_tail()
    test_self_times()
    test_seeds()
    rc = run_jvm_half()
    if rc != 0:
        FAILED.append("jvm self-tests")
    print(f"[selftest] {'FAILED: ' + ', '.join(FAILED) if FAILED else 'all passed'}")
    return 1 if FAILED else 0
