#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine):

1. the same seed gives byte-identical inputs, another seed different ones;
2. the oracle agrees with the engine on a tiny doc->tile input, hot and
   uniform;
3. a deliberately wrong row in a committed stage is caught and raises
   failed_frac, and so is a query-mix row count off by one.

    python3 perfbench/selftest.py      # from the repository root
"""
import argparse
import hashlib
import os
import random
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

TINY = dict(run.PIP, docs=3000, hot_threshold=100)
failures = []


def expect(name, ok, detail=""):
    print(f"{'PASS' if ok else 'FAIL'} {name}{': ' + detail if detail and not ok else ''}")
    if not ok:
        failures.append(name)


def sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_determinism(tmp):
    def docs(sub, seed):
        d = os.path.join(tmp, sub)
        gen.write_docs(d, seed, 2000, True, 200)
        return [sha(os.path.join(d, f)) for f in ("docs.parquet", "regions.parquet")]

    a, b, c = docs("a", 5), docs("b", 5), docs("c", 6)
    expect("same seed, byte-identical docs and regions", a == b)
    expect("different seed, different docs and regions", a[0] != c[0] and a[1] != c[1])

    def tables(sub):
        d = os.path.join(tmp, sub)
        gen.write_mix_tables(d, run.MIX_TABLE_SEED)
        return {f: sha(os.path.join(d, f)) for f in sorted(os.listdir(d))}

    expect("mix tables byte-identical across generations", tables("m1") == tables("m2"))
    names = [n for n, _ in run.MIX]

    def order(seed):
        o = names[:]
        random.Random(seed).shuffle(o)
        return o

    expect("same seed, same query order", order(3) == order(3))
    expect("different seed, different query order", order(3) != order(4))


def fraction_failed(args, res, expected):
    jobs = run.check(args, res, expected)
    return sum(not j["correct"] for j in jobs) / len(jobs)


def test_engine(root, out, classpath):
    for workload in ("pip_hot", "pip_uniform"):
        args = argparse.Namespace(workload=workload, seed=5, seconds=0.0, trace=0)
        payload, res, _, expected, work = run.measure(args, root, out, classpath, pip=TINY)
        expect(f"{workload}: engine agrees with the oracle on {TINY['docs']} docs",
               payload["correct"] and payload["failed"] == 0 and expected[0] > 0,
               f"{payload} expected={expected}")
        expect(f"{workload}: failed_frac is 0 on correct output",
               fraction_failed(args, res, expected) == 0.0)
        # one wrong row: a copy of a committed row with another region id
        stage = res["passes"][0]["jobs"][0]["stage_dir"]
        data = os.path.join(stage, "data")
        con = oracle.connect(threads=1)
        con.execute(f"COPY (SELECT doc_id, \"offset\", region_id + 1 AS region_id, tile "
                    f"FROM read_parquet('{data}/*.parquet') LIMIT 1) "
                    f"TO '{data}/part-wrong.parquet' (FORMAT PARQUET)")
        frac = fraction_failed(args, res, expected)
        expect(f"{workload}: a wrong row raises failed_frac", frac > 0.0, f"failed_frac={frac}")
        shutil.rmtree(work, ignore_errors=True)

    args = argparse.Namespace(workload="query_mix", seed=5, seconds=0.0, trace=0)
    name = run.MIX[0][0]
    res = {"passes": [{"jobs": [{"name": name, "ok": True, "rows": 7, "error": ""}]}]}
    expect("query_mix: matching row count passes", fraction_failed(args, res, {name: 7}) == 0.0)
    expect("query_mix: a row count off by one raises failed_frac",
           fraction_failed(args, res, {name: 8}) == 1.0)


def main():
    root, out, classpath = run.prepare()
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=out)
    try:
        test_determinism(tmp)
        test_engine(root, out, classpath)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} failing")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
