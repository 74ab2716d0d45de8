#!/usr/bin/env python3
"""Runs each workload untraced and traced with one seed and prints the
traced run's attribution table (build / plan / exec / commit per pip job
and per mix query) with the tracing overhead against the untraced run.

    python3 perfbench/report.py --seed 1 [--seconds 8] [--workload pip_hot ...]
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402

COLUMNS = [("functions.parse", "parse"), ("sj.build", "sj.build"), ("sj.exec", "sj.exec"),
           ("io.commit", "commit"), ("entry.build", "build"), ("spark.plan", "plan"),
           ("spark.exec", "exec"), ("other_s", "other")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--workload", nargs="*", default=list(run.WORKLOADS))
    opts = ap.parse_args()
    root, out, classpath = run.prepare()
    for w in opts.workload:
        figures = {}
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=opts.seed, seconds=opts.seconds, trace=trace)
            payload, _, _, _, work = run.measure(args, root, out, classpath)
            shutil.rmtree(work, ignore_errors=True)
            figures[trace] = {k: v["value"] for k, v in payload["metrics"].items()}
        trace = json.load(open(os.path.join(out, "trace", f"{w}-seed{opts.seed}.json")))
        table = trace["attribution"]
        used = [(k, h) for k, h in COLUMNS if any(k in r for r in table)]
        plain, traced = figures[0]["pass_s"], figures[1]["trace.pass_s"]
        print(f"\n## {w} (seed {opts.seed})")
        print(f"untraced pass {plain:.3f} s, traced pass {traced:.3f} s, "
              f"tracing overhead {traced / plain - 1:+.1%}, "
              f"attributed to named layers {figures[1]['trace.attributed_frac']:.1%}")
        print("| job | wall_s | " + " | ".join(h for _, h in used) + " |")
        print("|---" * (len(used) + 2) + "|")
        for r in table:
            print(f"| {r['job']} | {r['wall_s']:.3f} | "
                  + " | ".join(f"{r.get(k, 0.0):.3f}" for k, _ in used) + " |")


if __name__ == "__main__":
    main()
