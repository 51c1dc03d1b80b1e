#!/usr/bin/env python3
"""Tiny-scale smoke of the benchmark (about four minutes on 4 cores).

    python3 perfbench/smoke.py

Run from the repository root.  Runs every workload at a tiny size (the
leading rows of the lineitem and documents slices, roughly TPC-H scale
factor 0.001, and 2000 F1 token rows), untraced and traced, and requires
each run to be correct and to report every declared metric, none of them
0.  Codec counts and kernel metrics are exempt from the non-zero check:
the selector's picks depend on the window size (RANK on ``l_orderkey``
needs windows of ~35k rows), so at this size some read 0 that are
non-zero at full size.  Then it plants a wrong expected decode checksum
and requires that exactly that op is counted as failed.  Exits non-zero
on any mismatch.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import run

PICK_DEPENDENT = ("chunk.codec.", "kernels.")
TINY_ROWS = {"tokens": {"tokens": 2_000},
             "tables": {"lineitem": 6_000, "documents": 50}}


def tiny(name: str) -> run.Spec:
    return dataclasses.replace(run.WORKLOADS[name], rows=TINY_ROWS[name])


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke FAILED: {what}")
    print(f"ok: {what}")


def main() -> int:
    root = os.getcwd()
    work = run.prepare_env(root)
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            declared = json.load(f)
        for name in run.WORKLOADS:
            for trace in (False, True):
                res = run.run(tiny(name), 1, 0, trace, work)
                check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                      f"{name} trace={int(trace)}: {res['attempted']} ops, all correct")
                kind = "per_layer" if trace else "end_to_end"
                check(set(res["metrics"]) == {m["name"] for m in declared[kind]},
                      f"{name} trace={int(trace)}: exactly the declared {kind} metrics")
                zero = sorted(k for k, v in res["metrics"].items() if v["value"] == 0
                              and not k.startswith(PICK_DEPENDENT))
                check(not zero, f"{name} trace={int(trace)}: no metric reads 0 {zero}")

        spec = tiny("tokens")
        sess = run.Session(work, False)
        try:
            spark = sess.start()
            st = run.stage(spark, spec, 1, work)
            honest = run.Runner(sess, spec, st, work)
            honest.rep(timed=True)
            check(honest.failed == 0, "tokens rep passes with the true checksum")
            rows, xor, total = st.checksums["tokens"]
            st.checksums["tokens"] = (rows, xor ^ 1, total)
            tampered = run.Runner(sess, spec, st, work)
            tampered.rep(timed=True)
            check(tampered.attempted == honest.attempted and tampered.failed == 1,
                  "a wrong expected checksum counts as exactly one failed op")
        finally:
            sess.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("smoke passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
