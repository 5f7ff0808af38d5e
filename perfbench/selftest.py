"""Self-test of the benchmark's correctness check, at the smallest scale.

    python3 perfbench/selftest.py

Runs two scan operations on a 2,000-row table through the benchmark's own
loop, the second with a deliberately corrupted expected checksum, and
exits 0 only if the first passes and the second is reported as a failed
operation (``correct`` false, ``failed`` 1). It also checks, without
Spark, that the checksum ignores row order and that a single changed
value of every column kind is caught.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import expect as X  # noqa: E402
import gen as G  # noqa: E402


def offline_checks() -> list[str]:
    errors = []
    pdf = pd.DataFrame({"i": [1, 2, 3], "f": [0.5, 1.5, 2.25], "s": ["a", "b", "c"], "b": [b"x", b"y", b"z"]})
    base = X.checksum(pdf)
    if X.compare(X.checksum(pdf.iloc[::-1]), base) is not None:
        errors.append("checksum depends on row order")
    for col, new in (("i", 4), ("f", 0.75), ("s", "d"), ("b", b"w")):
        bad = pdf.copy()
        bad.loc[1, col] = new
        if X.compare(X.checksum(bad), base) is None:
            errors.append(f"a changed {col!r} value went unnoticed")
    if X.compare(X.checksum(pdf.iloc[:2]), base) is None:
        errors.append("a missing row went unnoticed")
    return errors


def spark_check() -> list[str]:
    import ops as O
    import run as R

    out = HERE.parent / ".perfbench_out" / f"selftest-{os.getpid()}"
    if not R.prepare(out):
        return ["the engine is not importable"]
    G.SCAN_ROWS = 2_000
    try:
        inp = G.gen_scan(1, str(out / "inputs"))
        ops = O.scan_ops(inp)[:2]
        k, v = ops[1].want["doc_id"]
        ops[1].want = {**ops[1].want, "doc_id": (k, v + 1)}  # the corruption
        runner = R.Runner(ops, out)
        spark = R.start_spark("selftest", out, False)
        try:
            _, recs = runner.run_pass(spark, "selftest")
        finally:
            R.stop_spark(spark)
            R.shutdown_jvm()
        res = R._result([recs], {"ok_frac": 1.0})
    finally:
        shutil.rmtree(out, ignore_errors=True)
    errors = []
    if not recs[0]["ok"]:
        errors.append(f"the uncorrupted operation failed: {recs[0]['reason']}")
    if recs[1]["ok"]:
        errors.append("the corrupted expected value was not reported")
    if res["correct"] or res["failed"] != 1 or res["attempted"] != 2:
        errors.append(f"result summary wrong: {res}")
    return errors


def main() -> int:
    errors = offline_checks() + spark_check()
    for e in errors:
        print("SELFTEST FAILED:", e, file=sys.stderr)
    print("selftest " + ("failed" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
