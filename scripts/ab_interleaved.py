#!/usr/bin/env python
"""Interleaved A/B for a runtime SQL conf (r16): one session, passes
alternate conf values A,B,A,B,... so host-speed drift (this box swings
4x in minutes) hits both arms equally. Operator caches are cleared
between passes exactly like bench.py. Reports per-query medians per arm
and the paired per-pass ratios.

Usage: python scripts/ab_interleaved.py --conf KEY --a VAL --b VAL
       --queries q1,q2,... [--passes 6] [--sf-dir DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path
from statistics import median

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True)
    ap.add_argument("--a", required=True)
    ap.add_argument("--b", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--passes", type=int, default=6)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import pandas as pd  # noqa: F401

    import __spark_entry__ as entry_mod
    from csv_etl_spark import get_spark
    from csv_etl_spark.operators._cache import clear_all
    from pyspark.sql import functions as F

    spark = get_spark("ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    names = [n for n in args.queries.split(",") if n in queries]

    @F.pandas_udf("long")
    def _noop(s):
        return s

    spark.range(0, 1024, 1, 32).select(_noop(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    import numpy as _np

    cal_A = _np.arange(512 * 512, dtype="float64").reshape(512, 512) / 1e6

    def cal() -> float:
        t0 = time.perf_counter()
        (cal_A @ cal_A).sum()
        return round((time.perf_counter() - t0) * 1000, 2)

    arms = {"a": args.a, "b": args.b}
    times: dict[str, dict[str, list[float]]] = {
        k: {n: [] for n in names} for k in arms
    }
    cals: dict[str, list[float]] = {k: [] for k in arms}
    for p in range(args.passes):
        arm = "a" if p % 2 == 0 else "b"
        spark.conf.set(args.conf, arms[arm])
        for n in names:
            t0 = time.perf_counter()
            df = queries[n](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[arm][n].append(round(time.perf_counter() - t0, 3))
            cals[arm].append(cal())
        clear_all()
        print(f"pass {p} arm={arm} done", file=sys.stderr)

    report = {"conf": args.conf, "a": args.a, "b": args.b, "passes": args.passes}
    print(f"{'query':28s} {'A-med':>8s} {'B-med':>8s}  B/A   runs")
    per = {}
    for n in names:
        am, bm = median(times["a"][n]), median(times["b"][n])
        per[n] = {"a": times["a"][n], "b": times["b"][n], "a_med": am, "b_med": bm}
        print(
            f"{n:28s} {am:8.3f} {bm:8.3f} {bm/am:5.2f}  "
            f"A{[round(x,2) for x in times['a'][n]]} B{[round(x,2) for x in times['b'][n]]}"
        )
    ta = sum(median(times["a"][n]) for n in names)
    tb = sum(median(times["b"][n]) for n in names)
    print(f"TOTAL(A-med) {ta:.2f}  TOTAL(B-med) {tb:.2f}  B/A {tb/ta:.3f}")
    print(
        f"cal matmul med A {median(cals['a']):.1f}ms B {median(cals['b']):.1f}ms"
    )
    report["queries"] = per
    report["total_a"] = round(ta, 3)
    report["total_b"] = round(tb, 3)
    report["cal_a_ms"] = round(median(cals["a"]), 2)
    report["cal_b_ms"] = round(median(cals["b"]), 2)
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
