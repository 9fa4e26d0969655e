#!/usr/bin/env python3
"""Final-measurement summary over the close-out chain's artifacts.

Reads the paired per-query medians (BENCH_LAST.json = Spark 1x,
BENCH_REF.json = DuckDB 1x), BENCH_10X.json and BENCH_100X.json, and
prints the tables an OPTIMIZATION_r<N>.md quotes: suite totals, the
comparable-work split, per-family totals, the worst paired ratios, and
growth outliers.

  - spark-side errors (BENCH_LAST "errors" list) are excluded from the
    common set, and duck legs of exactly 0 are guarded;
  - the comparable-work split (duck >= 0.1 s) is computed explicitly —
    count + ratio for BOTH sets — and the worst-ratio/above-2x listings
    are restricted to the comparable set (the final-state oracles'
    ratios measure declared semantics, not plan quality).

Usage: tools/summarize.py [repo_dir]
"""
import json
import os
import sys

COMPARABLE_DUCK_SEC = 0.1


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    spark = json.load(open(os.path.join(root, "BENCH_LAST.json")))
    duck = json.load(open(os.path.join(root, "BENCH_REF.json")))
    sq, dq = spark["queries"], duck.get("queries") or duck.get("per")
    derr = duck.get("errors") or {}
    serr = set(spark.get("errors") or [])
    common = sorted(k for k in sq if k in dq and k not in derr
                    and k not in serr and dq[k] is not None)
    st = sum(sq[k] for k in common)
    dt = sum(dq[k] for k in common)
    print(f"paired 1x: n={len(common)} spark={st:.1f}s duck={dt:.1f}s "
          f"ratio={st / dt if dt else float('nan'):.3f}x "
          f"(spark_err={sorted(serr) or 'none'})")
    comp = [k for k in common if dq[k] >= COMPARABLE_DUCK_SEC]
    fin = [k for k in common if dq[k] < COMPARABLE_DUCK_SEC]
    for label, ks in (("comparable-work (duck>=0.1s)", comp),
                      ("final-state/store-demo (duck<0.1s)", fin)):
        s = sum(sq[k] for k in ks)
        d = sum(dq[k] for k in ks)
        r = s / d if d else float("nan")
        print(f"  {label}: n={len(ks)} spark={s:.1f} duck={d:.1f} "
              f"ratio={r:.2f}x")
    fam = {}
    for k in common:
        f = fam.setdefault(k[0], [0.0, 0.0, 0])
        f[0] += sq[k]
        f[1] += dq[k]
        f[2] += 1
    for f, (s, d, n) in sorted(fam.items()):
        print(f"  family {f}: n={n} spark={s:.1f} duck={d:.1f} "
              f"ratio={s / d if d else float('nan'):.2f}x")
    rows = sorted(((sq[k] / dq[k], k) for k in comp if dq[k] > 0),
                  reverse=True)
    print("worst paired ratios (comparable-work set only):")
    for r, k in rows[:20]:
        print(f"  {r:5.2f}x {k:28s} spark={sq[k]:6.2f} duck={dq[k]:6.2f}")
    above = [(k, round(r, 2)) for r, k in rows if r > 2.0]
    print(f"comparable-work queries above 2.0x ({len(above)}): "
          f"{above if above else 'none'}")

    p10 = os.path.join(root, "BENCH_10X.json")
    if os.path.exists(p10):
        b10 = json.load(open(p10))
        print(f"10x: suite={b10.get('suite')} "
              f"superlinear_spark={b10.get('superlinear_spark')}")
        g = [(v.get("spark_growth"), k) for k, v in
             (b10.get("queries") or {}).items()
             if isinstance(v, dict) and v.get("spark_growth")]
        g.sort(reverse=True)
        print("  worst spark growth at 10x:")
        for v, k in g[:8]:
            print(f"    {v:5.2f}x {k}")

    p100 = os.path.join(root, "BENCH_100X.json")
    if os.path.exists(p100):
        b100 = json.load(open(p100))
        print(f"100x: {json.dumps(b100)[:600]}")


if __name__ == "__main__":
    main()
