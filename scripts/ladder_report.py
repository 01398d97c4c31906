#!/usr/bin/env python3
"""Scale-ladder report: compare two graft.Bench output files (a 1x run and
a kx run over a ScaleUp-derived dataset) and print per-query scaling
factors for wall time, CPU time, and shuffle bytes, flagging queries whose
cost curve is super-linear in the data scale.

This is measurement tooling (like check_oracle.py), not part of the
library: the engine itself is pure Scala/Spark.

Usage: ladder_report.py <bench_1x.json> <bench_kx.json> <k> [--cpu-max F]

Each input is the file graft.Bench writes via SPARK_GRAFT_BENCH_OUT: a
summary line with the queries (name -> wall sec) map plus a
{"detail":"per_query", ...} line with cpu_sec/shuffle_write_bytes maps.
Records written before the queries map moved to the summary line carry it
on the detail line; both are read.

A query is flagged when shuffle bytes grow faster than `k * SHUFFLE_SLACK`
(shuffle volume should be ~linear in rows for every operator whose plan
is scale-safe) or CPU grows faster than `k * cpu_max` (CPU may legitimately
grow a bit faster than rows: text is 1.5x longer per the ScaleUp prefix,
log-factors in sorts, and bigger-than-cache working sets).
"""
import json
import sys

SHUFFLE_SLACK = 2.0


def load(path):
    detail = None
    summary = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if d.get("detail") == "per_query":
                detail = d
            elif d.get("metric") == "total":
                summary = d
    if detail is None:
        raise SystemExit(f"{path}: no per_query detail line")
    if "queries" not in detail:
        detail["queries"] = summary["queries"]
    return summary, detail


def main():
    base_path, kx_path, k = sys.argv[1], sys.argv[2], float(sys.argv[3])
    cpu_max = 3.0
    if "--cpu-max" in sys.argv:
        cpu_max = float(sys.argv[sys.argv.index("--cpu-max") + 1])
    s1, d1 = load(base_path)
    sk, dk = load(kx_path)

    if s1 and sk:
        print(f"total wall: {s1['value']:.1f}s -> {sk['value']:.1f}s "
              f"({sk['value'] / s1['value']:.1f}x for {k:g}x data)")
        if sk.get("failed"):
            print(f"FAILED at {k:g}x: {sk['failed']}")

    rows = []
    for q, w1 in d1["queries"].items():
        wk = dk["queries"].get(q)
        if wk is None or w1 <= 0 or wk <= 0:
            continue
        c1, ck = d1["cpu_sec"].get(q, 0), dk["cpu_sec"].get(q, 0)
        b1, bk = (d1["shuffle_write_bytes"].get(q, 0),
                  dk["shuffle_write_bytes"].get(q, 0))
        rows.append({
            "q": q, "wall_f": wk / w1,
            "cpu_f": ck / c1 if c1 > 0.05 else None,
            "shuf_f": bk / b1 if b1 > 1 << 20 else None,
            "wall_kx": wk, "cpu_kx": ck, "shuf_kx_mb": bk / 2**20,
        })

    flagged = []
    for r in rows:
        why = []
        if r["shuf_f"] is not None and r["shuf_f"] > k * SHUFFLE_SLACK:
            why.append(f"shuffle {r['shuf_f']:.0f}x")
        if r["cpu_f"] is not None and r["cpu_f"] > k * cpu_max:
            why.append(f"cpu {r['cpu_f']:.0f}x")
        if why:
            flagged.append((r, why))

    print(f"\n{len(rows)} queries compared; {len(flagged)} flagged "
          f"(shuffle > {k * SHUFFLE_SLACK:g}x on >1MiB bases, "
          f"cpu > {k * cpu_max:g}x on >50ms bases)")
    for r, why in sorted(flagged, key=lambda x: -x[0]["wall_kx"]):
        print(f"  {r['q']:34s} {r['wall_kx']:8.1f}s  {', '.join(why)}")

    print(f"\ntop 15 by wall at {k:g}x:")
    for r in sorted(rows, key=lambda x: -x["wall_kx"])[:15]:
        cf = f"{r['cpu_f']:.0f}x" if r["cpu_f"] is not None else "-"
        sf = f"{r['shuf_f']:.0f}x" if r["shuf_f"] is not None else "-"
        print(f"  {r['q']:34s} wall {r['wall_kx']:7.1f}s ({r['wall_f']:5.1f}x)"
              f"  cpu {r['cpu_kx']:8.1f}s ({cf:>5s})"
              f"  shuffle {r['shuf_kx_mb']:9.1f}MB ({sf:>5s})")


if __name__ == "__main__":
    main()
