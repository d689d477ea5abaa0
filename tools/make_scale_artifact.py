#!/usr/bin/env python3
"""Assemble a scale-sweep artifact (BENCH_SF1/BENCH_SF3-style) from two
Bench subset runs (the small-scale and the big-scale BENCH_SUBSET.json,
copied aside), dividing per-query times and output-row counts (Bench
records every query's rows) — so every superlinear time ratio can be
adjudicated against output growth in the same file.

Usage:
  python3 tools/make_scale_artifact.py small.json big.json SCALE OUT.json DESC
"""
import json
import sys


def main():
    small, big, scale, out, desc = sys.argv[1:6]
    a = json.load(open(small))
    b = json.load(open(big))
    qs = [q for q in a["queries"] if q in b["queries"]]
    ratios = {q: round(b["queries"][q] / a["queries"][q], 2) for q in qs}
    doc = {
        "metric": f"sf_scale_ratio_x{scale}",
        "description": desc,
        "data_scale_factor": int(scale),
        "total_small_sec": round(sum(a["queries"][q] for q in qs), 3),
        "total_big_sec": round(sum(b["queries"][q] for q in qs), 3),
        "total_ratio": round(
            sum(b["queries"][q] for q in qs) /
            sum(a["queries"][q] for q in qs), 2),
        "n_queries": len(qs),
        "n_errors": b.get("n_errors", 0),
        "max_ratio": max(ratios.values()),
        "max_ratio_query": max(ratios, key=ratios.get),
        "loadavg": {"small_start": a.get("loadavg_start"),
                    "big_start": b.get("loadavg_start")},
        "queries_small": {q: a["queries"][q] for q in qs},
        "queries_big": {q: b["queries"][q] for q in qs},
        "ratios": dict(sorted(ratios.items(), key=lambda x: -x[1])),
    }
    if "rows" in a and "rows" in b:
        doc["rows_small"] = {q: a["rows"][q] for q in qs if q in a["rows"]}
        doc["rows_big"] = {q: b["rows"][q] for q in qs if q in b["rows"]}
        # max(1, .) on BOTH sides: a query that legitimately returns 0
        # rows at both scales (e.g. a capped top-k over a filter with no
        # survivors) has growth 1, not 0 — otherwise its
        # time_per_output_ratio explodes into a false alarm
        doc["output_growth"] = {
            q: round(max(1, b["rows"][q]) / max(1, a["rows"][q]), 2)
            for q in qs if q in a.get("rows", {}) and q in b.get("rows", {})}
        # time ratio normalized by output growth: <= ~1 means per-row
        # cost did not rise with scale
        doc["time_per_output_ratio"] = {
            q: round(ratios[q] / max(0.01, doc["output_growth"][q]), 2)
            for q in doc["output_growth"]}
    json.dump(doc, open(out, "w"), indent=1)
    print(f"{out}: total {doc['total_ratio']}x over {len(qs)} queries, "
          f"max {doc['max_ratio']}x ({doc['max_ratio_query']})")


if __name__ == "__main__":
    main()
