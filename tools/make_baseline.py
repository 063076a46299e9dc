#!/usr/bin/env python3
"""Build BENCH_BASELINE_F4.json from one or more format-4 bench detail
artifacts: per-query baseline floor = min over all inputs of that
query's spread minimum. A host stall can only inflate a minimum, so
every run's minima are floor material. All inputs must share one sf
and one "cpus" (a floor is a reference only at the core count it was
taken at; Bench ignores a floor file whose cpus differs from its
run's). Usage:
  make_baseline.py out.json detail1.json [detail2.json ...]
"""
import json, sys

out, inputs = sys.argv[1], sys.argv[2:]

floors, sf, cpus = {}, None, None
for path in inputs:
    d = json.load(open(path))
    if d.get("format") != 4:
        sys.exit(f"{path}: format {d.get('format')} != 4 — pre-format-4 "
                 "numbers are void (count()-pruned plans)")
    sf = sf or d.get("sf")
    if d.get("sf") != sf:
        sys.exit(f"{path}: sf {d.get('sf')} != {sf}")
    if d.get("cpus") is None:
        sys.exit(f"{path}: no cpus — floors of unknown core count")
    cpus = cpus or d["cpus"]
    if d["cpus"] != cpus:
        sys.exit(f"{path}: cpus {d['cpus']} != {cpus}")
    spread = d.get("spread", {})
    for name, med in d.get("queries", {}).items():
        if med is None or med < 0:
            continue  # errored query: no baseline
        lo = spread.get(name, [med, med])[0]
        floors[name] = min(floors.get(name, lo), lo)

json.dump({"format": 4, "sf": sf, "cpus": cpus, "inputs": inputs,
           "queries": dict(sorted(floors.items()))},
          open(out, "w"), indent=1)
print(f"wrote {out}: {len(floors)} query floors from {len(inputs)} run(s)")
