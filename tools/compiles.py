#!/usr/bin/env python3
"""Count Spark's generated-code compiles in a log, per benchmark unit.

    python3 tools/compiles.py <log> [--by chunk|phase]

Each Janino compile logs one `Code generated in N ms` line from
`CodeGenerator` (at DEBUG). The log must also hold `FileScanRDD`'s INFO
`Reading File path: ...` lines: they mark where a unit of work starts.

  --by chunk  (default) a `taxi_mapmatch` unit is the chunk whose
              `chunk_K.tsv` is read;
  --by phase  a `transit_history` unit is the step whose input is read:
              gtfs (the extracted feed, `gtfs_feed/`), trips (the AVL
              `.stp` files, `routeEquiv.csv` or the stored schedule) and
              aggregate (the stored `trips` or `route_day` table).

Compiles before the first marker count under `setup`. A unit that starts
again after another one (a second pass) is counted apart, as `<unit> #2`.
Prints one `<unit> <classes> <ms>` row per unit in log order, then the
total.
"""
import argparse
import re
import sys

COMPILE = re.compile(r"Code generated in ([0-9.]+) ms")
READ = re.compile(r"Reading File path: (\S+)")
CHUNK = re.compile(r"chunk_(\d+)\.tsv")
PHASES = (("gtfs", re.compile(r"/gtfs_feed/")),
          ("trips", re.compile(r"\.stp\b|/routeEquiv\.csv|/schedule/")),
          ("aggregate", re.compile(r"/(trips|route_day)/")))


def unit_of(path, by):
    """The unit a file read marks, or None when it marks none."""
    if by == "chunk":
        m = CHUNK.search(path)
        return f"chunk {int(m.group(1))}" if m else None
    return next((name for name, p in PHASES if p.search(path)), None)


def count(lines, by):
    """[(unit, classes, ms)] in log order."""
    units = [["setup", 0, 0.0]]
    seen = {"setup": 1}
    base = "setup"
    for line in lines:
        m = COMPILE.search(line)
        if m:
            units[-1][1] += 1
            units[-1][2] += float(m.group(1))
            continue
        m = READ.search(line)
        unit = unit_of(m.group(1), by) if m else None
        if unit is None or unit == base:
            continue
        base = unit
        seen[unit] = seen.get(unit, 0) + 1
        units.append([unit if seen[unit] == 1 else f"{unit} #{seen[unit]}", 0, 0.0])
    return [tuple(u) for u in units if u[0] != "setup" or u[1]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--by", choices=("chunk", "phase"), default="chunk")
    args = ap.parse_args()
    with open(args.log, errors="replace") as fh:
        rows = count(fh, args.by)
    for unit, n, ms in rows:
        print(f"{unit} {n} {ms:.0f}")
    print(f"total {sum(r[1] for r in rows)} {sum(r[2] for r in rows):.0f}")


if __name__ == "__main__":
    sys.exit(main())
