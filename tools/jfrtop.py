#!/usr/bin/env python3
"""Summarize the execution samples of a Java Flight Recorder recording.

    python3 tools/jfrtop.py <recording.jfr> [--from S --to S] [--under CLASS] [--top N]

Reads the recording's `jdk.ExecutionSample` events through the JDK's
`jfr print --json --stack-depth 600` and prints:
  - the samples per thread group (thread names with digits folded to N and
    Spark's "for task ..." suffix cut, so all task threads are one group);
  - the top leaf frames and the top inclusive frames (a frame counts once
    per sample in which it appears anywhere on the stack);
  - with `--under CLASS`, the samples with a frame of a class whose name
    contains CLASS, per thread group, and their first callers outside
    CLASS: the frame just below the outermost CLASS frame.
`--from` and `--to` keep the samples taken within that many seconds of
the first sample. Frames print as `Class.method`.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys


def parse_time(s):
    """Seconds since the epoch of a JFR timestamp such as
    2026-10-19T02:14:58.624381195Z (UTC, nanosecond digits)."""
    whole, _, frac = s.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(whole).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + float("0." + (frac or "0"))


def group_of(name):
    """The thread group a thread name belongs to."""
    name = re.sub(r" for task .*", "", name or "?")
    return re.sub(r"\d+", "N", name)


def frame_name(f):
    """`Class.method` of a stack frame."""
    m = f.get("method") or {}
    return f"{(m.get('type') or {}).get('name', '?').replace('/', '.')}.{m.get('name', '?')}"


def samples(path):
    """(time, thread group, frames leaf first) per execution sample."""
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "600",
                          "--events", "jdk.ExecutionSample", path],
                         check=True, stdout=subprocess.PIPE).stdout
    events = json.loads(out)["recording"]["events"]
    for e in events:
        v = e["values"]
        thread = v.get("sampledThread") or {}
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        yield parse_time(v["startTime"]), group_of(thread.get("javaName") or thread.get("osName")), frames


def table(title, counts, total, top):
    print(f"\n{title}")
    for name, n in counts.most_common(top):
        print(f"{n:8d} {100.0 * n / max(total, 1):5.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--from", dest="start", type=float, default=None)
    ap.add_argument("--to", dest="end", type=float, default=None)
    ap.add_argument("--under", default=None)
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()

    rows = sorted(samples(a.recording))
    if not rows:
        sys.exit("no execution samples in the recording")
    t0 = rows[0][0]
    rows = [r for r in rows
            if (a.start is None or r[0] - t0 >= a.start) and (a.end is None or r[0] - t0 <= a.end)]
    total = len(rows)
    print(f"{total} samples over {rows[-1][0] - rows[0][0]:.1f} s" if rows else "0 samples")

    groups = collections.Counter(g for _, g, _ in rows)
    leaves = collections.Counter(fs[0] for _, _, fs in rows if fs)
    inclusive = collections.Counter(f for _, _, fs in rows for f in set(fs))
    table("samples per thread group", groups, total, a.top)
    table("top leaf frames", leaves, total, a.top)
    table("top inclusive frames", inclusive, total, a.top)

    if a.under:
        def inside(f):
            return a.under in f.rsplit(".", 1)[0]
        under = collections.Counter()
        callers = collections.Counter()
        for _, g, fs in rows:
            hits = [i for i, f in enumerate(fs) if inside(f)]
            if not hits:
                continue
            under[g] += 1
            outer = hits[-1] + 1
            callers[fs[outer] if outer < len(fs) else "(stack root)"] += 1
        n = sum(under.values())
        table(f"samples under {a.under} per thread group ({n} in all)", under, total, a.top)
        table(f"first callers outside {a.under}", callers, n, a.top)


if __name__ == "__main__":
    main()
