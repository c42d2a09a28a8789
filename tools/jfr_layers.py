#!/usr/bin/env python3
"""Break the driver thread's CPU samples of a perfbench run down by layer.

Reads the JSON that `jfr print --json --stack-depth 256 --events
jdk.ExecutionSample REC.jfr` writes for a flight recording of
`perfbench.Main`, keeps the samples of the `main` thread (the benchmark
thread, which is also Spark's driver), and groups each sample that lies
under a workload pass (`perfbench.E1.pass`, `perfbench.Explore.pass`) by
the first engine (`graft.`) or benchmark (`perfbench.`) frame below the
pass. The pass's own plumbing is looked through: the workload classes,
`perfbench.Collector` (the span timer) and `perfbench.Tally`, and their
lambdas. A sample with no such frame below the pass counts as the pass's
self time.

Usage:
  python3 tools/jfr_layers.py SAMPLES.json [TOP]

Prints one line per group, largest first (TOP lines, default 25): samples,
share of the main thread's in-pass samples, group. The header gives the
main thread's sample count and how many of them lie inside a pass. See
the verify skill for the recording recipe.
"""
import json
import re
import sys
from collections import Counter

PASSES = {("perfbench.E1", "pass"), ("perfbench.Explore", "pass")}
PLUMBING = ("perfbench.E1", "perfbench.Explore", "perfbench.Workload",
            "perfbench.Collector", "perfbench.Tally")
LAMBDA = re.compile(r"\$anonfun\$(.+?)\$\d+(\$adapted)?$")


def frame_name(frame):
    """(class, method) of one JFR stack frame, class names dotted and
    Scala's lambda methods named after the method that holds them."""
    method = frame["method"]
    cls = method["type"]["name"].replace("/", ".")
    name = method["name"]
    m = LAMBDA.search(name)
    return cls, m.group(1) if m else name


def is_plumbing(cls):
    return any(cls == p or cls.startswith(p + "$") for p in PLUMBING)


def group(frames):
    """The layer of one sample (frames innermost first), or None when the
    sample lies under no pass."""
    names = [frame_name(f) for f in reversed(frames)]
    start = next((i for i, n in enumerate(names) if n in PASSES), None)
    if start is None:
        return None
    for cls, method in names[start + 1:]:
        if cls.startswith(("graft.", "perfbench.")) and not is_plumbing(cls):
            return "%s.%s" % (cls, method)
    return "%s.%s (self)" % names[start]


def events(doc):
    return doc.get("recording", doc).get("events", [])


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    top = int(argv[2]) if len(argv) == 3 else 25
    with open(argv[1], encoding="utf-8") as fh:
        doc = json.load(fh)
    total = 0
    groups = Counter()
    for ev in events(doc):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        values = ev["values"]
        thread = values.get("sampledThread") or {}
        if thread.get("javaName") != "main":
            continue
        total += 1
        trace = values.get("stackTrace") or {}
        g = group(trace.get("frames") or [])
        if g is not None:
            groups[g] += 1
    in_pass = sum(groups.values())
    print("main thread: %d samples, %d inside a pass" % (total, in_pass))
    for g, n in groups.most_common(top):
        print("%7d  %5.1f%%  %s" % (n, 100.0 * n / in_pass, g))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
