#!/usr/bin/env python3
"""Break the CPU samples of a perfbench run down by layer.

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

With --executor it keeps instead the samples of Spark's task threads
(`Executor task launch worker ...`). A sample with a DECOMPRESSION frame
anywhere in its stack counts as page decompression (parquet-mr copying a
compressed page out through its codec's stream, and the codecs). Any other
sample goes by its innermost frame that names one of the categories in
EXECUTOR_LAYERS, in the order listed there: parquet open/footer, parquet
decode, the generated row loop (whole-stage codegen), the batch kernel
(graft.binning.BatchBinner), tally (TileTally/TileCounter), shuffle,
serialization, Hadoop conf. Column vector accessors
(`org.apache.spark.sql.execution.vectorized`) are looked through, so a read
of a decoded vector counts for the loop that reads it. A sample with no
such frame counts as other.

Usage:
  python3 tools/jfr_layers.py SAMPLES.json [TOP]
  python3 tools/jfr_layers.py --executor SAMPLES.json

Prints one line per group, largest first (TOP lines, default 25): samples,
share of the main thread's in-pass samples (of all executor-thread
samples with --executor), group. The header gives the sample counts. See
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

EXECUTOR_THREAD = "Executor task launch worker"
# parquet-mr copying a compressed page out through its codec's stream, and
# the codecs; matched anywhere in a sample's stack, since the JIT inlines the
# copy loop into BytesInput.from under the decompressor
DECOMPRESSION = ("org.apache.parquet.bytes.BytesInput$StreamBytesInput",
                 "org.apache.parquet.hadoop.CodecFactory$HeapBytesDecompressor",
                 "org.apache.parquet.hadoop.codec.", "org.xerial.snappy.",
                 "org.apache.hadoop.io.compress.", "io.airlift.compress.",
                 "com.github.luben.zstd.")
PARQUET = "org.apache.spark.sql.execution.datasources.parquet."
# (category, class-name prefixes, method names or None for any method);
# a frame takes the first category it matches
EXECUTOR_LAYERS = (
    ("parquet open/footer", (PARQUET + "ParquetFooterReader", "org.apache.parquet.format.",
                             "org.apache.parquet.format.converter.", PARQUET + "ParquetFileFormat"),
     None),
    ("parquet open/footer", ("org.apache.parquet.hadoop.ParquetFileReader",),
     ("readFooter", "readFooterFromStream", "<init>", "open")),
    ("parquet open/footer", (PARQUET + "VectorizedParquetRecordReader", PARQUET + "SpecificParquetRecordReaderBase"),
     ("initialize", "initBatch")),
    ("parquet decode", (PARQUET, "org.apache.parquet."), None),
    ("generated row loop", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",
                            "org.apache.spark.sql.execution.ColumnarToRowExec",
                            "org.apache.spark.sql.execution.BufferedRowIterator"), None),
    ("batch kernel", ("graft.binning.BatchBinner",), None),
    ("tally", ("graft.binning.TileTally", "graft.binning.TileCounter"), None),
    ("shuffle", ("org.apache.spark.shuffle.", "org.apache.spark.storage.",
                 "org.apache.spark.util.collection."), None),
    ("serialization", ("org.apache.spark.serializer.", "com.esotericsoftware.kryo.",
                       "java.io.ObjectOutputStream", "java.io.ObjectInputStream"), None),
    ("Hadoop conf", ("org.apache.hadoop.conf.Configuration",), None),
)
LOOKED_THROUGH = ("org.apache.spark.sql.execution.vectorized.", "org.apache.spark.sql.vectorized.")


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


def executor_layer(frames):
    """The category of one executor-thread sample (frames innermost first)."""
    names = [frame_name(f) for f in frames]
    if any(cls.startswith(DECOMPRESSION) for cls, _ in names):
        return "page decompression"
    for cls, method in names:
        if cls.startswith(LOOKED_THROUGH):
            continue
        for layer, prefixes, methods in EXECUTOR_LAYERS:
            if cls.startswith(prefixes) and (methods is None or method in methods):
                return layer
    return "other"


def events(doc):
    return doc.get("recording", doc).get("events", [])


def main(argv):
    executor = len(argv) > 1 and argv[1] == "--executor"
    args = argv[2:] if executor else argv[1:]
    if len(args) not in (1, 2) or (executor and len(args) != 1):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    top = int(args[1]) if len(args) == 2 else 25
    with open(args[0], encoding="utf-8") as fh:
        doc = json.load(fh)
    total = 0
    groups = Counter()
    for ev in events(doc):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        values = ev["values"]
        thread = (values.get("sampledThread") or {}).get("javaName") or ""
        if not (thread.startswith(EXECUTOR_THREAD) if executor else thread == "main"):
            continue
        total += 1
        frames = (values.get("stackTrace") or {}).get("frames") or []
        g = executor_layer(frames) if executor else group(frames)
        if g is not None:
            groups[g] += 1
    counted = sum(groups.values())
    if executor:
        print("executor threads: %d samples" % total)
    else:
        print("main thread: %d samples, %d inside a pass" % (total, counted))
    for g, n in groups.most_common(top):
        print("%7d  %5.1f%%  %s" % (n, 100.0 * n / max(counted, 1), g))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
