"""Build file of the benchmark package.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes, using
the Scala compiler and the jars of the Spark distribution the engine's
build.sbt compiles against (its `unmanagedBase` directory).
A content hash of every source file is kept next to the classes, so a
checkout is compiled once and recompiled only when a source changes.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
SCALAC_OPTS = ("-encoding", "UTF-8", "-nowarn")


def spark_jars(root):
    """The jar directory build.sbt names as `unmanagedBase`."""
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("no unmanagedBase jar directory in %s/build.sbt" % root)
    return m.group(1)


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Return the classes directory, compiling first if any source changed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no engine sources (src/main/scala) under %s" % root)
    files = sources(root)
    want = stamp(root, files)
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(root), "*")
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
           "scala.tools.nsc.Main", *SCALAC_OPTS, "-classpath", cp, "-d", tmp, *files]
    subprocess.run(cmd, check=True, cwd=root, stdout=log, stderr=log)
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
