"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py      # from the root of a checkout

For every workload in BENCHMARK.json, at 2 % of the benchmark's input size:
- a plain run prints every end-to-end metric with its unit, and every
  correctness check passes;
- a traced run prints every per-layer metric with its unit;
- a run with a deliberately wrong expected answer in every check still
  exits 0 and reports the failures (correct false, failed > 0).
Then a directory holding only BENCHMARK.json and the benchmark's files
must make the benchmark exit non-zero without printing a result.
Exits 0 when all of this holds.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = ["python3", "perfbench/run.py"]


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, r, err = run(["--workload", w, "--seed", "7", "--seconds", "1",
                                "--trace", str(trace), "--scale", "0.02"])
            tag = "%s trace=%d" % (w, trace)
            expect(code == 0 and r is not None, tag + ": exits 0 with a result" +
                   ("" if code == 0 else "\n" + err[-3000:]))
            if r is None:
                continue
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            expect(got == want[trace], tag + ": every metric printed with its unit")
            expect(all(isinstance(v.get("value"), (int, float)) for v in r["metrics"].values()),
                   tag + ": every value is a number")
            expect(r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1,
                   tag + ": every correctness check passes")
        code, r, _ = run(["--workload", w, "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--scale", "0.02", "--fault", "1"])
        expect(code == 0 and r is not None and r["correct"] is False and r["failed"] > 0,
               w + ": a wrong expected total is reported as failed operations")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    first = bench["workloads"][0]["name"]
    code, r, _ = run(["--workload", first, "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and r is None, "without the engine's sources: non-zero exit, no result")

    print("%d problem(s)" % len(problems))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
