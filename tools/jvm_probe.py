#!/usr/bin/env python3
"""Diagnostic launcher: runs a benchmark workload for N ops in one JVM with
extra JVM flags and prints each op's latency and the number of classes
Spark's code generator compiled during it.

It uses the benchmark's own build (the runtime classpath file
tmsbench/run.py writes under .bench_build/tmsbench/) and its seeded
inputs, and drives the workload through tools/JvmProbe.java instead of
tmsbench.Main, so it changes nothing under tmsbench/. It is for diagnosis
only: one unpaired JVM is no evidence for a performance claim (use
tools/ab.py for that).

    python3 tools/jvm_probe.py --workload corpus_release --ops 9
    python3 tools/jvm_probe.py --workload corpus_release --ops 9 \\
        --jvm-flag=-Dspark.sql.codegen.cache.maxEntries=4000
    python3 tools/jvm_probe.py --workload corpus_release --ops 3 \\
        --jvm-flag=-XX:StartFlightRecording=filename=/tmp/op.jfr \\
        --jvm-flag=-Dlog4j2.configurationFile=/path/to/log4j2.properties

Run from the repository root.
"""
import argparse
import os
import re
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tmsbench"))
import run  # noqa: E402  (tmsbench/run.py: the build and input generation)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.OPS_PER_10S))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=9)
    ap.add_argument("--jvm-flag", action="append", default=[],
                    help="extra JVM option, repeatable (use --jvm-flag=-D...)")
    a = ap.parse_args()

    bdir = run.build_dir()
    cp = run.build(bdir)
    inputs = run.inputs_for(bdir, a.workload, a.seed, a.ops)
    work = os.path.join(bdir, "probe", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{run.HEAP}", f"-Xms{run.HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + a.jvm_flag
           + ["-cp", cp, os.path.join(ROOT, "tools", "JvmProbe.java"),
              a.workload, inputs, work, str(a.ops), str(os.cpu_count() or 1)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        rc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=logf,
                            stdin=subprocess.DEVNULL, text=True)
    ops = []
    for line in rc.stdout.splitlines():
        if line.startswith("PROBE setup_compiles"):
            print(f"set-up compiled {line.split()[-1]} classes")
        m = re.match(r"PROBE op (\d+) latency_s (\S+) compiles (\d+) jit_ms (\d+)", line)
        if m:
            ops.append((int(m[1]), float(m[2]), int(m[3]), int(m[4])))
            print(f"op {m[1]}: {float(m[2]):.3f} s, {m[3]} classes compiled, JIT {m[4]} ms")
    if rc.returncode != 0 or len(ops) != a.ops:
        print(f"probe JVM exited {rc.returncode}; log kept in {log_path}", file=sys.stderr)
        sys.exit(1)
    if len(ops) > 1:
        rest = ops[1:]
        print(f"ops 2-{len(ops)}: median {statistics.median(o[1] for o in rest):.3f} s, "
              f"{sum(o[2] for o in rest)} classes compiled "
              f"(op 1: {ops[0][2]})")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
