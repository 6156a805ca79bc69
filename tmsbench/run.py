#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness, generates the
workload's inputs from the seed, runs the measured JVM, checks its outputs
against the generator's truth and prints one JSON result line.

    python3 tmsbench/run.py --workload loom_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. See tmsbench/README.md for the workloads
and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Ops per run at `--seconds 10`, scaled linearly with `--seconds`: every
# run with one setting does the same work. One op takes ~7 s on loom_etl,
# ~8.5 s on corpus_release and ~1.5 s on stream_intake (4 cores), after a
# cold first op of 15-20 s.
OPS_PER_10S = {"loom_etl": 1, "corpus_release": 1, "stream_intake": 4}
# set-ups per run: setup_s is their median; each starts a session and
# sets the program up on fresh state
SETUPS = 5
# untimed ops after the last set-up, before the timed ones
WARMUP = 1
# the index settings give 0.665-0.69 on sf0.1-shaped (isotropic) vectors
RECALL_FLOOR = 0.5
HEAP = "1g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[tmsbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    d = os.path.join(ROOT, base, "tmsbench")
    os.makedirs(d, exist_ok=True)
    return d


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(ROOT):].encode())
                h.update(open(p, "rb").read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def build(bdir):
    """Compile engine + harness with sbt (offline) once per source state
    and snapshot the compiled class dirs into `classes-<stamp>/`; returns
    the runtime classpath, which points at that snapshot. sbt compiles
    into shared `target/` dirs, so a classpath into those would run
    whatever state was built last."""
    stamp = source_stamp()
    cp_file = os.path.join(bdir, f"classpath-{stamp}.txt")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            log("building engine and harness (sbt, offline)")
            env = dict(os.environ, COURSIER_MODE="offline")
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               "-Xmx2g " + env.get("SBT_OPTS", ""))
            t0 = time.time()
            with open(os.path.join(bdir, "build.log"), "w") as out:
                r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                    "compile", "writeClasspath"],
                                   cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
            if r.returncode != 0:
                fail(f"build failed; see {os.path.join(bdir, 'build.log')}")
            snap = os.path.join(bdir, f"classes-{stamp}")
            shutil.rmtree(snap, ignore_errors=True)
            cp = []
            for i, entry in enumerate(open(os.path.join(HERE, "target", "classpath.txt"))
                                      .read().strip().split(os.pathsep)):
                if os.path.isdir(entry):
                    copy = os.path.join(snap, str(i))
                    shutil.copytree(entry, copy)
                    entry = copy
                cp.append(entry)
            with open(cp_file + ".tmp", "w") as f:
                f.write(os.pathsep.join(cp))
            os.replace(cp_file + ".tmp", cp_file)
            log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    the steal share over a run shows how much a co-tenant took."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def op_counts(workload, seconds, trace):
    ops = max(1, round(OPS_PER_10S[workload] * seconds / 10))
    if not trace:
        return WARMUP, ops
    # a traced run traces half its ops, in groups of four (see Main),
    # after two more warm-up ops: the first ops after one warm-up still
    # speed up fast (JIT), which would read as negative overhead
    return WARMUP + 2, 4 * -(-ops // 4)


def inputs_for(bdir, workload, seed, total_ops):
    d = os.path.join(bdir, "inputs", f"{workload}-g{gen.GEN_VERSION}-s{seed}-n{total_ops}")
    done = os.path.join(d, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.time()
        if workload == "loom_etl":
            gen.gen_loom(d, seed, total_ops)
        elif workload == "corpus_release":
            gen.gen_corpus(d, seed)
        else:
            gen.gen_stream(d, seed, total_ops)
        open(done, "w").close()
        log(f"generated {workload} inputs in {time.time() - t0:.1f} s")
    return d


def run_jvm(cp, workload, trace, warmup, ops, inputs, work, cores):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "tmsbench.Main", "--workload", workload,
              "--trace", "1" if trace else "0", "--ops", str(ops), "--warmup", str(warmup),
              "--setups", str(1 if trace else SETUPS), "--cores", str(cores),
              "--inputs", inputs, "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"measured JVM exceeded {JVM_TIMEOUT_S} s; log kept in {work}")
    if rc != 0 or not os.path.exists(out):
        fail(f"measured JVM exited {rc}; log kept in {work}")
    return json.load(open(out))


# ------------------------------------------------------------------ checks

def check_loom(inputs, work, n_total):
    sink, export, rows_in = gen.loom_truth(inputs, n_total)
    got = {}
    for line in open(os.path.join(work, "checks", "sink.jsonl")):
        row = json.loads(line)
        got[(row[0], row[1])] = row
    problems = []
    if len(got) != len(sink):
        problems.append(f"sink rows {len(got)} != truth {len(sink)}")
    bad = [k for k, v in sink.items() if got.get(k) != v]
    if bad:
        problems.append(f"{len(bad)} sink rows differ from truth, e.g. {bad[0]}")
    got_export = json.load(open(os.path.join(work, "checks", "export.json")))
    if got_export != export:
        problems.append(f"export partition counts {got_export} != truth {export}")
    return problems, rows_in


def q62_oracle(inputs, sql):
    """Rows of q62's DuckDB oracle over the input file, cached beside the
    inputs (keyed by the SQL text): the oracle is a pure function of both."""
    import duckdb
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = os.path.join(inputs, f"oracle-q62-{key}.json")
    if os.path.exists(cache):
        return [tuple(r) for r in json.load(open(cache))]
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    docs = os.path.join(inputs, "input", "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    rows = sorted(con.execute(f"SELECT {Q62_COLS} FROM ({materialized(sql)})").fetchall())
    with open(cache + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(cache + ".tmp", cache)
    log(f"q62 oracle in {time.time() - t0:.1f} s")
    return rows


Q62_COLS = "doc_id, lang, lang_pred, n_tokens, split"


def materialized(sql):
    """q62's oracle with its `keepd` and `edges` CTEs computed once.
    DuckDB otherwise re-evaluates the whole CTE chain under every
    reference, and under every step of the recursive closure (~30x
    slower at 1,000 documents). Materializing a CTE changes how often it
    is evaluated, not what it returns."""
    for cte in ("keepd", "edges"):
        if sql.count(f"{cte} AS (") != 1:
            fail(f"q62 oracle SQL no longer has one `{cte}` CTE")
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (")
    return sql


def check_corpus(inputs, work):
    import duckdb
    c = json.load(open(os.path.join(work, "checks", "corpus.json")))
    want = q62_oracle(inputs, open(os.path.join(work, "checks", "q62.sql")).read())
    pub = c["published"]
    pub = pub[len("file:"):] if pub.startswith("file:") else pub
    got = sorted(duckdb.connect().execute(
        f"SELECT {Q62_COLS} FROM read_parquet('{pub}/*/*.parquet', hive_partitioning=true)"
    ).fetchall())
    problems = []
    log(f"ANN recall@10 {c['recall_at_10']}")
    if got != want:
        problems.append(f"release ({len(got)} rows) != q62 oracle ({len(want)} rows)")
    if c["recall_at_10"] is None or c["recall_at_10"] < RECALL_FLOOR:
        problems.append(f"ANN recall@10 {c['recall_at_10']} below floor {RECALL_FLOOR}")
    return problems


def check_stream(inputs, work):
    got = open(os.path.join(work, "checks", "novel_hashes.txt")).read().split()
    want = open(os.path.join(inputs, "expected_hashes.txt")).read().split()
    problems = []
    if len(got) != len(set(got)):
        problems.append(f"sink holds {len(got) - len(set(got))} duplicate content hashes")
    if sorted(set(got)) != sorted(want):
        problems.append(f"novel set ({len(set(got))}) != expected ({len(want)})")
    return problems


# ----------------------------------------------------------------- metrics

def rows_per_op(workload, inputs, loom_rows, warmup, ops):
    if workload == "loom_etl":
        return loom_rows[warmup:warmup + ops]
    plan = json.load(open(os.path.join(inputs, "plan.json")))
    return [plan["rows_per_op"]] * ops


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OPS_PER_10S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")

    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    started = time.time()
    bdir = build_dir()
    cp = build(bdir)
    warmup, ops = op_counts(a.workload, a.seconds, a.trace == 1)
    inputs = inputs_for(bdir, a.workload, a.seed, warmup + ops)
    work = os.path.join(bdir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = os.cpu_count() or 1
    res = run_jvm(cp, a.workload, a.trace == 1, warmup, ops, inputs, work, cores)

    loom_rows = None
    if a.workload == "loom_etl":
        problems, loom_rows = check_loom(inputs, work, warmup + ops)
    elif a.workload == "corpus_release":
        problems = check_corpus(inputs, work)
    else:
        problems = check_stream(inputs, work)
    problems += res["errors"]
    for p in problems:
        log(f"CHECK FAILED: {p}")

    rows = sum(rows_per_op(a.workload, inputs, loom_rows, warmup, ops))
    lat = [x for x in res["latency_s"] if x is not None]
    if not lat:
        fail(f"every op failed: {res['errors'][:3]}", code=3)
    if a.trace == 0:
        metrics = {
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "rows_per_s": (rows / res["loop_wall_s"], "rows/s"),
            "op_s.p50": (statistics.median(lat), "s"),
            # JIT compilation is most of the loop's process CPU (60% on
            # stream_intake) and varies with compile timing, not with the
            # operator: it is taken out
            "cpu_s_per_krow": ((res["loop_cpu_s"] - res["loop_jit_s"]) / (rows / 1000.0), "s"),
            "live_heap_mb": (res["live_heap_mb"], "MB"),
        }
    else:
        metrics = {k: (v, unit_of(k)) for k, v in sorted(res["layers"].items())}

    if a.trace == 1:
        log("span (mean per op): total_s self_s calls")
        for name, (total, self_s, calls) in res["spans"].items():
            log(f"  {name:<50} {total:8.3f} {self_s:8.3f} {calls:6.1f}")
    load_after = os.getloadavg()
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "ops": ops,
              "run_s": time.time() - started,
              "load_before": load_before, "load_after": load_after,
              "steal_pct": round(100.0 * steal / total, 2) if total else None,
              "setup_s_all": res["setup_s"], "latency_s": res["latency_s"],
              "loop_cpu_s": res["loop_cpu_s"], "loop_jit_s": res["loop_jit_s"],
              "metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(os.path.join(bdir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"setup_s {res['setup_s']} latency_s {[round(x, 3) for x in lat]}")
    log(f"{a.workload} seed={a.seed} ops={ops} load {load_before[0]:.2f} -> {load_after[0]:.2f}, "
        f"steal {record['steal_pct']}%")
    if a.trace == 1:
        spans = os.path.join(bdir, "spans", f"{a.workload}-s{a.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), spans)
        log(f"spans written to {spans}")
    if problems:
        log(f"work dir kept: {work}")
    else:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name in ("ann.recall_at_10", "exec.util", "exec.task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
