#!/usr/bin/env python3
"""Paired-run benchmark comparison of two source states.

Extracts the parent and the change into their own directories (via
`git archive`, so the repository's own state is never touched), then runs
BENCHMARK.json's `command` for every seed and workload, alternating the
two sides and swapping which goes first on every other seed. It prints,
per workload and end-to-end metric, each side's median and quartiles,
the change's win count over the pairs, and whether the gain passes the
paired rule: the change has no more crashed or check-failing runs and no
larger share of failed ops than the parent, wins at least 9 of 10 pairs
(a pair where either side crashed or failed a check is not a win), and
the medians differ by more than the parent's quartile distance.

    python3 tools/ab.py --workloads corpus_release --seeds 1-10
    python3 tools/ab.py --parent HEAD~1 --change HEAD --workloads loom_etl --seeds 1-5
    python3 tools/ab.py --report results.jsonl    # re-print a saved comparison

By default the parent is HEAD and the change is the working tree
(tracked and staged files, as `git stash create` records them; untracked
files are not part of it, so `git add` new files first). Every run's
result goes to `<root>/results.jsonl` as it finishes; `--report` refuses a
file that mixes more than one parent or change source state, so use a
fresh `--root` per comparison. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def resolve(ref):
    """A commit id for `ref`; None means the working tree."""
    if ref is not None:
        return git("rev-parse", "--verify", f"{ref}^{{commit}}")
    stash = git("stash", "create")
    if git("ls-files", "--others", "--exclude-standard"):
        log("untracked files are not part of the change; `git add` them to include them")
    return stash or git("rev-parse", "HEAD")


def tree_of(commit):
    """The commit's tree id: the same source state always gives the same
    id, where `git stash create` makes a new commit id on every call."""
    return git("rev-parse", f"{commit}^{{tree}}")


def extract(commit, label, root):
    d = os.path.join(root, f"{label}-{tree_of(commit)[:12]}")
    if not os.path.exists(os.path.join(d, "EXTRACTED")):
        subprocess.run(["rm", "-rf", d], check=True)
        os.makedirs(d)
        archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {commit} failed")
        open(os.path.join(d, "EXTRACTED"), "w").close()
    return d


def run_once(bench, checkout, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"])]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.splitlines()[-5:])
        log(f"run failed (exit {p.returncode}) in {checkout}:\n{tail}")
        return {"correct": False, "metrics": {}, "wall_s": time.time() - t0}
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def failures(runs):
    """(runs that crashed or failed a check, failed ops, attempted ops)."""
    bad = sum(1 for r in runs if not r["result"].get("correct"))
    failed = sum(r["result"].get("failed", 0) for r in runs)
    attempted = sum(r["result"].get("attempted", 0) for r in runs)
    return bad, failed, attempted


def report(bench, records):
    trees = {s: {r.get("tree", r["commit"]) for r in records if r["side"] == s}
             for s in ("parent", "change")}
    if any(len(t) > 1 for t in trees.values()):
        sys.exit(f"the results hold runs of more than one parent or change source state "
                 f"({trees}); use a fresh --root per comparison")
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    for workload in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == workload]
        pairs = {}
        for r in rs:
            pairs.setdefault(r["seed"], {})[r["side"]] = r
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        # a pair counts only when both sides passed their checks; a side
        # that crashed or failed a check is counted against it below
        ok = [p for p in full if all(p[s]["result"].get("correct") for s in p)]
        fails = {s: failures([r for r in rs if r["side"] == s]) for s in ("parent", "change")}
        no_worse = (fails["change"][0] <= fails["parent"][0]
                    and fails["change"][1] * max(fails["parent"][2], 1)
                    <= fails["parent"][1] * max(fails["change"][2], 1))
        print(f"\n{workload}: {len(full)} pairs, {len(ok)} with both sides correct")
        for s in ("parent", "change"):
            bad, failed, attempted = fails[s]
            print(f"  {s}: {bad} runs crashed or failed a check, {failed}/{attempted} ops failed")
        print(f"  {'metric':<16} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
              f" {'delta':>8} {'wins':>6}  paired rule")
        for name, direction in better.items():
            usable = [p for p in ok if all(name in p[s]["result"]["metrics"] for s in p)]
            if not usable:
                continue
            val = {s: [p[s]["result"]["metrics"][name]["value"] for p in usable]
                   for s in ("parent", "change")}
            sign = 1 if direction == "higher" else -1
            wins = sum(1 for a, b in zip(val["parent"], val["change"]) if sign * (b - a) > 0)
            pq1, pmed, pq3 = quartiles(val["parent"])
            cq1, cmed, cq3 = quartiles(val["change"])
            delta = (cmed - pmed) / pmed * 100 if pmed else float("nan")
            # wins are counted over every full pair, so a pair lost to a
            # crash or a failed check is a pair the change did not win
            holds = (no_worse and sign * (cmed - pmed) > 0 and wins >= 0.9 * len(full)
                     and abs(cmed - pmed) > pq3 - pq1)
            print(f"  {name:<16} {fmt(pmed):>10} [{fmt(pq1)}, {fmt(pq3)}]"
                  f" {fmt(cmed):>10} [{fmt(cq1)}, {fmt(cq3)}] {delta:+7.1f}% {wins:>3}/{len(full):<2}"
                  f"  {'gain holds' if holds else '-'}")


def fmt(x):
    return f"{x:.4g}"


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent (default HEAD)")
    ap.add_argument("--change", default=None,
                    help="git ref of the change (default: the working tree)")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated workloads (default: all in BENCHMARK.json)")
    ap.add_argument("--seeds", default="1-10", help="seeds, e.g. 1-10 or 1,3,5 (default 1-10)")
    ap.add_argument("--root", default="/tmp/tms-ab",
                    help="where the two checkouts and results.jsonl go (default /tmp/tms-ab)")
    ap.add_argument("--report", metavar="RESULTS",
                    help="print the table of a saved results.jsonl and exit")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.report:
        report(bench, [json.loads(x) for x in open(a.report)])
        return
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    os.makedirs(a.root, exist_ok=True)
    sides = {"parent": resolve(a.parent), "change": resolve(a.change)}
    checkouts = {s: extract(c, s, a.root) for s, c in sides.items()}
    log(f"parent {sides['parent'][:12]}, change {sides['change'][:12]} under {a.root}")
    results = os.path.join(a.root, "results.jsonl")
    if os.path.exists(results):
        held = {(r["side"], r.get("tree", r["commit"])) for r in map(json.loads, open(results))}
        if held - {(s, tree_of(c)) for s, c in sides.items()}:
            sys.exit(f"{results} holds runs of other source states; use a fresh --root")
    records = []
    for workload in workloads:
        for i, seed in enumerate(seed_list(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(bench, checkouts[side], workload, seed)
                rec = {"workload": workload, "seed": seed, "side": side,
                       "commit": sides[side], "tree": tree_of(sides[side]),
                       "first": order[0], "result": res}
                records.append(rec)
                with open(results, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                op = res["metrics"].get("op_s.p50", {}).get("value")
                log(f"{workload} seed {seed} {side}: correct={res.get('correct')} "
                    f"op_s.p50={op} ({res['wall_s']:.0f} s)")
    report(bench, records)


if __name__ == "__main__":
    main()
