#!/usr/bin/env python3
"""Same-window A/B of two commits on the osmbench workloads.

    python3 tools/ab.py --parent HEAD~1 --change HEAD --pairs 10 --seed0 401 \
        --dir /tmp/ab --out ab_record.json
    python3 tools/ab.py --parent HEAD --change . ...   # "." = the working tree

Exports both sides into DIR/parent and DIR/change (`git archive` of a
revision; for ".", the tracked and untracked-but-not-ignored files of the
working tree), then runs `python3 osmbench/run.py --workload W --seed N
--seconds 1` in each, one pair per seed and workload, switching which side
runs first from pair to pair. The first run on each side builds it.

For every end-to-end metric that BENCHMARK.json declares it prints the
parent's and the change's median, change/parent, how many pairs the change
won, the parent's IQR as a share of its median, and the verdict against the
metric's bound: "worse" when the change's median is worse than the parent's
by more than the bound, "better" when it is better by more than the parent's
IQR, otherwise "same" ("unresolved" when that IQR is itself wider than the
bound). It also counts the lines of the .scala files under src/main and
src/test on both sides and prints the net change of each, the figure every
change reports beside its timing. The record (every run's result, the summary
and the line counts) is written as JSON. Standard library only.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, stdout=subprocess.PIPE, **kw).stdout


def export(rev, dest):
    """Writes `rev` (or the working tree for ".") into the empty directory dest."""
    os.makedirs(dest)
    if rev == ".":
        names = [n for n in git("ls-files", "-co", "--exclude-standard", "-z").decode().split("\0") if n]
        for n in names:
            src = os.path.join(ROOT, n)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, n)), exist_ok=True)
                with open(src, "rb") as f, open(os.path.join(dest, n), "wb") as g:
                    g.write(f.read())
        return git("rev-parse", "HEAD").decode().strip() + "+worktree"
    with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", rev))) as t:
        t.extractall(dest)
    return git("rev-parse", rev).decode().strip()


LOC_PARTS = ("src/main", "src/test")


def scala_lines(side_dir):
    """Lines of the .scala files under each of LOC_PARTS of one export."""
    counts = {}
    for part in LOC_PARTS:
        n = 0
        for dirpath, _, files in os.walk(os.path.join(side_dir, part)):
            for name in files:
                if name.endswith(".scala"):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        n += sum(1 for _ in f)
        counts[part] = n
    return counts


def run(side_dir, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, "osmbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if p.returncode == 0 and lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    else:
        log(f"{workload} seed {seed} in {side_dir} failed (exit {p.returncode}): {p.stderr[-400:]}")
    return {"seed": seed, "wall_s": round(time.time() - t0, 1), "result": result}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def metric_value(result, name):
    """The value of end-to-end metric `name` in one run's result line, or None."""
    m = (result or {}).get("metrics", {}).get(name)
    return float(m["value"]) if m and m.get("value") is not None else None


def summarize(pairs, metrics):
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ps, cs = [], []
        for p in pairs:
            a, b = (metric_value(p[side]["result"], name) for side in ("parent", "change"))
            if a is not None and b is not None:
                ps.append(a)
                cs.append(b)
        if not ps:
            out[name] = {"pairs": 0}
            continue
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        iqr = q3 - q1
        wins = sum(1 for a, b in zip(ps, cs) if (b < a if lower else b > a))
        worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
        rel_iqr = iqr / pm if pm else 0.0
        if worse_by > m["bound"]:
            verdict = "worse"
        elif -worse_by * pm > iqr:
            verdict = "better"
        elif rel_iqr > m["bound"]:
            verdict = "unresolved"
        else:
            verdict = "same"
        out[name] = {"pairs": len(ps), "parent_median": pm, "change_median": cm,
                     "ratio": cm / pm if pm else None, "change_wins": wins,
                     "parent_iqr": iqr, "parent_iqr_over_median": rel_iqr,
                     "bound": m["bound"], "verdict": verdict}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="revision of the parent side")
    ap.add_argument("--change", default=".", help='revision of the change side, or "." for the working tree')
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=401, help="pair i runs seed seed0 + i")
    ap.add_argument("--workloads", default=None, help="comma-separated; default: every BENCHMARK.json workload")
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--dir", required=True, help="scratch directory for the two exports (must not exist)")
    ap.add_argument("--out", required=True, help="where to write the JSON record")
    a = ap.parse_args()

    if os.path.exists(a.dir):
        sys.exit(f"ab: {a.dir} exists; give a fresh directory")
    sides = {"parent": os.path.join(a.dir, "parent"), "change": os.path.join(a.dir, "change")}
    revs = {"parent": export(a.parent, sides["parent"]), "change": export(a.change, sides["change"])}
    log(f"parent {revs['parent']}, change {revs['change']} under {a.dir}")
    lines = {side: scala_lines(d) for side, d in sides.items()}
    loc = {"parent": lines["parent"], "change": lines["change"],
           "net": {part: lines["change"][part] - lines["parent"][part] for part in LOC_PARTS}}
    loc_line = ", ".join(f"{part} {loc['net'][part]:+d} ({lines['parent'][part]} -> {lines['change'][part]})"
                         for part in LOC_PARTS)
    log(f"net .scala lines: {loc_line}")
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]

    pairs = {w: [] for w in workloads}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(sides[side], w, seed, a.seconds)
            pairs[w].append(pair)
            log(f"{w} pair {i + 1}/{a.pairs} (seed {seed}, {order[0]} first) done")

    summary = {w: summarize(pairs[w], bench["end_to_end"]) for w in workloads}
    health = {w: {side: {"runs": len(pairs[w]),
                         "no_result": sum(1 for p in pairs[w] if not p[side]["result"]),
                         "incorrect": sum(1 for p in pairs[w] if p[side]["result"]
                                          and not p[side]["result"].get("correct")),
                         "failed_ops": sum(int(p[side]["result"].get("failed", 0))
                                           for p in pairs[w] if p[side]["result"])}
                  for side in sides} for w in workloads}
    record = {"parent": revs["parent"], "change": revs["change"], "pairs": a.pairs, "seed0": a.seed0,
              "seconds": a.seconds, "loc": loc, "summary": summary, "health": health, "runs": pairs}
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)

    for w in workloads:
        print(f"{w}: {health[w]}")
        print(f"  {'metric':22} {'parent':>12} {'change':>12} {'ratio':>7} {'wins':>6} {'iqr/med':>8} "
              f"{'bound':>6}  verdict")
        for name, s in summary[w].items():
            if not s["pairs"]:
                print(f"  {name:22} (no paired results)")
                continue
            print(f"  {name:22} {s['parent_median']:12.4g} {s['change_median']:12.4g} {s['ratio']:7.3f} "
                  f"{s['change_wins']:>3}/{s['pairs']:<2} {s['parent_iqr_over_median']:8.3f} "
                  f"{s['bound']:6.2f}  {s['verdict']}")
    print(f"net .scala lines: {loc_line}")
    print(f"record: {a.out}")


if __name__ == "__main__":
    main()
