"""Interleaved A/B of two commits on the repo benchmark, with a null arm.

    python3 tools/ab.py --base c3bf162 --change HEAD --workload stream-small \
        --seeds 101-110 --workdir /tmp/ab [--trace 0]

Exports each commit with `git archive` into WORKDIR (the base twice: the
second copy is the null arm; `--change .` copies the working tree as it
is). Each copy records what it holds in WORKDIR/<side>/.ab-rev and is
re-exported when that differs, so a reused WORKDIR never runs stale code.
Then for every seed it runs `perfbench/run.py` once from each copy, for
the `run_seconds` of the base's BENCHMARK.json, rotating the order from
seed to seed so neither side always runs first. Each run's result line is appended to WORKDIR/ab.jsonl.
At the end it prints, per metric (the end-to-end metrics of the base's
BENCHMARK.json, plus any --metric), each side's median and quartiles, the
change's win count against the base and the null arm's against the base,
and each side's quartile spread as a share of its median. A gap that the
null arm's spread also reaches is not a result. Nothing under perfbench/
or BENCHMARK.json is touched: the runs use the exported copies.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def identity(rev):
    """What `rev` names: the commit id, or for "." (the working tree as it
    is) HEAD's id plus a digest of every tracked or untracked, not ignored
    file's path and content."""
    if rev != ".":
        return git("rev-parse", "--verify", rev + "^{commit}").strip()
    digest = hashlib.sha256()
    for f in sorted(tree_files()):
        digest.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return git("rev-parse", "HEAD").strip() + "+" + digest.hexdigest()[:16]


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout


def tree_files():
    return [f for f in git("ls-files", "-co", "--exclude-standard").splitlines()
            if os.path.isfile(os.path.join(ROOT, f))]


def export(rev, ident, dest):
    """A clean copy of `rev` at `dest`. A copy is reused only when its
    marker file names `ident`; any other copy there is replaced."""
    marker = os.path.join(dest, ".ab-rev")
    if os.path.isfile(marker) and open(marker).read() == ident:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev == ".":
        for f in tree_files():
            os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
            shutil.copy2(os.path.join(ROOT, f), os.path.join(dest, f))
    else:
        archive = subprocess.run(["git", "-C", ROOT, "archive", ident],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    with open(marker, "w") as fh:
        fh.write(ident)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(copy, a, seed, seconds):
    """The metrics of one run, or None when the run printed no result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", a.trace]
    p = subprocess.run(cmd, cwd=copy, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(f"[ab] no result from {copy} seed {seed}:\n{p.stderr[-2000:]}\n")
        return None
    res = json.loads(lines[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    vals["failed"] = res["failed"]
    return vals


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="parent commit")
    ap.add_argument("--change", required=True, help='commit under test, or "." for the working tree')
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 3,5,8")
    ap.add_argument("--workdir", required=True, help="directory for the exported copies and the results")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--metric", action="append", default=[], help="extra metric to report")
    a = ap.parse_args()

    sides = {"base": a.base, "change": a.change, "null": a.base}
    idents = {s: identity(rev) for s, rev in sides.items()}
    copies = {s: os.path.join(a.workdir, s) for s in sides}
    for s, rev in sides.items():
        export(rev, idents[s], copies[s])
    with open(os.path.join(copies["base"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    metrics = list(better) + a.metric

    log = os.path.join(a.workdir, "ab.jsonl")
    results = {s: [] for s in sides}
    order = list(sides)
    for i, seed in enumerate(seeds_of(a.seeds)):
        rot = order[i % 3:] + order[:i % 3]
        for s in rot:
            vals = run_once(copies[s], a, seed, seconds)
            results[s].append(vals)
            with open(log, "a") as fh:
                fh.write(json.dumps({"side": s, "rev": idents[s], "seed": seed,
                                     "workload": a.workload, "metrics": vals}) + "\n")
            shown = "none" if vals is None else \
                " ".join(f"{m}={vals.get(m, float('nan')):.4g}" for m in metrics)
            print(f"[ab] seed {seed} {s:6s} {shown} failed={vals and vals['failed']}",
                  flush=True)

    print(f"\n{a.workload}: base {idents['base']}, change {idents['change']}, "
          f"{len(results['base'])} seeds, order rotated per seed")
    print(f"{'metric':28s} {'side':6s} {'q1':>10s} {'median':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'wins':>6s}")
    for m in metrics:
        lower = better.get(m, "lower") == "lower"
        for s in ("base", "change", "null"):
            xs = [r[m] for r in results[s] if r is not None and m in r]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            wins = ""
            if s != "base":
                pairs = [(b[m], o[m]) for b, o in zip(results["base"], results[s])
                         if b is not None and o is not None and m in b and m in o]
                won = sum(1 for b, o in pairs if (o < b if lower else o > b))
                wins = f"{won}/{len(pairs)}"
            print(f"{m:28s} {s:6s} {q1:10.4g} {med:10.4g} {q3:10.4g} {spread:7.1%} {wins:>6s}")
    failed = {s: sum(r["failed"] for r in results[s] if r is not None) for s in sides}
    missing = {s: sum(1 for r in results[s] if r is None) for s in sides}
    print(f"failed checks {failed}, runs without a result {missing}")


if __name__ == "__main__":
    main()
