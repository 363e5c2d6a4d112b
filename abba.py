"""A/B two revisions on the benchmark in alternating pairs, one verdict per metric.

    python3 abba.py PARENT_REV CHANGE_REV [--workload W ...] [--pairs N] [--trace]

Each revision is extracted with ``git archive`` into its own temporary
directory, removed at exit.  To measure uncommitted work, ``git add`` any new
files and pass ``$(git stash create)`` as CHANGE_REV: it names a commit of the
index and working tree and leaves both as they are.

Nothing runs unless both revisions carry the same ``BENCHMARK.json`` and
``perfbench/``.  Pair *i* runs the benchmark's ``command`` with seed *i* and
its ``run_seconds`` on both revisions; the parent goes first in odd pairs, the
change in even ones.  For every workload and end-to-end metric the script
prints each side's median and quartiles, the pairs the change wins, and a
verdict, with ``better`` and ``bound`` taken from ``BENCHMARK.json``:

- gain: the change wins at least 9 in 10 pairs, ties counting for neither,
  and the medians differ by more than the parent's interquartile range;
- regression: the change's median is worse than the parent's by more than
  the bound (a fraction of the parent's median);
- unresolved: the parent's interquartile range is wider than the bound, and
  not every change run beats every parent run;
- no regression: otherwise.

``--trace`` adds one traced pair (seed 1) and prints every per-layer count
that differs between the two revisions, then every per-query ``jobs``,
``stages`` and ``tasks`` that differs (read from each checkout's
``.perfbench_work/trace-<workload>-1.json``).  Exit status 1 means a regression or
a run that failed or missed an oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_FILES = ("BENCHMARK.json", "perfbench")
QUERY_COUNTS = ("jobs", "stages", "tasks")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Compare paired samples (pair i = ``parent[i]``, ``change[i]``)."""
    sign = 1 if better == "higher" else -1
    p, c = quartiles(parent), quartiles(change)
    wins = sum(sign * (b - a) > 0 for a, b in zip(parent, change))
    iqr = p[2] - p[0]
    ahead = sign * (c[1] - p[1])  # > 0 when the change's median is better
    spread = iqr / abs(p[1]) if p[1] else float("inf")
    dominates = min(change) > max(parent) if better == "higher" else max(change) < min(parent)
    if wins >= 0.9 * len(parent) and ahead > iqr:
        word = "gain"
    elif -ahead > bound * abs(p[1]):
        word = "regression"
    elif spread > bound and not dominates:
        word = f"unresolved (parent spread {spread:.0%} > bound {bound:.0%})"
    else:
        word = "no regression"
    return {"parent": p, "change": c, "wins": wins, "pairs": len(parent), "verdict": word}


def bench_digest(root: str) -> str:
    """Digest of the benchmark's own files under one checkout."""
    h = hashlib.sha256()
    for top in BENCH_FILES:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        )
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_same_benchmark(parent_root: str, change_root: str) -> None:
    if bench_digest(parent_root) != bench_digest(change_root):
        raise ValueError(f"{' and '.join(BENCH_FILES)} differ between the two revisions")


def extract(rev: str, dest: str) -> str:
    git = subprocess.run(["git", "archive", "--format=tar", rev], cwd=HERE, capture_output=True)
    if git.returncode:
        raise ValueError(f"git archive {rev}: {git.stderr.decode().strip()}")
    with tarfile.open(fileobj=io.BytesIO(git.stdout)) as tar:
        tar.extractall(dest, filter="data")
    return dest


def run_one(root: str, spec: dict, workload: str, seed: int, trace: bool) -> dict:
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"])]
    cmd = [*spec["command"], *args, "--trace", str(int(trace))]
    with subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True) as proc:
        try:
            stdout, stderr = proc.communicate()
        except BaseException:
            proc.terminate()  # the benchmark stops its own Spark workers on SIGTERM
            proc.wait()
            raise
    try:
        out = json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 1, "metrics": {}}
    if trace:
        out["per_query"] = read_per_query(root, workload, seed)
    return out


def read_per_query(root: str, workload: str, seed: int) -> dict:
    """The per-query breakdown a traced run left in its checkout."""
    path = os.path.join(root, ".perfbench_work", f"trace-{workload}-{seed}.json")
    try:
        with open(path) as fh:
            return json.load(fh).get("per_query", {})
    except (OSError, json.JSONDecodeError):
        return {}


def run_pair(roots: dict, spec: dict, workload: str, seed: int, trace: bool) -> dict:
    order = ["parent", "change"] if seed % 2 else ["change", "parent"]
    return {arm: run_one(roots[arm], spec, workload, seed, trace) for arm in order}


def _value(metrics: dict, name: str):
    return metrics.get(name, {}).get("value")


def _fmt(*xs) -> str:
    return " / ".join("-" if x is None else str(int(x)) if x == int(x) else f"{x:.4g}" for x in xs)


def report_runs(pairs: list[dict]) -> bool:
    """Print each side's oracle and failure tally; True when a run failed."""
    bad = False
    for arm in ("parent", "change"):
        runs = [p[arm] for p in pairs]
        ok = sum(r["correct"] for r in runs)
        failed, attempted = sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs)
        print(f"{arm}: oracle correct in {ok}/{len(runs)} runs; {failed} of {attempted} operations failed")
        bad |= ok < len(runs)
    return bad


def report(workload: str, pairs: list[dict], spec: dict) -> bool:
    """Print one workload's table; True when it shows a regression or a failed run."""
    print(f"\n## {workload}: {len(pairs)} pairs (parent / change per seed)")
    names = [m["name"] for m in spec["end_to_end"]]
    pairs_of = {n: [(_value(p["parent"]["metrics"], n), _value(p["change"]["metrics"], n)) for p in pairs] for n in names}
    for i in range(len(pairs)):
        cells = (f"{n} {_fmt(*pairs_of[n][i])}" for n in names)
        print(f"seed {i + 1}, {'parent' if (i + 1) % 2 else 'change'} first: " + ";  ".join(cells))
    bad = report_runs(pairs)
    print(f"{'metric':<14}{'parent q1 / median / q3':>28}{'change q1 / median / q3':>28}  wins  verdict")
    for m in spec["end_to_end"]:
        samples = [(a, b) for a, b in pairs_of[m["name"]] if a is not None and b is not None]
        if not samples:
            print(f"{m['name']:<14} no complete pair")
            bad = True
            continue
        v = verdict([a for a, _ in samples], [b for _, b in samples], m["better"], m["bound"])
        print(f"{m['name']:<14}{_fmt(*v['parent']):>28}{_fmt(*v['change']):>28}  {v['wins']}/{v['pairs']:<3} {v['verdict']}")
        bad |= v["verdict"] == "regression"
    return bad


def report_trace(workload: str, pair: dict, spec: dict) -> bool:
    """Print the traced pair's per-layer counts; True when a run failed."""
    print(f"\n## {workload}: traced pair (seed 1), per-layer counts")
    bad = report_runs([pair])
    a, b = pair["parent"]["metrics"], pair["change"]["metrics"]
    # byte metrics are left out: serialized task results carry timing accumulators
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]
    differ = [n for n in counts if _value(a, n) != _value(b, n)]
    for n in differ:
        print(f"DIFFERS {n}: parent {_value(a, n)}  change {_value(b, n)}")
    print("identical: " + ", ".join(f"{n}={_fmt(_value(a, n))}" for n in counts if n not in differ))
    qa, qb = pair["parent"].get("per_query", {}), pair["change"].get("per_query", {})
    same = []
    for q in sorted(set(qa) | set(qb)):
        for k in QUERY_COUNTS:
            x, y = qa.get(q, {}).get(k), qb.get(q, {}).get(k)
            if x != y:
                print(f"DIFFERS {q}.{k}: parent {_fmt(x)}  change {_fmt(y)}")
            else:
                same.append(f"{q}.{k}={_fmt(x)}")
    print("identical per query: " + (", ".join(same) or "-"))
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_rev")
    ap.add_argument("change_rev")
    ap.add_argument("--workload", action="append", help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    # a terminated run still removes its checkouts (``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tmp = tempfile.mkdtemp(prefix="abba-")
    try:
        roots = {}
        for arm, rev in (("parent", args.parent_rev), ("change", args.change_rev)):
            roots[arm] = extract(rev, os.path.join(tmp, arm))
        check_same_benchmark(roots["parent"], roots["change"])
        with open(os.path.join(roots["parent"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        print(f"# parent {args.parent_rev}, change {args.change_rev}; {args.pairs} pairs per workload, "
              f"{spec['run_seconds']} s runs, pair i uses seed i")
        bad = False
        for wl in workloads:
            pairs = [run_pair(roots, spec, wl, seed, False) for seed in range(1, args.pairs + 1)]
            bad |= report(wl, pairs, spec)
            if args.trace:
                bad |= report_trace(wl, run_pair(roots, spec, wl, 1, True), spec)
            sys.stdout.flush()
    except ValueError as e:
        print(f"abba: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
