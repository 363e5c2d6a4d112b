"""omics-spark benchmark: closed-loop, single-client pipeline passes.

    python3 perfbench/run.py --workload meantools --seed 1 --seconds 9 --trace 0

Run from the root of a checkout.  One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. computes (or reuses) the DuckDB oracle digests for those inputs;
3. ``--trace 0``: times two SparkSession set-ups (a throw-away process
   and the measuring one), then one cold pass and one warm pass per 3 s
   of ``--seconds`` (all but the first measured), sampling the summed RSS
   of the Spark process tree;
   ``--trace 1``: one untraced and one traced worker, the latter with the
   Spark event log on and the layer modules wrapped in spans;
4. verifies every query against its oracle and prints one JSON line.

Everything it writes lives under ``.perfbench_work/`` in the checkout:
per-run scratch directories (removed at exit), the oracle digest cache,
``runs.jsonl`` (one detail record per run) and ``trace-*.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_PROBES = 1
# ``--seconds`` buys one warm pass per WARM_PASS_S.  The count is fixed, not
# timed, so every run does the same work: passes keep getting faster as the
# JIT settles, and a count that followed the machine's speed would move the
# median.
WARM_PASS_S = 3.0
WORKER_TIMEOUT_S = 150
# the driver heap; the inputs are small, and a 2 GiB heap keeps the process
# tree well inside a shared host's memory
DRIVER_HEAP_MB = 2048
PAGE = os.sysconf("SC_PAGE_SIZE")
PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flags: forked, has not exec'd yet
# what a run needs from the checkout besides the benchmark's own files
REPO_FILES = ("omics_data_integration_utilities_spark/__init__.py", "__spark_entry__.py", "tests/conftest.py")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# process groups


def group_procs(pgid: int) -> list[tuple[int, int]]:
    """(pid, rss bytes) of every live process in group ``pgid``."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            not_execed = bool(int(fields[6]) & PF_FORKNOEXEC)
            procs[int(name)] = (int(fields[1]), comm, not_execed, int(fields[21]) * PAGE)
    out = []
    for pid, (ppid, _, not_execed, rss) in procs.items():
        # a child the JVM spawns (posix_spawn, i.e. vfork) shares the JVM's
        # memory until it execs
        if not_execed and ppid in procs and procs[ppid][1] == "java":
            rss = 0
        out.append((pid, rss))
    return out


class Worker:
    """One ``worker.py`` process in its own process group (the driver JVM
    and the Python workers it forks stay in that group)."""

    def __init__(self, args: list[str], run_dir: str, env: dict):
        self.t_spawn = time.monotonic()
        with open(os.path.join(run_dir, "worker.log"), "ab") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *args],
                cwd=run_dir,
                env=env,
                stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE,
                stderr=err,
                text=True,
                start_new_session=True,
            )
        self.ready: float | None = None
        self.ready_evt = threading.Event()
        self.peak_rss = 0
        self._sampling = threading.Event()
        self._done = threading.Event()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._reader.start()
        self._sampler.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            word, _, rest = line.strip().partition(" ")
            if word == "READY":
                self.ready = float(rest) - self.t_spawn
                self.ready_evt.set()
            elif word == "PASSES":
                (self._sampling.set if rest == "begin" else self._sampling.clear)()

    def _sample(self) -> None:
        while not self._done.is_set():
            if self._sampling.wait(0.1) and not self._done.is_set():
                rss = sum(r for _, r in group_procs(self.proc.pid))
                self.peak_rss = max(self.peak_rss, rss)
                time.sleep(0.1)

    def finish(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout)
        finally:
            self.stop()

    def stop(self) -> None:
        """Kill whatever is left of the group and wait until it is gone."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + 20
        while group_procs(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        self._done.set()
        self._reader.join(5)
        self._sampler.join(5)


# --------------------------------------------------------------------------
# inputs and oracles


def make_inputs(wl, seed: int, out_dir: str) -> int:
    """Write the workload's inputs; returns the ``documents`` bytes."""
    import gen

    base = gen.base_tables(wl.sf)
    tables = gen.sample(base, seed)
    if wl.doc_copies:
        n_base, copies = wl.doc_copies
        tables["documents"] = gen.amplify_documents(base["documents"].slice(0, n_base), seed, copies)
    gen.write(tables, out_dir)
    return os.path.getsize(os.path.join(out_dir, "documents.parquet"))


def oracle_records(wl, seed: int, inputs: str) -> dict:
    """DuckDB digests for every query of ``wl``, cached per (workload,
    seed, generator source, oracle SQL)."""
    import __spark_entry__

    sqls = {q: __spark_entry__.oracle_sql()[q] for q in wl.queries}
    key = hashlib.sha256()
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key.update(fh.read())
    key.update(json.dumps([wl.sf, wl.doc_copies, sqls], sort_keys=True).encode())
    path = os.path.join(WORK, "oracle", f"{wl.name}-{seed}-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import oracle

    records = oracle.duck_records(inputs, sqls)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(records, fh)
    os.replace(path + ".tmp", path)
    return records


# --------------------------------------------------------------------------
# one run


def run_worker(run_dir: str, env: dict, args: list[str], tag: str) -> tuple[dict, Worker]:
    result = os.path.join(run_dir, f"result-{tag}.json")
    w = Worker([*args, "--result", result], run_dir, env)
    rc = w.finish(WORKER_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "worker.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker {tag} exited with {rc}")
    with open(result) as fh:
        return json.load(fh), w


def setup_sample(run_dir: str, env: dict) -> float:
    """Time one throw-away worker from spawn to SparkSession ready."""
    w = Worker(["--setup-only"], run_dir, env)
    try:
        if not w.ready_evt.wait(WORKER_TIMEOUT_S):
            raise RuntimeError("set-up probe never became ready")
    finally:
        w.stop()
    return w.ready


def _sweep_stale_runs() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if not name.startswith("run-"):
            continue
        pid = int(name.rsplit("-", 1)[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except PermissionError:
            pass


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(wl, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One benchmark run; returns (metrics by name, detail record)."""
    _sweep_stale_runs()
    load0 = os.getloadavg()[0]
    run_dir = os.path.join(WORK, f"run-{wl.name}-{seed}-{os.getpid()}")
    for sub in ("inputs", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        OMICS_SPARK_DRIVER_MEM=f"{DRIVER_HEAP_MB}m",
    )
    try:
        inputs = os.path.join(run_dir, "inputs")
        doc_bytes = make_inputs(wl, seed, inputs)
        expected = oracle_records(wl, seed, inputs)
        with open(os.path.join(run_dir, "oracle.json"), "w") as fh:
            json.dump(expected, fh)
        common = [
            "--inputs", inputs, "--queries", ",".join(wl.queries),
            "--warm-passes", str(max(2, round(seconds / WARM_PASS_S))), "--oracle", os.path.join(run_dir, "oracle.json"),
        ]
        setups = [] if trace else [setup_sample(run_dir, env) for _ in range(SETUP_PROBES)]
        res, w = run_worker(run_dir, env, [*common, "--trace", "0"], "plain")
        setups.append(w.ready)
        traced = run_worker(run_dir, env, [*common, "--trace", "1"], "traced")[0] if trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load1 = os.getloadavg()[0]

    workers = [res, traced] if trace else [res]
    failed_execs = sum(r["failed_execs"] for r in workers)
    mismatches = sorted({q for r in workers for q in r["mismatches"]})
    failed = failed_execs + sum(len(r["mismatches"]) for r in workers)
    warm_s = statistics.median(res["warm_pass_s"])
    # the pre-touched heap is resident in full; count its live part instead
    peak_mb = w.peak_rss / 2**20 - DRIVER_HEAP_MB + res["peak_live_heap_mb"]
    detail = {
        "workload": wl.name, "seed": seed, "trace": trace, "queries": list(wl.queries),
        "loadavg_1m": [load0, load1], "setup_s": setups, "cold_pass_s": res["cold_pass_s"],
        "pass_s": res["pass_s"], "warm_pass_s": res["warm_pass_s"],
        "per_query_s": res["per_query_s"],
        "peak_rss_mb": peak_mb, "peak_tree_rss_mb": w.peak_rss / 2**20,
        "peak_live_heap_mb": res["peak_live_heap_mb"], "mismatches": mismatches,
        "failed_execs": failed_execs, "attempted": sum(r["attempted"] for r in workers),
    }
    if trace:
        layers = dict(traced["layers"])
        layers["sources.stored_bytes_per_input_byte"] = traced["stored_bytes"] / doc_bytes
        layers["session.setup_s"] = setups[0]
        layers["trace.overhead_s"] = statistics.median(traced["warm_pass_s"]) - warm_s
        names = [m["name"] for m in bench_spec()["per_layer"]]
        missing = [m for m in names if m not in layers]
        failed += len(traced["self_check"]) + len(missing)
        metrics = {k: layers[k] for k in names if k in layers}
        detail.update(self_check=traced["self_check"], missing=missing, per_query=traced["per_query"])
        with open(os.path.join(WORK, f"trace-{wl.name}-{seed}.json"), "w") as fh:
            json.dump({**detail, "layers": layers}, fh, indent=1)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": warm_s,
            "peak_rss_mb": peak_mb,
        }
    detail["failed"] = failed
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(detail) + "\n")
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its workers (``finally`` blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in REPO_FILES:
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from the root of a checkout")
            return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    metrics, detail = run(wl, args.seed, args.seconds, args.trace)

    spec = bench_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    verdict = "all match" if not detail["mismatches"] else f"MISMATCH {detail['mismatches']}"
    load0, load1 = detail["loadavg_1m"]
    print(
        f"# {wl.name} seed={args.seed}: oracle {verdict}; warm_pass_s is the median of "
        f"{len(detail['warm_pass_s'])} warm passes; setup_s the median of {len(detail['setup_s'])} "
        f"set-ups; loadavg {load0:.2f}->{load1:.2f}"
    )
    print(
        json.dumps(
            {
                "correct": detail["failed"] == 0,
                "attempted": detail["attempted"],
                "failed": detail["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
