"""Spark side of one benchmark run (started by ``run.py``).

Runs with its working directory in the run's scratch directory and the
repository on ``PYTHONPATH`` (the ``mapInPandas`` workers import the
package from there).  Protocol on stdout, one line each:

* ``READY <time.monotonic()>`` once the SparkSession is up;
* ``PASSES begin`` / ``PASSES end`` around the cold and warm passes.

A pass runs the workload's queries one after another, each through a
``noop`` sink so every output column is computed.  After the timed
passes one untimed verification pass collects each query and digests
it for the oracle comparison.  Results go to ``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


GC_LOG = "gc.log"
# "GC(7) Pause Young (Normal) (G1 Evacuation Pause) 612M->145M(2048M) 9.1ms"
_GC_PAUSE = re.compile(r"GC\(\d+\) Pause .* \d+M->(\d+)M\(\d+M\)")


def peak_live_heap_mb() -> int:
    """Largest heap occupancy right after a collection, so far."""
    with open(GC_LOG) as fh:
        return max((int(m.group(1)) for m in map(_GC_PAUSE.search, fh) if m), default=0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--inputs")
    ap.add_argument("--queries")
    ap.add_argument("--warm-passes", type=int, default=2)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--oracle")
    ap.add_argument("--result")
    args = ap.parse_args()

    from omics_data_integration_utilities_spark.session import get_spark

    here = os.getcwd()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(here, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(here, 'jtmp')} -Dderby.system.home={here} -XX:-UsePerfData "
            # commit and touch the whole heap during set-up, so first-touch
            # page faults (slow and erratic in a VM) stay out of the passes;
            # the GC log then gives the heap's live size
            f"-Xms{os.environ['OMICS_SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch -Xlog:gc:file={GC_LOG}"
        ),
    }
    if args.trace:
        os.makedirs("eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(here, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    print(f"READY {time.monotonic()}", flush=True)
    if args.setup_only:
        # the caller kills the process group once it has read READY
        time.sleep(600)
        return

    import __spark_entry__
    import layers as tr
    import oracle
    sc = spark.sparkContext
    queries = __spark_entry__.queries()
    names = args.queries.split(",")
    spans = None
    if args.trace:
        spans = tr.Spans(sc)
        tr.instrument(spans)

    def run_pass(phase: str) -> dict:
        snap0 = spans.snapshot() if spans else None
        start_ms, t0 = time.time() * 1000.0, time.perf_counter()
        execs = []
        for q in names:
            group = f"{phase}:{q}"
            rec = {"query": q, "group": group, "ok": True}
            if spans:
                sc.setJobGroup(group, group)
            e0 = time.perf_counter()
            try:
                if spans:
                    spans.enter("plans", q)
                try:
                    df = queries[q](spark, args.inputs)
                finally:
                    if spans:
                        spans.exit()
                rec["build_s"] = time.perf_counter() - e0
                df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                rec["ok"] = False
                rec.setdefault("build_s", time.perf_counter() - e0)
            rec["wall_s"] = time.perf_counter() - e0
            if spans:
                rec["tracker_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            execs.append(rec)
        if spans:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "phase": phase,
            "wall_s": time.perf_counter() - t0,
            "start": start_ms,
            "end": time.time() * 1000.0,
            "spans0": snap0,
            "spans1": spans.snapshot() if spans else None,
            "execs": execs,
        }

    print("PASSES begin", flush=True)
    cold = run_pass("cold")
    warm = [run_pass(f"warm{i}") for i in range(1, args.warm_passes + 1)]
    print("PASSES end", flush=True)
    live_heap_mb = peak_live_heap_mb()
    # the JIT is still compiling through the first pass after the cold
    # one; the later passes are the measured ones
    measured = warm[1:] or warm
    stored_bytes = _du(os.environ["TMPDIR"])

    with open(args.oracle) as fh:
        expected = json.load(fh)
    mismatches, verify_failed = [], []
    for q in names:
        try:
            if oracle.spark_record(queries[q](spark, args.inputs)) != expected[q]:
                mismatches.append(q)
        except Exception:
            traceback.print_exc()
            verify_failed.append(q)

    from omics_data_integration_utilities_spark.plans.registry_docs import cleanup_registry_state

    cleanup_registry_state()
    cores = sc.defaultParallelism
    spark.stop()

    passes = [cold, *warm]
    out = {
        "cores": cores,
        "cold_pass_s": cold["wall_s"],
        "pass_s": [p["wall_s"] for p in passes],
        "warm_pass_s": [p["wall_s"] for p in measured],
        "per_query_s": {
            q: [e["wall_s"] for p in passes for e in p["execs"] if e["query"] == q] for q in names
        },
        "attempted": sum(len(p["execs"]) for p in passes) + len(names),
        "failed_execs": sum(not e["ok"] for p in passes for e in p["execs"]) + len(verify_failed),
        "mismatches": mismatches,
        "stored_bytes": stored_bytes,
        "peak_live_heap_mb": live_heap_mb,
    }
    if spans:
        (log,) = os.listdir("eventlog")
        jobs = tr.read_event_log(os.path.join("eventlog", log))
        per_group = {}
        for j in jobs.values():
            per_group[j["group"]] = per_group.get(j["group"], 0) + 1
        all_execs = [e for p in passes for e in p["execs"]]
        out["self_check"] = [
            {"group": e["group"], "event_log": per_group.get(e["group"], 0), "tracker": e["tracker_jobs"]}
            for e in all_execs
            if per_group.get(e["group"], 0) != e["tracker_jobs"]
        ]
        warm_execs = [e for p in measured for e in p["execs"]]
        out["layers"] = tr.layer_metrics(jobs, warm_execs, measured, cores)
        out["per_query"] = tr.per_query(jobs, all_execs)
    with open(args.result, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    sys.exit(main())
