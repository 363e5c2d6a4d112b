"""Layer spans and event-log metrics for the traced run.

``instrument`` wraps every public function of the package's layer
modules.  While a wrapped function runs, the driver thread's Spark local
property ``perfbench.span`` holds the stack of open spans
(``layer:function/layer:function``), so every ``SparkListenerJobStart``
in the event log names the spans that caused it; the innermost one is
the job's layer.  Span times are kept in memory as per-layer self time.

``layer_metrics`` parses the uncompressed, non-rolling event log written
during the traced run and folds it, with the spans, into the per-layer
metrics (per warm pass).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import Counter, defaultdict

PKG = "omics_data_integration_utilities_spark"
LAYERS = ("plans", "operators", "analytics", "functions", "sources", "streaming")
SPAN_PROP = "perfbench.span"
NO_SPAN = "action"


def is_commit(name: str) -> bool:
    """Streaming functions that publish a snapshot commit."""
    return "_into_" in name or name.startswith("rebucket_")


class Spans:
    """In-memory span recorder for the driver thread."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[tuple[str, str, float]] = []
        self._label = None
        self._mark = time.perf_counter()
        self.self_s: defaultdict[str, float] = defaultdict(float)
        self.calls: Counter[str] = Counter()
        self.commit_s = 0.0

    def _set_label(self) -> None:
        label = "/".join(f"{l}:{n}" for l, n, _ in self._stack) or NO_SPAN
        if label != self._label:
            self._sc.setLocalProperty(SPAN_PROP, label)
            self._label = label

    def _charge(self, now: float) -> None:
        if self._stack:
            self.self_s[self._stack[-1][0]] += now - self._mark
        self._mark = now

    def enter(self, layer: str, name: str) -> None:
        now = time.perf_counter()
        self._charge(now)
        self._stack.append((layer, name, now))
        self.calls[f"{layer}:{name}"] += 1
        self._set_label()

    def exit(self) -> None:
        now = time.perf_counter()
        self._charge(now)
        layer, name, start = self._stack.pop()
        if layer == "streaming" and is_commit(name):
            self.commit_s += now - start
        self._set_label()

    def snapshot(self) -> dict:
        """Counters so far; per-pass values are differences of two."""
        return {
            "self_s": dict(self.self_s),
            "commits": sum(n for k, n in self.calls.items() if k.startswith("streaming:") and is_commit(k[10:])),
            "commit_s": self.commit_s,
        }


def _layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] == PKG and len(parts) > 1 and parts[1] in LAYERS:
        return parts[1]
    return None


def instrument(spans: Spans) -> None:
    """Wrap the public functions of every layer module, rebinding each
    name wherever the package imported it."""
    for layer in LAYERS:
        pkg = importlib.import_module(f"{PKG}.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{PKG}.{layer}.{info.name}")
    modules = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]

    def wrap(fn, layer: str):
        name = fn.__name__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            spans.enter(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                spans.exit()

        return wrapper

    wrapped = {}
    for mod in modules:
        layer = _layer_of(mod.__name__)
        if layer is None:
            continue
        for name, obj in vars(mod).items():
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not name.startswith("_"):
                wrapped[obj] = wrap(obj, layer)
    for mod in modules:
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])


# --------------------------------------------------------------------------
# event log

_PY = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "recv_bytes",
    "time to run Python workers": "run_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
}


def _plan_metric_names(node: dict, names: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, names)


def read_event_log(path: str) -> dict:
    """Jobs (with their span, group and times) and per-job task totals.

    Files written are a driver-side SQL metric: they are summed per SQL
    execution and charged to that execution's last job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, set] = defaultdict(set)
    acc_names: dict[int, str] = {}
    exec_files: Counter = Counter()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": props.get(SPAN_PROP) or NO_SPAN,
                    "exec": props.get("spark.sql.execution.id"),
                    "submit": ev["Submission Time"],
                    "end": ev["Submission Time"],
                    "t": Counter(),
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stages[stage_job[sid]].add(sid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None:
                    _add_task(jobs[jid]["t"], ev)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev["sparkPlanInfo"], acc_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    if acc_names.get(acc_id) == "number of written files":
                        exec_files[str(ev["executionId"])] += value
    last_job = {}
    for jid, job in jobs.items():
        job["t"]["stages"] = len(stages[jid])
        if job["exec"] is not None:
            last_job[job["exec"]] = max(jid, last_job.get(job["exec"], jid))
    for ex, files in exec_files.items():
        if ex in last_job:
            jobs[last_job[ex]]["t"]["write_files"] += files
    return jobs


def _add_task(t: Counter, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    t["tasks"] += 1
    if info.get("Failed") or ev["Task End Reason"].get("Reason") != "Success":
        t["failed_tasks"] += 1
    dur = info["Finish Time"] - info["Launch Time"]
    run, deser = m.get("Executor Run Time", 0), m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
    t["task_ms"] += run
    t["sched_ms"] += max(0, dur - run - deser - ser - getting)
    t["cpu_ns"] += m.get("Executor CPU Time", 0)
    t["gc_ms"] += m.get("JVM GC Time", 0)
    t["result_bytes"] += m.get("Result Size", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    inp, out = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
    t["scan_bytes"] += inp.get("Bytes Read", 0)
    t["scan_rows"] += inp.get("Records Read", 0)
    t["write_bytes"] += out.get("Bytes Written", 0)
    for acc in info.get("Accumulables") or []:
        name, upd = acc.get("Name"), acc.get("Update")
        if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
            continue
        if name in _PY:
            t["py_" + _PY[name]] += int(upd)


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def layer_metrics(jobs: dict, execs: list[dict], passes: list[dict], cores: int) -> dict:
    """Per-layer metrics per warm pass.

    ``execs``: one record per query execution of a warm pass (its job
    ``group`` and driver-side ``build_s``); ``passes``: the warm passes
    with epoch-ms ``start``/``end`` and the span counters taken at their
    boundaries (``spans0``/``spans1``)."""
    n = len(passes)
    groups = {e["group"] for e in execs}
    mine = [j for j in jobs.values() if j["group"] in groups]
    tot, by_layer = Counter(), defaultdict(Counter)
    build_jobs = commit_jobs = 0
    commit_io = Counter()
    for j in mine:
        tot.update(j["t"])
        spans = j["span"].split("/")
        layer = spans[-1].split(":")[0]
        by_layer[layer]["jobs"] += 1
        if j["span"] != NO_SPAN:
            build_jobs += 1
        if any(s.startswith("streaming:") and is_commit(s[10:]) for s in spans):
            commit_jobs += 1
            commit_io.update(j["t"])
    wall_s = sum(p["end"] - p["start"] for p in passes) / 1000.0
    gap_ms = sum(
        (p["end"] - p["start"])
        - _union_ms([(j["submit"], j["end"]) for j in mine], p["start"], p["end"])
        for p in passes
    )
    write_ms = sum(j["end"] - j["submit"] for j in mine if j["t"]["write_bytes"] > 0)

    def delta(key: str, layer: str | None = None) -> float:
        if layer is None:
            return sum(p["spans1"][key] - p["spans0"][key] for p in passes)
        return sum(p["spans1"]["self_s"].get(layer, 0.0) - p["spans0"]["self_s"].get(layer, 0.0) for p in passes)

    build_s = sum(e["build_s"] for e in execs)
    commits = delta("commits")
    m = {
        "plans.build_s": build_s,
        "plans.build_jobs": build_jobs,
        "plans.build_share": build_s / wall_s if wall_s else 0.0,
        "operators.span_s": delta("", "operators"),
        "operators.jobs": by_layer["operators"]["jobs"],
        "analytics.span_s": delta("", "analytics"),
        "analytics.jobs": by_layer["analytics"]["jobs"],
        "arrow.sent_bytes": tot["py_sent_bytes"],
        "arrow.recv_bytes": tot["py_recv_bytes"],
        "arrow.run_s": tot["py_run_ms"] / 1000.0,
        "arrow.boot_s": tot["py_boot_ms"] / 1000.0,
        "arrow.init_s": tot["py_init_ms"] / 1000.0,
        "sources.scan_bytes": tot["scan_bytes"],
        "sources.scan_rows": tot["scan_rows"],
        "sources.write_bytes": tot["write_bytes"],
        "sources.write_files": tot["write_files"],
        "sources.write_s": write_ms / 1000.0,
        "streaming.commits": commits,
        "streaming.commit_s": delta("commit_s"),
        "streaming.commit_jobs": commit_jobs,
        "streaming.files_per_commit": commit_io["write_files"] / commits if commits else 0.0,
        "streaming.write_amp": (
            commit_io["write_bytes"] / commit_io["scan_bytes"] if commit_io["scan_bytes"] else 0.0
        ),
        "spark.jobs": len(mine),
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.task_s": tot["task_ms"] / 1000.0,
        "spark.cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.utilisation": tot["task_ms"] / 1000.0 / (wall_s * cores) if wall_s else 0.0,
        "spark.sched_delay_s": tot["sched_ms"] / 1000.0,
        "spark.driver_gap_s": gap_ms / 1000.0,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.result_bytes": tot["result_bytes"],
        "spark.failed_tasks": tot["failed_tasks"],
    }
    # ratios stay as measured over all passes; totals become per-pass means
    ratios = {"plans.build_share", "spark.utilisation", "streaming.files_per_commit", "streaming.write_amp"}
    return {k: (v if k in ratios else v / n) for k, v in m.items()}


def per_query(jobs: dict, execs: list[dict]) -> dict:
    """Per-query breakdown over every traced execution (the trace detail)."""
    out: dict[str, dict] = {}
    by_group = defaultdict(list)
    for j in jobs.values():
        by_group[j["group"]].append(j)
    for e in execs:
        row = out.setdefault(e["query"], {"runs": 0, "wall_s": 0.0, "build_s": 0.0, "jobs": 0, "t": Counter()})
        row["runs"] += 1
        row["wall_s"] += e["wall_s"]
        row["build_s"] += e["build_s"]
        for j in by_group.get(e["group"], []):
            row["jobs"] += 1
            row["t"].update(j["t"])
    for row in out.values():
        r = row.pop("runs")
        t = row.pop("t")
        row.update({k: v / r for k, v in row.items()})
        row.update({k: v / r for k, v in t.items()})
        row["runs"] = r
    return out
