"""Spans recorded around the calls into each layer, plus the Spark jobs,
stages and SQL metrics those calls caused, read back from Spark's own
status store (its REST view on the driver UI, on localhost).

Each harness phase (build, exec) tags its Spark jobs with
``sc.setJobGroup(<span group>)``, so every job, and through the job its
stages and SQL execution, maps back to the phase span that caused it.
Spans stay in memory; the caller writes them once when the run ends.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

from stats import self_time, union_length

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def begin(self, name: str, kind: str, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "kind": kind,
             "start": time.time(), "end": None, **attrs}
        )
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()

    def duration(self, sid: int) -> float:
        return self.spans[sid]["end"] - self.spans[sid]["start"]

    @staticmethod
    def group(sid: int) -> str:
        return f"{GROUP_PREFIX}{sid}"


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Accumulates jobs, stages and SQL executions from the status store.

    The store keeps only the most recent ~1000 of each, so the caller
    polls after every pass; entries are merged by id.
    """

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def poll(self) -> None:
        for j in self._get("/jobs"):
            self.jobs[j["jobId"]] = j
        for s in self._get("/stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                self.stages[s["stageId"]] = s
        for e in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            self.sql[e["id"]] = e


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds, bytes or a count.

    Spark formats ``"total (min, med, max (stageId: taskId))\\n10.9 s (...)"``
    for per-task metrics and a bare ``"150"`` or ``"0 ms"`` otherwise.
    """
    m = _VALUE.match(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_NODE = re.compile(r"Pandas|Python|InArrow|ArrowEval")
PY_WORKER = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_DATA = ("data sent to Python workers", "data returned from Python workers")
PY_ROWS = "number of output rows"


def pass_layers(tracer: Tracer, status: SparkStatus, pass_sid: int, cores: int,
                modules: dict[str, str], module_names: list[str]) -> dict[str, float]:
    """Per-layer metrics of one pass, from its phase spans and the Spark
    work tagged with their groups. ``modules`` maps query → module."""
    spans = tracer.spans
    queries = [s for s in spans if s["kind"] == "query" and s["parent"] == pass_sid]
    qids = {s["id"]: s for s in queries}
    phases = [s for s in spans if s["kind"] in ("build", "exec") and s["parent"] in qids]
    phase_of_group = {Tracer.group(s["id"]): s for s in phases}

    jobs_by_phase: dict[int, list[dict]] = {s["id"]: [] for s in phases}
    for j in status.jobs.values():
        ph = phase_of_group.get(j.get("jobGroup") or "")
        if ph is not None:
            jobs_by_phase[ph["id"]].append(j)
    # A stage runs once, in the first job that lists it; later jobs skip it.
    owner: dict[int, dict] = {}
    for j in sorted(status.jobs.values(), key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j)
    phase_kind = {Tracer.group(s["id"]): s["kind"] for s in phases}
    stages = {"build": [], "exec": []}
    for st in status.stages.values():
        j = owner.get(st["stageId"])
        kind = phase_kind.get((j or {}).get("jobGroup") or "")
        if kind:
            stages[kind].append(st)

    def dur(s):
        return s["end"] - s["start"]

    def job_iv(j):
        return (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")))

    build = [s for s in phases if s["kind"] == "build"]
    execs = [s for s in phases if s["kind"] == "exec"]
    m: dict[str, float] = {}
    m["operators.build_s"] = sum(dur(s) for s in build)
    build_jobs = [j for s in build for j in jobs_by_phase[s["id"]]]
    m["operators.build_jobs"] = len(build_jobs)
    covered = 0.0
    for s in build:
        ivs = [iv for iv in map(job_iv, jobs_by_phase[s["id"]]) if None not in iv]
        covered += union_length([(max(a, s["start"]), min(b, s["end"])) for a, b in ivs])
    m["operators.build_job_s"] = covered
    m["operators.plan_py_s"] = sum(
        self_time(s["start"], s["end"],
                  [iv for iv in map(job_iv, jobs_by_phase[s["id"]]) if None not in iv])
        for s in build
    )
    m["operators.build_tasks"] = sum(st["numCompleteTasks"] for st in stages["build"])
    m["sources.schema_jobs"] = sum(1 for j in build_jobs if j["name"].startswith("parquet at"))

    scans = [st for k in stages for st in stages[k] if st["inputRecords"] > 0 or st["inputBytes"] > 0]
    m["sources.input_mb"] = sum(st["inputBytes"] for st in scans) / 1e6
    m["sources.input_rows"] = sum(st["inputRecords"] for st in scans)
    m["sources.scan_tasks"] = sum(st["numCompleteTasks"] for st in scans)
    m["sources.scan_run_s"] = sum(st["executorRunTime"] for st in scans) / 1e3

    ex = stages["exec"]
    m["engine.exec_s"] = sum(dur(s) for s in execs)
    m["engine.jobs"] = sum(len(jobs_by_phase[s["id"]]) for s in execs)
    m["engine.stages"] = len(ex)
    m["engine.tasks"] = sum(st["numCompleteTasks"] for st in ex)
    m["engine.shuffle_write_mb"] = sum(st["shuffleWriteBytes"] for st in ex) / 1e6
    m["engine.shuffle_read_mb"] = sum(st["shuffleReadBytes"] for st in ex) / 1e6
    m["engine.spill_mb"] = sum(st["diskBytesSpilled"] for st in ex) / 1e6
    m["engine.task_run_s"] = sum(st["executorRunTime"] for st in ex) / 1e3
    m["engine.task_cpu_s"] = sum(st["executorCpuTime"] for st in ex) / 1e9
    m["engine.gc_s"] = sum(st["jvmGcTime"] for st in ex) / 1e3
    m["engine.core_busy"] = m["engine.task_run_s"] / (m["engine.exec_s"] * cores)

    group_of_job = {j["jobId"]: j.get("jobGroup") or "" for j in status.jobs.values()}
    exchanges = 0
    py = {"worker": 0.0, "boot": 0.0, "data": 0.0, "rows": 0.0}
    for e in status.sql.values():
        kinds = {phase_kind.get(group_of_job.get(jid, "")) for jid in e.get("successJobIds", [])}
        kinds.discard(None)
        if not kinds:
            continue
        for node in e.get("nodes", []):
            name = node["nodeName"]
            if kinds == {"exec"} and "Exchange" in name:
                exchanges += 1
            if PYTHON_NODE.search(name):
                vals = {x["name"]: parse_sql_metric(x["value"]) for x in node.get("metrics", [])}
                py["worker"] += vals.get(PY_WORKER, 0.0)
                py["boot"] += sum(vals.get(k, 0.0) for k in PY_BOOT)
                py["data"] += sum(vals.get(k, 0.0) for k in PY_DATA)
                py["rows"] += vals.get(PY_ROWS, 0.0)
    m["engine.exchanges"] = exchanges
    m["python.worker_s"] = py["worker"]
    m["python.boot_s"] = py["boot"]
    m["python.data_mb"] = py["data"] / 1e6
    m["python.rows"] = py["rows"]

    for mod in module_names:
        m[f"{mod}.build_s"] = sum(dur(s) for s in build if modules[qids[s["parent"]]["name"]] == mod)
        m[f"{mod}.exec_s"] = sum(dur(s) for s in execs if modules[qids[s["parent"]]["name"]] == mod)
    return m


def spark_spans(tracer: Tracer, status: SparkStatus) -> list[dict]:
    """Job and stage spans, parented to the phase span that tagged them."""
    out = []
    by_group = {Tracer.group(s["id"]): s["id"] for s in tracer.spans}
    owner: dict[int, str] = {}
    for j in sorted(status.jobs.values(), key=lambda j: j["jobId"]):
        parent = by_group.get(j.get("jobGroup") or "")
        if parent is None:
            continue
        jid = f"job{j['jobId']}"
        out.append({"id": jid, "parent": parent, "name": j["name"], "kind": "job",
                    "start": _epoch(j.get("submissionTime")),
                    "end": _epoch(j.get("completionTime")), "tasks": j["numTasks"]})
        for sid in j["stageIds"]:
            owner.setdefault(sid, jid)
    for st in status.stages.values():
        if st["stageId"] in owner:
            out.append({"id": f"stage{st['stageId']}", "parent": owner[st["stageId"]],
                        "name": st["name"], "kind": "stage",
                        "start": _epoch(st.get("submissionTime")),
                        "end": _epoch(st.get("completionTime")),
                        "tasks": st["numCompleteTasks"],
                        "run_s": st["executorRunTime"] / 1e3})
    return out


def with_self_times(spans: list[dict]) -> list[dict]:
    """Adds ``self_s`` to every closed span: its duration minus the part
    its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s["start"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        if s["start"] is not None and s["end"] is not None:
            s["self_s"] = self_time(s["start"], s["end"], kids.get(s["id"], []))
    return spans
