"""Layer-by-layer readings for the traced run, all taken from outside
the program: Spark's own event log for engine counts, and ``cProfile``
over ``golden.process_document`` for the per-rule buckets."""

from __future__ import annotations

import cProfile
import json
import os
import pstats
import time
from collections import defaultdict

RULE_MODULES = (
    "cleanup", "classify", "format", "structure", "langdetect", "extract",
    "summarize", "confidence",
)
_RULES_DIR = os.sep + os.path.join("smartglass_ocr_spark", "rules") + os.sep
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_event_log(directory: str) -> list[dict]:
    """Every event under ``directory``; Spark writes a rolling log as
    ``events_<n>_<app>`` files next to an ``appstatus`` marker."""
    files = []
    for parent, _, names in os.walk(directory):
        for name in names:
            if name.startswith("events_"):
                files.append((int(name.split("_")[1]), os.path.join(parent, name)))
    events = []
    for _, path in sorted(files):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_counts(events: list[dict], group: str) -> dict[str, float]:
    """Engine counts of every job run under job group ``group``."""
    stages: set[int] = set()
    sql_ids: set[str] = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                stages.update(e["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    sql_ids.add(props["spark.sql.execution.id"])
    out = defaultdict(float)
    # the initial plan of each SQL execution, in formatted explain mode
    out["hash_exchanges"] = sum(
        e["physicalPlanDescription"].count("Arguments: hashpartitioning(")
        for e in events
        if e["Event"].endswith("SQLExecutionStart") and str(e["executionId"]) in sql_ids
    )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        info, metrics = e["Task Info"], e.get("Task Metrics") or {}
        out["tasks"] += 1
        out["max_task_s"] = max(out["max_task_s"], (info["Finish Time"] - info["Launch Time"]) / 1000)
        out["gc_s"] += metrics.get("JVM GC Time", 0) / 1000
        out["task_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
        out["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _PY_SENT:
                out["arrow_bytes_to_python"] += int(acc.get("Update", 0))
            elif acc.get("Name") == _PY_RETURNED:
                out["arrow_bytes_from_python"] += int(acc.get("Update", 0))
    return dict(out)


def _bucket(func: tuple) -> str | None:
    path = func[0]
    if _RULES_DIR in path:
        return os.path.splitext(os.path.basename(path))[0]
    if path.endswith(os.path.join("smartglass_ocr_spark", "golden.py")):
        return "golden"
    return None


def rule_buckets(stats: pstats.Stats) -> dict[str, float]:
    """Self time bucketed by the nearest ``rules/*`` module (or the
    golden driver) up the call stack: time spent in ``re`` or a builtin
    goes to the rule module that called it, split by the caller's share
    of that function's time."""
    raw = stats.stats
    memo: dict[tuple, dict[str, float]] = {}

    def owners(func, seen=()) -> dict[str, float]:
        if func in memo:
            return memo[func]
        own = _bucket(func)
        if own:
            result = {own: 1.0}
        else:
            callers = raw.get(func, (0, 0, 0, 0, {}))[4]
            weights = {c: v[2] for c, v in callers.items() if c not in seen and c != func}
            total = sum(weights.values())
            result = defaultdict(float)
            if total <= 0:
                result["other"] = 1.0
            for caller, w in weights.items():
                if total > 0:
                    for b, share in owners(caller, seen + (func,)).items():
                        result[b] += share * w / total
            result = dict(result)
        memo[func] = result
        return result

    buckets = defaultdict(float)
    for func, (_, _, tt, _, _) in raw.items():
        for b, share in owners(func).items():
            buckets[b] += tt * share
    return dict(buckets)


def profile_rules(docs: list[dict]) -> dict[str, float]:
    """Per-rule shares and ``re._compile`` calls per doc from one
    in-driver ``cProfile`` pass, plus the unprofiled single-core rate."""
    from smartglass_ocr_spark.golden import process_document

    t0 = time.perf_counter()
    for d in docs:
        process_document(d)
    plain = time.perf_counter() - t0

    prof = cProfile.Profile()
    prof.enable()
    for d in docs:
        process_document(d)
    prof.disable()
    stats = pstats.Stats(prof)
    buckets = rule_buckets(stats)
    total = sum(buckets.values()) or 1.0
    compiles = sum(
        v[1] for f, v in stats.stats.items()
        if f[2] == "_compile" and f[0].endswith(os.path.join("re", "__init__.py"))
    )
    out = {f"rules.{m}_share": buckets.get(m, 0.0) / total for m in RULE_MODULES}
    out["rules.re_compile_calls_per_doc"] = compiles / len(docs)
    out["golden.docs_per_s_1core"] = len(docs) / plain
    return out
