"""Spark event log -> ``spark.*`` per-layer metrics, with the stdlib only.

The benchmark's session writes the log uncompressed and unrolled: one JSON
object per line.  The timed call runs under a job description set by the
benchmark, and only the jobs carrying it are counted.
"""

from __future__ import annotations

import json
import statistics

#: SQL metrics of the Python UDF nodes, as Spark 4.1 names them
PY_TIMES = {
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_run_s",
}
PY_BYTES = {
    "data sent to Python workers": "spark.python_sent_mb",
    "data returned from Python workers": "spark.python_returned_mb",
}


def read(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_metrics(events: list[dict], description: str, wall_s: float, cores: int) -> dict:
    """Totals over the jobs whose description is ``description``.

    ``wall_s`` and ``cores`` scale the summed executor run time into
    ``spark.core_busy_share``."""
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and (e.get("Properties") or {}).get("spark.job.description") == description]
    stage_ids = {s for j in jobs for s in j["Stage IDs"]}
    stages = [e["Stage Info"] for e in events if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_ids]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids]

    m = {k: 0.0 for k in (*PY_TIMES.values(), *PY_BYTES.values())}
    python_stages = set()
    for st in stages:
        for acc in st.get("Accumulables", []):
            name = acc.get("Name")
            if name in PY_TIMES:
                m[PY_TIMES[name]] += float(acc["Value"]) / 1000  # ms
                python_stages.add(st["Stage ID"])
            elif name in PY_BYTES:
                m[PY_BYTES[name]] += float(acc["Value"]) / 1e6
                python_stages.add(st["Stage ID"])

    def total(*keys) -> float:
        s = 0.0
        for t in tasks:
            v = t.get("Task Metrics") or {}
            for k in keys:
                v = v.get(k, 0) if isinstance(v, dict) else 0
            s += float(v)
        return s

    run_s = total("Executor Run Time") / 1000
    durations = sorted(
        (t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000
        for t in tasks if t["Stage ID"] in python_stages
    )
    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("Executor CPU Time") / 1e9,
        "spark.jvm_gc_s": total("JVM GC Time") / 1000,
        "spark.input_mb": total("Input Metrics", "Bytes Read") / 1e6,
        "spark.output_mb": total("Output Metrics", "Bytes Written") / 1e6,
        "spark.shuffle_write_mb": total("Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6,
        "spark.shuffle_read_mb": (total("Shuffle Read Metrics", "Remote Bytes Read")
                                  + total("Shuffle Read Metrics", "Local Bytes Read")) / 1e6,
        "spark.shuffle_fetch_wait_s": total("Shuffle Read Metrics", "Fetch Wait Time") / 1000,
        "spark.extract_stage.task_p50_s": statistics.median(durations) if durations else 0.0,
        "spark.extract_stage.task_max_s": durations[-1] if durations else 0.0,
        "spark.core_busy_share": run_s / (wall_s * cores),
    })
    return m
