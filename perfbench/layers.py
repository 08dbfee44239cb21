"""Per-layer metrics from one traced run: medians over its warm passes.

Every metric is reported on every workload; a layer a workload does not
reach reads 0 (e.g. the CSV sinks on ``iterative_queries``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import children, engine_totals, subtree
from workloads import ITERATIVE_QUERIES

#: child spans of ``pipeline.runner`` (one ``run_mailing_job`` call)
RUNNER_CHILDREN = (
    "sources.load", "schema.validate", "pipeline.mailing", "pipeline.export",
    "pipeline.robot", "sources.write", "pipeline.audit", "sources.state",
    "pipeline.report", "sources.archive",
)
ENGINE = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_gap_s",
)


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    return "count"


def _one_pass(p: dict, kids: dict, groups: dict) -> dict:
    by_name = defaultdict(list)
    for s in subtree(p, kids):
        by_name[s["name"]].append(s)

    def dur(name: str) -> float:
        return sum(s["dur"] for s in by_name[name])

    def jobs(name: str) -> int:
        return sum(engine_totals(subtree(s, kids), groups)["jobs"] for s in by_name[name])

    def attr(name: str, key: str) -> int:
        return sum(s.get(key, 0) for s in by_name[name])

    runners = by_name["pipeline.runner"]
    m = {
        "sources.load_s": dur("sources.load"),
        "sources.load_jobs": jobs("sources.load"),
        "sources.write_s": dur("sources.write"),
        "sources.write_jobs": jobs("sources.write"),
        "sources.files_written": attr("sources.write", "files"),
        "sources.bytes_written": attr("sources.write", "bytes"),
        "sources.archive_s": dur("sources.archive"),
        "sources.archive_bytes": attr("sources.archive", "bytes"),
        "sources.state_s": dur("sources.state"),
        "schema.validate_s": dur("schema.validate"),
        "pipeline.mailing.s": dur("pipeline.mailing"),
        "pipeline.mailing.jobs": jobs("pipeline.mailing"),
        "pipeline.robot.s": dur("pipeline.robot"),
        "pipeline.export.s": dur("pipeline.export"),
        "pipeline.audit.s": dur("pipeline.audit"),
        "pipeline.audit.jobs": jobs("pipeline.audit"),
        "pipeline.report.s": dur("pipeline.report"),
        "pipeline.runner.s": dur("pipeline.runner"),
        # Self time: the run_mailing_job span minus its child spans
        # (persist, the audit count and the metric counts).
        "pipeline.runner.self_s": sum(
            r["dur"] - sum(c["dur"] for c in kids.get(r["id"], [])) for r in runners
        ),
        "pipeline.runner.jobs": sum(
            len(groups.get(f"span-{r['id']}", {}).get("jobs", {})) for r in runners
        ),
    }
    for q in ITERATIVE_QUERIES:
        m[f"query.{q}.build_s"] = dur(f"query.{q}.build")
        m[f"query.{q}.exec_s"] = dur(f"query.{q}.exec")
        m[f"query.{q}.jobs"] = jobs(f"query.{q}")
    m["detach.calls"] = p["counts"].get("detach.calls", 0)
    m["spark.checkpoints"] = p["counts"].get("spark.checkpoints", 0)
    engine = engine_totals(subtree(p, kids), groups)
    m.update({f"spark.{k}": engine[k] for k in ENGINE})
    m["spark.leaked_rdds"] = p.get("leaked_rdds", 0)
    m["trace.warm_s"] = p["dur"]
    return m


def annotate(spans: list[dict], groups: dict) -> None:
    """Add each span's event-log totals (its subtree) to its record."""
    kids = children(spans)
    for s in spans:
        s["engine"] = engine_totals(subtree(s, kids), groups)


def per_layer(spans: list[dict], passes: list[dict], groups: dict, build_s: float) -> dict:
    """``{metric: (value, unit)}``; values are medians over the warm passes."""
    kids = children(spans)
    warm = [_one_pass(p, kids, groups) for p in passes[1:]]
    out = {"session.build_s": build_s}
    out.update({k: statistics.median(m[k] for m in warm) for k in warm[0]})
    out["trace.cold_s"] = passes[0]["dur"]
    return {k: (v, unit(k)) for k, v in out.items()}
