"""Per-layer metrics of a traced run, and which end-to-end metric each
should move on which workload.

Layers are the library's modules as the benchmark calls them
(``session``, ``sources``, ``plans``, ``functions``, ``operators.*``) plus
the Spark boundary (``catalyst``, ``spark``, ``collect``). Seconds and
counts are means per traced op; ratios are pooled over the run.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

OPERATORS = ("spatial_join", "spatial_knn", "spatial_cluster", "storage",
             "dedup", "text", "simsearch")

# metric -> (end-to-end metrics it should move, on which workloads); units
# and directions live in BENCHMARK.json's per_layer list
_OPS = ("op_p90_s; rows_per_s", "spatial_sql; llm_pipeline, spatial_ingest_knn")
_SPARK = ("op_p90_s; rows_per_s", "spatial_sql; spatial_ingest_knn")
_BATCH = ("rows_per_s", "llm_pipeline")
MOVES: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", "all"),
    "sources.load_s": ("op_p50_s", "spatial_sql"),
    "sources.py4j_calls": ("op_p50_s", "spatial_sql"),
    "sources.write_s": ("rows_per_s; setup_s", "spatial_ingest_knn, llm_pipeline; spatial_sql"),
    "sources.bytes_written_per_input_byte": (
        "rows_per_s; setup_s", "spatial_ingest_knn, llm_pipeline; spatial_sql"),
    "storage.files_read_ratio": ("op_p50_s", "spatial_sql"),
    "plans.build_s": ("op_p50_s", "spatial_sql"),
    "plans.py4j_calls": ("op_p50_s", "spatial_sql"),
    "functions.build_s": ("op_p50_s", "spatial_sql"),
    "functions.py4j_calls": ("op_p50_s", "spatial_sql"),
    **{f"operators.{m}.{k}": _OPS for m in OPERATORS for k in ("build_s", "jobs")},
    "catalyst.plan_s": ("op_p50_s", "spatial_sql"),
    "spark.jobs": _SPARK,
    "spark.stages": _SPARK,
    "spark.tasks": _SPARK,
    "spark.execute_s": _SPARK,
    "spark.driver_gap_s": ("op_p50_s; rows_per_s", "spatial_sql; spatial_ingest_knn"),
    "spark.driver_gap_share": ("op_p50_s; rows_per_s", "spatial_sql; llm_pipeline"),
    "spark.executor_run_s": _BATCH,
    "spark.executor_cpu_s": _BATCH,
    "spark.gc_s": _BATCH,
    "spark.shuffle_read_bytes": ("rows_per_s; peak_rss_mb", "llm_pipeline"),
    "spark.shuffle_write_bytes": ("rows_per_s; peak_rss_mb", "llm_pipeline"),
    "spark.spill_bytes": ("rows_per_s; peak_rss_mb", "llm_pipeline"),
    "spark.input_bytes": ("rows_per_s; peak_rss_mb", "llm_pipeline"),
    "collect.rows": ("op_p50_s", "spatial_sql"),
    "collect.s": ("op_p50_s", "spatial_sql"),
    "spatial_join.pairs_per_candidate": ("rows_per_s; op_p50_s", "spatial_ingest_knn; spatial_sql"),
    "spatial_knn.resolved_ratio": ("rows_per_s", "spatial_ingest_knn"),
    "spatial_knn.jobs_per_call": ("rows_per_s", "spatial_ingest_knn"),
    "dedup.pairs_per_candidate": _BATCH,
    "simsearch.recall_at_10": _BATCH,
    "plans.fingerprint_mismatches": ("op_p50_s", "all"),
    "bench.unattributed_share": ("op_p50_s", "all"),
    "trace.overhead_s": ("op_p50_s", "all"),
}


def units() -> dict[str, str]:
    """Unit of every per-layer metric, as BENCHMARK.json declares it."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


STAGE_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _check_fingerprints(ops: list[dict], path: str) -> int:
    """Templates whose plan fingerprint differs inside this run or from
    the one stored by an earlier run of the same code (``path`` is keyed
    by the code version) in the same checkout."""
    seen = defaultdict(set)
    for r in ops:
        if r["fingerprint"]:
            seen[r["template"]].add(r["fingerprint"])
    stored = {}
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
    mismatches = 0
    for t, fps in sorted(seen.items()):
        if len(fps) > 1 or (t in stored and stored[t] not in fps):
            mismatches += 1
            print(f"# fingerprint mismatch {t}: run {sorted(fps)} stored {stored.get(t)}")
        stored.setdefault(t, min(fps))
        print(f"# fingerprint {t} {min(fps)}")
    with open(path, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
    return mismatches


def per_layer(tracer, loop, workload, session_s: float, fp_path: str) -> dict:
    ops = [r for r in tracer.records if r["template"] != "setup" and not r["failed"]]
    n = max(1, len(ops))
    spans = [s for r in tracer.records for s in r["spans"]]
    op_spans = [s for r in ops for s in r["spans"]]

    def per_op(name, field):
        return sum(s[field] for s in op_spans if s["name"] == name) / n

    def notes(key):
        return sum(r["notes"].get(key, 0) for r in ops)

    jobs = [j for r in ops for j in r["jobs"]]
    writes = [s["self_s"] for s in spans if s["name"] == "sources.write"]
    out = {
        "session.start_s": session_s,
        "sources.load_s": per_op("sources.load", "self_s"),
        "sources.py4j_calls": per_op("sources.load", "self_py4j"),
        "sources.write_s": statistics.mean(writes) if writes else 0.0,
        "sources.bytes_written_per_input_byte": _ratio(
            workload.written_bytes, workload.input_bytes),
        "storage.files_read_ratio": _ratio(
            sum(r["plan"]["files_read"] for r in ops if "storage.layout_files" in r["notes"]),
            notes("storage.layout_files")),
        "plans.build_s": per_op("plans", "self_s"),
        "plans.py4j_calls": per_op("plans", "self_py4j"),
        "functions.build_s": per_op("functions", "self_s"),
        "functions.py4j_calls": per_op("functions", "self_py4j"),
    }
    for m in OPERATORS:
        out[f"operators.{m}.build_s"] = per_op(f"operators.{m}", "self_s")
        out[f"operators.{m}.jobs"] = per_op(f"operators.{m}", "jobs")
    out.update({
        "catalyst.plan_s": per_op("catalyst.plan", "self_s"),
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n,
        "spark.execute_s": per_op("spark.execute", "self_s"),
        "spark.driver_gap_s": sum(r["driver_gap_s"] for r in ops) / n,
        # share of traced op wall during which no job runs: near 1 where
        # fixed driver cost dominates, near 0 where executors do
        "spark.driver_gap_share": _ratio(sum(r["driver_gap_s"] for r in ops),
                                         sum(r["wall_s"] for r in ops)),
    })
    for k in STAGE_KEYS:
        out[f"spark.{k}"] = sum(j[k] for j in jobs) / n
    knn_ops = [r for r in ops if "spatial_knn.calls" in r["notes"]]
    out.update({
        "collect.rows": sum(r["collect_rows"] for r in ops) / n,
        "collect.s": sum(r["collect_s"] for r in ops) / n,
        "spatial_join.pairs_per_candidate": _ratio(
            notes("spatial_join.pairs"),
            sum(r["plan"]["join_rows_max"] for r in ops if "spatial_join.pairs" in r["notes"])),
        "spatial_knn.resolved_ratio": _ratio(notes("spatial_knn.resolved"),
                                             notes("spatial_knn.rows")),
        "spatial_knn.jobs_per_call": _ratio(sum(len(r["jobs"]) for r in knn_ops),
                                            notes("spatial_knn.calls")),
        "dedup.pairs_per_candidate": _ratio(
            notes("dedup.pairs"),
            sum(r["plan"]["join_rows_max"] for r in ops if "dedup.pairs" in r["notes"])),
        "simsearch.recall_at_10": _ratio(notes("simsearch.recall_at_10"),
                                         notes("simsearch.queries")),
        "plans.fingerprint_mismatches": _check_fingerprints(ops, fp_path),
        "bench.unattributed_share": _ratio(
            sum(r["spans"][0]["self_s"] for r in ops), sum(r["wall_s"] for r in ops)),
    })
    by_t = defaultdict(lambda: ([], []))
    for t, s, _, traced in loop.samples:
        by_t[t][traced].append(s)
    # traced minus untraced median latency, per template, within this run
    out["trace.overhead_s"] = statistics.mean(
        statistics.median(b) - statistics.median(a) for a, b in by_t.values())
    for t, (a, b) in sorted(by_t.items()):
        recs = [r for r in ops if r["template"] == t]
        print(f"# op {t}: untraced p50 {statistics.median(a) if a else 0:.4f} s, "
              f"traced p50 {statistics.median(b) if b else 0:.4f} s, "
              f"jobs/op {_ratio(sum(len(r['jobs']) for r in recs), len(recs)):.2f}, "
              f"py4j/op {_ratio(sum(sum(s['self_py4j'] for s in r['spans']) for r in recs), len(recs)):.1f}")
    unit = units()
    return {k: (float(v), unit[k]) for k, v in out.items()}


def dump(records: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
