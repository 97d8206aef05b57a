"""The metrics a run reports, their units, and how they are reduced
from the operations, passes and spans of one run."""

from __future__ import annotations

from statistics import median

from spans import COUNTERS, clip, interval_union
from workloads import CURATION_QUERIES

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

MODULE_LAYERS = (
    "session", "sources.json_dir", "sources.upsert", "operators.reports",
    "plans.feature_pipeline", "ml.regression",
)
LAYER_FIELDS = ("s", *COUNTERS, "driver_s")
# the curation queries' spans, reported with these fields
QUERY_FIELDS = ("s", "jobs", "task_cpu_s", "shuffle_write_bytes", "driver_s")
QUERY_SPANS = (
    "plans.corpus_curation_pipeline.cold", "plans.corpus_curation_pipeline.serve",
    *[f"plans.{q}.cold" for q in CURATION_QUERIES],
    "plans.embedding_ann_ivf.cold", "plans.embedding_ann_ivf.serve",
)
SPECIAL = {
    "sources.json_dir.files_per_s": "1/s",
    "sources.upsert.bytes_written": "bytes",
    "sources.upsert.files_rewritten": "count",
    "plans.embedding_ann_ivf.recall_at_5": "ratio",
    "cpu.jvm_s": "s",
    "cpu.python_s": "s",
    "bench.unattributed_s": "s",
    "bench.span_coverage": "ratio",
    "bench.trace_overhead_s": "s",
}


def _field_unit(field: str) -> str:
    if field.endswith("_bytes"):
        return "bytes"
    return "count" if field in ("jobs", "stages", "tasks") else "s"


def per_layer_units() -> dict[str, str]:
    out = {}
    for layer in MODULE_LAYERS:
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = _field_unit(f)
    for name in QUERY_SPANS:
        for f in QUERY_FIELDS:
            out[f"{name}.{f}"] = _field_unit(f)
    out.update(SPECIAL)
    return out


PER_LAYER = per_layer_units()


def unit(name: str) -> str:
    return END_TO_END.get(name) or PER_LAYER[name]


def end_to_end(b) -> dict[str, float]:
    return {
        "setup_s": b.setup_s,
        "wall_s": median([p["wall_s"] for p in b.passes]),
        "cpu_s": median([p["cpu_s"] for p in b.passes]),
        "peak_rss_mb": b.peak_rss_mb,
    }


def per_layer(b) -> dict[str, float]:
    """Per-layer figures: each span name's self time and counters are
    summed within a pass, then the median over passes is taken. Names
    seen only during set-up report their set-up value; names a workload
    never runs report 0."""
    sps = b.tracer.spans
    selfs = b.tracer.self_times()
    agg: dict[str, dict] = {}
    for sp, st in zip(sps, selfs):
        d = agg.setdefault(sp.name, {}).setdefault(sp.group, dict.fromkeys(LAYER_FIELDS, 0.0))
        d["s"] += st
        for f in (*COUNTERS, "driver_s"):
            d[f] += sp.counters.get(f, 0)

    def value(name: str, field: str) -> float:
        groups = agg.get(name, {})
        measured = [g for g in groups if g != "setup"] or list(groups)
        return median([groups[g][field] for g in measured]) if measured else 0.0

    def med(xs: list[float]) -> float:
        return median(xs) if xs else 0.0

    out = {}
    for name in PER_LAYER:
        if name in SPECIAL:
            continue
        span_name, _, field = name.rpartition(".")
        out[name] = value(span_name, field)
    for name in ("sources.json_dir.files_per_s", "sources.upsert.bytes_written",
                 "sources.upsert.files_rewritten", "plans.embedding_ann_ivf.recall_at_5"):
        out[name] = med(b.layer_values.get(name, []))
    out["cpu.jvm_s"] = med([p["jvm_s"] for p in b.passes])
    out["cpu.python_s"] = med([p["python_s"] for p in b.passes])
    unattributed, coverage = [], []
    passes = [i for i, sp in enumerate(sps) if sp.name == "pass"]
    for i, rec in zip(passes, b.passes):
        sp = sps[i]
        kids = [(c.start, c.end) for c in sps if c.parent == i]
        covered = interval_union(clip(kids, sp.start, sp.end))
        u = max(0.0, sp.s - covered - rec["trace_overhead_s"])
        unattributed.append(u)
        coverage.append(1.0 - u / sp.s if sp.s > 0 else 0.0)
    out["bench.unattributed_s"] = med(unattributed)
    out["bench.span_coverage"] = med(coverage)
    out["bench.trace_overhead_s"] = med([p["trace_overhead_s"] for p in b.passes])
    return {k: out[k] for k in PER_LAYER}
