"""Per-layer metrics of a traced run: the spans recorded around each public
call, joined to the Spark event log of the traced session.

Every metric is a mean per span instance (per build for the build layers,
per call for ``query`` and ``wand``).  A layer the workload does not run
reports 0.  The table in NOTES.md says which end-to-end metric each one
should move.
"""

from __future__ import annotations

from .trace import Span, group_by_span, job_kind, mean, parse_event_log, span_costs, stage_kind

BUILD_SPANS = [
    "corpus.reorder", "stats.collection", "tokenize.postings",
    "blocks.build", "stats.lexicon", "stats.doc_table",
]
# (field of trace.span_costs, unit)
SPAN_FIELDS = [
    ("jobs", "count"), ("exec_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("driver_serial_s", "s"),
]
WAND_FIELDS = {"jobs": "wand.jobs_per_call"}  # the rest are wand.<field>

# name -> (unit, better)
SPECS: dict[str, tuple[str, str]] = {}
for _span in BUILD_SPANS:
    SPECS[f"{_span}_s"] = ("s", "lower")
    SPECS.update({f"{_span}.{f}": (u, "lower") for f, u in SPAN_FIELDS})
SPECS.update(
    {
        "tokenize.postings_rows": ("count", "lower"),
        "blocks.n_blocks": ("count", "lower"),
        "blocks.payload_bytes": ("bytes", "lower"),
        "query.parse_s": ("s", "lower"),
        "wand.topk_s": ("s", "lower"),
    }
)
SPECS.update({WAND_FIELDS.get(f, f"wand.{f}"): (u, "lower") for f, u in SPAN_FIELDS})
SPECS.update(
    {
        "wand.lexicon_job_s": ("s", "lower"),
        "wand.meta_job_s": ("s", "lower"),
        "wand.cache_hit_ratio": ("ratio", "higher"),
        "wand.scan_stage_s": ("s", "lower"),
        "wand.input_bytes": ("bytes", "lower"),
        "wand.score_stage_s": ("s", "lower"),
        "wand.score_gc_s": ("s", "lower"),
        "wand.merge_stage_s": ("s", "lower"),
        "wand.evals_total": ("count", "lower"),
        "wand.evals_skipped": ("count", "higher"),
        "wand.gate_fired": ("ratio", "higher"),
        "proc.jvm_peak_mb": ("MB", "lower"),
        "proc.py_worker_peak_mb": ("MB", "lower"),
        "trace.overhead_ratio": ("ratio", "lower"),
        "trace.span_cover_ratio": ("ratio", "higher"),
    }
)
UNITS = {k: u for k, (u, _) in SPECS.items()}


def layer_metrics(wl, spans: list[Span], log_dir: str, op_wall: float) -> dict[str, float]:
    """Metrics from the spans of ``wl``'s traced ops and the event log in
    ``log_dir``.  ``op_wall`` is the summed wall of the traced ops; the spans
    must cover it (``trace.span_cover_ratio``)."""
    jobs, stages, plans = parse_event_log(log_dir)
    by_span = group_by_span(spans, jobs, stages)
    out = {name: 0.0 for name in UNITS}
    out.update(wl.index_counts)

    for name in {s.name for s in spans}:
        inst = [s for s in spans if s.name == name]
        costs = [span_costs(s, *by_span[s.sid]) for s in inst]
        out[f"{name}_s"] = mean(s.wall for s in inst)
        if name in BUILD_SPANS:
            out.update({f"{name}.{f}": mean(c[f] for c in costs) for f, _ in SPAN_FIELDS})
        elif name == "wand.topk":
            out.update({WAND_FIELDS.get(f, f"wand.{f}"): mean(c[f] for c in costs) for f, _ in SPAN_FIELDS})

    calls = [s for s in spans if s.name == "wand.topk"]
    if calls:
        lexicon_path = f"{wl.index}/lexicon"
        per_call: dict[str, list[float]] = {}
        for s in calls:
            span_jobs, span_stages = by_span[s.sid]
            kind = {j.jid: job_kind(j, plans, lexicon_path) for j in span_jobs}
            job_s = {"lexicon": 0.0, "meta": 0.0, "score": 0.0}
            for j in span_jobs:
                job_s[kind[j.jid]] += j.end - j.start
            stage_s = {"scan": 0.0, "score": 0.0, "merge": 0.0, "other": 0.0}
            score_gc = input_bytes = 0.0
            for st in span_stages:
                if kind.get(st.job) != "score":
                    continue
                k = stage_kind(st)
                stage_s[k] += st.wall
                input_bytes += st.metrics.get("input.bytesRead", 0)
                if k == "score":
                    score_gc += st.metrics.get("jvmGCTime", 0) / 1e3
            row = {
                "wand.lexicon_job_s": job_s["lexicon"],
                "wand.meta_job_s": job_s["meta"],
                "wand.cache_hit_ratio": float("lexicon" not in kind.values() and "meta" not in kind.values()),
                "wand.scan_stage_s": stage_s["scan"],
                "wand.input_bytes": input_bytes,
                "wand.score_stage_s": stage_s["score"],
                "wand.score_gc_s": score_gc,
                "wand.merge_stage_s": stage_s["merge"],
                "wand.evals_total": s.extra.get("evals_total", 0),
                "wand.evals_skipped": s.extra.get("evals_skipped", 0),
                "wand.gate_fired": s.extra.get("gate_fired", 0),
            }
            for k, v in row.items():
                per_call.setdefault(k, []).append(v)
        out.update({k: mean(v) for k, v in per_call.items()})

    out["trace.span_cover_ratio"] = sum(s.wall for s in spans) / op_wall
    return out
