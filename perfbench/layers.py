"""Per-layer metrics of a traced run, from its spans and attributed jobs.

A layer is named by the first two parts of a span name (``sources.lake``
for ``sources.lake.upsert``). Executor metrics of a layer are inclusive:
a job counts toward every layer with a span open around it, so
``plans.pipeline`` includes the lake write its epoch triggers. Op-path
layers are reported per timed cycle; the noop-sink layers (LWW,
canonicalize, digest) per noop run.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Trace

LAYERS = (
    "plans.pipeline",
    "plans.checkpoint",
    "sources.lake",
    "plans.replicate",
    "operators.lww",
    "functions.canonicalize",
    "functions.digest",
    "operators.diff",
)
NOOP_LAYERS = ("operators.lww", "functions.canonicalize", "functions.digest")
#: per-layer name → (Job attribute, unit)
EXECUTOR_FIELDS = {
    "executor_run_s": ("run_s", "s"),
    "executor_cpu_s": ("cpu_s", "s"),
    "jvm_gc_s": ("gc_s", "s"),
    "shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spill_bytes": ("spill_bytes", "bytes"),
    "failed_tasks": ("failed_tasks", "count"),
}


def layer_of(span_name: str) -> str | None:
    parts = span_name.split(".")
    return None if parts[0] == "op" else ".".join(parts[:2])


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _named(trace: Trace, root: int, name: str) -> list[int]:
    return [s for s in trace.subtree(root) if trace.spans[s].name == name]


def executor_totals(trace: Trace, roots: list[int]) -> dict[str, dict[str, float]]:
    """Layer → summed task metrics of the jobs under ``roots``, each job
    counted once per layer open around it."""
    totals = {layer: dict.fromkeys(EXECUTOR_FIELDS, 0.0) for layer in LAYERS}
    for root in roots:
        for sid in trace.subtree(root):
            for job in trace.direct_jobs.get(sid, ()):
                layers, cur = set(), sid
                while cur is not None:
                    layers.add(layer_of(trace.spans[cur].name))
                    cur = trace.spans[cur].parent
                for layer in layers & set(LAYERS):
                    for key, (attr, _) in EXECUTOR_FIELDS.items():
                        totals[layer][key] += getattr(job, attr)
    return totals


def layer_metrics(trace: Trace, timed: set[int], w, extras: dict) -> dict[str, float]:
    """The per-layer metrics a traced run reports. ``w`` is the workload
    after its run; ``extras`` holds the noop-sink timings."""
    spans = trace.spans
    roots = {
        kind: [s.id for s in spans if s.name == f"op.{kind}" and s.op in timed]
        for kind in ("write", "read", "sync")
    }
    m: dict[str, float] = {}

    apply_spans = [s for r in roots["write"] for s in _named(trace, r, "plans.pipeline.apply_epoch")]
    m["plans.pipeline.apply_epoch_s"] = _med(spans[s].wall for s in apply_spans)
    m["plans.pipeline.driver_self_s"] = _med(trace.driver_time(s) for s in apply_spans)
    write_jobs = [trace.jobs_under(r) for r in roots["write"]]
    m["plans.pipeline.jobs_per_epoch"] = _med(len(js) for js in write_jobs)
    m["plans.pipeline.stages_per_epoch"] = _med(sum(len(j.stages) for j in js) for js in write_jobs)
    m["plans.pipeline.tasks_per_epoch"] = _med(sum(j.tasks for j in js) for js in write_jobs)

    def per_write(*names) -> float:
        return _med(
            sum(spans[s].wall for n in names for s in _named(trace, r, n)) for r in roots["write"]
        )

    m["plans.checkpoint.bookkeeping_s"] = per_write("plans.checkpoint.bookkeeping")
    m["plans.checkpoint.commit_s"] = per_write(
        "plans.checkpoint.write_lineage_rows", "plans.checkpoint.commit"
    )

    upserts = [s for r in roots["write"] for s in _named(trace, r, "sources.lake.upsert")]
    m["sources.lake.upsert_s"] = _med(spans[s].wall for s in upserts)
    m["sources.lake.upsert_driver_s"] = _med(trace.driver_time(s) for s in upserts)
    m["sources.lake.upsert_jobs"] = _med(len(trace.jobs_under(s)) for s in upserts)
    m["sources.lake.upsert_stages"] = _med(sum(len(j.stages) for j in trace.jobs_under(s)) for s in upserts)
    m["sources.lake.plan_build_s"] = per_write("sources.lake.plan_build")
    m["sources.lake.staging_write_s"] = per_write("sources.lake.staging_write")
    m["sources.lake.metadata_commit_s"] = per_write("sources.lake.metadata_commit")
    staged = [
        j
        for r in roots["write"]
        for s in _named(trace, r, "sources.lake.staging_write")
        for j in trace.jobs_under(s)
    ]
    cycles = [spans[r].op for r in roots["write"]]
    changed = sum(w.change_rows.get(c, 0) for c in cycles)
    in_bytes = sum(w.input_bytes.get(c, 0) for c in cycles)
    m["sources.lake.buckets_touched_share"] = _med(w.touched_share[c] for c in cycles if c in w.touched_share)
    m["sources.lake.rows_rewritten_per_changed_row"] = (
        sum(j.output_records for j in staged) / changed if changed else 0.0
    )
    m["sources.lake.bytes_written_per_input_byte"] = (
        sum(j.output_bytes for j in staged) / in_bytes if in_bytes else 0.0
    )
    lookups = [s for r in roots["read"] for s in _named(trace, r, "sources.lake.lookup")]
    m["sources.lake.lookup_s"] = _med(spans[s].wall for s in lookups)
    m["sources.lake.lookup_jobs"] = _med(len(trace.jobs_under(s)) for s in lookups)
    # the first timed cycle's feed, so the count repeats across traced runs
    sync_rows = getattr(w, "sync_rows", {})
    m["sources.lake.read_changes_rows"] = float(sync_rows.get(min(timed), 0)) if timed else 0.0

    syncs = [s for r in roots["sync"] for s in _named(trace, r, "plans.replicate.sync")]
    m["plans.replicate.sync_s"] = _med(spans[s].wall for s in syncs)
    m["plans.replicate.sync_jobs"] = _med(len(trace.jobs_under(s)) for s in syncs)

    m["operators.lww.rows_in"], m["operators.lww.rows_out"] = map(float, w.lww_counts)
    for key in ("operators.lww.exec_s", "functions.canonicalize.exec_s", "functions.digest.rows_per_s"):
        m[key] = float(extras.get(key, 0.0))
    diff_counts = getattr(w, "diff_counts", {})
    for op in ("ADD", "UPDATE", "DELETE"):
        m[f"operators.diff.changes_{op.lower()}"] = float(diff_counts.get(op, 0))
    replays = [s for r in roots["read"] for s in _named(trace, r, "operators.diff.datasets_equal")]
    m["operators.diff.replay_s"] = _med(spans[s].wall for s in replays)

    op_roots = roots["write"] + roots["read"] + roots["sync"]
    noop_roots = [s.id for s in spans if s.parent is None and s.name.endswith(".noop")]
    per_op = executor_totals(trace, op_roots)
    per_noop = executor_totals(trace, noop_roots)
    for layer in LAYERS:
        if layer in NOOP_LAYERS:
            src = per_noop
            div = max(sum(1 for r in noop_roots if layer_of(spans[r].name) == layer), 1)
        else:
            src, div = per_op, max(len(roots["write"]), 1)
        for key in EXECUTOR_FIELDS:
            m[f"{layer}.{key}"] = src[layer][key] / div
    return m
