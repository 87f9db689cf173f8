"""Per-layer metrics of a traced run.

Spans are named ``<layer>.<function>``; a layer's jobs are the jobs whose
group is one of its spans (or a streaming query's runId claimed by one).
Top-level spans are units of work: ``pass`` (a timed pass) or
``probe.<what>`` (a call made once after the passes). Engine counters are
folded from the event log over a layer's spans and given per unit.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager

from spans import COUNTERS, median
from workloads import microbatch_stats

#: layers whose engine counters are reported (``<layer>.<counter>``)
ENGINE_LAYERS = (
    "sources", "compiler", "crossrow", "stats", "drift", "checks", "manifest", "streaming",
)
#: layers whose span self time is reported (``<layer>.self_s``)
SPAN_LAYERS = ENGINE_LAYERS + ("schema_contract", "cache", "job")


@contextmanager
def patched(tracer, targets):
    """Wrap ``owner.attr`` for each ``(owner, attr, span name)`` in a span for
    the duration of the block — how the traced run sees the layer calls that
    ``jobs/validate.py:main`` makes internally."""
    saved = []
    for owner, attr, name in targets:
        fn = getattr(owner, attr)

        def wrapper(*a, _fn=fn, _name=name, **k):
            with tracer.span(_name):
                return _fn(*a, **k)

        saved.append((owner, attr, fn))
        setattr(owner, attr, functools.wraps(fn)(wrapper))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def _roots(spans) -> dict[int, int]:
    """Span id -> id of its top-level span (a timed pass or a probe)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        r = s
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        out[s["id"]] = r["id"]
    return out


def per_layer(ctx, wl, ev, ttimes, tfacts, e2e) -> dict:
    """Every per-layer metric of a traced run. Sums are given per unit (a
    timed pass or a probe) in which the layer ran."""
    T = ctx.tracer
    roots = _roots(T.spans)
    layer_of = {
        s["id"]: s["name"].split(".")[0]
        for s in T.spans
        if s["parent"] is not None and s["name"] != "sources.scan"
    }

    def groups(pred) -> list[str]:
        return [g for g, sid in T.groups.items() if sid in layer_of and pred(sid)]

    def units(layer) -> int:
        return max(len({roots[i] for i, l in layer_of.items() if l == layer}), 1)

    def med(name):
        return median(T.durations(name))

    def per_unit(name):
        units = {roots[s["id"]] for s in T.spans if s["name"] == name}
        return sum(T.durations(name)) / max(len(units), 1)

    folds = {l: ev.fold(groups(lambda sid, l=l: layer_of[sid] == l)) for l in SPAN_LAYERS}
    scans = [s for s in T.spans if s["name"] == "sources.scan"]
    scan = ev.fold([g for g, sid in T.groups.items() if T.spans[sid]["name"] == "sources.scan"])
    comp = folds["compiler"]
    probe = {k: v for f in ctx.probe_facts for k, v in f.items()}
    last = {**(tfacts[-1] if tfacts else {}), **probe}
    m = {
        "sources.scan_s": med("sources.scan"),
        "sources.input_bytes": scan["input_bytes"] / max(len(scans), 1),
        "sources.scan_tasks": scan["tasks"] / max(len(scans), 1),
        "compiler.build_s": per_unit("compiler.build"),
        "compiler.violations_s": med("compiler.violations"),
        "compiler.valid_s": med("compiler.valid"),
        "compiler.reports_s": med("compiler.reports"),
        "compiler.cpu_ratio": comp["executor_cpu_s"] / comp["executor_run_s"]
        if comp["executor_run_s"]
        else 0.0,
        "compiler.exchanges": comp["exchanges"] / units("compiler"),
        "compiler.violation_rows": last.get("violation_rows", 0),
        "schema_contract.conform_s": per_unit("schema_contract.conform_schema"),
        "crossrow.uniqueness_s": med("crossrow.uniqueness_violations"),
        "crossrow.referential_s": med("crossrow.referential_violations"),
        "crossrow.ordering_s": med("crossrow.ordering_violations"),
        "crossrow.shuffle_bytes": folds["crossrow"]["shuffle_write_bytes"] / units("crossrow"),
        "crossrow.task_skew": folds["crossrow"]["task_skew"],
        "stats.column_profile_s": med("stats.column_profile"),
        "stats.approx_quantiles_s": med("stats.approx_quantiles"),
        **{
            f"drift.{f}_by_group_s": med(f"drift.{f}_by_group")
            for f in ("psi", "ks", "js", "w1", "chi2")
        },
        "drift.build_s": per_unit("drift.build"),
        "drift.persisted": last.get("persisted", 0),
        "checks.dataset_checks_s": med("checks.dataset_checks"),
        "cache.tracked_after": last.get("tracked_after", 0),
        "cache.release_s": med("cache.release_caches"),
        "manifest.init_s": per_unit("manifest.init"),
        "manifest.pending_s": per_unit("manifest.pending_partitions"),
        "manifest.noop_resume_s": med("manifest.noop_resume"),
    }
    # counts per batch, over the manifest.run calls of the timed passes only
    in_pass = groups(
        lambda sid: T.spans[sid]["name"] == "manifest.run" and T.spans[roots[sid]]["name"] == "pass"
    )
    run = ev.fold(in_pass)
    batches = wl.batches_per_pass(ctx) * len(ttimes)
    m["manifest.jobs_per_batch"] = run["jobs"] / batches if batches else 0.0
    m["manifest.scans_per_batch"] = run["scans"] / batches if batches else 0.0
    # streaming, from StreamingQuery.recentProgress
    stream = [f for f in tfacts + ctx.probe_facts if "validate" in f]
    prog = [p for f in stream for p in f["validate"] + f["continuity"]]
    dur = [p["durationMs"] for p in prog]
    trig = sum(d["triggerExecution"] for d in dur) / 1e3
    state = [op for f in stream for op in f["continuity"][-1]["stateOperators"]]
    ns = max(len(stream), 1)
    m.update(
        {
            "streaming.batches": len(prog) / ns,
            "streaming.plan_s": sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / 1e3 / ns,
            "streaming.exec_s": sum(d.get("addBatch", 0) for d in dur) / 1e3 / ns,
            "streaming.rows_per_s": sum(p["numInputRows"] for p in prog) / trig if trig else 0.0,
            "streaming.state_rows": median([s["numRowsTotal"] for s in state]),
            "streaming.state_bytes": median([s["memoryUsedBytes"] for s in state]),
        }
    )
    mb = microbatch_stats(prog) if prog else {}
    for k in ("microbatch_s_p50", "microbatch_s_tail", "microbatch_tail_pct", "microbatch_n"):
        m[f"streaming.{k}"] = mb.get(k, 0.0)
    m["job.resume_s"] = e2e.get("resume_s", 0.0)
    m["job.written_bytes_per_turn"] = e2e.get("written_bytes_per_turn", 0.0)
    # engine counters and span self times, per unit
    for layer in ENGINE_LAYERS:
        for k in COUNTERS:
            m[f"{layer}.{k}"] = folds[layer][k] / units(layer)
    selfs = T.self_times()
    for layer in SPAN_LAYERS:
        m[f"{layer}.self_s"] = sum(v for i, v in selfs.items() if layer_of.get(i) == layer) / units(layer)
    traced = ctx.turns / median(ttimes) if ttimes else 0.0
    m["trace.turns_per_s"] = traced
    m["trace.untraced_turns_per_s"] = e2e["turns_per_s"]
    m["trace.overhead_ratio"] = 1 - traced / e2e["turns_per_s"]
    return {k: float(v) for k, v in m.items()}
