"""Turn a finished run into the printed table and the result object.

``end_to_end`` serves ``--trace 0``; ``layer_metrics`` serves
``--trace 1`` and reads only the traced requests and their spans.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter, defaultdict

from stats import ROUTES, median, percentile, supported_tail, trend

#: equal windows of the timed phase whose median latencies are compared
TREND_WINDOWS = 3
#: the end-to-end metrics BENCHMARK.json bounds. The answer-quality
#: metrics are printed with them but vary with the seeded sample draw far
#: beyond any useful bound, so the result object carries them only in the
#: traced run, as ``answers.*``. The pooled median ``latency_p50_ms`` is
#: printed too; ``question_p50_ms`` is bounded in its place, as it does not
#: jump when a slow question's share of the mix moves by one request.
BOUNDED = ("question_p50_ms", "latency_tail_ms", "qps", "setup_s", "refresh_p50_ms",
           "mem_retained_mb")


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _result(run, metrics: dict, counts: dict, notes: list[str], keep) -> dict:
    """The printed table (every metric, its unit and sample count) and the
    result object, whose metrics are those named in ``keep``."""
    table = [f"# workload {run.wl.name}  seed {run.seed}  trace {run.args.trace}"]
    table += [f"# {n}" for n in notes]
    for name, m in metrics.items():
        table.append(f"{name:<42} {m['value']:>14.4f} {m['unit']:<8} n={counts.get(name, 0)}")
    return {
        "table": table,
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: v for k, v in metrics.items() if k in keep},
    }


def _answers(run, recs) -> tuple[dict, dict]:
    """Answer quality: mean measured relative error of approximate answers
    against the oracle, the share over the tolerance the request asked
    for, and failed over attempted requests."""
    approx = [r for r in recs if r.approx]
    errs = [r.rel_error for r in approx if r.rel_error is not None]
    metrics = {
        "approx_rel_error": _metric(sum(errs) / len(errs) if errs else 0.0, "ratio"),
        "over_tolerance_share": _metric(
            sum(r.over for r in approx) / len(approx) if approx else 0.0, "ratio"),
        "error_rate": _metric(run.tally.error_rate, "ratio"),
    }
    counts = {"approx_rel_error": len(errs), "over_tolerance_share": len(approx),
              "error_rate": run.tally.attempted}
    return metrics, counts


def _route_lines(recs, intended: dict[str, str]) -> list[str]:
    """Per template: the routes it took, its median latency, and the route
    it was meant to take when none of its answers came from that route."""
    by_template: dict[str, list] = defaultdict(list)
    for r in recs:
        by_template[r.template].append(r)
    lines = []
    for t, rs in sorted(by_template.items()):
        routes = Counter(r.route for r in rs)
        line = (f"route {t}: " + ", ".join(f"{k}={v}" for k, v in sorted(routes.items()))
                + f"; p50 {median([r.ms for r in rs]):.1f} ms")
        if not routes[intended[t]]:
            line += f"; meant to take {intended[t]}"
        lines.append(line)
    return lines


def _intended(run) -> dict[str, str]:
    return {t.name: t.route for t in run.wl.templates}


def _trend_note(recs) -> str | None:
    ordered = sorted(recs, key=lambda r: r.t1)
    size = len(ordered) // TREND_WINDOWS
    if size < 5:
        return None
    windows = [
        median([r.ms for r in ordered[i * size:(i + 1) * size]])
        for i in range(TREND_WINDOWS)
    ]
    change = trend(windows)
    if change is None:
        return None
    return (f"warning: timed windows still trend, median latency "
            f"{' -> '.join(f'{w:.1f}' for w in windows)} ms ({change:+.0%})")


def question_p50(recs) -> float:
    """The mean over the run's questions of each question's median latency.
    Each question weighs the same, so a run that happens to ask one more
    slow question than the next does not move it, as it moves the pooled
    median of a mix whose questions take from 150 to 450 ms."""
    by_question: dict[str, list[float]] = defaultdict(list)
    for r in recs:
        by_question[r.question].append(r.ms)
    return _mean(median(v) for v in by_question.values())


def end_to_end(run) -> dict:
    recs = run.recs
    lat = [r.ms for r in recs]
    refresh = [ms for ms, _, _, _ in run.refresh]
    tail = run.wl.tail
    notes = _route_lines(recs, _intended(run))
    if (supported_tail(len(lat)) or 0) < tail:
        notes.append(f"warning: {len(lat)} samples support p{supported_tail(len(lat))}, "
                     f"below the workload's fixed tail p{tail}")
    note = _trend_note(recs)
    if note:
        notes.append(note)
    for reason, n in sorted(run.tally.reasons.items()):
        notes.append(f"failed: {reason} x{n}")
    metrics = {
        "question_p50_ms": _metric(question_p50(recs), "ms"),
        "latency_p50_ms": _metric(median(lat), "ms"),
        "latency_tail_ms": _metric(percentile(lat, tail), "ms"),
        "qps": _metric(len(recs) / run.wall, "1/s"),
        "setup_s": _metric(run.session_s + run.setup_wall, "s"),
        "refresh_p50_ms": _metric(median(refresh), "ms"),
        "mem_retained_mb": _metric(run.mem_mb, "MB"),
    }
    counts = {
        "question_p50_ms": len(lat), "latency_p50_ms": len(lat),
        "latency_tail_ms": len(lat), "qps": len(lat),
        "setup_s": 1, "refresh_p50_ms": len(refresh),
        "mem_retained_mb": 1,
    }
    quality, quality_n = _answers(run, recs)
    metrics.update(quality)
    counts.update(quality_n)
    notes.append(f"latency_tail_ms is p{tail}")
    return _result(run, metrics, counts, notes, BOUNDED)


def _write_trace(run, totals: dict) -> None:
    """The traced run's spans and per-job-group stage metrics, as JSON
    under the checkout's work directory."""
    out = run.work.parent / "traces" / f"{run.wl.name}-seed{run.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    t0 = min((s.start for s in run.tracer.spans), default=0.0)
    out.write_text(json.dumps({
        "spans": [{"name": s.name, "rid": s.rid, "parent": s.parent,
                   "start_ms": (s.start - t0) * 1000.0, "ms": s.ms}
                  for s in run.tracer.spans],
        "stages": {g: vars(t) for g, t in totals.items()},
        "requests": [{"rid": r.rid, "template": r.template, "route": r.route,
                      "ms": r.ms, "traced": r.traced} for r in run.recs],
    }))
    print(f"perfbench: trace written to {out}", file=sys.stderr, flush=True)


def _dir_mb(path) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(run) -> dict:
    """Per-layer metrics of the traced requests. Times are per request
    unless the name says otherwise; a layer a workload never reaches
    reports 0 with n=0."""
    traced = [r for r in run.recs if r.traced]
    plain = [r for r in run.recs if not r.traced]
    spans = run.tracer.spans
    by_rid: dict[str, list] = defaultdict(list)
    for s in spans:
        by_rid[s.rid].append(s)
    n = len(traced)

    def per_req(name: str) -> list[float]:
        """Summed ms of the outermost ``name`` spans in each traced request."""
        return [sum(s.ms for s in by_rid[r.rid] if s.name == name and s.parent != name)
                for r in traced]

    def calls(name: str) -> list[int]:
        return [sum(1 for s in by_rid[r.rid] if s.name == name) for r in traced]

    query_ms = per_req("engine.query")
    exec_ms = per_req("executor.execute_plan")
    groups = [r.rid for r in traced] + [r.rid + ".x" for r in traced]
    maint = [(ms, rep, rid) for ms, rep, on, rid in run.refresh if on]
    totals = run.tracer.stage_totals(groups + [rid for _, _, rid in maint])
    route_t = [totals[r.rid] for r in traced]
    exec_t = [totals[r.rid + ".x"] for r in traced]
    # task CPU of all requests, estimated from the traced half
    cpu_ms = sum(t.cpu_ms for t in route_t + exec_t) * len(run.recs) / max(n, 1)
    result_rows = sum(r.rows for r in traced)

    # synopsis-routed templates whose answers were slower than the same
    # question sent with prefer_exact, both asked in the duel phase
    duel: dict[str, list] = defaultdict(list)
    for r in run.duel_recs:
        duel[r.template].append(r)
    approx_templates = [
        t for t, rs in duel.items()
        if t + ".exact" in duel and Counter(r.route for r in rs).most_common(1)[0][0] != "exact"
    ]
    slower = [t for t in approx_templates
              if median([r.ms for r in duel[t]]) > median([r.ms for r in duel[t + ".exact"]])]

    def in_setup(s) -> bool:
        return run.build_window[0] <= s.start <= run.build_window[1]

    def build_s(name: str) -> float:
        return sum(s.ms for s in spans if s.name == name and s.parent != name
                   and in_setup(s)) / 1000.0

    maint_rids = {rid for _, _, rid in maint}
    refresh_spans = [s for s in spans if s.rid in maint_rids
                     and s.name in ("rollup.refresh", "rollup.build")
                     and s.parent == "maintenance.run"]
    rollup_actions = [a for _, rep, _ in maint for a in rep.get("refreshed", [])
                      if a.get("kind") == "rollup"]
    saves = [s for s in spans if s.name == "catalog.save"]
    builds = [s for s in spans if in_setup(s) and s.parent is None]
    ops = n + len(maint) + len(builds)
    maint_out = sum(totals[rid].output_bytes for rid in maint_rids)
    # tracing cost: per template, traced against untraced median latency
    overheads = []
    for t in sorted({r.template for r in run.recs}):
        on = [r.ms for r in traced if r.template == t]
        off = [r.ms for r in plain if r.template == t]
        if on and off:
            overheads.append((median(on) / median(off) - 1.0) * 100.0)

    m: dict[str, tuple[float, str, int]] = {
        "api.overhead_ms": (median([r.ms - q for r, q in zip(traced, query_ms)]), "ms", n),
        "api.response_kb": (_mean(r.nbytes / 1024 for r in traced), "KB", n),
        "engine.route_ms": (median([q - x for q, x in zip(query_ms, exec_ms)]), "ms", n),
        "engine.route_jobs_per_query": (_mean(t.jobs for t in route_t), "count", n),
    }
    # routes come back in every response, so their shares use every request
    routes = Counter(r.route for r in run.recs)
    for route in ROUTES:
        m[f"engine.route_share.{route}"] = (routes[route] / len(run.recs), "ratio",
                                            len(run.recs))
    m.update({
        "sqlparser.parse_calls_per_query": (_mean(calls("sqlparser.parse")), "count", n),
        "sqlparser.parse_ms": (_mean(per_req("sqlparser.parse")), "ms", n),
        "planner.plan_ms": (_mean(per_req("planner.plan")), "ms", n),
        "planner.plan_calls_per_query": (_mean(calls("planner.plan")), "count", n),
        "planner.approx_slower_share": (
            len(slower) / len(approx_templates) if approx_templates else 0.0,
            "ratio", len(approx_templates)),
        "executor.execute_ms": (_mean(exec_ms), "ms", n),
        "executor.jobs_per_query": (_mean(t.jobs for t in exec_t), "count", n),
        "executor.stages_per_query": (_mean(t.stages for t in exec_t), "count", n),
        "executor.tasks_per_query": (_mean(t.tasks for t in exec_t), "count", n),
        "executor.task_run_ms_per_query": (_mean(t.run_ms for t in exec_t), "ms", n),
        "executor.task_cpu_ms_per_query": (_mean(t.cpu_ms for t in exec_t), "ms", n),
        "executor.shuffle_write_kb_per_query": (
            _mean(t.shuffle_write_bytes / 1024 for t in exec_t), "KB", n),
        "executor.spill_kb_per_query": (_mean(t.spill_bytes / 1024 for t in exec_t), "KB", n),
        "executor.input_rows_per_result_row": (
            sum(t.input_rows for t in exec_t) / result_rows if result_rows else 0.0,
            "ratio", result_rows),
        "executor.cpu_utilisation": (cpu_ms / (run.wall * 1000.0 * run.cpus), "ratio", n),
        "sampler.build_s": (build_s("sampler.build"), "s", 1),
        "sketches.build_s": (build_s("sketches.build"), "s", 1),
        "rollup.build_s": (build_s("rollup.build"), "s", 1),
        "rollup.refresh_ms": (_mean(s.ms for s in refresh_spans), "ms", len(refresh_spans)),
        "rollup.incremental_share": (
            _mean(a.get("mode") == "incremental" for a in rollup_actions), "ratio",
            len(rollup_actions)),
        "maintenance.run_ms": (_mean(ms for ms, _, _ in maint), "ms", len(maint)),
        "maintenance.actions_per_run": (
            _mean(len(rep.get("refreshed", [])) for _, rep, _ in maint), "count", len(maint)),
        "maintenance.bytes_written_per_user_byte": (
            maint_out / run.appended_bytes if run.appended_bytes else 0.0, "ratio",
            len(maint)),
        "maintenance.workdir_mb": (_dir_mb(run.workdir), "MB", 1),
        "catalog.save_calls_per_op": (len(saves) / ops if ops else 0.0, "count", ops),
        "catalog.save_ms": (_mean(s.ms for s in saves), "ms", len(saves)),
        "session.start_s": (run.session_s, "s", 1),
        "session.register_s": (run.register_wall, "s", 1),
        "trace.overhead_pct": (median(overheads) if overheads else 0.0, "%", len(overheads)),
    })
    _write_trace(run, totals)
    metrics = {k: _metric(v, u) for k, (v, u, _) in m.items()}
    counts = {k: c for k, (_, _, c) in m.items()}
    quality, quality_n = _answers(run, traced)
    metrics.update({f"answers.{k}": v for k, v in quality.items()})
    counts.update({f"answers.{k}": v for k, v in quality_n.items()})
    notes = _route_lines(traced, _intended(run))
    notes.append(f"traced requests {n}, untraced {len(plain)}")
    return _result(run, metrics, counts, notes, metrics)
