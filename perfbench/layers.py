"""Per-layer metrics of a traced run, from spans and the Spark event log.

Every workload reports every metric in ``PER_LAYER``; a layer the workload
does not exercise reads 0.  Iteration-level values are medians over the
run's iterations, pass-level values (maintenance, bytes) are medians over
passes of per-pass totals.  ``per_layer`` also returns the per-iteration
table (grouped by pass and ``run()`` segment) and its consistency check:
the self-times of the iteration's phases plus the driver-idle time outside
them must account for the iteration wall to within ``CONSISTENCY_TOL``.
"""

from __future__ import annotations

import statistics

from spans import span_of, union_length

CRAWL_TABLES = ["frontier", "frontier_tombs", "seen", "docs", "items", "crawl_order", "failed"]
CONSISTENCY_TOL = 0.10
LISTING = "Listing leaf files and directories"


def _query_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


PER_LAYER: list[tuple[str, str]] = [
    ("session.build_s", "s"),
    ("engine.seed_s", "s"),
    ("engine.iteration_s", "s"),
    ("engine.jobs_per_iteration", "count"),
    ("engine.driver_idle_s", "s"),
    ("engine.driver_idle_growth_s", "s"),
    ("engine.resume_s", "s"),
    ("fetch.job_s", "s"),
    ("fetch.task_s", "s"),
    ("fetch.python_worker_s", "s"),
    ("fetch.rows_per_task_s", "rows/s"),
    ("fetch.ok_ratio", "ratio"),
    ("seen.links_checked", "count"),
    ("seen.new_ratio", "ratio"),
    ("seen.claim_s", "s"),
    ("seen.task_s", "s"),
    *((f"store.commit_s.{t}", "s") for t in CRAWL_TABLES),
    ("store.commit_window_s", "s"),
    ("store.checkpoint_s", "s"),
    ("store.frontier_segments", "count"),
    ("store.fold_s", "s"),
    ("store.compact_s", "s"),
    ("store.expire_s", "s"),
    ("store.bytes_rewritten", "bytes"),
    ("store.bytes_written", "bytes"),
    ("store.files_written", "count"),
    *(
        (f"query.{n}.{k}", "bytes" if k == "shuffle_bytes" else "s")
        for n in _query_names() for k in ("build_s", "plan_s", "exec_s", "shuffle_bytes")
    ),
    ("query.task_s", "s"),
    ("query.spill_bytes", "bytes"),
    ("query.task_skew_max", "ratio"),
    # the workload-level figures as measured in the traced run: their
    # distance from the untraced end-to-end numbers is the tracing overhead
    ("crawl_urls_per_s", "1/s"),
    ("iteration_p50_s", "s"),
    ("iteration_tail_s", "s"),
    ("store_bytes_per_url", "bytes/URL"),
    ("query_suite_s", "s"),
    ("query_geomean_s", "s"),
    ("op_error_ratio", "ratio"),
]


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def tail(xs) -> float:
    """The highest value with at least 10 samples above it: the highest
    percentile a run's sample count supports; the median below 11 samples."""
    xs = sorted(xs)
    return xs[len(xs) - 11] if len(xs) > 10 else _med(xs)


def _dur(s) -> float:
    return s["end"] - s["start"]


def _iteration_row(it, spans, jobs) -> dict:
    lo, hi = it["start"], it["end"]
    wall = hi - lo
    in_jobs = [j for j in jobs if lo <= j["submit"] < hi]
    in_spans = [s for s in spans if lo <= s["start"] < hi]
    main_jobs = [j for j in in_jobs if span_of(j)[0] == "engine.run"]
    # the iteration's first query on the driver thread is the lease read plus
    # the fused fetch+parse; adaptive execution runs it as several jobs
    fetch = [j for j in main_jobs if j["sql"] == main_jobs[0]["sql"]] if main_jobs else []
    commits = [s for s in in_spans if s["name"].startswith("store.commit.") and s["parent"] is None]
    loop_maint = [
        s for s in in_spans
        if s["parent_name"] == "engine.run"
        and (s["name"].startswith(("store.fold.", "store.rewrite.")) or s["name"] in (
            "store.checkpoint", "store.compact"))
    ]
    ckpt = [s for s in loop_maint if s.get("iteration_end")]

    # phases: the driver thread's jobs (fetch, claim reads, and Spark's own
    # parallel file listing, which replaces the job description with its
    # own), the commit window, and the in-loop checkpoint/fold/compaction
    driver_jobs = main_jobs + [j for j in in_jobs if j["desc"].startswith(LISTING)]
    phases = [[(j["submit"], j["end"]) for j in driver_jobs]]
    window = 0.0
    if commits:
        c0, c1 = min(s["start"] for s in commits), max(s["end"] for s in commits)
        window = c1 - c0
        phases.append([(c0, c1)])
    phases += [[(s["start"], s["end"])] for s in loop_maint]
    self_s = sum(union_length(ph, lo, hi) for ph in phases)
    jobs_iv = [(j["submit"], j["end"]) for j in in_jobs]
    busy = union_length(jobs_iv, lo, hi)
    idle_outside = wall - union_length([iv for ph in phases for iv in ph] + jobs_iv, lo, hi)

    seen_spans = [s for s in commits if s["name"] in ("store.commit.seen", "store.commit.seen_set")]
    claim_ids, claim_s = set(), 0.0
    if seen_spans:
        th = seen_spans[0]["thread"]
        chain = [s for s in commits if s["thread"] == th and s["name"] in (
            "store.commit.frontier", "store.commit.seen", "store.commit.seen_set")]
        claim_s = sum(_dur(s) for s in chain)
        claim_ids = {s["id"] for s in chain}
    commit_s = {t: sum(_dur(s) for s in commits if s["name"] == f"store.commit.{t}")
                for t in CRAWL_TABLES}
    commit_s["seen"] += sum(_dur(s) for s in commits if s["name"] == "store.commit.seen_set")
    return {
        "start": lo, "end": hi, "wall_s": wall,
        "jobs": len(in_jobs),
        "driver_idle_s": wall - busy,
        "fetch_job_s": (max(j["end"] for j in fetch) - fetch[0]["submit"]) if fetch else 0.0,
        "fetch_task_s": sum(j["task_s"] for j in fetch),
        "seen_claim_s": claim_s,
        "seen_task_s": sum(j["task_s"] for j in in_jobs if span_of(j)[1] in claim_ids),
        "commit_window_s": window,
        "commit_s": commit_s,
        "checkpoint_s": sum(_dur(s) for s in ckpt),
        "fold_s": sum(_dur(s) for s in loop_maint if s["name"].startswith("store.fold.")),
        "phase_self_s": self_s,
        "idle_outside_phases_s": idle_outside,
        "accounted_ratio": (self_s + idle_outside) / wall if wall > 0 else 1.0,
        "leased": it["leased"], "fetched_ok": it["fetched_ok"],
        "links_new": it["links_new"], "links_dup": it["links_dup"],
    }


def _crawl(run, rec, jobs, pyw, m: dict) -> list[dict]:
    spans = rec.spans
    table, seg_growth, per_pass = [], [], []
    for p_i, p in enumerate(run.passes):
        t0, t1 = p["t0"], p["t1"]
        pass_spans = [s for s in spans if t0 <= s["start"] < t1]
        writes = [s for s in pass_spans if "bytes" in s
                  and not (s["parent_name"] or "").startswith("store.rewrite.")]
        rewritten = [s for s in writes if s["name"].startswith(("store.fold.", "store.rewrite."))
                     or s["parent_name"] == "store.compact"]
        per_pass.append({
            "fold_s": sum(_dur(s) for s in pass_spans if s["name"].startswith("store.fold.")),
            "compact_s": sum(_dur(s) for s in pass_spans if s["name"] == "store.compact"),
            "expire_s": sum(_dur(s) for s in pass_spans if s["name"] == "store.expire"),
            "bytes_written": sum(s["bytes"] for s in writes),
            "files_written": sum(s["files"] for s in writes),
            "bytes_rewritten": sum(s["bytes"] for s in rewritten),
        })
        for s_i, seg in enumerate(p["segments"]):
            rows = []
            for i, it in enumerate(seg["iterations"]):
                row = _iteration_row(it, spans, jobs)
                rows.append({"pass": p_i, "segment": s_i, "iteration": i, **row})
            if len(rows) >= 2:
                seg_growth.append(rows[-1]["driver_idle_s"] - rows[0]["driver_idle_s"])
            table += rows

    leased = sum(r["leased"] for r in table)
    checked = sum(r["links_new"] + r["links_dup"] for r in table)
    fetch_task = sum(r["fetch_task_s"] for r in table)
    walls = [r["wall_s"] for r in table]
    m.update({
        "engine.seed_s": _med(p["seed_s"] for p in run.passes),
        "engine.iteration_s": _med(walls),
        "engine.jobs_per_iteration": _med(r["jobs"] for r in table),
        "engine.driver_idle_s": _med(r["driver_idle_s"] for r in table),
        "engine.driver_idle_growth_s": _med(seg_growth),
        "engine.resume_s": _med(p["maintenance_s"].get("resume", 0.0) for p in run.passes),
        "fetch.job_s": _med(r["fetch_job_s"] for r in table),
        "fetch.task_s": _med(r["fetch_task_s"] for r in table),
        # the profiler is cleared when the timed passes start (Recorder.start_timed)
        "fetch.python_worker_s": (pyw or {}).get("fetch", 0.0) / max(len(table), 1),
        "fetch.rows_per_task_s": leased / fetch_task if fetch_task else 0.0,
        "fetch.ok_ratio": sum(r["fetched_ok"] for r in table) / leased if leased else 0.0,
        "seen.links_checked": _med(r["links_new"] + r["links_dup"] for r in table),
        "seen.new_ratio": sum(r["links_new"] for r in table) / checked if checked else 0.0,
        "seen.claim_s": _med(r["seen_claim_s"] for r in table),
        "seen.task_s": _med(r["seen_task_s"] for r in table),
        "store.commit_window_s": _med(r["commit_window_s"] for r in table),
        "store.checkpoint_s": _med(r["checkpoint_s"] for r in table),
        "store.frontier_segments": _med(rec.frontier_segments),
        "store.fold_s": _med(pp["fold_s"] for pp in per_pass),
        "store.compact_s": _med(pp["compact_s"] for pp in per_pass),
        "store.expire_s": _med(pp["expire_s"] for pp in per_pass),
        "store.bytes_rewritten": _med(pp["bytes_rewritten"] for pp in per_pass),
        "store.bytes_written": _med(pp["bytes_written"] for pp in per_pass),
        "store.files_written": _med(pp["files_written"] for pp in per_pass),
        "crawl_urls_per_s": _med(p["units"] / p["wall"] for p in run.passes),
        "iteration_p50_s": _med(walls),
        "iteration_tail_s": tail(walls),
        "store_bytes_per_url": _med(p["store_bytes"] / max(p["units"], 1) for p in run.passes),
    })
    for t in CRAWL_TABLES:
        m[f"store.commit_s.{t}"] = _med(r["commit_s"][t] for r in table if r["commit_s"][t] > 0)
    return table


def _queries(run, rec, jobs, m: dict) -> list[dict]:
    names = list(run.passes[0]["queries"])
    exec_spans: dict[str, list[dict]] = {}
    for s in sorted(rec.spans, key=lambda s: s["start"]):
        if s["name"].endswith(".exec"):
            exec_spans.setdefault(s["name"][len("query."):-len(".exec")], []).append(s)
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        by_span.setdefault(span_of(j)[1], []).append(j)
    pass_task = [0.0] * len(run.passes)
    pass_spill = [0.0] * len(run.passes)
    skew, table = {}, []
    for n in names:
        shuffle, skews = [], []
        for p_i, s in enumerate(exec_spans.get(n, [])[: len(run.passes)]):
            js = by_span.get(s["id"], [])
            shuffle.append(sum(j["shuffle_bytes"] for j in js))
            pass_task[p_i] += sum(j["task_s"] for j in js)
            pass_spill[p_i] += sum(j["spill_bytes"] for j in js)
            times = [t for j in js for t in j["task_times"]]
            med = statistics.median(times) if times else 0.0
            if len(times) >= 2 and med > 0:
                skews.append(max(times) / med)
        skew[n] = _med(skews)
        row = {k: _med(p["queries"][n][k] for p in run.passes)
               for k in ("build_s", "plan_s", "exec_s")}
        row["shuffle_bytes"] = _med(shuffle)
        for k, v in row.items():
            m[f"query.{n}.{k}"] = v
        table.append({"query": n, **row, "task_skew": skew[n]})
    walls = {n: _med(p["queries"][n]["wall"] for p in run.passes) for n in names}
    m.update({
        "query.task_s": _med(pass_task),
        "query.spill_bytes": _med(pass_spill),
        "query.task_skew_max": max(skew.values(), default=0.0),
        "query_suite_s": _med(p["wall"] for p in run.passes),
        "query_geomean_s": statistics.geometric_mean([max(w, 1e-9) for w in walls.values()]),
    })
    return table


def per_layer(run, rec, jobs, pyw, session_build_s: float) -> tuple[dict, list, dict]:
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.build_s"] = session_build_s
    m["op_error_ratio"] = run.failed / max(run.attempted, 1)
    if "queries" in run.passes[0]:
        table = _queries(run, rec, jobs, m)
        consistency = {"checked": False}
    else:
        table = _crawl(run, rec, jobs, pyw, m)
        worst = max((abs(r["accounted_ratio"] - 1.0) for r in table), default=0.0)
        consistency = {"checked": True, "max_error": worst, "ok": worst <= CONSISTENCY_TOL}
    units = dict(PER_LAYER)
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    return metrics, table, consistency
