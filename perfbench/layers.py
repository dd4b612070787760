"""Metrics of one run, computed from the JVM's raw result file.

`registry(...)` and `cdc(...)` return the end-to-end metrics (tracing
off), the per-layer metrics (tracing on), the correctness tally and a
detail section for the layer file. Every workload reports every metric;
a layer a workload does not exercise reads 0.
"""
from stats import lower_median_index, median, tail

FAMILIES = ["q", "cdc", "text", "dedup", "sim", "mm", "curation"]
BUILDS = ["graph_pair_counts", "graph_edges", "phash_pairs", "phash_labels"]
TWINS = ["survival", "kl", "neardup"]
STREAMS = ["users_land"] + TWINS
STATEFUL = ["survival", "kl"]

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
              ("ops_per_s", "1/s")]


def _per_layer_units():
    u = [("construct.s", "s")]
    u += [(f"construct.s.{f}", "s") for f in FAMILIES]
    u += [("construct.jobs", "count"), ("construct.queries_with_jobs", "count"),
          ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
          ("catalyst.planning_s", "s"), ("exec.wall_s", "s")]
    u += [(f"exec.wall_s.{f}", "s") for f in FAMILIES]
    u += [("exec.driver_gap_s", "s"),
          ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
          ("exec.idle_slot_s", "s"), ("exec.task_run_s", "s")]
    u += [(f"exec.task_run_s.{f}", "s") for f in FAMILIES]
    u += [("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
          ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
          ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes"),
          ("exec.task_attempts", "count"), ("exec.task_success_ratio", "ratio")]
    u += [(f"build.{b}_s", "s") for b in BUILDS]
    u += [("build.jobs", "count"), ("build.shuffle_write_bytes", "bytes"),
          ("sources.decode_s", "s"), ("sources.merge_s", "s"),
          ("sources.jobs_per_batch", "count"), ("sources.rows_in", "count"),
          ("sources.rows_merged", "count"), ("sources.compaction_ratio", "ratio")]
    u += [(f"streaming.batch_ms.{q}", "ms") for q in STREAMS]
    u += [(f"streaming.trigger_overhead_ms.{q}", "ms") for q in STREAMS]
    u += [("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
          ("streaming.state_commit_ms", "ms"), ("streaming.neardup_index_bytes", "bytes")]
    u += [(f"streaming.batch_growth.{q}", "ratio") for q in STREAMS]
    u += [("streaming.twin_freshness_p50_ms", "ms"),
          ("streaming.twin_freshness_tail_ms", "ms"),
          ("streaming.backlog_max_events", "count"), ("gen.lateness_ms", "ms"),
          ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("jvm.peak_rss_mb", "MB"),
          ("trace.registry_total_s", "s"), ("trace.driver_s", "s"),
          ("trace.orphan_jobs", "count")]
    return u


PER_LAYER = _per_layer_units()


def _with_units(values, names):
    return {k: (float(values.get(k, 0.0)), u) for k, u in names}


def _jvm_layers(raw):
    j = raw["jvm"]
    return {"jvm.gc_s": j["gc_s"], "jvm.heap_peak_mb": j["heap_peak_mb"],
            "jvm.peak_rss_mb": j["peak_rss_mb"]}


# ---------------------------------------------------------------- registry

def registry(raw, expected, traced):
    samples = raw["samples"]
    failures = {}
    for i, s in enumerate(raw["cold"] + samples):
        q = s["q"]
        if "err" in s:
            failures[f"{q}#{i}"] = s["err"]
        elif q in expected:
            exp = expected[q]
            if isinstance(exp, str):
                failures[f"{q}#{i}"] = f"oracle {exp}"
            elif s["rows"] != exp:
                failures[f"{q}#{i}"] = f"count {s['rows']} != oracle {exp}"
    for b in raw["builds"]:
        if b.get("err"):
            failures[f"build {b['name']}"] = b["err"]

    by_q = {}
    for s in samples:
        by_q.setdefault(s["q"], []).append(s)
    rep = {}
    for q, ss in by_q.items():
        ss = sorted(ss, key=lambda s: s["s"])
        rep[q] = ss[lower_median_index(len(ss))]
    total = sum(s["s"] for s in rep.values())
    times = [s["s"] for s in samples]
    e2e = {"setup_s": raw["setup_s"],
           "op_p50_ms": median(times) * 1e3,
           "op_tail_ms": tail(times) * 1e3,
           "ops_per_s": len(rep) / total if total > 0 else 0.0}
    detail = {"registry_total_s": total, "samples": len(samples),
              "cold_pass_s": sum(s["s"] for s in raw["cold"]),
              "passes": raw["passes"], "window_s": raw["window_s"],
              "per_query_s": {q: s["s"] for q, s in sorted(rep.items())},
              "builds_s": {b["name"]: b["s"] for b in raw["builds"]}}
    layers = {}
    if traced:
        layers = _registry_layers(raw, rep, total)
        detail["reconcile"] = _reconcile(raw, rep, total)
        layers["trace.driver_s"] = detail["reconcile"]["driver_s"]
        detail["orphan_jobs"] = raw.get("orphan_jobs") or {}
    return {"end_to_end": _with_units(e2e, END_TO_END),
            "per_layer": _with_units(layers, PER_LAYER),
            "attempted": len(raw["cold"]) + len(samples) + len(raw["builds"]),
            "failed": len(failures), "failures": failures, "detail": detail}


def _registry_layers(raw, rep, total):
    L = {k: 0.0 for k, _ in PER_LAYER}
    attempts = succeeded = 0
    for s in rep.values():
        f = s["fam"]
        c, a = s["construct"], s["action"]
        L["construct.s"] += s["construct_s"]
        L[f"construct.s.{f}"] += s["construct_s"]
        L["construct.jobs"] += c["jobs"]
        L["construct.queries_with_jobs"] += 1 if c["jobs"] > 0 else 0
        catalyst = 0.0
        for p in ("analysis", "optimization", "planning"):
            L[f"catalyst.{p}_s"] += s[f"{p}_s"]
            catalyst += s[f"{p}_s"]
        L["exec.wall_s"] += a["jobs_wall_s"]
        L[f"exec.wall_s.{f}"] += a["jobs_wall_s"]
        L["exec.driver_gap_s"] += s["action_s"] - catalyst - a["jobs_wall_s"]
        L["exec.jobs"] += a["jobs"]
        L["exec.stages"] += a["stages"]
        L["exec.tasks"] += a["tasks"]
        L["exec.task_run_s"] += a["run_s"]
        L[f"exec.task_run_s.{f}"] += a["run_s"]
        L["exec.task_cpu_s"] += a["cpu_s"]
        L["exec.task_gc_s"] += a["gc_s"]
        L["exec.shuffle_read_bytes"] += a["shuffle_read_bytes"]
        L["exec.shuffle_write_bytes"] += a["shuffle_write_bytes"]
        L["exec.spill_bytes"] += a["spill_bytes"]
        L["exec.input_bytes"] += a["input_bytes"]
        attempts += a["attempts"]
        succeeded += a["succeeded"]
    L["exec.task_attempts"] = attempts
    L["exec.task_success_ratio"] = succeeded / attempts if attempts else 1.0
    L["exec.idle_slot_s"] = L["exec.wall_s"] * int(raw.get("cpus", 4)) - L["exec.task_run_s"]
    for b in raw["builds"]:
        if b["name"] in BUILDS:
            L[f"build.{b['name']}_s"] = b["s"]
        L["build.jobs"] += b.get("jobs", 0)
        L["build.shuffle_write_bytes"] += b.get("shuffle_write_bytes", 0)
    L.update(_jvm_layers(raw))
    L["trace.registry_total_s"] = total
    L["trace.orphan_jobs"] = sum((raw.get("orphan_jobs") or {}).values())
    return L


# Job times come from the listener bus and span times from the driver's
# clock, both in whole milliseconds.
SPAN_TOLERANCE_MS = 5


def _catalyst_s(s):
    return sum(s[f"{p}_s"] for p in ("analysis", "optimization", "planning"))


def _reconcile(raw, rep, total):
    """Check the spans against what the listener measured on its own.

    For every execution, each group's jobs must run inside its span
    (construct jobs between the query start and the end of construction,
    action jobs between that and the end of `count()`), and the action's
    Catalyst phases plus its jobs' wall time must fit in the action. The
    measured share of the representative pass (construct and action jobs'
    wall time plus Catalyst) must not exceed its total."""
    tol = SPAN_TOLERANCE_MS
    violations = []
    for i, s in enumerate(raw["cold"] + raw["samples"]):
        if "span_ms" not in s:
            continue
        t0, t1, t2 = s["span_ms"]
        for part, lo, hi in (("construct", t0, t1), ("action", t1, t2)):
            g = s[part]
            if g["jobs"] and (g["first_job_start_ms"] < lo - tol
                              or g["last_job_end_ms"] > hi + tol):
                violations.append(f"{s['q']}#{i}: {part} jobs outside the span")
        if _catalyst_s(s) + s["action"]["jobs_wall_s"] > s["action_s"] + tol / 1e3:
            violations.append(f"{s['q']}#{i}: catalyst + jobs exceed the action")
    measured = sum(s["construct"]["jobs_wall_s"] + _catalyst_s(s) + s["action"]["jobs_wall_s"]
                   for s in rep.values())
    return {"registry_total_s": total, "measured_s": measured,
            "driver_s": total - measured, "tolerance_ms": tol,
            "violations": violations}


# ---------------------------------------------------------------- cdc_stream

def _batches(raw, query, bursts=False):
    """micro-batches that carried rows, minus the landing query's set-up
    (warm-up) batches; the twins start after the window and have none. For
    the landing query these are the window's batches, plus with `bursts`
    the batches that landed the capacity backlogs."""
    first = 0 if query in TWINS else raw["setup_batches"]
    bs = [b for b in raw["progress"].get(query, []) if b["rows"] > 0 and b["batch"] >= first]
    if query == "users_land" and not bursts:
        burst_offsets = [x["offset"] for x in raw["bursts"]]
        if burst_offsets:
            bs = [b for b in bs if b["end_offset"] < min(burst_offsets)]
    return bs


def _freshness(raw, query):
    """(ms from due time to batch commit, window seq) of each window event"""
    feed = raw["feeds"][query]
    warm = raw["warm"][feed]
    due = raw["due_s"][feed]
    w0 = raw["window_start_ms"]
    chunks = {c[0]: (c[1], c[2]) for c in raw["chunks"][feed]}
    out = []
    for b in _batches(raw, query):
        commit = b["start_ms"] + b["trigger_ms"]
        for off in range(b["start_offset"] + 1, b["end_offset"] + 1):
            lo, hi = chunks.get(off, (0, 0))
            for seq in range(max(lo, warm), min(hi, warm + len(due))):
                out.append(commit - (w0 + due[seq - warm] * 1e3))
    return out


def cdc(raw, traced):
    failures = {}
    for q, e in raw["stream_errors"].items():
        failures[f"stream {q}"] = e
    failed = len(failures)
    for name, c in raw["checks"].items():
        if "error" in c:
            failures[name] = c["error"]
            failed += 1
            continue
        bad = c["missing"] + c["extra"] + c["wrong"]
        if bad:
            failures[name] = c
            failed += bad
    attempted = sum(raw["generated"].values())
    land = _freshness(raw, "users_land")
    capacity = [b["rows"] / b["s"] for b in raw["bursts"] if not b["warm"]]
    e2e = {"setup_s": raw["setup_s"],
           "op_p50_ms": median(land),
           "op_tail_ms": tail(land),
           "ops_per_s": median(capacity)}
    twin = [x for q in TWINS for x in _freshness(raw, q)]
    detail = {"land_freshness_ms": {"p50": median(land), "tail": tail(land), "n": len(land)},
              "twin_freshness_ms": {q: {"p50": median(f), "tail": tail(f), "n": len(f)}
                                    for q in TWINS for f in [_freshness(raw, q)]},
              "capacity_per_s": capacity,
              "window_s": raw["window_s"], "bursts_s": raw["bursts_s"],
              "drain_s": raw["drain_s"],
              "checks": raw["checks"]}
    layers = {}
    if traced:
        layers = _cdc_layers(raw, twin)
    return {"end_to_end": _with_units(e2e, END_TO_END),
            "per_layer": _with_units(layers, PER_LAYER),
            "attempted": attempted, "failed": min(failed, attempted),
            "failures": failures, "detail": detail}


def _cdc_layers(raw, twin):
    L = {k: 0.0 for k, _ in PER_LAYER}
    for sp in raw["spans"]:
        if sp["batch"] >= raw["setup_batches"] and sp["kind"] in ("sources.decode", "sources.merge"):
            L[sp["kind"] + "_s"] += sp["ms"] / 1e3
    lb = _batches(raw, "users_land", bursts=True)
    all_land = [b for b in raw["progress"].get("users_land", []) if b["rows"] > 0]
    jobs = (raw.get("jobs") or {}).get("users_land", {}).get("jobs", 0)
    L["sources.jobs_per_batch"] = jobs / len(all_land) if all_land else 0.0
    keys = raw["distinct_keys"]
    chunks = {c[0]: (c[1], c[2]) for c in raw["chunks"]["users"]}
    rows_in = merged = 0
    for b in lb:
        ks = set()
        for off in range(b["start_offset"] + 1, b["end_offset"] + 1):
            lo, hi = chunks.get(off, (0, 0))
            ks.update(keys[lo:hi])
            rows_in += hi - lo
        merged += len(ks)
    L["sources.rows_in"] = rows_in
    L["sources.rows_merged"] = merged
    L["sources.compaction_ratio"] = merged / rows_in if rows_in else 0.0
    for q in STREAMS:
        bs = _batches(raw, q)
        trig = [b["trigger_ms"] for b in bs]
        L[f"streaming.batch_ms.{q}"] = median(trig)
        L[f"streaming.trigger_overhead_ms.{q}"] = median(
            [b["trigger_ms"] - b["add_batch_ms"] for b in bs])
        k = max(1, len(trig) // 5)
        first = median(trig[:k])
        L[f"streaming.batch_growth.{q}"] = median(trig[-k:]) / first if first > 0 else 0.0
    for q in STATEFUL:
        ps = raw["progress"].get(q, [])
        if ps:
            L["streaming.state_rows"] += ps[-1]["state_rows"]
            L["streaming.state_bytes"] += ps[-1]["state_bytes"]
        L["streaming.state_commit_ms"] += median([b["state_commit_ms"] for b in _batches(raw, q)])
    L["streaming.neardup_index_bytes"] = raw["neardup_index_bytes"]
    L["streaming.twin_freshness_p50_ms"] = median(twin)
    L["streaming.twin_freshness_tail_ms"] = tail(twin)
    L["streaming.backlog_max_events"] = raw["backlog_max_events"]
    L["gen.lateness_ms"] = tail([x for v in raw["lateness_ms"].values() for x in v])
    L.update(_jvm_layers(raw))
    return L
