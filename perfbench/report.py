"""Turns the harness's raw records into the benchmark's metrics.

End-to-end metrics (every workload, untraced runs):

* `setup_s` — from the start of input generation to the first timed
  operation: inputs, JVM launch, session, untimed warm/verify pass.
* `latency_p50_ms`, `latency_tail_ms` — one closed-loop operation: a
  pipeline batch from landing until all four stages are done (ingest), or
  one query's construction plus its `count()` (dashboard). The tail is
  p75 (see TAIL_PCT); the report states the sample count.
* `cycle_s` — median wall time of one cycle: a full pass over the
  dashboard keys, or five consecutive batches.
* `peak_rss_mb` — the JVM's VmHWM at the end of the timed phase.
* `stored_bytes_per_event` — bytes on disk (data plus log) of every graft
  table the run wrote, per source event.

Per-layer metrics (traced runs) are per-cycle totals, medians over cycles,
unless the name says otherwise; see README.md for the map from each layer
metric to the end-to-end metric it should move.
"""
import bisect
import json
import os
import statistics

import numpy as np

# The tail percentile. At the default run length the dashboard has 56
# samples per run (14 beyond p75); the ingest workload has 10 (3 beyond).
TAIL_PCT = 75

MODULE_OF = {
    "agg_daily_top_titles": "agg", "agg_daily_top_editors": "rel",
    "agg_multi": "rel", "join_inner": "rel", "join_asof": "rel",
    "win_rank_topn": "rel", "topk_orderby_limit": "rel",
    "dedup_text_hash": "llm", "sim_topk_cosine": "llm", "text_top_terms": "llm",
    "filter_partition_prune": "pipeline", "scan_metadata_count": "pipeline",
    "scan_bloom_skipping": "pipeline", "scan_table_changes": "pipeline"}

# traced span name -> per-layer metric of its total time per cycle
SPAN_TOTALS = {"curate": "curate.ms", "snapshot": "table.snapshot_ms",
               "mv_refresh": "table.mv_refresh_ms", "upsert": "table.upsert_ms",
               "drain": "streaming.drain_ms"}
# traced span name -> per-layer metric of its self time per cycle
SELF_NAMES = ["query", "construct", "action", "cleanup", "batch", "curate",
              "snapshot", "mv_refresh", "top_editors", "upsert", "drain"]

UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
         "cycle_s": "s", "peak_rss_mb": "MB", "stored_bytes_per_event": "B"}


def _med(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(d):
    total = 0
    for dp, _, fs in os.walk(d):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi)."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def summarize(workload, recs, checks, info, t_setup0, nproc, traced, dashboard_keys):
    """info: stored_base (source events the stored bytes are divided by),
    and for ingest raw_lines and timed_events."""
    stored_base = info["stored_base"]
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    ops = by.get("op", [])
    warm = by.get("warm", [])
    errors = by.get("error", [])
    cycles = by.get("cycle", [])
    timed_start = by["timed_start"][0] if "timed_start" in by else None
    tables = by.get("table", [])

    failed_ops = [o for o in ops if not o["ok"]] + [w for w in warm if not w["ok"]]
    failed_checks = [c for c in checks if not c[1]]
    attempted = len(ops) + len(warm) + len(checks) + len(errors)
    failed = len(failed_ops) + len(failed_checks) + len(errors)
    lines = []
    for e in errors:
        lines.append(f"FAIL run: {e['err']}")
    for o in failed_ops:
        lines.append(f"FAIL {o.get('key')}: {o.get('err')}")
    for name, ok, msg in checks:
        lines.append(f"{'PASS' if ok else 'FAIL'} check {name}: {msg}")

    lat = [(o["end"] - o["start"]) / 1e6 for o in ops if o["ok"]]
    pct = TAIL_PCT
    table_bytes = sum(_dir_bytes(t["root"]) for t in tables)
    metrics = {}
    if timed_start and lat and cycles:
        metrics = {
            "setup_s": timed_start["at_ms"] / 1000.0 - t_setup0,
            "latency_p50_ms": float(np.percentile(lat, 50)),
            "latency_tail_ms": float(np.percentile(lat, pct)),
            "cycle_s": _med([(c["end"] - c["start"]) / 1e9 for c in cycles]),
            "peak_rss_mb": by["rss_timed"][0]["vm_hwm_kb"] / 1024.0,
            "stored_bytes_per_event": table_bytes / max(1, stored_base),
        }
        lines.append(f"latency: n={len(lat)} p50={metrics['latency_p50_ms']:.1f} ms "
                     f"tail=p{pct} ({len(lat) - int(len(lat) * pct / 100)} samples beyond) "
                     f"{metrics['latency_tail_ms']:.1f} ms; cycles={len(cycles)}")
        if workload == "ingest":
            wall = sum((c["end"] - c["start"]) / 1e9 for c in cycles)
            lines.append(f"ingest: {info['timed_events'] / wall:.0f} curated events/s "
                         f"over the timed phase")
    else:
        failed = max(failed, 1)
        lines.append("FAIL run: no timed measurements")
    e2e = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}

    result = {"attempted": max(1, attempted), "failed": failed, "report": lines,
              "e2e": e2e, "metrics": e2e}
    if traced and metrics:
        layer, spans_out = per_layer(workload, by, ops, cycles, tables, nproc,
                                     dashboard_keys, info.get("raw_lines"))
        result["metrics"] = layer
        result["spans"] = spans_out
        result["report"] += layer_report(layer)
    return result


def per_layer(workload, by, ops, cycles, tables, nproc, keys, raw_lines):
    m = {}
    cyc = sorted((c["start"], c["end"]) for c in cycles)
    starts = [c[0] for c in cyc]

    def cycle_of(t):
        i = bisect.bisect_right(starts, t) - 1
        return i if i >= 0 and t < cyc[i][1] else None

    def per_cycle(items):
        """items: (time, value) -> median over cycles of per-cycle sums."""
        sums = [0.0] * len(cyc)
        for t, v in items:
            i = cycle_of(t)
            if i is not None:
                sums[i] += v
        return _med(sums)

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    # -- construction per module, key medians (dashboard) ---------------
    for mod in ("rel", "llm", "agg", "pipeline"):
        put(f"{mod}.construct_ms", per_cycle(
            (o["start"], (o["construct_end"] - o["start"]) / 1e6)
            for o in ops if MODULE_OF.get(o["key"]) == mod), "ms")
    for k in keys:
        put(f"key.{k}_ms", _med([(o["end"] - o["start"]) / 1e6
                                for o in ops if o["key"] == k and o["ok"]]), "ms")

    # -- Catalyst phases of the actions ---------------------------------
    for ph in ("analysis", "optimization", "planning"):
        put(f"plans.{ph}_ms", per_cycle(
            (p["start"], (p["end"] - p["start"]) / 1e6)
            for p in by.get("phase", []) if p["phase"] == ph), "ms")

    # -- Spark scheduler and executors ----------------------------------
    jobs = {j["job"]: j for j in by.get("job", [])}
    for e in by.get("job_end", []):
        if e["job"] in jobs:
            jobs[e["job"]]["end"] = e["end"]
    stage_job = {}
    for j in jobs.values():
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])
    stages = [(jobs[stage_job[s["stage"]]]["start"], s) for s in by.get("stage", [])
              if s["stage"] in stage_job]
    put("spark.jobs", per_cycle((j["start"], 1) for j in jobs.values()), "count")
    put("spark.stages", per_cycle((t, 1) for t, _ in stages), "count")
    put("spark.tasks", per_cycle((t, s["tasks"]) for t, s in stages), "count")
    put("spark.task_ms", per_cycle((t, s["run_ms"]) for t, s in stages), "ms")
    put("spark.cpu_ms", per_cycle((t, s["cpu_ns"] / 1e6) for t, s in stages), "ms")
    put("spark.gc_ms", per_cycle((t, s["gc_ms"]) for t, s in stages), "ms")
    walls = [(c[1] - c[0]) / 1e6 for c in cyc]
    task_by_cycle = [0.0] * len(cyc)
    for t, s in stages:
        i = cycle_of(t)
        if i is not None:
            task_by_cycle[i] += s["run_ms"]
    put("spark.busy_frac", _med([tm / (w * nproc) for tm, w in zip(task_by_cycle, walls)]),
        "fraction")
    for key, name in (("shuffle_write", "spark.shuffle_write_bytes"),
                      ("shuffle_read", "spark.shuffle_read_bytes"),
                      ("spill", "spark.spill_bytes"), ("scan", "spark.scan_bytes")):
        put(name, per_cycle((t, s[key]) for t, s in stages), "B")
    op_start = {o["op"]: o["start"] for o in ops}
    cg_ops = [c for c in by.get("codegen", []) if c["scope"] == "op" and c["op"] in op_start]
    put("spark.codegen_compiles", per_cycle((op_start[c["op"]], c["compiles"]) for c in cg_ops),
        "count")
    put("spark.codegen_compile_ms", per_cycle((op_start[c["op"]], c["ms"]) for c in cg_ops), "ms")
    cg_setup = [c for c in by.get("codegen", []) if c["scope"] == "setup"]
    put("setup.codegen_compiles", sum(c["compiles"] for c in cg_setup), "count")
    put("setup.codegen_compile_ms", sum(c["ms"] for c in cg_setup), "ms")
    put("rel.pins_leaked", per_cycle((o["start"], o["leaked"]) for o in ops), "count")
    put("jvm.live_heap_mb", max([h["live_bytes"] for h in by.get("heap", [])] or [0]) / 2**20,
        "MB")

    # -- pipeline layers (ingest) ---------------------------------------
    spans = [s for s in by.get("span", []) if s["end"] >= s["start"]]
    for sname, metric in SPAN_TOTALS.items():
        put(metric, per_cycle((s["start"], (s["end"] - s["start"]) / 1e6)
                              for s in spans if s["name"] == sname), "ms")
    roots = {t["root"].rstrip("/").split("/")[-1]: t for t in tables}
    cur = roots.get("curated") if workload == "ingest" else None
    put("curate.keep_ratio", (cur["live_rows"] / raw_lines) if cur and raw_lines else 0.0,
        "fraction")
    put("table.commits", sum(t["version"] for t in tables), "count")
    put("table.live_files", sum(t["live_files"] for t in tables), "count")
    logs = [os.path.join(t["root"], "_graft_log") for t in tables]
    put("table.log_bytes", sum(_dir_bytes(d) for d in logs), "B")
    put("table.checkpoints", sum(sum(1 for f in os.listdir(d) if f.endswith(".ckpt.json"))
                                 for d in logs if os.path.isdir(d)), "count")
    mv = roots.get("mv") if workload == "ingest" else None
    put("table.mv_groups", mv["live_rows"] if mv else 0, "count")
    put("table.upsert_files_rewritten",
        per_cycle((o["start"], o["files_rewritten"]) for o in ops
                  if o.get("files_rewritten", -1) >= 0), "count")
    prog = [p for p in by.get("progress", []) if p["rows"] > 0]
    put("streaming.get_batch_ms", per_cycle((p["at"], p["get_batch_ms"]) for p in prog), "ms")
    put("streaming.add_batch_ms", per_cycle((p["at"], p["add_batch_ms"]) for p in prog), "ms")
    put("streaming.rows", per_cycle((p["at"], p["rows"]) for p in prog), "count")

    # -- span self times and coverage -----------------------------------
    spans_sorted = sorted(spans, key=lambda s: s["start"])
    sstarts = [s["start"] for s in spans_sorted]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))

    def innermost(t):
        i = bisect.bisect_right(sstarts, t) - 1
        while i >= 0:
            s = spans_sorted[i]
            while s is not None and not (s["start"] <= t < s["end"]):
                s = by_id.get(s["parent"])
            return s
        return None

    pseudo = {"spark.job": [], "plans": []}
    for j in jobs.values():
        if "end" in j:
            pseudo["spark.job"].append((j["start"], j["end"]))
    for p in by.get("phase", []):
        pseudo["plans"].append((p["start"], p["end"]))
    attached = {}
    for kind, ivs in pseudo.items():
        for a, b in ivs:
            s = innermost(a)
            if s is not None:
                attached.setdefault(s["id"], {}).setdefault(kind, []).append((a, b))
                children.setdefault(s["id"], []).append((a, b))
    self_items = {n: [] for n in SELF_NAMES}
    jobs_items, plans_items = [], []
    for s in spans:
        cov = _union(children.get(s["id"], []), s["start"], s["end"])
        if s["name"] in self_items:
            self_items[s["name"]].append((s["start"], (s["end"] - s["start"] - cov) / 1e6))
        att = attached.get(s["id"], {})
        jobs_items.append((s["start"], _union(att.get("spark.job", []), s["start"], s["end"]) / 1e6))
        plans_items.append((s["start"], _union(att.get("plans", []), s["start"], s["end"]) / 1e6))
    for n in SELF_NAMES:
        put(f"self.{n}_ms", per_cycle(self_items[n]), "ms")
    put("self.spark_jobs_ms", per_cycle(jobs_items), "ms")
    put("self.plans_ms", per_cycle(plans_items), "ms")
    top = [(s["start"], s["end"]) for s in spans if s["parent"] == 0]
    unacc = [((c1 - c0) - _union(top, c0, c1)) / max(1, c1 - c0) for c0, c1 in cyc]
    put("span.unaccounted_frac", _med(unacc), "fraction")
    return m, spans


def layer_report(layer):
    return [f"layer {k} = {v['value']:.4g} {v['unit']}" for k, v in sorted(layer.items())]


# -- tracing overhead: traced e2e metrics against recent untraced runs ----
#
# The untraced runs are kept per history key (workload, source digest and
# --seconds), so a traced run is only compared with runs of the same code
# doing the same work.

def _hist_path(root, hist_key):
    return os.path.join(root, ".bench_build", f"untraced_{hist_key}.json")


def remember_untraced(root, hist_key, metrics):
    p = _hist_path(root, hist_key)
    hist = []
    if os.path.exists(p):
        with open(p) as f:
            hist = json.load(f)
    hist = (hist + [{k: v["value"] for k, v in metrics.items()}])[-10:]
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(hist, f)


def save_trace(root, workload, hist_key, run_id, res):
    """Write the spans (tagged with the run id) and the layer metrics of a
    traced run, and report the tracing overhead against the median of the
    recent untraced runs with the same history key (none: no comparison)."""
    d = os.path.join(root, ".bench_build")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"trace_{workload}.json"), "w") as f:
        json.dump({"run": run_id, "metrics": res["metrics"], "e2e": res["e2e"],
                   "spans": res.get("spans", [])}, f)
    if hist_key is None:
        return
    p = _hist_path(root, hist_key)
    if not os.path.exists(p):
        print("tracing overhead: no untraced run of this workload, source and "
              "--seconds to compare with")
        return
    with open(p) as f:
        hist = json.load(f)
    for k, v in res["e2e"].items():
        base = _med([h[k] for h in hist if k in h])
        if base:
            print(f"tracing overhead {k}: traced {v['value']:.4g} vs untraced median "
                  f"{base:.4g} {v['unit']} ({(v['value'] - base) / base:+.1%}, "
                  f"n={len(hist)})")
