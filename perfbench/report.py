"""Turn the JVM's raw result into checks, metrics and a readable report.

Everything here is a pure function of the raw result dict that
``perfbench.Main`` writes, so ``tests/test_report.py`` can exercise it
without Spark.
"""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean of positive numbers."""
    if not xs:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(samples, p):
    xs = sorted(samples)
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def tail_percentile(samples):
    """The highest of TAIL_PERCENTILES that still has at least ten
    samples beyond it, as (percentile, nearest-rank value); (None, None)
    when even the median lacks ten samples beyond it."""
    xs = sorted(samples)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100.0 * len(xs))
        if rank >= 1 and len(xs) - rank >= 10:
            return p, nearest_rank(xs, p)
    return None, None


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent, overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def exclusive_times(spans):
    """Span id -> the time during which it is the deepest open span (ties
    go to the one that started last). Unlike self time this never counts
    overlapping siblings twice, so it sums to the wall the spans cover."""
    byid = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s
        while p["parent"] in byid:
            d, p = d + 1, byid[p["parent"]]
        depth[s["id"]] = d
    out = {s["id"]: 0.0 for s in spans}
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        live = [s for s in spans if s["start"] <= mid < s["end"]]
        if live:
            top = max(live, key=lambda s: (depth[s["id"]], s["start"]))
            out[top["id"]] += b - a
    return out


# ---------------------------------------------------------------- checks

def _close(a, b, tol):
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


def etl_violations(ops, n):
    """(op name, invariant) pairs that one ETL pass violates. The
    invariants hold for every seed: nothing is lost or invented between
    the generator, the validation gate, the sink and the streaming twin."""
    by = {o["name"]: o.get("check") or {} for o in ops if not o.get("error")}
    bad = []
    if "process" in by:
        obs = by["process"].get("observed") or {}
        total, valid = obs.get("total_orders"), obs.get("valid_orders")
        invalid, revenue = obs.get("invalid_orders"), obs.get("valid_revenue")
        if total != n:
            bad.append(("process", "observed total = n"))
        if valid is None or invalid is None or valid + invalid != n:
            bad.append(("process", "valid + invalid = n"))
        if "readback" in by:
            rb = by["readback"]
            if rb.get("rows") != valid:
                bad.append(("readback", "readback rows = valid"))
            tol = 0.005 * max(1, rb.get("groups") or 1) + 1e-9 * abs(revenue or 0)
            if not _close(rb.get("revenue"), revenue, tol):
                bad.append(("readback", "readback revenue = observed valid revenue"))
        if "stream" in by:
            so = by["stream"].get("observed") or {}
            if any(so.get(k) != obs.get(k)
                   for k in ("total_orders", "valid_orders", "invalid_orders")) or \
                    not _close(so.get("valid_revenue"), revenue, 1e-6 * max(1.0, abs(revenue or 0))):
                bad.append(("stream", "streaming totals = batch totals"))
        if "stream_readback" in by:
            sr = by["stream_readback"]
            if sr.get("rows") != valid or \
                    not _close(sr.get("revenue"), revenue, 0.005 + 1e-9 * abs(revenue or 0)):
                bad.append(("stream_readback", "streaming sink totals = batch totals"))
    return bad


def fingerprint_matches(got, want):
    """Row count and row hash must be equal; each floating point column's
    plain and row-weighted sums must agree to 1e-9 of its absolute sum."""
    if not got or not want:
        return False
    if got["rows"] != want["rows"] or got["hash"] != want["hash"]:
        return False
    if set(got["floats"]) != set(want["floats"]):
        return False
    for col, (s, w, a) in want["floats"].items():
        gs, gw, _ = got["floats"][col]
        tol = 1e-9 * max(1.0, a) * 2
        if abs(gs - s) > tol or abs(gw - w) > tol:
            return False
    return True


def failures(result, fingerprints):
    """Every operation run, and a reason for each one that failed."""
    attempted, failed = 0, []
    for p in result["passes"]:
        ops = p["ops"]
        attempted += len(ops)
        for o in ops:
            if o.get("error"):
                failed.append((p["index"], o["name"], o["error"]))
        if result["workload"] == "etl_orders":
            for op, inv in etl_violations(ops, p["extra"]["n"]):
                failed.append((p["index"], op, "violated: " + inv))
        else:
            for o in ops:
                if not o.get("error") and not fingerprint_matches(
                        o.get("check"), fingerprints.get(o["name"])):
                    failed.append((p["index"], o["name"], "fingerprint mismatch"))
    return attempted, failed


# --------------------------------------------------------------- metrics

def _steady(result, traced):
    return [p for p in result["passes"][1:] if p["traced"] == traced]


def _op_walls(passes):
    walls = {}
    for p in passes:
        for o in p["ops"]:
            walls.setdefault(o["name"], []).append(o["wall_ms"])
    return walls


def etl_figures(result):
    """Throughput and micro-batch latency of the ETL flow's steady passes."""
    steady = _steady(result, False)
    n = result["passes"][0]["extra"]["n"]
    walls = _op_walls(steady)
    batch_leg = median([sum(o["wall_ms"] for o in p["ops"]
                            if o["name"] in ("generate", "process", "readback"))
                        for p in steady])
    stream = median(walls.get("stream", []))
    lat = [x for p in steady for o in p["ops"] if o["name"] == "stream"
           for x in o["check"].get("batch_ms", [])]
    p, tail = tail_percentile(lat)
    return {
        "orders_per_s": n / (batch_leg / 1000.0) if batch_leg else 0.0,
        "stream_orders_per_s": n / (stream / 1000.0) if stream else 0.0,
        "microbatch_p50_ms": median(lat),
        "microbatch_tail_pct": p,
        "microbatch_tail_ms": tail,
        "microbatch_samples": len(lat),
    }


def op_table(result):
    """(operation, first-pass ms, median steady ms) in first-pass order."""
    steady = _op_walls(_steady(result, False))
    return [(o["name"], o["wall_ms"], median(steady.get(o["name"], [])))
            for o in result["passes"][0]["ops"]]


def end_to_end(result):
    steady = _steady(result, False)
    walls = _op_walls(steady)
    return {
        "setup_s": result["setup_ms"] / 1000.0,
        "wall_s": median([p["wall_ms"] for p in steady]) / 1000.0,
        "first_pass_s": result["passes"][0]["wall_ms"] / 1000.0,
        "op_geomean_ms": geomean([median(v) for v in walls.values()]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def _pass_layers(p, spans, selfs, cores):
    """Per-layer figures of one traced pass."""
    mine = [s for s in spans if s["pass"] == p["index"]]
    byid = {s["id"]: s for s in mine}

    def dur(s):
        return s["end"] - s["start"]

    def total(name):
        return sum(dur(s) for s in mine if s["name"] == name)

    def attr(name, key):
        return sum(s["attrs"].get(key, 0.0) for s in mine if s["name"] == name)

    jobs = [s for s in mine if s["name"] == "exec.job"]
    cjobs = [j for j in jobs if byid.get(j["parent"], {}).get("name") == "queries.construct"]
    ops = [s for s in mine if s["parent"] >= 0 and byid.get(s["parent"], {}).get("parent") == -1]
    c = p["counters"]
    task_run = sum(j["attrs"]["task_run_ms"] for j in jobs)
    js = lambda k: sum(j["attrs"][k] for j in jobs)
    op_checks = {o["name"]: o.get("check") or {} for o in p["ops"]}
    obs = (op_checks.get("process") or {}).get("observed") or {}
    return {
        "queries.construct_ms": total("queries.construct"),
        "queries.construct_jobs": float(len(cjobs)),
        "queries.construct_task_ms": sum(j["attrs"]["task_run_ms"] for j in cjobs),
        "catalyst.analysis_ms": total("catalyst.analysis"),
        "catalyst.optimization_ms": total("catalyst.optimization"),
        "catalyst.planning_ms": total("catalyst.planning"),
        "catalyst.rule_ms": c["rule_ms"],
        "catalyst.rule_runs": c["rule_runs"],
        "catalyst.rule_effective_frac":
            c["rule_effective_runs"] / c["rule_runs"] if c["rule_runs"] else 0.0,
        "plans.rule_ms": p["graft_rule_ms"],
        "codegen.compile_ms": c["codegen_ms"],
        "codegen.compiles": c["codegen_compiles"],
        "codegen.fallbacks": c["codegen_fallbacks"],
        "exec.jobs": float(len(jobs)),
        "exec.stages": js("stages"),
        "exec.tasks": js("tasks"),
        "exec.task_run_ms": task_run,
        "exec.task_cpu_ms": js("task_cpu_ms"),
        "exec.task_gc_ms": js("task_gc_ms"),
        "exec.sched_wait_ms": js("sched_wait_ms"),
        "exec.shuffle_write_mb": js("shuffle_write_mb"),
        "exec.spill_mb": js("spill_mb"),
        "exec.input_mb": js("input_mb"),
        "exec.core_busy_frac": task_run / (p["wall_ms"] * cores) if p["wall_ms"] else 0.0,
        "seams.persisted_rdds": max([s["attrs"].get("persisted_rdds", 0.0) for s in ops] or [0.0]),
        "seams.mem_mb": max([s["attrs"].get("mem_mb", 0.0) for s in ops] or [0.0]),
        "seams.disk_mb": max([s["attrs"].get("disk_mb", 0.0) for s in ops] or [0.0]),
        "generate.ms": total("generate.build") + total("generate.sink"),
        "generate.orders": attr("generate", "orders"),
        "generate.raw_mb": attr("generate", "raw_mb"),
        "pipeline.read_ms": total("pipeline.read"),
        "pipeline.corrupt_rows": attr("process", "corrupt_rows"),
        "pipeline.process_ms": total("pipeline.process") + total("pipeline.sink"),
        "pipeline.sink_mb": attr("process", "sink_mb"),
        "pipeline.sink_files": attr("process", "sink_files"),
        "pipeline.readback_ms": total("pipeline.readback"),
        "pipeline.valid_frac":
            obs["valid_orders"] / obs["total_orders"] if obs.get("total_orders") else 0.0,
        "streaming.batches": attr("stream", "batches"),
        "streaming.add_batch_ms": attr("stream", "add_batch_ms"),
        "streaming.query_planning_ms": attr("stream", "query_planning_ms"),
        "streaming.wal_commit_ms": attr("stream", "wal_commit_ms"),
        "streaming.get_batch_ms": attr("stream", "get_batch_ms"),
        "streaming.microbatch_p50_ms": median((op_checks.get("stream") or {}).get("batch_ms", [])),
        "jvm.gc_ms": c["gc_ms"],
        "jvm.jit_ms": c["jit_ms"],
        "trace.min_layer_share": min(
            [1.0 - selfs[s["id"]] / dur(s) for s in ops if dur(s) > 0] or [0.0]),
    }


def tag_passes(result):
    """Attach to every span the index of the pass it belongs to."""
    spans = result["spans"]
    byid = {s["id"]: s for s in spans}
    roots = {}
    for s in spans:
        r = s
        while r["parent"] >= 0:
            r = byid[r["parent"]]
        roots[s["id"]] = int(r["name"].replace("pass", ""))
    for s in spans:
        s["pass"] = roots[s["id"]]
    return spans


def per_layer(result):
    """Per-layer metrics: the median over traced steady passes, plus the
    first pass's codegen bill, set-up registration and tracing overhead."""
    spans = tag_passes(result)
    selfs = self_times(spans)
    traced = [p for p in result["passes"] if p["traced"]]
    steady = [p for p in traced if p["index"] > 0] or traced
    rows = [_pass_layers(p, spans, selfs, result["cores"]) for p in steady]
    out = {k: median([r[k] for r in rows]) for k in rows[0] if not k.startswith("_")}
    first = result["passes"][0]
    out["codegen.first_pass_compile_ms"] = first["counters"]["codegen_ms"]
    out["sources.register_ms"] = result["register_ms"]
    untraced = _steady(result, False)
    out["trace.overhead_ms"] = (median([p["wall_ms"] for p in steady]) -
                                median([p["wall_ms"] for p in untraced])) if untraced else 0.0
    return out


def wall_by_layer(result, pass_index):
    """(layer, exclusive ms, share of the pass wall) rows for one traced
    pass, largest first. Jobs are named after the layer call that started
    them; time inside an operation outside every layer call is `(op self)`."""
    spans = [s for s in tag_passes(result) if s["pass"] == pass_index]
    selfs = exclusive_times(spans)
    byid = {s["id"]: s for s in spans}
    wall = next(p["wall_ms"] for p in result["passes"] if p["index"] == pass_index)
    acc = {}
    for s in spans:
        if s["parent"] == -1:
            key = "(between operations)"
        elif byid[s["parent"]]["parent"] == -1:
            key = "(op self)"
        elif s["name"] == "exec.job":
            key = "exec.job<" + byid[s["parent"]]["name"] + ">"
        else:
            key = s["name"]
        acc[key] = acc.get(key, 0.0) + selfs[s["id"]]
    return sorted(((k, v, v / wall if wall else 0.0) for k, v in acc.items()),
                  key=lambda r: -r[1])
