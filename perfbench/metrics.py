"""Turns one JVM result record into the benchmark's metrics.

End-to-end metrics come from the op records of an untraced run; per-layer
metrics come from the spans of the traced passes of a `--trace 1` run.
Both are defined in README.md.
"""
import math
import statistics

OP_KINDS = ("read", "stream", "write", "refresh")

# query-mix op families for the pipeline.* metrics, by name prefix
PIPELINE = {"dedup": "dedup_", "ann": "ann_", "text": "text_", "multimodal": "multimodal_"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending that
    is the sample at index n-1-beyond, whose percentile is its rank share.
    Fewer than beyond+1 samples: the maximum, reported as percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    i = n - 1 - beyond
    return xs[i], 100.0 * i / (n - 1), n


def self_times(spans):
    """Span id -> own time: its duration minus its direct children's."""
    own = {s["id"]: s["end_s"] - s["start_s"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end_s"] - s["start_s"]
    return own


def inclusive(spans):
    """Span id -> counters summed over the span and all its descendants."""
    by_id = {s["id"]: s for s in spans}
    tot = {i: dict(s["c"]) for i, s in by_id.items()}
    # children always have larger ids than their parents
    for s in sorted(spans, key=lambda s: -s["id"]):
        p = s["parent"]
        if p in tot:
            for k, v in tot[s["id"]].items():
                tot[p][k] = tot[p].get(k, 0.0) + v
    return tot


def op_latencies(ops, passes=None):
    """Latency per op kind over the warm passes (`passes` restricts them)."""
    out = {k: [] for k in OP_KINDS}
    for o in ops:
        if o["pass"] == 0 or o["kind"] not in out:
            continue
        if passes is not None and o["pass"] not in passes:
            continue
        out[o["kind"]].append(o["end_s"] - o["start_s"])
    return out


def end_to_end(res, failed):
    ops = res["ops"]
    passes = res["passes"]
    warm = [p["end_s"] - p["start_s"] for p in passes if p["pass"] > 0]
    lat = [x for xs in op_latencies(ops).values() for x in xs]
    t, pct, n = tail(lat)
    attempted = len(ops)
    # pass_s is the mean warm pass, not the median: lake_query's warm
    # passes differ in composition, and the median of such a mix jumps
    # with the passes a run happens to hold, while their mean does not.
    # op latencies go to the log only. A run's 14-40 warm ops mix op kinds
    # whose latencies differ 10x, so their median jumps between kinds from
    # run to run, and the percentile with ten samples above it sits at or
    # below the median; pass_s carries the same work summed.
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "cold_pass_s": (passes[0]["end_s"] - passes[0]["start_s"], "s"),
        "pass_s": (statistics.mean(warm) if warm else 0.0, "s"),
        "ok_frac": ((attempted - failed) / attempted if attempted else 0.0, "frac"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }, {"op_p50_s": median(lat), "op_tail_s": t, "tail_percentile": pct, "tail_samples": n}


def trace_overhead(ops, traced, untraced):
    """Traced over untraced latency, matched by op name: the sum of each
    name's median traced latency over the sum of its median untraced
    latency, minus 1, over the names both sets ran."""
    lat = {}
    for o in ops:
        side = 0 if o["pass"] in traced else 1 if o["pass"] in untraced else None
        if side is not None:
            lat.setdefault(o["name"], ([], []))[side].append(o["end_s"] - o["start_s"])
    both = [(t, u) for t, u in lat.values() if t and u]
    base = sum(median(u) for _, u in both)
    return sum(median(t) for t, _ in both) / base - 1.0 if base else 0.0


def _family(name):
    return next((f for f, prefix in PIPELINE.items() if name.startswith(prefix)), None)


def per_layer(res, lake=None):
    """Every per-layer metric (0 where the workload has no such layer)."""
    ops = {o["id"]: o for o in res["ops"]}
    traced = {p["pass"] for p in res["passes"] if p["traced"]}
    untraced = {p["pass"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]}
    spans = [s for s in res["spans"] if s["op"] in ops and ops[s["op"]]["pass"] in traced]
    own = self_times(spans)
    inc = inclusive(spans)
    cores = res["cores"]
    n_pass = max(1, len(traced))
    pass_wall = sum(p["end_s"] - p["start_s"] for p in res["passes"] if p["traced"])

    def named(name):
        return [s for s in spans if s["name"] == name]

    def per(xs, n):
        return sum(xs) / n if n else 0.0

    def c(span_list, key):
        return sum(inc[s["id"]].get(key, 0.0) for s in span_list)

    def dur(span_list):
        return sum(s["end_s"] - s["start_s"] for s in span_list)

    roots = [s for s in spans if s["parent"] == -1]
    by_kind = {k: [s for s in roots if s["name"] == f"op.{k}"] for k in OP_KINDS}
    n_ref = len(by_kind["refresh"])
    writes = by_kind["write"]
    n_w = len(writes)
    reads = by_kind["read"]
    streams = by_kind["stream"]
    m = {}

    # ---- ivm ----
    for layer in ("view", "maintain", "apply", "materialize"):
        m[f"ivm.{layer}_s"] = (per([own[s["id"]] for s in named(f"ivm.{layer}")], n_ref), "s")
    m["ivm.maintain_jobs"] = (per([c(named("ivm.maintain"), "jobs")], n_ref), "count")
    m["ivm.jobs_per_refresh"] = (per([c(by_kind["refresh"], "jobs")], n_ref), "count")
    m["ivm.pins"] = (per([c(by_kind["refresh"], "pin_jobs"),
                          c(by_kind["refresh"], "pinned_rdds")], n_ref), "count")
    m["ivm.pin_bytes"] = (per([c(by_kind["refresh"], "pin_bytes")], n_ref), "bytes")
    cycles = len(traced) if n_ref else 0
    m["ivm.delta_rows"] = (per([c(named("sources.write"), "output_rows")], cycles), "rows")
    rungs = res.get("info", {}).get("rungs", {})
    for r in ("append", "merge", "signed", "diff"):
        m[f"ivm.rung.{r}"] = (float(sum(1 for v in rungs.values() if v == r)), "count")
    rvr = res.get("traced", {}).get("refresh_vs_recompute", {})
    ratios = [v["ratio"] for v in rvr.values() if v.get("ratio", 0) > 0]
    m["ivm.refresh_vs_recompute"] = (
        math.exp(sum(map(math.log, ratios)) / len(ratios)) if ratios else 0.0, "x")

    # ---- sources / dml ----
    m["sources.commit_s"] = (per([dur(writes) - c(writes, "land_s")], n_w), "s")
    m["sources.commit_jobs"] = (per([c(writes, "jobs") - c(writes, "land_jobs")], n_w), "count")
    m["sources.land_tasks"] = (per([c(writes, "land_tasks")], n_w), "count")
    for k, unit in (("files_added", "count"), ("files_removed", "count"),
                    ("write_amp", "x"), ("space_amp", "x"), ("log_bytes", "bytes")):
        m[f"sources.{k}"] = ((lake or {}).get(k, 0.0), unit)
    snap = res.get("traced", {}).get("snapshot_s", {})
    m["sources.snapshot_s"] = (median(list(snap.values())), "s")
    # write latency by table and kind over every warm pass, traced or
    # not: a run's traced passes hold only some of the lake stream's
    # kind/table combinations
    write_ops = [o for o in ops.values() if o["kind"] == "write" and o["pass"] > 0]
    for fmt in ("delta", "iceberg"):
        xs = [o["end_s"] - o["start_s"] for o in write_ops if o["name"].endswith("_" + fmt)]
        m[f"sources.{fmt}.commit_s"] = (median(xs), "s")
    for kind, prefix in (("append", ("append_", "insert_")), ("merge", ("merge_",)),
                         ("update", ("update_",)), ("delete", ("delete_",)),
                         ("maintenance", ("maintenance_",))):
        xs = [o["end_s"] - o["start_s"] for o in write_ops if o["name"].startswith(prefix)]
        m[f"sources.{kind}_s"] = (median(xs), "s")
    stmts = named("dml.statement")
    m["dml.statement_s"] = (per([dur(stmts)], len(stmts)), "s")
    m["dml.jobs_per_statement"] = (per([c(stmts, "jobs")], len(stmts)), "count")
    m["dml.probe_jobs"] = (per([c(stmts, "jobs") - c(stmts, "land_jobs")], len(stmts)), "count")

    # ---- scan ----
    scanned = reads + by_kind["refresh"]
    n_sc = len(scanned)
    m["scan.files_read"] = (per([c(scanned, "scan_files")], n_sc), "count")
    m["scan.bytes_read"] = (per([c(scanned, "scan_bytes")], n_sc), "bytes")
    m["scan.rows_read"] = (per([c(scanned, "scan_rows")], n_sc), "rows")
    live = res.get("traced", {}).get("live_files", {})
    lake_reads = [s for s in reads if ops[s["op"]]["name"].startswith("read_")]
    if live and lake_reads:
        files = per([c(lake_reads, "scan_files")], len(lake_reads))
        m["scan.files_skipped_frac"] = (max(0.0, 1.0 - files / median(list(live.values()))), "frac")
    else:
        m["scan.files_skipped_frac"] = (0.0, "frac")

    # ---- engine / catalyst ----
    constructs = named("engine.construct")
    n_ops = len(roots)
    m["engine.construct_s"] = (per([dur(constructs)], len(constructs)), "s")
    m["engine.construct_jobs"] = (per([c(constructs, "jobs")], len(constructs)), "count")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (per([c(roots, f"{ph}_s")], n_ops), "s")

    # ---- exec (per traced pass) ----
    jobs = c(roots, "jobs")
    m["exec.run_s"] = (c(roots, "job_s") / n_pass, "s")
    m["exec.jobs"] = (jobs / n_pass, "count")
    m["exec.stages"] = (c(roots, "stages") / n_pass, "count")
    m["exec.tasks"] = (c(roots, "tasks") / n_pass, "count")
    m["exec.task_busy_s"] = (c(roots, "task_busy_s") / n_pass, "s")
    m["exec.core_busy_frac"] = (c(roots, "task_busy_s") / (pass_wall * cores)
                                if pass_wall else 0.0, "frac")
    m["exec.sched_wait_s"] = (c(roots, "sched_wait_s") / jobs if jobs else 0.0, "s")
    m["exec.exchanges"] = (c(roots, "exchanges") / n_pass, "count")
    m["exec.shuffle_write_bytes"] = (c(roots, "shuffle_write_bytes") / n_pass, "bytes")
    m["exec.shuffle_read_bytes"] = (c(roots, "shuffle_read_bytes") / n_pass, "bytes")
    m["exec.spill_bytes"] = (c(roots, "spill_bytes") / n_pass, "bytes")

    # ---- streaming (per stream op; durations per micro-batch) ----
    batches = c(streams, "stream_batches")
    m["streaming.batches"] = (per([batches], len(streams)), "count")
    for k in ("batch", "add_batch", "query_planning", "offset", "wal_commit", "state_commit"):
        m[f"streaming.{k}_s"] = (c(streams, f"stream_{k}_s") / batches if batches else 0.0, "s")
    for k, unit in (("state_rows", "rows"), ("state_bytes", "bytes"),
                    ("state_partitions", "count")):
        m[f"streaming.{k}"] = (c(streams, f"stream_{k}") / batches if batches else 0.0, unit)

    # ---- pipeline operators (query_mix reads, all warm passes) ----
    fam = {f: [] for f in PIPELINE}
    for o in ops.values():
        f = _family(o["name"]) if o["kind"] == "read" and o["pass"] > 0 else None
        if f:
            fam[f].append(o["end_s"] - o["start_s"])
    for f, xs in fam.items():
        m[f"pipeline.{f}_s"] = (median(xs), "s")

    # ---- op latency by kind (untraced warm passes of this run) ----
    lat = op_latencies(res["ops"], untraced)
    for k in OP_KINDS:
        m[f"op.{k}_p50_s"] = (median(lat[k]), "s")
        m[f"op.{k}_tail_s"] = (tail(lat[k])[0], "s")

    # ---- the host: CPU stolen by other tenants during the traced passes
    m["host.steal_frac"] = (median([p.get("steal_frac", 0.0) for p in res["passes"]
                                    if p["traced"]]), "frac")

    # ---- jvm and the trace itself ----
    m["jvm.gc_s"] = (res["gc_s"] / max(1, len(res["passes"])), "s")
    m["trace.overhead_frac"] = (trace_overhead(res["ops"], traced, untraced), "frac")
    m["trace.unaccounted_frac"] = (1.0 - dur(roots) / pass_wall if pass_wall else 0.0, "frac")
    return m
