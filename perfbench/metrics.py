"""Metrics from one run's raw record (written by the JVM harness).

End-to-end metrics come from the untraced run; per-layer metrics from the
traced rounds of a traced run. A per-layer metric of a layer the workload
does not call reads 0."""
import math
import statistics

COW_KINDS = ["merge", "append", "delete_where", "dv_delete", "compact", "restore",
             "sql_merge", "sql_update", "sql_delete", "sql_insert"]
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); None when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND  # 1-based rank of the value with ten above it
    return xs[rank - 1], 100.0 * rank / n, n


def fail_counts(raw):
    ops = raw.get("ops", [])
    failed = sum(1 for o in ops if not o["ok"])
    failed += sum(1 for c in raw.get("checks", []) if not c["ok"])
    attempted = max(1, len(ops))
    return attempted, min(failed, attempted)


def setup_s(raw):
    return raw["session_s"] + median(raw.get("fixture_s", []))


def end_to_end(raw):
    """The metrics BENCHMARK.json gates, for any workload."""
    ok = [o for o in raw.get("ops", []) if o["ok"]]
    busy_s = sum(o["ms"] + o["after_ms"] for o in ok) / 1e3
    return {
        "setup_s": (setup_s(raw), "s"),
        "op_p50_ms": (median([o["ms"] for o in ok]), "ms"),
        "ops_per_s": (len(ok) / busy_s if busy_s else 0.0, "1/s"),
    }


def report(raw):
    """The workload's own end-to-end figures, by the names the benchmark's
    README uses; printed beside the gated metrics."""
    w = raw["workload"]
    ops = [o for o in raw.get("ops", []) if o["ok"]]
    attempted, failed = fail_counts(raw)
    rep = raw.get("report", {})
    out = {"setup_s": (setup_s(raw), "s"), "op_fail_ratio": (failed / attempted, "ratio")}

    def timing(prefix, unit_name):
        ms = [o["ms"] for o in ops]
        busy = sum(o["ms"] + o["after_ms"] for o in ops) / 1e3
        out[f"{prefix}_per_s"] = (len(ms) / busy if busy else 0.0, "1/s")
        out[f"{unit_name}_p50_ms"] = (median(ms), "ms")
        t = tail(ms)
        out[f"{unit_name}_tail_ms"] = ((t[0], f"ms (p{t[1]:.0f} of {t[2]} samples)") if t
                                       else (None, f"ms (needs >{TAIL_BEYOND} samples, got {len(ms)})"))

    if w == "etl_warehouse":
        loads = [o["ms"] for o in ops if o["kind"] == "load"]
        reloads = [o["ms"] for o in ops if o["kind"] == "reload"]
        out["etl_load_s"] = (median(loads) / 1e3, "s")
        out["etl_reload_s"] = (median(reloads) / 1e3, f"s ({len(reloads)} reloads)")
    elif w == "lake_dml":
        timing("dml_stmts", "dml_stmt")
        out["cdc_lag_p50_ms"] = (median(rep.get("cdc_lag_ms", [])), "ms")
        if rep.get("plain_bytes"):
            out["lake_space_amp"] = (rep["table_bytes"] / rep["plain_bytes"], "ratio")
    elif w == "lake_read":
        timing("read_queries", "read")
    return out


# ---------------------------------------------------------------- traced run

def _containing(spans, t):
    """Innermost span whose [t0, t1] holds epoch-ms `t`."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def _root(s, by_id):
    while s["parent"]:
        s = by_id[s["parent"]]
    return s


def _union_ms(intervals, lo, hi):
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b >= lo and a <= hi)
    total, cur = 0, None
    for a, b in iv:
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        total += cur[1] - cur[0]
    return total


def per_layer(raw):
    tr = raw["trace"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] == 0]
    op_spans = [s for s in roots if s["name"] != "cdc.drain"]
    n_ops = max(1, len(op_spans))

    jobs = tr["jobs"]
    for j in jobs:
        s = _containing(spans, j["t0"])
        j["span"] = s["id"] if s else 0
        j["root"] = _root(s, by_id)["id"] if s else 0
    traced_jobs = [j for j in jobs if j["root"]]
    plans = [p for p in tr["plans"] if _containing(roots, p["t0"])]

    fs = {}
    for c in tr["fs"]["counts"]:
        if c["span"]:
            root = _root(by_id[c["span"]], by_id)["id"]
            fs.setdefault(root, []).append(c)
    opened = {int(k): v for k, v in tr["fs"]["data_files_opened"].items()}

    def fs_sum(root_ids, metrics, desc=None):
        return sum(c["n"] for r in root_ids for c in fs.get(r, [])
                   if c["metric"] in metrics and (desc is None or desc(c["desc"])))

    def jobs_in(root, desc=None):
        return [j for j in traced_jobs if j["root"] == root and (desc is None or desc(j["desc"]))]

    def phase(pred):
        """Per-op (ms from first job start to last job end, jobs) of the
        runner phase whose job descriptions match `pred`."""
        ms, cnt = [], []
        for s in op_spans:
            js = jobs_in(s["id"], pred)
            if js:
                ms.append(max(j["t1"] for j in js) - min(j["t0"] for j in js))
            cnt.append(len(js))
        return median(ms) if ms else 0.0, median(cnt)

    m = {}
    root_ids = [s["id"] for s in roots]
    m["spark.jobs"] = len(traced_jobs) / n_ops
    for key, field in [("spark.tasks", "tasks"), ("spark.task_cpu_ms", "cpu_ms"),
                       ("spark.gc_ms", "gc_ms"), ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                       ("spark.spill_bytes", "spill_bytes")]:
        m[key] = sum(j[field] for j in traced_jobs) / n_ops
    gaps = 0.0
    for s in roots:
        covered = _union_ms([(j["t0"], j["t1"]) for j in traced_jobs if j["root"] == s["id"]] +
                            [(p["t0"], p["t1"]) for p in plans], s["t0"], s["t1"])
        gaps += max(0.0, s["ms"] - covered)
    m["driver.gap_ms"] = gaps / n_ops
    for key, metric in [("fs.read_ops", "read_ops"), ("fs.write_ops", "write_ops"),
                        ("fs.list_ops", "list_ops"), ("fs.bytes_written", "bytes_written")]:
        m[key] = fs_sum(root_ids, {metric}) / n_ops

    # pipeline / io / dq: the runner labels its phases with job descriptions
    m["pipeline.silver_reload_ms"], m["pipeline.silver_reload_jobs"] = phase(lambda d: d == "runner: silver-reload")
    m["pipeline.dims_ms"], m["pipeline.dims_jobs"] = phase(lambda d: d.startswith("runner: dim-"))
    m["pipeline.report_jobs"] = phase(lambda d: d == "runner: report")[1]
    m["io.star_publish_ms"], m["io.star_publish_jobs"] = phase(lambda d: d == "runner: star-publish")
    etl_ops = [s["id"] for s in op_spans if s["name"] in ("load", "reload")]
    m["io.star_publish_fs_ops"] = median(
        [fs_sum([r], {"read_ops", "write_ops", "list_ops"}, lambda d: d == "runner: star-publish")
         for r in etl_ops]) if etl_ops else 0.0
    m["dq.checks_ms"], m["dq.checks_jobs"] = phase(lambda d: d == "runner: dq")
    dash = [s for s in spans if s["name"] == "dq.dashboard"]
    m["dq.dashboard_ms"] = median([s["ms"] for s in dash])
    m["dq.dashboard_jobs"] = median([sum(1 for j in traced_jobs if j["span"] == s["id"]) for s in dash])

    # io.cow: row-level statements
    stmts = [s for s in op_spans if s["name"] in COW_KINDS]
    for k in COW_KINDS:
        ks = [s for s in stmts if s["name"] == k]
        m[f"io.cow.{k}_ms"] = median([s["ms"] for s in ks])
        m[f"io.cow.{k}_jobs"] = median([len(jobs_in(s["id"])) for s in ks])
    n_stmts = max(1, len(stmts))
    sids = [s["id"] for s in stmts]
    m["io.cow.fs_ops_per_stmt"] = fs_sum(sids, {"read_ops", "write_ops", "list_ops"}) / n_stmts
    m["io.cow.files_written_per_stmt"] = fs_sum(sids, {"files_written"}) / n_stmts
    bytes_written = fs_sum(sids, {"bytes_written"})
    m["io.cow.bytes_written_per_stmt"] = bytes_written / n_stmts
    rep = raw.get("report", {})
    changed = rep.get("rows_changed", [])[-len(stmts):] if stmts else []
    rows_changed = sum(c["rows"] for c in changed)
    row_bytes = rep["plain_bytes"] / rep["rows"] if rep.get("rows") else 0.0
    m["io.cow.write_amp"] = bytes_written / (rows_changed * row_bytes) if rows_changed and row_bytes else 0.0

    # sources: SQL planning, scans
    sql_ops = [s for s in op_spans if s["name"].startswith("sql_") or "_sql_" in s["name"]]
    m["sources.sql_plan_ms"] = median([
        sum(p["phases"].get(ph, 0) for p in plans if s["t0"] <= p["t0"] <= s["t1"]
            for ph in ("analysis", "optimization", "planning"))
        for s in sql_ops])
    reads = [s for s in op_spans if s["name"].split("_")[0] in
             ("count", "group", "range", "point", "scan", "asof")]
    m["sources.scan_exec_ms"] = median([
        _union_ms([(j["t0"], j["t1"]) for j in jobs_in(s["id"])], s["t0"], s["t1"]) for s in reads])
    live = {snap: v["files"] for snap, v in rep.items() if isinstance(v, dict) and "files" in v}
    live_files = sum(live.get(s["name"].rsplit("_", 1)[-1], 0) for s in reads)
    m["sources.files_read_ratio"] = (sum(opened.get(s["id"], 0) for s in reads) / live_files
                                     if live_files else 0.0)
    returned = rep.get("query_rows", [])[-len(reads):] if reads else []
    selective = [(i, s) for i, s in enumerate(reads) if s["name"].split("_")[0] in ("point", "range")]
    rows_back = sum(returned[i] for i, _ in selective if i < len(returned))
    rows_read = sum(j["in_records"] for _, s in selective for j in jobs_in(s["id"]))
    m["sources.rows_read_per_row_returned"] = rows_read / rows_back if rows_back else 0.0
    sql_ms, api_ms = 0.0, 0.0
    for name in {s["name"] for s in reads if "_sql_" in s["name"]}:
        api = name.replace("_sql_", "_api_")
        a = [s["ms"] for s in reads if s["name"] == api]
        if a:
            sql_ms += median([s["ms"] for s in reads if s["name"] == name])
            api_ms += median(a)
    m["sources.sql_vs_api_scan_ratio"] = sql_ms / api_ms if api_ms else 0.0

    # streaming: the change-feed subscriber
    batches = [p for p in tr["stream_progress"] if p["rows"] > 0]
    # this source plans its batches in queryPlanning, so getBatch alone
    # reads 0 ms; the offset bookkeeping around it is what the source costs
    m["streaming.offsets_ms"] = median([sum(p["durations"].get(k, 0) for k in
                                            ("latestOffset", "getBatch", "walCommit", "commitOffsets"))
                                        for p in batches])
    m["streaming.query_planning_ms"] = median([p["durations"].get("queryPlanning", 0) for p in batches])
    m["streaming.fold_ms"] = median([s["ms"] for s in spans if s["name"] == "cdc.fold"])
    per_version = rep.get("change_rows_per_version", [])
    m["streaming.change_rows_per_version"] = sum(per_version) / len(per_version) if per_version else 0.0

    # tracing overhead: every kind ran traced and untraced, the colder
    # first run falling on either side by kind; the geometric mean of the
    # per-kind ratios lets those warm-up effects cancel
    logs = []
    for kind in {o["kind"] for o in raw["ops"]}:
        on = [o["ms"] for o in raw["ops"] if o["kind"] == kind and o["traced"] and o["ok"]]
        off = [o["ms"] for o in raw["ops"] if o["kind"] == kind and not o["traced"] and o["ok"]]
        if on and off:
            logs.append(math.log(median(on) / median(off)))
    m["trace_overhead_pct"] = (math.exp(sum(logs) / len(logs)) - 1) * 100 if logs else 0.0
    return m


def unit(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_ratio", "_amp", "_per_row_returned")):
        return "ratio"
    return "count"


COUNT_METRICS = ("jobs", "tasks", "files", "bytes", "fs_ops", "_ops", "change_rows")


def counts(raw):
    """The per-layer counts a traced run should repeat exactly."""
    return {k: v for k, v in per_layer(raw).items()
            if any(t in k for t in COUNT_METRICS) and not k.endswith("_ms")}
