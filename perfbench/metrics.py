"""Turns one run's raw record (written by the Scala harness) into the
benchmark's metrics: end-to-end metrics for an untraced run, per-layer
metrics for a traced one. Layers a workload does not exercise report 0
(no work), so every traced run prints the same metric names."""
from stats import driver_only, mean, median, percentile, self_time, tail

E2E_UNITS = {"op_p50_ms": "ms", "ops_per_s": "1/s",
             "live_heap_peak_mb": "MB", "setup_s": "s"}

FAMILIES = ("analytics", "src", "dedup", "ann", "graph", "stream", "text",
            "pipe", "mm", "ts", "other")
TABLE_OPS = ("append", "merge_keyed", "delete_keys_dv", "point_lookup",
             "read_range", "read", "checkpoint", "maintain_layout", "vacuum")
TABLE_READS = ("point_lookup", "read_range", "read", "sql_read")


def _dur(o):
    return o["t1"] - o["t0"]


def failures(raw):
    """(attempted, failed, correct): every op counts once; each final
    check counts as one more attempt."""
    ops, checks = raw["ops"], raw["final_checks"]
    failed = sum(1 for o in ops if not o["ok"]) + \
        sum(1 for c in checks if not c["ok"])
    attempted = len(ops) + len(checks)
    return attempted, failed, failed == 0 and attempted > 0


def end_to_end(raw):
    """The end-to-end metrics, and (not a gated metric) the sample count
    and the tail the percentile rule resolves at that count. setup_s is
    the median of the warm set-ups: every one after the first, which
    also pays for loading and compiling the code it runs."""
    d = [_dur(o) for o in raw["ops"]]
    q, t = tail(d)
    m = {"op_p50_ms": median(d),
         "ops_per_s": len(d) / (sum(d) / 1000.0),
         "live_heap_peak_mb": max(raw["heap_mb"]),
         "setup_s": median(raw["setup_s"][1:] or raw["setup_s"])}
    return m, {"op_samples": len(d), "op_tail_percentile": q,
               "op_tail_ms": t}


def latency_shares(raw):
    """Each operation kind's share of the run's summed latency (a query
    counts as its own kind): a kind with share s that gets twice as
    slow lowers ops_per_s by s / (1 + s)."""
    out = {}
    for o in raw["ops"]:
        k = o["trace"].split("-", 1)[1] if o["kind"].startswith("query.") \
            else o["kind"]
        out[k] = out.get(k, 0.0) + _dur(o)
    total = sum(out.values())
    return dict(sorted(((k, v / total) for k, v in out.items()),
                       key=lambda kv: -kv[1]))


# ---- per-layer ---------------------------------------------------------

def per_layer_names():
    names = ["spark." + n for n in (
        "jobs", "stages", "tasks", "driver_only_ms", "executor_run_ms",
        "executor_cpu_ms", "gc_ms", "task_wait_ms", "slot_busy_ratio",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "input_bytes")]
    names += ["driver." + n for n in (
        "prepare_ms", "pending_append_ms", "charge_ms", "final_append_ms",
        "report_build_ms", "report_send_ms", "jobs_per_day",
        "driver_only_ms")]
    names += ["sinks." + n for n in (
        "charge_calls", "lookup_calls", "lookups_per_charged_shop",
        "retries", "declined", "call_p50_ms", "call_p90_ms", "backoff_ms",
        "inflight_mean")]
    names += ["catalog.append_store." + n for n in (
        "append_ms", "read_ms", "files", "bytes_written")]
    names += ["entry." + n for n in (
        "build_ms", "build_jobs", "analysis_ms", "optimization_ms",
        "planning_ms")]
    for f in FAMILIES:
        names += [f"operators.{f}.ms", f"operators.{f}.jobs"]
    for op in TABLE_OPS:
        names += [f"catalog.log_store.{op}_ms", f"catalog.log_store.{op}_jobs"]
    names += ["catalog.log_store." + n for n in (
        "latest_version_ms", "log_files_since_checkpoint",
        "segments_scanned_ratio", "live_segments",
        "bytes_written_per_user_byte")]
    names += ["sources.sql_read_ms", "sources.sql_planning_ms",
              "sources.sql_files_scanned"]
    names += ["table." + n for n in (
        "write_p50_ms", "write_tail_ms", "read_p50_ms", "read_tail_ms",
        "bytes_per_live_byte")]
    return names


def unit_of(name):
    if name in ("sinks.lookups_per_charged_shop",
                "catalog.log_store.bytes_written_per_user_byte",
                "table.bytes_per_live_byte"):
        return "ratio"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("inflight_mean"):
        return "ratio"
    return "count"


class Index:
    """Jobs and planning phases of a traced run, attributed to windows
    by time (one closed-loop client: what starts inside an operation's
    window belongs to it)."""

    def __init__(self, raw):
        self.jobs = sorted(raw["jobs"], key=lambda j: j["t0"])
        self.phases = raw["phases"]

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["t0"] <= hi]

    def driver_only(self, lo, hi):
        return driver_only((lo, hi), [(j["t0"], j["t1"])
                                      for j in self.jobs_in(lo, hi)])

    def phases_in(self, lo, hi):
        return [p for p in self.phases if lo <= p["t"] <= hi]


def _spark(raw, idx, cores):
    ops = raw["ops"]
    per = {k: [] for k in ("jobs", "stages", "tasks", "driver_only_ms",
                           "executor_run_ms", "executor_cpu_ms", "gc_ms",
                           "task_wait_ms", "shuffle_write_bytes",
                           "shuffle_read_bytes", "spill_bytes",
                           "input_bytes")}
    field = {"executor_run_ms": "run_ms", "executor_cpu_ms": "cpu_ms",
             "gc_ms": "gc_ms", "task_wait_ms": "wait_ms",
             "shuffle_write_bytes": "shuffle_write",
             "shuffle_read_bytes": "shuffle_read", "spill_bytes": "spill",
             "input_bytes": "input", "stages": "stages", "tasks": "tasks"}
    busy = wall = 0.0
    for o in ops:
        js = idx.jobs_in(o["t0"], o["t1"])
        per["jobs"].append(len(js))
        per["driver_only_ms"].append(idx.driver_only(o["t0"], o["t1"]))
        for k, f in field.items():
            per[k].append(sum(j[f] for j in js))
        busy += sum(j["run_ms"] for j in js)
        wall += _dur(o)
    m = {f"spark.{k}": mean(v) for k, v in per.items()}
    m["spark.slot_busy_ratio"] = busy / (cores * wall) if wall else 0.0
    return m


def _spans(raw, name):
    return [s for s in raw["spans"] if s["name"] == name]


def _billing(raw, idx):
    m = {}
    days = [o for o in raw["ops"] if o["kind"] == "billing.day"]
    n = len(days)
    for stage in ("prepare", "pending_append", "charge", "final_append",
                  "report_build", "report_send"):
        m[f"driver.{stage}_ms"] = median(
            [_dur(s) for s in _spans(raw, f"driver.{stage}")])
    m["driver.jobs_per_day"] = median(
        [len(idx.jobs_in(o["t0"], o["t1"])) for o in days])
    m["driver.driver_only_ms"] = median(
        [idx.driver_only(o["t0"], o["t1"]) for o in days])
    c, s = raw["counters"], raw["samples"]
    charged = raw["extra"]["charged_shops"]
    calls = s.get("sinks.call_ms", [])
    m["sinks.charge_calls"] = c.get("sinks.charge_calls", 0) / n
    m["sinks.lookup_calls"] = c.get("sinks.lookup_calls", 0) / n
    m["sinks.lookups_per_charged_shop"] = \
        c.get("sinks.lookup_calls", 0) / charged if charged else 0.0
    m["sinks.retries"] = c.get("sinks.retries", 0) / n
    m["sinks.declined"] = c.get("sinks.declined", 0) / n
    m["sinks.call_p50_ms"] = median(calls)
    m["sinks.call_p90_ms"] = percentile(calls, 0.9) if calls else 0.0
    m["sinks.backoff_ms"] = c.get("sinks.backoff_ms", 0) / n
    charge_ms = sum(_dur(x) for x in _spans(raw, "driver.charge"))
    m["sinks.inflight_mean"] = \
        c.get("sinks.call_ms_total", 0) / charge_ms if charge_ms else 0.0
    m["catalog.append_store.append_ms"] = median(
        [_dur(x) for x in _spans(raw, "catalog.append_store.append")])
    m["catalog.append_store.read_ms"] = median(
        [_dur(x) for x in _spans(raw, "catalog.append_store.read")])
    m["catalog.append_store.files"] = \
        c.get("catalog.append_store.files", 0) / n
    m["catalog.append_store.bytes_written"] = \
        c.get("catalog.append_store.bytes_written", 0) / n
    return m


def _queries(raw, idx):
    m = {}
    ops = [o for o in raw["ops"] if o["kind"].startswith("query.")]
    builds = {s["trace"]: s for s in _spans(raw, "entry.build")}
    b_ms, b_jobs, an, opt, pl = [], [], [], [], []
    for o in ops:
        b = builds.get(o["trace"])
        if b:
            b_ms.append(_dur(b))
            b_jobs.append(len(idx.jobs_in(b["t0"], b["t1"])))
        ph = idx.phases_in(o["t0"], o["t1"])
        an.append(sum(p["analysis"] for p in ph))
        opt.append(sum(p["optimization"] for p in ph))
        pl.append(sum(p["planning"] for p in ph))
    an = [a + x for a, x in zip(an, raw["samples"].get(
        "entry.build_analysis_ms", [0.0] * len(an)))]
    m["entry.build_ms"] = mean(b_ms)
    m["entry.build_jobs"] = mean(b_jobs)
    m["entry.analysis_ms"] = mean(an)
    m["entry.optimization_ms"] = mean(opt)
    m["entry.planning_ms"] = mean(pl)
    for f in FAMILIES:
        fo = [o for o in ops if o["kind"] == f"query.{f}"]
        m[f"operators.{f}.ms"] = mean([_dur(o) for o in fo])
        m[f"operators.{f}.jobs"] = mean(
            [len(idx.jobs_in(o["t0"], o["t1"])) for o in fo])
    return m


def _table(raw, idx):
    m = {}
    ops = [o for o in raw["ops"] if o["kind"].startswith("table.")]
    for op in TABLE_OPS:
        to = [o for o in ops if o["kind"] == f"table.{op}"]
        m[f"catalog.log_store.{op}_ms"] = median([_dur(o) for o in to])
        m[f"catalog.log_store.{op}_jobs"] = mean(
            [len(idx.jobs_in(o["t0"], o["t1"])) for o in to])
    c, s, x = raw["counters"], raw["samples"], raw["extra"]
    m["catalog.log_store.latest_version_ms"] = median(
        s.get("catalog.log_store.latest_version_ms", []))
    m["catalog.log_store.log_files_since_checkpoint"] = mean(
        s.get("catalog.log_store.log_files_since_checkpoint", []))
    live = c.get("catalog.log_store.segments_live", 0)
    m["catalog.log_store.segments_scanned_ratio"] = \
        c.get("catalog.log_store.segments_scanned", 0) / live if live else 0.0
    m["catalog.log_store.live_segments"] = mean(
        s.get("catalog.log_store.live_segments", []))
    per_row = x["live_once_bytes"] / x["live_rows"] if x["live_rows"] else 0
    user = c.get("catalog.log_store.user_rows", 0) * per_row
    m["catalog.log_store.bytes_written_per_user_byte"] = \
        c.get("catalog.log_store.bytes_written", 0) / user if user else 0.0
    sql = [o for o in ops if o["kind"] == "table.sql_read"]
    m["sources.sql_read_ms"] = median([_dur(o) for o in sql])
    m["sources.sql_planning_ms"] = median(
        s.get("sources.sql_planning_ms", []))
    m["sources.sql_files_scanned"] = mean(
        s.get("sources.sql_files_scanned", []))
    reads = [_dur(o) for o in ops if o["kind"][6:] in TABLE_READS]
    writes = [_dur(o) for o in ops if o["kind"][6:] not in TABLE_READS]
    m["table.read_p50_ms"] = median(reads)
    m["table.read_tail_ms"] = tail(reads)[1] if reads else 0.0
    m["table.write_p50_ms"] = median(writes)
    m["table.write_tail_ms"] = tail(writes)[1] if writes else 0.0
    m["table.bytes_per_live_byte"] = \
        x["table_bytes"] / x["live_once_bytes"] if x["live_once_bytes"] else 0
    return m


def per_layer(raw):
    idx = Index(raw)
    m = {n: 0.0 for n in per_layer_names()}
    m.update(_spark(raw, idx, raw["cores"]))
    m.update({"billing_days": _billing, "query_mix": _queries,
              "table_churn": _table}[raw["workload"]](raw, idx))
    return m


def self_times(raw):
    """Self time per span name, summed over the run (ms): each span's
    duration minus what its children cover."""
    kids = {}
    for s in raw["spans"]:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in raw["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(
            (s["t0"], s["t1"]), kids.get(s["id"], []))
    return out
