"""Turns what one benchmark JVM measured into the end-to-end and per-layer
metrics named in BENCHMARK.json. Pure functions over plain dicts, so they
are unit-tested without Spark (see test_helpers.py)."""
import statistics

# ----------------------------------------------------------------- helpers

def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least min(10, n // 2) samples beyond it.

    Returns (value, percentile, n). With n >= 21 that is the sample with
    exactly ten larger ones; with fewer samples it backs off so that the
    tail never sits below the lower median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    beyond = min(10, n // 2)
    idx = n - 1 - beyond
    return xs[idx], 100.0 * (idx + 1) / n, n


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    cut = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            cut.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(cut):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def nest_batches(spans):
    """Re-parent spans recorded live inside a streaming micro-batch under the
    batch span (known only afterwards) whose interval holds their start."""
    batches = [s for s in spans if s["name"] == "batch"]
    for s in spans:
        if s["name"] == "batch":
            continue
        for b in batches:
            if (b["parent"] == s["parent"]
                    and b["start"] <= s["start"] <= b["end"] + 1.0):
                s["parent"] = b["id"]
                break
    return spans


def self_times(spans):
    """{span id: self ms} — duration minus the part of it that child spans
    cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def attribute_jobs(jobs, spans):
    """{job id: span id}. A job belongs to the span whose id it carried as
    a local property; a streaming job whose carried span is the stream call
    itself belongs to its micro-batch span (by batch id) instead."""
    by_id = {s["id"]: s for s in spans}
    batch_span = {s["batch"]: s["id"] for s in spans if s["name"] == "batch"}
    out = {}
    for j in jobs:
        sid = j.get("span", -1)
        if j.get("batch", -1) >= 0 and j["batch"] in batch_span:
            if sid not in by_id or not is_under(by_id, sid, batch_span[j["batch"]]):
                sid = batch_span[j["batch"]]
        out[j["job"]] = sid
    return out


def is_under(by_id, sid, ancestor):
    seen = set()
    while sid in by_id and sid not in seen:
        if sid == ancestor:
            return True
        seen.add(sid)
        sid = by_id[sid]["parent"]
    return sid == ancestor


def merge_jobs(raw):
    """The listener writes a start and an end record per job: join them."""
    jobs = {}
    for r in raw:
        jobs.setdefault(r["job"], {"job": r["job"]}).update(r)
    return sorted(jobs.values(), key=lambda j: j.get("start", 0))


# ------------------------------------------------------------------ ledger

class Ledger:
    """One pass's spans, jobs, stages and tasks, with attribution done."""

    def __init__(self, raw, cores):
        self.cores = cores
        self.spans = nest_batches([dict(s) for s in raw["spans"]])
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs = merge_jobs(raw.get("jobs", []))
        self.job_span = attribute_jobs(self.jobs, self.spans)
        stage_job = {}
        for j in self.jobs:
            for st in j.get("stages", []):
                stage_job.setdefault(st, j["job"])
        self.stages = [dict(s, job=stage_job.get(s["stage"], -1))
                       for s in raw.get("stages", [])]
        longest = {}
        self.tasks = {}
        for st, launch, finish, run in raw.get("tasks", []):
            st = int(st)
            longest[st] = max(longest.get(st, 0.0), finish - launch)
            self.tasks.setdefault(st, []).append((launch, finish))
        for s in self.stages:
            s["longest"] = longest.get(s["stage"], 0.0)
        self.queries = raw.get("queries", [])
        self.fs = raw.get("fs", {})
        self.selfs = self_times(self.spans)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def ops(self):
        return sorted((s for s in self.spans if s.get("op")), key=lambda s: s["start"])

    def under(self, span):
        """Jobs and stages attributed to `span` or its descendants."""
        jobs = [j for j in self.jobs
                if is_under(self.by_id, self.job_span[j["job"]], span["id"])]
        ids = {j["job"] for j in jobs}
        return jobs, [s for s in self.stages if s["job"] in ids]

    def cost(self, spans, window=None):
        """Summed work of the jobs under `spans`; `window(span)` may narrow
        each span to a (lo, hi) interval, keeping jobs that start in it."""
        c = dict(wall_ms=0.0, jobs=0, stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0,
                 gc_ms=0.0, shuffle_write=0, shuffle_read=0, spill=0,
                 records_in=0, bytes_out=0, busy_ms=0.0, sched_ms=0.0)
        for sp in spans:
            lo, hi = window(sp) if window else (sp["start"], sp["end"])
            jobs, stages = self.under(sp)
            if window:
                keep = {j["job"] for j in jobs if lo <= j.get("start", lo) <= hi}
                jobs = [j for j in jobs if j["job"] in keep]
                stages = [s for s in stages if s["job"] in keep]
            c["wall_ms"] += hi - lo
            c["jobs"] += len(jobs)
            c["stages"] += len(stages)
            intervals = []
            for s in stages:
                c["tasks"] += s["tasks"]
                c["run_ms"] += s["run_ms"]
                c["cpu_ms"] += s["cpu_ns"] / 1e6
                c["gc_ms"] += s["gc_ms"]
                c["shuffle_write"] += s["shuffle_write"]
                c["shuffle_read"] += s["shuffle_read"]
                c["spill"] += s["spill"]
                c["records_in"] += s["records_in"]
                c["bytes_out"] += s["bytes_out"]
                c["sched_ms"] += max(0.0, s["complete"] - s["submit"] - s["longest"])
                intervals += self.tasks.get(s["stage"], [])
            c["busy_ms"] += union_ms(intervals, lo, hi)
        return c

    def counter(self, span, name):
        """Delta of a counter snapshotted at the open and close of a live
        span (or of the window)."""
        return span.get("c1_" + name, 0) - span.get("c0_" + name, 0)

    def phase_ms(self, phase, lo, hi):
        total = 0.0
        for q in self.queries:
            p = q["phases"].get(phase)
            if p and lo <= p["start"] <= hi:
                total += p["end"] - p["start"]
        return total

    def dump(self):
        """The whole ledger, spans with self time and jobs with their span."""
        return {"spans": [dict(s, self_ms=self.selfs[s["id"]]) for s in self.spans],
                "jobs": [dict(j, span=self.job_span[j["job"]]) for j in self.jobs],
                "stages": self.stages, "queries": self.queries, "fs_calls": self.fs}

    def ledger_rows(self):
        """Span ledger aggregated by name: count, total ms, self ms."""
        rows = {}
        for s in self.spans:
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s["end"] - s["start"]
            r[2] += self.selfs[s["id"]]
        return sorted(rows.items(), key=lambda kv: -kv[1][2])


# ----------------------------------------------------------------- metrics

def end_to_end(res, pass_, L, setup_s, attempted, failed):
    ops = [(o["end"] - o["start"]) / 1000 for o in L.ops()]
    t, pct, n = tail(ops)
    return {
        "setup_s": setup_s,
        "wall_s": pass_["window_s"],
        "op_p50_s": median(ops),
        "op_tail_s": t,
        "cpu_s": pass_["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_share": (attempted - failed) / attempted,
    }, {"op_tail_percentile": pct, "op_samples": n}


def _div(a, b):
    return a / b if b else 0.0


def per_layer(res, traced, L, untraced_wall_s):
    """Every per-layer metric of a traced pass (its Ledger is `L`); 0 where
    the workload does not exercise the layer."""
    root = next(s for s in L.spans if s.get("workload"))
    w = traced["window"]
    win = (w["start"], w["end"])
    m = {}
    events = traced.get("events", 0)
    lake = traced.get("checks", {}).get("lake", {})

    # ---- cdc: commits are bulk's commit ops, or trickle's merge phases
    mor = L.named("mor_commit")
    cow = L.named("cow_commit")
    mor_window = None
    batches = sorted((b for b in L.named("batch") if b.get("op")), key=lambda s: s["batch"])
    commits = {(c["step"], c["batch"]): c["start"] for c in L.named("LakeTable.commit")}
    compaction_commits = sorted(t for (step, b), t in commits.items() if b < 0)
    if batches:
        mor = [b for b in batches if ("cdc_ingest", b["batch"]) in commits]

        def mor_window(b):
            start = b["end"] - b.get("d_addBatch", 0) - b.get("d_commitOffsets", 0)
            return start, commits[("cdc_ingest", b["batch"])]
    mor_cost = L.cost(mor, mor_window)
    mor_s = ([(hi - lo) / 1000 for lo, hi in map(mor_window, mor)] if mor_window
             else [(s["end"] - s["start"]) / 1000 for s in mor])
    n_commits = len(mor)
    cow_cost = L.cost(cow)
    all_cost = {k: v + cow_cost[k] for k, v in mor_cost.items()}
    applied = events * (2 if cow else 1)
    m["cdc.mor_commit_s"] = median(mor_s)
    m["cdc.cow_commit_s"] = median([(s["end"] - s["start"]) / 1000 for s in cow])
    m["cdc.jobs_per_commit"] = _div(mor_cost["jobs"], n_commits)
    m["cdc.stages_per_commit"] = _div(mor_cost["stages"], n_commits)
    m["cdc.tasks_per_commit"] = _div(mor_cost["tasks"], n_commits)
    m["cdc.driver_serial_s_per_commit"] = _div(
        mor_cost["wall_ms"] - mor_cost["busy_ms"], n_commits) / 1000
    m["cdc.task_cpu_us_per_event"] = _div(all_cost["cpu_ms"] * 1000, applied)
    m["cdc.shuffle_bytes_per_event"] = _div(all_cost["shuffle_write"], applied)
    m["cdc.written_bytes_per_event"] = _div(all_cost["bytes_out"], applied)
    m["cdc.spill_bytes"] = all_cost["spill"]
    m["cdc.core_busy_share"] = _div(all_cost["run_ms"], L.cores * all_cost["wall_ms"])

    # ---- lake
    reads = L.named("read")
    read_cost = L.cost(reads)
    m["lake.read_s"] = median([(s["end"] - s["start"]) / 1000 for s in reads])
    m["lake.read_stages"] = read_cost["stages"]
    m["lake.read_amplification"] = _div(read_cost["records_in"], traced.get("read_rows", 0))
    compact_s = [(s["end"] - s["start"]) / 1000 for s in L.named("compact")]
    for t in compaction_commits:  # trickle: from the batch's merge commit
        b = max((v for (step, _), v in commits.items() if step == "cdc_ingest" and v < t),
                default=None)
        if b is not None:
            compact_s.append((t - b) / 1000)
    m["lake.compact_s"] = median(compact_s)
    m["lake.vacuum_s"] = median([(s["end"] - s["start"]) / 1000
                                 for s in L.named("LakeTable.vacuum")])
    if batches:
        m["lake.fs_ops_per_commit"] = _div(L.counter(w, "fs"), len(batches))
    else:
        m["lake.fs_ops_per_commit"] = _div(sum(L.counter(s, "fs") for s in mor), n_commits)
    m["lake.metadata_bytes"] = lake.get("metadata_bytes", 0)
    m["lake.deltas_per_bucket_max"] = lake.get("deltas_per_bucket_max", 0)
    m["lake.live_files"] = lake.get("live_files", 0)

    # ---- streaming (progress durations of each micro-batch, ms)
    def pmed(key):
        return median([b.get(key, 0) for b in batches])
    m["streaming.overhead_s_p50"] = median(
        [(b.get("d_triggerExecution", 0) - b.get("d_addBatch", 0)) / 1000 for b in batches])
    m["streaming.latest_offset_ms_p50"] = pmed("d_latestOffset")
    m["streaming.wal_commit_ms_p50"] = pmed("d_walCommit")
    m["streaming.commit_offsets_ms_p50"] = pmed("d_commitOffsets")
    m["streaming.query_planning_ms_p50"] = pmed("d_queryPlanning")

    # ---- graph
    all_views = L.named("StepDag.run")
    views = [v for v in all_views if v["batch"] >= traced.get("warm", 0)]
    view_cost = L.cost(views)
    m["graph.view_s_p50"] = median([(s["end"] - s["start"]) / 1000 for s in views])
    m["graph.jobs_per_run"] = _div(view_cost["jobs"], len(views))
    m["graph.feed_rows_per_event"] = _div(view_cost["records_in"], events) if views else 0.0

    # ---- ops (query_suite)
    queries = [s for s in L.ops() if s.get("query")]
    q_cost = L.cost(queries)
    builds, execs = L.named("build"), L.named("exec")
    q_wall = sum(s["end"] - s["start"] for s in queries)
    m["ops.build_s"] = sum(s["end"] - s["start"] for s in builds) / 1000
    m["ops.exec_s"] = sum(s["end"] - s["start"] for s in execs) / 1000
    m["ops.eager_jobs"] = L.cost(builds)["jobs"]
    m["ops.jobs"] = q_cost["jobs"]
    m["ops.stages"] = q_cost["stages"]
    m["ops.tasks"] = q_cost["tasks"]
    fixed = q_cost["sched_ms"] + sum(
        L.counter(s, "cg_ns") / 1e6 + sum(L.phase_ms(p, s["start"], s["end"])
                                          for p in ("analysis", "optimization", "planning"))
        for s in queries)
    m["ops.fixed_cost_share"] = _div(fixed, q_wall)

    # ---- spark, over the whole window
    w_cost = L.cost([root], lambda _: win)
    m["spark.analysis_ms"] = L.phase_ms("analysis", *win)
    m["spark.optimization_ms"] = L.phase_ms("optimization", *win)
    m["spark.planning_ms"] = L.phase_ms("planning", *win)
    m["spark.codegen_ms"] = L.counter(w, "cg_ns") / 1e6
    m["spark.codegen_classes"] = L.counter(w, "cg_n")
    m["spark.codegen_bytecode_kb"] = L.counter(w, "cg_bytes") / 1024
    m["spark.recompiles_after_warmup"] = recompiles_after_warmup(
        all_views, traced.get("warm", 0), traced.get("every", 0))
    m["spark.sched_overhead_ms_per_stage"] = _div(w_cost["sched_ms"], w_cost["stages"])
    m["spark.task_run_ms"] = w_cost["run_ms"]
    m["spark.task_cpu_ms"] = w_cost["cpu_ms"]
    m["spark.gc_ms"] = w_cost["gc_ms"]
    m["spark.shuffle_write_bytes"] = w_cost["shuffle_write"]
    m["spark.shuffle_read_bytes"] = w_cost["shuffle_read"]
    m["spark.core_idle_share"] = 1 - _div(w_cost["run_ms"], L.cores * (win[1] - win[0]))

    # ---- harness
    m["harness.probe_s"] = res["probe_s"]
    m["harness.gen_s"] = res["gen_s"]
    m["harness.warmup_s"] = res["warmup_s"]
    m["harness.trace_overhead_share"] = _div(traced["window_s"], untraced_wall_s) - 1
    return m


def recompiles_after_warmup(views, warm, every):
    """Code generation compiles between the ends of consecutive view
    refreshes (one per micro-batch), over the batches after the `warm`
    warm-up ones, skipping the compaction batches."""
    views = sorted(views, key=lambda s: s["batch"])
    total = 0
    for prev, cur in zip(views, views[1:]):
        b = cur["batch"]
        if b < warm or (every and (b + 1) % every == 0):
            continue
        total += cur.get("c1_cg_n", 0) - prev.get("c1_cg_n", 0)
    return total
