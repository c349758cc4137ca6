"""Turns the raw record of one benchmark run into metrics.

The JVM side (`src/main/scala/cdcbench`) records what happened: published
segments with their due times, the engine's `_lineage` rows and snapshot
commit times, per-operation wall times, and on traced runs the spans and
the Spark jobs and stages. Everything derived from those records lives
here, as plain functions that `test_analysis.py` checks on hand-built
inputs.
"""
import math
import statistics

WORKLOADS = ("backfill", "tail")

END_TO_END = {
    "setup_s": "s",
    "backfill_events_per_s": "events/s",
    "freshness_p50_ms": "ms",
    "lookup_p50_ms": "ms",
    "full_read_s": "s",
    "feed_drain_rows_per_s": "rows/s",
    "space_amp": "ratio",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "sources.binlog_write_s": "s",
    "sources.scan_rows_per_event": "ratio",
    "sources.feed_overhead_ms": "ms",
    "streaming.apply_ms_p50": "ms",
    "streaming.apply_ms_max": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_max": "ms",
    "streaming.engine_overhead_ms_p50": "ms",
    "streaming.queue_wait_ms_p50": "ms",
    "streaming.triggers": "count",
    "streaming.rows_per_trigger_p50": "count",
    "plans.spark_jobs_per_batch": "count",
    "plans.write_job_ms_per_batch": "ms",
    "plans.other_job_ms_per_batch": "ms",
    "plans.driver_ms_per_batch": "ms",
    "plans.compacting_batch_share": "ratio",
    "plans.write_amp": "ratio",
    "plans.delta_files_per_bucket_max": "count",
    "plans.snapshot_ms": "ms",
    "plans.versions": "count",
    "plans.lookup_rows_read": "count",
    "plans.changes_between_ms": "ms",
    "operators.read_shuffle_mb": "MB",
    "spark.task_busy_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_share": "ratio",
    "jvm.peak_rss_mb": "MB",
    "jvm.heap_after_gc_max_mb": "MB",
    "host.steal_share": "ratio",
    "host.other_cores": "cores",
    "host.cpu_probe_ms": "ms",
    "span.sources_self_s": "s",
    "span.streaming_self_s": "s",
    "span.plans_self_s": "s",
    "span.operators_self_s": "s",
    "trace.overhead_share": "ratio",
}

UNITS = {**END_TO_END, **PER_LAYER}

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- statistics

def percentile(values, q, groups=None):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`.

    A tail percentile (q > 0.5) is reported only when the samples beyond
    it come from at least ten distinct groups; otherwise ValueError, so a
    run never headlines a percentile its samples cannot support. `groups`
    names each sample's source (e.g. the commit that made a segment
    visible: samples of one commit rise and fall together); by default
    every sample is its own group.
    """
    if not values:
        raise ValueError("no samples")
    if groups is None:
        groups = range(len(values))
    s = sorted(zip(values, groups), key=lambda x: x[0])
    rank = max(1, math.ceil(q * len(s)))
    if q > 0.5:
        beyond = len({g for _, g in s[rank:]})
        if beyond < 10:
            raise ValueError(f"p{round(q * 100)} needs samples from 10 groups beyond it; "
                             f"have {beyond}")
    return s[rank - 1][0]


def median(values):
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- freshness

def batch_commits(run):
    """Ingest batches keyed by the snapshot each committed (batch ids
    restart per writer, snapshot ids do not): snapshot id -> dict of
    batch id, apply start and commit ms, apply wall ms, rows."""
    commit = {s["id"]: s["committed_ms"] for s in run["snapshots"]}
    out = {}
    for r in run["lineage"]:
        sid = r["snapshot_id"]
        if sid not in commit:
            continue
        b = out.setdefault(sid, {"batch_id": r["batch_id"], "commit": commit[sid],
                                 "start": commit[sid] - r["wall_ms"],
                                 "wall": float(r["wall_ms"]), "rows": 0})
        b["rows"] += r["rows"]
    return out


def visible_batches(run, seg):
    """Snapshot ids of the batches holding rows of segment `seg`: per shard
    file, the batches whose lineage seq range for that shard overlaps the
    segment's. None when some shard file of the segment is in no batch."""
    found = set()
    for k in seg["shards"]:
        hits = {r["snapshot_id"] for r in run["lineage"]
                if r["shard"] == k and r["start_seq"] <= seg["hi"] and r["end_seq"] >= seg["lo"]}
        if not hits:
            return None
        found |= hits
    return found


def freshness(run):
    """Per published segment: commit time of the first snapshot holding
    all its rows minus the time it was due. Returns (samples ms, the
    snapshot id that made each sample's segment visible, segment ids
    never made visible)."""
    batches = batch_commits(run)
    samples, commits, missing = [], [], []
    for seg in run["segments"]:
        hit = visible_batches(run, seg)
        if hit is None or any(b not in batches for b in hit):
            missing.append(seg["seg"])
            continue
        last = max(hit, key=lambda b: batches[b]["commit"])
        samples.append(batches[last]["commit"] - seg["due_ms"])
        commits.append(last)
    return samples, commits, missing


def queue_waits(run):
    """Per segment: start of the first trigger (tail) or batch apply
    (replay) that consumed it, minus its due time."""
    batches = batch_commits(run)
    starts = {t["batch_id"]: t["start_ms"] for t in run.get("triggers", [])}
    out = []
    for seg in run["segments"]:
        hit = visible_batches(run, seg)
        if not hit or any(b not in batches for b in hit):
            continue
        first = batches[min(hit)]
        start = starts.get(first["batch_id"], first["start"]) if run["kind"] == "tail" else first["start"]
        out.append(max(0.0, start - seg["due_ms"]))
    return out


def timed_batches(run):
    """batch_commits of the batches committed after the run started (the
    tail's warm-up trigger commits before its timed section)."""
    return {s: b for s, b in batch_commits(run).items() if b["commit"] >= run["start_ms"]}


def trigger_times(run):
    """Snapshot id -> the time the caller saw its batch take: the
    trigger's own duration on the tail; for a replay, the time since the
    previous commit (or the replay's start)."""
    batches = timed_batches(run)
    if run["kind"] == "tail":
        trig = {t["batch_id"]: t["trigger_ms"] for t in run.get("triggers", [])}
        return {s: float(trig[b["batch_id"]]) for s, b in batches.items() if b["batch_id"] in trig}
    out, prev = {}, run["start_ms"]
    for s in sorted(batches):
        out[s] = float(batches[s]["commit"] - prev)
        prev = batches[s]["commit"]
    return out


# ---------------------------------------------------------------- spans

def self_times(spans):
    """Span id -> self time (ms): its duration minus the part of its
    interval that its child spans cover (overlapping children counted
    once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_ms"]
        ivs = [(max(lo, c["start_ms"]), min(hi, c["start_ms"] + c["dur_ms"]))
               for c in children.get(s["id"], [])]
        out[s["id"]] = max(0.0, s["dur_ms"] - covered(ivs))
    return out


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def within(items, lo, hi, key):
    return [x for x in items if lo <= x[key] <= hi]


# ---------------------------------------------------------------- metrics

def end_to_end(rec):
    setup = rec["setup"]
    runs = rec["ingest"]
    fresh = [x for r in runs for x in freshness(r)[0]]
    replays = [r for r in runs if r["kind"] == "replay"]
    if replays:
        events_per_s = sum(r["events"] for r in replays) / (sum(r["wall_ms"] for r in replays) / 1e3)
    else:
        applied = [b for r in runs for b in timed_batches(r).values()]
        events_per_s = sum(b["rows"] for b in applied) / (sum(b["wall"] for b in applied) / 1e3)
    lookups = [x["ms"] for x in rec["lookups"]]
    layout = rec["layout"]
    return {
        "setup_s": setup["session_s"] + setup["binlog_s"],
        "backfill_events_per_s": events_per_s,
        "freshness_p50_ms": percentile(fresh, 0.5),
        "lookup_p50_ms": median(lookups),
        "full_read_s": median([x["ms"] for x in rec["reads"]]) / 1e3,
        "feed_drain_rows_per_s": median([x["rows"] / (x["ms"] / 1e3) for x in rec["drains"]]),
        "space_amp": layout["table_bytes"] / layout["binlog_bytes"],
        "heap_live_mb": rec["heap_live_mb"],
    }


def ingest_batches(rec):
    """Every ingest batch of the timed section as a dict with its apply
    window, caller-visible time, rows and compaction flag."""
    out = []
    for r in rec["ingest"]:
        trig = trigger_times(r)
        compacted = {s["id"]: s["compacted"] > 0 for s in r["snapshots"]}
        for sid, b in sorted(timed_batches(r).items()):
            out.append({"start": b["start"], "end": b["commit"], "apply_ms": b["wall"],
                        "trigger_ms": trig.get(sid, b["wall"]), "rows": b["rows"],
                        "compacting": compacted.get(sid, False)})
    return out


def per_layer(rec):
    setup = rec["setup"]
    runs = rec["ingest"]
    batches = ingest_batches(rec)
    jobs, stages, spans = rec["jobs"], rec["stages"], rec["spans"]
    per_batch_jobs = [within(jobs, b["start"], b["end"], "start_ms") for b in batches]
    per_batch_stages = [within(stages, b["start"], b["end"], "submit_ms") for b in batches]
    ingest_stages = [s for ss in per_batch_stages for s in ss]
    n = max(1, len(batches))

    writing = {s["job"] for s in stages if s["output_bytes"] > 0}

    def job_ms(pred):
        return sum(j["end_ms"] - j["start_ms"] for js in per_batch_jobs for j in js
                   if pred(j["id"] in writing)) / n

    driver_ms = [b["apply_ms"] - covered([(j["start_ms"], j["end_ms"]) for j in js])
                 for b, js in zip(batches, per_batch_jobs)]
    waits = [w for r in runs for w in queue_waits(r)]
    layout = rec["layout"]
    events = sum(b["rows"] for b in batches)
    binlog_ingested = events * layout["binlog_bytes"] / layout["binlog_events"]
    compacting = [b for b in batches if b["compacting"]]
    lookup_spans = [s for s in spans if s["name"] == "IceliteTable.lookup"]
    read_spans = [s for s in spans if s["name"] == "IceliteTable.read"]

    def stages_in(span):
        return within(stages, span["start_ms"], span["start_ms"] + span["dur_ms"], "submit_ms")

    window_stages = within(stages, rec["window"]["start_ms"], rec["window"]["end_ms"], "submit_ms")
    run_ms = sum(s["run_ms"] for s in window_stages)
    selfs = self_times(spans)
    by_layer = {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
    window_ms = max(1.0, rec["window"]["end_ms"] - rec["window"]["start_ms"])
    apply_ms = [b["apply_ms"] for b in batches]
    trig_ms = [b["trigger_ms"] for b in batches]
    return {
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup["warmup_s"],
        "sources.binlog_write_s": setup["binlog_s"],
        "sources.scan_rows_per_event": (sum(s["input_records"] for s in ingest_stages) / events
                                        if events else 0.0),
        "sources.feed_overhead_ms": median([d["ms"] - d["noop_ms"] for d in rec["drains"]]),
        "streaming.apply_ms_p50": median(apply_ms),
        "streaming.apply_ms_max": max(apply_ms, default=0.0),
        "streaming.trigger_ms_p50": median(trig_ms),
        "streaming.trigger_ms_max": max(trig_ms, default=0.0),
        "streaming.engine_overhead_ms_p50": median([b["trigger_ms"] - b["apply_ms"] for b in batches]),
        "streaming.queue_wait_ms_p50": percentile(waits, 0.5),
        "streaming.triggers": len(batches),
        "streaming.rows_per_trigger_p50": median([b["rows"] for b in batches]),
        "plans.spark_jobs_per_batch": sum(len(js) for js in per_batch_jobs) / n,
        "plans.write_job_ms_per_batch": job_ms(lambda writes: writes),
        "plans.other_job_ms_per_batch": job_ms(lambda writes: not writes),
        "plans.driver_ms_per_batch": median(driver_ms),
        "plans.compacting_batch_share": len(compacting) / n,
        "plans.write_amp": (sum(s["output_bytes"] for s in ingest_stages) / binlog_ingested
                            if binlog_ingested else 0.0),
        "plans.delta_files_per_bucket_max": rec["layout"]["delta_files_per_bucket_max"],
        "plans.snapshot_ms": rec["layout"]["snapshot_ms"],
        "plans.versions": rec["layout"]["versions"],
        "plans.lookup_rows_read": median([sum(s["input_records"] for s in stages_in(x))
                                          for x in lookup_spans]),
        "plans.changes_between_ms": median([d["noop_ms"] for d in rec["drains"]]),
        "operators.read_shuffle_mb": median([sum(s["shuffle_write_bytes"] for s in stages_in(x)) / MB
                                             for x in read_spans]),
        "spark.task_busy_share": (sum(s["run_ms"] for s in ingest_stages)
                                  / (rec["cores"] * max(1.0, sum(apply_ms)))),
        "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in window_stages) / MB,
        "spark.spill_mb": sum(s["spill_bytes"] for s in window_stages) / MB,
        "spark.gc_share": sum(s["gc_ms"] for s in window_stages) / run_ms if run_ms else 0.0,
        "jvm.peak_rss_mb": rec["peak_rss_mb"],
        "jvm.heap_after_gc_max_mb": rec["heap_after_gc_max_mb"],
        "host.steal_share": rec["host"]["steal_share"],
        "host.other_cores": rec["host"]["other_cores"],
        "host.cpu_probe_ms": rec["host"]["cpu_probe_ms"],
        "span.sources_self_s": by_layer.get("sources", 0.0) / 1e3,
        "span.streaming_self_s": by_layer.get("streaming", 0.0) / 1e3,
        "span.plans_self_s": by_layer.get("plans", 0.0) / 1e3,
        "span.operators_self_s": by_layer.get("operators", 0.0) / 1e3,
        "trace.overhead_share": rec["trace_self_ms"] / window_ms,
    }


def report(rec):
    """Both metric sets plus the operation counts. Missing freshness
    samples (a segment never made visible) count as failures."""
    missing = sum(len(freshness(r)[2]) for r in rec["ingest"])
    e2e = end_to_end(rec)
    layer = per_layer(rec) if rec["trace"] else {}
    return {"end_to_end": e2e, "per_layer": layer,
            "attempted": rec["attempted"], "failed": rec["failed"] + missing,
            "missing_segments": missing}


def trigger_split(rec):
    """Per ingest batch: trigger ms divided into engine overhead (outside
    the apply), driver time inside the apply, and Spark-job time."""
    rows = []
    for b in ingest_batches(rec):
        js = within(rec["jobs"], b["start"], b["end"], "start_ms")
        job = covered([(j["start_ms"], j["end_ms"]) for j in js])
        rows.append((b["trigger_ms"], b["trigger_ms"] - b["apply_ms"],
                     b["apply_ms"] - job, job, len(js), b["rows"], b["compacting"]))
    return rows


def contended(host):
    """A window is labelled contended when the hypervisor stole more than
    5% of the CPU or other processes kept more than half a core busy."""
    return host["steal_share"] > 0.05 or host["other_cores"] > 0.5


def describe(rec, rep):
    """Human-readable lines printed before the JSON result."""
    host = rec["host"]
    lines = [f"workload={rec['workload']} seed={rec['seed']} seconds={rec['seconds']} "
             f"trace={int(rec['trace'])} cores={rec['cores']}",
             "host: steal_share={:.4f} other_cores={:.2f} busy_share={:.3f} "
             "cpu_probe_ms={:.1f}{}{}".format(
                 host["steal_share"], host["other_cores"], host["busy_share"],
                 host["cpu_probe_ms"],
                 "  publish_late_ms_max={:.0f}".format(max(rec["publish_late_ms"]))
                 if rec["publish_late_ms"] else "",
                 "  CONTENDED" if contended(host) else ""),
             "error_rate={:.6f} ({} failed of {} attempted)".format(
                 rep["failed"] / max(1, rep["attempted"]), rep["failed"], rep["attempted"])]
    lines += [f"  check: {n}" for n in rec["notes"]]
    if rep["missing_segments"]:
        lines.append(f"  {rep['missing_segments']} published segments never became visible")
    metrics = rep["per_layer"] if rec["trace"] else rep["end_to_end"]
    lines += [f"{k} = {v:.6g} {UNITS[k]}" for k, v in metrics.items()]
    if rec["trace"]:
        lines.append("per batch: trigger_ms = engine_overhead + driver + spark_jobs  "
                     "(jobs, rows, compacting)")
        for t, eo, drv, job, nj, rows, comp in trigger_split(rec):
            lines.append(f"  {t:8.0f} = {eo:7.0f} + {drv:7.0f} + {job:7.0f}  "
                         f"({nj}, {rows}, {'C' if comp else '-'})")
    return lines
