"""Pure helpers of the graft benchmark: percentiles, the joins from rows and
opportunities to the due time of the feed file that carried them, the
backlog decision of the rate ladder, the correctness gates, and the metric
tables. `run.py` feeds them the raw JSON the JVM side writes; nothing here
touches the file system or a clock, so `test_benchlib.py` covers it all.
"""
import bisect
import hashlib
import math
import statistics

MODULES = ["analytics", "relational", "scanner", "ledger", "operators", "plans",
           "sinks", "schema", "text", "ann", "multimodal"]


def percentile(values, p):
    """Nearest-rank percentile: the value at 1-based rank ceil(p/100 * n)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile:
    a percentile is supported when at least ten do."""
    return n - max(1, math.ceil(p / 100.0 * n))


def median(values):
    return statistics.median(values)


def ingest_delivery(files, released, batches):
    """When the ingest lane's trading callback received each released file:
    {seq: callback ns}, plus gate failures. Each batch reports the range of
    file numbers it held; the ranges must cover every released file exactly
    once, and each batch's row count must equal its files'."""
    rows = {f["seq"]: f["rows"] for f in files}
    released_seqs = {r["seq"] for r in released}
    failures = []
    seen = {}
    for b in sorted(batches, key=lambda b: b["batch"]):
        seqs = range(b["min_seq"], b["max_seq"] + 1)
        expected = sum(rows.get(s, 0) for s in seqs)
        if expected != b["rows"]:
            failures.append("ingest batch %d held %d rows, its files %d"
                            % (b["batch"], b["rows"], expected))
        for s in seqs:
            if s in seen:
                failures.append("file %d delivered twice by the ingest lane" % s)
            seen[s] = b["t_ns"]
    for s in sorted(released_seqs - set(seen)):
        failures.append("file %d never reached the ingest lane" % s)
    for s in sorted(set(seen) - released_seqs):
        failures.append("file %d reached the ingest lane but was never released" % s)
    return seen, failures


def scan_consumption(consumed, sinks):
    """When the pair-scan lane was done with each file: {seq: time its sink
    held the opportunities of the micro-batch that read the file}, for
    batches whose sink finished."""
    at = {s["batch"]: s["t_ns"] for s in sinks}
    return {c["seq"]: at[c["batch"]] for c in consumed if c["batch"] in at}


def file_latencies(released, done_at, skip=()):
    """Per-file latency, ms: a file's due time to `done_at[seq]`. One sample
    per file, since every row of a file shares its due time and its
    micro-batch. Files in `skip` or never done are left out."""
    return [(done_at[r["seq"]] - r["due_ns"]) / 1e6 for r in released
            if r["seq"] not in skip and r["seq"] in done_at]


def file_of_ts(files, ts_us):
    """The feed file whose event-time range holds ts_us (files are cut in
    event-time order, so ranges are disjoint and ascending)."""
    ordered = sorted(files, key=lambda f: f["first_ts_us"])
    firsts = [f["first_ts_us"] for f in ordered]
    i = bisect.bisect_right(firsts, ts_us) - 1
    if i < 0 or ts_us > ordered[i]["last_ts_us"]:
        raise ValueError("event time %d lies in no feed file" % ts_us)
    return ordered[i]["seq"]


def opportunity_latencies(files, released, outs, skip=()):
    """Per-opportunity latency, ms: the due time of the file holding the
    later of its two legs to the sink callback that received it."""
    due = {r["seq"]: r["due_ns"] for r in released}
    out = []
    for o in outs:
        for ts in o["later_ts_us"]:
            s = file_of_ts(files, ts)
            if s not in skip:
                out.append((o["t_ns"] - due[s]) / 1e6)
    return out


def backlog_ratio(released, done_at):
    """How much longer files released late in the window wait than files
    released early: median latency of the last quarter of files over that of
    the first quarter, in due order. Near 1 while a lane keeps up; it grows
    with the window when the lane's backlog grows."""
    lats = [(done_at[r["seq"]] - r["due_ns"]) / 1e6
            for r in sorted(released, key=lambda r: r["due_ns"]) if r["seq"] in done_at]
    q = len(lats) // 4
    if q == 0:
        raise ValueError("backlog ratio needs at least 4 files")
    return median(lats[-q:]) / median(lats[:q])


def backlog_grows(ratio, limit=1.5):
    """The sustainability decision: a lane keeps up with the offered rate
    while late files wait at most `limit` times as long as early ones."""
    return ratio > limit


def multiset_diff(want, got):
    """(missing, unexpected) counts between two lists of keys."""
    pool = {}
    for k in want:
        pool[k] = pool.get(k, 0) + 1
    for k in got:
        pool[k] = pool.get(k, 0) - 1
    return (sum(v for v in pool.values() if v > 0), -sum(v for v in pool.values() if v < 0))


def keys_digest(keys):
    """Order-insensitive digest of a multiset of opportunity keys."""
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()


def opportunity_gate(keys, reference=None, golden=None):
    """Gate failures of the pair-scan lane: its opportunities must equal,
    as a multiset, an AvailableNow drain of the same files, either run in
    this run (`reference`, a key list) or recorded (`golden`: count and
    digest)."""
    if reference is not None:
        missing, extra = multiset_diff(reference, keys)
        if not reference:
            return ["the AvailableNow drain found no opportunities"]
        if missing or extra:
            return ["pair scan: %d opportunities missing, %d unexpected against the "
                    "AvailableNow drain" % (missing, extra)]
        return []
    if golden is None:
        return ["no AvailableNow reference for this feed"]
    if len(keys) != golden["count"] or keys_digest(keys) != golden["digest"]:
        return ["pair scan: %d opportunities, the AvailableNow drain had %d (or other ones)"
                % (len(keys), golden["count"])]
    return []


def batch_gate(gate, goldens):
    """Names of measured queries whose row count or checksum differs from
    the golden record (or that failed, or have no golden)."""
    bad = []
    for name, got in sorted(gate.items()):
        want = goldens.get(name)
        if ("error" in got or want is None or got["rows"] != want["rows"]
                or got["sum"] != want["sum"]):
            bad.append(name)
    return bad


def setup_s(raw):
    """Median of the set-up repetitions (staging) plus the warm-up."""
    return median(raw["stage_s"]) + raw["warm_s"]


def geomean(values):
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def lap_geomean_ms(ops):
    """Geometric mean over the queries of each one's mean latency in `ops`,
    ms."""
    per_query = {}
    for o in ops:
        if o["ok"]:
            per_query.setdefault(o["name"], []).append(o["lat_s"])
    return geomean(sum(v) / len(v) for v in per_query.values()) * 1000


def trace_overhead_pct(traced_ops, untraced_ops):
    """Tracing overhead of the batch workload, %: traced laps against
    untraced laps of the same JVM."""
    return (lap_geomean_ms(traced_ops) / lap_geomean_ms(untraced_ops) - 1.0) * 100.0


def batch_summary(raw, goldens):
    """End-to-end figures of the batch workload. A query's latency is the
    best of its measured laps (one per 10 s of the run length), all of them
    after a warm-up lap that has paid for code generation and JIT
    compilation. The typical latency is the
    geometric mean over the queries (with eleven queries of different
    weights a median jumps between neighbours); the tail is the mean of the
    slowest quarter of them."""
    ops = raw["ops"]
    per_query = {}
    for o in ops:
        if o["ok"]:
            per_query.setdefault(o["name"], []).append(o["lat_s"])
    best = sorted(min(v) for v in per_query.values())
    tail = best[-max(1, len(best) // 4):]
    bad = batch_gate(raw["gate"], goldens)
    failures = (["query failed: %s" % o["name"] for o in ops if not o["ok"]]
                + ["checksum mismatch: %s" % n for n in bad])
    return {
        "attempted": len(ops) + len(raw["gate"]),
        "failed": len(failures),
        "failures": failures,
        "samples": len(ops),
        "latency_ms": geomean(best) * 1000,
        "latency_tail_ms": sum(tail) / len(tail) * 1000,
        "latency_p50_ms": percentile(best, 50) * 1000,
        "latency_p90_ms": percentile(best, 90) * 1000,
        "lap_s": sum(best),
        "laps": 1 + max(o["lap"] for o in ops),
        "query_s": per_query,
        "gate_s": {n: g["s"] for n, g in raw["gate"].items() if "s" in g},
    }


def stream_summary(raw, golden=None):
    """End-to-end figures of the stream workload. Each lane takes the same
    feed schedule in its own phase; a file's latency runs from its due time
    until the lane is done with it: the ingest lane's trading callback has
    it, or the pair-scan sink holds the opportunities of the micro-batch
    that read it. The typical latency is the geometric mean of the two
    lanes' per-file p50s, the tail that of their p90s."""
    files = raw["files"]
    unmeasured = set(raw["unmeasured_seqs"])
    released, scan_released = raw["released"], raw["scan_released"]
    measured = [r for r in released if r["seq"] not in unmeasured]
    scan_measured = [r for r in scan_released if r["seq"] not in unmeasured]
    ingest_at, failures = ingest_delivery(files, released, raw["batches"])
    scan_at = scan_consumption(raw["scan_consumed"], raw["scan_sinks"])
    for r in scan_released:
        if r["seq"] not in scan_at:
            failures.append("file %d never finished in the pair-scan lane" % r["seq"])
    failures += list(raw["failures"])
    released_rows = sum(f["rows"] for f in files if f["seq"] in {r["seq"] for r in released})
    seen_rows = sum(b["rows"] for b in raw["batches"])
    if not released_rows == raw["stored_rows"] == seen_rows:
        failures.append("rows released %d, stored %d, seen by the trading lane %d"
                        % (released_rows, raw["stored_rows"], seen_rows))
    failures += opportunity_gate(raw["scan_keys"], raw.get("reference"), golden)
    reads = raw["reads"]
    ok_reads = [r["lat_s"] for r in reads if r["ok"]]
    failures += ["store read failed"] * (len(reads) - len(ok_reads))
    ingest_lats = file_latencies(released, ingest_at, skip=unmeasured)
    scan_lats = file_latencies(scan_released, scan_at, skip=unmeasured)
    opp_lats = opportunity_latencies(files, scan_released, raw["scan_outs"], skip=unmeasured)
    ingest_ratio = backlog_ratio(measured, ingest_at)
    scan_ratio = backlog_ratio(scan_measured, scan_at)
    p50 = {"ingest": percentile(ingest_lats, 50), "pairscan": percentile(scan_lats, 50)}
    p90 = {"ingest": percentile(ingest_lats, 90), "pairscan": percentile(scan_lats, 90)}
    return {
        "attempted": len(released) + len(scan_released) + len(reads) + 2,
        "failed": len(failures),
        "failures": failures,
        "samples": len(ingest_lats) + len(scan_lats),
        "p90_support_files": min(beyond(len(ingest_lats), 90), beyond(len(scan_lats), 90)),
        "latency_ms": geomean(p50.values()),
        "latency_tail_ms": geomean(p90.values()),
        "ingest_p50_ms": p50["ingest"],
        "ingest_p90_ms": p90["ingest"],
        "pairscan_file_p50_ms": p50["pairscan"],
        "pairscan_file_p90_ms": p90["pairscan"],
        "pairscan_p50_ms": percentile(opp_lats, 50),
        "pairscan_p90_ms": percentile(opp_lats, 90),
        "pairscan_samples": len(opp_lats),
        "store_read_p50_ms": percentile(ok_reads, 50) * 1000,
        "store_read_p90_ms": percentile(ok_reads, 90) * 1000,
        "reads": len(ok_reads),
        "ingest_backlog_ratio": ingest_ratio,
        "pairscan_backlog_ratio": scan_ratio,
        "backlog_grows": {"ingest": backlog_grows(ingest_ratio),
                          "pairscan": backlog_grows(scan_ratio)},
        "late_ms_max": max((r["at_ns"] - r["due_ns"]) / 1e6
                           for r in measured + scan_measured),
    }


def summary(raw, goldens, seconds):
    """Figures of one run; `goldens` is goldens.json's content."""
    kind = raw["workload"]
    if kind == "batch":
        s = batch_summary(raw, goldens["queries"])
    elif kind == "stream":
        s = stream_summary(raw, goldens["stream"].get(str(seconds)))
    else:
        raise ValueError("unknown workload %s" % kind)
    s["setup_s"] = setup_s(raw)
    s["live_heap_mb"] = raw["heap_live_mb"]
    s["peak_heap_mb"] = raw["heap_peak_mb"]
    s["peak_rss_mb"] = raw["rss_mb"]
    return s


def layer_metrics(raw, summ, overhead_pct):
    """Per-layer figures of a traced run (`summ` is its summary). Module
    figures are per measured lap; streaming figures are medians over the
    live queries' micro-batches. A layer the workload does not run reads 0."""
    t = raw["trace"]
    counters = t["counters"]
    laps = summ.get("laps", 1)
    m = {}
    for mod in MODULES:
        spans = {ph: sum(s["end_ms"] - s["start_ms"] for s in t["spans"]
                         if s["layer"] == mod and s["phase"] == ph) / 1000.0
                 for ph in ("build", "exec")}
        b = counters.get(mod + ":build", {})
        e = counters.get(mod + ":exec", {})

        def both(k):
            return (b.get(k, 0) + e.get(k, 0)) / laps
        m[mod + ".build_s"] = spans["build"] / laps
        m[mod + ".build_jobs"] = b.get("jobs", 0) / laps
        m[mod + ".exec_s"] = spans["exec"] / laps
        m[mod + ".exec_jobs"] = e.get("jobs", 0) / laps
        m[mod + ".cpu_s"] = both("cpu_ns") / 1e9
        m[mod + ".tasks"] = both("tasks")
        m[mod + ".shuffle_bytes"] = both("shuffle_bytes")
        m[mod + ".spill_bytes"] = both("spill_bytes")
    m["catalyst.plan_ms"] = sum(c.get("plan_ms", 0.0) for k, c in counters.items()
                                if k.split(":")[0] in MODULES) / laps
    stages = [s["end_ms"] - s["start_ms"] for s in t["spans"] if s["layer"] == "sources"]
    m["sources.stage_s"] = median(stages) / 1000.0
    m["jvm.gc_s"] = raw["gc_ms"] / 1000.0

    def prog(query):
        return [p for p in t["progress"] if p["query"] == query and "addBatch" in p["durations"]]

    def med(xs):
        return median(xs) if xs else 0.0

    def d(p, *ks):
        return sum(p["durations"].get(k, 0) for k in ks)
    stream = raw["workload"] == "stream"
    ing, scan = prog("ingest"), prog("pairscan")
    for lane, ps in (("streaming", ing), ("scanner", scan)):
        m[lane + ".latest_offset_ms"] = med([d(p, "latestOffset", "getBatch") for p in ps])
        m[lane + ".query_planning_ms"] = med([d(p, "queryPlanning") for p in ps])
        m[lane + ".add_batch_ms"] = med([d(p, "addBatch") for p in ps])
        m[lane + ".commit_ms"] = med([d(p, "walCommit", "commitOffsets") for p in ps])
        m[lane + ".rows_per_batch"] = med([p["rows"] for p in ps])
    cb = {b["batch"]: b["callback_ms"] for b in raw.get("batches", [])}
    m["sinks.append_ms"] = med([d(p, "addBatch") - cb[p["batch"]] for p in ing
                                if p["batch"] in cb])
    m["sinks.store_files"] = raw.get("store_files", 0)
    m["sinks.read_p50_ms"] = summ["store_read_p50_ms"] if stream else 0.0
    m["streaming.ingest_p50_ms"] = summ["ingest_p50_ms"] if stream else 0.0
    m["streaming.backlog_ratio"] = summ["ingest_backlog_ratio"] if stream else 0.0
    m["scanner.state_rows_max"] = max((p["state_rows"] for p in scan), default=0)
    m["scanner.state_commit_ms"] = med([p["state_commit_ms"] for p in scan])
    m["scanner.out_rows"] = len(raw.get("scan_keys", []))
    m["scanner.opportunity_p50_ms"] = summ["pairscan_p50_ms"] if stream else 0.0
    m["scanner.backlog_ratio"] = summ["pairscan_backlog_ratio"] if stream else 0.0
    m["gen.late_ms"] = summ["late_ms_max"] if stream else 0.0
    m["trace.overhead_pct"] = overhead_pct
    return m
