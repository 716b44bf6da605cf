"""Metric definitions and their computation from a JVM run's raw record.

Every workload reports every metric. End-to-end metrics describe what a
user of the workload sees; per-layer metrics come from the traced run and
read 0 for a layer the workload does not touch.
"""
import statistics

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "retained_heap_mb": ("MB", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "read_p50_ms": ("ms", "lower", 0.25),
    "write_p50_ms": ("ms", "lower", 0.25),
}

BATCH_QUERIES = {
    "curation": ["emb_semantic_dedup_hier", "minhash_lsh_pairs", "doc_ngram_jaccard"],
    "graph": ["graph_pagerank_general", "graph_label_prop", "gun_ham_merge"],
}

SPARK_GROUP = [("stages", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
               ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
               ("peak_exec_mem_mb", "MB"), ("driver_gap_s", "s")]

# name -> (unit, better)
PER_LAYER = {}
for _g, _qs in BATCH_QUERIES.items():
    for _q in _qs:
        PER_LAYER[f"queries.{_q}.wall_s"] = ("s", "lower")
        PER_LAYER[f"queries.{_q}.jobs"] = ("count", "lower")
for _g in BATCH_QUERIES:
    for _m, _u in SPARK_GROUP:
        PER_LAYER[f"spark.{_g}.{_m}"] = (_u, "lower")
PER_LAYER.update({
    "spark.session.jobs_per_fetch": ("count", "lower"),
    "spark.session.jobs_per_put": ("count", "lower"),
    "spark.session.tasks_per_op": ("count", "lower"),
    "spark.session.executor_cpu_ms_per_op": ("ms", "lower"),
    "spark.session.driver_gap_ms_per_op": ("ms", "lower"),
    "graph.resolve_ms_p50": ("ms", "lower"),
    "graph.cell_read_ms_p50": ("ms", "lower"),
    "graph.put_merge_ms_p50": ("ms", "lower"),
    "graph.store_rows_end": ("count", "lower"),
    "graph.deferred_rows_end": ("count", "lower"),
    "streaming.batches": ("count", "higher"),
    "streaming.rows_per_batch_p50": ("count", "higher"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms_p90": ("ms", "lower"),
    "streaming.query_planning_ms_p50": ("ms", "lower"),
    "streaming.wal_commit_ms_p50": ("ms", "lower"),
    "streaming.latest_offset_ms_p50": ("ms", "lower"),
    "streaming.commit_offsets_ms_p50": ("ms", "lower"),
    "streaming.state_rows_total_end": ("count", "lower"),
    "streaming.state_memory_mb_end": ("MB", "lower"),
    "streaming.backlog_frames_p90": ("count", "lower"),
    "streaming.store_files_total_end": ("count", "lower"),
    "streaming.store_files_max_per_bucket_end": ("count", "lower"),
    "streaming.store_bytes_per_live_cell": ("bytes", "lower"),
    "spark.ingest.jobs_per_batch": ("count", "lower"),
    "spark.ingest.tasks_per_batch": ("count", "lower"),
    "spark.ingest.executor_cpu_ms_per_batch": ("ms", "lower"),
    "spark.ingest.shuffle_write_kb_per_batch": ("KB", "lower"),
    "sources.frames_sent": ("count", "higher"),
    "sources.frames_consumed": ("count", "higher"),
    "sources.decode_us_per_msg": ("us", "lower"),
    "core.ham_merge_ns_per_cell": ("ns", "lower"),
    "bench.read_samples": ("count", "higher"),
    "bench.write_samples": ("count", "higher"),
    "bench.write_tail_ms": ("ms", "lower"),
    "bench.write_tail_pct": ("pct", "higher"),
    "bench.trace_overhead_pct": ("%", "lower"),
})


# ---- statistics -----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (0..1) of xs; 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(xs, beyond=10, ladder=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile of `ladder` with at least `beyond` samples
    above it, as (percentile, value); None when no rung qualifies."""
    for p in ladder:
        if len(xs) * (100 - p) / 100 >= beyond:
            return p, quantile(xs, p / 100)
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals that may overlap or
    nest; zero-length and inverted intervals cover nothing."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- end-to-end -----------------------------------------------------------

def _pool(lat, kinds):
    return [x for k in kinds for x in lat.get(k, [])]


def read_write_samples(raw):
    """(read, write) latency samples in ms for the raw record's workload."""
    o = raw["outcome"]
    lat, series = o["lat_ms"], o["series"]
    w = raw["workload"]
    if w == "batch_analytics":
        return ([s * 1000 for s in series.get("pass.graph", [])],
                [s * 1000 for s in series.get("pass.curation", [])])
    if w == "gun_session":
        return lat.get("fetch", []), _pool(lat, ["put", "put_new_path", "put_stale", "put_future"])
    return lat.get("store_read", []), series.get("batch_ms", [])


def end_to_end(raw):
    read, write = read_write_samples(raw)
    vals = {
        # the first set-up also pays class loading and JIT warm-up
        "setup_s": median(raw["setup_s"][1:]),
        "retained_heap_mb": raw["retained_heap_mb"],
        "throughput_per_s": raw["outcome"]["units"] / raw["window_s"],
        "read_p50_ms": median(read),
        "write_p50_ms": median(write),
    }
    return {k: {"value": vals[k], "unit": END_TO_END[k][0]} for k in END_TO_END}


# ---- per-layer ------------------------------------------------------------

class Spans:
    """Span tree of a traced run plus the Spark jobs attributed to it."""

    def __init__(self, spans, jobs):
        self.spans = spans
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_group = {}
        for j in jobs:
            self.jobs_by_group.setdefault(j["group"], []).append(j)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def prefixed(self, prefix):
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def jobs_under(self, span):
        ids, stack = [], [span["id"]]
        while stack:
            i = stack.pop()
            ids.append(i)
            stack.extend(self.children.get(i, []))
        return [j for i in ids for j in self.jobs_by_group.get(str(i), [])]

    def driver_gap_ms(self, span):
        """Span wall time not covered by any of its jobs."""
        s, e = span["start"], span["end"]
        covered = union_length([(max(s, j["start"]), min(e, j["end"]))
                                for j in self.jobs_under(span) if j["end"] is not None])
        return (e - s) - covered


def _dur(s):
    return s["end"] - s["start"]


def _per_span(spans, tree, field):
    return sum(j[field] for s in spans for j in tree.jobs_under(s)) / len(spans) if spans else 0.0


def in_window(raw, items):
    """The spans or jobs that start inside the run's timed window."""
    lo, hi = raw["window_ms"]
    return [x for x in items if lo <= x["start"] <= hi]


def per_layer(raw):
    v = dict.fromkeys(PER_LAYER, 0.0)
    tree = Spans(in_window(raw, raw["spans"]), raw["jobs"])
    o = raw["outcome"]
    series = o["series"]
    w = raw["workload"]

    if w == "batch_analytics":
        for qs in BATCH_QUERIES.values():
            for q in qs:
                sp = tree.named(f"query:{q}")
                v[f"queries.{q}.wall_s"] = median([_dur(s) / 1000 for s in sp])
                v[f"queries.{q}.jobs"] = median([len(tree.jobs_under(s)) for s in sp])
        for g in BATCH_QUERIES:
            passes = []
            for s in tree.named(f"group:{g}"):
                js = tree.jobs_under(s)
                passes.append({
                    "stages": sum(j["stages"] for j in js),
                    "tasks": sum(j["tasks"] for j in js),
                    "executor_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
                    "gc_s": sum(j["gc_ms"] for j in js) / 1e3,
                    "shuffle_write_mb": sum(j["shuffle_write_b"] for j in js) / 2**20,
                    "spill_mb": sum(j["spill_b"] for j in js) / 2**20,
                    "peak_exec_mem_mb": max([j["peak_exec_b"] for j in js], default=0) / 2**20,
                    "driver_gap_s": tree.driver_gap_ms(s) / 1000,
                })
            for m, _ in SPARK_GROUP:
                v[f"spark.{g}.{m}"] = median([p[m] for p in passes])

    if w == "gun_session":
        ops = tree.prefixed("op:")
        fetches = tree.named("op:fetch")
        puts = [s for s in ops if s["name"].startswith("op:put")]
        v["spark.session.jobs_per_fetch"] = (
            sum(len(tree.jobs_under(s)) for s in fetches) / len(fetches) if fetches else 0.0)
        v["spark.session.jobs_per_put"] = (
            sum(len(tree.jobs_under(s)) for s in puts) / len(puts) if puts else 0.0)
        v["spark.session.tasks_per_op"] = _per_span(ops, tree, "tasks")
        v["spark.session.executor_cpu_ms_per_op"] = _per_span(ops, tree, "cpu_ns") / 1e6
        v["spark.session.driver_gap_ms_per_op"] = (
            sum(tree.driver_gap_ms(s) for s in ops) / len(ops) if ops else 0.0)
        v["graph.resolve_ms_p50"] = median([_dur(s) for s in tree.named("graph.resolve")])
        v["graph.cell_read_ms_p50"] = median([_dur(s) for s in tree.named("graph.cell_read")])
        v["graph.put_merge_ms_p50"] = median([_dur(s) for s in tree.named("graph.put_merge")])

    if w == "gun_ingest":
        v["streaming.batches"] = len(series.get("batch_ms", []))
        v["streaming.rows_per_batch_p50"] = median(series.get("rows_per_batch", []))
        v["streaming.add_batch_ms_p50"] = median(series.get("dur.addBatch", []))
        v["streaming.add_batch_ms_p90"] = quantile(series.get("dur.addBatch", []), 0.9)
        for key, name in [("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                          ("latestOffset", "latest_offset"), ("commitOffsets", "commit_offsets")]:
            v[f"streaming.{name}_ms_p50"] = median(series.get(f"dur.{key}", []))
        v["streaming.backlog_frames_p90"] = quantile(series.get("backlog_frames", []), 0.9)
        # the stream's jobs: Spark runs them in a job group named after the
        # streaming query's run id
        stream_jobs = [j for j in in_window(raw, raw["jobs"])
                       if j["group"] == raw["stream_run_id"]]
        n = max(1, len(series.get("batch_ms", [])))
        v["spark.ingest.jobs_per_batch"] = len(stream_jobs) / n
        v["spark.ingest.tasks_per_batch"] = sum(j["tasks"] for j in stream_jobs) / n
        v["spark.ingest.executor_cpu_ms_per_batch"] = sum(j["cpu_ns"] for j in stream_jobs) / 1e6 / n
        v["spark.ingest.shuffle_write_kb_per_batch"] = (
            sum(j["shuffle_write_b"] for j in stream_jobs) / 1024 / n)

    for k, x in o["values"].items():
        if k in v:
            v[k] = x
    read, write = read_write_samples(raw)
    v["bench.read_samples"], v["bench.write_samples"] = len(read), len(write)
    tail = tail_percentile(write)
    if tail:
        v["bench.write_tail_pct"], v["bench.write_tail_ms"] = tail
    v["bench.trace_overhead_pct"] = raw["trace_overhead_ns"] / (raw["window_s"] * 1e9) * 100
    return {k: {"value": v[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
