"""Metric arithmetic over one run's raw result.

Loop iteration 0 of every part that runs more than one iteration warms the
JVM up and is left out of every loop figure. End-to-end metrics come from the untraced run: `work_s` is
the sum over parts of the median warm iteration plus the one-off
operations. Per-layer metrics come from a traced run, where traced and
untraced warm iterations alternate; they are per traced iteration.
"""

import re
import statistics

SETUP_REPEATS = 3
NAME = re.compile(r"[A-Za-z0-9_.-]+")
MIN_TAIL_SAMPLES = 10

END_TO_END = [
    ("setup_s", "s"),
    ("work_s", "s"),
]

# name, unit, better
PER_LAYER = [
    ("peak_rss_mb", "MB", "lower"),
    ("trace_overhead_frac", "ratio", "lower"),
    ("unattributed_frac", "ratio", "lower"),
    ("generator.busy_s", "s", "lower"),
    ("ingest.busy_s", "s", "lower"),
    ("ingest.bronze_read_ratio", "ratio", "lower"),
    ("dq.busy_s", "s", "lower"),
    ("io.write_s", "s", "lower"),
    ("io.write_amp", "ratio", "lower"),
    ("gold.busy_s", "s", "lower"),
    ("gold.silver_read_ratio", "ratio", "lower"),
    ("gold.shuffle_write_bytes", "bytes", "lower"),
    ("gold.aml_s", "s", "lower"),
    ("monitoring.busy_s", "s", "lower"),
    ("maintenance.busy_s", "s", "lower"),
    ("maintenance.bytes_rewritten", "bytes", "lower"),
    ("medallion.cpu_util", "ratio", "higher"),
    ("medallion.spill_bytes", "bytes", "lower"),
    ("versioned.merge_s", "s", "lower"),
    ("versioned.merge_files_rewritten", "count", "lower"),
    ("versioned.merge_bytes_per_change_row", "bytes", "lower"),
    ("versioned.cdf_s", "s", "lower"),
    ("gold.incremental_s", "s", "lower"),
    ("versioned.point_read_s", "s", "lower"),
    ("versioned.point_files_read_frac", "ratio", "lower"),
    ("versioned.jobs_per_batch", "count", "lower"),
    ("versioned.sched_wait_s", "s", "lower"),
    ("cdc.batch_tail_s", "s", "lower"),
    ("versioned.compact_s", "s", "lower"),
    ("versioned.compact_bytes_rewritten", "bytes", "lower"),
    ("versioned.vacuum_s", "s", "lower"),
    ("versioned.commit_conflicts", "count", "lower"),
    ("cdc.change_rows_per_s", "rows/s", "higher"),
    ("text.busy_s", "s", "lower"),
    ("dedup.busy_s", "s", "lower"),
    ("dedup.jobs", "count", "lower"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.max_task_skew", "ratio", "lower"),
    ("dedup.near_removed", "count", "higher"),
    ("corpus.cpu_util", "ratio", "higher"),
    ("corpus.gc_s", "s", "lower"),
    ("corpus.dup_recall", "ratio", "higher"),
    ("vector.build_s", "s", "lower"),
    ("ivf.train_jobs", "count", "lower"),
    ("ivf.train_shuffle_write_bytes", "bytes", "lower"),
    ("ivf.train_sched_wait_s", "s", "lower"),
    ("ivf.train_cpu_util", "ratio", "higher"),
    ("ivf.topk_tasks", "count", "lower"),
    ("ivf.topk_task_cpu_s", "s", "lower"),
    ("ivf.topk_shuffle_write_bytes", "bytes", "lower"),
    ("vector.query_tail_s", "s", "lower"),
    ("vector.recall_at_10", "ratio", "higher"),
]
UNITS = {n: u for n, u in END_TO_END} | {n: u for n, u, _ in PER_LAYER}

def valid_name(name):
    return len(name) <= 64 and NAME.fullmatch(name) is not None and \
        name[0].isalnum()


def highest_percentile(n, min_tail=MIN_TAIL_SAMPLES):
    """The highest percentile (>= 50) with at least `min_tail` of `n`
    samples above it, or None when even the median has fewer."""
    if n < 2 * min_tail:
        return None
    return 100 * (n - min_tail) // n


def percentile(values, pct):
    s = sorted(values)
    k = (len(s) - 1) * pct / 100.0
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values):
    """Latency at the highest supported percentile; the median when there
    are too few samples for any percentile past it."""
    if not values:
        return 0.0
    pct = highest_percentile(len(values))
    return percentile(values, pct if pct is not None else 50)


class Part:
    """One part's timed operations, and the listener's (span, module) rows
    of a traced run."""

    def __init__(self, result, name):
        self.ops = [o for o in result["ops"] if o["part"] == name]
        loop = [o for o in self.ops if o["loop"]]
        warm = loop[1:] if len(loop) > 1 else loop
        self.loop = [o for o in warm if o["ok"]]
        self.traced = [o for o in warm if o["traced"] and o["ok"]]
        self.untraced = [o for o in warm if not o["traced"] and o["ok"]]
        self.one_off = {o["op"]: o["s"] for o in self.ops if not o["loop"]}
        self.acc = result["acc"]
        self.spans = result["spans"]
        self.n = max(1, len(self.traced))

    def work(self):
        """Median warm iteration plus the one-off operations."""
        lat = [o["s"] for o in self.loop]
        return (statistics.median(lat) if lat else 0.0) + sum(self.one_off.values())

    def overhead(self):
        if not (self.traced and self.untraced):
            return None
        return (statistics.median(o["s"] for o in self.traced) /
                statistics.median(o["s"] for o in self.untraced) - 1)

    def traced_wall(self):
        return sum(o["s"] for o in self.traced)

    def sum(self, field, spans=None, module=None):
        return sum(a[field] for a in self.acc
                   if (spans is None or a["span"] in spans)
                   and (module is None or a["module"] == module))

    def per(self, field, spans=None, module=None):
        return self.sum(field, spans, module) / self.n

    def wall(self, *spans):
        return sum(self.spans.get(s, {}).get("wall_s", 0.0) for s in spans) / self.n

    def cpu_util(self, spans, cores):
        wall = self.traced_wall()
        return self.sum("cpu_s", spans) / (wall * cores) if wall else 0.0


MEDALLION_SPANS = {"ingest", "silver_dims", "gold", "aml", "monitoring",
                   "maintenance"}
CDC_BATCH_SPANS = {"merge", "delete", "cdf", "incremental", "point_read"}


def medallion(m, result, cores, layer):
    layer["generator.busy_s"] += result["spans"].get("generate", {}).get("wall_s", 0.0)
    bronze = result["bronze_transactions_bytes"]
    silver = result.get("silver_transactions_bytes") or 1
    layer["ingest.busy_s"] = m.wall("ingest")
    layer["ingest.bronze_read_ratio"] = m.per("input_bytes", {"ingest"}) / bronze
    layer["dq.busy_s"] = m.per("job_s", MEDALLION_SPANS, "dq")
    layer["io.write_s"] = m.per("job_s", MEDALLION_SPANS, "io")
    layer["io.write_amp"] = m.per("output_bytes", {"ingest"}) / bronze
    layer["gold.busy_s"] = m.wall("gold", "aml")
    layer["gold.silver_read_ratio"] = m.per("input_bytes", {"gold", "aml"}) / silver
    layer["gold.shuffle_write_bytes"] = m.per("shuffle_write_bytes", {"gold", "aml"})
    layer["gold.aml_s"] = m.wall("aml")
    layer["monitoring.busy_s"] = m.wall("monitoring")
    layer["maintenance.busy_s"] = m.wall("maintenance")
    layer["maintenance.bytes_rewritten"] = m.per("output_bytes", {"maintenance"})
    layer["medallion.cpu_util"] = m.cpu_util(MEDALLION_SPANS, cores)
    layer["medallion.spill_bytes"] = m.per("spill_bytes", MEDALLION_SPANS)


def cdc_merge(c, result, layer):
    layer["generator.busy_s"] += result["spans"].get("cdc_generate", {}).get("wall_s", 0.0)
    latencies = [o["s"] for o in c.loop]
    rows_per_batch = sum(o["rows"] for o in c.loop) / max(1, len(c.loop))
    rewritten = result.get("merge_files_rewritten", [])
    layer["versioned.merge_s"] = c.wall("merge")
    if rewritten:
        layer["versioned.merge_files_rewritten"] = sum(rewritten) / len(rewritten)
    if rows_per_batch:
        layer["versioned.merge_bytes_per_change_row"] = (
            c.per("output_bytes", {"merge", "delete"}) / rows_per_batch)
    layer["versioned.cdf_s"] = c.wall("cdf")
    layer["gold.incremental_s"] = c.wall("incremental")
    layer["versioned.point_read_s"] = c.wall("point_read")
    files = result.get("point_files_read", [])
    if files and result.get("live_files"):
        layer["versioned.point_files_read_frac"] = (
            sum(files) / len(files) / result["live_files"])
    layer["versioned.jobs_per_batch"] = c.per("jobs", CDC_BATCH_SPANS)
    layer["versioned.sched_wait_s"] = c.per("sched_s", CDC_BATCH_SPANS)
    layer["cdc.batch_tail_s"] = tail(latencies)
    layer["versioned.compact_s"] = c.one_off.get("compact", 0.0)
    layer["versioned.compact_bytes_rewritten"] = result.get("compact_bytes_rewritten", 0)
    layer["versioned.vacuum_s"] = c.one_off.get("vacuum", 0.0)
    layer["versioned.commit_conflicts"] = sum(
        1 for e in result.get("errors", []) if "ConcurrentWriteException" in e)
    busy = sum(o["s"] for o in c.ops)
    if busy:
        layer["cdc.change_rows_per_s"] = result.get("change_rows", 0) / busy


def corpus_curate(c, cores, layer):
    curate = {"curate"}
    layer["text.busy_s"] = c.per("job_s", curate, "ext.TextPipeline")
    layer["dedup.busy_s"] = c.per("job_s", curate, "ext.Dedup")
    layer["dedup.jobs"] = c.per("jobs", curate, "ext.Dedup")
    layer["dedup.shuffle_write_bytes"] = c.per("shuffle_write_bytes", curate, "ext.Dedup")
    layer["dedup.max_task_skew"] = max(
        [a["max_skew"] for a in c.acc if a["module"] == "ext.Dedup"] or [0.0])
    layer["corpus.cpu_util"] = c.cpu_util({"curate", "write"}, cores)
    layer["corpus.gc_s"] = c.per("gc_s", {"curate", "write"})


def vector_search(v, cores, layer):
    train = v.one_off.get("train", 0.0)
    layer["vector.build_s"] = train
    # train runs once and is always traced: per call, not per iteration
    tr = {"ivf.train"}
    layer["ivf.train_jobs"] = v.sum("jobs", tr)
    layer["ivf.train_shuffle_write_bytes"] = v.sum("shuffle_write_bytes", tr)
    layer["ivf.train_sched_wait_s"] = v.sum("sched_s", tr)
    if train:
        layer["ivf.train_cpu_util"] = v.sum("cpu_s", tr) / (train * cores)
    tk = {"ivf.topk"}
    layer["ivf.topk_tasks"] = v.per("tasks", tk)
    layer["ivf.topk_task_cpu_s"] = v.per("cpu_s", tk)
    layer["ivf.topk_shuffle_write_bytes"] = v.per("shuffle_write_bytes", tk)
    layer["vector.query_tail_s"] = tail([o["s"] for o in v.loop])


def compute(parts, result, cores, plan_s, quality):
    """Every metric this run can state, by name. A per-layer metric of a
    module the workload does not run reads 0."""
    by = {name: Part(result, name) for name in parts}
    v = {"setup_s": plan_s + result["session_s"] +
         statistics.median(result["setup_prep_s"]),
         "work_s": sum(p.work() for p in by.values())}
    layer = {n: 0.0 for n, _, _ in PER_LAYER}
    layer["peak_rss_mb"] = result["peak_rss_mb"]
    overheads = [x for x in (p.overhead() for p in by.values()) if x is not None]
    if overheads:
        layer["trace_overhead_frac"] = statistics.mean(overheads)
    traced_wall = sum(p.traced_wall() + sum(p.one_off.values()) for p in by.values())
    if traced_wall:
        unattributed = sum(a["job_s"] for a in result["acc"]
                           if a["span"] == "unattributed")
        layer["unattributed_frac"] = unattributed / traced_wall
    if "medallion" in by:
        medallion(by["medallion"], result, cores, layer)
    if "cdc_merge" in by:
        cdc_merge(by["cdc_merge"], result, layer)
    if "corpus_curate" in by:
        corpus_curate(by["corpus_curate"], cores, layer)
    if "vector_search" in by:
        vector_search(by["vector_search"], cores, layer)
    layer.update(quality)
    v.update(layer)
    return v


def info(parts, result, values):
    """The figures of each part under their own names (printed on the host
    line, in untraced and traced runs alike)."""
    out = {}
    for name in parts:
        p = Part(result, name)
        lat = [o["s"] for o in p.loop]
        p50 = statistics.median(lat) if lat else 0.0
        out[f"{name}.samples"] = len(lat)
        if name == "medallion":
            out["medallion.pipeline_s"] = p50
        elif name == "cdc_merge":
            out["cdc.batch_p50_s"] = p50
            out["cdc.change_rows_per_s"] = values["cdc.change_rows_per_s"]
        elif name == "corpus_curate":
            out["corpus.docs_per_s"] = p.loop[0]["rows"] / p50 if lat else 0.0
            out["corpus.dup_recall"] = values["corpus.dup_recall"]
        else:
            out["vector.build_s"] = values["vector.build_s"]
            out["vector.query_p50_s"] = p50
            out["vector.recall_at_10"] = values["vector.recall_at_10"]
    ops = result["ops"]
    out["failed_frac"] = sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 1.0
    return out


def select(values, trace):
    names = [n for n, _, _ in PER_LAYER] if trace else [n for n, _ in END_TO_END]
    return {n: {"value": values.get(n, 0.0), "unit": UNITS[n]} for n in names}
