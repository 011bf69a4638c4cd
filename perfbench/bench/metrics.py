"""Metric catalog and the derivation of every metric from a run's raw record.

The raw record is what the JVM side writes: samples (lists of floats by
name), counters, and, in a traced run, the span/job/stage dump. End-to-end
metrics come from untraced runs, per-layer metrics from the traced run.
Every metric is reported on every workload; a layer a workload does not
exercise reports 0.
"""
from . import stats

# name -> (unit, better). The timings are wall time, what a user of the
# local[nproc] job waits for. CPU-time figures and the host's CPU steal
# over the run are per-layer diagnostics.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "read_ms_p50": ("ms", "lower"),
}

# name -> (unit, better, moves: end-to-end metric and workload it should move)
PER_LAYER = {
    "operators.Pipeline.run_s_p50": ("s", "lower", "items_per_s on reference_cycle"),
    "sources.Listing.plan_ms": ("ms", "lower", "items_per_s on reference_cycle"),
    "sources.Listing.kept_frac": ("ratio", "higher", "items_per_s on reference_cycle"),
    "sources.ZipSource.opens_per_archive": ("ratio", "lower", "items_per_s on reference_cycle"),
    "sources.ZipSource.archives_planned": ("count", "lower", "base of opens_per_archive"),
    "sources.ZipSource.task_skew": ("ratio", "lower", "items_per_s on reference_cycle"),
    "sources.RawTable.load_s": ("s", "lower", "items_per_s on reference_cycle"),
    "sources.RawTable.rows_per_busy_s": ("rows/s", "higher", "items_per_s on reference_cycle"),
    "sources.RawTable.cores_busy_frac": ("ratio", "higher", "items_per_s on reference_cycle"),
    "operators.Pipeline.construct_s": ("s", "lower", "items_per_s on reference_cycle"),
    "operators.Pipeline.construct_jobs": ("count", "lower", "items_per_s on reference_cycle"),
    "operators.Components.merge_s": ("s", "lower", "items_per_s on reference_cycle"),
    "operators.Components.dedup_ratio": ("ratio", "lower", "items_per_s on reference_cycle"),
    "operators.Components.shuffle_write_mb": ("MB", "lower", "items_per_s on reference_cycle"),
    "operators.Components.spill_mb": ("MB", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.upsert_s_p50": ("s", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.rewrite_frac": ("ratio", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.bytes_written_mb": ("MB", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.write_amp": ("ratio", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.upsert_jobs": ("count", "lower", "items_per_s on reference_cycle"),
    "core.SnapshotTable.files_total": ("count", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotFileIndex.files_read_per_lookup": ("count", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotTable.lookup_table_ms": ("ms", "lower", "read_ms_p50 on reference_cycle"),
    "catalyst.lookup_plan_ms": ("ms", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotTable.lookup_exec_ms": ("ms", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotTable.lookup_ms_p50": ("ms", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotTable.lookup_ms_tail": ("ms", "lower", "read_ms_p50 on reference_cycle"),
    "core.SnapshotTable.lookup_tail_pct": ("percentile", "higher", "which percentile lookup_ms_tail is"),
    "core.SnapshotTable.lookups": ("count", "higher", "sample count of the lookup figures"),
    "core.Par.input_slices": ("count", "higher", "items_per_s on corpus_curation"),
    "core.Par.parallelism": ("count", "higher", "items_per_s on corpus_curation"),
    "functions.TextAnalysis.gates_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Curation.construct_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Dedup.minhash_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Dedup.pairs": ("count", "lower", "items_per_s on corpus_curation"),
    "operators.Dedup.clusters_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Dedup.cluster_jobs": ("count", "lower", "items_per_s on corpus_curation"),
    "operators.Bpe.train_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Bpe.train_jobs": ("count", "lower", "items_per_s on corpus_curation"),
    "operators.Bpe.encode_s": ("s", "lower", "items_per_s on corpus_curation"),
    "operators.Bpe.tokens": ("count", "higher", "items_per_s on corpus_curation"),
    "operators.Bpe.encode_tokens_per_s": ("tokens/s", "higher", "items_per_s on corpus_curation"),
    "spark.executor_cpu_s_per_op": ("s", "lower", "items_per_s on every workload"),
    "spark.gc_s_per_op": ("s", "lower", "items_per_s on every workload"),
    "spark.spill_mb_per_op": ("MB", "lower", "items_per_s on every workload"),
    "spark.shuffle_write_mb_per_op": ("MB", "lower", "items_per_s on every workload"),
    "spark.cores_busy_frac": ("ratio", "higher", "items_per_s on every workload"),
    "spark.jobs_per_op": ("count", "lower", "items_per_s on every workload"),
    "client.items_per_cpu_s": ("1/s", "higher", "items_per_s on every workload"),
    "client.read_cpu_ms_p50": ("ms", "lower", "read_ms_p50 on every workload"),
    "host.cpu_steal_frac": ("ratio", "lower", "none: CPU time the host gave to other guests"),
    "core.Checkpoints.live_rdds": ("count", "lower", "items_per_s on every workload"),
    "jvm.peak_heap_mb": ("MB", "lower", "setup_s and items_per_s on every workload"),
    "core.Session.warmup_s": ("s", "lower", "setup_s on every workload"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced op time"),
    "failed_ops_frac": ("ratio", "lower", "none: failed over attempted operations"),
}

MB = 1048576.0


def _med(samples, name, default=0.0):
    xs = samples.get(name) or []
    return stats.median(xs) if xs else default


def end_to_end(raw):
    """The end-to-end metrics whose samples exist: a metric whose every
    operation failed has no sample, and is left out."""
    s = raw["samples"]
    sources = {"setup_s": "setup_s", "items_per_s": "items_per_s",
               "read_ms_p50": "read_ms"}
    return {m: stats.median(s[k]) for m, k in sources.items() if s.get(k)}


class _Trace:
    """Index over a traced run's spans, jobs and stages."""

    def __init__(self, dump):
        self.spans = dump.get("spans", [])
        self.stages = dump.get("stages", [])
        self.jobs = dump.get("jobs", [])
        self.scan_files = dump.get("snapshot_scan_files", [])

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def under(self, span):
        return stats.descendants(self.spans, [span["id"]])

    def stages_under(self, span):
        ids = self.under(span)
        return [st for st in self.stages if st["span"] in ids]

    def jobs_under(self, span):
        ids = self.under(span)
        return sum(1 for j in self.jobs if j["span"] in ids)

    @staticmethod
    def wall_s(span):
        return (span["end_ns"] - span["start_ns"]) / 1e9


def _per_span(tr, name, f):
    """Median over the spans named `name` of f(span); 0 when none ran."""
    xs = [f(s) for s in tr.named(name)]
    return stats.median(xs) if xs else 0.0


def per_layer(raw, cores, steal=None):
    s = raw["samples"]
    tr = _Trace(raw.get("trace_dump", {}))
    out = dict.fromkeys(PER_LAYER, 0.0)

    out["operators.Pipeline.run_s_p50"] = _med(s, "pipeline_run_s")

    # sources
    out["sources.Listing.plan_ms"] = _med(s, "listing_plan_ms")
    if s.get("listing_listed"):
        out["sources.Listing.kept_frac"] = sum(s["listing_planned"]) / sum(s["listing_listed"])
    if s.get("zip_opens") and s.get("archives_planned"):
        archives = int(s["archives_planned"][0])
        out["sources.ZipSource.archives_planned"] = archives
        out["sources.ZipSource.opens_per_archive"] = stats.opens_per_archive(s["zip_opens"], archives)
    out["sources.RawTable.load_s"] = _med(s, "rawtable_load_s")
    rows = _med(s, "rawtable_rows")

    def busy_s(span):
        return sum(sum(st["task_ms"]) for st in tr.stages_under(span)) / 1e3

    out["sources.RawTable.rows_per_busy_s"] = _per_span(
        tr, "sources.RawTable.load", lambda sp: rows / busy_s(sp) if busy_s(sp) else 0.0)
    out["sources.RawTable.cores_busy_frac"] = _per_span(
        tr, "sources.RawTable.load", lambda sp: busy_s(sp) / (tr.wall_s(sp) * cores))

    def skew(load_span):
        # one decode task per archive: the longest task under each file's load
        per_file = [max((max(st["task_ms"]) for st in tr.stages_under(c) if st["task_ms"]), default=0)
                    for c in tr.spans if c["parent"] == load_span["id"]]
        per_file = [x for x in per_file if x > 0]
        return max(per_file) / stats.median(per_file) if per_file else 0.0

    out["sources.ZipSource.task_skew"] = _per_span(tr, "sources.RawTable.load", skew)

    # operators: pipeline and components
    out["operators.Pipeline.construct_s"] = _med(s, "pipeline_construct_s")
    out["operators.Pipeline.construct_jobs"] = _per_span(tr, "operators.Pipeline.construct", tr.jobs_under)
    out["operators.Components.merge_s"] = _med(s, "components_merge_s")
    if s.get("components_rows_in"):
        out["operators.Components.dedup_ratio"] = sum(s["components_rows_out"]) / sum(s["components_rows_in"])
    out["operators.Components.shuffle_write_mb"] = _per_span(
        tr, "operators.Components.merge",
        lambda sp: sum(st["shuffle_write_bytes"] for st in tr.stages_under(sp)) / MB)
    out["operators.Components.spill_mb"] = _per_span(
        tr, "operators.Components.merge",
        lambda sp: sum(st["spill_bytes"] for st in tr.stages_under(sp)) / MB)

    # core: snapshot table
    if s.get("upsert_rewritten"):
        rw, kept = sum(s["upsert_rewritten"]), sum(s["upsert_kept"])
        out["core.SnapshotTable.rewrite_frac"] = rw / (rw + kept) if rw + kept else 0.0
        out["core.SnapshotTable.bytes_written_mb"] = _med(s, "upsert_bytes_written") / MB
        out["core.SnapshotTable.write_amp"] = stats.write_amp(s["upsert_bytes_written"], s["upsert_raw_bytes"])
        out["core.SnapshotTable.upsert_s_p50"] = _med(s, "upsert_s")
        out["core.SnapshotTable.lookup_ms_p50"] = _med(s, "read_ms")
        tail = stats.tail_percentile(s["read_ms"])
        if tail:
            out["core.SnapshotTable.lookup_tail_pct"], out["core.SnapshotTable.lookup_ms_tail"] = tail
        out["core.SnapshotTable.lookups"] = len(s["read_ms"])
    out["core.SnapshotTable.upsert_jobs"] = _per_span(tr, "core.SnapshotTable.upsertTargeted", tr.jobs_under)
    out["core.SnapshotTable.files_total"] = raw["counters"].get("files_total", 0.0)
    if tr.scan_files:
        out["core.SnapshotFileIndex.files_read_per_lookup"] = sum(tr.scan_files) / len(tr.scan_files)
    out["core.SnapshotTable.lookup_table_ms"] = _med(s, "lookup_table_ms")
    out["catalyst.lookup_plan_ms"] = _med(s, "lookup_plan_ms")
    out["core.SnapshotTable.lookup_exec_ms"] = _med(s, "lookup_exec_ms")

    # curation
    out["core.Par.input_slices"] = _med(s, "par_input_slices")
    out["core.Par.parallelism"] = _med(s, "par_parallelism")
    out["functions.TextAnalysis.gates_s"] = _per_span(tr, "functions.TextAnalysis.gates", tr.wall_s)
    out["operators.Curation.construct_s"] = _per_span(tr, "operators.Curation.run", tr.wall_s)
    out["operators.Dedup.minhash_s"] = _per_span(tr, "operators.Dedup.minhashDedup", tr.wall_s)
    out["operators.Dedup.pairs"] = _med(s, "dedup_pairs")
    out["operators.Dedup.clusters_s"] = _per_span(tr, "operators.Dedup.duplicateClusters", tr.wall_s)
    out["operators.Dedup.cluster_jobs"] = _per_span(tr, "operators.Dedup.duplicateClusters", tr.jobs_under)
    out["operators.Bpe.train_s"] = _per_span(tr, "operators.Bpe.trainAndVocab", tr.wall_s)
    out["operators.Bpe.train_jobs"] = _per_span(tr, "operators.Bpe.trainAndVocab", tr.jobs_under)
    out["operators.Bpe.encode_s"] = _per_span(tr, "operators.Bpe.encodeWords", tr.wall_s)
    out["operators.Bpe.tokens"] = _med(s, "bpe_tokens")
    bpe_s = out["operators.Bpe.train_s"] + out["operators.Bpe.encode_s"]
    if bpe_s:
        out["operators.Bpe.encode_tokens_per_s"] = out["operators.Bpe.tokens"] / bpe_s

    # the whole traced op, per workload
    ops = tr.named("op")
    if ops:
        per_op = [tr.stages_under(o) for o in ops]
        out["spark.executor_cpu_s_per_op"] = stats.median([sum(st["cpu_ns"] for st in x) / 1e9 for x in per_op])
        out["spark.gc_s_per_op"] = stats.median([sum(st["gc_ms"] for st in x) / 1e3 for x in per_op])
        out["spark.spill_mb_per_op"] = stats.median([sum(st["spill_bytes"] for st in x) / MB for x in per_op])
        out["spark.shuffle_write_mb_per_op"] = stats.median(
            [sum(st["shuffle_write_bytes"] for st in x) / MB for x in per_op])
        out["spark.cores_busy_frac"] = stats.median(
            [sum(sum(st["task_ms"]) for st in x) / 1e3 / (tr.wall_s(o) * cores) for o, x in zip(ops, per_op)])
        out["spark.jobs_per_op"] = stats.median([tr.jobs_under(o) for o in ops])
    out["client.items_per_cpu_s"] = _med(s, "items_per_cpu_s")
    out["client.read_cpu_ms_p50"] = _med(s, "read_cpu_ms")
    if steal is not None:
        out["host.cpu_steal_frac"] = steal
    out["core.Checkpoints.live_rdds"] = max(s.get("live_rdds") or [0.0])
    out["jvm.peak_heap_mb"] = raw.get("peak_heap_mb", 0.0)
    out["core.Session.warmup_s"] = _med(s, "warmup_s")
    overhead = stats.tracing_overhead(s.get("op_traced_s") or [], s.get("op_s") or [])
    if overhead is not None:
        out["trace.overhead_s"] = overhead
    out["failed_ops_frac"] = stats.failed_frac(raw["attempted"], raw["failed"])
    return out


def timings(raw):
    """Median, tail percentile and sample count of the timed calls and
    reads."""
    s = raw["samples"]
    return {k: stats.summary(s[k]) for k in ("op_s", "read_ms") if s.get(k)}


def self_time_table(raw):
    """Total and self seconds per span name, largest self time first."""
    tr = _Trace(raw.get("trace_dump", {}))
    selfs = stats.self_times(tr.spans)
    table = {}
    for sp in tr.spans:
        t = table.setdefault(sp["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        t["n"] += 1
        t["total_s"] += tr.wall_s(sp)
        t["self_s"] += selfs[sp["id"]] / 1e9
    return dict(sorted(table.items(), key=lambda kv: -kv[1]["self_s"]))


def module_task_seconds(raw):
    """Executor task seconds per program module (first graft frame of
    each stage's call site)."""
    out = {}
    for st in raw.get("trace_dump", {}).get("stages", []):
        out[st["module"]] = out.get(st["module"], 0.0) + sum(st["task_ms"]) / 1e3
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
