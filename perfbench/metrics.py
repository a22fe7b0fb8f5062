"""Turns one run's raw record into the benchmark's metrics.

The JVM side (perfbench.Main) writes raw samples and counters; every
percentile and ratio is taken here, under one rule: a percentile is
reported only when at least ten samples lie beyond it.
"""
import hashlib
import math
import os
import statistics
import sys

# one canonicalization for the committed digests and for Spark's results:
# that of the repository's oracle check
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import canon  # noqa: E402

MIN_BEYOND = 10


def allowed(q, n):
    """True if percentile q (0..1) of n samples has >= 10 samples beyond it."""
    return n > 0 and n * (1.0 - q) >= MIN_BEYOND - 1e-9


def pct(samples, q):
    """Nearest-rank percentile q of samples, under the ten-beyond rule."""
    xs = sorted(samples)
    if not allowed(q, len(xs)):
        raise ValueError(f"p{q * 100:g} needs {math.ceil(MIN_BEYOND / (1 - q))} "
                         f"samples, have {len(xs)}")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def highest_allowed(n, levels=(0.5, 0.75, 0.9, 0.99, 0.999)):
    """The highest of `levels` the rule allows for n samples, or None."""
    ok = [q for q in levels if allowed(q, n)]
    return ok[-1] if ok else None


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- end-to-end -----------------------------------------------------------

READ_KINDS = ("history", "recent", "tail")

def end_to_end(workload, raw):
    """The gated metrics, with the same names on every workload.

    work_s        logdriver: full-response time of the 24 ReadLogs made
                  while ingest and follow run beside them, as the mean of
                  the medians of their three kinds (Since/Until over the
                  history, over the last minute, Tail). The kinds are
                  clusters apart, so a pooled median would fall in a gap
                  between two of them; queries: one pass over the
                  query list, each built and written to the noop sink, with
                  cold memos.
    live_heap_mb  heap occupancy right after a full GC at the end of the
                  timed phases.
    setup_s       median of the set-up rounds of one JVM.
    cold_start_s  JVM start to the end of the first set-up round: JVM boot,
                  class loading, session start, the first jobs and codegen.
    """
    rec = raw["record"]
    s, v = rec["samples"], rec["values"]
    if workload == "logdriver":
        work = statistics.mean(median(s[f"readlogs_{k}_s"]) for k in READ_KINDS)
    else:
        work = v["pass_s"]
    return {
        "setup_s": (median(s["setup_s"]), "s"),
        "cold_start_s": (v["cold_start_s"], "s"),
        "work_s": (work, "s"),
        "live_heap_mb": (max(s["live_heap_mb"]), "MB"),
    }


# ---- per-layer ------------------------------------------------------------

FAMILIES = ("dedup", "text", "vec", "rel", "ts", "prep", "log", "media",
            "curate", "scalar")


def _p(samples, q):
    """Per-layer percentile: level q when the sample count allows it, else
    the highest level it allows, else the median of what there is."""
    if not samples:
        return 0.0
    level = q if allowed(q, len(samples)) else highest_allowed(len(samples))
    return pct(samples, level) if level else median(samples)


def logdriver_layers(rec, progress):
    """Layers of the log-driver path, from a logdriver record."""
    s, v = rec["samples"], rec["values"]
    rl = s.get("readlogs_s", [])
    out = {
        "follow.lag_p50_s": (_p(s.get("follow_lag_s", []), 0.5), "s"),
        "follow.lag_p99_s": (_p(s.get("follow_lag_s", []), 0.99), "s"),
        "readlogs.range_p50_s": (_p(s.get("readlogs_range_s", []), 0.5), "s"),
        "readlogs.tail_p50_s": (_p(s.get("readlogs_tail_s", []), 0.5), "s"),
        "readlogs.p50_s": (_p(rl, 0.5), "s"),
        "backfill_lines_per_s": (v["backfill_lines"] / v["backfill_s"], "lines/s"),
        "stored_bytes_per_log_byte": (v["table.bytes"] / max(1, v["table.line_bytes"]), "ratio"),
        "gen.late_p99_s": (_p(s.get("gen_late_s", []), 0.99), "s"),
        "server.start_logging_s": (median(s.get("server.start_logging_s", [])), "s"),
        "server.readlogs_ttfb_s_p50": (_p(s.get("readlogs_ttfb_s", []), 0.5), "s"),
        "server.readlogs_body_s_p50": (_p(s.get("readlogs_body_s", []), 0.5), "s"),
        "server.frames_per_readlogs_p50": (_p(s.get("readlogs_frames", []), 0.5), "count"),
        "server.follow_burst_gap_s_p50": (_p(s.get("follow_burst_gap_s", []), 0.5), "s"),
        "server.follow_frames_per_burst_p50": (_p(s.get("follow_frames_per_burst", []), 0.5), "count"),
        "pump.bursts": (v["pump.bursts"], "count"),
        "pump.bytes_per_burst_p50": (_p(s.get("pump.burst_bytes", []), 0.5), "B"),
        "pump.stage_lag_s_p50": (_p(s.get("pump.stage_lag_s", []), 0.5), "s"),
        "pump.stage_lag_s_p99": (_p(s.get("pump.stage_lag_s", []), 0.99), "s"),
        "table.files": (v["table.files"], "count"),
        "table.files_per_partition_p50": (_p(s.get("table.files_per_partition", []), 0.5), "count"),
        "table.bytes": (v["table.bytes"], "B"),
        "ingest.skipped_frames": (v["ingest.skipped_frames"], "count"),
        "follow.frames_before_since": (v.get("follow.frames_before_since", 0), "count"),
    }
    out.update(_ingest(progress, v))
    out.update(_retention(s))
    out.update(_logops(rec))
    return out


def _ingest(progress, v):
    batches = [p for p in progress if p["lines"] > 0]
    trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in batches]
    def tot(k):
        return sum(p["duration_ms"].get(k, 0) for p in batches) / 1e3
    span = 0.0
    if progress:
        ts = [p["timestamp_ms"] / 1e3 for p in progress]
        span = max(ts) - min(ts)
    queries = len({p["query"] for p in progress}) or 1
    return {
        "ingest.batches": (len(batches), "count"),
        "ingest.lines": (sum(p["lines"] for p in batches), "count"),
        "ingest.batch_s_p50": (_p(trig, 0.5), "s"),
        "ingest.batch_s_p90": (_p(trig, 0.9), "s"),
        "ingest.discovery_s": (tot("latestOffset") + tot("getBatch"), "s"),
        "ingest.add_batch_s": (tot("addBatch"), "s"),
        "ingest.wal_s": (tot("walCommit") + tot("commitOffsets"), "s"),
        "ingest.busy_frac": (sum(p["duration_ms"].get("triggerExecution", 0) for p in progress)
                             / 1e3 / max(span * queries, 1e-9), "ratio"),
    }


def _retention(s):
    sweeps = s.get("retention.sweep_s", [])
    return {
        "retention.sweeps": (len(sweeps), "count"),
        "retention.sweep_s_p50": (median(sweeps), "s"),
        "retention.dropped": (sum(s.get("retention.dropped", [])), "count"),
        "retention.rewritten": (sum(s.get("retention.rewritten", [])), "count"),
        "retention.compact_s_p50": (median(s.get("retention.compact_s", [])), "s"),
        "retention.files_compacted": (sum(s.get("retention.files_compacted", [])), "count"),
        "retention.ingest_stall_s": (sum(sweeps) + sum(s.get("retention.compact_s", [])), "s"),
    }


def _logops(rec):
    s, v = rec["samples"], rec["values"]
    g = rec.get("groups", {}).get("logops", {})
    reads = max(1, v.get("logops.reads", 0))
    return {
        "logops.build_s_p50": (median(s.get("logops.build_s", [])), "s"),
        "logops.exec_s_p50": (median(s.get("logops.exec_s", [])), "s"),
        "logops.jobs_per_read": (g.get("jobs", 0) / reads, "count"),
        "scan.files_read_per_read": (g.get("files_read", 0) / reads, "count"),
        "scan.bytes_read_per_read": (g.get("bytes_read", 0) / reads, "B"),
        "scan.rows_read_per_row_returned": (
            g.get("rows_read", 0) / max(1, v.get("logops.rows_returned", 0)), "ratio"),
    }


def query_layers(rec, cores):
    """Layers of the analytics path, from a query-workload record."""
    v = rec["values"]
    groups = rec.get("groups", {})
    queries = v.get("queries", {})
    build = {k: 0 for k in ("jobs",)}
    ex = {k: 0.0 for k in ("jobs", "stages", "one_task_stages", "tasks", "task_s",
                            "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                            "spill_bytes", "exchanges", "files_read", "bytes_read",
                            "rows_read")}
    for name in queries:
        build["jobs"] += groups.get(f"{name}#build", {}).get("jobs", 0)
        for k in ex:
            ex[k] += groups.get(name, {}).get(k, 0)
    exec_s = sum(q["exec_s"] for q in queries.values())
    fam = {f: 0.0 for f in FAMILIES}
    for name, q in queries.items():
        f = name.split("_")[1]
        if f in fam:
            fam[f] += q["s"]
    layout = 0.0
    for outcome in v.get("layout.report", {}).values():
        head, _, secs = str(outcome).partition(":")
        if head == "built":
            try:
                layout += float(secs)
            except ValueError:
                pass
    mb = 1048576.0
    out = {
        "entry.build_s": (sum(q["build_s"] for q in queries.values()), "s"),
        "entry.build_jobs": (build["jobs"], "count"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (ex["jobs"], "count"),
        "exec.stages": (ex["stages"], "count"),
        "exec.tasks": (ex["tasks"], "count"),
        "exec.one_task_stage_frac": (ex["one_task_stages"] / max(1, ex["stages"]), "ratio"),
        "exec.task_s": (ex["task_s"], "s"),
        "exec.core_util": (ex["task_s"] / max(exec_s * cores, 1e-9), "ratio"),
        "exec.exchanges": (ex["exchanges"], "count"),
        "exec.shuffle_write_mb": (ex["shuffle_write_bytes"] / mb, "MB"),
        "exec.shuffle_read_mb": (ex["shuffle_read_bytes"] / mb, "MB"),
        "exec.spill_mb": (ex["spill_bytes"] / mb, "MB"),
        "exec.gc_s": (ex["gc_s"], "s"),
        "scan.files_read": (ex["files_read"], "count"),
        "scan.mb_read": (ex["bytes_read"] / mb, "MB"),
        "scan.rows_read": (ex["rows_read"], "count"),
        "memo.persisted_rdds": (v.get("memo.persisted_rdds", 0), "count"),
        "memo.storage_mb": (v.get("memo.storage_mb", 0.0), "MB"),
        "layout.build_s": (layout, "s"),
    }
    for f in FAMILIES:
        out[f"family.{f}.s"] = (fam[f], "s")
    return out


CODEC = ("deframe", "decode", "encode")
KERNELS = ("word_shingles", "minhash_sig", "simhash64", "cosine_sim", "sig_match_frac")


def common_layers(workload, raw):
    rec = raw["record"]
    v = rec["values"]
    out = {f"codec.{c}_ns_per_frame": (v[f"codec.{c}_ns_per_frame"], "ns") for c in CODEC}
    out.update({f"kernel.{k}_ns_per_row": (v[f"kernel.{k}_ns_per_row"], "ns") for k in KERNELS})
    # the traced run's own work_s: against the untraced median, the tracing overhead
    out["trace.work_s"] = (end_to_end(workload, raw)["work_s"][0], "s")
    out["jvm.codecache_mb"] = (v["jvm.codecache_mb"], "MB")
    out["host.spin_s"] = (max(v["host_start"]["spin_s"], v["host_end"]["spin_s"]), "s")
    out["host.bare_s"] = (max(v["host_start"]["bare_s"], v["host_end"]["bare_s"]), "s")
    out["failed_frac"] = (len(rec["failures"]) / max(1, rec["attempted"]), "ratio")
    return out


def per_layer(workload, raw, cores):
    """Every per-layer metric, whichever workload ran: the traced run's
    probe of the other kind supplies the layers the workload skips."""
    main, probe = raw["record"], raw["probe"]
    for r in (main, probe):
        r["groups"] = raw.get("groups", {})
    if workload == "logdriver":
        ld, q = main, probe
        ld_progress = raw.get("progress", [])
    else:
        ld, q = probe, main
        ld_progress = raw.get("progress", [])
    out = {}
    out.update(common_layers(workload, raw))
    out.update(logdriver_layers(ld, ld_progress))
    out.update(query_layers(q, cores))
    return out


# ---- query output checks -------------------------------------------------

def canon_type(t):
    """The column-type canonicalization nested in tools/check_oracle.py's
    main(), which cannot be imported from there."""
    t = str(t)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"):
        return "INT64"
    if t in ("FLOAT", "DOUBLE"):
        return "FLOAT64"
    return t


def digest(con, rel):
    """(row count, order-insensitive digest) of a DuckDB relation: columns
    in sorted-name order with their canonical types, rows sorted by all
    columns, each value canonicalized as check_oracle.py does."""
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, (canon_type(t) for t in rel.types)))
    collist = ", ".join(f'"{c}"' for c in cols)
    con.register("__digest_rel", rel)
    rows = con.sql(f"SELECT {collist} FROM __digest_rel ORDER BY ALL").fetchall()
    con.unregister("__digest_rel")
    h = hashlib.sha256()
    h.update(repr([(c, types[c]) for c in cols]).encode())
    for r in rows:
        h.update(repr(tuple(map(canon, r))).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()
