#!/usr/bin/env python3
"""Arithmetic of the graft benchmark, and the trace summarizer.

run.py imports the functions; run as a script, it prints the per-layer
table of a traced run's result file:

    python3 perfbench/summarize.py perfbench/.work/<workload>/result.json

A result file holds the spans the benchmark recorded around its calls into
graft's layers ([id, parent, name, op, start_us, end_us]; op -1 is set-up)
and, per span, the Spark task metrics of the jobs that span launched.
"""
import json
import math
import sys

# Spark task metrics per span, in the order the JVM writes them.
ENGINE_FIELDS = ["jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                 "input_bytes", "input_records", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "output_bytes",
                 "scheduler_delay_ms"]

FAMILIES = ["q", "gr", "pl", "dd", "rt", "tx", "ann", "mm"]

# Per-layer metrics that only the chain_query workload moves.
CHAIN_ONLY = {"core.iterate.s", "core.read.files_planned", "core.read.skipped_ratio",
              "core.read.exchanges", "ops.checksum.s", "ops.csvexport.s",
              "ops.csvexport.output_bytes"}


def percentile(values, q):
    """Nearest-rank percentile q (0 < q <= 100) of `values`.

    Returns (value, n, beyond): the smallest sample with at least q % of
    the samples at or below it, the sample count, and how many samples lie
    above that rank — so a p90 can say whether ten samples back it.
    """
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs), len(xs) - rank


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are (id, parent, name, op, start, end)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - union_length(children.get(s[0], []), s[4], s[5])
            for s in spans}


def _engine(result):
    return {int(k): dict(zip(ENGINE_FIELDS, v)) for k, v in result["engine"].items()}


def span_table(result):
    """Per span name, over the timed phase: calls, total and self seconds,
    the counters, and the Spark metrics of the jobs the spans launched."""
    spans = [s for s in result["spans"] if s[3] >= 0]
    selfs = self_times(spans)
    engine = _engine(result)
    counters = {}
    for span, name, value in result["counters"]:
        counters.setdefault(span, {}).setdefault(name, 0.0)
        counters[span][name] += value
    table = {}
    for s in spans:
        row = table.setdefault(s[2], {"calls": 0, "s": 0.0, "self_s": 0.0,
                                      "counters": {},
                                      "engine": dict.fromkeys(ENGINE_FIELDS, 0)})
        row["calls"] += 1
        row["s"] += (s[5] - s[4]) / 1e6
        row["self_s"] += selfs[s[0]] / 1e6
        for k, v in counters.get(s[0], {}).items():
            row["counters"][k] = row["counters"].get(k, 0.0) + v
        for k, v in engine.get(s[0], {}).items():
            row["engine"][k] += v
    return table


def per_layer(result):
    """The per-layer metrics of one traced run: {name: (value, unit)}."""
    table = span_table(result)
    empty = {"calls": 0, "s": 0.0, "self_s": 0.0, "counters": {},
             "engine": dict.fromkeys(ENGINE_FIELDS, 0)}

    def row(name):
        return table.get(name, empty)

    def counter(name):
        return sum(r["counters"].get(name, 0.0) for r in table.values())

    m = {}
    w = row("core.write")
    m["core.write.calls"] = (w["calls"], "count")
    m["core.write.s"] = (w["s"], "s")
    m["core.write.spark_jobs"] = (w["engine"]["jobs"], "count")
    m["core.write.input_bytes"] = (w["engine"]["input_bytes"], "bytes")
    m["core.write.output_bytes"] = (w["engine"]["output_bytes"], "bytes")
    m["core.write.files"] = (w["counters"].get("files", 0.0), "count")
    m["core.iterate.s"] = (row("core.iterate")["s"], "s")
    m["core.read.s"] = (row("core.read")["s"], "s")
    m["core.read.files_planned"] = (counter("files_planned"), "count")
    total = counter("snapshots_total")
    m["core.read.skipped_ratio"] = (
        1.0 - counter("snapshots_read") / total if total else 0.0, "ratio")
    m["core.read.exchanges"] = (counter("exchanges"), "count")

    b = row("jobs.build")
    linked = b["counters"].get("linked", 0.0)
    m["jobs.open.s"] = (row("jobs.open")["s"], "s")
    m["jobs.build.calls"] = (b["calls"], "count")
    m["jobs.build.linked"] = (linked, "count")
    m["jobs.build.self_s"] = (b["self_s"], "s")
    m["jobs.link_ratio"] = (linked / b["calls"] if b["calls"] else 0.0, "ratio")
    m["jobs.urd.open_s"] = (row("jobs.urd.open")["s"], "s")
    m["jobs.urd.add_s"] = (row("jobs.urd.add")["s"], "s")

    imp = row("ops.csvimport")
    m["ops.csvimport.s"] = (imp["s"], "s")
    m["ops.csvimport.spark_jobs"] = (imp["engine"]["jobs"], "count")
    m["ops.dataset_type.s"] = (row("ops.dataset_type")["s"], "s")
    m["ops.hashpart.s"] = (row("ops.hashpart")["s"], "s")
    m["ops.checksum.s"] = (row("ops.checksum")["s"], "s")
    exp = row("ops.csvexport")
    m["ops.csvexport.s"] = (exp["s"], "s")
    m["ops.csvexport.output_bytes"] = (exp["counters"].get("output_bytes", 0.0), "bytes")

    eng = dict.fromkeys(ENGINE_FIELDS, 0)
    for r in table.values():
        for k in ENGINE_FIELDS:
            eng[k] += r["engine"][k]
    timed_s = result["timed_s"]
    run_s = eng["run_ms"] / 1e3
    m["spark.jobs"] = (eng["jobs"], "count")
    m["spark.stages"] = (eng["stages"], "count")
    m["spark.tasks"] = (eng["tasks"], "count")
    m["spark.executor_run_s"] = (run_s, "s")
    m["spark.executor_cpu_s"] = (eng["cpu_ns"] / 1e9, "s")
    m["spark.jvm_gc_s"] = (eng["gc_ms"] / 1e3, "s")
    for k in ["input_bytes", "input_records", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "output_bytes"]:
        m["spark." + k] = (eng[k], "count" if k == "input_records" else "bytes")
    m["spark.scheduler_delay_s"] = (eng["scheduler_delay_ms"] / 1e3, "s")
    busy_ms = union_length(result["job_intervals_ms"],
                           result["timed_start_ms"], result["timed_end_ms"])
    m["spark.no_job_s"] = (max(0.0, timed_s - busy_ms / 1e3), "s")
    m["spark.core_utilization"] = (run_s / (timed_s * result["cpus"]), "ratio")
    m["driver.gc_s"] = (result["driver_gc_s"], "s")

    for fam in FAMILIES:
        r = row("queries." + fam)
        m[f"queries.{fam}.s"] = (r["s"], "s")
        m[f"queries.{fam}.executor_cpu_s"] = (r["engine"]["cpu_ns"] / 1e9, "s")
        m[f"queries.{fam}.shuffle_write_bytes"] = (r["engine"]["shuffle_write_bytes"], "bytes")

    # time in the tracer and the listener, against the timed wall; the
    # traced-versus-untraced end-to-end comparison is two runs' business
    m["trace.overhead_s"] = (result["trace_overhead_s"], "s")
    m["trace.overhead_ratio"] = (result["trace_overhead_s"] / timed_s, "ratio")
    return m


def main(argv):
    result = json.load(open(argv[1]))
    for name, row in sorted(span_table(result).items()):
        e = row["engine"]
        print(f"{name:24s} calls {row['calls']:5d}  total {row['s']:8.3f} s  "
              f"self {row['self_s']:8.3f} s  jobs {e['jobs']:5d}  "
              f"cpu {e['cpu_ns'] / 1e9:7.3f} s  shuffle_w {e['shuffle_write_bytes']}")
    for name, (value, unit) in per_layer(result).items():
        print(f"{name:40s} {value:.6g} {unit}")


if __name__ == "__main__":
    main(sys.argv)
