"""Turns the raw record of one benchmark run into named metrics.

The JVM side records operations, spans and Spark events; everything derived
from them (percentiles, layer attribution, self time) is computed here so it
can be tested without Spark.
"""

import math
import os
import re
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

# Operation kinds whose latency is an end-to-end metric, per workload.
OP_KINDS = {
    "maintain": ("maintain",),
    "upsert_read": ("merge_cow", "merge_mor", "lookup_live", "lookup_updated",
                    "lookup_deleted", "lookup_absent", "range_scan", "changelog"),
}

SPAN_MODULES = ("plans", "maintenance", "table", "streaming", "gen")
# Modules a Spark job's call site can name: the engine's, and the benchmark's
# own code for the jobs it launches itself.
JOB_MODULES = SPAN_MODULES + ("functions", "bench")

# Per-layer metrics: name -> unit. Every traced run reports all of them; a
# layer the workload does not exercise reads 0.
PER_LAYER = {
    "plans.optimize.steps_out": "count",
    "plans.run.wall_ms": "ms",
    "plans.catalyst_ms": "ms",
    "maintenance.cluster.job_ms": "ms",
    "maintenance.cluster.task_ms": "ms",
    "maintenance.cluster.cpu_util": "frac",
    "maintenance.cluster.shuffle_write_bytes": "bytes",
    "maintenance.cluster.shuffle_read_bytes": "bytes",
    "maintenance.cluster.spill_bytes": "bytes",
    "maintenance.cluster.fetch_wait_ms": "ms",
    "maintenance.merge.probe_job_ms": "ms",
    "maintenance.merge.files_rewritten": "count",
    "maintenance.merge.rewritten_bytes_per_batch_byte": "ratio",
    "maintenance.materialize.wall_ms": "ms",
    "maintenance.materialize.keys_retired": "count",
    "table.stage_write.job_ms": "ms",
    "table.stage_write.output_bytes": "bytes",
    "table.stage_write.files_written": "count",
    "table.commit.driver_ms": "ms",
    "table.commit.attempts": "count",
    "table.commit.conflicts": "count",
    "table.plan_files.wall_ms": "ms",
    "table.lookup.files_planned": "count",
    "table.lookup.files_per_row_returned": "ratio",
    "table.lookup.jobs": "count",
    "table.lookup.job_ms": "ms",
    "table.scan.files_planned_frac": "frac",
    "table.changelog.job_ms": "ms",
    "table.changelog.files_diffed": "count",
    "table.manifests_live": "count",
    "table.manifest_bytes": "bytes",
    "table.delete_files_pending": "count",
    "table.metadata_versions": "count",
    "table.expire.wall_ms": "ms",
    "table.remove_orphans.wall_ms": "ms",
    "table.remove_orphans.files_listed": "count",
    "table.live_files": "count",
    "table.live_bytes": "bytes",
    "streaming.trigger.wall_ms": "ms",
    "streaming.trigger.add_batch_ms": "ms",
    "streaming.trigger.overhead_ms": "ms",
    "streaming.trigger.jobs": "count",
    "streaming.is_empty.job_ms": "ms",
    "gen.create_table.wall_ms": "ms",
    "jvm.gc_ms": "ms",
    "trace.overhead_frac": "frac",
}
PER_LAYER.update({f"spans.{m}.self_ms": "ms" for m in SPAN_MODULES})
PER_LAYER.update({f"jobs.{m}.job_ms": "ms" for m in JOB_MODULES})

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
}


# ------------------------------------------------------------------ statistics

def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest of TAIL_PERCENTILES with at least TAIL_MIN_BEYOND samples
    above it, as (percentile, value, sample count); None when the sample is
    too small for any of them. Nearest-rank percentiles."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n
    return None


def geomean(values):
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ----------------------------------------------------------------------- spans

def self_times(spans):
    """Span id -> self time in ns: the span's duration minus the part of its
    interval that its child spans cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# --------------------------------------------------------- call-site attribution

def module_map(engine_root, bench_root):
    """Source file name -> module: the package directory under `graft/` for
    engine files (files directly in `graft/` map to `graft`), `bench` for the
    benchmark's own files."""
    out = {}
    for d, _, files in os.walk(bench_root):
        out.update({f: "bench" for f in files if f.endswith(".scala")})
    for d, _, files in os.walk(engine_root):
        rel = os.path.relpath(d, engine_root).split(os.sep)
        if "graft" not in rel:
            continue
        below = rel[rel.index("graft") + 1:]
        for f in files:
            if f.endswith(".scala"):
                out[f] = below[0] if below else "graft"
    return out


_SITE = re.compile(r"([A-Za-z0-9_$]+\.scala):\d+")


def module_of(call_site, modules):
    """The module of the first known frame of a call site: a Spark short form
    (`isEmpty at Incremental.scala:148`) or long-form frames, innermost
    first. A call site with no known frame maps to `spark`."""
    for f in _SITE.findall(call_site):
        if f in modules:
            return modules[f]
    return "spark"


# ---------------------------------------------------------------- per-run metrics

def _op_kind(op_id):
    return op_id.rsplit("-", 1)[0] if op_id else ""


def _by_op(records):
    out = {}
    for r in records:
        out.setdefault(r["op"], []).append(r)
    return out


def job_layers(job, func):
    """The layers that launched a job, outermost first. Direct calls carry
    the engine frames; the jobs of a streaming micro-batch all carry the
    query's start site, so there the action that ran (`isEmpty`, the merge
    probe's `collect`, a write command) names the layer."""
    frames = job["frames"]
    kind = _op_kind(job["op"])
    out = []
    if "Maintenance$.cluster(" in frames:
        out.append("maintenance.cluster")
    if "TokenTable.stageWrite(" in frames or "TokenTable.stageDeleteKeys(" in frames:
        out.append("table.stage_write")
    elif kind.startswith("merge_") and func == "command":
        out.append("table.stage_write")
    if func == "isEmpty":
        out.append("streaming.is_empty")
    if kind == "merge_cow" and func == "collect":
        out.append("maintenance.merge.probe")
    return out


def per_op_layers(raw, cores, modules):
    """Op id -> {metric: value} for the Spark-side layer metrics of each
    traced operation."""
    planned = {}
    for q in raw["queries"]:
        planned.setdefault(q["op"], []).append((q["planned_ms"], q["func"]))

    def action(job):
        """The action whose planning ended last before the job started."""
        before = [p for p in planned.get(job["op"], []) if p[0] <= job["start_ms"]]
        return max(before)[1] if before else ""

    stages = {}
    for s in raw["stages"]:
        stages[s["stage"]] = s  # the last attempt wins
    out = {}
    for op, jobs in _by_op(raw["jobs"]).items():
        if not op:
            continue
        m = out.setdefault(op, {})
        seen_stages = set()
        for j in jobs:
            layers = job_layers(j, action(j))
            ms = j["end_ms"] - j["start_ms"]
            st = [stages[i] for i in j["stages"] if i in stages and i not in seen_stages]
            seen_stages.update(j["stages"])
            m["jobs"] = m.get("jobs", 0) + 1
            m["job_ms"] = m.get("job_ms", 0) + ms
            mod = f"jobs.{module_of(j['frames'] or j['name'], modules)}.job_ms"
            m[mod] = m.get(mod, 0) + ms
            m["last_job_end_ms"] = max(m.get("last_job_end_ms", 0), j["end_ms"])
            if j.get("stream_batch"):
                m["stream_jobs"] = m.get("stream_jobs", 0) + 1
            for layer in layers:
                m[f"{layer}.job_ms"] = m.get(f"{layer}.job_ms", 0) + ms
                for key in ("run_ms", "cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                            "spill_bytes", "fetch_wait_ms", "output_bytes"):
                    m[f"{layer}.{key}"] = m.get(f"{layer}.{key}", 0) + sum(s[key] for s in st)
        cl = m.get("maintenance.cluster.job_ms", 0)
        if cl:
            m["maintenance.cluster.cpu_util"] = m["maintenance.cluster.cpu_ms"] / (cl * cores)
    for q in raw["queries"]:
        if q["op"]:
            m = out.setdefault(q["op"], {})
            p = q["phases"]
            m["catalyst_ms"] = m.get("catalyst_ms", 0) + sum(
                p.get(k, 0) for k in ("analysis", "optimization", "planning"))
    return out


def _med(ops, key, kinds=None):
    vals = [o[key] for o in ops if key in o and (kinds is None or o["kind"] in kinds)]
    return median(vals)


def layer_metrics(raw, cores, modules):
    ops = [o for o in raw["ops"] if o["kind"] != "check"]
    traced = [o for o in ops if o["traced"]]
    layers = per_op_layers(raw, cores, modules)
    totals = raw["totals"]
    spans = raw["spans"]

    def span_ms(name):
        return median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name])

    def layer(key, kinds=None):
        vals = [layers[o["id"]][key] for o in traced
                if o["id"] in layers and key in layers[o["id"]]
                and (kinds is None or o["kind"] in kinds)]
        return median(vals)

    out = {k: 0.0 for k in PER_LAYER}
    out["plans.optimize.steps_out"] = totals.get("steps_out", 0)
    out["plans.run.wall_ms"] = span_ms("plans.run")
    out["plans.catalyst_ms"] = median(
        [layers.get(o["id"], {}).get("catalyst_ms", 0) for o in traced if o["kind"] != "housekeeping"])
    for key, src in (("job_ms", "job_ms"), ("task_ms", "run_ms"),
                     ("shuffle_write_bytes", "shuffle_write_bytes"),
                     ("shuffle_read_bytes", "shuffle_read_bytes"),
                     ("spill_bytes", "spill_bytes"), ("fetch_wait_ms", "fetch_wait_ms"),
                     ("cpu_util", "cpu_util")):
        out[f"maintenance.cluster.{key}"] = layer(f"maintenance.cluster.{src}")
    out["maintenance.merge.probe_job_ms"] = layer("maintenance.merge.probe.job_ms", ("merge_cow",))
    cow = [o for o in ops if o["kind"] == "merge_cow"]
    out["maintenance.merge.files_rewritten"] = _med(cow, "files_rewritten")
    out["maintenance.merge.rewritten_bytes_per_batch_byte"] = median(
        [o["written_bytes"] / o["batch_user_bytes"] for o in cow if o.get("batch_user_bytes")])
    out["maintenance.materialize.wall_ms"] = span_ms("maintenance.materialize")
    out["maintenance.materialize.keys_retired"] = _med(ops, "keys_retired", ("housekeeping",))
    write_kinds = ("maintain", "merge_cow", "merge_mor")
    out["table.stage_write.job_ms"] = layer("table.stage_write.job_ms", write_kinds)
    out["table.stage_write.output_bytes"] = layer("table.stage_write.output_bytes", write_kinds)
    out["table.stage_write.files_written"] = _med(ops, "files_written", write_kinds)
    out["table.commit.driver_ms"] = median(
        [o["end_ms"] - layers[o["id"]]["last_job_end_ms"] for o in traced
         if o["kind"] in write_kinds and o["id"] in layers
         and layers[o["id"]].get("last_job_end_ms")])
    out["table.commit.attempts"] = _med(ops, "versions", write_kinds)
    out["table.commit.conflicts"] = sum(
        1 for f in raw["failures"] if "CommitConflictException" in f)
    out["table.plan_files.wall_ms"] = span_ms("table.plan_files")
    lookup_kinds = tuple(k for k in OP_KINDS["upsert_read"] if k.startswith("lookup"))
    lookups = [o for o in traced if o["kind"] in lookup_kinds]
    out["table.lookup.files_planned"] = _med(lookups, "files_planned")
    rows = sum(o.get("rows", 0) for o in lookups)
    out["table.lookup.files_per_row_returned"] = (
        sum(o.get("files_planned", 0) for o in lookups) / rows if rows else 0.0)
    out["table.lookup.jobs"] = layer("jobs", lookup_kinds)
    out["table.lookup.job_ms"] = layer("job_ms", lookup_kinds)
    live = totals.get("read_live_files", 0)
    scans = [o for o in traced if o["kind"] == "range_scan"]
    out["table.scan.files_planned_frac"] = (
        median([o["files_planned"] / live for o in scans]) if live else 0.0)
    out["table.changelog.job_ms"] = layer("job_ms", ("changelog",))
    out["table.changelog.files_diffed"] = _med(
        [o for o in traced if o["kind"] == "changelog"], "files_diffed")
    # the table shape the reads saw (upsert_read), else the final one
    for key in ("manifests_live", "manifest_bytes", "delete_files_pending",
                "metadata_versions"):
        out[f"table.{key}"] = totals.get(f"read_{key}", totals.get(key, 0))
    for key in ("live_files", "live_bytes"):
        out[f"table.{key}"] = totals.get(key, 0)
    out["table.expire.wall_ms"] = span_ms("table.expire")
    out["table.remove_orphans.wall_ms"] = span_ms("table.remove_orphans")
    out["table.remove_orphans.files_listed"] = totals.get("files_listed", 0)
    trig = raw["triggers"]
    te = [t["durations"].get("triggerExecution", 0) for t in trig]
    ab = [t["durations"].get("addBatch", 0) for t in trig]
    out["streaming.trigger.wall_ms"] = median(te)
    out["streaming.trigger.add_batch_ms"] = median(ab)
    out["streaming.trigger.overhead_ms"] = median([a - b for a, b in zip(te, ab)])
    out["streaming.trigger.jobs"] = layer("stream_jobs", ("merge_cow", "merge_mor"))
    out["streaming.is_empty.job_ms"] = layer("streaming.is_empty.job_ms")
    out["gen.create_table.wall_ms"] = span_ms("gen.create_table")
    timed = [o for o in ops if o["kind"] != "housekeeping"]
    out["jvm.gc_ms"] = statistics.fmean([o["gc_ms"] for o in timed]) if timed else 0.0
    ratios = []
    for kind in {o["kind"] for o in timed}:
        on = [o["ms"] for o in timed if o["kind"] == kind and o["traced"]]
        off = [o["ms"] for o in timed if o["kind"] == kind and not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    out["trace.overhead_frac"] = geomean(ratios) - 1.0 if ratios else 0.0
    selfs = self_times(spans)
    for mod in SPAN_MODULES:
        per_op = {}
        for s in spans:
            if s["name"].startswith(mod + ".") and s["op"]:
                per_op[s["op"]] = per_op.get(s["op"], 0) + selfs[s["id"]] / 1e6
        out[f"spans.{mod}.self_ms"] = median(list(per_op.values()))
    for mod in JOB_MODULES:
        out[f"jobs.{mod}.job_ms"] = layer(f"jobs.{mod}.job_ms")
    return out


def workload_metrics(workload, raw, peak_rss_mb):
    """Every end-to-end metric of the workload, by name: (value, unit, note)."""
    ops = [o for o in raw["ops"] if o["kind"] != "check"]
    totals, sizes = raw["totals"], raw["sizes"]
    out = {}

    def lat(kind, name, tail_too=True):
        xs = [o["ms"] for o in ops if o["kind"].startswith(kind) and not o["traced"]]
        out[f"{name}_ms_p50"] = (median(xs), "ms", f"n={len(xs)}")
        if tail_too:
            t = tail(xs)
            out[f"{name}_ms_tail"] = (
                (t[1], "ms", f"p{t[0]:g} of n={t[2]}") if t
                else (None, "ms", f"n={len(xs)}: too few samples for a tail"))

    kinds = OP_KINDS[workload]

    def per_kind(key):
        return [median([o[key] for o in ops if o["kind"] == k and not o["traced"]])
                for k in kinds]

    out["setup_s"] = (median(raw["setup_s"]), "s", f"median of {len(raw['setup_s'])} set-ups")
    out["op_ms_p50"] = (geomean(per_kind("ms")), "ms",
                        "geometric mean of per-kind median wall times: " + ", ".join(kinds))
    out["op_cpu_ms_p50"] = (geomean(per_kind("cpu_ms")), "ms",
                            "the same over the JVM's CPU time per operation, all threads")
    if workload == "maintain":
        med = median([o["ms"] for o in ops if o["kind"] == "maintain" and not o["traced"]])
        out["maint_seq_per_s"] = (sizes["docs"] / (med / 1000.0) if med else 0.0, "1/s",
                                  f"{sizes['docs']} docs per [compact, zorder]")
        runs = [o for o in ops if o["kind"] == "maintain"]
        ub = sum(o["user_bytes"] for o in runs)
        out["written_bytes_per_user_byte"] = (
            sum(o["written_bytes"] for o in runs) / ub if ub else 0.0, "ratio",
            "bytes the pipeline wrote / raw token bytes of the table")
    else:
        lat("merge_cow", "merge_cow")
        lat("merge_mor", "merge_mor")
        lat("lookup", "lookup")
        for cls in ("live", "updated", "deleted", "absent"):
            lat(f"lookup_{cls}", f"lookup_{cls}", tail_too=False)
        lat("range_scan", "range_scan", tail_too=False)
        lat("changelog", "changelog", tail_too=False)
        hk = [o["ms"] for o in ops if o["kind"] == "housekeeping"]
        out["housekeeping_s"] = (sum(hk) / 1000.0, "s",
                                 "materializeDeletes + expireSnapshots + removeOrphans")
        merges = [o for o in ops if o["kind"] in ("merge_cow", "merge_mor")]
        ub = sum(o["batch_user_bytes"] for o in merges)
        out["written_bytes_per_user_byte"] = (
            sum(o["written_bytes"] for o in merges) / ub if ub else 0.0, "ratio",
            "bytes the merges wrote / raw token bytes of their batches")
    out["stored_bytes_per_user_byte"] = (
        totals["live_bytes"] / totals["user_bytes"] if totals.get("user_bytes") else 0.0,
        "ratio", "live bytes / raw int32 token bytes")
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    out["failed_ops_frac"] = (failed / attempted if attempted else 1.0, "frac",
                              f"{failed} of {attempted}")
    out["peak_rss_mb"] = (peak_rss_mb, "MB", "JVM maximum resident set")
    return out
