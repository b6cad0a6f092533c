"""Turns the raw result file the JVM writes into named metrics.

Timings are medians with their sample count; a percentile is reported
only when at least ten samples lie beyond it. Per-layer self time is a
span's duration minus the part of it its child spans cover.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
MIN_BEYOND = 10

LAYERS = ["io", "core", "prep", "window", "functions", "model", "fed", "eval",
          "streaming", "ext.text", "ext.dedup", "ext.similarity"]
GENERIC = [("self_s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
           ("deser_s", "s"), ("gc_s", "s"), ("sched_delay_s", "s"), ("shuffle_mb", "MB")]


def median_n(xs):
    """(median, sample count); median is None for no samples."""
    xs = list(xs)
    return (statistics.median(xs) if xs else None), len(xs)


def percentile(xs, q):
    """Nearest-rank q-quantile, or None unless >= MIN_BEYOND samples lie
    beyond it."""
    xs = sorted(xs)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """{span id: self ns}. `spans` are dicts with id, parent, start, end."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def parse_spans(raw):
    keys = ["id", "parent", "pass", "layer", "name", "start", "end", "thread"]
    return [dict(zip(keys, s)) for s in raw.get("spans", [])]


def once_checks(raw):
    """Checks run once per run: the deep checks and the open-loop checks."""
    return list(raw.get("checks", [])) + list(raw.get("extra_phase", {}).get("checks", []))


def outcome(raw):
    """(correct, attempted, failed). An operation is a pass (a micro-batch
    for the stream workload) or one once-per-run check; a failing pass
    fails all its operations."""
    once = once_checks(raw)
    attempted = sum(p["ops"] for p in raw["passes"]) + len(once)
    failed = sum(p["ops"] for p in raw["passes"] if not p["ok"]) + sum(1 for c in once if not c["ok"])
    return failed == 0, max(attempted, 1), failed


def end_to_end(raw):
    """{name: (value, unit, samples)} for the untraced passes."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    warm = [p for p in untraced[1:] if not p.get("warmup")]
    setup, n_setup = median_n(raw["setup_cpu_s"])
    setup_wall, _ = median_n(raw["setup_wall_s"])
    wall, n_wall = median_n(p["wall_s"] for p in warm)
    cpu, n_cpu = median_n(p["cpu_s"] for p in warm)
    return {
        "setup_s": (setup, "s", n_setup),
        "setup_wall_s": (setup_wall, "s", n_setup),
        "cpu_s": (cpu, "s", n_cpu),
        "wall_s": (wall, "s", n_wall),
        "cold_cpu_s": (untraced[0]["cpu_s"], "s", 1),
        "cold_s": (untraced[0]["wall_s"], "s", 1),
        "peak_heap_mb": (max(p["heap_mb"] for p in untraced), "MB", len(untraced)),
    }


def per_layer(raw):
    """{name: (value, unit, samples)} from the traced passes: the generic
    set per layer, layer-specific figures, Spark totals and the trace
    overhead. Values are per traced pass."""
    traced = [p for p in raw["passes"] if p["traced"]]
    # the untraced passes made after the traced ones are as warm as they are
    after = [p for p in raw["passes"] if not p["traced"] and traced and p["index"] > traced[-1]["index"]]
    n = len(traced)
    if n == 0:
        return {}
    idx = {p["index"] for p in traced}
    spans = [s for s in parse_spans(raw) if s["pass"] in idx]
    selfs = self_times(spans)
    work = raw.get("work", {})
    per = {}
    for s in spans:
        acc = per.setdefault(s["layer"], [0.0] * 10)
        acc[0] += selfs[s["id"]] / 1e9
        w = work.get(str(s["id"]))
        if w:
            for i, v in enumerate(w):
                acc[i + 1] += v
    out = {}
    for layer in LAYERS + ["bench"]:
        if layer not in per:
            continue
        a = per[layer]
        vals = [a[0], a[1], a[2], a[3] / 1e3, a[4] / 1e3, a[5] / 1e3, a[6] / 1e3, a[7] / 1048576]
        for (suffix, unit), v in zip(GENERIC, vals):
            out[f"{layer}.{suffix}"] = (v / n, unit, n)
        if layer.startswith("ext."):
            out[f"{layer}.spill_mb"] = (a[8] / 1048576 / n, "MB", n)
    extra = {}
    for p in traced:
        for k, v in p["extra"].items():
            extra.setdefault(k, []).append(v)
    mean = {k: sum(v) / len(v) for k, v in extra.items()}

    def put(name, value, unit, samples=n):
        if value is not None:
            out[name] = (value, unit, samples)

    if "model" in per:
        task, deser = per["model"][3], per["model"][4]
        put("model.deser_share", deser / (deser + task) if deser + task else None, "ratio")
        if "model.windows_scored" in mean and per["model"][0] > 0:
            put("model.windows_per_s", mean["model.windows_scored"] * n / per["model"][0], "1/s")
    if "fed" in per and mean.get("fed.rounds"):
        put("fed.round_s", per["fed"][0] / n / mean["fed.rounds"], "s")
    put("window.windows_out", mean.get("window.windows_out"), "count")
    for k in ("ext.dedup.candidate_pairs", "ext.dedup.verified_pairs", "ext.dedup.recall",
              "ext.similarity.pairs_out", "ext.build_s", "ext.probe_s"):
        put(k, mean.get(k), "s" if k.endswith("_s") else ("ratio" if k.endswith("recall") else "count"))
    if mean.get("ext.dedup.candidate_pairs"):
        put("ext.dedup.pair_precision",
            mean["ext.dedup.verified_pairs"] / mean["ext.dedup.candidate_pairs"], "ratio")

    batches = [b for b in raw.get("batches", [])
               if b["query"].rsplit("-p", 1)[-1].isdigit() and int(b["query"].rsplit("-p", 1)[-1]) in idx]
    if batches:
        trig = [b["durations"].get("triggerExecution", 0) for b in batches]
        put("streaming.batches", len(batches) / n, "count")
        put("streaming.batch_ms_p50", median_n(trig)[0], "ms", len(trig))
        put("streaming.batch_ms_p90", percentile(trig, 0.9), "ms", len(trig))
        put("streaming.planning_ms", median_n(b["durations"].get("queryPlanning", 0) for b in batches)[0], "ms", len(trig))
        put("streaming.add_batch_ms", median_n(b["durations"].get("addBatch", 0) for b in batches)[0], "ms", len(trig))
        put("streaming.commit_ms", median_n(b["durations"].get("walCommit", 0) + b["durations"].get("commitOffsets", 0)
                                            for b in batches)[0], "ms", len(trig))
        put("streaming.state_rows", max(b["state_rows"] for b in batches), "count")
        put("streaming.state_mem_mb", max(b["state_mem_bytes"] for b in batches) / 1048576, "MB")
        put("streaming.state_commit_ms", median_n(b["state_commit_ms"] for b in batches)[0], "ms", len(trig))
    ex = raw.get("extra_phase", {})
    if "latency_ms" in ex:
        lat = ex["latency_ms"]
        put("streaming.latency_p50_ms", median_n(lat)[0], "ms", len(lat))
        put("streaming.latency_p90_ms", percentile(lat, 0.9), "ms", len(lat))
        put("streaming.backlog_rows", ex["backlog_rows"], "count", 1)
        put("streaming.gen_late_ms", ex["gen_late_ms"], "ms", 1)

    tot = [sum(x) for x in zip(*per.values())]
    traced_wall, _ = median_n(p["wall_s"] for p in traced)
    untraced_wall, _ = median_n(p["wall_s"] for p in after)
    put("trace.overhead_s", traced_wall - untraced_wall if untraced_wall is not None else None, "s")
    put("trace.pass_s", traced_wall, "s")
    put("spark.jobs", tot[1] / n, "count")
    put("spark.tasks", tot[2] / n, "count")
    put("spark.task_s", tot[3] / 1e3 / n, "s")
    put("spark.deser_s", tot[4] / 1e3 / n, "s")
    put("spark.gc_s", tot[5] / 1e3 / n, "s")
    put("spark.sched_delay_s", tot[6] / 1e3 / n, "s")
    put("spark.shuffle_mb", tot[7] / 1048576 / n, "MB")
    put("trace.warns", tot[9] / n, "count")
    return out


def additivity(raw):
    """Per traced pass: (sum of span self times, pass wall) in seconds."""
    spans = parse_spans(raw)
    selfs = self_times(spans)
    rows = []
    for p in raw["passes"]:
        if p["traced"]:
            s = sum(selfs[x["id"]] for x in spans if x["pass"] == p["index"]) / 1e9
            rows.append((p["index"], s, p["wall_s"]))
    return rows


def warns_by_span(raw, top=8):
    spans = {str(s["id"]): s for s in parse_spans(raw)}
    counts = {}
    for sid, w in raw.get("work", {}).items():
        if w[8] and sid in spans:
            k = f'{spans[sid]["layer"]}:{spans[sid]["name"]}'
            counts[k] = counts.get(k, 0) + w[8]
    return sorted(counts.items(), key=lambda kv: -kv[1])[:top]
