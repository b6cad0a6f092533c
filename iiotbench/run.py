"""The repository benchmark: IIoT train-and-detect, IIoT stream scoring and
corpus dedup, measured end to end and, with tracing, per layer.

    python3 iiotbench/run.py --workload iiot_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), runs one
JVM on local[<cores>] that generates the seeded inputs, sets up the
session several times, runs one cold pass and then warm passes for
``--seconds`` (at least one), and checks every output. Each pass records
its wall time and the JVM's CPU time; ``cpu_s``, the median CPU time of
a warm pass, is the headline figure because it does not count the time
other tenants of a shared host take from this one, and ``setup_s`` is
likewise the median CPU time of a session set-up. With ``--trace 1``
half the time runs traced (spans around every layer call, Spark and streaming
listeners, WARN counts) and the per-layer metrics are reported.

Every metric is printed on its own line with unit and sample count; the
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Scratch files live in
``.bench_build/iiotbench`` and are removed after each run; the raw result
of the last run per workload and trace mode is kept in
``.bench_build/iiotbench/results``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("iiot_batch", "iiot_stream", "corpus_dedup")
DEADLINE_S = 170


def bench_spec():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(raw, trace, e2e_names, layer_names):
    """Prints the human-readable lines; returns the metrics object."""
    e2e = stats.end_to_end(raw)
    print(f"# {raw['workload']} seed={raw['seed']} trace={int(trace)} cores={raw['cores']} "
          f"env={json.dumps(raw['env'], sort_keys=True)}")
    print(f"# inputs {json.dumps(raw['inputs'], sort_keys=True)} gen_s={raw['gen_s']:.3f}")
    for name, (v, unit, n) in e2e.items():
        print(f"{name} {fmt(v)} {unit} (n={n})")
    print("# passes (t traced, w warm-up) " + " ".join(
        f"{p['index']}{'t' if p['traced'] else ''}{'w' if p.get('warmup') else ''}="
        f"{p['wall_s']:.3f}s/{p['cpu_s']:.3f}cpu" for p in raw["passes"]))
    correct, attempted, failed = stats.outcome(raw)
    print(f"error_rate {failed / attempted:.6g} ratio (failed {failed} of {attempted} operations)")
    for c in raw.get("pass_checks", []) + stats.once_checks(raw):
        print(f"# check {'ok ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for p in raw["passes"]:
        for c in p["failed_checks"]:
            print(f"# check FAIL pass {p['index']}: {c['name']}: {c['detail']}")
    if not trace:
        return pick(e2e, e2e_names)
    layer = stats.per_layer(raw)
    for name in sorted(layer):
        v, unit, n = layer[name]
        print(f"{name} {fmt(v)} {unit} (n={n})")
    for i, s, wall in stats.additivity(raw):
        print(f"# pass {i}: sum of layer self times {s:.4f} s, traced pass {wall:.4f} s")
    for k, n in stats.warns_by_span(raw):
        print(f"# warns {n} in {k}")
    for msg, n in sorted(raw.get("warn_messages", {}).items(), key=lambda kv: -kv[1])[:8]:
        print(f"# warn x{n}: {msg}")
    return pick(layer, layer_names)


def pick(table, names):
    """The result-line metrics: each listed name, value None if not measured."""
    return {k: {"value": table.get(k, (None, None))[0], "unit": table.get(k, (None, None))[1]}
            for k in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="print only the digest of the generated inputs")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm kills the process group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cp = build.build()
        e2e_spec, layer_spec = bench_spec()
        e2e_names, layer_names = [m["name"] for m in e2e_spec], [m["name"] for m in layer_spec]
    except (build.BuildError, OSError, KeyError, ValueError) as e:
        print(f"[iiotbench] cannot run: {e}", file=sys.stderr)
        return 2
    t0 = time.time()  # the run's own deadline starts after any build
    work = build.OUT / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    raw_path = work / "raw.json"
    work.mkdir(parents=True, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--out", str(raw_path)]
        if a.digest:
            args += ["--digest", "1"]
        code, out = build.run_jvm(cp, args, work, work / "jvm.log",
                                  max(30, DEADLINE_S - (time.time() - t0)))
        if a.digest:
            print(out.strip())
            return code
        if code != 0 or not raw_path.is_file():
            sys.stderr.write((work / "jvm.log").read_text()[-8000:])
            print(f"[iiotbench] JVM exited with {code}", file=sys.stderr)
            return 3
        raw = json.loads(raw_path.read_text())
        shutil.copy(raw_path, results / f"{a.workload}-trace{a.trace}.json")
    except subprocess.TimeoutExpired:
        sys.stderr.write((work / "jvm.log").read_text()[-8000:])
        print("[iiotbench] run exceeded its deadline", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = report(raw, a.trace == 1, e2e_names, layer_names)
    correct, attempted, failed = stats.outcome(raw)
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        print(f"# metrics not measured: {missing}")
        correct = False
        metrics = {k: v for k, v in metrics.items() if v["value"] is not None}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
