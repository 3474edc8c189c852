"""Run one benchmark workload once and print its metrics.

  python3 perfbench/run.py --workload {build,serve} --seed N \\
      --seconds S --trace {0,1}
  python3 perfbench/run.py --selftest

Run from the repository root. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Every run
also writes one JSON record (metrics, spans, Spark counters, session) to
perfbench/.work/records/. Exits non-zero, printing no result, when the
engine package is not importable next to this directory.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "index_bytes_per_doc": "B/doc",
    "peak_rss_mb": "MB",
}
SPANS = ("build.s1", "build.s2", "build.s3", "build.s4", "query.batch",
         "append", "compact.tiered", "compact.full")
LAYER_UNITS = {
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "extract.us_per_doc": "us",
    "analyze.us_per_doc": "us",
    "codec.encode_ns_per_posting": "ns",
    "codec.decode_ns_per_posting": "ns",
    "codec.bytes_per_posting": "B",
    "build_ops.extract_analyze_tf_s": "s",
    "build_ops.assign_doc_ids_s": "s",
    "build_ops.build_terms_s": "s",
    "build_ops.build_postings_s": "s",
    "build.s1_s": "s", "build.s2_s": "s", "build.s3_s": "s",
    "build.s4_s": "s", "build.other_s": "s",
    "tableio.commit_ms": "ms",
    **{f"tableio.{t}_bytes": "B" for t in (
        "tokenized", "docs", "terms", "postings", "block_offs", "stats")},
    "tableio.postings_files": "count",
    "query.open_ms": "ms",
    "query.resolve_ms": "ms",
    "query.construct_ms": "ms",
    "query.execute_ms": "ms",
    "query.decode_ms": "ms",
    "query.blocks_per_query": "count",
    "query.blocks_per_result": "count",
    "query.wand_vs_exhaustive": "ratio",
    "append.epoch_s": "s",
    "append.bytes_per_doc": "B/doc",
    "compact.tiered_s": "s",
    "compact.full_s": "s",
    "compact.bytes_after_per_doc": "B/doc",
    **{f"{s}.{c}": u for s in SPANS for c, u in (
        ("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
        ("python_mb", "MB"), ("skew", "ratio"), ("jobs", "count"))},
    "trace.overhead_ms": "ms",
    "trace.base_runs": "count",
}


def _records(workload: str) -> list[dict]:
    out = []
    d = os.path.join(WORK, "records")
    if os.path.isdir(d):
        for f in sorted(os.listdir(d)):
            if f.startswith(workload + "-") and f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
    return out


def _overhead(workload: str, seed: int, traced_p50: float) -> tuple:
    """Traced minus untraced op_p50_ms; the base is the untraced runs of
    this workload recorded in this checkout, same seed if any."""
    base = [r for r in _records(workload) if not r["trace"]]
    same = [r for r in base if r["seed"] == seed]
    base = same or base
    if not base:
        return 0.0, 0
    med = statistics.median(r["e2e"]["op_p50_ms"] for r in base)
    return traced_p50 - med, len(base)


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             n_docs: int | None) -> dict:
    from perfbench import trace as tr
    from perfbench import workloads as wl

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    tr.pin_environment(run_dir, os.path.join(run_dir, "conf"), event_dir)
    try:
        with tr.MemSampler() as mem:
            run = wl.Run(seed, seconds, trace, run_dir,
                         os.path.join(WORK, "cache"), n_docs,
                         tr.nproc())
            try:
                e2e = wl.WORKLOADS[workload](run)
            finally:
                run.stop()
        e2e["setup_s"] = run.setup_end - T_START
        e2e["peak_rss_mb"] = mem.peak_mb
        layers = {"op_p50_ms": e2e["op_p50_ms"],
                  "items_per_s": e2e["items_per_s"], **run.layers}
        counters = {}
        if trace:
            counters = tr.span_counters(tr.read_event_log(event_dir),
                                        run.windows)
            for span, cs in counters.items():
                for c, v in cs.items():
                    layers[f"{span}.{c}"] = v
            layers["trace.overhead_ms"], layers["trace.base_runs"] = (
                _overhead(workload, seed, e2e["op_p50_ms"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "session": run.session, "e2e": e2e,
              "layers": layers, "spans": run.tracer.spans,
              "counters": counters, "attempted": run.attempted,
              "failed": run.failed}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{workload}-s{seed}-t{int(trace)}-{int(time.time() * 1000)}.json"
    with open(os.path.join(WORK, "records", name), "w") as fh:
        json.dump(record, fh, indent=1)

    if trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def selftest() -> int:
    """Every workload, untraced and traced, at toy size: outputs must
    check and every metric BENCHMARK.json names must be printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    bad = 0
    for w in (x["name"] for x in bench["workloads"]):
        for t in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", "7", "--seconds", "1", "--trace", str(t),
                 "--docs", "300"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            names = set(res.get("metrics", {}))
            ok = (res.get("correct") is True and res.get("failed") == 0
                  and names == want[t])
            bad += not ok
            print(f"{w} trace={t}: {'ok' if ok else 'FAIL'} "
                  f"attempted={res.get('attempted')} "
                  f"missing={sorted(want[t] - names)} "
                  f"extra={sorted(names - want[t])}")
            if not ok:
                print(p.stderr[-2000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size override (self-test only)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import elasticsearch_eslib_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.selftest:
        return selftest()
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tr.adopt_orphans()
    try:
        result = run_once(args.workload, args.seed, args.seconds,
                          bool(args.trace), args.docs)
    finally:
        tr.reap_children()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
