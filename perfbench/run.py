#!/usr/bin/env python3
"""KG benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload kg_query --seed 1 --seconds 10 --trace 0

Run from the root of a recon_spark checkout. ``--trace 0`` measures the
end-to-end metrics with tracing off; ``--trace 1`` makes the traced run
and reports the per-layer metrics instead (see perfbench/README.md for
the metric map). The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only when every operation succeeded and every output
matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# end-to-end metrics (trace 0): name -> unit
E2E = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
    "store_bytes_per_row": "B",
}

# per-layer metrics (trace 1): name -> unit; 0 where the layer is idle
LAYER_UNITS = {
    "session.start_s": "s",
    "pages.generate_s": "s",
    "extraction.s": "s",
    "extraction.mentions_per_page": "count",
    "extraction.py_bytes_in": "B",
    "extraction.py_bytes_out": "B",
    "validation.s": "s",
    "validation.pass_ratio": "ratio",
    "triples.s": "s",
    "triples.per_page": "count",
    "linker.s": "s",
    "linker.link_ratio": "ratio",
    "storage.read_s": "s",
    "storage.build_s": "s",
    "storage.merge_s": "s",
    "storage.bytes_written": "B",
    "storage.rows_written": "count",
    "storage.rows_added": "count",
    "storage.jobs_per_merge": "count",
    "storage.bytes_per_triple": "B",
    "storage.write_amp": "ratio",
    "reasoning.entail_s": "s",
    "reasoning.rows_in": "count",
    "reasoning.rows_out": "count",
    "sparql.parse_ms": "ms",
    "sparql.compile_ms": "ms",
    "sparql.exec_ms": "ms",
    "sparql.jobs_per_query": "count",
    "sparql.rows_out": "count",
    "sparql.path_compile_share": "ratio",
    "insights.prediction_errors_s": "s",
    "insights.hardest_examples_s": "s",
    "insights.hardest_share": "ratio",
    "insights.jobs": "count",
    "stats.entity_coverage_s": "s",
    "insights.label_corrections_s": "s",
    "corrections.fix_annotations_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.self_sum_ratio": "ratio",
}


def _template_units() -> dict[str, str]:
    from perfbench.sparql_mix import TEMPLATES

    out = {}
    for t in sorted(TEMPLATES):
        out[f"sparql.{t}.compile_ms"] = "ms"
        out[f"sparql.{t}.exec_ms"] = "ms"
        out[f"sparql.{t}.rows_out"] = "count"
    return out


class Tally:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def measure(
    wl, seconds: float, start: int, traced: bool, tally: Tally, rss=None
) -> tuple[list[float], int]:
    """Closed loop: run ops ``start, start + 1, ...`` back to back until
    ``seconds`` have passed (at least one op); returns the per-op
    latencies in seconds and the items processed. ``rss``, if given, gets
    a peak per op."""
    lat: list[float] = []
    items = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not lat:
        tally.attempted += 1
        t0 = time.perf_counter()
        try:
            items += wl.op(start + len(lat), traced)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            tally.fail(f"{wl.name} op {start + len(lat)}: {traceback.format_exc(limit=3)}")
            break
        lat.append(time.perf_counter() - t0)
        if rss is not None:
            rss.next_op()
    return lat, items


def geomean_of_medians(samples, field: int) -> float:
    """Geometric mean, over the timed units (kg_query: the query
    templates; recon_audit: the audit pass), of each unit's median
    ``field`` (1: wall seconds, 2: CPU seconds), in ms; 0 when the first
    op failed."""
    by_unit: dict[str, list[float]] = {}
    for s in samples:
        by_unit.setdefault(s[0], []).append(s[field])
    if not by_unit:
        return 0.0
    return statistics.geometric_mean(
        [statistics.median(xs) for xs in by_unit.values()]
    ) * 1e3


def run(args) -> tuple[dict, Tally, dict]:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    tally = Tally()
    b = harness.Bench(ROOT, args.seed)
    try:
        wl = WORKLOADS[args.workload](b)
        t0 = time.perf_counter()
        session_s = b.start_session(event_log=False)
        t1 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t1
        wl.prepare()
        setup_s = time.perf_counter() - t0
        print(f"perfbench: session {session_s:.2f}s, inputs {generate_s:.2f}s, "
              f"setup {setup_s:.2f}s", file=sys.stderr)

        # a traced run measures twice (untraced, then traced), each half
        window = args.seconds / 2 if args.trace else args.seconds
        with harness.RssSampler(b.jvm_pid) as rss:
            lat, items = measure(wl, window, 0, False, tally, rss)
        busy = sum(lat)
        print(f"perfbench: {len(lat)} ops in {busy:.2f}s: "
              + " ".join(f"{x:.2f}" for x in lat), file=sys.stderr)
        if not args.trace:
            wl.finish()
            run_checks(wl, tally)
            unit_lat = [s[1] for s in wl.samples]
            p, tail = harness.tail_percentile([x * 1e3 for x in unit_lat])
            metrics = {
                "setup_s": setup_s,
                "op_cpu_ms": geomean_of_medians(wl.samples, 2),
                "peak_rss_mb": rss.median_op_peak_mb,
                "store_bytes_per_row": wl.store_bytes_per_row,
            }
            report = dict(wl.report)
            report.update(
                {
                    "ops": len(lat),
                    "op_wall_ms": geomean_of_medians(wl.samples, 1),
                    "latency_samples": len(unit_lat),
                    f"{wl.item}_per_s": items / busy if busy else 0.0,
                    "p50_ms": harness.median(unit_lat) * 1e3,
                    "tail_percentile": p,
                    "tail_ms": tail,
                }
            )
            return {k: (v, E2E[k]) for k, v in metrics.items()}, tally, {
                "sizes": wl.sizes, "report": report,
            }

        # traced run: restart with the event log on, then measure again
        b.start_session(event_log=True)
        wl.reopen()
        traced_lat, _ = measure(wl, window, len(lat), True, tally)
        layers = wl.layers()
        wl.finish()
        run_checks(wl, tally)
        log = b.event_log_path()
        b.spark.stop()
        b.spark = None
        roll = harness.rollup_event_log(log.removesuffix(".inprogress"))
        metrics = layer_metrics(wl, layers, roll, lat, traced_lat, session_s, generate_s)
        units = dict(LAYER_UNITS, **_template_units())
        return {k: (metrics.get(k, 0.0), u) for k, u in units.items()}, tally, {
            "sizes": wl.sizes, "report": dict(wl.report),
        }
    finally:
        b.close()


def run_checks(wl, tally: Tally) -> None:
    try:
        wl.check()
    except Exception:  # noqa: BLE001 - a crashed check is a failed check
        tally.attempted += 1
        tally.fail(f"{wl.name} check: {traceback.format_exc(limit=3)}")
    for name, ok, detail in wl.checks:
        tally.attempted += 1
        if not ok:
            tally.fail(f"{wl.name} {name}: {detail}")


# job descriptions the measured op of each workload sets (event log)
OP_LABELS = {
    "kg_query": ("sparql:",),
    "recon_audit": ("insights.", "stats.", "corrections."),
}


def layer_metrics(wl, layers, roll, lat, traced_lat, session_s, generate_s) -> dict:
    from perfbench import harness

    n_ops = max(len(traced_lat), 1)
    op_labels = [d for d in roll if d.startswith(OP_LABELS[wl.name])]
    spark = harness.merge_rollups(roll, op_labels)
    m = dict(layers)
    m["session.start_s"] = session_s
    m["pages.generate_s"] = generate_s
    for k in harness.SPARK_METRICS:
        if not k.startswith("py_"):
            m[f"spark.{k}"] = spark[k] if k == "task_skew" else spark[k] / n_ops
    ext = roll.get("prefix:extraction")
    if ext is not None:
        m["extraction.py_bytes_in"] = ext["py_bytes_in"]
        m["extraction.py_bytes_out"] = ext["py_bytes_out"]
    traced_wall = harness.median(traced_lat)
    m["trace.overhead_ratio"] = traced_wall / harness.median(lat) if lat else 0.0
    if wl.name == "kg_query":
        merge = roll.get("prefix:storage.merge_s")
        m["storage.jobs_per_merge"] = merge["jobs"] if merge else 0.0
        n_queries = sum(len(runs) for runs in wl.per_template.values())
        m["sparql.jobs_per_query"] = spark["jobs"] / max(n_queries, 1)
        m["trace.self_sum_ratio"] = wl.build_self_sum / wl.build_wall
    else:
        steps = sum(
            v for k, v in layers.items()
            if k.endswith("_s") and k.startswith(OP_LABELS["recon_audit"])
        )
        m["insights.jobs"] = spark["jobs"] / n_ops
        m["insights.hardest_share"] = layers["insights.hardest_examples_s"] / traced_wall
        m["trace.self_sum_ratio"] = steps / traced_wall
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_LABELS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import recon_spark  # noqa: F401
        import tests.reference_impl  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test ({e}); "
              "run from the root of a recon_spark checkout", file=sys.stderr)
        return 2

    from perfbench import harness

    ctx = harness.run_context(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    metrics, tally, info = run(args)
    ctx["inputs"] = info["sizes"]
    print(json.dumps({"context": ctx}))
    for err in tally.errors:
        print(f"FAILED {err}", file=sys.stderr)
    report = info["report"]
    for name, value in sorted(report.items()):
        print(f"{args.workload} {name} = {value:.6g}")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    error_rate = tally.failed / max(tally.attempted, 1)
    print(f"{args.workload} error_rate = {error_rate:.6g} ({tally.failed}/{tally.attempted})")
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
