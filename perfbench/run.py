"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds every index the workload needs
with the package in that checkout, measures for ``--seconds``, checks
the outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Untraced runs
(``--trace 0``) report the end-to-end metrics; traced runs report the
per-layer metrics. The line before it (``# run-info ...``) carries the
host facts, session settings, line counts and the workload's own named
metrics; the same record is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
}
# Set-up is repeated this many times per run and reported as the median.
SETUPS = 3

WORKLOADS = {
    "build_html": ("wl_build_html", "BuildHtml"),
    "dedup_ann": ("wl_dedup_ann", "DedupAnn"),
}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def untraced(run, wl) -> dict:
    """Set up ``SETUPS`` times, warm up, run the loop, check. Set-up and
    operations are counted in CPU seconds of the whole process tree,
    which steal on a shared host does not inflate the way it inflates
    wall time; the wall times go to the named metrics."""
    from harness import log, p50
    from hostenv import PeakRss, tree_cpu_s

    with PeakRss() as rss:
        run.start_spark()
        setup_s, setup_wall = [], []
        for i in range(SETUPS):
            c, t = tree_cpu_s(os.getpid()), time.perf_counter()
            wl.setup(run)
            setup_wall.append(time.perf_counter() - t)
            setup_s.append(tree_cpu_s(os.getpid()) - c)
            log(f"setup {i}: {setup_wall[-1]:.2f} s wall, {setup_s[-1]:.2f} s CPU")
        t = time.perf_counter()
        wl.warmup(run)
        warmup_s = time.perf_counter() - t
        wl.loop(run, run.seconds)
        wl.check(run)
    e2e = {
        "setup_s": statistics.median(setup_s),
        "op_cpu_s": p50(run.op_cpu_s.get(wl.headline, [])),
    }
    named = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    named["op_p50_ms"] = (1e3 * p50(wl.samples[wl.headline]), "ms")
    named["setup_wall_s"] = (statistics.median(setup_wall), "s")
    named["peak_rss_mb"] = (rss.peak_mb, "MB")
    named["error_rate"] = (run.failed / max(1, run.attempted), "fraction")
    named.update(wl.named())
    named["spark_start_s"] = (run.spark_start_s[0], "s")
    named["steal_share"] = (p50(run.op_steal.get(wl.headline, [])), "fraction")
    named["warmup_s"] = (warmup_s, "s")
    return {"metrics": {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()},
            "named": named, "info": wl.info(run), "setup_cpu_s": setup_s,
            "setup_wall_s": setup_wall,
            "samples_s": {k: [round(x, 4) for x in v] for k, v in wl.samples.items()},
            "op_cpu_s": {k: [round(x, 3) for x in v] for k, v in run.op_cpu_s.items()},
            "op_steal_share": {k: [round(x, 3) for x in v] for k, v in run.op_steal.items()}}


def traced(run, wl) -> dict:
    """Phase 1 runs untraced for half the time; phase 2 restarts Spark
    with its event log on and runs with spans for the other half. The
    ratio of their headline-operation medians is the tracing overhead.
    Each phase needs only one operation, which keeps a traced run within
    the time of two untraced ones."""
    from harness import p50
    from tracing import read_event_log, spark_layer

    run.start_spark()
    wl.setup(run)
    wl.warmup(run)
    wl.loop(run, run.seconds / 2, min_ops=1)
    base = list(wl.samples[wl.headline])
    run.stop_spark()

    log_dir = run.path("eventlog")
    run.start_spark(event_log_dir=log_dir)
    run.tracer.enabled = True
    wl.setup(run)
    wl.warmup(run)
    wl.loop(run, run.seconds / 2, min_ops=1)
    traced_samples = list(wl.samples[wl.headline])
    wl.check(run)
    ops = [s for s in run.tracer.spans if s.parent is None and s.op is not None
           and s.name == wl.headline]
    units = per_layer_units()
    layers = dict.fromkeys(units, 0.0)
    layers.update(wl.layers(run))
    run.stop_spark()  # flushes the event log

    layers.update(spark_layer(read_event_log(log_dir), ops))
    layers["trace.overhead_ratio"] = p50(traced_samples) / max(p50(base), 1e-9)
    unknown = set(layers) - set(units)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    run.tracer.dump(os.path.join(run.out, f"{run.workload}-s{run.seed}-spans.json"))
    return {"metrics": {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()},
            "named": {}, "info": wl.info(run), "ops_traced": len(ops)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    try:
        import eaststorm_searchengine_spark as pkg  # the package under test
    except ImportError as e:
        print(f"perfbench: cannot import the package under test from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package was imported from {pkg.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    import hostenv
    from harness import Run

    run = Run(ROOT, args.workload, args.seed, args.seconds)
    os.environ["TMPDIR"] = run.path("tmp")
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p
    )
    module, cls = WORKLOADS[args.workload]
    wl = getattr(__import__(module), cls)()
    try:
        result = traced(run, wl) if args.trace else untraced(run, wl)
    finally:
        conf = dict(run.conf)
        run.shutdown()
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": hostenv.host_facts(ROOT, run.cores, run.ram_mb),
        "session": {k: v for k, v in conf.items() if "shuffle" in k or "adaptive" in k
                    or k in ("spark.master", "spark.driver.memory")},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in result["named"].items()},
        "failures": run.failures[:20],
    }
    info.update({k: v for k, v in result.items() if k not in ("metrics", "named")})
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(run.out, tag + ".json"), "w") as f:
        json.dump(info, f, indent=1)
    print("# run-info " + json.dumps(info), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": result["metrics"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
