"""Dedup benchmark: one workload per call, as a closed loop with one
client (each pass starts only after the previous one finished).

    python3 dedupbench/run.py --workload webtext --seed 1 --seconds 10 --trace 0

``--trace 0`` times plain passes and prints every end-to-end metric of
BENCHMARK.json.  ``--trace 1`` alternates plain and traced passes and
prints every per-layer metric; the Spark event log of that run stays in
``.dedupbench/eventlog/``.  Report lines come first; the last line of
stdout is one JSON object with the keys correct, attempted, failed and
metrics.  Exit code 1 means a check failed, 2 that the engine package
is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".dedupbench")
ENGINE = "face_duplicate_detection_spark"
SPAN_LAYERS = ("normalize", "exact_dedup", "signatures", "lsh", "verify",
               "connected_components", "incremental", "suffix_spans", "similarity")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine(run_dir: str) -> str:
    """Clear the engine's environment overrides and keep the JVM's and
    Python workers' temporary files inside `run_dir`."""
    for k in list(os.environ):
        if k.startswith(("FDDS_", "SPARK_GRAFT_")):
            del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([REPO, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": java_opts,
    })
    sys.path[:0] = [REPO, HERE]
    return java_opts


def start_spark(run_dir: str, java_opts: str, event_log: str | None):
    from face_duplicate_detection_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    heap = "1g"
    # the engine's session defaults but two.  A fixed-size heap, not
    # get_spark's growable 8g: no resizing, so the JVM's share of the
    # peak RSS does not depend on when G1 chose to grow it.  Shuffle
    # and spill files inside the checkout, not on /dev/shm.
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"{java_opts} -Xms{heap}",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="dedupbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spawned = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while (alive := [p for p in spawned if _alive(p)]) and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def closed_loop(wl, seconds: float, min_passes: int, tracer=None) -> list[dict]:
    """Passes until `seconds` have gone by and at least `min_passes` ran
    (with a tracer, alternating plain and traced, at least
    plain-traced-plain, so a traced pass has a plain one after the run's
    coldest first pass to be compared with).  A pass that raises or
    fails a check is a failed operation."""
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while True:
        traced = tracer is not None and len(passes) % 2 == 1
        if traced:
            tracer.pass_no += 1
        rec = {"traced": traced, "fails": []}
        try:
            res = wl.run(tracer if traced else None)
            extra, rec["fails"] = wl.check(res)
            rec.update({k: res[k] for k in ("wall_s", "oneshot_s", "counts") if k in res},
                       **extra)
            rec["pass_no"] = tracer.pass_no if traced else None
        except Exception:
            traceback.print_exc()
            rec["fails"] = ["raised " + traceback.format_exc().strip().splitlines()[-1]]
        passes.append(rec)
        for f in rec["fails"]:
            print(f"check failed: {f}", file=sys.stderr)
        need_more = len(passes) < max(min_passes, 3 if tracer is not None else 1)
        if time.perf_counter() >= deadline and not need_more:
            return passes


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def end_to_end(passes, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    ok = [p for p in passes if not p["fails"]]
    wall = [p["wall_s"] for p in ok]
    values = {
        "setup_s": (setup_s, 1),
        "wall_s": (_median(wall), len(wall)),
        "docs_per_s": (_median([p["docs_per_s"] for p in ok]), len(ok)),
        "recall": (_median([p["recall"] for p in ok]), len(ok)),
        "peak_rss_mb": (peak_mb, 1),
    }
    # workload-specific figures, reported but not part of the JSON result
    extra = {}
    for key in ("oneshot_s", "inc_over_oneshot", "state_bytes_per_input_byte",
                "long_span_s", "topk_s"):
        vals = [p[key] for p in ok if key in p]
        if vals:
            extra[key] = (_median(vals), len(vals))
    batches = [b for p in ok for b in p.get("batch_s", [])]
    if batches:
        extra["batch_s_p50"] = (statistics.median(batches), len(batches))
    return values, extra


def per_layer(passes, log_dir: str, spans: list, kernels: dict) -> dict:
    from tracing import SPAN_FIELDS, fold_layers

    traced = [p for p in passes if p["traced"] and "wall_s" in p]
    # the first pass is the run's coldest: left out of the comparison
    plain = [p["wall_s"] for p in passes[1:] if not p["traced"] and "wall_s" in p]
    layers_by_pass, jobs_by_pass = fold_layers(spans, log_dir)

    out = dict(kernels)
    for layer in SPAN_LAYERS:
        for field in SPAN_FIELDS:
            out[f"{layer}.{field}"] = _median(
                [layers_by_pass.get(p["pass_no"], {}).get(layer, {}).get(field, 0.0)
                 for p in traced])
    out["connected_components.jobs"] = _median(
        [jobs_by_pass.get(p["pass_no"], {}).get("connected_components", 0) for p in traced])
    keys = {k for p in traced for k in p["counts"]}
    for k in keys:
        out[k] = _median([p["counts"].get(k) for p in traced])
    out["trace.overhead_share"] = _median([p["wall_s"] for p in traced]) / _median(plain) - 1
    out["trace.unattributed_s"] = _median([
        p["wall_s"] - sum(layers_by_pass.get(p["pass_no"], {}).get(layer, {}).get("wall_s", 0.0)
                            for layer in SPAN_LAYERS)
        for p in traced])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, ENGINE)):
        print(f"engine package {ENGINE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wspec = spec["workloads"][args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    java_opts = confine(run_dir)
    event_log = os.path.join(WORK, "eventlog", tag) if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)

    import tracing
    import workloads

    try:
        # inputs and oracles are the benchmark's own work: before set-up
        ctx = workloads.Context(run_dir, os.path.join(WORK, "inputs"), args.seed)
        wl = workloads.WORKLOADS[wspec["kind"]](ctx, wspec)
        with tracing.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_spark(run_dir, java_opts, event_log)
            try:
                ctx.spark = spark
                wl.open()
                wl.warm()
                setup_s = time.perf_counter() - t0
                tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
                passes = closed_loop(wl, args.seconds, wspec["min_passes"], tracer)
                kernels = workloads.kernel_rates(wl.kernel_sample) if args.trace else {}
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(bool(p["fails"]) for p in passes)
    values, extra = end_to_end(passes, setup_s, rss.peak_mb)
    digests = sorted({p["digest"] for p in passes if "digest" in p})
    if len(digests) > 1:
        print(f"check failed: passes disagree on the result digest {digests}", file=sys.stderr)
        failed = max(failed, 1)
    print(f"dedupbench {tag}: {len(passes)} passes, {failed} failed, "
          f"inputs {wl.meta['digest'][:16]}, result digest {','.join(d[:16] for d in digests)}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for name, (value, n) in values.items():
        print(f"metric {name} = {value:.6g} {units[name]} (median, n={n})")
    print(f"fail_share = {failed / len(passes):.6g} (failed {failed} of {len(passes)} passes)")
    for name, (value, n) in extra.items():
        print(f"workload metric {name} = {value:.6g} (median, n={n})")

    if args.trace:
        layer = per_layer(passes, event_log, tracer.spans, kernels)
        names = [m["name"] for m in bench["per_layer"]]
        if set(layer) - set(names):
            print(f"per-layer metrics missing from BENCHMARK.json: {sorted(set(layer) - set(names))}",
                  file=sys.stderr)
            return 1
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]][0]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    result = {"correct": failed == 0, "attempted": len(passes), "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(result | {"digests": digests,
                            "workload_metrics": {k: v[0] for k, v in extra.items()}}, f)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
