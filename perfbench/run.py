"""Feature-store benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload online_serving --seed 1 --seconds 2 --trace 0

Run from the repository root.  The run pins the Spark environment,
builds the workload's feature store under a temporary root inside the
checkout (deleted at exit), sets it up twice, warms up, then runs
the workload's closed loop for at least ``--seconds`` and until every
kind of operation has its minimum number of samples (every tail
percentile has ten samples beyond it), checking every output.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
Every workload reports the same names; what each one measures:

==============================  ====================  ==========================  ==========================
metric                          online_serving        offline_training            ingest_curation
==============================  ====================  ==========================  ==========================
``op_p50_ms``                   single lookup         train_test_split, forced    plain commit
``op2_p50_ms``                  batch-100 lookup      get_batch_data, forced      ``as_of`` read
``op3_p50_ms``                  online upsert         train_test_split returns    curation pipeline
``items_per_s``                 vectors served        spine rows trained          rows ingested, compaction
                                                                                  included
``stored_bytes_per_live_byte``  the upserted group's  the three groups the view   the committed group
                                online store          reads
==============================  ====================  ==========================  ==========================

Each ``op*`` figure is the median over the run's timed operations of
that kind, and ``items_per_s`` counts items per second of operation
time.  ``stored_bytes_per_live_byte`` is the bytes the stores hold after
the loop over the bytes of one fresh write of their live rows.
``setup_s`` is the median of the set-ups plus the warm-up, which runs
once.  The line before the result gives the
workload's figures under their own names (for example
``serve_single_p98_ms``, a tail percentile with ten samples beyond it),
each with its statistic and sample count, and records the seed, the
inputs, the environment and every timed sample.

``--trace 1`` records spans at every layer boundary in one of every two
steps, chosen by a seeded coin, on one set-up, and reports the per-layer
metrics of the traced steps, the tracing overhead (traced against
untraced end-to-end figures) and the op time no span accounts for.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-ups per run; setup_s reports their median (with two, their mean).
# Each further one adds its time to every one of the runs a full
# measurement makes, which must fit a fixed time budget.
SETUP_REPS = 2
DRIVER_MEMORY = "3g"  # holds every workload; the engine's 48g default exceeds small hosts
LOOP_CAP_S = 80.0


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def pin_environment(work: str) -> dict:
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = subprocess.run(["nproc"], capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the heap starts at its full size, so early operations do not pay
    # for heap growth; temp files and the warehouse stay in the checkout
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    return {"nproc": int(cpus), "driver_memory": DRIVER_MEMORY, "initial_heap": DRIVER_MEMORY}


def environment(spark) -> dict:
    """Versions and the program's revision: the git commit when the
    checkout is a repository, and always a digest of the engine's
    sources."""
    import hashlib

    import pyarrow

    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "feature_store_api_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_revision": rev,
        "source_sha256": digest.hexdigest()[:16],
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def loop(w, seconds: float) -> None:
    """Closed loop for at least ``seconds``, and on until every kind the
    workload requires has its minimum number of samples (several
    seconds of work for the workloads whose operations take seconds),
    but never past ``LOOP_CAP_S``: a kind that keeps failing then leaves
    its metric unmeasured and the run fails."""
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if elapsed >= LOOP_CAP_S or (elapsed >= seconds and w.satisfied()):
            return
        w.step()


def traced_loop(w, tracer, seconds: float, seed: int):
    """The closed loop of a traced run: of every two steps a seeded coin
    traces one, so both halves see the same warm-up and store state and
    stay the same size (strict alternation would hand every compaction,
    which recurs with a fixed period, to the same half), until each half
    has the samples of every kind an end-to-end metric reads, and the
    traced half also those the per-layer metrics need (a compaction).
    Returns the (samples, items) of the untraced and of the traced half."""
    coin = random.Random(seed)
    halves = [(defaultdict(list), defaultdict(int)) for _ in range(2)]

    def satisfied():
        done = True
        for turn, half in enumerate(halves):
            w.samples, w.items = half
            done = done and w.satisfied(None if turn else w.KINDS)
        return done

    start = time.perf_counter()
    turns = []
    while True:
        elapsed = time.perf_counter() - start
        if elapsed >= 1.5 * LOOP_CAP_S or (elapsed >= seconds and satisfied()):
            return halves
        if not turns:
            turns = coin.sample([0, 1], 2)
        turn = turns.pop()
        w.samples, w.items = halves[turn]
        if turn:
            w.tracer = tracer
            tracer.install()
        try:
            w.step()
        finally:
            if turn:
                tracer.uninstall()
                w.tracer = None


def summarize(w, setups, warmup: float, extra: dict) -> dict:
    """Workload-specific named figures, each with its statistic and
    sample count, plus the set-up time and the failed-operation share."""
    out = {"setup_s": {"value": statistics.median(setups) + warmup, "unit": "s",
                       "stat": "median set-up + warm-up", "n": len(setups)}}
    for name, kind, q, unit in w.NAMED:
        values = w.samples.get(kind)
        if not values:
            continue
        if q != 50 and len(values) < w.min_samples(kind):
            raise RuntimeError(f"{name}: {len(values)} samples, p{q:g} needs {w.min_samples(kind)}")
        out[name] = {"value": pct(values, q) * (1e3 if unit == "ms" else 1.0), "unit": unit,
                     "stat": "median" if q == 50 else f"p{q:g}", "n": len(values)}
    for name, unit, value, n in w.throughputs():
        out[name] = {"value": value, "unit": unit, "stat": "items / busy time", "n": n}
    for k, v in extra.items():
        out[k] = {"value": v, "unit": "ratio", "stat": "end of run", "n": 1}
    out["failed_op_share"] = {"value": w.failed / max(w.attempted, 1), "unit": "ratio",
                              "stat": "failed / attempted", "n": w.attempted}
    return out


def end_to_end(w, named: dict) -> dict:
    """The metrics every workload reports (see the module docstring)."""
    a, b, c = w.KINDS

    def med(kind):
        return statistics.median(w.samples[kind]) * 1e3

    return {
        "setup_s": {"value": named["setup_s"]["value"], "unit": "s"},
        "op_p50_ms": {"value": med(a), "unit": "ms"},
        "op2_p50_ms": {"value": med(b), "unit": "ms"},
        "op3_p50_ms": {"value": med(c), "unit": "ms"},
        "items_per_s": {"value": named[w.THROUGHPUT[0]]["value"], "unit": "1/s"},
        "stored_bytes_per_live_byte": {"value": named["stored_bytes_per_live_byte"]["value"],
                                       "unit": "ratio"},
    }

# per-layer metric -> span name whose per-call median it reports
SPAN_MEDIANS = {
    "online.store.lookup_ms": "online.store.lookup",
    "functions.udf.apply_pandas_ms": "functions.udf.apply_pandas",
    "online.store.upsert_ms": "online.store.upsert",
    "online.store.compact_ms": "online.store.compact",
    "plans.compile_ms": "plans.compile",
    "operators.pit_join.build_ms": "operators.pit_join.build",
    "functions.udf.stats_ms": "functions.udf.stats",
    "operators.training.prepare_ms": "operators.training.prepare",
    "sources.commit_store.snapshot_ms": "sources.commit_store.snapshot",
    "sources.commit_store.write_ms": "sources.commit_store.write",
    "operators.statistics.describe_ms": "operators.statistics.describe",
    "provenance.parents_ms": "provenance.parents",
}


def per_layer(w, tracer, e2e_untraced: dict, e2e_traced: dict, names) -> dict:
    """Per-layer figures of the traced half.  A layer the workload does
    not reach reads 0."""

    def med(values):
        return statistics.median(values) if values else 0.0

    ops = tracer.spark_ops
    d = tracer.durations
    out = {k: med(d(span)) for k, span in SPAN_MEDIANS.items()}
    out.update({
        "online.store.calls": len(d("online.store.lookup")),
        "online.store.arrow_fallbacks": sum(tracer.fallbacks.values()),
        "online.serving.self_ms": med(d("online.serving", self_time=True)),
        "feature_view.plan_ms": med([o["first_job_ms"] for o in ops.values()
                                     if o.get("first_job_ms") is not None
                                     and o["kind"] in ("td_build", "batch_scoring")]),
        "sources.commit_store.compact_ms": sum(d("sources.commit_store.compact")),
        "sources.commit_store.compactions": len(d("sources.commit_store.compact")),
    })
    out.update(w.layer_counts())
    timed_ops = [o for o in ops.values() if "seconds" in o]
    for k in ("jobs", "stages", "tasks", "catalyst_ms", "executor_run_ms", "shuffle_write_bytes",
              "spill_bytes", "input_bytes"):
        out[f"spark.{k}"] = med([o.get(k, 0) for o in timed_ops])
    out["trace.unattributed_ms"] = med(
        [o["seconds"] * 1e3 - tracer.top_level_ms(i) for i, o in ops.items() if "seconds" in o])
    base, traced = e2e_untraced["op_p50_ms"]["value"], e2e_traced["op_p50_ms"]["value"]
    out["trace.overhead_pct"] = 100.0 * (traced - base) / base
    return {k: out.get(k, 0) for k in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    load_before = os.getloadavg()
    # a terminated run still stops Spark and removes its stores
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # metric names and units come from the benchmark's declaration
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_base, exist_ok=True)
    work = os.path.join(work_base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        env = pin_environment(work)
        env["loadavg_before"] = load_before
        t0 = time.perf_counter()
        from feature_store_api_spark import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark_start = time.perf_counter() - t0
        env.update(environment(spark))

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        w = workloads.WORKLOADS[args.workload](spark, args.seed)
        setups = []
        for rep in range(SETUP_REPS):
            root = os.path.join(work, f"store{rep}")
            t = time.perf_counter()
            w.setup(root)
            setups.append(time.perf_counter() - t)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(root, ignore_errors=True)
        t = time.perf_counter()
        w.warmup()
        warmup = time.perf_counter() - t

        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "env": env, "spark_start_s": spark_start,
                  "setup_runs_s": setups, "warmup_s": warmup}
        if not args.trace:
            loop(w, args.seconds)
            named = summarize(w, setups, warmup, w.extra())
            metrics = end_to_end(w, named)
            assert set(metrics) == {m["name"] for m in spec["end_to_end"]}, sorted(metrics)
        else:
            plain, traced = traced_loop(w, tracer, args.seconds, args.seed)
            extra = w.extra()
            w.samples, w.items = plain
            e2e_plain = end_to_end(w, summarize(w, setups, warmup, extra))
            w.samples, w.items = traced
            tracer.collect_spark()
            named = summarize(w, setups, warmup, extra)
            e2e_traced = end_to_end(w, named)
            report["tracing_overhead"] = {
                k: {"untraced": e2e_plain[k]["value"], "traced": e2e_traced[k]["value"],
                    "diff_pct": 100.0 * (e2e_traced[k]["value"] / e2e_plain[k]["value"] - 1.0)}
                for k in e2e_plain if k != "setup_s"
            }
            layer = per_layer(w, tracer, e2e_plain, e2e_traced, [m["name"] for m in spec["per_layer"]])
            report["layer_self_ms"] = tracer.layer_self_ms()
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        report["samples_ms"] = {k: [round(x * 1e3, 1) for x in v] for k, v in w.samples.items()}
        report["inputs"] = w.inputs()
        report["named"] = {k: v for k, v in named.items() if not k.startswith("_")}
        report["errors"] = w.errors
        print(json.dumps(report, default=str))
        correct = w.failed == 0 and w.attempted > 0
        print(json.dumps({"correct": correct, "attempted": w.attempted, "failed": w.failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_base)
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
