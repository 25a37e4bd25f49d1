"""Benchmark of kmertools_spark: three workloads, end-to-end metrics from
an untraced run and per-layer metrics from a traced one.

    python3 perfbench/run.py --workload transcripts_uniform --seed 1 \\
        --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from --seed under .perfbench_work/, sets up a local Spark session
several times (the median is setup_s), times whole passes over the
workload's operations for --seconds, checks the outputs, and prints one
JSON object as its last line. --trace 1 prints the per-layer metrics
instead and writes the run's spans under .perfbench_runs/. The line
before it is a JSON record of host health (steal, spin rate, load).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import force  # noqa: E402

N_SETUP = 3
HEAP = "1g"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def per_layer_names(workloads) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric of these workload classes,
    in output order."""
    ops = []
    for w in workloads:
        ops += [o for o in w.op_names if o not in ops]
    names = []
    for op in ops:
        names += [
            (f"{op}.wall_s", "s"),
            (f"{op}.shuffle_mb", "MB"),
            (f"{op}.python_s", "s"),
            (f"{op}.arrow_mb", "MB"),
            (f"{op}.task_skew", "ratio"),
        ]
    kernels = []
    for w in workloads:
        kernels += [k for k in w.kernels if k not in kernels]
    names += [(f"kernel.{k}_ms", "ms") for k in kernels]
    names += [
        ("plans.bucket_s", "s"),
        ("plans.jobs_per_bucket", "count"),
        ("plans.output_mb", "MB"),
        ("cli.read_s", "s"),
        ("cli.write_s", "s"),
        ("cli.collect_s", "s"),
        ("cli.output_mb", "MB"),
        ("session.start_s", "s"),
        ("sources.load_s", "s"),
        ("jvm.gc_s", "s"),
        ("jvm.spill_mb", "MB"),
        ("pass.wall_s", "s"),
        ("trace.overhead_pct", "%"),
    ]
    return names


def kernel_timers(texts: list[str]) -> dict:
    """Kernel name -> zero-argument call on the fixed 4096-row batch."""
    import re

    import numpy as np

    from kmertools_spark.functions.tokenize import DEMO_VOCAB, batch_greedy_token_counts
    from kmertools_spark.oracle.hashing import minhash_batch
    from kmertools_spark.oracle.kernels import (
        SortedCountLookup,
        cgr_batch,
        composition_matrix,
        concat_codes,
        coverage_matrix,
        kmer_windows,
        minimiser_runs_batch,
        repetition_batch,
    )

    codes, _, _ = concat_codes(texts)
    _, f, r = kmer_windows(codes, 4)
    kmers, counts = np.unique(np.minimum(f, r).astype(np.int64), return_counts=True)
    lookup = SortedCountLookup(kmers, counts)
    clean = [re.sub("[^ACGTUacgtu]", "", t or "") for t in texts]
    vocab = list(DEMO_VOCAB)
    max_len = max(len(v) for v in vocab)
    return {
        "composition": lambda: composition_matrix(texts, 4),
        "coverage": lambda: coverage_matrix(texts, 4, lookup, 4, 8),
        "minimiser_runs": lambda: minimiser_runs_batch(texts, 8, 5),
        "cgr": lambda: cgr_batch(clean, 1.0),
        "minhash": lambda: minhash_batch(texts, 8),
        "token_counts": lambda: batch_greedy_token_counts(texts, vocab, max_len),
        "repetition": lambda: repetition_batch(texts, 4),
    }


def time_kernels(names, texts) -> dict[str, float]:
    calls = kernel_timers(texts)
    out = {}
    for name in names:
        fn = calls[name]
        fn()
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append((time.perf_counter() - t0) * 1e3)
        out[name] = statistics.median(ts)
    return out


def run_pass(ops, last: dict, tracer=None) -> tuple[float, int, dict]:
    """One pass over every operation; (wall, failed ops, per-op metrics).
    What each forced operation leaves (harness.force) is kept in `last`."""
    failed, per_op, walls = 0, {}, []
    t0 = time.perf_counter()
    for name, op in ops:
        t1 = time.perf_counter()
        try:
            if tracer is None:
                last[name] = force(op())
            else:
                per_op[name], last[name] = tracer.run_op(name, lambda: force(op()))
        except Exception:
            failed += 1
            log(f"operation {name} failed:\n{traceback.format_exc()}")
        walls.append(f"{name}={time.perf_counter() - t1:.2f}")
    log("pass " + " ".join(walls))
    return time.perf_counter() - t0, failed, per_op


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kmertools_spark", "__init__.py")):
        log(f"no kmertools_spark package under {root}: run from a checkout")
        return 2
    sys.path.insert(0, root)
    from pyspark.sql import DataFrame

    from harness import (
        HostHealth,
        PeakRss,
        ProcessTree,
        jvm_pid,
        local_cores,
        shutdown_jvm,
        start_session,
    )
    from tracing import Tracer

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # python workers import the package from the checkout, and every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(local_cores())

    host = HostHealth()
    wl = WORKLOADS[args.workload](work, args.seed)
    t_gen = time.perf_counter()
    wl.generate()
    log(f"generate {time.perf_counter() - t_gen:.2f}")
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        # session start plus loading and caching the inputs is repeated
        # N_SETUP times (the first also launches the JVM) and its median
        # taken; the warm pass, which brings up the Python workers and
        # lets codegen and the JIT settle, runs once, on the last session.
        # It caches what each operation returns, for the checks.
        starts, loads = [], []
        for i in range(N_SETUP):
            if spark is not None:
                wl.unload()
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, HEAP)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            wl.load(spark)
            starts.append(t1 - t0)
            loads.append(time.perf_counter() - t1)
        t0 = time.perf_counter()
        ops = wl.ops(spark)
        outs, checked = {}, {}
        for name, op in ops:
            out = op()
            if isinstance(out, DataFrame):
                out = out.cache()
            outs[name], checked[name] = out, force(out)
        warm = time.perf_counter() - t0
        setup_s = statistics.median(a + b for a, b in zip(starts, loads)) + warm
        log(f"session {[round(s, 2) for s in starts]} load {[round(s, 2) for s in loads]} "
            f"warm {warm:.2f}")

        t_chk = time.perf_counter()
        try:
            errors = wl.check(spark, outs)
        except Exception:
            errors = [f"check raised:\n{traceback.format_exc()}"]
        for out in outs.values():
            if isinstance(out, DataFrame):
                out.unpersist()
        log(f"checks {time.perf_counter() - t_chk:.2f}")

        # start the timed region from a collected heap in both processes
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        tree = ProcessTree(jvm_pid(spark))
        if tracer is not None:
            tracer.attach(spark, tree)
            _instrument(tracer)
        cpu0 = tree.snapshot()
        rss = PeakRss(tree)
        rss.start()
        plain, traced, traced_ops, cli_io, last = [], [], [], [], {}
        attempted = failed = 0
        t_start = time.perf_counter()
        while True:
            # a round is one untraced pass, plus one traced pass in a
            # traced run, so tracing overhead is measured in the same run
            wall, bad, _ = run_pass(ops, last)
            plain.append(wall)
            attempted, failed = attempted + len(ops), failed + bad
            if tracer is not None:
                io0 = _cli_times(tracer)
                wall, bad, per_op = run_pass(ops, last, tracer)
                traced.append(wall)
                traced_ops.append(per_op)
                cli_io.append([b - a for a, b in zip(io0, _cli_times(tracer))])
                attempted, failed = attempted + len(ops), failed + bad
            if time.perf_counter() - t_start >= args.seconds:
                break
        peak_mb = rss.stop()
        log("peak rss by process (MB): " + ", ".join(
            f"{'jvm' if p == tree.jvm_pid else 'driver' if p == os.getpid() else p}="
            f"{mb:.0f}" for p, mb in sorted(rss.peak_parts.items(), key=lambda x: -x[1])))
        cpu_s = ProcessTree.cpu_seconds(cpu0, tree.snapshot())
        log(f"passes {[round(p, 3) for p in plain]} traced {[round(p, 3) for p in traced]}")

        # the last timed run of each operation must have left what its
        # checked warm-pass run left
        errors += [
            f"{name}: a timed pass's output differs from the checked one"
            for name, want in checked.items()
            if name in last and last[name] != want
        ]
        for e in errors:
            log(f"CHECK FAILED: {e}")

        if tracer is None:
            rows_per_pass = wl.rows
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (rows_per_pass / statistics.median(plain), "1/s"),
                "cpu_s_per_krow": (cpu_s / (rows_per_pass * len(plain) / 1e3), "s"),
                "peak_rss_mb": (peak_mb, "MB"),
            }
        else:
            tracer.unwrap()
            metrics = _layer_metrics(
                wl, spark, list(WORKLOADS.values()), plain, traced, traced_ops, cli_io, last,
                starts, loads,
            )
            os.makedirs(os.path.join(root, ".perfbench_runs"), exist_ok=True)
            tracer.write(
                os.path.join(
                    root, ".perfbench_runs", f"{args.workload}-seed{args.seed}-spans.json"
                )
            )
        wl.unload()
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"shutdown {time.perf_counter() - t_stop:.2f}")

    health = host.finish(attempted, failed)
    print(json.dumps({"host": health, "workload": args.workload, "seed": args.seed}))
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _instrument(tracer) -> None:
    """Spans around the layer calls that happen inside operations."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kmertools_spark.plans import backfill
    from kmertools_spark.sources import fastx

    tracer.wrap(backfill.BackfillDriver, "run_bucket", "plans.bucket")
    tracer.wrap(fastx, "read_fastx", "cli.read")
    tracer.wrap(fastx, "write_vectors_text", "cli.write")
    # collect() runs the Spark job that computes what a writer writes;
    # its span is taken out of the writer's own time
    tracer.wrap(DataFrame, "collect", "spark.collect")


def _cli_times(tracer) -> tuple[float, float, float]:
    """Time so far in the FASTA/FASTQ reader, in the text writers less
    their collect() calls, and in those collect() calls."""
    collect = tracer.nested("cli.write", "spark.collect")
    return tracer.total("cli.read"), tracer.total("cli.write") - collect, collect


def _med(xs) -> float:
    """Median, or 0 when an operation failed in every traced pass."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(wl, spark, workloads, plain, traced, traced_ops, cli_io, last, starts, loads):
    med = _med
    values = {name: 0.0 for name, _ in per_layer_names(workloads)}
    for op in wl.op_names:
        for key in ("wall_s", "shuffle_mb", "python_s", "arrow_mb", "task_skew"):
            values[f"{op}.{key}"] = med(p[op][key] for p in traced_ops if op in p)
    values["jvm.gc_s"] = med(sum(m["gc_s"] for m in p.values()) for p in traced_ops)
    values["jvm.spill_mb"] = med(sum(m["spill_mb"] for m in p.values()) for p in traced_ops)
    values["session.start_s"] = med(starts)
    values["sources.load_s"] = med(loads)
    values["pass.wall_s"] = med(traced)
    values["trace.overhead_pct"] = 100.0 * (med(traced) - med(plain)) / med(plain)
    if "backfill_checkpointed" in last:
        manifest = wl.driver.metrics()
        values["plans.bucket_s"] = med(e["wall_ms"] for e in manifest) / 1e3
        values["plans.jobs_per_bucket"] = med(
            p["backfill_checkpointed"]["jobs"] for p in traced_ops if "backfill_checkpointed" in p
        ) / wl.BUCKETS
        values["plans.output_mb"] = wl.plans_output_mb()
    if hasattr(wl, "output_mb"):
        values["cli.read_s"] = med(r for r, _, _ in cli_io)
        values["cli.write_s"] = med(w for _, w, _ in cli_io)
        values["cli.collect_s"] = med(c for _, _, c in cli_io)
        values["cli.output_mb"] = wl.output_mb()
    texts = wl.kernel_texts(spark)
    for k, ms in time_kernels(wl.kernels, texts).items():
        values[f"kernel.{k}_ms"] = ms
    units = dict(per_layer_names(workloads))
    return {k: (v, units[k]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
