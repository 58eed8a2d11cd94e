"""Layered benchmark of the OCR engine: one command, three workloads.

    python3 perfbench/run.py --workload ocr_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs the workload on
``local[nproc]`` as a closed loop (each pass starts when the previous
one finishes):

1. inputs from ``--seed`` (outside the set-up clock), then set-up
   (session start, corpus generation, cache or disk materialization),
   then one checked pass outside the timed region: outputs against the
   synthesizer's golden spans or the DuckDB oracles; it also warms the
   JIT and the Python workers;
2. more set-ups in the running session (``Workload.setups`` in all; one
   with ``--trace 1`` or ``--smoke``); then ``Workload.warmup`` untimed
   passes;
3. ``--trace 0``: timed passes for ``--seconds`` (at least
   ``Workload.min_passes``), reporting every end-to-end metric. ``--trace 1``:
   one pass probed through Spark's status store, then the per-layer
   probes, reporting every per-layer metric and writing the spans as
   JSON. ``trace.overhead_s`` is the time the tracing itself adds: the
   wrapped kernel sample over the plain one, plus the status-store
   probes.

The end-to-end metrics count CPU seconds of the whole engine (this
process, the JVM and its Python workers; ``probes.tree_cpu_s``), not
wall seconds, scaled to a fixed host speed. Time the vCPUs are stolen
or wait for a core is not charged: on 4 vCPUs, three busy processes
beside an ``ocr_extract`` run took its passes from 3.2-3.6 s to 5.9-6.0 s
of wall time, while their CPU time stayed at 12.5-12.9 s (12.0-13.5 s
alone). The host itself still runs code up to 1.7 times slower for
minutes at a time, with little steal showing, and that moves CPU time
as much as wall time. So a reference job that uses nothing of the
engine (``probes.reference_cpu_s``, one process per core) runs before
and after the timed passes, and every CPU time is multiplied by
``REFERENCE_S`` over its mean. Over six seeds on 4 vCPUs this took the
spread of ``ocr_extract``'s pass time from 0.20 of the median (0.18 for
wall time) to 0.07. ``cpu_s`` is the scaled median over the timed
passes, ``ops_per_cpu_s`` the pages (or queries) of a pass over it,
and ``setup_s`` the scaled median over the set-ups. Raw CPU and wall
times are printed per pass and kept in ``result.json``; the traced run
reports the wall time of its pass as ``pass.wall_s``.

Every pass prints its wall time, CPU time and noise stamps. The last line of
stdout is the result JSON; the exit code is 1 when an output is wrong or
an operation failed that was not planted to fail.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of every ``end_to_end`` or ``per_layer`` metric in
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def prepare_env(work: str, cores: int) -> None:
    """Keep the JVM, Spark's scratch space and Python temp files inside
    ``work``; size the session from the cores this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    # Spark already runs one task per core; BLAS threads on top of that
    # oversubscribe the cores, and OpenBLAS's idle threads spin, so a
    # pass's CPU time would rise with co-tenant load
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # every JVM, the spark-submit launcher included: no hsperfdata files,
    # and JIT compiler threads that live as long as the JVM, so
    # probes.tree_cpu_s can leave their time out
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


T0 = time.perf_counter()

# CPU seconds the reference job (probes.reference_cpu_s) takes per
# process at the host speed the end-to-end metrics are scaled to; on a
# 4-vCPU host it read 0.35-0.45 s
REFERENCE_S = 0.4


def progress(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def timed_pass(wl, spark, log=None) -> tuple[float, float, int, int, dict]:
    """(wall s, CPU s of the process tree, operations, failed, noise
    stamps) of one pass."""
    from probes import NoiseStamp, tree_cpu_s

    stamp = NoiseStamp()
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        ops, failed = wl.run_pass(spark, log)
    except Exception as exc:  # a pass that raises fails all its operations
        print(f"pass raised: {exc!r}"[:300], file=sys.stderr)
        ops, failed = wl.ops, wl.ops
    dt = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    noise = stamp.close()
    wl.cleanup()
    return dt, cpu, ops, failed, noise


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001-sized) and one set-up, for the self-test")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import probes

    cores = probes.nproc()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cores)
    try:
        from ocr_inference_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.smoke)
    wl.prepare()
    # setup_s is the median, so the first set-up, which starts the JVM and
    # the Python workers, does not set it
    setups = 1 if args.trace or args.smoke else wl.setups
    result: dict = {"workload": args.workload, "seed": args.seed, "nproc": cores}
    layer: dict[str, float] = {}
    spark = None
    # memory is a traced-run layer metric: the sampler's /proc walks stay
    # out of the timed runs
    rss = probes.RssSampler() if args.trace else contextlib.nullcontext()
    try:
        with rss:
            setup_s, setup_cpu = [], []
            for i in range(setups):
                if spark is not None:
                    wl.teardown()
                cpu0 = probes.tree_cpu_s()
                t0 = time.perf_counter()
                spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
                if i == 0:
                    # the first call starts the JVM and the context; later
                    # calls return the running session
                    layer["session.get_spark_s"] = time.perf_counter() - t0
                layer.update(wl.setup(spark))
                setup_s.append(time.perf_counter() - t0)
                setup_cpu.append(probes.tree_cpu_s() - cpu0)
                progress(f"setup {len(setup_s)}: {setup_s[-1]:.3f} s, {setup_cpu[-1]:.3f} CPU s")
                if i == 0:
                    # checked on the first set-up's inputs (later set-ups
                    # rebuild the same ones), so the check pass also warms
                    # the JIT and the Python workers before the timed passes
                    attempted, failed, mismatched = wl.check(spark)
                    progress(f"check: {mismatched} mismatched, {failed} failed "
                             f"of {attempted}")
            for _ in range(0 if args.smoke else wl.warmup):
                dt, cpu, _, _, _ = timed_pass(wl, spark)
                progress(f"warm-up pass: {dt:.3f} s, {cpu:.3f} CPU s")
            log = probes.StageLog(spark)
            walls, cpus, noises = [], [], []
            # the host's speed now, and again after the timed passes
            refs = [] if args.trace else [probes.reference_cpu_s(cores)]
            t_end = time.perf_counter() + args.seconds
            tracer = Tracer()
            if args.trace:
                rss.reset()
            # untraced: closed loop for --seconds, at least min_passes;
            # traced: one pass, probed through the status store
            while len(walls) < (1 if args.trace else wl.min_passes) or (
                not args.trace and time.perf_counter() < t_end
            ):
                mark = log.mark() if args.trace else None
                with tracer.span(f"{wl.name}.pass"):
                    dt, cpu, ops, f, noise = timed_pass(wl, spark, log if args.trace else None)
                walls.append(dt)
                cpus.append(cpu)
                noises.append(noise)
                attempted += ops
                failed += f
                print(f"pass {len(walls)} wall_s={dt:.4f} cpu_s={cpu:.3f} " + " ".join(
                    f"{k}={v}" for k, v in noise.items()), flush=True)

            if not args.trace:
                refs.append(probes.reference_cpu_s(cores))
            if args.trace:
                layer["process.peak_rss_mb"] = rss.peak_mb
                st = log.since(mark)
                layer.update({f"spark.{k}": v for k, v in st.items()})
                layer["spark.core_util"] = st["executor_run_s"] / (dt * cores)
                layer.update(wl.layers(spark, tracer, log, dt))
                attempted, failed, mismatched = (
                    a + b for a, b in zip((attempted, failed, mismatched), wl.layer_check)
                )
                # the kernel sample's traced-minus-untraced time (OCR
                # workloads) plus the time spent in status-store probes
                layer["trace.overhead_s"] = layer.get("trace.overhead_s", 0.0) + log.probe_s
                tracer.dump(os.path.join(work, "spans.json"))
            progress("measured")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        progress("stopped")

    q1, wall_s, q3 = quartiles(walls)
    c1, cpu_s, c3 = quartiles(cpus)
    correct = mismatched == 0 and failed == 0
    result.update(
        attempted=attempted, failed=failed, failed_frac=failed / max(attempted, 1),
        mismatch_count=mismatched, passes=len(walls),
        wall_s_quartiles=[q1, wall_s, q3], cpu_s_quartiles=[c1, cpu_s, c3],
        setup_wall_s=setup_s, setup_cpu_s=setup_cpu, noise=noises,
    )
    if args.trace:
        layer["pass.wall_s"] = wall_s
        values = layer
        if wl.name == "ocr_extract":
            r = layer["pipeline.layer_sum_ratio"]
            print(f"reconcile: recognize+reassemble = {r:.3f} x wall_s "
                  f"({'within' if abs(r - 1) <= 0.1 else 'OUTSIDE'} 10%); "
                  f"ms_per_page x pages / cores = {layer['page.ideal_parallel_s']:.3f} s "
                  f"vs recognize_pages {layer['pipeline.recognize_pages_s']:.3f} s")
    else:
        speed = REFERENCE_S / statistics.mean(refs)
        result.update(reference_s=refs, speed=speed)
        values = {
            "setup_s": statistics.median(setup_cpu) * speed,
            "cpu_s": cpu_s * speed,
            "ops_per_cpu_s": wl.ops / (cpu_s * speed),
        }
    units = metric_units("per_layer" if args.trace else "end_to_end")
    # a layer the workload does not run reads 0
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    result.update(metrics=metrics)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(f"workload={wl.name} seed={args.seed} nproc={cores} passes={len(walls)} "
          f"wall_s p25/p50/p75={q1:.4f}/{wall_s:.4f}/{q3:.4f} "
          f"cpu_s p25/p50/p75={c1:.3f}/{cpu_s:.3f}/{c3:.3f} "
          f"failed_frac={result['failed_frac']:.4g} mismatch_count={mismatched}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
