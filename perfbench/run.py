"""Benchmark of the extraction engine and its daily chain.

    python3 perfbench/run.py --workload extract_media --seed 1 --seconds 10 --trace 0

Runs one workload (``perfbench/workloads.py``) on the engine of the checkout
this file sits in, and prints as the last line of stdout one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same passes with spans recorded,
then the layer probes, reports the per-layer metrics and writes the spans to
``.perfbench/traces/<workload>-s<seed>.json``.

A run:
1. generates the seeded inputs, once per (workload, seed), into
   ``.perfbench/`` (``perfbench/inputs.py``; the first run in a checkout
   also builds the full corpus, in a child process with its own JVM) — the
   input step, excluded from every metric;
2. starts the session, for extraction broadcasts the weights and estimates
   the decode groups, and runs ``WARMUP_PASSES`` passes: ``setup_s``;
3. runs passes until their summed wall reaches ``--seconds``, and at least
   ``MIN_TIMED_PASSES``: the timed window. ``docs_per_s`` is the median over
   its passes of docs output ÷ pass wall. A traced run instead runs
   ``TRACE_PAIRS`` pairs of a traced and an untraced pass, whatever their
   wall, then the layer probes;
4. checks every pass's output, warm-up passes included; a pass that raises
   or outputs anything else counts as failed and as 0 docs.

Every wall (pass walls and ``setup_s``) has the host's stolen CPU time per
CPU subtracted (``trace.StealClock``): on a shared virtual machine the
hypervisor hands 0–30 % of the CPUs to other guests, and that loss is not
the engine's. ``peak_rss_mb`` is the peak summed RSS of the JVM, the
PySpark daemon and its Python workers during a warm pass, median over the
timed passes: the memory a steady run holds. The cold warm-up passes' peak
is reported by the traced run (``rss.warmup_peak_mb``).

Runtime settings, fixed here and written into every trace: ``local[nproc]``
with one BLAS/OpenMP thread per Python worker (task slots × BLAS threads =
nproc; the numpy build's OpenBLAS caps at 2), the driver heap bounded at
``DRIVER_MEM`` and managed by the serial collector, a private
``SPARK_LOCAL_DIRS``/``TMPDIR`` under ``.perfbench/run-<pid>`` that is deleted
when the run ends, a fresh output dir per pass, and
``spark.catalog.clearCache()`` after every pass.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")

# Passes run before the timed window (4-vCPU host). The first pass of a run
# takes 2-3 times the second (extract_media 10.7 s, then 5.8, 6.0 s;
# daily_text 25.5 s, then 10.1, 9.2 s). After it, walls keep falling slowly
# as the JIT compiles more: daily_text passes reach 0.6 of the second pass's
# wall only after 18 passes. One warm-up pass is what the time budget of 22
# runs per workload allows; every run times the same passes.
WARMUP_PASSES = {"extract_media": 1, "daily_text": 1}
DRIVER_MEM = "2g"
# The timed window holds at least this many passes, so that docs_per_s is a
# median even when one pass outlasts --seconds.
MIN_TIMED_PASSES = 2
# Traced and untraced passes a traced run alternates, for trace.overhead_frac.
# Pass walls still fall over these passes, and the probes measured after
# more of them add up closer to the passes around the probes (extract_media
# seed 506: 1.20 of the pass after 1 pair, 1.08 after 2). daily_text runs 1
# pair: with 3, a traced run takes about 130 s of its 180 s limit.
TRACE_PAIRS = {"extract_media": 2, "daily_text": 1}
# The held-out seed: nothing in the engine or the benchmark is tuned on it;
# a claimed gain is confirmed on it last. Its daily partition (7919 % 16 = 15)
# is none of the tuning seeds 101-110's.
HELD_OUT_SEED = 7919
# The timed window ends early, and the traced passes and layer probes stop
# repeating, rather than let a run outlast its 180 s limit.
RUN_DEADLINE_S = 150.0
PROBE_DEADLINE_S = 100.0

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import DAILY_KEYS, EXTRACT_KEYS, KERNEL_KEYS

    units = {}
    for k in ("session.start_s", *EXTRACT_KEYS, *KERNEL_KEYS, *DAILY_KEYS):
        if k.endswith("_s") or "_s." in k or k == "reassemble.s":
            units[k] = "s"
        elif k.endswith("_frac"):
            units[k] = "ratio"
        else:
            units[k] = "count"
    units.update({
        "layers.sum_over_e2e": "ratio",
        "trace.overhead_frac": "ratio",
        "host.steal_frac": "ratio",
        "rss.warmup_peak_mb": "MB",
        "rss.window_peak_mb": "MB",
    })
    return units


def settings(cores: int, run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    return {
        "master": f"local[{cores}]",
        "warmup_passes": WARMUP_PASSES,
        "env": {
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "OPENBLAS_NUM_THREADS": "1",
            "OMP_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": ROOT,
        },
        "spark": {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # No hsperfdata file: HotSpot writes it under /tmp whatever
            # java.io.tmpdir says. The serial collector sizes the heap from
            # the data live after each collection, so RSS follows what the
            # engine holds; G1 sizes it from its GC-time goal, which moved
            # the JVM's RSS by ±10 % from run to run on the same input.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC"),
        },
    }


def apply_env(cfg: dict) -> None:
    """Runs before numpy or pyspark is imported: BLAS reads its thread count
    when it loads, the JVM its heap when it launches."""
    os.environ.update(cfg["env"])
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(cfg["env"][key], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def clean_stale_runs() -> None:
    """Delete the scratch dirs of earlier runs whose process is gone."""
    for d in os.listdir(CACHE) if os.path.isdir(CACHE) else []:
        if (d.startswith("run-") or ".tmp-" in d) and not os.path.exists(
                f"/proc/{d.rsplit('-', 1)[1]}"):
            shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def fmt(walls: list[float]) -> str:
    return "[" + ", ".join(f"{w:.2f}" for w in walls) + "] s"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="a few docs per pass (smoke test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt the expected output so every pass fails (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "latex_ocr_spark")):
        print(f"perfbench: no engine package beside {os.path.dirname(os.path.abspath(__file__))};"
              " run it from the root of a checkout", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    cfg = settings(cores, run_dir)
    clean_stale_runs()
    apply_env(cfg)
    try:
        return measure(args, cfg, cores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cfg: dict, cores: int, run_dir: str) -> int:
    from perfbench import inputs
    from perfbench.trace import RssSampler, StealClock, Tracer, stop_spark
    from perfbench.workloads import WORKLOADS, median

    clock = StealClock(cores)
    run_start = (T0, clock.start()[1])
    wl_cls = WORKLOADS[args.workload]
    t_in = clock.start()
    corpus = inputs.ensure(CACHE, args.workload, args.seed, tiny=args.tiny,
                           spark_conf=cfg["spark"])
    expected = wl_cls.load_expected(corpus, wrong=args.inject_wrong)
    input_s = clock.lap(t_in)[1]
    cfg["env"]["SPARK_CONF_DIR"] = os.environ["SPARK_CONF_DIR"] = inputs.spark_conf_dir(CACHE)
    if os.path.exists(inputs.class_archive(CACHE)):
        cfg["spark"]["spark.driver.extraJavaOptions"] += (
            f" -XX:SharedArchiveFile={inputs.class_archive(CACHE)}")

    tracer = Tracer(enabled=bool(args.trace))
    tally = {"attempted": 0, "failed": 0}
    t_s = clock.start()
    with tracer.span("session.start"):
        from latex_ocr_spark.session import get_spark

        spark = get_spark("perfbench", cores=cores, extra=cfg["spark"])
    session_s = clock.lap(t_s)[1]
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # the gateway process is the JVM; the Python workers are below it
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            wl = wl_cls(spark, tracer, corpus, run_dir, expected)
            wl.deadline = T0 + PROBE_DEADLINE_S

            def run_checked(i: int) -> tuple[float, float, int]:
                """(wall, wall less steal, docs output) of pass i."""
                tally["attempted"] += 1
                t0 = clock.start()
                try:
                    with tracer.span("pass", i=i):
                        wl.run_pass(i)
                    wall, net = clock.lap(t0)
                    n_docs, ok = wl.check(i)
                except Exception:  # a failed pass is a result, not a crash
                    traceback.print_exc()
                    (wall, net), n_docs, ok = clock.lap(t0), 0, False
                if not ok:
                    tally["failed"] += 1
                spark.catalog.clearCache()
                wl.discard(i - 1)  # keep the newest output for the probes
                return wall, net, n_docs if ok else 0

            with tracer.span("setup"):
                wl.setup()
                warm = [run_checked(i)[1] for i in range(WARMUP_PASSES[args.workload])]
            setup_s = clock.lap(run_start)[1] - input_s

            walls, nets, rates, traced, pass_rss = [], [], [], [], []
            i = len(warm)

            def more() -> bool:
                if args.trace:  # past the probe deadline, one pair will do
                    return len(walls) < 2 or (len(walls) < 2 * TRACE_PAIRS[args.workload]
                                              and time.perf_counter() - T0 < PROBE_DEADLINE_S)
                return len(walls) < MIN_TIMED_PASSES or (
                    sum(nets) < args.seconds and time.perf_counter() - T0 < RUN_DEADLINE_S)

            while more():
                # a traced run alternates traced and untraced passes, so the
                # tracing overhead is measured within one process
                tracer.enabled = bool(args.trace) and (i - len(warm)) % 2 == 0
                rss.mark(f"pass-{i}")
                wall, net, n_docs = run_checked(i)
                pass_rss.append(rss.peaks.get(f"pass-{i}", 0.0))
                walls.append(wall)
                nets.append(net)
                rates.append(n_docs / net)
                traced.append(tracer.enabled)
                i += 1
            tracer.enabled = bool(args.trace)
            print(f"perfbench: {args.workload} s{args.seed}: input {input_s:.2f} s, "
                  f"session {session_s:.2f} s, warm-up passes {fmt(warm)}, timed passes "
                  f"{fmt(nets)} (walls {fmt(walls)}), peak RSS warm-up "
                  f"{rss.peaks.get('start', 0.0):.0f} MB, passes "
                  f"[{', '.join(f'{m:.0f}' for m in pass_rss)}] MB", file=sys.stderr)

            if args.trace:
                rss.mark("probes")
                with tracer.span("probes"):
                    layers = wl.probes(i - 1)
                # the probes' sum is compared with the passes around them
                walls.append(run_checked(i)[0])
        warmup_rss = rss.peaks.get("start", 0.0)
    finally:
        stop_spark(spark)

    if not args.trace:
        metrics = {
            "docs_per_s": median(rates),
            "setup_s": setup_s,
            "peak_rss_mb": median(pass_rss),
        }
        units = END_TO_END
    else:
        parts = wl.layer_parts(layers)
        # Pass walls keep falling while the probes run (JIT), so the probes
        # are compared with the mean of the passes just before and after them.
        e2e = (walls[-2] + walls[-1]) / 2
        on = [r for r, t in zip(rates, traced) if t]
        off = [r for r, t in zip(rates, traced) if not t]
        metrics = {
            "session.start_s": session_s,
            **layers,
            "layers.sum_over_e2e": sum(parts.values()) / e2e,
            # a failed untraced pass reads 0 docs/s
            "trace.overhead_frac": 1 - median(on) / median(off) if median(off) else 0.0,
            "host.steal_frac": 1 - sum(nets) / sum(walls[:len(nets)]),
            "rss.warmup_peak_mb": warmup_rss,
            "rss.window_peak_mb": max(pass_rss),
        }
        units = per_layer_units()
        largest = max(parts, key=parts.get)
        print(f"perfbench: {args.workload} s{args.seed}: largest layer {largest} "
              f"{parts[largest]:.3f} s of a {e2e:.3f} s pass; the layers sum to "
              f"{metrics['layers.sum_over_e2e']:.3f} of the pass", file=sys.stderr)
        tracer.write(
            os.path.join(CACHE, "traces", f"{args.workload}-s{args.seed}.json"),
            extra={"settings": cfg, "metrics": metrics, "layer_parts": parts,
                   "largest_layer": largest, "warmup_s": warm, "pass_s": nets},
        )
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
