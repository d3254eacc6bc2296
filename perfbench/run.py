"""TLMC end-to-end benchmark.

    python3 perfbench/run.py --workload similar_tracks --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from
--seed, sets up once from cold (JVM launch, session, the workload's
first operations as warm pass), runs the workload as a closed loop for
--seconds, checks every operation's outputs and prints one JSON object
as the last line of stdout. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json; with --trace 1 untraced and traced
steps alternate for twice --seconds and the metrics are the per-layer
ones. Everything the run writes goes under .perfbench_work/
in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

from spans import NULL_TRACER, RssSampler, Tracer, median, process_tree, tail_percentile
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def pin_host(work: str) -> dict:
    """Environment for the Spark driver and its Python workers; returns
    the host stamp. Must run before pyspark launches the JVM."""
    nproc = len(os.sched_getaffinity(0))
    # one core stays free for the driver JVM's own threads and the Python
    # driver, so task threads do not compete with the scheduling they wait on
    cpus = max(1, nproc - 1)
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the driver's heap is committed and touched at its full size up
    # front, so G1's heap-sizing decisions, which differ from run to run,
    # do not move its RSS
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    for d in (conf_dir, tmp):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n")
        # no hsperfdata under /tmp; JVM temp files stay in the work dir
        fh.write(f"spark.driver.extraJavaOptions {driver_opts}\n")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_CONF_DIR=conf_dir,
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the short-lived JVM spark-submit starts first
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
    )
    tempfile.tempdir = tmp
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": nproc,
        "spark_cores": cpus,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory": DRIVER_MEMORY,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
    }


class Session:
    """The benchmark's one Spark session."""

    def __init__(self):
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from tlmc_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it and its workers."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        pids = process_tree(self.jvm_pid) if self.jvm_pid is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a gateway cut mid-call; the JVM goes below
                traceback.print_exc()
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)


def timed_loop(wl, spark, tracer, seconds: float, k0: int, on_step=None, max_steps: int = 0):
    """Closed loop: steps run back to back until `seconds` have passed
    (or, with `max_steps`, that many steps ran) or the generated step
    inputs run out; a failed step ends the loop.
    Returns (items per second of each step, step walls, latencies,
    failures, next step index)."""
    rates, walls, lats, failed = [], [], [], 0
    k = k0
    start = time.perf_counter()
    while (k - k0 < max_steps if max_steps else time.perf_counter() - start < seconds) and wl.has_next(k):
        t0 = time.perf_counter()
        try:
            n, lat = wl.step(spark, tracer, k)
        except Exception:
            traceback.print_exc()
            failed += 1
            k += 1
            break
        wall = time.perf_counter() - t0
        rates.append(n / wall)
        walls.append(wall)
        lats.append(wall if lat is None else lat)
        if on_step is not None:
            on_step(k)
        wl.after_step(k)
        k += 1
    return rates, walls, lats, failed, k


def layer_metrics(tracer, wl, step_ranges, traced_ks, setup_range, overhead: float, spec) -> tuple[dict, dict]:
    """Per-layer metrics: for each span name and measure, the median over
    traced steps of the per-step total; set-up spans come from the one
    set-up. Returns BENCHMARK.json's per-layer metrics, in which a span
    no step entered reads 0, and every measured value."""

    def totals(lo, hi):
        acc: dict[str, float] = {}
        for i in range(lo, hi):
            sp = tracer.spans[i]
            vals = {"busy_s": sp.busy_s, "self_s": sp.self_s, **tracer.inclusive(i)}
            for m, v in vals.items():
                acc[f"{sp.name}.{m}"] = acc.get(f"{sp.name}.{m}", 0.0) + v
        return acc

    steps = [totals(lo, hi) for lo, hi in step_ranges + [setup_range]]
    values = {n: median(s[n] for s in steps if n in s) for n in sorted(set().union(*steps))}
    if step_ranges:
        values.update(wl.layer_extras(tracer, step_ranges, traced_ks))
    values["trace.overhead_frac"] = overhead
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    return metrics, values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _bench_spec()
    # the engine must be importable before anything is generated or timed
    sys.path.insert(0, ROOT)
    import tlmc_etl_spark.session  # noqa: F401

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = Session()
    try:
        host = pin_host(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        t0 = time.perf_counter()
        wl.generate(wl.steps_needed(args.seconds, 2 if args.trace else 1))
        generate_s = time.perf_counter() - t0

        # set-up, once and from cold: JVM launch, session, warm pass
        tracer = Tracer() if args.trace else NULL_TRACER
        attempted, failed, k = 1, 0, None
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.start()
        tracer.bind(spark, session.jvm_pid)
        try:
            with tracer.span("session.warm_pass"):
                k = wl.warm(spark)
        except Exception:
            traceback.print_exc()
            failed += 1
        setup_s = time.perf_counter() - t0
        tracer.collect()
        setup_range = (0, len(tracer.spans))
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        host["pyspark"] = spark.version

        rates, walls, lats, walls_t, step_ranges, traced_ks = [], [], [], [], [], []
        peak_rss = peak_jvm_rss = 0.0
        if k is not None:
            wl.after_warm()
        if k is not None and not args.trace:
            with RssSampler(session.jvm_pid) as rss:
                rates, walls, lats, failed_u, k = timed_loop(wl, spark, NULL_TRACER, args.seconds, k)
            peak_rss = rss.peak / (1024.0 * 1024.0)
            peak_jvm_rss = rss.peak_root / (1024.0 * 1024.0)
            attempted += len(walls) + failed_u
            failed += failed_u
        elif k is not None:
            # untraced and traced steps alternate, so both sides of the
            # overhead ratio sit at the same point of the run's warm-up
            def mark(k_step):
                lo = step_ranges[-1][1] if step_ranges else setup_range[1]
                tracer.collect(lo)
                step_ranges.append((lo, len(tracer.spans)))
                traced_ks.append(k_step)

            start = time.perf_counter()
            while time.perf_counter() - start < 2 * args.seconds and wl.has_next(k):
                traced = len(walls_t) < len(walls)
                undo = wl.patches(tracer) if traced else []
                try:
                    _, w, _, f, k = timed_loop(wl, spark, tracer if traced else NULL_TRACER, 0.0, k,
                                               on_step=mark if traced else None, max_steps=1)
                finally:
                    for u in undo:
                        u()
                (walls_t if traced else walls).extend(w)
                attempted += len(w) + f
                failed += f
                if f:
                    break

        t0 = time.perf_counter()
        if k is not None:
            try:
                wl.verify(spark)
            except Exception:
                traceback.print_exc()
                failed += 1
                attempted += 1
        verify_s = time.perf_counter() - t0
        bad = [(name, n) for name, n in wl.checks if n]
        for name, n in bad:
            print(f"check failed: {name}: {n} bad", file=sys.stderr)
        attempted += len(wl.checks)
        failed += len(bad)
        correct = failed == 0

        # a failed run still reports what it measured; figures of work
        # that never committed read 0
        if args.trace:
            overhead = median(walls_t) / median(walls) - 1.0 if walls and walls_t else 0.0
            metrics, layers = layer_metrics(tracer, wl, step_ranges, traced_ks, setup_range, overhead, spec)
            info = {"traced_steps": len(walls_t), "untraced_steps": len(walls),
                    "trace_overhead_frac": overhead, "layers": layers}
        else:
            tail, pct = tail_percentile(lats) if lats else (0.0, 100.0)
            values = {
                "setup_s": setup_s,
                "items_per_s": median(rates),
                "latency_p50_s": median(lats),
                "latency_tail_s": tail,
                "stored_bytes_per_item": wl.stored_bytes_per_item() if walls else 0.0,
                "peak_rss_mb": peak_rss,
            }
            metrics = {
                m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in spec["end_to_end"]
            }
            info = {
                "item": wl.item_unit, "step_rates": rates, "steps": len(walls),
                "timed_wall_s": sum(walls), "step_walls_s": walls,
                "latency_tail_percentile": pct, "latency_samples": len(lats),
                "peak_jvm_rss_mb": peak_jvm_rss,
            }
        info.update(failed_frac=failed / attempted, generate_s=generate_s, verify_s=verify_s,
                    workload=args.workload, seed=args.seed, host=host)
        print(json.dumps({"info": info}, ensure_ascii=False))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        try:
            session.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
