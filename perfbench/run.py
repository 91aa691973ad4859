"""Crawl-engine benchmark: one closed-loop workload per invocation.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload crawl_discover --seed 1 --seconds 5 --trace 0

Workloads (``workloads.py``): ``crawl_discover``, ``crawl_recrawl`` and
``query_mix``. ``--trace 0`` measures the end-to-end metrics with tracing
off; ``--trace 1`` replays the timed operations in a session with a Spark
event log and reports the per-layer metrics. Human-readable figures, each
with its unit and the base of every ratio, go to stdout first; the last
stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The run is sized from the host, outside the engine: ``local[nproc]``,
a driver heap taken from ``MemAvailable``, and all Spark scratch, temp
files and benchmark state under ``.perfbench_work/`` in the checkout.
Every process the run starts (the Spark JVM and its Python workers) is
stopped and waited for before it exits, also when it fails or is
terminated (``procs.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: contract metrics (BENCHMARK.json): every workload reports all of them.
#: On a shared host, wall time and, less so, CPU time grow with the share
#: of the host's CPU time the hypervisor steals for other guests (over ten
#: runs a pass of the query mix took 37-79 s and 109-140 CPU s at 1-24%
#: steal). So an operation's cost is its CPU time, summed over every
#: process of the run, times one less the steal share measured over the
#: operation (``*_adj``); set-up time is each set-up step's wall time
#: adjusted the same way. Over those ten runs, CPU time times one less
#: the run's steal share read 104-111 s a pass. The unadjusted figures
#: are per-layer, as is peak_rss_mb, because the JVM's high-water mark
#: follows the garbage collector's heap sizing and moved from 1.8 to
#: 3.0 GB between seeds.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_adj_p50_s": "s",
    "work_per_cpu_adj_s": "1/s",
}
SETUP_STEPS = ("session", "corpus", "bootstrap", "warmup")


def host_settings(cpus: int | None = None) -> dict:
    """Run sizing taken from the host. The driver heap is a quarter of
    MemAvailable, clamped to [1 GiB, 2 GiB] in 256 MiB steps: the engine's
    48g default would be OOM-killed on a small host, and the cap keeps the
    heap the same on any host with 8 GiB or more available."""
    cpus = cpus or len(os.sched_getaffinity(0))
    avail_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    heap = max(1024, min(2048, avail_mb // 4 // 256 * 256))
    return {"cpus": cpus, "driver_mem": f"{heap}m", "mem_available_mb": avail_mb}


def prepare_env(work: str, settings: dict) -> None:
    """Point every scratch path of Spark, the JVM and Python into ``work``
    and make the package importable in the Python workers."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = settings["driver_mem"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["SPARK_GRAFT_JVM_FLAGS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def _quiet_stop(spark) -> None:
    """Stop a session. Late task events in local mode race the closing
    accumulator socket and print benign stack traces; mute those loggers."""
    try:
        jvm = spark.sparkContext._jvm
        off = jvm.org.apache.logging.log4j.Level.OFF
        for logger in (
            "org.apache.spark.scheduler.DAGScheduler",
            "org.apache.spark.scheduler.TaskSetManager",
            "org.apache.spark.executor.Executor",
            "org.apache.spark.api.python.PythonAccumulatorV2",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(logger, off)
    except Exception:  # a different logging backend: keep the noise
        pass
    spark.stop()


class Sessions:
    """Starts and stops the run's Spark session with fixed sizing."""

    def __init__(self, settings: dict, partitions: int) -> None:
        self.settings, self.partitions = settings, partitions
        self.spark = None

    def start(self, extra_conf: dict | None = None):
        from hiispider_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        conf.update(extra_conf or {})
        self.spark = get_spark(
            app="perfbench",
            cpus=self.settings["cpus"],
            shuffle_partitions=self.partitions,
            extra_conf=conf,
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            _quiet_stop(self.spark)
            self.spark = None

    def restart(self, extra_conf: dict | None = None):
        self.stop()
        return self.start(extra_conf)


def _fmt(m) -> str:
    base = f"   ({m.base})" if m.base else ""
    return f"{m.value:.6g} {m.unit}{base}"


def run(workload: str, seed: int, seconds: float, trace: bool, scale, settings: dict,
        work: str):
    """Run one workload; returns (Result, contract metrics dict)."""
    from measure import RssSampler, Spans, host_cpu_ticks, steal_frac
    import workloads as W

    sessions = Sessions(settings, scale.buckets)
    ticks = host_cpu_ticks()
    spans = Spans()
    with RssSampler() as rss:
        with spans.span("setup.session") as session:
            spark = sessions.start()
        b = W.Bench(
            spark=spark, restart=sessions.restart, stop=sessions.stop,
            work=work, seed=seed, seconds=seconds, trace=trace, scale=scale, spans=spans,
        )
        try:
            res = W.WORKLOADS[workload](b)
        finally:
            rss.sample()
            peak, jvm = rss.peak_mb, rss.jvm_mb
            sessions.stop()
    res.outputs["steal_frac"] = steal_frac(ticks, host_cpu_ticks())
    res.setup_step("session", session)
    res.setup_s = sum(res.setup.get(k, 0.0) for k in SETUP_STEPS)
    setup_adj = sum(res.setup_adj.get(k, 0.0) for k in SETUP_STEPS)
    res.e2e["setup_s"] = W.Metric(setup_adj, "s", "wall s less host steal of " + " + ".join(
        f"{k} {res.setup_adj[k]:.2f}" for k in SETUP_STEPS if k in res.setup_adj
    ) + f"; wall {res.setup_s:.2f} s")
    res.e2e["peak_rss_mb"] = W.Metric(
        peak, "MB", f"JVM {jvm:.0f} MB + Python driver and workers {peak - jvm:.0f} MB, "
        "each process at its high-water mark")
    res.layer["peak_rss_mb"] = res.e2e["peak_rss_mb"]
    for k in ("session", "corpus", "warmup"):
        res.layer[f"setup.{k}_s"] = W.Metric(res.setup.get(k, 0.0), "s", "")
    res.layer["setup.bootstrap_share"] = W.Metric(
        res.setup.get("bootstrap", 0.0) / res.setup_s if res.setup_s else 0.0,
        "ratio", f"bootstrap {res.setup.get('bootstrap', 0.0):.2f} s / setup {res.setup_s:.2f} s",
    )
    b.spans.write(os.path.join(WORK_ROOT, "last", f"{workload}-seed{seed}-trace{int(trace)}-spans.json"))
    if not res.op_walls:
        return res, None
    res.layer["op_wall_p50_s"] = W.Metric(
        statistics.median(res.op_walls), "s", f"median of {len(res.op_walls)} operations")
    res.layer["work_per_s"] = W.Metric(
        res.outputs["work_per_s"].value, "1/s", res.outputs["work_per_s"].base)
    res.layer["op_cpu_p50_s"] = W.Metric(
        statistics.median(res.op_cpus), "s", f"median of {len(res.op_cpus)} operations")
    res.layer["work_per_cpu_s"] = W.Metric(
        res.outputs["work_per_cpu_s"].value, "1/s", res.outputs["work_per_cpu_s"].base)
    contract = {
        "setup_s": setup_adj,
        "op_cpu_adj_p50_s": statistics.median(res.op_cpus_adj),
        "work_per_cpu_adj_s": res.outputs["work_per_cpu_adj_s"].value,
    }
    return res, contract


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def counters_across_runs(res, workload: str, seed: int) -> None:
    """The first run of a seed records its epoch counters; later runs of
    the same seed must repeat them over the epochs both ran."""
    import checks

    counters = res.outputs.get("counters")
    if not counters:
        return
    rows = [{k: st.get(k) for k in ("epoch",) + checks.COUNTERS} for st in counters]
    path = os.path.join(
        WORK_ROOT, "counters", f"{workload}-seed{seed}.json"
    )
    if os.path.exists(path):
        with open(path) as f:
            res.check("counters_repeat_across_runs", checks.counters_repeat(json.load(f), rows))
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


def _exit_on_signal(signum, _frame):
    # a terminated run still goes through the ``finally`` that stops
    # every process it started
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(ROOT, "hiispider_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"error: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scale = W.Scale()
    settings = host_settings()
    work = os.path.join(WORK_ROOT, "run")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, settings)
    import procs

    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    try:
        res, contract = run(args.workload, args.seed, args.seconds, bool(args.trace),
                            scale, settings, work)
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    counters_across_runs(res, args.workload, args.seed)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"local[{settings['cpus']}] driver_mem={settings['driver_mem']} "
          f"(MemAvailable {settings['mem_available_mb']} MB) buckets={scale.buckets} "
          f"host_steal={res.outputs.get('steal_frac', 0.0):.1%}")
    for name, m in sorted(res.e2e.items()):
        print(f"e2e   {name:34s} {_fmt(m)}")
    print(f"e2e   {'failed_ops_frac':34s} {res.failed / max(1, res.attempted):.6g} ratio"
          f"   ({res.failed} failed / {res.attempted} attempted epochs, queries and checks)")
    for name, m in sorted(res.layer.items()):
        print(f"layer {name:34s} {_fmt(m)}")
    for phase, figs in res.outputs.get("trace_report", {}).items():
        print(f"spark {phase:34s} " + " ".join(f"{k}={v:.6g}" for k, v in figs.items()))
    for name in res.outputs.get("unchecked", []):
        print(f"note  {name} not value-checked: {W.UNCHECKED_QUERIES[name]}")
    for p in res.problems:
        print(f"FAIL  {p}")
    if contract is None:
        print("error: no timed operation completed", file=sys.stderr)
        return 1

    if args.trace:
        metrics = {}
        for name, unit in per_layer_units().items():
            m = res.layer.get(name)
            if m is None:
                # a layer this workload does not exercise reads 0; only
                # counts, bytes and ratios may, never a time
                if unit in ("s", "ms"):
                    print(f"error: traced replay did not measure {name}", file=sys.stderr)
                    return 1
                m = W.Metric(0, unit)
            metrics[name] = {"value": m.value, "unit": m.unit}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in contract.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
