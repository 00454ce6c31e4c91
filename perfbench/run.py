"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (untimed, before Spark starts);
2. sets up (``setup_s``): imports the package, launches the JVM, starts
   the SparkSession and runs the workload's first action;
3. runs one cold pass over the workload's items, a warm-up pass, then
   steady passes until ``--seconds`` have gone by since the cold pass (at
   least ``min_passes``), checking every output outside the timed region;
   the share of CPU time the hypervisor stole (``steal_share``) is recorded
   for set-up, each pass and each item, steady times come from the
   samples it stole least from (``Run.item_times``), and a run whose
   figures include more steal than ``steal_limit`` is flagged;
4. prints a record line, then as the last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Spark settings are pinned in ``spec.json``; ``nproc`` is the number of
cores this process may use and is printed with every record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SPEC = json.loads((HERE / "spec.json").read_text())
BENCHMARK = REPO / "BENCHMARK.json"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(cores: int) -> tuple[str, int, dict[str, str]]:
    conf = dict(SPEC["spark"])
    master = conf.pop("master").replace("nproc", str(cores))
    partitions = int(conf.pop("spark.sql.shuffle.partitions").replace("nproc", str(cores)))
    return master, partitions, conf


def start_spark(cores: int, tmp: Path):
    """The session, with every scratch file (Spark's local dir, the JVM's
    and Python's temp files) kept under ``tmp``."""
    from etl_ml_pipeline_spark.session import get_spark

    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    master, partitions, conf = spark_conf(cores)
    conf["spark.local.dir"] = str(tmp)
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(app_name="perfbench", master=master, shuffle_partitions=partitions, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# Columns of the first /proc/stat line: user nice system idle iowait irq softirq steal ...
_BUSY, _STEAL = (0, 1, 2, 5, 6), 7


def cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine's busy cores asked for that the
    hypervisor gave to other guests, steal / (busy + steal); 0.0 where
    there is no steal. Recorded beside the times, never applied to them:
    on a shared virtual machine a neighbour's busy spell can take a
    quarter of the CPU for minutes, and a run in such a spell is slower
    by a share this figure shows but does not measure."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d[i] for i in _BUSY)
    steal = d[_STEAL] if len(d) > _STEAL else 0
    return steal / (busy + steal) if busy + steal else 0.0


class Run:
    """One benchmark run: set-up, a cold pass, a warm-up pass, steady passes."""

    def __init__(self, workload, seconds: float) -> None:
        self.wl = workload
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict[str, float]] = []  # item -> wall seconds
        self.item_steal: list[dict[str, float]] = []  # item -> steal share while it ran
        self.pass_steal: list[float] = []
        self.rows: list[int] = []
        self.layers: list[dict[str, float]] = []
        self.setup_s = self.setup_steal = 0.0

    def set_up(self, cores: int, tmp: Path):
        """Package import, JVM launch, session start and the workload's
        first action: what a fresh process pays before its first item."""
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        import etl_ml_pipeline_spark.plugins  # noqa: F401  (fills the registries)
        from etl_ml_pipeline_spark.engine import PipelineEngine

        self.wl.engine_cls = PipelineEngine
        spark = start_spark(cores, tmp)
        self.wl.first_action(spark)
        self.setup_s = time.perf_counter() - t0
        self.setup_steal = steal_share(ticks, cpu_ticks())
        return spark

    def one_pass(self, spark, tracer, probe) -> None:
        wl = self.wl
        wl.begin_pass()
        times: dict[str, float] = {}
        steal: dict[str, float] = {}
        rows = 0
        if tracer is not None:
            tracer.run_id = len(self.passes)
        ticks = cpu_ticks()
        for item in wl.items:
            wl.stage_item(item)
            self.attempted += 1
            item_ticks = cpu_ticks()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows += wl.run_item(spark, item, None)
                else:
                    with tracer.span("bench.item"):
                        rows += wl.run_item(spark, item, tracer)
            except Exception as exc:  # noqa: BLE001 - a failed item is counted, the run goes on
                times[item] = time.perf_counter() - t0
                steal[item] = steal_share(item_ticks, cpu_ticks())
                self.failed += 1
                self.errors.append(f"{item}: {type(exc).__name__}: {exc}"[:500])
                continue
            times[item] = time.perf_counter() - t0
            steal[item] = steal_share(item_ticks, cpu_ticks())
            if not wl.check_item(item):
                self.failed += 1
                self.errors.append(f"{item}: wrong output")
        self.pass_steal.append(steal_share(ticks, cpu_ticks()))
        try:
            wrong = wl.end_pass()
        except Exception as exc:  # noqa: BLE001 - an unreadable output is a wrong output
            wrong = [f"end of pass: {type(exc).__name__}: {exc}"[:500]]
        self.failed += len(wrong)
        self.errors.extend(f"{w}: wrong output" for w in wrong)
        self.passes.append(times)
        self.item_steal.append(steal)
        self.rows.append(rows)
        if tracer is not None:
            self.layers.append(self.layer_metrics(tracer, probe))

    def measure(self, spark, tracer=None, probe=None) -> None:
        """The cold pass, then warm-up and steady passes until ``seconds``
        have gone by (at least ``min_passes`` steady ones). The JIT is
        still compiling in the pass after the cold one, so that pass is
        not counted."""
        self.one_pass(spark, tracer, probe)
        t0 = time.perf_counter()
        while len(self.steady(self.passes)) < SPEC["min_passes"] or time.perf_counter() - t0 < self.seconds:
            self.one_pass(spark, tracer, probe)

    @staticmethod
    def steady(per_pass: list) -> list:
        return per_pass[1 + SPEC["warmup_passes"]:]

    # ------------------------------------------------------------------
    def item_times(self) -> dict[str, float]:
        """Each item's steady time: the median of its steady samples taken
        while the hypervisor took at most ``steal_limit`` of the CPU time,
        or, where no sample was that clean, the sample it took the least
        from. Every value is a measured wall time."""
        out = {}
        for item in self.wl.items:
            samples = [(p[item], s[item]) for p, s in
                       zip(self.steady(self.passes), self.steady(self.item_steal))]
            clean = [t for t, share in samples if share <= SPEC["steal_limit"]]
            out[item] = statistics.median(clean) if clean else min(samples, key=lambda x: x[1])[0]
        return out

    def end_to_end(self, peak_rss_kb: int) -> dict[str, float]:
        times = self.item_times()
        wall = sum(times.values())
        # Percentiles across the items of each item's time: pooling every
        # sample would put the median in the gap between unlike items.
        q = statistics.quantiles(times.values(), n=4, method="inclusive")
        return {
            "setup_s": self.setup_s,
            "wall_s": wall,
            "cold_wall_s": sum(self.passes[0].values()),
            "rows_per_s": statistics.median(self.steady(self.rows)) / wall,
            "batch_commit_s.p50": q[1],
            "batch_commit_s.p75": q[2],
            "peak_rss_mb": peak_rss_kb / 1024.0,
        }

    def layer_metrics(self, tracer, probe) -> dict[str, float]:
        from tracing import layer_of

        selfs = tracer.self_times(tracer.run_id)
        by_layer: dict[str, float] = {}
        for name, t in selfs.items():
            by_layer[layer_of(name)] = by_layer.get(layer_of(name), 0.0) + t
        m = probe.pass_metrics(tracer)
        counts = self.wl.layer_counts()
        scan_rows = m.pop("scan_rows")
        has_sources = "sources" in by_layer
        m.update({
            "config.load_s": by_layer.get("config", 0.0),
            "sources.extract_s": by_layer.get("sources", 0.0),
            "sources.scan_rows": scan_rows if has_sources else 0.0,
            "sources.cursor_useful_ratio": (
                counts["useful_rows"] / scan_rows if "useful_rows" in counts and scan_rows else 0.0
            ),
            "operators.build_s": by_layer.get("operators", 0.0),
            "engine.cursor_s": selfs.get("engine.extract_stage", 0.0),
            "engine.retries": tracer.retries,
            "sinks.load_s": by_layer.get("sinks", 0.0),
            "sinks.rows_written": counts.get("sinks.rows_written", 0),
            "sinks.bytes_written": counts.get("sinks.bytes_written", 0),
            "state.commit_s": by_layer.get("state", 0.0),
            "queries.build_s": selfs.get("queries.build", 0.0),
            "queries.collect_s": selfs.get("queries.collect", 0.0),
            "queries.result_bytes": counts.get("queries.result_bytes", 0),
            "trace.other_s": selfs.get("bench.item", 0.0) + selfs.get("engine.run", 0.0),
        })
        tracer.retries = 0
        m["sinks.rows_per_s"] = m["sinks.rows_written"] / m["sinks.load_s"] if m["sinks.load_s"] else 0.0
        return m


def per_layer(run: Run, names: list[str]) -> dict[str, float]:
    steady = run.steady(run.layers)
    out = {n: statistics.median(p.get(n, 0.0) for p in steady) for n in names}
    out["trace.wall_s"] = sum(run.item_times().values())
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = json.loads(BENCHMARK.read_text())
    if not (REPO / "etl_ml_pipeline_spark").is_dir():
        print("etl_ml_pipeline_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = nproc()
    work = REPO / ".perfbench_work" / f"{args.workload}-{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[args.workload](SPEC["workloads"][args.workload], work)
    wl.prepare(args.seed)

    run = Run(wl, args.seconds)
    ticks = cpu_ticks()
    spark = run.set_up(cores, work / "tmp")
    rss_kb: dict[str, int] = {}
    try:
        if args.trace:
            from tracing import SparkProbe, Tracer, instrument

            tracer = Tracer(spark)
            probe = SparkProbe(spark)
            with instrument(tracer) as engine_cls:
                wl.engine_cls = engine_cls
                run.measure(spark, tracer, probe)
            probe.close()
            tracer.dump(work / "spans.jsonl")
            names = [m["name"] for m in bench["per_layer"]]
            metrics = per_layer(run, names)
        else:
            run.measure(spark)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            rss_kb = {"driver": vm_hwm_kb("self"), "jvm": vm_hwm_kb(jvm_pid)}
            metrics = run.end_to_end(sum(rss_kb.values()))
            names = [m["name"] for m in bench["end_to_end"]]
    finally:
        steal = steal_share(ticks, cpu_ticks())
        stop_spark(spark)
        for child in work.iterdir():  # keep only the spans; inputs and outputs can be rebuilt
            if child.is_dir():
                shutil.rmtree(child)
            elif child.name != "spans.jsonl":
                child.unlink()

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    limit = SPEC["steal_limit"]
    dirty = [i for i in wl.items if all(s[i] > limit for s in run.steady(run.item_steal))]
    flagged = run.setup_steal > limit or run.pass_steal[0] > limit or bool(dirty)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "spark": spark_conf(cores), "steal_share": steal, "setup_steal": run.setup_steal,
        "pass_steal": run.pass_steal, "items_over_steal_limit": dirty, "steal_flagged": flagged,
        "pass_s": [sum(p.values()) for p in run.passes],
        "item_cold_s": run.passes[0], "item_s": run.item_times(),
        "peak_rss_kb": rss_kb, "errors": run.errors,
    }
    if flagged:
        print(f"warning: the hypervisor took more than {limit:.0%} of the CPU time asked for"
              f" during set-up ({run.setup_steal:.0%}), the cold pass ({run.pass_steal[0]:.0%})"
              f" or every steady sample of {dirty}; those times are inflated", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
