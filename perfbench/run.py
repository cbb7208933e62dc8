"""Seeded end-to-end and per-layer benchmark for the CSVW→RDF mapping, the
RDF→CSVW reconstruction and the transcripts→KG pipeline.

    python3 perfbench/run.py --workload csvw2rdf_table --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client: this process drives
one Spark JVM in ``local[2]`` (two task slots; the JIT, GC and Python workers
use the machine's other cores); each pass starts when the previous one ends.
The first pass in the fresh JVM is ``cold_s``. Warm passes then repeat until
``--seconds`` have passed and the workload's minimum count is reached;
``wall_s`` is the median of those after the workload's warm-up passes.
Every pass's output is checked; a pass that raises or fails its check counts
in ``failed``.

With ``--trace 1`` the warm passes after the warm-up alternate with traced
passes, which call the program layer by layer, each layer call materialised
once under its own Spark job group with the event log on; the run then
prints the per-layer metrics instead of the end-to-end ones. See README.md for the workloads,
metrics and predictions.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
#: Spark task slots. The process is not pinned: with two slots on two pinned
#: cores the JIT compiler, the collector and the Python workers took turns
#: with the tasks, and the passes spread with the scheduler
CORES = 2
#: explicit, fixed-size heap; the throughput collector with fixed generation
#: sizes fills the heap the same way every run, so ``peak_rss_mb`` follows the
#: memory the passes retain instead of the collector's resizing decisions
HEAP = "1g"
JVM_OPTIONS = f"-Xms{HEAP} -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
#: the workloads BENCHMARK.json lists. Its per-layer list is the union of
#: their layers, and every traced run must print that whole list, so a
#: traced run reports 0 for the layers of the other listed workload
LISTED = ("csvw2rdf_table", "kg_transcripts")


def _environment() -> None:
    """Keep every file this run makes inside the checkout, and make the
    program importable here and in Python workers."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    # few malloc arenas: the JVM's native memory then grows the same way
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _session(trace: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
         .config("spark.local.dir", os.path.join(WORK, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(2 * CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.codegen.methodSplitThreshold", "256"))
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.join(WORK, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _peak_rss_mb(spark) -> float:
    """The Spark JVM's high-water resident set (``VmHWM``)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


class Runner:
    """Runs passes of one workload and keeps the tally of checked passes."""

    def __init__(self, wl, out: str):
        self.wl, self.out = wl, out
        self.attempted = self.failed = 0
        self.triples = self.out_bytes = 0

    def _pass(self, body) -> float:
        from workloads import clear, tree_bytes
        clear(self.out)
        self.attempted += 1
        t0 = time.time()
        try:
            body()
            wall = time.time() - t0
            ok, self.triples = self.wl.check(self.out)
        except Exception as e:  # noqa: BLE001 - a failed pass is a result
            print(f"pass failed: {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            return time.time() - t0
        if not ok:
            print("pass failed its output check", file=sys.stderr)
            self.failed += 1
        self.out_bytes = tree_bytes(self.out)
        return wall

    def plain(self) -> float:
        return self._pass(lambda: self.wl.run_pass(self.out))

    def traced(self, tracer, run_id: str) -> float:
        return self._pass(lambda: self.wl.traced_pass(tracer, run_id, self.out))


def per_layer_names(classes) -> dict[str, str]:
    """Every per-layer metric the given workloads report, with its unit."""
    import spans
    names = {}
    for cls in classes:
        for layer in cls.traced_layers():
            for m in spans.LAYER_METRICS:
                names[f"{layer}.{m}"] = spans.unit_of(m)
        for name in cls.traced_extras():
            names[name] = spans.unit_of(name)
    names["trace_overhead_s"] = "s"
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="small: the same checks on tiny inputs (self-test)")
    args = ap.parse_args(argv)

    _environment()
    import csvw_rdf_convertor_spark  # noqa: F401 - fail before starting a JVM
    import spans
    from workloads import WORKLOADS, clear

    cls = WORKLOADS[args.workload]
    trace = bool(args.trace)
    clear(os.path.join(WORK, "eventlog"))
    spark = _session(trace)
    wl = cls(spark, os.path.join(WORK, args.workload), args.seed, args.size)
    wl.setup()
    setup_s = time.time() - T_START

    clear(wl.work)
    wl.prepare()
    prepared = time.time()
    runner = Runner(wl, os.path.join(wl.work, "out"))
    tracer = spans.Tracer(spark.sparkContext)
    cold_s = runner.plain()
    passes, traced = [], []
    t0 = time.time()
    while (len(passes) < wl.warmup + wl.min_warm or (trace and not traced)
           or time.time() - t0 < args.seconds):
        passes.append(runner.plain())
        if trace and len(passes) > wl.warmup:
            run_id = f"{args.workload}-{args.seed}-{len(traced)}"
            with tracer.span("pass", run_id):
                runner.traced(tracer, run_id)
            traced.append(run_id)
    warm = passes[wl.warmup:]   # the warm-up passes are checked, not timed
    wall_s = statistics.median(warm)
    peak = _peak_rss_mb(spark)
    correct = runner.failed == 0
    if trace and correct:
        wl.probe()
    _stop(spark)
    clear(wl.work)
    print(f"{args.workload} seed={args.seed}: set-up {setup_s:.1f} s, inputs "
          f"{prepared - T_START - setup_s:.1f} s, cold pass {cold_s:.2f} s, "
          f"wall_s = median of the last {len(warm)} of these warm passes "
          f"{[round(w, 2) for w in passes]}, {len(traced)} traced; "
          f"{runner.failed}/{runner.attempted} passes failed (error_rate "
          f"{runner.failed / runner.attempted:.3f}); total "
          f"{time.time() - T_START:.1f} s", file=sys.stderr)

    if trace:
        (log,) = glob.glob(os.path.join(WORK, "eventlog", "*"))
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        layers = spans.layer_metrics(tracer, log, list(cls.traced_layers()))
        listed = [WORKLOADS[n] for n in LISTED] if cls.name in LISTED else [cls]
        units = per_layer_names(listed)
        values = dict.fromkeys(units, 0)
        for layer, m in layers.items():
            for k in spans.LAYER_METRICS:
                values[f"{layer}.{k}"] = m[k]
        if correct:   # a failed pass leaves the counters incomplete: keep 0s
            diag = wl.diagnostics(layers)
            correct = wl.diagnostics_ok(diag)
            values.update(diag)
        # the companion's layers are not part of the untraced pass
        values["trace_overhead_s"] = statistics.median(
            sum(s["end"] - s["start"] for s in tracer.spans
                if s["run_id"] == r and s["name"] in cls.layers)
            for r in traced) - wall_s
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_s": {"value": cold_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "triples_per_s": {"value": runner.triples / wall_s, "unit": "1/s"},
            "peak_rss_mb": {"value": peak, "unit": "MB"},
            "out_bytes": {"value": runner.out_bytes, "unit": "B"},
        }
    print(json.dumps({"correct": bool(correct), "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
