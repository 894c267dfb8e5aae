"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload graph-latency --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run generates seeded inputs and
reference answers, starts one Spark session on ``local[4]``, warms up,
then repeats timed passes for ``--seconds`` and checks every answer.
With ``--trace 0`` the last line carries the end-to-end metrics named in
BENCHMARK.json. With ``--trace 1`` it carries the per-layer metrics:
after the same timed passes, the session restarts twice on the warm JVM
for one untraced and one event-logged pass. The full per-layer record
goes to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
#: untimed passes before timing starts: the first pass of a fresh JVM
#: takes about twice as long as later ones. More warm-up would steady the
#: timed passes further but does not fit the benchmark's time budget.
WARMUP_PASSES = 1


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: str, event_log: str | None = None):
    """Start Spark through the package's session factory; returns the
    session and the seconds the ``get_spark`` call took."""
    from alp_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed 1 GB heap (plenty for these inputs) keeps the JVM's RSS
        # from depending on when G1 decides to grow the heap;
        # -XX:-UsePerfData stops the JVM writing /tmp/hsperfdata_<user>
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark, shutdown_jvm: bool) -> None:
    """Stop the SparkContext; with ``shutdown_jvm`` also end the JVM the
    session launched and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if not shutdown_jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reset(spark) -> None:
    """Between passes, outside the timed span: drop every cached Dataset
    and persisted RDD (including ones an operation leaked), and collect
    garbage on both sides, so each pass starts from the same state."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


@dataclass
class Pass:
    wall: float  # seconds, start of the first call to the last check
    spans: list  # one Span per operation, in order
    ckpt: dict  # checkpoint saves, seconds and bytes of the pass


def run_pass(spark, wl, rec, tally, work: str) -> Pass:
    from alp_spark.checkpoint import ParquetCheckpointer
    from spans import CountingCheckpointer

    ckpt_dir = os.path.join(work, "ckpt")
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    reset(spark)
    rec.pass_no += 1
    made: list = []

    def ckpt():
        c = CountingCheckpointer(ParquetCheckpointer(ckpt_dir))
        made.append(c)
        return c

    first = len(rec.spans)
    t0 = time.perf_counter()
    for op in wl.ops(spark, ckpt):
        try:
            answer, steps = rec.call(op.layer, op.name, op.run)
            rec.last.supersteps = steps
            ok, why = op.check(answer)
        except Exception as exc:  # an operation that raises counts as not OK
            ok, why = False, f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        rec.last.edges_per_superstep = op.edges_per_superstep
        if not tally.record(f"{rec.last.key} pass {rec.pass_no}", bool(ok), why):
            print(f"CHECK FAILED {tally.failures[-1]}", file=sys.stderr, flush=True)
    wall = time.perf_counter() - t0
    wl.after_pass(spark)
    stats = {"saves": sum(c.saves for c in made), "save_s": sum(c.save_s for c in made),
             "bytes": sum(c.bytes for c in made)}
    return Pass(wall, rec.spans[first:], stats)


def measure(spark, wl, warmups: int, seconds: float, work: str, tally):
    """Warm-up passes, then timed passes until at least ``seconds`` of
    timed work (at least one pass). Returns (timed passes, epoch time the
    first timed pass started)."""
    from spans import Recorder

    rec = Recorder(spark, wl.name)
    for _ in range(warmups):
        run_pass(spark, wl, rec, tally, work)
    first_timed = time.time()
    timed, t0 = [], time.perf_counter()
    while not timed or time.perf_counter() - t0 < seconds:
        timed.append(run_pass(spark, wl, rec, tally, work))
    return timed, first_timed


def end_to_end(wl, timed: list, setup_s: float, peak_mb: float, tally) -> dict:
    total = sum(p.wall for p in timed)
    steps = sum(s.supersteps for p in timed for s in p.spans)
    edge_visits = sum(s.supersteps * s.edges_per_superstep
                      for p in timed for s in p.spans)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall for p in timed),
        "edges_per_s": edge_visits / total,
        "supersteps_per_s": steps / total,
        "pages_per_s": len(timed) * wl.pages_per_pass(steps / len(timed)) / total,
        "peak_rss_mb": peak_mb,
        "ops_ok_ratio": tally.ratio,
    }


def _same(values: list, what: str) -> float:
    if len(set(values)) > 1:
        print(f"NOTE {what} differs between timed passes: {values}", file=sys.stderr)
    return statistics.median(values)


def per_op(timed: list) -> dict:
    """Per operation: median seconds and per-pass counts over timed passes."""
    out: dict = {}
    keys = [s.key for s in timed[0].spans]
    for i, key in enumerate(keys):
        spans = [p.spans[i] for p in timed]
        steps = _same([s.supersteps for s in spans], f"{key} supersteps")
        jobs = _same([s.jobs for s in spans], f"{key} jobs")
        out[key] = {
            "s": statistics.median(s.seconds for s in spans),
            "supersteps": steps,
            "jobs": jobs,
            "stages": _same([s.stages for s in spans], f"{key} stages"),
            "tasks": _same([s.tasks for s in spans], f"{key} tasks"),
            "jobs_per_superstep": jobs / steps if steps else 0.0,
        }
    return out


def traced_breakdown(traced: Pass, log_dir: str) -> dict:
    """Per operation of the traced pass: its event-log breakdown."""
    from spans import attribute, parse_event_log

    groups = parse_event_log(log_dir)
    return {s.key: attribute(s, groups.get(s.group)) for s in traced.spans}


def layer_metrics(spec: dict, ops: dict, traced: dict, timed: list, extra: dict) -> dict:
    """Values of every per-layer metric in BENCHMARK.json; a layer the
    workload does not touch reads 0."""
    flat = dict(extra)
    for key, rec in ops.items():
        for q, v in rec.items():
            flat[f"{key}.{q}"] = v
        flat[f"{key}_s"] = rec["s"]
    for key, rec in traced.items():
        for q, v in rec.items():
            flat[f"{key}.{q}"] = v
    flat["sources.jobs"] = sum(r["jobs"] for k, r in ops.items() if k.startswith("sources."))
    flat["checkpoint.saves"] = _same([p.ckpt["saves"] for p in timed], "checkpoint saves")
    flat["checkpoint.save_s"] = statistics.median(p.ckpt["save_s"] for p in timed)
    flat["checkpoint.bytes"] = statistics.median(p.ckpt["bytes"] for p in timed)
    return {m["name"]: flat.get(m["name"], 0) for m in spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import alp_spark  # noqa: F401  (fails outside a full checkout)

    import workloads
    from reference import Tally
    from spans import RssSampler, env_record, loadavg

    load_at_start = loadavg()
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work)
    tally = Tally()
    spark = None
    try:
        wl, gen_s = workloads.build(args.workload, work, args.seed)
        with RssSampler() as rss:
            spark, start_s = start_session(work)
            env = env_record(spark)
            env["loadavg_at_start"] = load_at_start
            print("env " + json.dumps(env), flush=True)
            timed, first_timed = measure(spark, wl, WARMUP_PASSES,
                                         args.seconds, work, tally)
            setup_s = first_timed - T_START - gen_s
            peak_mb = rss.peak_mb
            log_dir = os.path.join(work, "eventlog")
            if args.trace:
                # overhead: one pass in a fresh untraced session, then one in a
                # fresh event-logged session, both on the same warm JVM
                passes = []
                for log in (None, log_dir):
                    stop_session(spark, shutdown_jvm=False)
                    spark, _ = start_session(work, event_log=log)
                    passes += measure(spark, wl, 0, 0.0, work, tally)[0]
                plain, traced = passes
            stop_session(spark, shutdown_jvm=True)
            spark = None
        e2e = end_to_end(wl, timed, setup_s, peak_mb, tally)
        ops = per_op(timed)
        report = {"workload": args.workload, "seed": args.seed, "env": env,
                  "inputs": wl.facts, "timed_passes": len(timed),
                  "pass_wall_s": [p.wall for p in timed], "end_to_end": e2e,
                  "layers": ops, "failures": tally.failures}
        print(f"inputs {json.dumps(wl.facts)} gen_s={gen_s:.2f} session.start_s={start_s:.2f}")
        print(f"wall_s={e2e['wall_s']:.3f} median of {len(timed)} timed passes "
              f"{[round(p.wall, 3) for p in timed]}")
        for key, rec in ops.items():
            print(f"  {key:28s} " + " ".join(f"{q}={v:.4g}" for q, v in rec.items()))
        extra = {"session.start_s": start_s, "bench.gen_s": gen_s,
                 "bench.timed_passes": len(timed)}
        if args.trace:
            extra["bench.traced_wall_s"] = traced.wall
            extra["bench.trace_overhead"] = traced.wall / plain.wall
            report["traced"] = traced_breakdown(traced, log_dir)
            print(f"traced pass {traced.wall:.3f} s vs untraced pass {plain.wall:.3f} s "
                  f"(overhead x{extra['bench.trace_overhead']:.3f})")
            values = layer_metrics(spec, ops, report["traced"], timed, extra)
            listed = spec["per_layer"]
        else:
            values = e2e
            listed = spec["end_to_end"]
        report.update(extra)
        units = {m["name"]: m["unit"] for m in listed}
        report["metrics"] = {k: values[k] for k in units}
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(report, fh, indent=1, default=float)
    finally:
        if spark is not None:
            stop_session(spark, shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": tally.attempted > 0 and tally.ok == tally.attempted,
        "attempted": tally.attempted,
        "failed": tally.attempted - tally.ok,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
