"""KG-construction benchmark.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (see README.md):

* ``convert``        run_resumable over synthetic pages with heavy authority reuse
* ``convert_unique`` the same job with per-record authority headings
* ``link_cc``        link -> connected components -> canonicalize -> write

Inputs are generated from ``--seed`` before the session starts.  Set-up
(session start plus one warm-up job on the same inputs) is timed as
``setup_s``.  Then jobs run one after another, each into a fresh output
directory, until ``--seconds`` have passed (at least one job), and every
job's committed output is checked against the expected set.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
untraced jobs for the reference wall time and then one traced pass over
the layers, and reports the per-layer metrics.  The last stdout line is
one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, len(os.sched_getaffinity(0)))
WORKLOADS = ("convert", "convert_unique", "link_cc")
DRIVER_MEM = "2g"

# workload properties: (metric, test, text); checked on every traced run
PROPERTIES = {
    "convert": [("plans.materialize.cross_record_dup_frac",
                 lambda v: v >= 0.3, ">= 0.3")],
    "convert_unique": [("plans.materialize.cross_record_dup_frac",
                        lambda v: v <= 0.05, "<= 0.05")],
    "link_cc": [("operators.linking.hot_blocks", lambda v: v >= 1, ">= 1"),
                ("operators.components.rounds", lambda v: v >= 4, ">= 4")],
}
# link quality floor: a job whose links fall below it counts as failed
MIN_PRECISION, MIN_RECALL = 0.95, 0.7


def load_units() -> tuple[dict, dict]:
    """Metric name -> unit for the end-to-end (``--trace 0``) and the
    per-layer (``--trace 1``) metrics, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files, event log) inside the checkout's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=ROOT + os.pathsep + HERE,
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, trace: bool):
    from marc2rdf_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: GC ergonomics would otherwise size
        # and touch it differently from run to run and move peak_rss_mb
        # by 20-30%; the library's own driver options stay in
        # extraJavaOptions
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        # the JIT compiler threads live as long as the JVM, so job_cpu_s
        # can leave them out (probes.tree_cpu_s)
        " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait."""
    from probes import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Runner:
    """One workload: its inputs, the job, and the job's check."""

    def __init__(self, workload: str, seed: int, work: str):
        import gen

        self.workload, self.work = workload, work
        self.n_jobs = 0
        inputs = os.path.join(work, "inputs")
        if workload == "link_cc":
            self.inp = gen.make_link(seed, inputs)
            if self.inp.head_exact < gen.HOT_BLOCK_MIN:
                fail(f"link_cc lost its hot block: the head authority has "
                     f"{self.inp.head_exact} same-label mentions "
                     f"< {gen.HOT_BLOCK_MIN}")
            return
        unique = workload == "convert_unique"
        self.inp = gen.make_convert(seed, unique, inputs)
        frac = self.inp.cross_record_dup_frac
        (name, test, text), = PROPERTIES[workload]
        if not test(frac):
            fail(f"{workload} lost its property: oracle {name}={frac:.4f}, needs {text}")
        log(f"oracle: {self.inp.fp[0]} distinct of {self.inp.raw_triples} raw "
            f"triples, cross_record_dup_frac={frac:.4f}")

    def job(self, spark) -> dict:
        """Run one job into a fresh output directory."""
        import workloads as w

        inp = self.inp
        self.n_jobs += 1
        out = os.path.join(self.work, "out", f"job{self.n_jobs}")
        t0 = time.perf_counter()
        if self.workload == "link_cc":
            links, stats = w.link_job(spark, inp, out)
            wall = time.perf_counter() - t0
            return {"wall": wall, "out": out, "links": links, "stats": stats}
        committed = w.convert_job(spark, inp.pages_dir, out)
        wall = time.perf_counter() - t0
        return {"wall": wall, "out": out, "committed": committed}

    def check(self, spark, res: dict, selftest: bool = False) -> dict:
        """Gate one job's committed output; with ``selftest`` also check
        that the same output fails against a corrupted expected set."""
        import gen
        import workloads as w

        if self.workload == "link_cc":
            chk = w.check_link(spark, res["links"], res["out"], self.inp)
            out = {
                "ok": chk["ok"] and chk["precision"] >= MIN_PRECISION
                and chk["recall"] >= MIN_RECALL,
                "triples": chk["actual"][0],
                "precision": chk["precision"],
                "recall": chk["recall"],
                "rounds": res["stats"]["rounds"],
            }
            actual, expected = chk["actual"], chk["expected"]
        else:
            actual = w.fingerprint(res["committed"])
            out = {"ok": gen.gate(actual, self.inp.fp), "triples": actual[0]}
            expected = self.inp.expected
        if selftest and gen.gate(actual, gen.fingerprint(gen.corrupted(expected))):
            fail("negative self-test: the gate accepted an output against a "
                 "corrupted expected set")
        out["bytes"] = w.dir_bytes(res["out"])
        return out


def run_untraced(runner: Runner, spark, seconds: float):
    """Timed jobs until ``seconds`` have passed (at least one)."""
    from probes import PeakRss, cpu_times, ref_loop_s, steal_frac, tree_cpu_s

    jobs, failed = [], 0
    t_end = time.perf_counter() + seconds
    while not jobs or time.perf_counter() < t_end:
        ref = ref_loop_s()
        c0, cpu0 = cpu_times(), tree_cpu_s()
        try:
            with PeakRss() as rss:
                res = runner.job(spark)
            cpu = tree_cpu_s() - cpu0 - rss.cpu_s
            steal = steal_frac(c0, cpu_times())
            ref = (ref + ref_loop_s()) / 2
            chk = runner.check(spark, res, selftest=not jobs)
        except Exception:  # a job that raises counts as failed
            log("job failed:")
            traceback.print_exc()
            failed += 1
            jobs.append(None)
            continue
        failed += not chk["ok"]
        jobs.append({**chk, "wall": res["wall"], "cpu": cpu,
                     "rss_mb": rss.peak_mb, "steal": steal})
        log(f"job {len(jobs)}: wall={res['wall']:.3f}s cpu={cpu:.2f}s ok={chk['ok']} "
            f"triples={chk['triples']} steal={steal:.4f} ref_loop={ref:.4f}s"
            + (f" cc_rounds={chk['rounds']}" if "rounds" in chk else ""))
        shutil.rmtree(res["out"], ignore_errors=True)
    return jobs, failed


def end_to_end(jobs: list, setup_s: float) -> dict:
    good = [j for j in jobs if j and j["ok"]]
    if not good:
        return {}

    def med(f) -> float:
        return statistics.median(f(j) for j in good)

    log(f"wall_s = {med(lambda j: j['wall']):.6g} s (samples: {len(good)})")
    log(f"triples_per_s = {med(lambda j: j['triples'] / j['wall']):.6g} "
        f"triples/s (samples: {len(good)})")
    return {
        "setup_s": setup_s,
        "job_cpu_s": med(lambda j: j["cpu"]),
        "peak_rss_mb": med(lambda j: j["rss_mb"]),
        "stored_bytes_per_triple": med(lambda j: j["bytes"] / max(j["triples"], 1)),
    }


def run_traced(runner: Runner, spark, work: str, seconds: float):
    """Untraced jobs for the reference wall time, then one traced pass
    with every layer boundary forced."""
    import workloads as w
    from probes import Tracer

    tracer = Tracer(spark.sparkContext)
    spark.sparkContext.setJobGroup("untraced", "untraced")
    walls, failed, keep = [], 0, None
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        res = runner.job(spark)
        failed += not runner.check(spark, res, selftest=not walls)["ok"]
        walls.append(res["wall"])
        if keep is None:
            keep = res["out"]
        else:
            shutil.rmtree(res["out"], ignore_errors=True)
    trace_dir = os.path.join(work, "traced")
    os.makedirs(trace_dir)
    if runner.workload == "link_cc":
        m, ok = w.traced_link(spark, tracer, runner.inp, os.path.join(trace_dir, "out"))
    else:
        m, ok = w.traced_convert(spark, tracer, runner.inp, keep, trace_dir)
    failed += not ok
    return m, tracer, statistics.median(walls), len(walls) + 1, failed


def measure(runner: Runner, args, work: str) -> tuple[dict, int]:
    import probes
    import pyspark

    trace = bool(args.trace)
    e2e_units, layer_units = load_units()
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    start_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        spark.sparkContext.setJobGroup("setup", "setup")
        shutil.rmtree(runner.job(spark)["out"])
        warmup_s = time.perf_counter() - t1
        setup_s = start_s + warmup_s
        log(f"setup: session {start_s:.3f}s + warm-up job {warmup_s:.3f}s")
        ctx = probes.host_context(ROOT, CORES, pyspark.__version__)

        if not trace:
            jobs, failed = run_untraced(runner, spark, args.seconds)
            attempted, good = len(jobs), [j for j in jobs if j]
            metrics, units, n = end_to_end(jobs, setup_s), e2e_units, len(good)
            ctx["steal_per_job"] = [round(j["steal"], 5) for j in good]
            log(f"ops_failed_frac = {failed / attempted:.4f} ratio "
                f"({failed} of {attempted} jobs)")
            if runner.workload == "link_cc" and good:
                for k in ("precision", "recall"):
                    v = statistics.median(j[k] for j in good)
                    log(f"link_{k} = {v:.4f} ratio (samples: {n})")
        else:
            import workloads as w

            m, tracer, wall, attempted, failed = run_traced(
                runner, spark, work, args.seconds
            )
            stop_session(spark)  # flushes and closes the event log
            spark = None
            ev = probes.task_metrics_by_group(os.path.join(work, "eventlog"))
            fold = w.link_layers if runner.workload == "link_cc" else w.convert_layers
            summed = fold(tracer, ev, m)
            m["session.start_s"] = start_s
            m["session.warmup_s"] = warmup_s
            m["trace.overhead_s"] = sum(tracer.total_s[s] for s in summed) - wall
            # layers idle on this workload report 0
            metrics = {name: float(m.get(name, 0.0)) for name in layer_units}
            units, n = layer_units, 1
            for name, test, text in PROPERTIES[runner.workload]:
                held = test(metrics[name])
                log(f"property {name} = {metrics[name]:.4f} (needs {text}): "
                    f"{'holds' if held else 'LOST'}")
                failed += not held
        ctx["loadavg_end"] = os.getloadavg()
        log("context " + json.dumps(ctx))
    finally:
        if spark is not None:
            stop_session(spark)

    for name, value in metrics.items():
        samples = 1 if name == "setup_s" else n
        log(f"{name} = {value:.6g} {units[name]} (samples: {samples})")
    ok = failed == 0 and metrics.keys() == units.keys()
    result = {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, 0 if ok else 1


def main() -> None:
    ap = argparse.ArgumentParser(description="KG-construction benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in ("marc2rdf_spark", "fixtures")):
        fail(f"no marc2rdf_spark/ and fixtures/ beside {HERE}: run from a full checkout")
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work)
        runner = Runner(args.workload, args.seed, work)
        result, code = measure(runner, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
