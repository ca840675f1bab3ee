"""N-vs-4N executor scaling bench: executors are processes.

Each executor is its own JVM at local[C], C = cpu_count // 4, pinned by
taskset to its own C cpus, over a slice of one corpus's shards.  The
levels run 1 and 4 executors over the SAME input (1x1 vs 4x1 on 4 cores,
1x4 vs 4x4 on 16), so efficiency = wall_N / (4 * wall_4N).  Per level:
 - the corpus (written once, untimed, url-colocated parquet shards) is
   faulted into the page cache;
 - every executor warms up on its first shard, builds its plan, and
   waits on a go-file barrier;
 - convert (timed): convert_pages(..., urls_colocated=True).count();
 - untimed handoff: each executor writes its triples to parquet;
 - link_tail (timed): full_pipeline(handed-off triples).count();
 - a phase's wall runs from go to the last executor done; steal% is the
   hypervisor steal share of /proc/stat jiffies in that window.
One JSON line is printed and appended to BENCH/scaling_runs.jsonl.

Usage: python tools/scaling_bench.py [--pages 16000] [--corpus DIR]
"""

import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHARDS = 8
LEVELS = (1, 4)
PHASES = ("convert", "link_tail")
LABEL = "http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"

WORKER = r"""
import json, os, sys, time
cfg = json.loads(sys.argv[1])
sys.path.insert(0, cfg["repo"])
os.environ["SPARK_GC_OPTS"] = (
    "-XX:+UseParallelGC -XX:ActiveProcessorCount=%d -Xms%dm "
    "-XX:+AlwaysPreTouch" % (cfg["cores"], cfg["heap_mb"]))
os.environ["SPARK_DRIVER_MEM"] = "%dm" % cfg["heap_mb"]
from pyspark.sql import functions as F
from marc2rdf_spark.session import get_spark
from marc2rdf_spark.plans.pipeline import convert_pages, full_pipeline

spark = get_spark(app_name="scale_exec", cores=cfg["cores"],
                  shuffle_partitions=cfg["cores"] * 16)
spark.sparkContext.setLogLevel("ERROR")

def timed(phase, df):
    path = os.path.join(cfg["rundir"], phase)
    open(f"{path}_ready_{cfg['wid']}", "w").close()
    while not os.path.exists(f"{path}_go"):
        time.sleep(0.05)
    n = df.count()
    with open(f"{path}_done_{cfg['wid']}", "w") as f:
        json.dump(n, f)

def convert(shards):
    pages = spark.read.parquet(cfg["corpus"]).where(F.col("shard").isin(shards))
    return convert_pages(pages.drop("shard"), "skeleton", urls_colocated=True)

convert(cfg["shards"][:1]).count()  # warm-up
tri = convert(cfg["shards"])
timed("convert", tri)
handoff = os.path.join(cfg["rundir"], "triples_%d" % cfg["wid"])
tri.write.parquet(handoff)
auth = os.path.join(cfg["repo"], "fixtures", "golden", "authorities.parquet")
timed("link_tail", full_pipeline(
    spark.read.parquet(handoff), spark.read.parquet(auth), [cfg["label"]]))
spark.stop()
"""

CORPUS = r"""
import json, sys
cfg = json.loads(sys.argv[1])
sys.path.insert(0, cfg["repo"])
from marc2rdf_spark.session import get_spark
from marc2rdf_spark.sources.synth import synth_web_pages
spark = get_spark(app_name="scale_corpus", cores=cfg["cores"])
per = cfg["pages"] // cfg["shards"]
for s in range(cfg["shards"]):  # gen_pages emits a url's crawls together
    synth_web_pages(spark, per, partitions=2, start=s * per).write.parquet(
        f"{cfg['path']}/shard={s}")
"""


def write_corpus(pages: int, path: str) -> None:
    stamp = os.path.join(path, f"_pages_{pages}")
    if os.path.exists(stamp):
        return
    shutil.rmtree(path, ignore_errors=True)
    cfg = {"repo": HERE, "cores": os.cpu_count() or 1, "pages": pages,
           "shards": SHARDS, "path": path}
    subprocess.run([sys.executable, "-c", CORPUS, json.dumps(cfg)], check=True)
    open(stamp, "w").close()


def pretouch(path: str) -> None:
    for root, _dirs, files in os.walk(path):
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                while f.read(1 << 24):
                    pass


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_level(n_exec: int, cores: int, heap_mb: int, corpus: str) -> dict:
    pretouch(corpus)
    rundir = tempfile.mkdtemp(prefix=f"scale_{n_exec}x{cores}_")
    per, n_cpus = SHARDS // n_exec, os.cpu_count() or 1
    procs = []
    for wid in range(n_exec):
        cfg = {"repo": HERE, "corpus": corpus, "rundir": rundir, "wid": wid,
               "shards": list(range(wid * per, (wid + 1) * per)),
               "cores": cores, "heap_mb": heap_mb, "label": LABEL}
        # disjoint cpu sets from the top down: the executor's JVM, Python
        # workers, GC and JIT threads all stay on its own cores
        cpus = range(n_cpus - (wid + 1) * cores, n_cpus - wid * cores)
        with open(os.path.join(rundir, f"log_{wid}"), "w") as log:
            procs.append(subprocess.Popen(
                ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
                 "-c", WORKER, json.dumps(cfg)], stdout=log, stderr=log))

    def await_all(name: str) -> list:
        paths = [f"{rundir}/{name}_{w}" for w in range(n_exec)]
        while not all(map(os.path.exists, paths)):
            for w, p in enumerate(procs):
                if p.poll():
                    raise RuntimeError(f"executor exited, see {rundir}/log_{w}")
            time.sleep(0.05)
        return paths

    out = {}
    try:
        for phase in PHASES:
            await_all(f"{phase}_ready")
            s0, t0 = cpu_times(), time.time()
            open(os.path.join(rundir, f"{phase}_go"), "w").close()
            done = await_all(f"{phase}_done")
            wall, s1 = time.time() - t0, cpu_times()
            steal = 100.0 * (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
            triples = 0
            for path in done:
                with open(path) as f:
                    triples += json.load(f)
            out[phase] = {"triples": triples, "wall_s": round(wall, 2),
                          "steal_pct": round(steal, 2)}
    finally:  # on error too: no executor outlives the bench
        for p in procs:
            if len(out) < len(PHASES):
                p.kill()
            p.wait()
    shutil.rmtree(rundir, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=16000)
    ap.add_argument("--corpus", default="/tmp/scale_corpus")
    args = ap.parse_args()
    cores = max((os.cpu_count() or 1) // LEVELS[-1], 1)
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    # the 4N level's pre-touched heaps take 40% of host memory; the rest
    # is left to Python workers, the page cache and the OS
    heap_mb = mem_mb * 2 // (5 * LEVELS[-1])
    write_corpus(args.pages, args.corpus)
    runs = [run_level(n, cores, heap_mb, args.corpus) for n in LEVELS]

    rev = subprocess.run(["git", "describe", "--always", "--dirty"], cwd=HERE,
                         capture_output=True, text=True).stdout.strip()
    record = {"ts": dt.datetime.now().isoformat(timespec="seconds"),
              "git_rev": rev or "unknown", "pages": args.pages,
              "executors": list(LEVELS), "cores_per_exec": cores,
              "heap_mb": heap_mb}
    for phase in PHASES:
        record[phase] = rec = {k: [r[phase][k] for r in runs]
                               for k in ("triples", "wall_s", "steal_pct")}
        w = rec["wall_s"]
        rec["efficiency"] = round(w[0] * LEVELS[0] / (LEVELS[-1] * w[-1]), 3)
    line = json.dumps(record)
    print(line)
    with open(os.path.join(HERE, "BENCH", "scaling_runs.jsonl"), "a") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
