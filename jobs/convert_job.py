"""spark-submit entry point (north rule: `spark-submit --py-files`).

Package the library and run the resumable pipeline:

  cd /root/repo && zip -qr /tmp/marc2rdf_spark.zip marc2rdf_spark fixtures
  spark-submit --py-files /tmp/marc2rdf_spark.zip jobs/convert_job.py \
      --pages /data/web_pages --out /data/kg --run-id run1 \
      --mapping skeleton --buckets 4096 [--link] [--synth-pages 20000]

On a real cluster --pages is the Iceberg/parquet web_pages table; with
--synth-pages the deterministic synthetic corpus is generated
distributedly instead (benchmarks, smoke tests).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stored_bytes(spark, path: str) -> int:
    """Bytes stored under ``path``, read through the Hadoop FileSystem
    of the path's scheme (local, HDFS, S3, ...)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(p).getLength()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="web_pages table path (parquet/iceberg)")
    ap.add_argument("--synth-pages", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--mapping", default="skeleton")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--link", action="store_true",
                    help="run entity linking + canonicalization")
    ap.add_argument("--extract-id", default=None,
                    help="reuse another run's raw-records staging zone "
                         "(mapping-change replay without re-extraction)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from marc2rdf_spark.plans.materialize import run_resumable
    from marc2rdf_spark.session import get_spark
    from marc2rdf_spark.sources.synth import synth_web_pages

    spark = get_spark(app_name=f"marc2rdf_convert_{args.run_id}",
                      cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    if args.synth_pages:
        pages = synth_web_pages(spark, args.synth_pages)
    elif args.pages:
        from marc2rdf_spark.sources.catalog import read_table

        # parquet path in the sandbox; iceberg:<cat.db.table> /
        # table:<ident> resolve through the session catalog on a real
        # cluster (snapshot isolation + hidden-partition pruning)
        pages = read_table(spark, args.pages)
    else:
        ap.error("need --pages or --synth-pages")

    triples = run_resumable(
        spark, pages, args.out, args.run_id,
        mapping=args.mapping, n_buckets=args.buckets,
        extract_id=args.extract_id,
    )

    if args.link:
        from marc2rdf_spark.plans.pipeline import full_pipeline

        auth_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "fixtures", "golden", "authorities.parquet",
        )
        # the library's link tail, deduplicating on the full triple key
        # (a URI and a literal with the same text are distinct triples)
        triples = full_pipeline(
            triples,
            spark.read.parquet(auth_path),
            ["http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"],
        )
        triples.write.mode("overwrite").parquet(f"{args.out}/triples_canonical")
        # count what was committed — not a recompute of the link tail
        triples = spark.read.parquet(f"{args.out}/triples_canonical")

    n = triples.count()
    dt = time.time() - t0
    zones = ["raw_records", "raw_triples", "triples", "_lineage"]
    if args.link:
        zones.append("triples_canonical")
    print(json.dumps({
        "run_id": args.run_id,
        "triples": n,
        "seconds": round(dt, 2),
        "triples_per_sec": round(n / dt, 1),
        "stored_bytes": {
            z: stored_bytes(spark, f"{args.out}/{z}") for z in zones
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
