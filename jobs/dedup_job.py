"""Production dedup job — the spark-submit entry point for the
training-data pipeline (exact + MinHash-LSH near-dup + connected
components → one canonical doc per cluster).

Launch shape mirrors ``jobs/tile_job.py``::

    zip -r gdal_spark.zip gdal_spark
    spark-submit --py-files gdal_spark.zip jobs/dedup_job.py \
        --docs /data/documents_table --out s3://bucket/dedup \
        --threshold 0.5

Sandbox mode: ``--docs /root/testdata/sf0.001/documents.parquet``
under plain ``python``. Outputs (all idempotent overwrites keyed by
the input snapshot — rerunning replaces, never double-counts):

- ``<out>/canonical_map``  (doc_id, canonical_id, cluster_size) for
  every doc in a near-dup cluster; docs absent from the map are their
  own canonical — the standard sparse representation, so the map
  stays tiny relative to the corpus.
- ``<out>/exact_groups``   (text_hash, keep_id, n_dups) per distinct
  text (n_dups > 1 rows are the byte-identical duplicate groups).
- one JSON stats line on stdout (the per-run metrics record).

Scale posture (SCALE.md): every stage is hash-join/groupBy shaped —
no all-pairs anywhere. LSH banding bounds candidates, the verify join
touches candidates only, and components run O(log n) label rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--docs", required=True, help="documents table (parquet)")
    p.add_argument("--out", required=True, help="output dataset root")
    p.add_argument("--threshold", type=float, default=0.5, help="min Jaccard")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from gdal_spark.operators import dedup
    from gdal_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("gdal_spark_dedup")
    t0 = time.time()
    docs = spark.read.parquet(args.docs)

    exact = dedup.exact_dedup(docs)
    exact.write.mode("overwrite").parquet(f"{args.out}/exact_groups")

    pairs = dedup.minhash_lsh_pairs(docs, threshold=args.threshold)
    comp = dedup.connected_components(pairs)
    comp.write.mode("overwrite").parquet(f"{args.out}/canonical_map")

    comp_back = spark.read.parquet(f"{args.out}/canonical_map")
    n_docs = docs.count()
    n_exact_groups = exact.count()
    n_clustered = comp_back.count()
    n_canonical = comp_back.select("canonical_id").distinct().count()
    stats = {
        "n_docs": n_docs,
        "n_distinct_texts": n_exact_groups,
        "n_neardup_docs": n_clustered,
        "n_neardup_clusters": n_canonical,
        # corpus survivors = untouched docs + one keeper per cluster
        "n_kept": n_docs - n_clustered + n_canonical,
        "threshold": args.threshold,
        "wall_sec": time.time() - t0,
    }
    print(json.dumps(stats))
    if not preexisting:
        spark.stop()
    return stats


if __name__ == "__main__":
    main()
