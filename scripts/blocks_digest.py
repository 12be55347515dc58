"""sha256 of the ``blocks/`` files and of the lineage rows of one encode.

    python scripts/blocks_digest.py --seed 5 [--files 3000]

Encodes the perfbench ``roundtrip`` shape on a ``local[nproc]`` session:
the seeded corpus (``generate_corpus``, written to parquet and read
back), ``corpus_plan()``, fused, ``salt_sample_fraction=0.05``, 4
buckets.  Prints two digests:

- ``blocks``: sha256 over every file under ``blocks/``, each fed as its
  relative path then its bytes, in path order;
- ``lineage``: sha256 of the lineage rows (bucket first) with ``enc_ms``
  (a timing) dropped, sorted.

Two source trees that print the same digests for a seed write the same
blocks and the same lineage.  Everything it writes goes to a temporary
directory, removed on exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def blocks_sha(warehouse: str) -> str:
    h = hashlib.sha256()
    bdir = os.path.join(warehouse, "blocks")
    for path in sorted(glob.glob(os.path.join(bdir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, bdir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def lineage_sha(warehouse: str) -> str:
    import pyarrow.parquet as pq

    rows = []
    for path in glob.glob(os.path.join(warehouse, "lineage", "bucket_*.parquet")):
        bucket = int(os.path.basename(path)[len("bucket_"):-len(".parquet")])
        for r in pq.read_table(path).drop_columns(["enc_ms"]).to_pylist():
            rows.append([bucket, *r.values()])
    rows.sort()
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, default=3000)
    args = ap.parse_args()

    from colonnade_spark import engine, session
    from colonnade_spark.corpus import generate_corpus
    from colonnade_spark.plan import corpus_plan

    spark = session.get_spark("blocks_digest",
                              cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory() as work:
            src = os.path.join(work, "corpus")
            generate_corpus(spark, args.files, seed=args.seed) \
                .write.mode("overwrite").parquet(src)
            wh = os.path.join(work, "wh")
            m = engine.encode_table(spark, spark.read.parquet(src),
                                    corpus_plan(), wh, n_buckets=4,
                                    mode="overwrite", input_token="digest",
                                    fused=True, salt_sample_fraction=0.05)
            print(f"seed={args.seed} files={args.files} rows={m['rows']} "
                  f"bytes_out={m['bytes_out']}")
            print(f"blocks  {blocks_sha(wh)}")
            print(f"lineage {lineage_sha(wh)}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
