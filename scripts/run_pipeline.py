#!/usr/bin/env python
"""spark-submit entrypoint for the staged KG-construction pipeline.

Cluster (the north-rule deployment):

    ./scripts/package.sh           # -> dist/multiomics_biocypher_kg_spark.zip
    spark-submit \\
        --master yarn --deploy-mode cluster \\
        --num-executors 1000 --executor-cores 5 --executor-memory 24g \\
        --conf spark.sql.shuffle.partitions=12000 \\
        --py-files dist/multiomics_biocypher_kg_spark.zip \\
        scripts/run_pipeline.py \\
        --sf-dir s3://corpus/pages --workdir s3://warehouse/kg \\
        --checkpoint-dir hdfs:///checkpoints/kg

Local smoke (same artifact, small corpus):

    spark-submit --master 'local[8]' \\
        --py-files dist/multiomics_biocypher_kg_spark.zip \\
        scripts/run_pipeline.py \\
        --sf-dir /root/testdata/sf0.001 --workdir /tmp/kg_run

or in-process from the repo root, with no zip (the package is not
installed, so it is put on the path):

    PYTHONPATH=. python3 scripts/run_pipeline.py --local-master 'local[2]' \\
        --sf-dir <corpus dir> --workdir /tmp/kg_run

Every stage materializes as an idempotent parquet stage table with a
lineage row (counts + checksums); re-submitting the SAME command
resumes: completed stages verify their recorded checksum and are
skipped, and a stage without a matching lineage record (a crashed
half-write) is rebuilt from scratch. Exit output is one JSON line
with per-stage row counts, read from the lineage records.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True, help="input corpus directory (parquet tables)")
    ap.add_argument("--workdir", required=True, help="stage-table warehouse directory")
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override spark.sql.shuffle.partitions (cluster: 2-3x total cores)",
    )
    ap.add_argument(
        "--checkpoint-dir",
        default=None,
        help="durable checkpoint dir (the CC loop then checkpoints reliably)",
    )
    ap.add_argument(
        "--local-master",
        default=None,
        help="run with an in-process master (e.g. local[8]) instead of spark-submit's",
    )
    args = ap.parse_args(argv)

    from multiomics_biocypher_kg_spark.plans.lineage import StagedRunner
    from multiomics_biocypher_kg_spark.plans.pipeline import STAGES, run_staged
    from multiomics_biocypher_kg_spark.session import build_session

    spark = build_session(
        master=args.local_master or "submit",
        shuffle_partitions=args.shuffle_partitions,
    )
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    run_staged(spark, args.sf_dir, args.workdir)
    runner = StagedRunner(spark, args.workdir)
    summary = {s.output: runner.lineage(s.name)["n_rows"] for s in STAGES}
    print(json.dumps({"status": "ok", "rows": summary}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
