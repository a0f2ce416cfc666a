"""Per-stage lineage + idempotent staged execution (north rule:
"per-partition lineage rows (source split, counts, checksums)
checkpointed so any stage resumes idempotently via MERGE INTO").

Replaces the reference's mtime-based freshness checks
(/root/reference/multiomics_kg/download/resolve_paper_ids.py:460-466)
and its Schema_info build-stamp node
(/root/reference/scripts/post-import.cypher:1361-1375) with:

- ``lineage_rows``: one row per (stage, spark partition) with row
  count and an order-insensitive content checksum (the sum of row
  hashes mod 2^63, computable distributed, no collect),
- ``StagedRunner``: runs the DAG stage by stage; each stage writes a
  parquet stage table + its lineage; a re-run with an existing,
  checksum-matching stage table whose upstream stages still hold the
  content it was built from is a no-op (resume); any other run
  removes the stage and writes a full build into the empty dir
  through merge_into (dedup on the stage keys, then an append — the
  MERGE INTO emulation; on Iceberg this is the real statement).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence
from decimal import Decimal

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.materialize import merge_into

CHECKSUM_MOD = 2**63
# A sum of at most 2^63 terms, each below 2^63, stays below 2^126 < 10^38.
_WIDE = "decimal(38,0)"


def modsum(terms: Column) -> Column:
    """Aggregate: the sum of non-negative long ``terms`` mod 2^63, as
    a long. The sum runs in decimal(38,0), which holds any sum Spark
    can count, so no intermediate overflows, with ANSI mode on or off.
    """
    return F.pmod(
        F.sum(terms.cast(_WIDE)), F.lit(Decimal(CHECKSUM_MOD)).cast(_WIDE)
    ).cast("long")


def _row_term(df: DataFrame) -> Column:
    """A row's checksum term: pmod(xxhash64(all columns), 2^31)."""
    return F.pmod(F.xxhash64(*df.columns), F.lit(2**31))


def content_checksum(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive content checksum + row count in ONE job: the
    sum of every row's term mod 2^63 (see ``modsum``), so the value is
    stable across engines and re-partitionings (pure aggregation, no
    data to the driver).

    -> (checksum, n_rows)
    """
    row = df.agg(
        modsum(_row_term(df)).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(row.s or 0), int(row.n)


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Per-spark-partition lineage: (stage, partition_id, n_rows,
    checksum) — the 'source split' accounting of the north rule. The
    partition checksums sum, mod 2^63, to ``content_checksum``."""
    return (
        df.select(F.spark_partition_id().alias("_pid"), _row_term(df).alias("_t"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n_rows"), modsum(F.col("_t")).alias("checksum"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "n_rows",
            "checksum",
        )
    )


class StagedRunner:
    """Materializes a stage DAG under ``workdir`` with resume.

    stage layout:  {workdir}/{stage}/data/   (parquet)
                   {workdir}/{stage}/lineage.json
    """

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, stage)
        return os.path.join(d, "data"), os.path.join(d, "lineage.json")

    def is_complete(self, stage: str) -> bool:
        """A stage is complete only when its data AND lineage exist,
        every upstream stage still records the checksum this stage was
        built from, AND the recorded checksum matches a recompute over
        the stage table — a half-written or tampered table, or one
        built from a since-rebuilt upstream, re-runs instead of
        resuming. The upstream comparison reads lineage.json files
        only; the recompute costs one aggregation job per resumed
        stage."""
        data, lin = self._paths(stage)
        if not (os.path.isdir(data) and os.path.isfile(lin)):
            return False
        try:
            recorded = self.lineage(stage)
            if any(
                self.lineage(up)["checksum"] != checksum
                for up, checksum in recorded.get("upstream", {}).items()
            ):
                return False
            table = self.spark.read.parquet(data)
        except (OSError, ValueError, KeyError, AnalysisException):
            # torn/corrupt lineage.json, a missing upstream or a table
            # with no data file -> rebuild, never raise: the documented
            # 'half-written stage re-runs' contract
            return False
        checksum, n = content_checksum(table)
        return checksum == recorded.get("checksum") and n == recorded.get("n_rows")

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        keys: list[str],
        upstream: Sequence[str] = (),
    ) -> DataFrame:
        """Run (or resume) one stage. If the stage is complete (see
        ``is_complete``), the build is skipped entirely (resume); else
        ``build`` returns the stage's whole content, written via
        merge_into on ``keys`` into the emptied stage dir — no row of
        an earlier build survives, and a crash before lineage.json is
        written leaves no lineage, so re-running a crashed, tampered
        or invalidated stage converges to the same table. The
        checksums of the ``upstream`` stages are recorded with the
        stage's lineage, so rebuilding one of them with new content
        invalidates this stage."""
        data, lin = self._paths(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(data)
        upstream_checksums = {up: self.lineage(up)["checksum"] for up in upstream}
        df = build()
        # a full build into an empty dir, with no lineage.json until done
        shutil.rmtree(os.path.dirname(data), ignore_errors=True)
        merge_into(self.spark, data, df, keys)
        out = self.spark.read.parquet(data)
        # one scan: the stage totals are the partition rows' sums
        per_part = [r.asDict() for r in lineage_rows(out, stage).collect()]
        # write-then-rename: lineage.json appears atomically, so a
        # crash mid-dump leaves no torn file behind
        tmp = lin + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "n_rows": sum(p["n_rows"] for p in per_part),
                    "checksum": sum(p["checksum"] for p in per_part) % CHECKSUM_MOD,
                    "upstream": upstream_checksums,
                    "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "partitions": per_part,
                },
                f,
                indent=1,
            )
        os.replace(tmp, lin)
        return out

    def lineage(self, stage: str) -> dict:
        _, lin = self._paths(stage)
        with open(lin) as f:
            return json.load(f)
