"""Per-stage lineage + idempotent staged execution (north rule:
"per-partition lineage rows (source split, counts, checksums)
checkpointed so any stage resumes idempotently via MERGE INTO").

Replaces the reference's mtime-based freshness checks
(/root/reference/multiomics_kg/download/resolve_paper_ids.py:460-466)
and its Schema_info build-stamp node
(/root/reference/scripts/post-import.cypher:1361-1375) with:

- ``write_stage``: writes a stage table in ONE Spark action and takes
  its lineage from that action: the row count and an
  order-insensitive content checksum (the sum of row hashes mod 2^63)
  observed on the write, plus one split entry per data file (name,
  bytes, row count from the parquet footer) — the shape of an Iceberg
  manifest (https://iceberg.apache.org/spec/#manifests),
- ``StagedRunner``: runs the DAG stage by stage; each stage writes a
  parquet stage table + its lineage; a re-run with an existing,
  checksum-matching stage table whose upstream stages still hold the
  content it was built from is a no-op (resume); any other run
  removes the stage and writes a full build into the empty dir. Every
  stage build emits unique keys, so the write needs no dedup;
  ``merge_into`` (insert-if-absent) is the incremental ingest's sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence
from decimal import Decimal

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# not called here: perfbench's _targets() and ResumeVerify.op read it
from multiomics_biocypher_kg_spark.operators.materialize import merge_into  # noqa: F401

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
    """Per-spark-partition lineage of any frame: (stage, partition_id,
    n_rows, checksum). The partition checksums sum, mod 2^63, to
    ``content_checksum``. A stage table records its splits per data
    file instead (``write_stage``)."""
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


def _data_files(path: str) -> list[str]:
    """The table's data files, as Spark lists them (no ``_``/``.``
    prefix: ``_SUCCESS``, ``.crc`` and ``_temporary`` are skipped)."""
    return sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))


def write_stage(df: DataFrame, path: str) -> dict:
    """Write ``df`` as parquet at ``path`` in one Spark action whose
    observation yields the table's (checksum, n_rows), equal to
    ``content_checksum`` of the written table.

    The observation sits on top of ``df``'s plan, above every
    exchange, so it runs in the write's result stage, where Spark
    applies each task's metric update once even if the task is
    retried. The per-file row counts come from the parquet footers,
    read on the driver with no Spark job.

    -> {"checksum", "n_rows", "files": [{"file", "bytes", "n_rows"}]}
    """
    obs = Observation()
    df.observe(
        obs, modsum(_row_term(df)).alias("checksum"), F.count(F.lit(1)).alias("n_rows")
    ).write.parquet(path)
    metrics = obs.get
    files = [
        {
            "file": f,
            "bytes": os.path.getsize(os.path.join(path, f)),
            "n_rows": pq.ParquetFile(os.path.join(path, f)).metadata.num_rows,
        }
        for f in _data_files(path)
    ]
    return {
        "checksum": int(metrics["checksum"] or 0),
        "n_rows": int(metrics["n_rows"]),
        "files": files,
    }


class StagedRunner:
    """Materializes a stage DAG under ``workdir`` with resume.

    stage layout:  {workdir}/{stage}/data/   (parquet)
                   {workdir}/{stage}/lineage.json
    """

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        # stage -> the table is_complete read and verified, for run_stage
        self._verified: dict[str, DataFrame] = {}
        os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, stage)
        return os.path.join(d, "data"), os.path.join(d, "lineage.json")

    def is_complete(self, stage: str) -> bool:
        """A stage is complete only when its data AND lineage exist,
        every upstream stage still records the checksum this stage was
        built from, the stage dir lists exactly the recorded data files
        with their recorded sizes, AND the recorded checksum matches a
        recompute over the stage table — a half-written or tampered
        table, or one built from a since-rebuilt upstream, re-runs
        instead of resuming. The upstream and file-list comparisons
        read lineage.json and the directory listing only (a lost,
        added or resized file fails with no Spark job); the table is
        read with the schema lineage.json records (no inference job),
        and the recompute over it, the authority for a resume, is the
        only Spark work of a resumed stage. A wrong record can only
        cause a rebuild, never a wrong resume; a record without a
        schema rebuilds its stage once."""
        self._verified.pop(stage, None)
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
            listed = {f: os.path.getsize(os.path.join(data, f)) for f in _data_files(data)}
            if listed != {p["file"]: p["bytes"] for p in recorded["partitions"]}:
                return False
            schema = T.StructType.fromJson(json.loads(recorded["schema"]))
            table = self.spark.read.schema(schema).parquet(data)
        except (OSError, ValueError, KeyError, AnalysisException):
            # torn/corrupt lineage.json, a missing upstream or a table
            # with no data file -> rebuild, never raise: the documented
            # 'half-written stage re-runs' contract
            return False
        if content_checksum(table) != (recorded.get("checksum"), recorded.get("n_rows")):
            return False
        self._verified[stage] = table
        return True

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        upstream: Sequence[str] = (),
    ) -> DataFrame:
        """Run (or resume) one stage. If the stage is complete (see
        ``is_complete``), the build is skipped entirely (resume); else
        ``build`` returns the stage's whole content, with unique keys,
        written by one ``write_stage`` action into the emptied stage
        dir — no row of an earlier build survives, and a crash before
        lineage.json is written leaves no lineage, so re-running a
        crashed, tampered or invalidated stage converges to the same
        table. lineage.json takes the write's observed (checksum,
        n_rows) and its per-file splits as ``partitions``; the
        checksums of the ``upstream`` stages are recorded with it, so
        rebuilding one of them with new content invalidates this
        stage, and so is the build's schema, which both the returned
        table and a later resume read with (no inference job). A
        resumed stage returns the table ``is_complete`` verified."""
        data, lin = self._paths(stage)
        if self.is_complete(stage):
            return self._verified.pop(stage)
        upstream_checksums = {up: self.lineage(up)["checksum"] for up in upstream}
        df = build()
        # a full build into an empty dir, with no lineage.json until done
        shutil.rmtree(os.path.dirname(data), ignore_errors=True)
        written = write_stage(df, data)
        # write-then-rename: lineage.json appears atomically, so a
        # crash mid-dump leaves no torn file behind
        tmp = lin + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "n_rows": written["n_rows"],
                    "checksum": written["checksum"],
                    "upstream": upstream_checksums,
                    "schema": df.schema.json(),
                    "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "partitions": written["files"],
                },
                f,
                indent=1,
            )
        os.replace(tmp, lin)
        return self.spark.read.schema(df.schema).parquet(data)

    def lineage(self, stage: str) -> dict:
        _, lin = self._paths(stage)
        with open(lin) as f:
            return json.load(f)
