"""Checkpoint / lineage layer: resumable multi-stage jobs.

North-rule requirement: every stage writes its output plus
per-partition lineage rows

    lineage(job_id, stage, partition_id, cell_min, cell_max,
            row_count, digest, committed_at)

so a killed job resumes from the last committed stage, and partition-
level equality between runs is checkable from digests alone.

Semantics here (parquet edition — the Iceberg jars are not in this
container; on a cluster each stage write + lineage append is ONE
Iceberg transaction, giving per-partition commit granularity for free):

* a stage is COMMITTED iff its ``_COMMITTED`` marker row exists in the
  lineage log — written only after the stage's parquet (with Spark's
  own _SUCCESS marker) and its per-partition rows are all durable;
* ``run_stage`` skips committed stages entirely (reads them back),
  recomputes uncommitted ones from scratch — at-least-once compute,
  exactly-once output;
* digest = bit_xor(xxhash64(canonical row json)) per partition:
  order-insensitive, overflow-free, cheap to recompute for audit.

The partition key is the Hilbert cell bucket for spatial stages (so
cell_min/cell_max describe a contiguous curve range) or a hash bucket
otherwise.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "job_id string, stage string, partition_id int, cell_min long, "
    "cell_max long, row_count long, digest long, committed_at double"
)
COMMIT_MARKER = -1  # partition_id of the stage-commit marker row


class LineageLog:
    """Append-only lineage log as a directory of small parquet files."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def append(self, rows: list[dict]) -> None:
        pdf = pd.DataFrame(
            rows,
            columns=[
                "job_id",
                "stage",
                "partition_id",
                "cell_min",
                "cell_max",
                "row_count",
                "digest",
                "committed_at",
            ],
        )
        path = os.path.join(self.root, f"lineage-{uuid.uuid4().hex}.parquet")
        pdf.to_parquet(path, index=False)

    def read(self) -> pd.DataFrame:
        files = [
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        ]
        if not files:
            return pd.DataFrame(
                columns=[
                    "job_id",
                    "stage",
                    "partition_id",
                    "cell_min",
                    "cell_max",
                    "row_count",
                    "digest",
                    "committed_at",
                ]
            )
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    def committed_stages(self) -> set[str]:
        df = self.read()
        if df.empty:
            return set()
        return set(df.loc[df["partition_id"] == COMMIT_MARKER, "stage"])

    def partition_rows(self, stage: str) -> pd.DataFrame:
        df = self.read()
        return df[(df["stage"] == stage) & (df["partition_id"] != COMMIT_MARKER)]


def run_stage(
    spark: SparkSession,
    job_root: str,
    job_id: str,
    stage: str,
    compute,
    bucket_col: str | None = None,
    n_buckets: int = 16,
) -> DataFrame:
    """Run (or resume) one checkpointed stage.

    ``compute()`` → DataFrame. Output parquet lands in
    ``{job_root}/{stage}`` partitioned by a bucket column; lineage rows
    + the commit marker land in ``{job_root}/lineage``. If the stage is
    already committed, the compute is skipped and the parquet is read
    back (the resume path).
    """
    log = LineageLog(os.path.join(job_root, "lineage"))
    stage_dir = os.path.join(job_root, stage)
    if stage in log.committed_stages():
        # `_bucket` (when synthesized below) is partition bookkeeping,
        # not part of the stage's logical schema — never surface it.
        return spark.read.parquet(stage_dir).drop("_bucket")

    df = compute()
    if bucket_col is None:
        # derive a deterministic hash bucket from the whole row
        df = df.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns]))), F.lit(n_buckets)).cast("int"),
        )
        bucket = "_bucket"
    else:
        bucket = bucket_col

    df.write.mode("overwrite").partitionBy(bucket).parquet(stage_dir)
    written = spark.read.parquet(stage_dir)

    # digest covers the LOGICAL schema only — the synthetic _bucket is
    # partition bookkeeping and not part of the stage's output contract
    canonical_cols = [
        c for c in written.columns if not (bucket_col is None and c == "_bucket")
    ]
    digest_src = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in canonical_cols])))
    stats = (
        written.withColumn("_digest_src", digest_src)
        .groupBy(F.col(bucket).alias("partition_id"))
        .agg(
            F.count("*").alias("row_count"),
            F.expr("bit_xor(_digest_src)").alias("digest"),
        )
        .collect()
    )
    now = time.time()
    rows = [
        dict(
            job_id=job_id,
            stage=stage,
            partition_id=int(r.partition_id),
            cell_min=int(r.partition_id),
            cell_max=int(r.partition_id),
            row_count=int(r.row_count),
            digest=int(r.digest),
            committed_at=now,
        )
        for r in stats
    ]
    rows.append(
        dict(
            job_id=job_id,
            stage=stage,
            partition_id=COMMIT_MARKER,
            cell_min=0,
            cell_max=0,
            row_count=sum(r["row_count"] for r in rows),
            digest=0,
            committed_at=now,
        )
    )
    log.append(rows)
    # drop the synthetic bucket so checkpointed and non-checkpointed
    # runs emit the same schema (drop is a no-op for user bucket cols)
    return written.drop("_bucket")
