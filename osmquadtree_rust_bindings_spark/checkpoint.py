"""Per-stage / per-partition lineage + metrics, and resume bookkeeping.

North-rule requirement: every stage checkpoints per-partition lineage and
row/byte metrics so runs resume mid-job.  Reference analogues: the stage
timing log returned by rust ops (/root/reference/src/sortblocks.rs:19-20)
and the per-cell header index that makes .pbf outputs seekable/resumable
(src/readpbf.rs:222-232).

Storage: stage outputs are parquet tables under the run directory (Iceberg
tables in a real deployment — see sources.catalog); lineage rows live in a
JSON-lines file next to them (an Iceberg `lineage` table in production).
A stage is complete iff its lineage row says status=complete AND its
output exists — half-written outputs are re-run, never trusted.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageRecord:
    run_id: str
    stage: str
    status: str           # running | complete | failed
    input_rows: int
    output_rows: int
    output_bytes: int
    num_partitions: int
    t_start: float
    t_end: float


class Lineage:
    def __init__(self, workdir: str, run_id: str | None = None):
        self.workdir = workdir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(workdir, exist_ok=True)
        self.path = os.path.join(workdir, "lineage.jsonl")

    # ------------------------------------------------------------- records

    def _append(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _completed(self, stage: str) -> list[dict]:
        return [r for r in self.records()
                if r.get("stage") == stage and r.get("run_id") == self.run_id
                and r.get("status") == "complete"]

    def stage_complete(self, stage: str) -> bool:
        return (bool(self._completed(stage))
                and os.path.exists(self.stage_path(stage)))

    def output_rows(self, stage: str) -> int:
        """Rows the completed ``stage`` wrote in this run."""
        return self._completed(stage)[-1]["output_rows"]

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage={stage}")

    # ------------------------------------------------------------- execute

    def run_stage(self, spark: SparkSession, stage: str, fn,
                  input_rows: int = -1) -> DataFrame:
        """Execute ``fn() -> DataFrame``, persist its output, record
        stage-level + per-partition lineage.  If the stage is already
        complete for this run_id, skip and return the stored output."""
        from osmquadtree_rust_bindings_spark.progress import (
            get_messenger,
            job_progress,
        )

        out_path = self.stage_path(stage)
        if self.stage_complete(stage):
            get_messenger().message(
                f"stage {stage}: already complete for run "
                f"{self.run_id}, skipping")
            return spark.read.parquet(out_path)
        t0 = time.time()
        self._append({"run_id": self.run_id, "stage": stage,
                      "status": "running", "t_start": t0})
        # live task-level percent for this stage's Spark jobs (the
        # reference's Messenger bridge, progress.py) — covers fn()'s own
        # jobs plus the output materialization
        with job_progress(spark, f"stage {stage}"):
            df = fn()
            df.write.mode("overwrite").parquet(out_path)
        # per-partition (= per output file) lineage from the parquet
        # footers; files with no rows count in bytes only
        paths = {f: os.path.join(out_path, f)
                 for f in sorted(os.listdir(out_path))
                 if f.endswith(".parquet")}
        rows = {f: pq.read_metadata(p).num_rows for f, p in paths.items()}
        nbytes = {f: os.path.getsize(p) for f, p in paths.items()}
        parts = [f for f in paths if rows[f]]
        for f in parts:
            self._append({"run_id": self.run_id, "stage": stage,
                          "status": "partition", "file": f,
                          "rows": rows[f], "bytes": nbytes[f]})
        rec = StageRecord(
            run_id=self.run_id, stage=stage, status="complete",
            input_rows=input_rows, output_rows=sum(rows.values()),
            output_bytes=sum(nbytes.values()), num_partitions=len(parts),
            t_start=t0, t_end=time.time())
        self._append(asdict(rec))
        return spark.read.parquet(out_path)

    def summary(self) -> list[dict]:
        return [r for r in self.records() if r.get("status") == "complete"]
