"""Per-partition lineage + resume (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Unit of work = a **conversation bucket**: ``bucket = pmod(xxhash64(conv_id),
n_buckets)``. A run processes every not-yet-done bucket in ONE Spark job:
the input is scanned once, the stage output is written with a dynamic
partition overwrite on the bucket column (only pending buckets are
touched; finished buckets' files are never rewritten), and per-bucket
metrics come from ``Observation`` aggregates collected during that same
job — no per-bucket re-scan, no separate count actions. Each finished
bucket is then marked done by a lineage row carrying counts + wall time.
A killed run resumes by skipping marked buckets — zero recomputation of
completed work (SURVEY §5 idempotent-resume property); work in the killed
job itself is uncommitted and simply re-runs.

The reference has no equivalent (its resumability is "documents are
processed one at a time from stdin", ``ner_cz.py:1718-1737``); this layer is
what the north_rule adds for 10^12-turn batch runs. On Iceberg the
bucket-partitioned write maps to ``overwritePartitions()`` on a
``bucket(conv_id)``-partitioned table and the lineage table carries the KB
snapshot id used for the automaton.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["bucket_col", "write_json_atomic", "LineageCheckpointer"]


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` all or nothing: dump to a unique
    temp file in the same directory, then one ``os.replace``."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


class LineageCheckpointer:
    """Drive a bucketed stage with lineage markers.

    ``out_path/bucket=K/`` holds stage output per bucket (parquet);
    ``lineage_path/`` holds one small JSON marker file per finished bucket
    (atomic rename) with metrics. Marker files rather than a parquet
    append keep the commit atomic without a table format; on Iceberg this
    becomes an append to a ``_lineage`` table in the same transaction.
    """

    def __init__(self, out_path: str, lineage_path: str, n_buckets: int,
                 kb_snapshot: str = "kb-fixture-v1"):
        self.out_path = out_path
        self.lineage_path = lineage_path
        self.n_buckets = n_buckets
        self.kb_snapshot = kb_snapshot
        os.makedirs(lineage_path, exist_ok=True)

    # -- lineage ------------------------------------------------------------
    def done_buckets(self, kb_snapshot: str | None = None) -> set[int]:
        """Buckets with a lineage marker; ``kb_snapshot`` restricts to
        buckets finished under THAT snapshot id (the resume key: output
        produced from an older KB snapshot is stale for a run pinned to a
        newer one — on Iceberg this is the snapshot-id predicate on the
        ``_lineage`` table). ``None`` returns every marked bucket."""
        out = set()
        for f in os.listdir(self.lineage_path):
            if f.startswith("bucket-") and f.endswith(".json"):
                b = int(f[len("bucket-"):-len(".json")])
                if kb_snapshot is not None:
                    with open(os.path.join(self.lineage_path, f)) as fh:
                        if json.load(fh).get("kb_snapshot") != kb_snapshot:
                            continue
                out.add(b)
        return out

    def lineage_records(self) -> list[dict]:
        recs = []
        for b in sorted(self.done_buckets()):
            with open(os.path.join(self.lineage_path, f"bucket-{b}.json")) as fh:
                recs.append(json.load(fh))
        return recs

    def _mark_done(self, bucket: int, metrics: dict) -> None:
        write_json_atomic(
            os.path.join(self.lineage_path, f"bucket-{bucket}.json"),
            {"bucket": bucket, "kb_snapshot": self.kb_snapshot, **metrics})

    # -- execution ----------------------------------------------------------
    def run(self, transcripts: DataFrame,
            stage: Callable[[DataFrame], DataFrame],
            max_buckets: int | None = None) -> list[int]:
        """Process every not-yet-done bucket in one scan+write job; returns
        buckets processed this call. ``max_buckets`` limits how many buckets
        are included in the job (used by the kill/resume test to simulate a
        dying run — fewer buckets per commit = finer resume granularity)."""
        done = self.done_buckets(self.kb_snapshot)
        pending = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return []
        t0 = time.time()

        bucketed = transcripts.withColumn("bucket", bucket_col(self.n_buckets))
        part = bucketed.filter(F.col("bucket").isin([int(b) for b in pending]))
        # per-bucket input counts, measured DURING the single pass
        obs_in = Observation(f"turns-{uuid.uuid4().hex[:8]}")
        part = part.observe(
            obs_in, *[F.count(F.when(F.col("bucket") == b, 1)).alias(f"b{b}")
                      for b in pending])

        out = stage(part.drop("bucket"))
        # recompute the bucket from conv_id on the output (same hash) and
        # observe per-bucket output counts in the same job
        out = out.withColumn("bucket", bucket_col(self.n_buckets))
        obs_out = Observation(f"rows-{uuid.uuid4().hex[:8]}")
        out = out.observe(
            obs_out, *[F.count(F.when(F.col("bucket") == b, 1)).alias(f"b{b}")
                       for b in pending])

        # dynamic overwrite: only the bucket partitions present in `out`
        # are replaced; previously finished buckets' files are untouched
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.out_path))

        wall_ms = int(1000 * (time.time() - t0))
        n_in, n_out = obs_in.get, obs_out.get
        for b in pending:
            self._mark_done(b, {
                "n_turns": int(n_in[f"b{b}"]),
                "n_rows_out": int(n_out[f"b{b}"]),
                "wall_ms": wall_ms,   # wall of the shared single-pass job
            })
        return pending

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.out_path)
