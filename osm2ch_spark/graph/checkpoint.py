"""Per-iteration checkpointing + lineage for the iterative algorithms.

North-rule contract: every ``checkpoint_every``-th iteration commits (a)
the vertex-state table and (b) a lineage row (algorithm, iteration,
rows, delta, partitions, checkpoint_path) so a run is RESUMABLE
mid-iteration (the commit rule itself lives in loop.py).  Parquet stands in
for Iceberg at sandbox scale (same layout; swap format= for real runs).

No wall-clock anywhere — restart determinism is part of the contract.
"""

from __future__ import annotations

import json
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    """Directory layout:
        <root>/<algo>/iter=<k>/   — vertex state parquet
        <root>/<algo>/lineage.json — one JSON line per committed iteration
    The lineage file is append-only and written AFTER the state commit,
    so the latest complete iteration is always consistent.
    """

    def __init__(self, root: str | None, algo: str, every: int = 5):
        self.root = root
        self.algo = algo
        self.every = max(1, every)
        if root:
            os.makedirs(os.path.join(root, algo), exist_ok=True)

    def _state_path(self, iteration: int) -> str:
        return os.path.join(self.root, self.algo, f"iter={iteration}")

    def _lineage_path(self) -> str:
        return os.path.join(self.root, self.algo, "lineage.json")

    def should_commit(self, iteration: int) -> bool:
        return bool(self.root) and iteration % self.every == 0

    def commit(self, df: DataFrame, iteration: int, delta: float, rows: int) -> DataFrame:
        """Write state + lineage; return the re-read DataFrame (lineage cut)."""
        path = self._state_path(iteration)
        df.write.mode("overwrite").parquet(path)
        meta = {
            "algorithm": self.algo,
            "iteration": iteration,
            "rows": rows,
            "delta": delta,
            "partitions": df.rdd.getNumPartitions(),
            "partition_rows": self._partition_rows(path),
            "checkpoint_path": path,
        }
        with open(self._lineage_path(), "a") as f:
            f.write(json.dumps(meta, sort_keys=True) + "\n")
        return df.sparkSession.read.parquet(path)

    @staticmethod
    def _partition_rows(path: str) -> list[dict]:
        """Per-partition row counts of the committed state — the north
        rule's per-partition lineage.  One parquet file per write task, so
        footer metadata gives the counts with NO extra Spark job (driver
        reads ~8 bytes of footer per file).

        Best-effort: the footer read assumes a locally listable POSIX
        directory; on a non-local checkpoint root (hdfs://, s3a://) the
        listing raises OSError and lineage enrichment degrades to an
        empty list instead of killing the iterative run."""
        import pyarrow.parquet as pq

        out = []
        try:
            names = sorted(os.listdir(path))
        except OSError:
            return out
        for name in names:
            if name.startswith("part-") and name.endswith(".parquet"):
                out.append(
                    {"file": name, "rows": pq.ParquetFile(os.path.join(path, name)).metadata.num_rows}
                )
        return out

    def latest(self) -> dict | None:
        """Most recent committed iteration's lineage row, or None.

        The lineage file is append-only with no fsync, so a crash
        mid-append can leave a torn final line; unparseable tails are
        skipped and resume falls back to the previous complete row."""
        p = self._lineage_path() if self.root else None
        if not p or not os.path.exists(p):
            return None
        last = None
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        last = json.loads(line)
                    except ValueError:
                        continue
        return last

    def resume(self, spark: SparkSession) -> tuple[DataFrame, int] | None:
        """(state, iteration) of the latest committed checkpoint, or None."""
        meta = self.latest()
        if meta is None:
            return None
        return spark.read.parquet(meta["checkpoint_path"]), meta["iteration"]


def localcheckpoint(df: DataFrame, level: StorageLevel, eager: bool = True) -> DataFrame:
    """Lineage cut without durable storage (used between durable commits
    to stop plan growth in the driver loop).  Pass eager=False when the
    next driver-side action will materialize it anyway — halves the jobs
    per iteration.

    ``level``: ``MEMORY_AND_DISK`` (serialized) for PageRank and LPA
    (BENCH/ab_pr_ckpt_level.json), ``MEMORY_AND_DISK_DESER`` for
    connected components (BENCH/ab_cc_ckpt_level_r6.json)."""
    return df.localCheckpoint(eager=eager, storageLevel=level)
