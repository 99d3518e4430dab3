"""Run logging + log shipping (A28), warehouse-native.

Reference: /root/reference/src/utils/logging_utils.py:1-44 — a
rotating file logger whose file is uploaded to S3 after the run
("shipping" = best-effort copy that can silently miss the log of a
crashed run, and the log says nothing about whether the data it
describes actually committed).

Engine redesign: the run log IS a warehouse table (`ops_run_log`),
appended inside the SAME transaction as the data it describes
(pipeline/atomic.py). One pointer swap commits data + its log
together, so:

  * a run that failed before commit contributes NO log rows claiming
    success — the log can never describe a snapshot that doesn't
    exist (the reference's upload-after-commit gap, closed);
  * shipping is free: the log is already in the lake, queryable with
    the same engine (`wh.read("ops_run_log")`), partition-prunable by
    run_ts at scale;
  * a local JSON-lines mirror (`RunLogger.jsonl_path`) covers the
    operator-ergonomics role of the reference's console/file handler
    — written eagerly per event, so mid-run state is inspectable even
    while the transactional copy waits for commit.

Events are plain rows: (run_id, seq, stage, event, metric, value,
run_ts). Metrics are long-typed; anything richer belongs in its own
table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..session import local_frame

RUN_LOG_TABLE = "ops_run_log"
RUN_LOG_SCHEMA = (
    "run_id string, seq int, stage string, event string, "
    "metric string, value bigint, run_ts timestamp"
)


class RunLogger:
    """Collects structured run events; flushes them as one appended
    table inside the caller's transaction."""

    def __init__(
        self,
        run_id: str,
        run_ts: str,
        jsonl_path: str | None = None,
    ):
        self.run_id = run_id
        self.run_ts = run_ts
        self.jsonl_path = jsonl_path
        self.events: list[tuple] = []

    def log(self, stage: str, event: str, **metrics: int) -> None:
        """One event; each metric becomes its own row (long-typed)."""
        items = list(metrics.items()) or [(None, None)]
        for metric, value in items:
            self.events.append(
                (
                    self.run_id,
                    len(self.events),
                    stage,
                    event,
                    metric,
                    None if value is None else int(value),
                )
            )
        if self.jsonl_path:
            with open(self.jsonl_path, "a") as f:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "run_ts": self.run_ts,
                            "stage": stage,
                            "event": event,
                            **{k: int(v) for k, v in metrics.items()},
                        }
                    )
                    + os.linesep
                )

    def flush(self, spark: SparkSession, txn) -> None:
        """Append all collected events to ops_run_log THROUGH the
        transaction handle — they commit iff the run commits."""
        from pyspark.sql import functions as F

        df = local_frame(
            spark, [e + (None,) for e in self.events], RUN_LOG_SCHEMA
        ).withColumn("run_ts", F.lit(self.run_ts).cast("timestamp"))
        txn.append(df, RUN_LOG_TABLE)
