"""Idempotent exactly-once batch sink (foreachBatch).

The reference relies on Flink checkpoint-coordinated Kafka
transactions for exactly-once (AppConfig.scala:15-28 + K1). Spark's
micro-batch WAL gives at-least-once delivery into foreachBatch; the
sink makes it exactly-once by being idempotent per batchId: each
commit lands as `part-<batchId>.parquet` plus a `_committed_<batchId>`
marker, and a replayed batchId is skipped. In production this is an
Iceberg `writeStream ... .toTable(...)` (idempotent-by-commit);
the jars aren't in this image, so the marker-file protocol is the
stand-in with the same semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_batch_idempotent(
    df: DataFrame, batch_id: int, out_dir: str, coalesce: int = 1
) -> bool:
    """Write one micro-batch; returns False if this batchId already
    committed (replay after restart)."""
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, f"_committed_{batch_id:010d}")
    if os.path.exists(marker):
        return False
    tmp_dir = os.path.join(out_dir, f"_tmp_{batch_id:010d}")
    (df.coalesce(coalesce) if coalesce else df).write.mode("overwrite").parquet(tmp_dir)
    # publish: move data files into place, then the marker (atomic-ish
    # on a local fs; an object store would use a rename-free manifest)
    n = 0
    for name in sorted(os.listdir(tmp_dir)):
        if name.startswith("part-"):
            os.replace(
                os.path.join(tmp_dir, name),
                os.path.join(out_dir, f"part-{batch_id:010d}-{n:04d}.parquet"),
            )
            n += 1
    for name in os.listdir(tmp_dir):
        os.remove(os.path.join(tmp_dir, name))
    os.rmdir(tmp_dir)
    with open(marker, "w") as f:
        f.write(str(n))
    return True


def iceberg_writer_options(
    table: str,
    checkpoint_location: str,
    fanout: bool = True,
    trigger_seconds: int | None = None,
) -> dict[str, str]:
    """Option set for the production Iceberg sink — the exactly-once
    path on a real cluster (north_rule: idempotent exactly-once
    Iceberg sink). Usage there:

        (df.writeStream.format("iceberg")
           .outputMode("append")
           .options(**iceberg_writer_options(tbl, ckpt))
           .toTable(tbl))

    Iceberg commits one snapshot per micro-batch epoch and records the
    (queryId, epochId) in the snapshot summary, so a replayed epoch
    after restart is skipped — the same idempotence contract
    write_batch_idempotent implements with marker files in this
    sandbox (iceberg-spark runtime jars are not in this image; the
    option mapping is pure and unit-tested)."""
    opts = {
        "path": table,
        "checkpointLocation": checkpoint_location,
        # out-of-order event-time rows within a batch land in many
        # partitions; fanout avoids a per-batch local sort
        "fanout-enabled": str(fanout).lower(),
    }
    if trigger_seconds is not None:
        opts["trigger-interval-seconds"] = str(trigger_seconds)
    return opts
