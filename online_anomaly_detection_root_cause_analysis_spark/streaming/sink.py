"""Idempotent exactly-once batch sink (foreachBatch).

The reference relies on Flink checkpoint-coordinated Kafka
transactions for exactly-once (AppConfig.scala:15-28 + K1). Spark's
micro-batch WAL gives at-least-once delivery into foreachBatch; the
sink makes it exactly-once by being idempotent per batchId: each
commit lands as `part-<batchId>-0000.parquet` plus a
`_committed_<batchId>` marker, and a replayed batchId is skipped. In
production this is an Iceberg `writeStream ... .toTable(...)`
(idempotent-by-commit); the marker-file protocol stands in for it
with the same semantics.

A micro-batch reaches the sink as Arrow and is written on the driver
with pyarrow. The aggregate and detect sinks carry per-window
aggregates and alert/RCA rows, a small output of a large input (a few
thousand aggregate rows per trigger), so each collects its batch with
a single `toArrow()`: a distributed write job per batch would cost
more than the data. An empty batch commits its marker only: no 0-row
part file, so the detect query, which reads `aggs/` one file per
trigger, never spends a trigger on an empty commit. A sink directory
that never received a row therefore holds markers only; read it with
an explicit schema.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


def write_batch_idempotent(
    table: pa.Table, batch_id: int, out_dir: str, coalesce: int = 1
) -> bool:
    """Commit one micro-batch; returns False if this batchId already
    committed (replay after restart).

    Rows go to a hidden temp file (leading `_`, so file readers skip
    it), which is renamed to the part file; the marker is written last.
    A crash between the rename and the marker reruns the batch, and
    the rename replaces the part file with the same rows.

    `coalesce` stays only for the streambench tracing wrapper, which
    passes it positionally; the commit is always one file."""
    if coalesce != 1:
        raise ValueError(f"a batch commits as one file; coalesce={coalesce}")
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, f"_committed_{batch_id:010d}")
    if os.path.exists(marker):
        return False
    if table.num_rows:
        tmp = os.path.join(out_dir, f"_tmp_{batch_id:010d}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"part-{batch_id:010d}-0000.parquet"))
    with open(marker, "w") as f:
        f.write("1" if table.num_rows else "0")
    return True
