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
more than the data. Near-duplicate candidate pairs have no such
bound (one saturated LSH bucket alone emits ~max_group^2/2 pairs per
band), so that sink hands over Arrow chunks collected one partition
at a time, and the writer streams them into the one part file. An
empty batch commits its marker only: no 0-row part file, so the
detect query, which reads `aggs/` one file per trigger, never spends a
trigger on an empty commit. A sink directory that never received a
row therefore holds markers only; read it with an explicit schema.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq


def write_batch_idempotent(
    data: pa.Table | Iterable[pa.Table | pa.RecordBatch],
    batch_id: int,
    out_dir: str,
    coalesce: int = 1,
) -> bool:
    """Commit one micro-batch; returns False if this batchId already
    committed (replay after restart).

    `data` is the batch as one Arrow table, or as Arrow chunks that
    are written as they arrive, so memory holds one chunk. Chunks are
    consumed on a replay too: a lazy collect runs the batch's plan, and
    a stateful batch commits its state store only when it runs
    (`streaming/job.py`).

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
    chunks = [data] if isinstance(data, pa.Table) else data
    if os.path.exists(marker):
        for _ in chunks:
            pass
        return False
    tmp = os.path.join(out_dir, f"_tmp_{batch_id:010d}")
    writer = None
    try:
        for chunk in chunks:
            if chunk.num_rows:
                if writer is None:
                    writer = pq.ParquetWriter(tmp, chunk.schema)
                writer.write(chunk)
    finally:
        if writer is not None:
            writer.close()
    if writer is not None:
        os.replace(tmp, os.path.join(out_dir, f"part-{batch_id:010d}-0000.parquet"))
    with open(marker, "w") as f:
        f.write("0" if writer is None else "1")
    return True
