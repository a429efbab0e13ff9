"""Config-driven input-record building (reference S3 stage).

Analog of InputRecordStreamBuilder.scala:28-41 + DimensionsBuilder
.scala:10-44: project the raw source into (ts, value, dim...) columns
declared by EngineConfig. Works identically on batch and streaming
DataFrames. Every expression is JVM-side, html->text extraction
included, so no record meets a Python worker. Extraction is skipped
when `text` is already materialized (column pruning then never touches
`html`, SURVEY.md §4.1: the single biggest I/O lever at web scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.text import extract_text, url_dimension_cols


def build_page_records(
    df: DataFrame, cfg: EngineConfig, use_extracted_text: bool = False
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> records with metric
    `text_len` (extracted-text byte length) + configured dimensions.

    use_extracted_text=True derives the text from `html` with the JVM
    `extract_text` (byte-identity invariant); default reads the
    materialized `text` column so the binary column is pruned at scan
    time.
    """
    text_col = extract_text(F.col("html")) if use_extracted_text else F.col("text")
    url_dims = url_dimension_cols(F.col("url"))
    out = df.select(
        F.col("url"),
        F.col(cfg.timestamp_field).alias("ts"),
        F.octet_length(text_col).cast("double").alias("value"),
        F.col("lang"),
        url_dims["url_host"].alias("url_host"),
        url_dims["url_domain"].alias("url_domain"),
        url_dims["url_tld"].alias("url_tld"),
        F.date_format(
            F.date_trunc("hour", F.col(cfg.timestamp_field)), "yyyy-MM-dd HH"
        ).alias("warc_ts_bucket"),
    )
    return out


# typed dimension parsers (reference utils/dimension/parsers/
# {String,Int,Boolean}DimensionParser.scala): every value_type
# normalizes to string via toString — Spark's boolean/int -> string
# casts produce the same "true"/"false" and decimal forms
_DIM_PARSERS = {
    "string": lambda c: c.cast("string"),
    "int": lambda c: c.cast("int").cast("string"),
    "bool": lambda c: c.cast("boolean").cast("string"),
}


def typed_dimension_cols(cfg: EngineConfig) -> dict[str, "F.Column"]:
    """One parsed column per configured dimension, typed by
    DimensionSpec.value_type (DimensionsBuilder.scala:10-44)."""
    return {
        d.name: _DIM_PARSERS[d.value_type](F.col(d.name)) for d in cfg.dimensions
    }


def build_typed_records(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Config-generic record building: project (ts, value, dims...)
    purely from EngineConfig — the analog of the reference's
    config-driven InputRecord construction (InputRecordStreamBuilder
    .scala:33-41). The timestamp field must already be a timestamp."""
    dims = typed_dimension_cols(cfg)
    return df.select(
        F.col(cfg.timestamp_field).alias("ts"),
        F.col(cfg.value_field).cast("double").alias("value"),
        *[c.alias(name) for name, c in dims.items()],
    )


def build_event_records(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) ->
    records with dimensions event_type + user_bucket (user_id % 10).

    Derives the bucket column, then routes through the config-generic
    `build_typed_records` so the events path exercises the same typed
    dimension parsers as every other source (VERDICT r2 #6)."""
    derived = df.withColumn("user_bucket", (F.col("user_id") % 10).cast("string"))
    return build_typed_records(derived, cfg)
