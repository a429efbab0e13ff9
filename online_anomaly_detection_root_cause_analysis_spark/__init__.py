"""PySpark-native online anomaly-detection + root-cause-analysis engine.

A from-scratch Structured-Streaming rebuild of the capabilities of the
reference system Gatmatz/Online-Anomaly-Detection-Root-Cause-Analysis
(a Flink 1.13/Scala thesis system porting MacroBase + ThirdEye RCA to
streaming; see /root/reference). Nothing here is a translation of the
reference execution engine: the data plane is Spark DataFrames end to
end, windowing/aggregation is Catalyst-planned, and only the genuinely
stateful MacroBase operators drop to `applyInPandas(WithState)` over
pure-Python sketch algorithms.

Layout
------
- ``config``      dimension/hierarchy configuration (application.conf analog)
- ``algorithms``  pure-Python ports of the MacroBase sketches (MAD, AChao,
                  AMC, FP-growth, risk ratio) — no Spark imports
- ``functions``   vectorized pandas/Arrow UDFs + JVM-side column builders
- ``sources``     deterministic pages generator, batch/stream readers
- ``operators``   batch-only dedup/text-analysis ops
- ``streaming``   stateful streaming stages (the tail runs every detector
                  and RCA finder), exactly-once sink, listener
"""

__version__ = "0.1.0"
