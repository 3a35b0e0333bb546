"""PySpark-native parse -> enrich -> route -> aggregate log/transcript pipeline.

A from-scratch re-expression of the capabilities of the reference C++ tool
(Xiad49/Intelligent-Log-Analysis-Anomaly-Detection-Tool, read-only at
/root/reference) as idiomatic PySpark: DataFrame/SQL plans, one mapInArrow
stage of pyarrow.compute kernels for grok/parse, broadcast-join enrichment,
window-function detectors under stable (conv_id, turn_idx) ordering, and
fan-out routed sinks.

Nothing here is a port: the reference is a single-threaded per-line loop
(/root/reference/src/main.cpp:194-361); this package declares the same
semantics as distributed Spark plans.
"""

__version__ = "0.1.0"
