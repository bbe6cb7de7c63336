"""foresttime_builder_spark — a PySpark-native analytics engine.

A from-scratch Spark implementation of the query and data-processing
capabilities of the reference R package ``Evans-Ecology-Lab/forestTIME-builder``
(annualized forest-inventory time series + NSVB carbon estimation), expressed
as idiomatic DataFrame / Catalyst plans, plus large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing).

Layout:
  session     — SparkSession builder tuned for the workload
  operators/  — generic distributed operators (time series, joins, dedup, …)
  sources/    — schemas + readers for FIA tables and reference data
  functions/  — SQL-text layer building and the NSVB equation system
  plans/      — the FIA pipeline stages (tidy → expand → interpolate →
                mortality → carbon) and analytic query layer
  streaming/  — Structured Streaming variants of the aggregation layer
"""

__version__ = "0.1.0"
