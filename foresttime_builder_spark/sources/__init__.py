from foresttime_builder_spark.sources.readers import TPCH_TABLES, load_table

__all__ = ["TPCH_TABLES", "load_table"]
