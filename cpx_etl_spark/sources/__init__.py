from cpx_etl_spark.sources.registry import TABLES, load_all, load_table, local_frame

__all__ = ["TABLES", "load_table", "load_all", "local_frame"]
