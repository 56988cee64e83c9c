from flink_kafka_filter_transform_spark.sources.parquet import TABLES, load_table

__all__ = ["TABLES", "load_table"]
