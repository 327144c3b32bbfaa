from mapreducehs_spark.sources.catalog import TABLES, load_table  # noqa: F401
