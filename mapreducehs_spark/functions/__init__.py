from mapreducehs_spark.functions.vector import dot_product  # noqa: F401
