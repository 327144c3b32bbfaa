"""Structured Streaming: the replay fixtures, the stream sources and the
stream operators all live in ``mapreducehs_spark.streaming.ops``."""
