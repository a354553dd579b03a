from kafka_streams_example_spark.sources.files import load_table  # noqa: F401
