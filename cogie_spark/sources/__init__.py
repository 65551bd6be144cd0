from cogie_spark.sources.conll import read_conll  # noqa: F401
