from cloudbrush_spark.functions import dna, text  # noqa: F401
