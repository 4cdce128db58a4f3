"""Scalar function extensions: geo predicates, HLL sketches.

Importing ``aresdb_spark.functions.geo`` registers
``geography_intersects`` and ``geo_shape`` into the AQL expression
whitelist as builders of Spark-SQL text.
"""
