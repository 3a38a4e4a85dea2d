"""The driver registry's queries, by family. Each module's `QUERIES` maps a
query name to (builder, oracle SQL): the builder `(spark, sf_dir) ->
DataFrame` and, beside it, the DuckDB SQL that re-derives the same rows
from the raw tables. `__spark_entry__.py` orders them for the driver."""
