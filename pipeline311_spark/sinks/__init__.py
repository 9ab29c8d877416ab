from pipeline311_spark.sinks.writers import (  # noqa: F401
    parquet_writer,
    write_parquet,
    write_csv,
    overwrite_reload,
    batched_foreach_writer,
)
