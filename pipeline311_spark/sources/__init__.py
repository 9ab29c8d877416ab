"""Sources: scans S1-S10 (SURVEY §2.1) re-expressed for Spark.

Parquet/CSV/JDBC reads are declarative (`spark.read`) so Catalyst pushes
filters and prunes columns for free — the reference's hand-written SOQL
projection/filter pushdown (config.py:99-145) becomes the default.
"""

from pipeline311_spark.sources.readers import (  # noqa: F401
    load_table,
    read_csv,
    read_jdbc,
)
from pipeline311_spark.sources.validate import (  # noqa: F401
    SchemaMismatch,
    validate_columns,
    validate_schema,
    assert_field_set_equality,
    dup_guard,
    assert_single_row_per_key,
)
