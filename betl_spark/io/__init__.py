from betl_spark.io.datastore import Datastore
from betl_spark.io.readers import local_rows, read_csv_all_string, read_staged, read_source_table
from betl_spark.io.writers import write_staged, empty_to_null, null_to_empty

__all__ = [
    "Datastore",
    "local_rows",
    "read_csv_all_string",
    "read_staged",
    "read_source_table",
    "write_staged",
    "empty_to_null",
    "null_to_empty",
]
