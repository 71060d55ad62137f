from .readers import read_csv, read_parquet, read_testdata, read_jdbc_partitioned
from .rest import rows_from_records

__all__ = [
    "read_csv",
    "read_parquet",
    "read_testdata",
    "read_jdbc_partitioned",
    "rows_from_records",
]
