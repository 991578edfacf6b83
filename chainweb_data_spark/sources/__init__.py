from .schema_check import check_store, check_table_schema
from .tables import TESTDATA_TABLES, load_table, load_tables, register_views

__all__ = [
    "TESTDATA_TABLES",
    "check_store",
    "check_table_schema",
    "load_table",
    "load_tables",
    "register_views",
]
