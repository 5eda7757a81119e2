from .tables import TESTDATA_TABLES, load_table, register_views  # noqa: F401
