from .session import get_spark
from .io import TABLES, load_table
from .registry import Query, register, all_queries, get_query

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "Query",
    "register",
    "all_queries",
    "get_query",
]
