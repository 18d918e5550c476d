from .registry import TABLES, load_table, register_views
from .reviews import reviews_from_documents, read_reviews_jsonl

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "reviews_from_documents",
    "read_reviews_jsonl",
]
