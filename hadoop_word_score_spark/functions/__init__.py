from .text import (
    DELIM_CLASS,
    token_count_ws,
    token_count_bpeish,
    rolling_fingerprint,
)
from .vectors import dot, l2_norm, cosine_similarity

__all__ = [
    "DELIM_CLASS",
    "token_count_ws",
    "token_count_bpeish",
    "rolling_fingerprint",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
