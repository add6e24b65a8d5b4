from sift_spark.functions.core import (
    ENTITY_TOKENS,
    MOD31,
    WIKI_PREFIX,
    hash31,
    hash64,
    tokens,
)

__all__ = [
    "ENTITY_TOKENS",
    "MOD31",
    "WIKI_PREFIX",
    "hash31",
    "hash64",
    "tokens",
]
