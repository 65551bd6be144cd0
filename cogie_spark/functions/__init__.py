from cogie_spark.functions.hashing import (  # noqa: F401
    h64,
    minhash_bands,
    simhash64,
)
from cogie_spark.functions.text import (  # noqa: F401
    char_shingles,
    normalize_text,
    tokens,
)
