from cogie_spark.operators.blocking import candidate_pairs  # noqa: F401
from cogie_spark.operators.cc import connected_components  # noqa: F401
from cogie_spark.operators.dedup import (  # noqa: F401
    embedding_near_duplicates,
    minhash_near_duplicates,
    semantic_duplicates,
)
from cogie_spark.operators.metrics import bcubed, blocking_quality, pairwise_prf  # noqa: F401
