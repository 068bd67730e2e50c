from mit_map_reduce_spark.functions.columns import (  # noqa: F401
    tokenize_letters,
    whitespace_tokens,
    word_kgrams,
    cosine_similarity,
    vec_norm,
)
