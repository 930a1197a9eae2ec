from cqdg_etl_spark.functions.columns import (
    age_at_recruitment,
    calculate_age,
    display_name,
    is_not_blank,
    not_null_col,
    parse_date_multi,
    truthy_bool,
)
from cqdg_etl_spark.functions.hashing import business_key_hash, deterministic_internal_id
from cqdg_etl_spark.functions.text import (
    char_ngrams,
    fingerprint,
    normalize_ws,
    tokens,
    word_shingles,
)
from cqdg_etl_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "not_null_col",
    "is_not_blank",
    "truthy_bool",
    "display_name",
    "parse_date_multi",
    "calculate_age",
    "age_at_recruitment",
    "business_key_hash",
    "deterministic_internal_id",
    "tokens",
    "normalize_ws",
    "word_shingles",
    "char_ngrams",
    "fingerprint",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
