"""Column-expression library: JVM-side built-ins first, pandas UDFs only where
Spark genuinely can't express the math (MinHash permutations, SimHash bit
voting). No per-row Python UDFs anywhere (north rule)."""

from dedup_spark.functions.text import (
    normalize_text,
    tokens,
    token_count,
    shingles,
    shingle_hashes,
    quality_features,
    lang_id_expr,
)
from dedup_spark.functions.minhash import minhash_signature_udf, band_keys
from dedup_spark.functions.simhash import simhash_udf, simhash_blocks
from dedup_spark.functions.signatures import doc_signature_udf, token_hashes
from dedup_spark.functions.rolling import doc_fingerprints, window_hashes, winnow
from dedup_spark.functions.suffix import (
    prefix_doubling,
    suffix_array,
    lcp_array,
    longest_common_run,
    bucket_repeat_pairs,
)

__all__ = [
    "doc_signature_udf",
    "token_hashes",
    "doc_fingerprints",
    "window_hashes",
    "winnow",
    "prefix_doubling",
    "suffix_array",
    "lcp_array",
    "longest_common_run",
    "bucket_repeat_pairs",
    "normalize_text",
    "tokens",
    "token_count",
    "shingles",
    "shingle_hashes",
    "quality_features",
    "lang_id_expr",
    "minhash_signature_udf",
    "band_keys",
    "simhash_udf",
    "simhash_blocks",
]
