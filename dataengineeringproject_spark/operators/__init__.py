"""Composable DataFrame -> DataFrame operators (SURVEY.md §2 plus the
north-star LLM-data extensions)."""

from dataengineeringproject_spark.operators.aggregates import (
    agg_mode,
    grouped_means,
    salted_agg,
)
from dataengineeringproject_spark.operators.cleaning import (
    clamp_to_null,
    dedup_keep_first,
    drop_unparseable,
    fill_with_median,
)
from dataengineeringproject_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    lsh_candidate_pairs,
    jaccard_on_pairs,
    ngram_jaccard_blocked,
    simhash,
    simhash_neardup,
)
from dataengineeringproject_spark.operators.graph import connected_components
from dataengineeringproject_spark.operators.relational import (
    asof_join,
    pivot_counts,
    sessionize,
)
from dataengineeringproject_spark.operators.timeseries import (
    calendar_spine,
    resample_daily_locf,
)
from dataengineeringproject_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup,
    ivf_topk,
    lsh_cosine_topk,
)
from dataengineeringproject_spark.operators.validation import (
    ValidationError,
    expect,
    expect_no_nulls,
    expect_in_range,
    validate_stream_dead_letter,
)

__all__ = [
    "agg_mode",
    "grouped_means",
    "salted_agg",
    "clamp_to_null",
    "dedup_keep_first",
    "drop_unparseable",
    "fill_with_median",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_on_pairs",
    "ngram_jaccard_blocked",
    "simhash",
    "simhash_neardup",
    "connected_components",
    "asof_join",
    "pivot_counts",
    "sessionize",
    "calendar_spine",
    "resample_daily_locf",
    "cosine_topk",
    "embedding_neardup",
    "ivf_topk",
    "lsh_cosine_topk",
    "ValidationError",
    "expect",
    "expect_no_nulls",
    "expect_in_range",
    "validate_stream_dead_letter",
]
