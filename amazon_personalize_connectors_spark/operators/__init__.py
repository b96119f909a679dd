from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import (
    decorate_items,
    explode_recommendations,
)
from amazon_personalize_connectors_spark.operators.delta import delta_check
from amazon_personalize_connectors_spark.operators.payload import (
    build_user_track_payloads,
    chunk_iterable,
)
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.operators.stamp import add_job_and_sync_info
from amazon_personalize_connectors_spark.operators.topk import limit_recommendations

__all__ = [
    "attribute_users",
    "decorate_items",
    "explode_recommendations",
    "delta_check",
    "build_user_track_payloads",
    "chunk_iterable",
    "split_errors",
    "add_job_and_sync_info",
    "limit_recommendations",
]
