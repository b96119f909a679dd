from amazon_personalize_connectors_spark.plans.pipeline import (
    related_items_pipeline,
    user_personalization_pipeline,
)

__all__ = [
    "related_items_pipeline",
    "user_personalization_pipeline",
]
