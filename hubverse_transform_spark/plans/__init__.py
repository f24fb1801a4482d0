"""Plan text and composed query plans: ``explain_str`` (read by the plan and
shuffle dump tools) and the curation funnel."""

from hubverse_transform_spark.plans.inspect import explain_str

__all__ = ["explain_str"]
