"""Plan text and composed query plans: ``explain_str`` (read by the plan and
shuffle dump tools) and the curation funnel."""
