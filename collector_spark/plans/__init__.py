"""Reusable plan builders: the north-star pages job (``pages_job``)."""
