"""Structured Streaming operator variants (watermarked windows, stateful lag, stream joins)."""

from . import curation, dedup, joins, stateful, throttle, windows  # noqa: F401
