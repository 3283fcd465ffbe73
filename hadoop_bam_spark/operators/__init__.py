"""Operator library: interval joins, as-of joins, coordinate sort, dedup,
cluster resolution, skew tools, text analysis."""
