"""Spark execution layer: wave-scheduled crawl frontier over
snapshot-committed tables, politeness budgets, first-wins dedup against
an exact seen set, and the reference-compatible facade."""
