"""Operators that Spark lacks natively: the sharded Bloom URL-seen
pre-filter of the frontier (SURVEY.md §2.2), and the PII redaction and
exact-substring dedup behind the ``pii_scrub`` and
``exact_substring_dedup`` entries of ``queries()``.  Frontier
admission is a groupBy in ``plans/frontier.py``."""
