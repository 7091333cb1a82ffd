"""Operators that Spark lacks natively: the sharded Bloom URL-seen
pre-filter of the frontier (SURVEY.md §2.2).  Frontier admission is a
groupBy in ``plans/frontier.py``."""
