"""Operators that Spark lacks natively: the sharded Bloom URL-seen
pre-filter of the frontier (SURVEY.md §2.2), and the training-data
mixing, packing and scrubbing helpers behind their ``queries()``
entries.  Frontier admission is a groupBy in ``plans/frontier.py``."""
