"""Structured Streaming operators (SURVEY.md §2.7): the corpus ingest
stream and the streaming twins of the batch analytics. The games sink
is filled only by the daily batch in `plans/ingest.py`."""
