"""Streaming legs of the batch curation indexes (``streaming.ingest``):
each screens or scores an arriving document stream against a stored
index, with the same per-epoch, replay-safe output layout."""
