"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.8) and the north_rule asks for
batch + resumability, which sinks/table_format.py provides. This package
holds the streaming operators the registry runs or the sinks' contracts
need: sessionization over an events ``readStream`` (``events.py``, run
end-to-end by the ``event_sessions`` query), the foreachBatch MERGE and
delta-append sinks into the snapshot tables (``events.py``), and
continuous-ingest MinHash near-duplicate detection (``dedup.py``, run by
the ``dedup_minhash_stream`` query).
"""
