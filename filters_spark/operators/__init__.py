"""DataFrame-level operators: ``validate`` (the ingest path's validation);
the corpus-curation operators and sketches beside it are off the ingest
path (tests/test_layout.py)."""
