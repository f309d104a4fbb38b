"""ANN ingest and drift (OPERATIONS.md)."""
