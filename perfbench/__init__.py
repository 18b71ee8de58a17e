"""Per-workload benchmark for the BM25 engine (see README.md)."""
