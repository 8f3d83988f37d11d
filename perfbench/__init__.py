"""End-to-end benchmark of the indexer loop (see README.md)."""
