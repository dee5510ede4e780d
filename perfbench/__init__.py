"""Cold-to-result benchmark of the dedup engine (see README.md)."""
