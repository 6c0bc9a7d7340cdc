"""End-to-end and per-layer benchmark for boltspark (see README.md)."""
