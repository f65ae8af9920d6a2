"""Seeded end-to-end and per-layer benchmark of pysparkdedup (see README.md)."""
