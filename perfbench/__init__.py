"""Seeded benchmark of the inverted-index engine; see README.md."""
