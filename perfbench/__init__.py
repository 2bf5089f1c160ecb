"""Seeded benchmark for the webxtract extraction pipeline (see README.md)."""
