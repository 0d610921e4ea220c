"""Standalone benchmark of the dataflow program; see README.md."""
