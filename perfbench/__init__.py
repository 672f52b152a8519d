"""Medallion lakehouse benchmark (see README.md in this directory)."""
