"""Relational / dataflow operators."""
