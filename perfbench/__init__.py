"""Closed-loop benchmark of the terrier_spark engine (see README.md)."""
