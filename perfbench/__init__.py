"""Submission benchmark for the DVE pipeline (see README.md)."""
