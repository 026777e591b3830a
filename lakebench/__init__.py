"""Closed-loop benchmark of the icegopher_spark engine; see run.py."""
