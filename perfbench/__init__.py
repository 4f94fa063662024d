"""Seeded, closed-loop benchmark of the Spark MLT engine (see README.md)."""
