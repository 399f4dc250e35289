"""End-to-end benchmark for chill_spark; see README.md and run.py."""
