"""Event-store benchmark package (see README.md and run.py)."""
