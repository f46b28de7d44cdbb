"""Mail-pipeline benchmark (see run.py)."""
