"""End-to-end benchmark of the extraction job; see ``run.py``."""
