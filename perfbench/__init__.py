"""Layered benchmark of the token codec engine; entry point ``run.py``."""
