"""Layered benchmark of the quality-filter stage; entry point run.py."""
