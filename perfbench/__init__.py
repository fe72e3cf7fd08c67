"""Code-search benchmark (see README.md)."""
