"""CLARITE pipeline benchmark (see README.md)."""
