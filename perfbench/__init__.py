"""Training benchmark for the iterative engine (see README.md)."""
