"""Outside-in benchmark of the routing job and the headline queries (see run.py)."""
