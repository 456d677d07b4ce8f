"""TSP job benchmark (see README.md)."""
