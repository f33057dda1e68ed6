"""Outside-in benchmark of the KG-construction engine (see README.md)."""
