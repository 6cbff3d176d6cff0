"""Cold spark-submit benchmark of the shipped pipeline (see README.md)."""
