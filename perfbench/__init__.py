"""aarhus_spark benchmark (see README.md)."""
