"""ndto_spark benchmark (see README.md)."""
