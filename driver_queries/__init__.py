"""Driver query fixtures, one module per family; see __spark_entry__."""
