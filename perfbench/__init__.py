"""Host-fit benchmark for the skar_spark engine (see README.md)."""
