"""spark-tick benchmark: seeded inputs, three workloads, end-to-end and per-layer metrics (see README.md)."""
