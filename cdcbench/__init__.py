"""CDC replication benchmark: seeded Kafka-shaped inputs, closed-loop
workloads over the streaming apply path, and a traced per-layer breakdown.
Run ``python3 cdcbench/run.py --help``; see ``cdcbench/README.md``."""
