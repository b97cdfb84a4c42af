"""The repository benchmark: workloads, Kinesis stand-ins and tracing.

Entry point: ``python3 perfbench/run.py`` (see README.md)."""
