"""Out-of-program benchmark for the engine: three workloads, end-to-end
metrics, and an event-log layer trace. See perfbench/README.md."""
