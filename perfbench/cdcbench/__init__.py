"""CDC replicator benchmark harness; see perfbench/README.md."""
