"""End-to-end and per-layer benchmark for lakekeeper_spark; see WORKLOADS.md."""
