"""Benchmark of the versioned-cell engine: two workloads, end to end
and layer by layer.  See README.md."""
