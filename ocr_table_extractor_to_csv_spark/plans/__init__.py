"""Planning helpers: skew-aware partitioning, checkpoint resume, lineage,
and the run scope that owns a run's intermediate artifacts."""
