"""Job-level planning: per-bucket checkpoint manifests and resume of the pending buckets."""
