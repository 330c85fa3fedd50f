"""Structured Streaming operators.  Every stream starts through one
runner, :func:`.clickstream.run_available_now`, which sizes its state,
removes its checkpoint and returns the memory sink's rows (no temp view
left registered) or drives a ``foreachBatch`` sink."""
