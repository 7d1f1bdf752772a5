"""Benchmark of the engine: registry mix, delivery stream, ordered stream."""
