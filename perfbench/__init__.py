"""Benchmark of the watcher tick and the headline queries; run ``perfbench/run.py``."""
