"""Seeded end-to-end benchmark of the linker; entry point is perfbench/run.py."""
