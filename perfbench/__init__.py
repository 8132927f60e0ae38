"""Repository benchmark for the EMF pipeline (see perfbench/README.md)."""
