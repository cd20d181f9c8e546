"""Repository benchmark: batch extraction, near-dup and curation jobs on
seeded synthetic inputs. Entry point: ``python3 perfbench/run.py``."""
