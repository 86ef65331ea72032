"""Cold, seeded, per-layer benchmark of smartreader_spark (see run.py)."""
