"""TPCx-BB-shaped benchmark of gpu_bdb_spark; entry point run.py."""
