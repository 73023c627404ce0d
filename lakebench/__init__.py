"""The repository benchmark: seeded lake-batch and query workloads over
the engine, timed end to end, with a traced run that splits the time
into layers. Entry point: ``python3 lakebench/run.py --help``."""
