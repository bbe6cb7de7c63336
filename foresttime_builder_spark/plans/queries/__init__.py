"""Per-family benchmark query modules, each declaring its own ``QUERIES``
entries; ``plans.benchmark_queries`` merges them."""
