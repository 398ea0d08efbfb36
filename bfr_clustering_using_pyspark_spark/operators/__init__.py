"""LLM-data-pipeline operators: text analysis, deduplication,
similarity search, multimodal column plumbing.

Each module exposes QUERIES / ORACLES like ``plans/``, which merges
them into the registry.
"""
