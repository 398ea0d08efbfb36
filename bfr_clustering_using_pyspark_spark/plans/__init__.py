"""Declarative query plans (the analytics surface).

Each module exposes ``QUERIES: dict[name -> fn(spark, sf_dir) ->
DataFrame]`` and ``ORACLES: dict[name -> duckdb-runnable SQL]`` for
the correctness gate. Computed columns are aliased identically on
both sides (the gate hashes values after sorting columns by name).
The registry merges those dicts in ``_MODULES`` (source) order: the
plans, the operators, then the streaming drains.
"""

from ..operators import (
    bpe, curate, dedup, dq, embeddings_ops, formats, graph, merge,
    multimodal, retrieval, sampling, similarity, sketches, textstats,
)
from .. import streaming
from . import events, ml_queries, tpch, tpch_deep, tpch_ext

_MODULES = (
    tpch, tpch_ext, tpch_deep, events, ml_queries,
    textstats, bpe, curate, dedup, similarity, retrieval, multimodal,
    embeddings_ops, merge, sampling, graph, sketches, formats, dq,
    streaming,
)


def all_queries():
    return {k: v for mod in _MODULES for k, v in mod.QUERIES.items()}


def all_oracles():
    return {k: v for mod in _MODULES for k, v in mod.ORACLES.items()}
