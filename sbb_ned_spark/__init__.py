"""sbb_ned_spark — a from-scratch PySpark-native entity-resolution engine.

Re-expresses the disambiguation core of qurator-spk/sbb_ned (candidate
blocking via surface-form lookup, pairwise similarity scoring,
decision/clustering — see /root/reference/qurator/sbb_ned/index.py,
models/sentence_lookup.py, models/decider.py) as three DataFrame stages
over a table of source-code files:

    Stage 1  blocking    — normalized-token + MinHash-LSH blocking keys
    Stage 2  scoring     — batched pairwise similarity inside mapInPandas
    Stage 3  clustering  — threshold + large-star/small-star connected components

Everything is declarative DataFrame/SQL first; Python appears only inside
Arrow-vectorized pandas UDFs (no per-row Python UDFs anywhere).
"""

__version__ = "0.1.0"

from sbb_ned_spark.config import PipelineConfig  # noqa: F401
