"""inxs_spark — a PySpark-native rule-based main-content extraction
engine with the declarative transform model of funkyfuture/inxs.

Layers:
- :mod:`inxs_spark.kernel`    — pure-Python rules kernel (reference
  semantics; parity oracle)
- :mod:`inxs_spark.extract`   — text+span extraction presets
- :mod:`inxs_spark.plans`     — Spark pipelines (pruned scan →
  mapInArrow kernel executor, no sort; one hash exchange only for an
  input with fewer splits than cores)
- :mod:`inxs_spark.sources`   — session defaults, storage helpers
  (input fingerprints, atomic JSON) + deterministic transcript synthesis
- :mod:`inxs_spark.operators` — training-data pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing)
"""

__version__ = "0.1.0"
