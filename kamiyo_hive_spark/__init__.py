"""kamiyo_hive_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference system (kamiyo-ai/kamiyo-hive,
surveyed in SURVEY.md at the repository root), plus the LLM-data-pipeline operator
families (dedup, similarity search, text analysis, multimodal plumbing)
needed by a 100 TB-scale training-data pipeline.

Design rules (enforced throughout):
- DataFrame/SQL first: every operator is a declarative Catalyst plan.
  No RDDs, no ``collect()`` in any transform path.
- Broadcast small dimensions; shuffle only on true aggregation/join keys.
- Exact numerics: monetary doubles are cast to DECIMAL before
  order-dependent aggregation so results are bit-identical across
  engines and partitionings (see ``functions.money``).
- Python only at the edges: Pandas UDFs (Arrow-batched) where built-in
  functions genuinely cannot express the semantics.
"""

__version__ = "0.1.0"
