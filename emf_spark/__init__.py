"""emf_spark — a PySpark-native log/telemetry parse → enrich → route →
aggregate engine with the query semantics of
``anthonydresser/fluent-bit-emf-aggregator`` (reference read-only at
/root/reference), re-expressed Spark-first.

Built from scratch on the public PySpark DataFrame API: declarative
logical plans (Catalyst optimizes), Arrow-vectorized pandas UDFs only
where Catalyst genuinely cannot express the semantics (detokenization of
``array<int32>`` token payloads), broadcast joins for enrichment,
salted two-phase hash aggregation for the histogram core.

Layout
------
- ``session``    SparkSession factory with scale-tuned defaults
- ``schema``     input and lookup StructTypes, the metric-value parse DDL
- ``tokenizer``  token <-> bytes contract (Arrow UDFs)
- ``fixtures``   deterministic EMF corpus generator (seeded; no I/O deps)
                 and the enrichment table ``lookup_df`` (source -> sink/env)
- ``operators``  parse / enrich / route / aggregate / output / lineage
- ``datax``      training-data ops: dedup, similarity, text stats,
                 multimodal column plumbing
"""

__version__ = "0.1.0"
