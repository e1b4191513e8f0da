"""mongo_log_parser_spark — a PySpark-native log parse → enrich → route → aggregate engine.

A from-scratch reimplementation of the query/data-processing capabilities of
mhelmstetter/mongo-log-parser (reference at /root/reference, Java 17), re-expressed
Spark-first: the reference's per-row JSON parse + synchronized HashMap accumulators
become one DataFrame program — contains-prefilter → one Arrow-batched parse
(`mapInArrow`, the grammar declared once in functions/parse.py) → predicate
router → Catalyst hash aggregates — with the two genuinely non-relational
transforms (redact/trim, media metadata) as Arrow-batched pandas UDFs.

Layout:
  sources/     pages table reader + deterministic synthetic generator + lookups
  functions/   column-expression libraries: prefilter, parse, extract, redact, textstats
  operators/   route fan-out, aggregates A1-A12, joins, dedup, similarity, salting
  plans/       end-to-end pipeline assembly + per-partition lineage manifest
  sinks/       CSV/parquet/JSON-report writers
  streaming/   Structured Streaming variant of parse→route→aggregate
"""

__version__ = "0.1.0"
