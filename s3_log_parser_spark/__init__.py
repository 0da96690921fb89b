"""s3_log_parser_spark — a from-scratch PySpark-native parse → enrich →
route → aggregate pipeline over multi-turn transcript tables.

Generalizes the query/data-processing capabilities of the reference C
pipeline ``cochraneray/s3_log_parser`` (see SURVEY.md) into idiomatic
Spark DataFrame code. Nothing here is a port: the reference tells us
WHAT to compute (operators, encodings, flag semantics, group-by
products); Catalyst/Tungsten decide HOW.

Package layout
--------------
- ``session``    — tuned SparkSession builder (AQE, Arrow, UTC).
- ``schemas``    — fixed StructTypes + enum dictionaries.
- ``sources``    — deterministic transcript generator, table-format seam.
- ``functions``  — scalar kernels: DJB2, grok parse bank, encodings,
                   text-analysis, vector math.
- ``operators``  — relational building blocks: broadcast enrich, window
                   flags/dedup, router, aggregates, near-dup suites,
                   similarity search.
- ``plans``      — the end-to-end pipeline DAG + lineage/resume.
- ``streaming``  — structured-streaming variant of the router.
- ``multimodal`` — binary-column plumbing with length-derived metadata.
"""

__version__ = "0.1.0"
