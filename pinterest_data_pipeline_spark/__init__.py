"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference pipeline (WillEckersley/Pinterest_data_pipeline).

Built Spark-first: DataFrame/SQL declarative plans optimized by Catalyst,
Structured Streaming for the stream path, Arrow-vectorized Pandas UDFs only
where built-ins cannot express the semantics (similarity kernels, multimodal
decode). See SURVEY.md for the operator inventory this package implements.

Layout:
    session    - SparkSession builder: local[<affinity cores>] by default / cluster scale
    schemas    - explicit StructTypes (no schema inference on the hot path)
    operators/ - cleaning, dedup, similarity, text, multimodal operator library
    sources/   - batch landing-dir readers + synthetic raw-entity generators
    plans/     - the analytical query battery (reference Q1-Q9 + testdata duals)
    streaming/ - readStream pipelines: parse -> clean -> watermark -> sink
"""

__version__ = "0.1.0"
