"""macrobase_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of stanford-futuredata/macrobase, rebuilt
Spark-first (DataFrame/SQL/Catalyst), plus a full-text inverted-index +
BM25 top-k engine over conversation-transcript tables.

Layout
------
- ``operators/``  classify / diff (explanation) / transforms — the MacroBase
  pipeline (ingest → classify → summarize → explanation relation).
- ``functions/``  scalar/quality-metric column expressions and text functions.
- ``index/``      inverted-index build (postings, delta+varint, one encode
  per term, checkpoints) and BM25 block-max top-k query.
- ``pipelines/``  training-data-pipeline ops: dedup (exact/minhash/simhash),
  similarity search (ANN), multimodal plumbing.
- ``fixtures/``   deterministic synthetic data generators (transcripts, the
  MacroBase `sample` table).
- ``streaming/``  windowed / Structured Streaming variants of the operators.

Everything is expressed as lazy DataFrame plans so Catalyst handles pushdown,
pruning, join selection and AQE; Python touches data only through Arrow
(pandas UDFs) — never per-row.
"""

# no pyspark import here: worker_daemon runs this before it takes Spark's
# archives off the worker path, so pyspark would load from pyspark.zip
__version__ = "0.1.0"
