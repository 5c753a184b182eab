"""impresso_ta — a PySpark-native text-acquisition analytics engine.

A from-scratch re-expression of the capability surface of
impresso/impresso-text-acquisition (an OCR/ASR ETL pipeline built on Dask
bags) as an idiomatic Spark DataFrame engine, plus the LLM-data-pipeline
operators (dedup, text analysis) required for large-scale corpus
preparation. ``cli`` runs the three batch jobs:
``import``, ``rebuild`` and ``corpus``.

Layout
------
- ``schemas``    fixed StructTypes for the canonical data model
                 (ref: importers/classes.py, rebuilders/helpers.py)
- ``sources``    discovery (detect) + canonical readers + partitioned sinks
- ``operators``  row validation, dedup, text analysis and corpus
                 preparation (``pipeline.prepare_corpus``, the
                 ``corpus`` job)
- ``functions``  scalar column functions (ids, whitespace)
- ``rebuild``    canonical → rebuilt ("solr") / passim document assembly
- ``importers``  format plugins (bytes → canonical rows) as mapInPandas UDTFs
- ``cli``        the ``import`` / ``rebuild`` / ``corpus`` commands
- ``queries``    the catalogue behind ``__spark_entry__``: package operators
                 over synthetic tables, each checked against a DuckDB
                 oracle by ``tools/check.py``
"""

__version__ = "0.1.0"
