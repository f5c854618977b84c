"""fruits_spark — a PySpark-native iterated-sums-signature (ISS)
rollup / downsample / retention engine.

Computes FRUITS-style ISS features (reference: irkri/fruits) as tiered
continuous aggregates over tables of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``.

Layers:
  * :mod:`fruits_spark.words`   — word algebra + prefix-CSE plan (driver).
  * :mod:`fruits_spark.kernels` — pure-NumPy scan kernels (executors,
    inside the Arrow-batched extract UDF).
  * :mod:`fruits_spark.plan`    — declarative pipeline spec ("Fruit"
    equivalent) compiled to a DataFrame DAG.
  * :mod:`fruits_spark.engine`  — Spark session, rollup tiers, gap-fill,
    skew-immune one-shuffle rollups, codecs, lineage checkpoints.
"""

__version__ = "0.1.0"
