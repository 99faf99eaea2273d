"""bela_spark — a brand-new PySpark-native record-linkage / entity-resolution
engine with the query and data-processing capabilities of facebookresearch/BELA.

The reference (BELA, /root/reference) links free-text mentions to a catalogue
of entities: embed in batch -> bound the candidate space with an ANN index ->
score candidate pairs -> threshold -> merge/cluster -> F1. This package
re-expresses that dataflow Spark-first over an Iceberg-shaped table of
source-code repositories (``repo_files(repo, path, commit, lang, content)``):

  blocking (MinHash-LSH + token-prefix keys)   ~ BELA's FAISS candidate bound
  candidate-pair equi-join per blocking key    ~ batched top-k retrieval (J1/J3)
  pairwise scoring inside the key join         ~ EL classification head (E6/E8)
  threshold + transitive clustering (CC)       ~ entity-id assignment
  micro pairwise P/R/F1                        ~ bela/evaluation/model_eval.py

Everything is pyspark.sql DataFrame + vectorized pandas/Arrow UDFs; no per-row
Python UDFs anywhere. See SURVEY.md for the full operator inventory and the
file:line mapping into the reference.
"""

__version__ = "0.1.0"
