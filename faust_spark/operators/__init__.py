"""Operators beyond the reference's surface: the LLM-data-pipeline layer.

- :mod:`faust_spark.operators.dedup` — exact, MinHash+LSH, SimHash,
  n-gram Jaccard, embedding-cosine near-duplicate detection.
- :mod:`faust_spark.operators.similarity` — ANN over embedding columns
  (brute-force cosine top-k baseline; hyperplane-LSH bucketed scale path).
- :mod:`faust_spark.operators.text` — language ID, quality scoring, token
  counting, document fingerprinting.
- :mod:`faust_spark.operators.multimodal` — opaque binary columns with
  typed metadata; decode/feature steps as Arrow-batched pandas UDFs.

All deterministic hashing uses md5 (identical across Spark, DuckDB, and
Python) so every operator can be oracle-checked.

Malformed vectors. A NULL vector, one of the wrong length, one with a
NaN element and one with a zero norm get the result of the engine's
expression form (``similarity.cosine_expr`` and friends), whichever
physical kernel runs: a NULL similarity (NaN for a NaN element),
all-zero signature bits, IVF/PQ code 0, no duplicate pair. Such a
vector never raises, from a Python worker or from a driver-side read,
and never takes a top-k, shortlist or MMR slot from a well-formed row:
every Arrow kernel reads vectors through one decoder,
``similarity._vectors``, and the shared per-query top-k keeps numeric
similarities only. One exception: ``dedup.semantic_dedup`` keeps its
relational rule, under which a NaN cosine orders above every double, so
a NaN vector in a cell is a duplicate of a lower-id row there and makes
higher-id rows duplicates of it (a zero-norm row likewise, 0/0 = NaN).
``tests/test_operator_properties.py`` checks that the clean rows'
output does not change when such rows join the corpus.
"""
