"""big_data_hadoop_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the ``Michael-Mbajwa/big_data_hadoop`` reference (text tokenization with
word/number classification, frequency counts, top-K, windowed co-occurrence
pairs and stripes, category-partitioned outputs), rebuilt on the Spark
DataFrame / Catalyst stack and extended with a relational query surface and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing).

Design stance (see SURVEY.md):
- DataFrame-first; zero Python row-UDFs on the parity path.
- Catalyst supplies partial aggregation (the reference's hand-wired
  combiners), shuffle planning (its custom partitioner) and top-K
  (``TakeOrderedAndProject`` replaces driver-side ``take(1000)``).
- Co-occurrence windows are computed by zipping shifted array slices
  (no self-join), so the only shuffle is the final aggregation.
"""

from big_data_hadoop_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
