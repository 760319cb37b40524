"""elephant_twin_spark — a PySpark-native secondary-index + data-pipeline engine.

A from-scratch rebuild of the capabilities of twitter-archive/elephant-twin
(a Hadoop MapReduce framework for sparse block indexes and Lucene text
indexes over immutable HDFS files), re-expressed Spark-first:

- sparse value->file/block indexes become bucketed Parquet postings tables
  (reference: core/indexing/AbstractBlockIndexingJob.java)
- index-pruned scans become driver-side file pruning feeding a
  Parquet read of just those files plus a Catalyst residual filter
  (reference: core/retrieval/BlockIndexedFileInputFormat.java)
- Lucene text indexes become exploded term-postings Parquet tables
  (reference: lucene/ module)

plus LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.
"""

from elephant_twin_spark.engine import Engine
from elephant_twin_spark.plans.expr import Eq, And, Or, Raw, col

__all__ = ["Engine", "Eq", "And", "Or", "Raw", "col"]

__version__ = "0.1.0"
