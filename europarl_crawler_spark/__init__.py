"""europarl_crawler_spark — a from-scratch PySpark-native rebuild of the
europarl-crawler frontier + fetch pipeline (reference: bockstaller/europarl-crawler).

Spark-first architecture:

- All relational state lives in epoch-snapshot tables (Parquet + JSON manifest,
  an Iceberg-``MERGE INTO`` emulation — see ``sources/epochstore.py``)
  read/written as DataFrames.
- The URL frontier is a partitioned priority queue: candidate generation is a
  broadcast cross-join + anti-join against the seen set, priority drain is a
  per-host-salt window ``row_number() <= budget`` (no global sort).
- Politeness is the reference's TokenBucket state machine
  (reference: europarl/workers/tokenbucket.py) evaluated per host per epoch as
  a data-plane join of the politeness table against the epoch's status
  flags — host state never collects to the driver.
- Fetch + extract is one Arrow stage (``mapInPandas``): each batch loops per
  row over decode + phash, producing image+caption rows per BASELINE.json
  input_hint.
"""

__version__ = "0.1.0"

from europarl_crawler_spark.plans.session import get_spark  # noqa: F401
