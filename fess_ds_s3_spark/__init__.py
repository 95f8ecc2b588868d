"""fess_ds_s3_spark — a from-scratch, PySpark-native URL-frontier + fetch scheduler.

Re-expresses the capabilities of codelibs/fess-ds-s3 (an S3 object crawler for
Fess) as an idiomatic Spark engine:

- ``sources``   — frontier / bucket-catalog / payload tables, deterministic
                  synthetic generators, and a snapshot-table storage layer.
- ``functions`` — vectorized column functions (URL build/canonicalize, MIME
                  sniff, text analysis, hashing/sketches).
- ``operators`` — filter chain, URL-seen set (exact + bloom/cuckoo),
                  politeness scheduler, extraction, projection, dedup,
                  similarity search, multimodal plumbing.
- ``plans``     — the per-round DataFrame pipeline and the multi-round crawl
                  driver loop with checkpoint/resume + lineage.
- ``streaming`` — Structured Streaming (foreachBatch) variant of the round.

The single-threaded pure-Python transcription of the reference crawl
semantics (AmazonS3DataStore.storeData), the correctness oracle, lives in
``tests/oracle.py``.

Everything row-level is DataFrame ops + Arrow-vectorized pandas UDFs — no
per-row Python in the hot path.
"""

from fess_ds_s3_spark.config import ConfigError, CrawlConfig
from fess_ds_s3_spark.session import validate_client_params

__all__ = ["CrawlConfig", "ConfigError", "validate_client_params"]
__version__ = "0.4.4"
