"""S8 client-open validation: the reference's parameter checks, fail-fast.

The reference validates its S3 client parameters when it constructs the
client (AmazonS3Client.java:67-114). Here the store client is built per
Spark task from a picklable spec, so the checks run once on the driver
when the spec is built (``S3StoreSpec.from_config``) — before any task is
launched. The SparkSession itself is the deployment's to configure
(``spark-submit --py-files fess_ds_s3_spark.zip``; ``examples/`` show the
settings the jobs use).
"""

from __future__ import annotations

from fess_ds_s3_spark.config import ConfigError, CrawlConfig


def validate_client_params(cfg: CrawlConfig, *,
                           require_credentials: bool = True) -> None:
    """S8 client-open fail-fast validation, reference-exact semantics
    (AmazonS3Client ctor, AmazonS3Client.java:67-114,166-172; tested cases
    mirror AmazonS3ClientTest.java:112-159):

    - region required (already enforced at config build),
    - ``access_key_id`` and ``secret_key`` both required when opening a
      store client (either one missing → error naming both params),
    - ``proxy_host`` without ``proxy_port`` / non-numeric port → error
      (enforced at config build; re-checked here for dict-built configs).
    """
    if not cfg.region:
        raise ConfigError("Parameter 'region' is required")
    if require_credentials and (not cfg.access_key_id or not cfg.secret_key):
        raise ConfigError(
            "Parameter 'access_key_id', 'secret_key' is required")
    if cfg.proxy_host:
        if not cfg.proxy_port:
            raise ConfigError("proxy_port required.")
        try:
            int(str(cfg.proxy_port))
        except ValueError as exc:
            raise ConfigError("parameter 'proxy_port' invalid.") from exc
