"""Vectorized column functions (Arrow-batched pandas UDFs + built-in exprs)."""

from fess_ds_s3_spark.functions.urls import (
    build_object_url,
    build_management_url,
    canonicalize_url,
    encode_uri_path,
    filename_from_key,
)

__all__ = [
    "build_object_url",
    "build_management_url",
    "canonicalize_url",
    "encode_uri_path",
    "filename_from_key",
]
