"""Remote filesystem connectors (S8): URL-scheme + credential mapping.

The reference builds DuckDB httpfs URLs and SETs s3 credentials per
connection (reference src/grpc/handlers/import_export.py:141-270: s3://,
azure://, gcs://, http(s)://, pre-signed URLs). Spark's equivalents are the
Hadoop connectors — the engine's job is only the *mapping*: translate the
storage URL to the Hadoop scheme and the credential dict to
``spark.hadoop.*`` conf. No network I/O here; pure functions, unit-tested.

Scale notes: on a cluster these confs belong in spark-defaults / the
cluster's instance profile; per-job credentials use the per-bucket variants
(``fs.s3a.bucket.<name>.access.key``) so two buckets with different creds
coexist in one session.
"""

from __future__ import annotations

SCHEME_MAP = {
    "s3": "s3a",       # hadoop-aws S3A connector
    "azure": "abfss",  # ABFS (hadoop-azure)
    "gcs": "gs",       # GCS connector
    "gs": "gs",
    "http": "http",
    "https": "https",
}


def translate_url(url: str) -> str:
    """storage URL → Hadoop-connector URL (s3://b/k → s3a://b/k, …)."""
    scheme, sep, rest = url.partition("://")
    if not sep:
        return url  # local path
    mapped = SCHEME_MAP.get(scheme.lower())
    if mapped is None:
        raise ValueError(f"unsupported remote scheme: {scheme}")
    return f"{mapped}://{rest}"


def s3_credentials_conf(access_key: str | None = None,
                        secret_key: str | None = None,
                        session_token: str | None = None,
                        endpoint: str | None = None,
                        bucket: str | None = None) -> dict[str, str]:
    """Credential dict → spark.hadoop.fs.s3a.* conf (mirrors the
    reference's per-connection `SET s3_access_key_id/…/s3_session_token`).
    With ``bucket``, emits per-bucket conf so sessions can hold multiple
    credential sets."""
    prefix = ("spark.hadoop.fs.s3a."
              if bucket is None else f"spark.hadoop.fs.s3a.bucket.{bucket}.")
    conf: dict[str, str] = {}
    if access_key is not None:
        conf[prefix + "access.key"] = access_key
    if secret_key is not None:
        conf[prefix + "secret.key"] = secret_key
    if session_token is not None:
        conf[prefix + "session.token"] = session_token
        conf[prefix + "aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
    if endpoint is not None:
        conf[prefix + "endpoint"] = endpoint
        conf[prefix + "path.style.access"] = "true"  # MinIO-style endpoints
    return conf
