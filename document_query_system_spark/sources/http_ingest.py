"""URL document ingestion with retry/backoff (S1, ref:
ingestion_service.py:220-269 — aiohttp fetch loop with exponential
backoff and content-type validation).

Spark-first split of responsibilities: the *fetch* is driver-side
(SURVEY §2.1 scopes S1 driver-side — a URL list is I/O-bound, not a
cluster computation; at real scale the same ``fetch_with_retry`` is
called from ``mapPartitions`` over a URL table so each executor
fetches its slice), and everything AFTER the landing dir — scan,
sniff, extract, chunk — is the distributed binaryFile pipeline in
sources/extraction.py.

The registered query fetches file:// URLs of the extraction landing
dir (deterministic synthetic containers), so the result is
value-checkable against the same oracle as q_binaryfile_scan.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import urllib.error
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

#: HTTP statuses worth retrying (transient server side), mirroring
#: the reference's backoff loop (ref: ingestion_service.py:237-251).
_RETRYABLE = {500, 502, 503, 504, 429}


def fetch_with_retry(
    url: str,
    max_retries: int = 3,
    backoff_sec: float = 0.25,
    timeout_sec: float = 10.0,
) -> tuple[bytes | None, int, int]:
    """Fetch one URL with exponential backoff.

    Returns (payload, status, attempts). Transient failures
    (URLError, retryable HTTP statuses) retry up to ``max_retries``
    times with delay ``backoff_sec * 2**attempt``; permanent HTTP
    errors (4xx except 429) fail fast. On final failure payload is
    None and status is the last HTTP status, or -1 for transport
    errors."""
    attempts = 0
    status = -1
    while attempts <= max_retries:
        if attempts:
            time.sleep(backoff_sec * (2 ** (attempts - 1)))
        attempts += 1
        try:
            with urllib.request.urlopen(url, timeout=timeout_sec) as resp:
                return resp.read(), getattr(resp, "status", 200), attempts
        except urllib.error.HTTPError as e:
            status = e.code
            if e.code not in _RETRYABLE:
                return None, status, attempts
        except urllib.error.URLError:
            status = -1
    return None, status, attempts


def fetch_to_landing(
    urls: list[tuple[str, str]],
    landing_dir: str,
    max_retries: int = 3,
    backoff_sec: float = 0.25,
) -> list[dict]:
    """Fetch (file_name, url) pairs into ``landing_dir``; returns a
    manifest row per URL: file_name, url, status, attempts, n_bytes,
    sha256 (payload digest, the content-hash dedup-cache key — ref:
    ingestion_service.py:322-329). Failed fetches stay in the
    manifest (n_bytes -1) but write no file, so the downstream scan
    sees only successes.

    Fetches land in a fresh staging dir that atomically REPLACES
    ``landing_dir`` on completion: a landing dir is defined by its
    manifest, so files from an interrupted earlier run (or an earlier
    run with a different URL set under the same dir name) must never
    leak into the downstream binaryFile scan."""
    staging = landing_dir.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    manifest = []
    for file_name, url in urls:
        payload, status, attempts = fetch_with_retry(
            url, max_retries=max_retries, backoff_sec=backoff_sec
        )
        row = {
            "file_name": file_name,
            "url": url,
            "status": status,
            "attempts": attempts,
            "n_bytes": -1 if payload is None else len(payload),
            "sha256": "" if payload is None else hashlib.sha256(payload).hexdigest(),
        }
        if payload is not None:
            with open(os.path.join(staging, file_name), "wb") as f:
                f.write(payload)
        manifest.append(row)
    shutil.rmtree(landing_dir, ignore_errors=True)
    os.replace(staging, landing_dir)
    return manifest


def _ensure_http_landing(spark: SparkSession, sf_dir: str) -> str:
    """The landing directory fetch_to_landing fills from file:// URLs
    of the binaryFile landing files, fetched once per (session,
    sf_dir); returns its path."""
    from .extraction import _ensure_landing_dir
    from .tmputil import dir_tag, ensure_materialized, tmp_path

    def build() -> str:
        src = _ensure_landing_dir(spark, sf_dir)
        dst = tmp_path("http_landing", dir_tag(sf_dir))
        urls = [
            (name, f"file://{os.path.join(src, name)}")
            for name in sorted(os.listdir(src))
        ]
        fetch_to_landing(urls, dst)
        return dst

    return ensure_materialized(spark, "http_landing", sf_dir, build)


@register(
    "q_http_ingest",
    oracle="""
SELECT 'doc_' || doc_id ||
         CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx' ELSE '.eml' END
         AS file_name,
       CAST(length(CASE doc_id % 3
         WHEN 0 THEN '%PDF-1.4' || chr(10) || text || chr(10) || '%%EOF'
         WHEN 1 THEN 'PK' || chr(3) || chr(4) || 'word/' || text
         ELSE 'From: sender-' || doc_id || '@example.com' || chr(13) || chr(10)
              || 'To: dest@example.com' || chr(13) || chr(10)
              || 'Subject: doc ' || doc_id || chr(13) || chr(10)
              || chr(13) || chr(10) || text
       END) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id < 50
""",
)
def q_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: URL list → fetch_with_retry → landing dir →
    distributed binaryFile scan. The URLs here are file:// twins of
    the deterministic landing containers, so the fetched bytes are
    value-checked by the same oracle as q_binaryfile_scan — the
    retry/backoff path itself is unit-tested against a live local
    HTTP server in tests/test_http_ingest.py."""
    bf = spark.read.format("binaryFile").load(_ensure_http_landing(spark, sf_dir))
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.length("content").cast("long").alias("n_bytes"),
    )
