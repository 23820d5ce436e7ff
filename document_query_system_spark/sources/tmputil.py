"""Process-scoped temp artifact root with exit-time cleanup.

Side-effect queries (bucketed tables, partitioned layouts, landing
dirs, format round-trips, streaming upsert targets) materialize under
ONE per-process directory:

- the per-process uuid component means concurrent processes (driver
  correctness gate, bench, pytest) can never overwrite each other's
  files mid-read;
- the single root makes cleanup one recursive delete, registered with
  atexit so repeated suite runs don't accrete /tmp garbage.

Every derived artifact is built once per session through
``ensure_materialized``, the one session memo. Its keys start with the
session's ``applicationId`` (stable and unique per SparkSession) rather
than ``id(spark)``, which CPython may reuse after a stopped session is
garbage-collected. The paths among its recorded results
(``live_paths``) are the live set that index retention must not
delete.

The artifacts' schemas and row counts are facts the engine already
holds, so serving reads them without a Spark job:

- ``read_artifact`` infers a path's schema once (``spark.read.parquet``
  runs a footer-reading job per call) and reads with the recorded
  schema afterwards; ``write_artifact`` drops the record of the path
  it writes, so a rewrite with a new schema is re-inferred;
- ``parquet_rows`` sums the row counts in the Parquet footers on the
  driver instead of running ``count()``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql.types import StructType

PROC_TAG = uuid.uuid4().hex[:8]
ROOT = os.path.join(tempfile.gettempdir(), f"dqs_{PROC_TAG}")


def tmp_path(*parts: str) -> str:
    """A path under this process's dqs temp root (not created)."""
    return os.path.join(ROOT, *parts)


def dir_tag(sf_dir: str) -> str:
    """Path-unique artifact tag for a corpus directory. Derived from
    the FULL sf_dir, not its basename: memoization keys on the full
    path (ensure_materialized's key), so the artifact path must too —
    with a basename tag, two corpora sharing a basename in one session
    silently overwrite each other's stored artifact while both memos
    claim it is built, and the second reader gets the wrong corpus's
    data with no error (r8 ADVICE).

    Two hardening properties (r9 review):
    - INJECTIVE: '/'→'_' alone maps distinct paths ('/a/b_c', '/a_b/c')
      to one tag — the same silent-collision bug one level up. A sha1
      suffix of the (trailing-slash-normalized) path makes collisions
      impossible; the readable prefix stays for debuggability.
    - IDENTIFIER-SAFE: the tag feeds SQL table names (sinks.py
      bucketed tables) as well as paths, so everything outside
      [A-Za-z0-9_.] is folded to '_' (a hyphenated checkout dir would
      otherwise break the unquoted DDL).

    The readable prefix is CAPPED to the last two path components
    (r9 ADVICE): uniqueness is carried entirely by the sha1 suffix,
    and embedding a deeply nested absolute path yields identifiers
    long enough to hit catalog/metastore name-length limits (Hive's
    default column/table cap is 128-767 chars depending on the
    metastore backend). Because the capped prefix no longer
    disambiguates, the suffix is 16 hex chars (64 bits): birthday
    collision odds for n same-tail corpora are ~n²/2^65 instead of
    the ~n²/2^33 an 8-char suffix gave (r10 ADVICE); total identifier
    stays ≤ 65 chars, far under any metastore cap."""
    import hashlib
    import re

    norm = sf_dir.rstrip("/")
    tail = "/".join(norm.strip("/").split("/")[-2:])
    base = re.sub(r"[^A-Za-z0-9_.]", "_", tail)[:48]
    return f"{base}_{hashlib.sha1(norm.encode()).hexdigest()[:16]}"


def session_key(spark, *extra) -> tuple:
    """Memoization key stable for the lifetime of a SparkSession."""
    return (spark.sparkContext.applicationId, *extra)


#: The session memo: one recorded build result per session_key(spark,
#: kind, sf_dir, *extra).
_MATERIALIZED: dict[tuple, object] = {}


def ensure_materialized(spark, kind: str, sf_dir: str, build, *extra):
    """Run ``build()`` once per ``session_key(spark, kind, sf_dir,
    *extra)`` and return its recorded result on every call. This is the
    engine's one record of derived artifacts already built in a session:
    stored indexes and layouts (a path, or a ``(layout, centroids,
    cells)`` triple), side-effect tables (``None``) and plan-time probe
    literals. A build that raises records nothing, so the next call
    builds again. Builders write under a ``tmp_path`` carrying
    ``dir_tag(sf_dir)``, so artifacts of two corpora never share a
    path."""
    key = session_key(spark, kind, sf_dir, *extra)
    if key not in _MATERIALIZED:
        _MATERIALIZED[key] = build()
    return _MATERIALIZED[key]


def live_paths() -> set[str]:
    """Every path a recorded build returned: each string result and
    each string member of a tuple result. A later call hands these
    paths out again without rebuilding, so retention must not delete
    them."""
    out: set[str] = set()
    for res in list(_MATERIALIZED.values()):
        for x in res if isinstance(res, tuple) else (res,):
            if isinstance(x, str):
                out.add(x)
    return out


#: Recorded schema per artifact path (read_artifact / write_artifact).
_SCHEMAS: dict[str, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()
#: Bumped by every forget: an inference that overlapped a write is not
#: recorded, since it may have seen the files the write replaced.
_FORGETS = 0


def _artifact_key(path: str) -> str:
    return path.rstrip("/")


def read_artifact(spark, path: str):
    """``spark.read.parquet(path)`` for a dataset the engine wrote: the
    first read of a path infers its schema and records it; later reads
    pass the recorded schema, which skips the inference job. Files are
    still listed per read, so files appended since are seen. A path
    never recorded reads by inference, so paths written by callers
    (manifest-resolved or hand-built layouts) work unchanged."""
    key = _artifact_key(path)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        forgets = _FORGETS
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        if forgets == _FORGETS:
            _SCHEMAS[key] = df.schema
    return df


def forget_artifact(path: str) -> None:
    """Drop the recorded schema of ``path``, of every path under it and
    of every path above it: a write anywhere in a dataset's tree can
    change what a read of any enclosing path sees."""
    global _FORGETS
    key = _artifact_key(path)
    with _SCHEMAS_LOCK:
        _FORGETS += 1
        for k in [
            k
            for k in _SCHEMAS
            if k == key or k.startswith(key + "/") or key.startswith(k + "/")
        ]:
            del _SCHEMAS[k]


def write_artifact(writer, path: str) -> None:
    """``writer.parquet(path)`` for every package write, so the next
    ``read_artifact`` of the path re-infers a schema the write may have
    changed. The record is dropped even when the write fails part-way."""
    try:
        writer.parquet(path)
    finally:
        forget_artifact(path)


def _listed(name: str) -> bool:
    """Spark's file-listing rule: names starting with '_' (other than
    partition directories) or '.' are not data."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def parquet_rows(path: str) -> int:
    """Row count of the local Parquet file or dataset (flat or
    partitioned) at ``path`` from its file footers, read on the driver:
    the number ``spark.read.parquet(path).count()`` returns, without a
    Spark job."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _listed(d)]
        n += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if _listed(f)
        )
    return n


@atexit.register
def _sweep() -> None:  # pragma: no cover - exit hook
    shutil.rmtree(ROOT, ignore_errors=True)
