"""Raw-data identity + sink (reference S10,
src/utils/raw-data-utils.ts:20-44, 106-141, 196-214).

``ingest_data`` content (not backed by a file) is persisted under
``<db>/raw-data/<base64url(normalized_source)>.md`` with a sidecar meta
record; the source is recoverable from the path. Here the sidecar is a
small parquet side table instead of per-file .meta.json — same facts,
queryable shape.
"""

from __future__ import annotations

import base64
import os
from urllib.parse import urlsplit, urlunsplit


def normalize_source(source: str) -> str:
    """Strip query+fragment from http(s) URLs ONLY (reference
    src/utils/raw-data-utils.ts:57-70); other sources pass through."""
    if source.startswith(("http://", "https://")):
        parts = urlsplit(source)
        return urlunsplit((parts.scheme, parts.netloc, parts.path, "", ""))
    return source


def source_to_path(source: str, db_path: str = "/data/db") -> str:
    key = base64.urlsafe_b64encode(normalize_source(source).encode()).decode().rstrip("=")
    return f"{db_path.rstrip('/')}/raw-data/{key}.md"


def path_to_source(path: str, db_path: str = "/data/db") -> str | None:
    """Inverse of source_to_path; None for non-raw-data paths.

    Membership is the MANAGED DIRECTORY, not decodability: an ordinary
    document whose basename happens to be valid base64url (e.g.
    '/docs/dGVzdA.md') must not be misreported as a raw-data row.

    The one source-restoration formula: the engine's Spark-path answers
    (``RagEngine._answer``), the sidecars and the server all restore
    ``source`` with it, on the driver."""
    if not path.startswith(db_path.rstrip("/") + "/raw-data/"):
        return None
    name = os.path.basename(path)
    if not name.endswith(".md"):
        return None
    key = name[: -len(".md")]
    try:
        padded = key + "=" * (-len(key) % 4)
        return base64.urlsafe_b64decode(padded.encode()).decode()
    except Exception:
        return None
