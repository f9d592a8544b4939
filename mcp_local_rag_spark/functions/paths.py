"""Path/scope predicates and identity keys.

Mirrors the reference's scope matching (exact-or-descendant with separator
boundary, reference src/vectordb/index.ts:440-464 and src/utils/scope-match.ts:39-67),
sync path keys (src/utils/sync-path-key.ts:29-34), and raw-data base64url
source identity (src/utils/raw-data-utils.ts:20-44).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str_lit(s: str) -> str:
    """Exact Spark SQL single-quoted literal for ``s``. With the default
    parser (escapedStringLiterals=false) backslash introduces an escape,
    so doubling backslashes and escaping single quotes reproduces any
    string byte-for-byte — property-pinned against the F.lit Column form
    in tests/test_search.py. Lets a per-request predicate be built as one
    parsed expression instead of a Column chain of synchronous py4j
    calls."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def scope_predicate(path_col: str, prefixes: list[str]) -> Column:
    """exact-or-descendant: path == p OR path LIKE 'p/%' (separator boundary).

    '/a/b' matches scope '/a/b' and '/a/b/c' but NOT '/a/bc'.
    Empty prefix list -> everything matches (no scope restriction).
    ``path_col`` is a column NAME; the predicate is one parsed SQL
    expression (one py4j round trip).
    """
    if not prefixes:
        return F.lit(True)
    # root scope: 'p + "/"' would demand a double slash and match nothing
    # below root — every absolute path is a descendant
    col = f"`{path_col}`"
    return F.expr(" OR ".join(
        f"startswith({col}, '/')" if p == "/" else
        f"{col} = {sql_str_lit(p)} OR startswith({col}, {sql_str_lit(p + '/')})"
        for p in (p.rstrip("/") or "/" for p in prefixes)
    ))


def sync_path_key(path_col: Column, case_fold: bool = False) -> Column:
    """Comparison key for sync reconciliation: lexically resolved path,
    case-folded on case-insensitive filesystems (reference win32 behavior)."""
    key = path_col
    if case_fold:
        key = F.lower(key)
    return key


def base64url_encode(col: Column) -> Column:
    """base64url (unpadded) of a string — raw-data source identity key.

    Spark's ``base64()`` emits MIME-chunked output: a CRLF every 76 chars,
    i.e. for any input over 57 bytes (every real-world URL). Those line
    breaks are NOT part of the encoding — left in, the key differs from
    Python's ``urlsafe_b64encode``, round-trip checks fail, and the
    managed path would embed control characters — so strip them."""
    return F.regexp_replace(
        F.translate(
            F.regexp_replace(F.base64(col.cast("binary")), "[\\r\\n]", ""),
            "+/",
            "-_",
        ),
        "=+$",
        "",
    )


def base64url_decode(col: Column) -> Column:
    """Inverse of base64url_encode (padding restored before decode)."""
    padded = F.rpad(
        col,
        ((F.length(col) + F.lit(3)) / F.lit(4)).cast("int") * F.lit(4),
        "=",
    )
    return F.unbase64(F.translate(padded, "-_", "+/")).cast("string")


def basename(path_col: Column) -> Column:
    return F.element_at(F.split(path_col, "/"), -1)


