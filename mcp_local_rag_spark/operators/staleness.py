"""Uniform staleness / AS-OF contract for the serving tier.

plans/secondary already enforces it for warehouse lookups
(``lookup_by`` / ``range_lookup``): a serving read either proves it
reflects the source's current version, serves a caller-PINNED version,
or fails loudly — silent staleness is never an option. This module
gives the RAG serving sidecars (operators/vector_serve, hybrid_serve,
ivf_serve) the same two keywords:

  at_version=V   serve EXACTLY the snapshot stamped ``V`` (the chunks
                 table's content stamp, plans/ingest.bump_table_version):
                 fresh if the table is still at V, from the pinned cache
                 if the server already holds V, otherwise
                 StaleServingError — a batch of queries pinned to one
                 version reads one consistent snapshot even while
                 ingests land mid-batch.
  stale_ok       only consulted when a maintained artifact PROVABLY lags
                 its source (hybrid's postings vs the chunks table,
                 ivf_serve's index vs the table it was built from):
                 False (default) raises StaleServingError with the two
                 versions; True serves the artifact as-of its own stamp —
                 the ``stale_ok`` escape hatch of plans/secondary's
                 lookups, spelled the same everywhere. Artifacts
                 without a covers stamp (built by plain write_postings
                 / write_ivf_index outside the engine) carry no proof
                 and serve as before.

The reference has one serving process over one always-current table, so
no counterpart exists; semantics follow plans/secondary's
``_check_fresh`` / ``at_source_version`` (same module, warehouse tier).
"""

from __future__ import annotations


class StaleServingError(RuntimeError):
    """The serving snapshot cannot satisfy the caller's freshness
    contract: a pinned ``at_version`` is no longer reachable, or a
    maintained artifact lags its source and ``stale_ok`` was not set."""


def check_pin(
    what: str, at_version: str, current: str | None, cached: str | None
) -> str:
    """Resolve an ``at_version`` pin: returns 'fresh' when the source is
    still at the pinned version, 'cached' when the server's resident
    snapshot holds it, else raises."""
    if current is not None and str(current) == str(at_version):
        return "fresh"
    if cached is not None and str(cached) == str(at_version):
        return "cached"
    raise StaleServingError(
        f"{what}: pinned version {at_version!r} is not reachable "
        f"(source is at {current!r}, resident snapshot holds {cached!r}); "
        "re-query without at_version, or pin a reachable stamp"
    )


def check_covers(
    what: str, covered: str | None, current: str | None, stale_ok: bool
) -> None:
    """Raise unless the artifact's covers-stamp matches the source's
    current stamp (or either side carries no stamp — no proof, no
    verdict). ``stale_ok=True`` downgrades to serve-as-of-the-stamp."""
    if stale_ok or covered is None or current is None:
        return
    if str(covered) != str(current):
        raise StaleServingError(
            f"{what} is stale: it covers source version {covered!r} but "
            f"the source is at {current!r}; re-sync it (engine.optimize /"
            " build_ann_index), or pass stale_ok=True to serve it as-of"
            " its own stamp"
        )
