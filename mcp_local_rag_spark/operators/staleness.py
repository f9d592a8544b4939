"""Staleness contract for maintained artifacts.

plans/secondary already enforces it for warehouse lookups
(``lookup_by`` / ``range_lookup``): a read either proves it reflects the
source's current version or fails loudly — silent staleness is never an
option. ``check_covers`` is the shared verdict for an artifact that
records the source stamp it was built from (a covers-stamp):

  * the RAG serving sidecars (operators/hybrid_serve's postings index vs
    the chunks table, operators/ivf_serve's chunks-backed index vs the
    table it was built from) always pass ``stale_ok=False``: a lagging
    artifact raises StaleServingError. Each sidecar query also compares
    the chunks table's content stamp with the one its caches were loaded
    at and reloads when it moved, so the table itself is always served
    current;
  * plans/dedup_index keeps the ``stale_ok`` escape hatch of
    plans/secondary's lookups, where ``True`` reads the artifact as-of
    its own stamp.

Artifacts without a covers-stamp (built by plain write_postings /
write_ivf_index outside the engine) carry no proof and serve as before.
The reference has one serving process over one always-current table, so
no counterpart exists; semantics follow plans/secondary's
``_check_fresh``.
"""

from __future__ import annotations


class StaleServingError(RuntimeError):
    """A maintained artifact lags its source and ``stale_ok`` was not
    set."""


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
            " build_ann_index)"
        )
