"""Release handles for operator-internal executor-storage pins.

Several operators persist an internal frame so a branching plan evaluates
the expensive subtree once (curation's flagged frame, the dedup stats
paths).  The persisted frame is function-local, so the release handle is
attached to the RETURNED DataFrame as a python-side attribute AND
registered in a module-level registry keyed by the owning SparkSession —
attributes do not survive ``.filter()``/``.select()`` (each returns a new
DataFrame object), so without the registry a derived-then-released frame
would silently leak its DISK_ONLY pin for the session's lifetime, the
exact failure mode of the long-lived sessions pins exist for.

Contract:
- ``release_pinned(df)`` — unpersist the pins attached to EXACTLY this
  returned object; returns how many pins it dropped (0 = the object
  carried none, e.g. because it was derived from the pinned frame —
  check the return value, or use the registry calls below).
- ``pins_outstanding(spark)`` — how many operator pins are still
  registered for this session (leak detector for tests/monitoring).
- ``release_all_pins(spark)`` — unpersist every registered pin for the
  session (end-of-corpus cleanup when individual handles were lost);
  returns the count dropped.

Pins are also dropped with the session; registry entries leave only via
the release calls (an unpersisted frame is harmless to unpersist again,
so double-release is safe).  The registry is a ``WeakKeyDictionary``
keyed by the SparkSession OBJECT: a key that CPython ``id()`` reuse can
never alias (the failure mode a str(id())-keyed registry had — a new
session landing on a collected session's address inherited its entries),
and one that keeps working after ``spark.stop()``
(``sparkContext``/``applicationId`` raise on a stopped session; the
object itself still hashes).  The VALUES hold strong references to the
pinned frames — the price of recoverability — and each DataFrame itself
references its session, so a session with UNRELEASED pins is kept alive
by its own registry entry (weak keying removes aliasing, not the need to
release: ``pins_outstanding`` is the leak signal, ``release_all_pins``
the fix; only a released — hence empty, hence absent — entry lets the
session collect).  Releasing against a stopped session is safe: the
executor storage died with the context, so unpersist failures are
swallowed and the entries dropped.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# SparkSession (weak) → list of pinned DataFrames not yet released
_REGISTRY: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def attach_pins(df: DataFrame, *pinned: DataFrame) -> DataFrame:
    pins = [p for p in pinned if p is not None]
    # MERGE with pins already attached to this exact object — a second
    # attach_pins call on the same frame (curate() adding the line-stage
    # pins after curate_near_dups attached the materialize/minhash ones)
    # must not orphan the earlier handles (round-7 review finding: the
    # old overwrite made release_pinned(out) leak the DISK_ONLY
    # materialize pin whenever a stage pin stacked on top)
    existing = list(getattr(df, "_clrs_pinned", []) or [])
    known_here = {id(p) for p in existing}
    pins = existing + [p for p in pins if id(p) not in known_here]
    df._clrs_pinned = pins
    if pins:
        # idempotent per pin object: operators forward inner pins to
        # composed results (curate ← minhash rehash), so the same frame
        # may be attached at two levels — register it once
        entries = _REGISTRY.setdefault(df.sparkSession, [])
        known = {id(p) for p in entries}
        entries.extend(p for p in pins if id(p) not in known)
    return df


def _drop_from_registry(pins: list[DataFrame]) -> None:
    ids = {id(p) for p in pins}
    for session, entries in list(_REGISTRY.items()):
        kept = [p for p in entries if id(p) not in ids]
        if kept:
            _REGISTRY[session] = kept
        else:
            _REGISTRY.pop(session, None)


def _unpersist_quietly(p: DataFrame) -> None:
    # a stopped SparkContext raises here; the storage is already gone
    try:
        p.unpersist()
    except Exception:
        pass


def release_pinned(df: DataFrame) -> int:
    """Unpersist every pin an operator attached to this returned frame;
    returns the number dropped (0 for frames without pins — a derived
    frame returns 0 even while its parent's pins are still live, so
    callers wanting certainty should check ``pins_outstanding``)."""
    pins = getattr(df, "_clrs_pinned", []) or []
    for p in pins:
        _unpersist_quietly(p)
    if pins:
        _drop_from_registry(pins)
        df._clrs_pinned = []
    return len(pins)


def pins_outstanding(spark: SparkSession) -> int:
    """Operator pins registered for this session and not yet released."""
    return len(_REGISTRY.get(spark, []))


def release_all_pins(spark: SparkSession) -> int:
    """Unpersist every outstanding operator pin of this session (recovers
    handles lost to derivation); returns the count dropped.  Safe to call
    during teardown after ``spark.stop()`` — dead-context unpersists are
    swallowed, the registry entries are dropped regardless."""
    pins = _REGISTRY.pop(spark, [])
    for p in pins:
        _unpersist_quietly(p)
    return len(pins)
