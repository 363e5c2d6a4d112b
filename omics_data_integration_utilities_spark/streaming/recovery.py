"""Snapshot inspection + pointer recovery — the operator workflow the
commit units' damage-matrix errors point at but (pre-r16) left manual.

Every refuse-loudly path in :mod:`.sinks` ends with an instruction like
"restore CURRENT to the newest complete manifest".  Doing that
by hand means listing the store, parsing manifests, checking every
referenced bucket dir exists, and writing the pointer — each step an
opportunity to restore to an INCOMPLETE generation (a pre-flip crash
leftover), which would surface later as missing rows.  This module is
that workflow as code:

- :func:`snapshot_lineage` — read-only report: pointer state, every
  generation (manifest) on disk with a completeness verdict, and the
  newest COMPLETE generation (the only safe restore target).
- :func:`restore_current` — write the pointer back, with the guardrails
  the by-hand workflow lacks: refuses when CURRENT is already healthy
  (unless ``force=True`` — rolling back a healthy snapshot is a
  different, deliberate operation), refuses an incomplete or unknown
  target, and flips through the store's conditional put so a writer
  racing the recovery loses loudly (the exact ABA window the r16
  posix token hardening closes).

Completeness is defined by what readers need: the manifest parses to a
JSON object (the one loader in :mod:`.sinks`, so a damaged manifest is
judged as every commit and read judges it) AND every referenced bucket
dir exists (an empty bucket map is complete — a
fully-tombstoned snapshot).  Only manifests are generations: a version
dir without one is never a restore target, since CURRENT must name a
manifest for any reader or commit to load it.

The reference has no snapshot machinery at all (one-shot writes —
integrative_omics/gizmos.py); north-star operational surface.
"""

from __future__ import annotations

from .commitstore import SnapshotStore, as_store
from .sinks import _CURRENT, _batch_digits, _generations, _load_manifest, _pointer


def _manifest_complete(store: SnapshotStore, name: str) -> "tuple[bool, str]":
    man, why = _load_manifest(store, name)
    if man is None:
        return False, f"manifest is {why}"
    missing = [
        rel for rel in man.get("buckets", {}).values()
        if not store.exists_prefix(rel)
    ]
    if missing:
        return False, f"referenced bucket dirs missing: {sorted(missing)[:3]}"
    return True, "complete"


def snapshot_lineage(snapshot_dir: "str | SnapshotStore") -> dict:
    """Read-only lineage report over a snapshot directory/store.

    Returns ``{"layout", "current", "current_complete", "generations":
    [{"name", "batch_id", "complete", "detail"}...] (newest first),
    "newest_complete"}``.  ``layout`` is ``"bucketed"`` when manifests
    or version dirs exist, ``"empty"`` when neither does; version dirs
    whose manifests are all lost report ``"bucketed"`` with no
    generation, so nothing is restorable.  Never writes; safe on a live
    snapshot (a racing commit may add a generation mid-listing — the
    report is a snapshot in time, which is all an operator diagnosing a
    damaged pointer needs)."""
    store = as_store(snapshot_dir)
    manifests, versions = _generations(store)
    cur, _ = _pointer(store)
    gens: "list[dict]" = []
    for name in manifests:
        ok, detail = _manifest_complete(store, name)
        gens.append(
            {
                "name": name,
                "batch_id": _batch_digits(name),
                "complete": ok,
                "detail": detail,
            }
        )
    # version dirs are probed only when no manifest decided the layout
    on_disk = bool(manifests) or any(versions)
    complete_names = [g["name"] for g in gens if g["complete"]]
    return {
        "layout": "bucketed" if on_disk else "empty",
        "current": cur,
        "current_complete": cur in complete_names,
        "generations": gens,
        "newest_complete": complete_names[0] if complete_names else None,
    }


def restore_current(
    snapshot_dir: "str | SnapshotStore",
    name: "str | None" = None,
    force: bool = False,
) -> str:
    """Repoint CURRENT at a COMPLETE generation — the recovery step the
    commit units' "restore CURRENT to the newest complete manifest"
    errors instruct.  ``name=None`` targets the newest complete
    generation; an explicit ``name`` must itself be
    complete (restoring to a pre-flip crash leftover would read back
    partial data — refused).  When CURRENT already names a complete
    generation the snapshot is NOT damaged and the restore is refused
    unless ``force=True`` (an explicit rollback — note that commits
    after a rollback will be refused as stale until the writer resumes
    from a batch_id above the rolled-back-to one, which is the safe
    default for an operation that rewrites history).  Returns the
    restored name.  The flip is a conditional put on the generation
    read at entry, so a concurrent writer racing the recovery loses
    loudly instead of having its commit silently overwritten."""
    store = as_store(snapshot_dir)
    report = snapshot_lineage(store)
    if report["layout"] == "empty":
        raise FileNotFoundError(
            f"nothing to restore under {store.describe()!r}: no manifests "
            "or version dirs on disk"
        )
    if report["current_complete"] and not force:
        raise RuntimeError(
            f"CURRENT under {store.describe()!r} already names the "
            f"complete generation {report['current']!r} — the snapshot is "
            "not damaged; pass force=True only for a deliberate rollback"
        )
    target = name if name is not None else report["newest_complete"]
    if target is None:
        raise RuntimeError(
            f"no COMPLETE generation under {store.describe()!r} to restore "
            f"to — every manifest is damaged or missing: {report['generations']}"
        )
    verdicts = {g["name"]: g for g in report["generations"]}
    if target not in verdicts:
        raise FileNotFoundError(
            f"generation {target!r} not found under {store.describe()!r}; "
            f"known: {sorted(verdicts)}"
        )
    if not verdicts[target]["complete"]:
        raise RuntimeError(
            f"refusing to restore CURRENT to INCOMPLETE generation "
            f"{target!r} under {store.describe()!r} "
            f"({verdicts[target]['detail']}) — a pre-flip crash leftover "
            "would read back partial data; pick a complete generation "
            "from snapshot_lineage()"
        )
    # missing pointer → create-only (a pointer created meanwhile means
    # a live writer; overwriting it would drop that commit — lose
    # loudly instead); damaged-but-present pointer → conditional
    # replace on the generation just read, same reasoning
    _, expect = _pointer(store)
    store.put_text(_CURRENT, target, expect=expect)
    return target
