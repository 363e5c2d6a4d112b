"""Snapshot commits: the write side of the engine (the reference is
strictly batch — its sinks are plain CSV/SQLite writes, the
to_csv/to_sql call sites in integrative_omics/gizmos.py).

:func:`upsert_batch_into_bucketed_snapshot` is MERGE as a commit unit:
each call upserts one batch into a versioned parquet SNAPSHOT with the
semantics of ``operators.joins.upsert_snapshot`` (no Delta/Iceberg
machinery).  The snapshot has ONE layout: version dirs
``v{batch}/__bucket=B/`` partitioned by key-hash bucket, a manifest
``m{batch}.json`` mapping every bucket to the version dir holding it,
and an atomically swapped ``CURRENT`` pointer naming the live manifest.
A batch rewrites ONLY the buckets it touches; untouched buckets carry
by reference, so per-commit cost is O(touched-bucket data + batch),
never O(snapshot) (SCALE.md r14, "Bucketed upsert snapshot": bytes
written per commit are ~touched/n_buckets of the snapshot at every
scale, ~25× less with 2/64 buckets touched).  Readers resolve through
:func:`read_bucketed_snapshot` and only ever see a complete manifest.
The newest ``keep_versions`` manifests are retained per flip so
in-flight readers of a superseded generation finish their scan; older
generations are pruned.

Every commit — upsert, CDC apply and the rebucket/compaction/evolution
maintenance commit — runs ONE skeleton, :func:`_bucketed_commit`, and
differs only in its data step.  The skeleton, in order:

- names the version dir and manifest from ``batch_id`` (pure functions
  of it) and refuses ``n_buckets < 1``;
- reads CURRENT.  If CURRENT names this batch's manifest the commit
  happened: a replay re-runs retention (a crash may have landed between
  the flip and the prune) and returns.  A ``batch_id`` below the
  committed one is refused (a restarted numbering would clobber version
  dirs that kept manifests reference).  CURRENT missing while manifests
  or version dirs exist is a damaged pointer: refused rather than reset.
  CURRENT naming a missing, unparseable or non-object manifest is a
  damaged snapshot: refused before any write;
- refuses key columns that differ from the pinned ones, order included
  (``xxhash64(a, b) != xxhash64(b, a)``);
- runs the data step, which applies its own pins and returns the rows
  to write, the bucket dirs carried by reference and the new pins;
- writes the rows partitioned by ``__bucket`` into the version dir, and
  deletes that dir if the write fails (CURRENT still names the base);
- puts the manifest, flips CURRENT conditionally on the generation read
  at the start (the commit point), and prunes past ``keep_versions``.

So a caller that retries a failed batch under its original id gets
exactly-once output: a crash before the flip leaves leftovers that the
replay rewrites from the still-current base (mode overwrite and an
unconditional manifest put — only the replay of the same batch from the
same base can rewrite a version-named manifest, with identical content).

``n_buckets=1`` is the whole-snapshot-rewrite shape: one bucket and one
file per commit, plus a manifest put.  It is the cheaper choice when
every commit touches every bucket (SCALE.md r15, "CDC worst case
measured": at touched fraction 1.0 the bucketed layout writes
1.24–1.43× the bytes of a whole rewrite; crossover near 0.75).  The
manifest pins ``n_buckets``, the key schema and the row schema;
:func:`rebucket_bucketed_snapshot` is the one sanctioned way to change
them.

An upsert or CDC commit runs two Spark jobs: an Observation of the
batch's buckets (a seed commit skips it) and one merge write with one
exchange.  CDC apply (r14): :func:`apply_cdc_batch_into_bucketed_snapshot`
adds DELETE tombstones — an op column of ``upsert``/``delete`` rows,
committed in one manifest flip by the same merge: the right-to-be-
forgotten half a training-data snapshot needs.  An unknown op, or both
ops on one key of an unordered batch, fails the merge write
(``raise_error``); the version dir is deleted and the caller gets a
``ValueError``.

Deployment shape (r15, r14 verdict item 2): every driver-side metadata
operation — pointer read/flip, manifest put, listing, pruning — goes
through the :class:`~.commitstore.SnapshotStore` commit primitive.
Every ``snapshot_dir`` parameter below accepts either a plain path
(driver-local / shared-posix, the :class:`~.commitstore.PosixSnapshotStore`
shape — the layout above as plain files and dirs) or a
``SnapshotStore`` instance; an S3/GCS deployment
implements the store against the service's conditional-put API (the
shipped :class:`~.commitstore.InMemoryObjectStore` is the executable
contract, and the whole commit battery runs against it in tests).  The
pointer flip is CONDITIONED on the generation read at commit start, so
on object stores a concurrent writer on the same snapshot loses loudly
(:class:`~.commitstore.CommitConflict`) instead of silently dropping a
commit; on posix the condition is best-effort emulation (single-writer
by construction — one writer owns a snapshot).
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession

from .commitstore import (
    ABSENT,
    ANY,
    CommitConflict,
    SnapshotStore,
    as_store,
)

_CURRENT = "CURRENT"
_MANIFEST_PREFIX = "m"


def _pointer(store: SnapshotStore) -> "tuple[str | None, object]":
    """Read the CURRENT pointer: (name-or-None, generation token for a
    later conditional flip).  An existing-but-empty pointer reads as
    no-name (the damage matrix treats it as a damaged pointer when
    version data exists) while keeping its token so a legitimate flip
    can still replace it conditionally."""
    got = store.get_text(_CURRENT)
    if got is None:
        return None, ABSENT
    name = got[0].strip()
    return (name or None), got[1]


def _batch_digits(name: "str | None") -> "int | None":
    if not name:
        return None
    digits = "".join(c for c in name if c.isdigit())
    return int(digits) if digits else None


def _generations(store: SnapshotStore) -> "tuple[list[str], Iterator[str]]":
    """One listing of the snapshot root: the manifest names, newest
    first, and an iterator over the version dirs.  The iterator probes
    ``exists_prefix`` lazily (a LIST round-trip on an object store), so
    a caller that stops early probes little."""
    names = store.list_names()
    manifests = sorted(
        (n for n in names if n.startswith(_MANIFEST_PREFIX) and n.endswith(".json")),
        reverse=True,
    )
    return manifests, (
        n for n in names if n.startswith("v") and store.exists_prefix(n)
    )


def _load_manifest(store: SnapshotStore, name: str) -> "tuple[dict | None, str]":
    """The manifest ``name`` as ``(manifest, "")``, or ``(None, why)``
    where ``why`` is ``"missing"``, ``"unparseable"`` or
    ``"non-object JSON"`` (``null``, ``[]``: truncation and corruption
    shapes)."""
    got = store.get_text(name)
    if got is None:
        return None, "missing"
    try:
        man = json.loads(got[0])
    except ValueError:
        return None, "unparseable"
    if not isinstance(man, dict):
        return None, "non-object JSON"
    return man, ""


def _require_manifest(
    store: SnapshotStore, name: str, missing: Exception
) -> dict:
    """The manifest ``name``; raises ``missing`` when it is not on disk,
    and the damaged-snapshot RuntimeError, the same for every caller,
    when it does not parse to a JSON object."""
    man, why = _load_manifest(store, name)
    if why == "missing":
        raise missing
    if man is None:
        raise RuntimeError(
            f"bucketed snapshot at {store.describe()!r}: manifest {name!r} "
            f"is {why} — damaged snapshot; restore the manifest or repoint "
            "CURRENT (recovery.snapshot_lineage lists the complete ones)"
        )
    return man


def _current_manifest(
    store: SnapshotStore, cur_name: str, error: type = RuntimeError
) -> dict:
    return _require_manifest(store, cur_name, error(
        f"bucketed snapshot at {store.describe()!r}: CURRENT names "
        f"{cur_name!r} but that manifest is missing — damaged "
        "snapshot; restore the manifest or repoint CURRENT"
    ))


def _flip_current(store: SnapshotStore, name: str, expect: object) -> None:
    """THE commit point: one conditional put of the CURRENT pointer,
    conditioned on the generation read at commit start.  Durability and
    reader-atomicity are the store's contract (posix: fsync-chained
    tmp + os.replace; object store: the service's atomic conditional
    PUT).  A precondition failure means another writer flipped the same
    snapshot mid-commit — a deployment error, surfaced loudly."""
    try:
        store.put_text(_CURRENT, name, expect=expect)
    except CommitConflict as exc:
        raise RuntimeError(
            f"snapshot at {store.describe()!r}: CURRENT changed while "
            f"this commit was writing {name!r} — two writers on one "
            "snapshot? each snapshot dir must be owned by exactly one "
            f"streaming query ({exc})"
        ) from exc


def _check_keep_versions(keep_versions: int) -> int:
    """Retention floor: fewer than 2 retained versions would prune the
    version an in-flight reader is still scanning the moment the next
    commit flips — raise instead of silently clamping (the pre-r15
    ``max(2, ...)`` accepted 1 and kept 2 with no signal)."""
    kv = int(keep_versions)
    if kv < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (got {kv}): retention keeps the "
            "newest keep_versions generations so an in-flight reader of "
            "the just-superseded one can finish its scan"
        )
    return kv


def _refuse_stale_batch(
    cur_name: "str | None", batch_id: int, store: SnapshotStore
) -> None:
    """A batch_id BELOW the committed one can only mean a writer
    restarted its batch numbering against an existing snapshot (batch
    ids are monotone per lineage).  Proceeding would be
    destructive twice over: mode("overwrite") clobbers a version dir
    that kept manifests still reference, and retention then prunes the
    just-flipped name as lexicographically old, leaving CURRENT
    dangling.  Refuse loudly — continue the original numbering, or
    point the new lineage at a NEW snapshot dir."""
    committed = _batch_digits(cur_name)
    if committed is not None and int(batch_id) < committed:
        raise RuntimeError(
            f"snapshot at {store.describe()!r} is at commit {committed} "
            f"but this stream delivered batch_id={int(batch_id)} — a fresh "
            "checkpoint against an existing snapshot; resume from the "
            "original checkpoint or use a new snapshot dir for the new "
            "lineage"
        )


def _quote(name: str) -> str:
    """A column name as a SQL identifier (backticks doubled, dots kept)."""
    return "`" + name.replace("`", "``") + "`"


def _bucket_sql(key_cols: "list[str]", n_buckets: int) -> str:
    keys = ", ".join(_quote(c) for c in key_cols)
    return f"pmod(xxhash64({keys}), {int(n_buckets)})"


def _types(df: DataFrame, cols: "list[str] | None" = None) -> "dict[str, str]":
    """Column name → ``simpleString`` dtype, the form a manifest pins."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return types if cols is None else {c: types[c] for c in cols}


def _written_buckets(store: SnapshotStore, version: str) -> "set[int]":
    return {
        int(n.split("=", 1)[1])
        for n in store.list_names(version)
        if n.startswith("__bucket=")
    }


def _read_buckets(
    spark: SparkSession, store: SnapshotStore, man: dict, paths: "list[str]"
) -> DataFrame:
    """Read bucket dirs with the manifest's pinned ``value_schema`` as
    the read schema, so no job opens parquet footers to infer one.  A
    pre-r16 manifest without the pin, or a pin whose nested field names
    the DDL parser cannot read back (``simpleString`` does not quote
    them), falls back to inference."""
    from pyspark.errors import ParseException

    reader = spark.read
    pinned = man.get("value_schema")
    if pinned:
        ddl = ", ".join(
            f"`{name.replace('`', '``')}` {dtype}"
            for name, dtype in pinned.items()
        )
        try:
            reader = reader.schema(ddl)
        except ParseException:
            pass
    return reader.parquet(*[store.spark_path(p) for p in paths])


def read_bucketed_snapshot(
    spark: SparkSession,
    snapshot_dir: "str | SnapshotStore",
    manifest: "str | None" = None,
) -> DataFrame:
    """Reader half of the bucketed commit units: resolve the
    CURRENT manifest and union-read the per-bucket dirs it references.
    A manifest only ever names COMPLETE bucket dirs (the flip happens
    after the data write), so readers never see a partial bucket.

    ``manifest`` (e.g. ``"m000000000003.json"``) time-travels to a
    RETAINED previous manifest — referenced bucket dirs are kept alive
    by the reference-counted retention for the ``keep_versions``
    newest manifests.  A manifest id NEWER than the committed CURRENT
    raises (r14 ADVICE: a pre-flip crash leftover must not read back
    as committed data)."""
    store = as_store(snapshot_dir)
    cur_name, _ = _pointer(store)
    if manifest is None:
        if cur_name is None:
            raise FileNotFoundError(
                f"no CURRENT manifest under {store.describe()!r} "
                "(no batch committed yet?)"
            )
        man = _current_manifest(store, cur_name, FileNotFoundError)
    else:
        # with a damaged/missing pointer an EXPLICIT manifest still reads
        # if it exists (RECOVERY MODE: the operator inspecting retained
        # manifests to restore CURRENT)
        mid, cid = _batch_digits(manifest), _batch_digits(cur_name)
        if mid is not None and cid is not None and mid > cid:
            raise FileNotFoundError(
                f"manifest {manifest!r} is newer than the committed "
                f"CURRENT ({cur_name}) under {store.describe()!r} — a "
                "pre-flip crash leftover or never-committed manifest, "
                "not committed data"
            )
        man = _require_manifest(store, manifest, FileNotFoundError(
            f"manifest {manifest!r} not on disk under {store.describe()!r} "
            "— pruned past keep_versions, or never committed"
        ))
    paths = sorted(set(man["buckets"].values()))
    if not paths:
        # a CDC commit can legitimately empty the snapshot (every key
        # tombstoned) — the manifest then references zero bucket dirs
        # and there is no schema left on disk to infer an empty relation
        # from; say so, instead of Spark's UNABLE_TO_INFER_SCHEMA
        raise FileNotFoundError(
            f"bucketed snapshot at {store.describe()!r} is EMPTY (manifest "
            f"{man.get('batch_id')} references no buckets — every row "
            "deleted); there is no schema to produce an empty relation "
            "from"
        )
    return _read_buckets(spark, store, man, paths)


def upsert_batch_into_bucketed_snapshot(
    spark: SparkSession,
    batch_df: DataFrame,
    snapshot_dir: "str | SnapshotStore",
    key_cols: "list[str]",
    batch_id: int,
    n_buckets: int = 16,
    keep_versions: int = 2,
) -> None:
    """One bucketed MERGE commit: read ONLY the touched buckets' data,
    merge the batch into it in one plan writing one
    ``v{batch}/__bucket=B/`` dir (one file) per touched bucket, then
    atomically flip CURRENT to a new manifest that repoints the touched
    buckets and carries every untouched bucket's dir by reference.  A
    key keeps one batch row (which duplicate survives is arbitrary —
    pre-aggregate when per-key ordering matters); a snapshot row with a
    NULL key is never replaced.  Size ``n_buckets`` so one bucket's
    data fits a comfortable rewrite unit (O(100 MB–1 GB) at scale), or
    pass 1 when every batch touches most of the snapshot.  The
    crash/replay matrix is the commit skeleton's (module docstring).

    The bucket function is ``pmod(xxhash64(keys), n_buckets)`` —
    deterministic in the keys, so a key's rows land in the same bucket
    in every batch; ``n_buckets`` is pinned in the manifest and a
    mismatched commit is refused (a different modulus would strand
    same-key rows across buckets and break the per-bucket merge).  The
    KEY SCHEMA is pinned alongside it (r14 ADVICE): xxhash64 is
    type-sensitive, so a batch whose key arrives as int against a
    snapshot seeded with longs would hash to a different bucket and
    duplicate the key — a commit with mismatched key dtypes is refused
    with a cast instruction instead."""
    _bucketed_commit(
        snapshot_dir, key_cols, batch_id, n_buckets, keep_versions,
        partial(_merge_step, spark, batch_df, key_cols, n_buckets, None),
    )


def _bucketed_commit(
    snapshot_dir: "str | SnapshotStore",
    key_cols: "list[str]",
    batch_id: int,
    n_buckets: int,
    keep_versions: int,
    step,
) -> None:
    """The one commit skeleton (its steps are in the module docstring).
    ``step(store, cur)`` is the commit's data step: given the current
    manifest (None for a seed) it applies its own pins and returns
    ``(rows, buckets, key_schema, value_schema)`` — the rows to write
    with their ``__bucket`` column (None writes nothing), the bucket map
    entries carried by reference, and the new manifest's pins."""
    store = as_store(snapshot_dir)
    keep = _check_keep_versions(keep_versions)
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
    version = f"v{int(batch_id):012d}"
    manifest_name = f"{_MANIFEST_PREFIX}{int(batch_id):012d}.json"
    cur_name, cur_token = _pointer(store)
    if cur_name == manifest_name:
        # committed: only retention can be left over (found by the r15
        # crash soak), and it is idempotent
        _bucketed_retention(store, keep)
        return
    _refuse_stale_batch(cur_name, batch_id, store)
    cur = _current_manifest(store, cur_name) if cur_name is not None else None
    if cur is None:
        manifests, versions = _generations(store)
        leftovers = [n for n in versions if n != version] + [
            n for n in manifests if n != manifest_name
        ]
        if leftovers:
            raise RuntimeError(
                f"bucketed snapshot at {store.describe()!r} has "
                f"{leftovers} but no CURRENT pointer — refusing to reset "
                "the snapshot to a single batch; restore CURRENT to the "
                "newest complete manifest"
            )
    # the pin was written by json.dumps in key_cols order and json.loads
    # keeps document order, so list(pinned) IS the pinned order (dicts
    # and sets compare order-insensitively: r16 review finding)
    pinned = cur.get("key_schema") if cur is not None else None
    if pinned is not None and list(pinned) != list(key_cols):
        raise ValueError(
            f"bucketed snapshot at {store.describe()!r} pinned key columns "
            f"{list(pinned)} (in that order) but this commit passed "
            f"{list(key_cols)} — xxhash64 bucketing is ORDER-sensitive, so "
            "different or re-ordered key columns hash to different buckets "
            "and duplicate keys; pass key_cols in the pinned order "
            "(changing the key set is a NEW snapshot)"
        )
    rows, buckets, key_schema, value_schema = step(store, cur)
    if rows is not None:
        try:
            rows.write.mode("overwrite").partitionBy("__bucket").parquet(
                store.spark_path(version)
            )
        except Exception as exc:
            # uncommitted: CURRENT still names the base, so dropping the
            # partial version dir leaves the snapshot as it was
            store.delete_prefix(version)
            refusal = _REFUSAL.search(str(exc))
            if refusal is not None:
                raise ValueError(refusal.group(0)) from exc
            raise
        buckets.update(
            {
                str(b): f"{version}/__bucket={b}"
                for b in sorted(_written_buckets(store, version))
            }
        )
    manifest = {
        "batch_id": int(batch_id),
        "n_buckets": int(n_buckets),
        "key_schema": key_schema,
        "value_schema": value_schema,
        "buckets": buckets,
    }
    # version-named manifest: unconditional put (only the replay of the
    # same batch from the same base can rewrite it, with identical
    # content); the COMMIT POINT is the conditional pointer flip below
    store.put_text(manifest_name, json.dumps(manifest), expect=ANY)
    _flip_current(store, manifest_name, cur_token)
    _bucketed_retention(store, keep)


def _merge_step(
    spark: SparkSession,
    batch: DataFrame,
    key_cols: "list[str]",
    n_buckets: int,
    op_col: "str | None",
    store: SnapshotStore,
    cur: "dict | None",
):
    """The upsert (``op_col=None``) and CDC data step.  Its pins: the
    modulus, the key dtypes and the full row schema.  Then an
    Observation over a ``noop`` write of the raw batch yields the
    touched buckets in one narrow job (a seed commit, with no buckets to
    read, skips it and takes the buckets its write produced), and
    :func:`_merge_plan` merges them in one exchange.  A touched bucket
    the commit empties (delete-only) writes no subdir and leaves the
    bucket map; an empty touched set writes nothing."""
    from pyspark.sql import functions as F

    if cur is not None and int(cur["n_buckets"]) != int(n_buckets):
        raise ValueError(
            f"bucketed snapshot at {store.describe()!r} was created with "
            f"n_buckets={cur['n_buckets']}, got {n_buckets} — the bucket "
            "count is fixed for the snapshot's lifetime"
        )
    rows = batch.drop(op_col) if op_col is not None else batch
    # key-schema pin (r14 ADVICE): the bucket function hashes the key
    # VALUES AS TYPED — int 7 and long 7 hash differently — so the key
    # dtypes are part of the snapshot's identity, exactly like n_buckets
    key_types = _types(rows, key_cols)
    pinned = cur.get("key_schema") if cur is not None else None
    if pinned is not None and pinned != key_types:
        raise ValueError(
            f"bucketed snapshot at {store.describe()!r} pinned key schema "
            f"{pinned} but this batch's keys are {key_types} — xxhash64 "
            "bucketing is type-sensitive (a key arriving as int against "
            "a long-keyed snapshot hashes to a different bucket and "
            "duplicates the key); cast the batch keys to the pinned "
            "types upstream"
        )
    # value-schema pin (r15 verdict item 1): without it a batch whose
    # value column drifted dtype is silently coerced in the buckets it
    # touches, and a batch touching NO existing bucket (all-new keys)
    # commits any drifted schema, leaving mixed parquet schemas across
    # version dirs.  The check runs before any write, so it covers the
    # all-new-keys path too.
    full_schema = _types(rows)
    pinned_values = cur.get("value_schema") if cur is not None else None
    if pinned_values is not None and pinned_values != full_schema:
        raise ValueError(
            f"bucketed snapshot at {store.describe()!r} pinned row schema "
            f"{pinned_values} but this batch arrives as {full_schema} — "
            "refusing a drifted commit (untouched buckets would keep the "
            "old schema and the snapshot would read back mixed); cast or "
            "re-shape the batch upstream, or evolve the schema on purpose "
            "with rebucket_bucketed_snapshot(transform=...)"
        )
    key_schema, value_schema = pinned or key_types, pinned_values or full_schema
    bucket = _bucket_sql(key_cols, n_buckets)
    old_buckets: "dict[str, str]" = dict(cur["buckets"]) if cur else {}
    touched: "list[int]" = []
    target = None
    if old_buckets:
        # one narrow job, no shuffle: the bucket set rides an Observation
        # of a noop write over the raw batch
        obs = Observation()
        batch.selectExpr(f"{bucket} AS b").observe(
            obs, F.collect_set("b").alias("t")
        ).write.format("noop").mode("overwrite").save()
        touched = sorted(obs.get["t"])
        if not touched:
            return None, old_buckets, key_schema, value_schema
        paths = sorted(
            {old_buckets[str(b)] for b in touched if str(b) in old_buckets}
        )
        target = _read_buckets(spark, store, cur, paths) if paths else None
    carried = {b: p for b, p in old_buckets.items() if int(b) not in touched}
    merged = _merge_plan(
        batch, target, key_cols, bucket, list(value_schema), op_col
    )
    return merged, carried, key_schema, value_schema


def _bucketed_retention(store: SnapshotStore, keep: int) -> None:
    """Retention for the bucketed layout: keep the newest ``keep``
    manifests; a version dir survives while ANY kept manifest
    references one of its buckets (untouched buckets keep old version
    dirs alive by reference — the in-flight-reader guarantee is per
    MANIFEST: a reader that resolved a kept manifest can finish its
    scan while fewer than ``keep`` newer commits flip after it).
    Idempotent: re-running after a mid-prune crash converges."""
    manifests, versions = _generations(store)
    referenced: "set[str]" = set()
    for name in manifests[:keep]:
        # a KEPT manifest that vanished between listing and read (second
        # writer / damaged store) aborts retention: treating it as empty
        # would delete version dirs it still references (r15 review
        # finding)
        man = _require_manifest(store, name, RuntimeError(
            f"bucketed snapshot at {store.describe()!r}: retained "
            f"manifest {name!r} disappeared during retention — "
            "refusing to prune (a second writer on this snapshot, "
            "or a damaged store?)"
        ))
        for rel in man["buckets"].values():
            referenced.add(rel.split("/", 1)[0])
    for name in manifests[keep:]:
        store.delete_text(name)
    for n in versions:
        if n not in referenced:
            store.delete_prefix(n)


def rebucket_bucketed_snapshot(
    spark: SparkSession,
    snapshot_dir: "str | SnapshotStore",
    key_cols: "list[str]",
    batch_id: int,
    new_n_buckets: int,
    keep_versions: int = 2,
    transform=None,
) -> None:
    """OFFLINE maintenance commit (r15): rewrite the whole bucketed
    snapshot under a NEW bucket modulus — the resize operation the
    n_buckets pin otherwise forbids for the snapshot's lifetime — or,
    at the same modulus, COMPACT it (after many incremental commits
    CURRENT references buckets scattered across many small version
    dirs; this consolidates them into one file per bucket).

    Cost is O(snapshot) BY DESIGN — this is the maintenance job a
    deployment runs when per-bucket data outgrows the O(100 MB–1 GB)
    rewrite-unit band (see SCALE.md's r15 sizing guidance), not a
    per-commit operation.  Operational contract: the snapshot's writer
    must be STOPPED first and resumed with the new ``n_buckets``
    afterwards (every commit is checked against the pinned modulus, so
    a writer passing the old value is refused).

    It runs the commit skeleton of every other unit (module docstring):
    ``batch_id`` continues the snapshot's monotone lineage, and a
    manifest from BEFORE the resize keeps time-travel-reading while
    retained (readers never consult n_buckets, only the bucket map).
    ``key_cols`` must match the pinned key columns, in order: bucketing
    by other columns under the old pin would let every later MERGE pass
    the pin check yet miss same-key rows.

    ``transform`` is the SANCTIONED schema-evolution path: a
    ``DataFrame -> DataFrame`` callable applied to the whole snapshot
    during the rewrite — add a column with a default, drop one, retype a
    value column.  The new manifest re-pins ``value_schema`` from the
    transformed rows, so later commits must arrive in the NEW shape.
    The key columns must survive the transform with their pinned dtypes
    (they are the snapshot's identity) — refused otherwise.  A replayed
    maintenance commit must pass the SAME transform (only a same-base
    replay may rewrite a version name).
    """

    def step(store: SnapshotStore, cur: "dict | None"):
        if cur is None:
            raise FileNotFoundError(
                f"no CURRENT manifest under {store.describe()!r} — nothing "
                "to rebucket (seed the snapshot first)"
            )
        pinned_keys = cur.get("key_schema")
        if not cur["buckets"]:
            # an emptied snapshot: only the modulus changes
            if transform is not None:
                raise ValueError(
                    f"bucketed snapshot at {store.describe()!r} is EMPTY — a "
                    "schema-evolution transform has no rows to derive the "
                    "new schema from; seed the snapshot in the new shape "
                    "instead"
                )
            return None, {}, pinned_keys, cur.get("value_schema")
        # footer inference, not the pinned schema: the read-back key
        # dtypes are checked against the pin (SCALE.md 2026-10-18)
        data = spark.read.parquet(
            *[store.spark_path(p) for p in sorted(set(cur["buckets"].values()))]
        )
        read_types = _types(data, key_cols)
        if pinned_keys is not None and read_types != pinned_keys:
            raise RuntimeError(
                f"bucketed snapshot at {store.describe()!r} pinned key "
                f"schema {pinned_keys} but the snapshot data reads back as "
                f"{read_types} — damaged or hand-edited "
                "snapshot; xxhash64 bucketing is type-sensitive, refusing "
                "to rewrite a layout the pin no longer describes"
            )
        if transform is not None:
            data = transform(data)
            missing = [c for c in key_cols if c not in data.columns]
            if missing:
                raise ValueError(
                    f"schema-evolution transform dropped key column(s) "
                    f"{missing} — the keys are the snapshot's identity; "
                    "changing them is a new snapshot, not an evolution"
                )
        out_types = _types(data, key_cols)
        if pinned_keys is not None and out_types != pinned_keys:
            raise ValueError(
                f"schema-evolution transform retyped key column(s): "
                f"pinned {pinned_keys}, transform produced {out_types} — "
                "xxhash64 bucketing is type-sensitive; keys must survive "
                "evolution unchanged"
            )
        # one exchange, one file per bucket: the point of a compaction
        rows = data.selectExpr(
            "*", f"{_bucket_sql(key_cols, new_n_buckets)} AS __bucket"
        ).repartition("__bucket")
        return rows, {}, pinned_keys or out_types, _types(data)

    _bucketed_commit(
        snapshot_dir, key_cols, batch_id, new_n_buckets, keep_versions, step
    )


# ---------------------------------------------------------------------------
# CDC apply (r14): upsert + DELETE tombstones in one commit — the
# "right to be forgotten" half a real training-data snapshot needs that
# plain MERGE-upsert can't express.
# ---------------------------------------------------------------------------

CDC_UPSERT = "upsert"
CDC_DELETE = "delete"


def _sql_string(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


# a CDC refusal raised by the merge plan, found in the failed write's error
_REFUSAL = re.compile(
    r"CDC batch (?:has unknown ops .*? — allowed: 'upsert', 'delete'"
    r"|carries BOTH .*?\(keep the latest op\))",
    re.S,
)


def _merge_plan(
    batch: DataFrame,
    target: "DataFrame | None",
    key_cols: "list[str]",
    bucket: str,
    cols: "list[str]",
    op_col: "str | None",
) -> DataFrame:
    """The touched buckets' merged rows (``cols`` plus ``__bucket``) in
    one exchange: ``target`` rows (``__src`` 0) and the raw batch
    (``__src`` 1) are hash-partitioned on ``__bucket``, which clusters
    the per-key grouping too, so a bucket is one task and one file.  A
    key keeps a batch row over its snapshot row (which batch duplicate
    survives is arbitrary) unless its batch op is delete; an unknown or
    NULL op (ops are wrapped in arrays so collect_set keeps a NULL) or
    both ops on one key is a ``raise_error``.  A snapshot row with a
    NULL key is its own group (a unique id in the grouping key), so no
    batch row replaces or deletes it, as in ``upsert_snapshot``."""
    from pyspark.sql import functions as F

    # SQL text rather than Column calls: one parse per expression, where
    # the Column form costs hundreds of Py4J calls per commit
    values, keys = [_quote(c) for c in cols], [_quote(k) for k in key_cols]
    up, delete = _sql_string(CDC_UPSERT), _sql_string(CDC_DELETE)
    op = up if op_col is None else f"CAST({_quote(op_col)} AS STRING)"
    merged = batch.selectExpr(
        *values, f"{bucket} AS __bucket", "1 AS __src", f"{op} AS __op",
        "CAST(NULL AS BIGINT) AS __nk",
    )
    if target is not None:
        null_key = " OR ".join(f"{k} IS NULL" for k in keys)
        merged = target.selectExpr(
            *values, f"{bucket} AS __bucket", "0 AS __src",
            "CAST(NULL AS STRING) AS __op",
            f"CASE WHEN {null_key} THEN monotonically_increasing_id() END"
            " AS __nk",
        ).union(merged)
    bad = f"filter(__ops, o -> o IS NULL OR o NOT IN ({up}, {delete}))"
    quote = _sql_string("'")
    shown = (
        f"array_join(transform({bad}, "
        f"o -> coalesce(concat({quote}, o, {quote}), 'None')), ', ')"
    )
    unknown = _sql_string(
        f"] in column {op_col!r} — allowed: {CDC_UPSERT!r}, {CDC_DELETE!r}"
    )
    both = _sql_string(
        "CDC batch carries BOTH an upsert and a delete for the same key — "
        "micro-batches are unordered, so apply order would be undefined; "
        "resolve per key upstream (keep the latest op)"
    )
    return merged.repartition("__bucket").groupBy(
        "__bucket", *keys, "__nk"
    ).agg(
        F.expr(f"max_by(struct({', '.join(values)}), __src)").alias("__row"),
        F.expr(
            "flatten(collect_set(CASE WHEN __src = 1 THEN array(__op) END))"
        ).alias("__ops"),
    ).where(
        f"CASE WHEN size({bad}) > 0 THEN raise_error(concat("
        f"'CDC batch has unknown ops [', {shown}, {unknown})) "
        f"WHEN size(__ops) > 1 THEN raise_error({both}) "
        f"ELSE size(__ops) = 0 OR array_contains(__ops, {up}) END"
    ).selectExpr(*[f"__row.{v} AS {v}" for v in values], "__bucket")


def apply_cdc_batch_into_bucketed_snapshot(
    spark: SparkSession,
    batch_df: DataFrame,
    snapshot_dir: "str | SnapshotStore",
    key_cols: "list[str]",
    batch_id: int,
    op_col: str = "op",
    n_buckets: int = 16,
    keep_versions: int = 2,
) -> None:
    """CDC commit into the bucketed snapshot: touched buckets come from
    upsert ∪ delete keys and only those rewrite — per-commit cost stays
    O(touched-bucket data + batch) with deletes in the mix.  A bucket
    the commit empties (delete-only, nothing survives) is DROPPED from
    the manifest, not left dangling.  Same commit skeleton, n_buckets
    pin and key-schema pin as
    :func:`upsert_batch_into_bucketed_snapshot`."""
    _bucketed_commit(
        snapshot_dir, key_cols, batch_id, n_buckets, keep_versions,
        partial(_merge_step, spark, batch_df, key_cols, n_buckets, op_col),
    )
