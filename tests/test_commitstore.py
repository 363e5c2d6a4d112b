"""The snapshot commit primitive (r14 verdict item 2) and the crash
soak (item 8): the store contract itself, the full sink battery running
against OBJECT-STORE semantics (conditional put, no rename), the key
schema pin (r14 ADVICE), and crash injection at every mutating-metadata
boundary of the commit protocol."""

from __future__ import annotations

import json
import os

import pytest

from omics_data_integration_utilities_spark.streaming.commitstore import (
    ABSENT,
    ANY,
    CommitConflict,
    InMemoryObjectStore,
    PosixSnapshotStore,
    SnapshotStore,
    as_store,
)
from omics_data_integration_utilities_spark.streaming.sinks import (
    apply_cdc_batch_into_bucketed_snapshot,
    read_bucketed_snapshot,
    upsert_batch_into_bucketed_snapshot,
)


# ---------------------------------------------------------------------------
# store contract (no Spark)
# ---------------------------------------------------------------------------


def _store_matrix(tmp_path):
    return [
        InMemoryObjectStore(str(tmp_path / "obj")),
        PosixSnapshotStore(str(tmp_path / "posix")),
    ]


def test_conditional_put_contract(tmp_path):
    """Both implementations enforce the three precondition modes —
    ABSENT (create-only), generation (replace-if-unchanged), ANY."""
    for store in _store_matrix(tmp_path):
        assert store.get_text("CURRENT") is None
        store.put_text("CURRENT", "v0", expect=ABSENT)
        with pytest.raises(CommitConflict):
            store.put_text("CURRENT", "v1", expect=ABSENT)
        text, gen = store.get_text("CURRENT")
        assert text == "v0"
        store.put_text("CURRENT", "v1", expect=gen)  # CAS succeeds
        with pytest.raises(CommitConflict):
            # stale generation: someone else replaced it
            store.put_text("CURRENT", "v2", expect=gen)
        store.put_text("CURRENT", "v3", expect=ANY)  # unconditional
        assert store.get_text("CURRENT")[0] == "v3"
        store.delete_text("CURRENT")
        assert store.get_text("CURRENT") is None
        store.delete_text("CURRENT")  # missing delete is a no-op


def test_store_listing_and_prefixes(tmp_path):
    for store in _store_matrix(tmp_path):
        store.put_text("m000.json", "{}")
        store.put_text("m001.json", "{}")
        os.makedirs(os.path.join(store.spark_path("v000"), "x"), exist_ok=True)
        names = store.list_names()
        assert {"m000.json", "m001.json", "v000"} <= set(names)
        assert store.exists_prefix("v000")
        assert not store.exists_prefix("v999")
        # a data dir is not a text object: "no object", never
        # IsADirectoryError (a CURRENT naming a version dir must read
        # as a missing manifest)
        assert store.get_text("v000") is None
        store.delete_prefix("v000")
        assert not store.exists_prefix("v000")
        store.delete_text("m000.json")
        assert "m000.json" not in store.list_names()


def test_as_store_coercion(tmp_path):
    s = as_store(str(tmp_path / "p"))
    assert isinstance(s, PosixSnapshotStore)
    obj = InMemoryObjectStore(str(tmp_path / "o"))
    assert as_store(obj) is obj
    with pytest.raises(ValueError, match="driver-local"):
        as_store("s3a://bucket/prefix")
    with pytest.raises(TypeError):
        as_store(123)


# ---------------------------------------------------------------------------
# the sink battery against OBJECT-STORE semantics
# ---------------------------------------------------------------------------


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v double")


def _cdc(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, op string")


def test_bucketed_battery_on_object_store(spark, tmp_path):
    """Commit, MERGE semantics, CDC deletes, replay no-op, stale
    refusal, damage matrix, time travel — the whole bucketed contract
    driven purely through conditional-put metadata ops (the protocol
    never relies on rename)."""
    store = InMemoryObjectStore(str(tmp_path / "snap"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), store, ["k"],
        batch_id=0, n_buckets=4,
    )
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 20.0), (4, 4.0)]), store, ["k"],
        batch_id=1, n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
    # CDC: delete 1, upsert 3
    apply_cdc_batch_into_bucketed_snapshot(
        spark,
        _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=2, n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == {2: 20.0, 3: 30.0, 4: 4.0}
    # replay of an already-committed batch: NO-OP (state unchanged)
    apply_cdc_batch_into_bucketed_snapshot(
        spark,
        _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=2, n_buckets=4,
    )
    got2 = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got2 == got
    # stale batch (fresh checkpoint lineage): refused
    with pytest.raises(RuntimeError, match="fresh\\s+checkpoint"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(9, 9.0)]), store, ["k"],
            batch_id=1, n_buckets=4,
        )
    # n_buckets pin
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(9, 9.0)]), store, ["k"],
            batch_id=3, n_buckets=8,
        )
    # time travel to the retained previous manifest
    prev = {r["k"]: r["v"] for r in read_bucketed_snapshot(
        spark, store, manifest="m000000000001.json").collect()}
    assert prev == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
    # a manifest ahead of CURRENT: refused as uncommitted
    with pytest.raises(FileNotFoundError, match="newer than the committed"):
        read_bucketed_snapshot(spark, store, manifest="m000000000009.json")
    # damage matrix: CURRENT gone while manifests exist → refuse reset
    store.delete_text("CURRENT")
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(9, 9.0)]), store, ["k"],
            batch_id=3, n_buckets=4,
        )


def test_concurrent_writer_loses_loudly(spark, tmp_path):
    """The pointer flip is CONDITIONED on the generation read at commit
    start: if another writer flips CURRENT mid-commit, this commit's
    flip raises instead of silently overwriting the other's."""

    class RacingStore(InMemoryObjectStore):
        """Simulates a second writer sneaking in a pointer flip right
        before this commit's manifest put (i.e. after the commit read
        its CURRENT generation)."""

        def __init__(self, data_dir):
            super().__init__(data_dir)
            self.race_armed = False

        def put_text(self, rel, text, expect=ANY):
            if self.race_armed and rel.startswith("m") and rel.endswith(".json"):
                self.race_armed = False
                super().put_text("CURRENT", "m000000000099.json", expect=ANY)
            super().put_text(rel, text, expect=expect)

    store = RacingStore(str(tmp_path / "snap"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), store, ["k"], batch_id=0, n_buckets=4
    )
    store.race_armed = True
    with pytest.raises(RuntimeError, match="two writers"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(2, 2.0)]), store, ["k"],
            batch_id=100, n_buckets=4,
        )


def test_keep_versions_floor_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="keep_versions must be >= 2"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(1, 1.0)]), str(tmp_path / "s"), ["k"],
            batch_id=0, keep_versions=1,
        )
    assert not os.path.exists(tmp_path / "s")  # refused before any write


# ---------------------------------------------------------------------------
# key-schema pin (r14 ADVICE)
# ---------------------------------------------------------------------------


def test_key_schema_pin_refuses_dtype_drift(spark, tmp_path):
    """xxhash64 is type-sensitive: an int key against a long-keyed
    snapshot hashes to a different bucket and would duplicate the key
    past the anti-join — the manifest pins the key dtypes and a
    mismatched commit is refused with a cast instruction."""
    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    int_batch = spark.createDataFrame([(1, 9.0)], "k int, v double")
    with pytest.raises(ValueError, match="type-sensitive"):
        upsert_batch_into_bucketed_snapshot(
            spark, int_batch, snap, ["k"], batch_id=1, n_buckets=4
        )
    # casting upstream (the error's instruction) commits cleanly
    upsert_batch_into_bucketed_snapshot(
        spark, int_batch.selectExpr("cast(k as long) k", "v"), snap, ["k"],
        batch_id=1, n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got == {1: 9.0}


def test_key_schema_pin_tolerates_pre_r15_manifest(spark, tmp_path):
    """A manifest written before the pin existed (no key_schema field)
    keeps committing — the next commit records the pin."""
    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    # strip the pin, as a pre-r15 snapshot would look
    man_path = os.path.join(snap, "m000000000000.json")
    man = json.load(open(man_path))
    man.pop("key_schema")
    json.dump(man, open(man_path, "w"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 2.0)]), snap, ["k"], batch_id=1, n_buckets=4
    )
    man1 = json.load(open(os.path.join(snap, "m000000000001.json")))
    assert man1["key_schema"] == {"k": "bigint"}
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got == {1: 1.0, 2: 2.0}


# ---------------------------------------------------------------------------
# crash injection (r14 verdict item 8): every mutating-metadata boundary
# ---------------------------------------------------------------------------


class InjectedCrash(Exception):
    pass


class CrashingStore(SnapshotStore):
    """Delegating wrapper that raises InjectedCrash immediately BEFORE
    the Nth mutating metadata operation (manifest put, pointer flip,
    retention delete) — every driver-side boundary of the commit
    protocol routes through these three, so counting them enumerates
    the crash points exhaustively."""

    def __init__(self, inner: SnapshotStore):
        self.inner = inner
        self.crash_before: "int | None" = None
        self.mutations = 0

    def _mutating(self):
        self.mutations += 1
        if self.crash_before is not None and self.mutations >= self.crash_before:
            raise InjectedCrash(f"injected at mutation #{self.mutations}")

    def get_text(self, rel):
        return self.inner.get_text(rel)

    def put_text(self, rel, text, expect=ANY):
        self._mutating()
        self.inner.put_text(rel, text, expect=expect)

    def delete_text(self, rel):
        self._mutating()
        self.inner.delete_text(rel)

    def list_names(self, rel=""):
        return self.inner.list_names(rel)

    def exists_prefix(self, rel):
        return self.inner.exists_prefix(rel)

    def delete_prefix(self, rel):
        self._mutating()
        self.inner.delete_prefix(rel)

    def spark_path(self, rel=""):
        return self.inner.spark_path(rel)

    def describe(self):
        return self.inner.describe()

    def arm(self, crash_before: "int | None"):
        self.crash_before = crash_before
        self.mutations = 0


def _read_state(spark, store) -> dict:
    try:
        return {
            r["k"]: r["v"]
            for r in read_bucketed_snapshot(spark, store).collect()
        }
    except FileNotFoundError as exc:
        if "EMPTY" in str(exc) or "no CURRENT" in str(exc):
            return {}
        raise


def _apply_model(model: dict, ups, dels) -> None:
    for k in dels:
        model.pop(k, None)
    model.update(ups)


def test_crash_at_every_boundary_then_replay_converges(spark, tmp_path):
    """For every mutating-metadata boundary of a bucketed CDC commit:
    crash there, assert the reader still sees the LAST COMMITTED state,
    replay the same batch fault-free, assert convergence.  The boundary
    count is discovered, not assumed — injection advances until a
    commit runs with no crash triggered."""
    for seed_batches in (1,):  # seeded snapshot, then crash batch 1
        store = CrashingStore(InMemoryObjectStore(str(tmp_path / f"s{seed_batches}")))
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), store,
            ["k"], batch_id=0, n_buckets=4,
        )
        committed = {1: 1.0, 2: 2.0, 3: 3.0}
        target = dict(committed)
        _apply_model(target, {2: 20.0, 9: 9.0}, [3])
        batch = _cdc(
            spark, [(2, 20.0, "upsert"), (9, 9.0, "upsert"), (3, 0.0, "delete")]
        )
        boundary = 1
        while True:
            store.arm(boundary)
            try:
                apply_cdc_batch_into_bucketed_snapshot(
                    spark, batch, store, ["k"], batch_id=1, n_buckets=4
                )
                crashed = False
            except InjectedCrash:
                crashed = True
            store.arm(None)
            if not crashed:
                # commit completed before the injection point: done
                assert _read_state(spark, store) == target
                break
            # after the crash the reader must see a committed state —
            # either still the base (pre-flip crash) or already the
            # target (post-flip crash, pre-retention)
            seen = _read_state(spark, store)
            assert seen in (committed, target), (boundary, seen)
            # replay the same batch fault-free: must converge
            apply_cdc_batch_into_bucketed_snapshot(
                spark, batch, store, ["k"], batch_id=1, n_buckets=4
            )
            assert _read_state(spark, store) == target, boundary
            # rebuild a fresh snapshot for the next boundary
            store = CrashingStore(
                InMemoryObjectStore(str(tmp_path / f"s{seed_batches}_{boundary}"))
            )
            upsert_batch_into_bucketed_snapshot(
                spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), store,
                ["k"], batch_id=0, n_buckets=4,
            )
            boundary += 1
        assert boundary >= 3  # manifest put, pointer flip, >=1 retention op


@pytest.mark.slow
def test_snapshot_soak_hundreds_of_commits_with_crashes(spark, tmp_path):
    """r14 verdict item 8, the long-horizon soak: a few hundred CDC
    commits into one bucketed snapshot with a crash injected at a
    rotating mutating-metadata boundary every third commit; after every
    commit (crashed → replayed) the reader-visible state equals the
    python dict model, and retention keeps the manifest count bounded."""
    store = CrashingStore(InMemoryObjectStore(str(tmp_path / "soak")))
    model: dict = {}
    n_commits = 120
    boundary_cycle = 0
    for i in range(n_commits):
        # deterministic batch mix: 3 upserts per commit; every third
        # commit is a delete-bearing CDC batch WITH a crash injected at
        # a rotating mutating-metadata boundary, then replayed
        ups = {(i * 7 + j) % 50: float(i * 100 + j) for j in range(3)}
        if i % 3 == 2:
            dels = [k for k in [(i * 3 + 1) % 50] if k not in ups]
            rows = [(k, v, "upsert") for k, v in ups.items()] + [
                (k, 0.0, "delete") for k in dels
            ]
            batch = _cdc(spark, rows)
            boundary_cycle = boundary_cycle % 3 + 1
            store.arm(boundary_cycle)
            try:
                apply_cdc_batch_into_bucketed_snapshot(
                    spark, batch, store, ["k"], batch_id=i, n_buckets=8
                )
            except InjectedCrash:
                pass
            store.arm(None)
            # the replay that must land the commit
            apply_cdc_batch_into_bucketed_snapshot(
                spark, batch, store, ["k"], batch_id=i, n_buckets=8
            )
        else:
            dels = []
            upsert_batch_into_bucketed_snapshot(
                spark, _df(spark, list(ups.items())), store, ["k"],
                batch_id=i, n_buckets=8,
            )
        _apply_model(model, ups, dels)
        if i % 20 == 19:  # full read-back checkpoint every 20 commits
            assert _read_state(spark, store) == model, i
        # retention bound: at most keep_versions manifests survive
        manifests = [
            n for n in store.list_names()
            if n.startswith("m") and n.endswith(".json")
        ]
        assert len(manifests) <= 2, (i, manifests)
    assert _read_state(spark, store) == model
    assert len(model) > 0


def test_recovery_mode_explicit_reads_with_damaged_pointer(spark, tmp_path):
    """r15 review finding: when CURRENT is missing (the damaged state
    the commit units answer with 'restore CURRENT'), an EXPLICIT
    manifest read must still work — it is how the operator finds the
    generation to restore.  Unnamed reads still refuse."""
    buck = InMemoryObjectStore(str(tmp_path / "buck"))
    for i, rows in enumerate([[(1, 1.0)], [(1, 2.0), (2, 2.0)]]):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, rows), buck, ["k"], batch_id=i, n_buckets=4
        )
    buck.delete_text("CURRENT")
    # explicit reads of retained generations: recovery inspection works
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(
        spark, buck, manifest="m000000000001.json").collect()}
    assert got == {1: 2.0, 2: 2.0}
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(
        spark, buck, manifest="m000000000000.json").collect()}
    assert got == {1: 1.0}
    # unnamed reads still refuse (no committed pointer to resolve)
    with pytest.raises(FileNotFoundError, match="no CURRENT"):
        read_bucketed_snapshot(spark, buck)
    # a named-but-absent generation says so instead of claiming
    # nothing was ever committed
    with pytest.raises(FileNotFoundError, match="not on disk"):
        read_bucketed_snapshot(spark, buck, manifest="m000000000099.json")


def test_retention_aborts_on_vanished_kept_manifest(spark, tmp_path):
    """r15 review finding: a KEPT manifest disappearing between the
    retention listing and its read means a second writer or a damaged
    store — retention must abort loudly, not treat it as empty and
    delete version dirs it still references."""

    class VanishingStore(InMemoryObjectStore):
        """Simulates the race: the manifest reads fine while it is
        CURRENT (commit setup) but vanishes by the time the retention
        pass re-reads it as a kept-but-superseded manifest."""

        def __init__(self, data_dir):
            super().__init__(data_dir)
            self.vanish: "str | None" = None
            self.reads = 0

        def get_text(self, rel):
            if self.vanish is not None and rel == self.vanish:
                self.reads += 1
                if self.reads >= 2:  # 1st read = commit setup (CURRENT)
                    return None
            return super().get_text(rel)

    store = VanishingStore(str(tmp_path / "snap"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), store, ["k"], batch_id=0, n_buckets=4
    )
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 2.0)]), store, ["k"], batch_id=1, n_buckets=4
    )
    # during batch 2's commit: setup reads m1 as CURRENT (read 1, ok),
    # retention re-reads it as a KEPT manifest (read 2 → vanished)
    store.vanish = "m000000000001.json"
    with pytest.raises(RuntimeError, match="disappeared during retention"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(3, 3.0)]), store, ["k"], batch_id=2, n_buckets=4
        )


# ---------------------------------------------------------------------------
# re-bucket / compaction maintenance commit (r15)
# ---------------------------------------------------------------------------


def test_rebucket_resizes_and_subsequent_commits_use_new_modulus(spark, tmp_path):
    """The offline resize the n_buckets pin otherwise forbids: data
    survives bit-for-bit, later commits must pass the NEW modulus (the
    pin now rejects the old one), and MERGE semantics keep working
    across the boundary."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    store = InMemoryObjectStore(str(tmp_path / "snap"))
    rows = [(k, float(k)) for k in range(40)]
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, rows), store, ["k"], batch_id=0, n_buckets=4
    )
    rebucket_bucketed_snapshot(
        spark, store, ["k"], batch_id=1, new_n_buckets=16
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == dict(rows)
    man = json.loads(store.get_text("m000000000001.json")[0])
    assert man["n_buckets"] == 16 and man["key_schema"] == {"k": "bigint"}
    # the new layout spreads over >4 buckets (40 sequential longs)
    assert len(man["buckets"]) > 4
    # old modulus refused, new modulus merges correctly
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(1, 100.0)]), store, ["k"],
            batch_id=2, n_buckets=4,
        )
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 100.0), (99, 99.0)]), store, ["k"],
        batch_id=2, n_buckets=16,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    want = dict(rows); want[1] = 100.0; want[99] = 99.0
    assert got == want
    # a maintenance id BELOW the committed head (2) is stale — refused
    # like any commit, leaving state untouched
    with pytest.raises(RuntimeError, match="fresh\\s+checkpoint"):
        rebucket_bucketed_snapshot(
            spark, store, ["k"], batch_id=1, new_n_buckets=16
        )
    got2 = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got2 == want


def test_rebucket_stale_and_replay_semantics(spark, tmp_path):
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    store = InMemoryObjectStore(str(tmp_path / "snap"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0)]), store, ["k"],
        batch_id=0, n_buckets=4,
    )
    rebucket_bucketed_snapshot(spark, store, ["k"], batch_id=1, new_n_buckets=8)
    # replay of the SAME maintenance batch: no-op
    rebucket_bucketed_snapshot(spark, store, ["k"], batch_id=1, new_n_buckets=8)
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == {1: 1.0, 2: 2.0}
    # a STALE maintenance id against a newer snapshot: refused
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(3, 3.0)]), store, ["k"], batch_id=2, n_buckets=8
    )
    with pytest.raises(RuntimeError, match="fresh\\s+checkpoint"):
        rebucket_bucketed_snapshot(
            spark, store, ["k"], batch_id=1, new_n_buckets=8
        )
    # nothing-to-rebucket refusal on a fresh dir
    empty = InMemoryObjectStore(str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError, match="nothing to rebucket"):
        rebucket_bucketed_snapshot(spark, empty, ["k"], batch_id=0, new_n_buckets=8)


def test_rebucket_compacts_fragmented_snapshot(spark, tmp_path):
    """At the SAME modulus the maintenance commit is a compaction:
    CURRENT's bucket map collapses from many version dirs to one, and
    a retained pre-compaction manifest still time-travels."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")  # posix store via the plain path
    for i in range(4):  # scatter buckets over several version dirs
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(i * 3 + j, float(i)) for j in range(3)]),
            snap, ["k"], batch_id=i, n_buckets=4,
        )
    pre = json.load(open(os.path.join(snap, "m000000000003.json")))
    pre_dirs = {p.split("/", 1)[0] for p in pre["buckets"].values()}
    assert len(pre_dirs) > 1  # genuinely fragmented before
    before = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    rebucket_bucketed_snapshot(spark, snap, ["k"], batch_id=4, new_n_buckets=4)
    man = json.load(open(os.path.join(snap, "m000000000004.json")))
    dirs = {p.split("/", 1)[0] for p in man["buckets"].values()}
    assert dirs == {"v000000000004"} and man["n_buckets"] == 4
    after = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert after == before
    # the retained pre-compaction manifest still reads (time travel
    # across the maintenance boundary)
    tt = {
        r["k"]: r["v"]
        for r in read_bucketed_snapshot(
            spark, snap, manifest="m000000000003.json"
        ).collect()
    }
    assert tt == before


def test_rebucket_crash_before_flip_then_replay(spark, tmp_path):
    """The maintenance commit inherits the crash matrix: a crash before
    the pointer flip leaves CURRENT on the old layout (reader sees the
    pre-resize state), and the replay converges to the new one."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    store = CrashingStore(InMemoryObjectStore(str(tmp_path / "snap")))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0)]), store, ["k"],
        batch_id=0, n_buckets=2,
    )
    store.arm(2)  # crash at the 2nd mutating op = the pointer flip
    with pytest.raises(InjectedCrash):
        rebucket_bucketed_snapshot(spark, store, ["k"], batch_id=1, new_n_buckets=8)
    store.arm(None)
    # reader still sees the committed pre-resize snapshot
    assert json.loads(store.get_text(store.get_text("CURRENT")[0])[0])["n_buckets"] == 2
    assert {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()} == {1: 1.0, 2: 2.0}
    # replay converges
    rebucket_bucketed_snapshot(spark, store, ["k"], batch_id=1, new_n_buckets=8)
    man = json.loads(store.get_text("m000000000001.json")[0])
    assert man["n_buckets"] == 8
    assert {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()} == {1: 1.0, 2: 2.0}


def test_posix_conditional_put_atomic_under_contention(tmp_path):
    """r15: the posix store's conditional put is flock-serialized, so N
    concurrent CAS attempts from the same generation admit EXACTLY one
    winner — the property the pointer flip's lost-update protection
    rests on (object stores get it server-side)."""
    import threading

    store = PosixSnapshotStore(str(tmp_path / "p"))
    store.put_text("CURRENT", "v0", expect=ABSENT)
    _, gen0 = store.get_text("CURRENT")
    results: "list[str]" = []
    winners: "list[str]" = []
    lock = threading.Lock()
    barrier = threading.Barrier(8)

    def attempt(i):
        barrier.wait()
        try:
            store.put_text("CURRENT", f"v{i}", expect=gen0)
            with lock:
                results.append("win")
                winners.append(f"v{i}")
        except CommitConflict:
            with lock:
                results.append("conflict")

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == ["conflict"] * 7 + ["win"]
    # the surviving pointer is the single winner's value (with the r16
    # inode-based token even a winner REWRITING the same content "v0"
    # invalidates the other racers' generations — under the pre-r16
    # content-as-token scheme a thread-0 win would have let every
    # other racer's CAS through)
    assert store.get_text("CURRENT")[0] == winners[0]


# ---------------------------------------------------------------------------
# r16: the real object-store implementation (S3SnapshotStore) against a
# scripted boto3-shaped fake enforcing S3 conditional-write semantics
# ---------------------------------------------------------------------------


class FakeClientError(Exception):
    """botocore.exceptions.ClientError shape: carries .response with
    Error.Code and ResponseMetadata.HTTPStatusCode (the store inspects
    it duck-typed — this container has no botocore to import)."""

    def __init__(self, code: str, status: int, op: str):
        super().__init__(f"An error occurred ({code}) when calling {op}")
        self.response = {
            "Error": {"Code": code},
            "ResponseMetadata": {"HTTPStatusCode": status},
        }


class _Body:
    def __init__(self, data: bytes):
        self._data = data

    def read(self) -> bytes:
        return self._data


class FakeS3Client:
    """A scripted boto3-S3-shaped client implementing exactly the calls
    S3SnapshotStore makes, with REAL S3 semantics for each: conditional
    writes (If-None-Match:* → 412 PreconditionFailed on existing key;
    If-Match → 412 on ETag mismatch or missing key), NoSuchKey on
    get_object, list_objects_v2 with Prefix/Delimiter/MaxKeys/
    ContinuationToken pagination (page_size forces tiny pages so the
    store's pagination handling is actually exercised), delete_objects
    batching, idempotent delete_object.  Same injectable-fake pattern
    as sources/rest.py's transport."""

    def __init__(self, page_size: int = 2):
        self.objects: "dict[str, tuple[bytes, str]]" = {}  # key -> (body, etag)
        self._etag_counter = 0
        self.page_size = page_size
        self.calls: "list[str]" = []

    def _new_etag(self) -> str:
        self._etag_counter += 1
        return f'"etag-{self._etag_counter}"'

    def get_object(self, Bucket, Key):
        self.calls.append(f"get:{Key}")
        if Key not in self.objects:
            raise FakeClientError("NoSuchKey", 404, "GetObject")
        body, etag = self.objects[Key]
        return {"Body": _Body(body), "ETag": etag}

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, IfMatch=None):
        self.calls.append(f"put:{Key}")
        cur = self.objects.get(Key)
        if IfNoneMatch == "*" and cur is not None:
            raise FakeClientError("PreconditionFailed", 412, "PutObject")
        if IfMatch is not None and cur is None:
            # real S3 semantics: If-Match on a missing key is 404, NOT
            # 412 — the store must map this to CommitConflict itself
            raise FakeClientError("NoSuchKey", 404, "PutObject")
        if IfMatch is not None and cur[1] != IfMatch:
            raise FakeClientError("PreconditionFailed", 412, "PutObject")
        etag = self._new_etag()
        self.objects[Key] = (Body, etag)
        return {"ETag": etag}

    def delete_object(self, Bucket, Key):
        self.calls.append(f"del:{Key}")
        self.objects.pop(Key, None)
        return {}

    def delete_objects(self, Bucket, Delete):
        assert len(Delete["Objects"]) <= 1000
        for entry in Delete["Objects"]:
            self.objects.pop(entry["Key"], None)
        return {}

    def list_objects_v2(
        self, Bucket, Prefix="", Delimiter=None, MaxKeys=None,
        ContinuationToken=None,
    ):
        self.calls.append(f"list:{Prefix}")
        keys = sorted(k for k in self.objects if k.startswith(Prefix))
        contents, common = [], []
        seen_prefixes = set()
        for k in keys:
            rest = k[len(Prefix):]
            if Delimiter and Delimiter in rest:
                cp = Prefix + rest.split(Delimiter, 1)[0] + Delimiter
                if cp not in seen_prefixes:
                    seen_prefixes.add(cp)
                    common.append(cp)
            else:
                contents.append(k)
        entries = [("c", k) for k in contents] + [("p", p) for p in common]
        entries.sort(key=lambda e: e[1])
        start = int(ContinuationToken) if ContinuationToken else 0
        cap = min(MaxKeys or self.page_size, self.page_size)
        page = entries[start : start + cap]
        out = {
            "Contents": [
                {"Key": k} for tag, k in page if tag == "c"
            ],
            "CommonPrefixes": [
                {"Prefix": p} for tag, p in page if tag == "p"
            ],
            "KeyCount": len(page),
            "IsTruncated": start + cap < len(entries),
        }
        if out["IsTruncated"]:
            out["NextContinuationToken"] = str(start + cap)
        return out


def _s3_store(tmp_path, name="s3data", **kw):
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        S3SnapshotStore,
    )

    client = FakeS3Client(**kw)
    store = S3SnapshotStore(
        "test-bucket", "snapshots/main", client=client,
        data_path_override=str(tmp_path / name),
    )
    return store, client


def test_s3_conditional_put_contract(tmp_path):
    """The boto3-shaped store passes the exact contract battery the
    in-memory model and posix store pass."""
    store, client = _s3_store(tmp_path)
    assert store.get_text("CURRENT") is None
    store.put_text("CURRENT", "v0", expect=ABSENT)
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "v1", expect=ABSENT)
    text, gen = store.get_text("CURRENT")
    assert text == "v0"
    store.put_text("CURRENT", "v1", expect=gen)  # CAS succeeds
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "v2", expect=gen)  # stale generation
    store.put_text("CURRENT", "v3", expect=ANY)
    assert store.get_text("CURRENT")[0] == "v3"
    store.delete_text("CURRENT")
    assert store.get_text("CURRENT") is None
    store.delete_text("CURRENT")  # missing delete is a no-op
    # conditional puts went out with the real header shapes
    assert any(c.startswith("put:snapshots/main/CURRENT") for c in client.calls)


def test_s3_listing_pagination_and_prefix_delete(tmp_path):
    """page_size=2 forces multi-page listings: list_names and
    delete_prefix must walk ContinuationToken to completion (a store
    that reads only the first page would silently prune a 100-commit
    snapshot's retention wrong)."""
    store, client = _s3_store(tmp_path, page_size=2)
    for i in range(7):
        store.put_text(f"m{i:012d}.json", "{}")
    for i in range(5):
        store.put_text(f"v000/part-{i}.parquet", "x")
    names = store.list_names()
    assert [f"m{i:012d}.json" for i in range(7)] == [
        n for n in names if n.startswith("m")
    ]
    assert "v000" in names
    assert store.exists_prefix("v000")
    store.delete_prefix("v000")
    assert not store.exists_prefix("v000")
    assert all(not k.startswith("snapshots/main/v000/") for k in client.objects)
    # metadata objects survive the prefix delete
    assert len([k for k in client.objects if k.endswith(".json")]) == 7


def test_s3_409_conditional_conflict_maps_to_commit_conflict(tmp_path):
    """S3 returns 409 ConditionalRequestConflict while concurrent
    conditional writes on one key resolve — the loser did not commit,
    so the store surfaces it as CommitConflict, not a retry."""
    store, client = _s3_store(tmp_path)

    orig = client.put_object

    def conflicted(Bucket, Key, Body, IfNoneMatch=None, IfMatch=None):
        if IfMatch is not None:
            raise FakeClientError("ConditionalRequestConflict", 409, "PutObject")
        return orig(Bucket, Key, Body, IfNoneMatch=IfNoneMatch, IfMatch=IfMatch)

    store.put_text("CURRENT", "v0")
    _, gen = store.get_text("CURRENT")
    client.put_object = conflicted
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "v1", expect=gen)


def test_s3_unrelated_client_errors_propagate(tmp_path):
    """Only 404s map to missing and only 412/409 map to conflict — an
    AccessDenied or throttle must escape loudly, never read as
    'pointer absent' (which the commit units would treat as a damaged
    snapshot or an empty one)."""
    store, client = _s3_store(tmp_path)

    def denied(Bucket, Key):
        raise FakeClientError("AccessDenied", 403, "GetObject")

    client.get_object = denied
    with pytest.raises(FakeClientError):
        store.get_text("CURRENT")


def test_s3_bucketed_sink_battery(spark, tmp_path):
    """The full bucketed commit protocol — seed, MERGE, CDC delete,
    replay no-op, time travel, retention — driven end-to-end through
    the boto3-shaped store (metadata in the fake bucket, data plane on
    the local override dir), proving the S3 call mapping carries the
    whole sink battery, not just the unit contract."""
    store, client = _s3_store(tmp_path)
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), store, ["k"],
        batch_id=0, n_buckets=4,
    )
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 20.0), (4, 4.0)]), store, ["k"],
        batch_id=1, n_buckets=4,
    )
    apply_cdc_batch_into_bucketed_snapshot(
        spark, _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=2, n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == {2: 20.0, 3: 30.0, 4: 4.0}
    # replay of the committed batch: no-op
    apply_cdc_batch_into_bucketed_snapshot(
        spark, _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=2, n_buckets=4,
    )
    assert {
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()
    } == got
    # time travel to the retained previous manifest
    assert {
        r["k"]: r["v"]
        for r in read_bucketed_snapshot(
            spark, store, manifest="m000000000001.json"
        ).collect()
    } == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
    # retention pruned manifests beyond keep_versions=2 in the bucket
    metadata_manifests = [
        k for k in client.objects if k.endswith(".json")
    ]
    assert sorted(metadata_manifests) == [
        "snapshots/main/m000000000001.json",
        "snapshots/main/m000000000002.json",
    ]
    # the conditional pointer flip happened through the fake bucket
    assert store.get_text("CURRENT")[0] == "m000000000002.json"


def test_s3_spark_path_without_override_is_s3a():
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        S3SnapshotStore,
    )

    store = S3SnapshotStore("b", "p/q", client=FakeS3Client())
    assert store.spark_path() == "s3a://b/p/q"
    assert store.spark_path("v000") == "s3a://b/p/q/v000"
    assert "s3://b/p/q" in store.describe()


def test_posix_generation_token_survives_aba(tmp_path):
    """r15 ADVICE: restoring CURRENT to previously seen CONTENT (the
    recovery workflow) must still invalidate generations read before
    the restore — the token is (inode, mtime, content), and _publish
    always creates a fresh inode, so an A->B->A rewrite no longer
    passes a stale CAS."""
    store = PosixSnapshotStore(str(tmp_path / "p"))
    store.put_text("CURRENT", "vA", expect=ABSENT)
    _, gen_a = store.get_text("CURRENT")
    store.put_text("CURRENT", "vB", expect=ANY)
    store.put_text("CURRENT", "vA", expect=ANY)  # operator restore: same content
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "vC", expect=gen_a)  # pre-restore token
    # a token read AFTER the restore works
    _, gen_a2 = store.get_text("CURRENT")
    store.put_text("CURRENT", "vC", expect=gen_a2)
    assert store.get_text("CURRENT")[0] == "vC"


# ---------------------------------------------------------------------------
# r16: value-schema pin (r15 verdict item 1) and the sanctioned
# schema-evolution path (rebucket transform)
# ---------------------------------------------------------------------------


def test_value_schema_pin_refuses_dtype_drift(spark, tmp_path):
    """A batch whose VALUE column drifts dtype must be refused — before
    the pin, unionByName silently coerced it in touched buckets only,
    leaving mixed parquet schemas across version dirs."""
    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    drifted = spark.createDataFrame([(1, "oops")], "k long, v string")
    with pytest.raises(ValueError, match="pinned row schema"):
        upsert_batch_into_bucketed_snapshot(
            spark, drifted, snap, ["k"], batch_id=1, n_buckets=4
        )
    # same shape commits cleanly
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 9.0)]), snap, ["k"], batch_id=1, n_buckets=4
    )


def test_value_schema_pin_covers_all_new_keys_path(spark, tmp_path):
    """The r15 verdict's sharpest case: a batch touching NO existing
    bucket (all-new keys → empty target_paths) previously committed ANY
    drifted schema with no check at all.  The pin check runs before any
    write, so this path is covered too."""
    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(0, 1.0)]), snap, ["k"], batch_id=0, n_buckets=64
    )
    # key 1 hashes to a different bucket at n_buckets=64 than key 0
    # (verified below); extra column = drifted schema
    drifted = spark.createDataFrame([(1, 2.0, "extra")], "k long, v double, w string")
    with pytest.raises(ValueError, match="pinned row schema"):
        upsert_batch_into_bucketed_snapshot(
            spark, drifted, snap, ["k"], batch_id=1, n_buckets=64
        )
    # sanity: the refusal above wasn't the key-schema pin
    man = json.load(open(os.path.join(snap, "m000000000000.json")))
    assert man["value_schema"] == {"k": "bigint", "v": "double"}


def test_value_schema_pin_tolerates_pre_r16_manifest(spark, tmp_path):
    """A manifest written before the value pin existed keeps
    committing — the next commit records the pin (same adoption
    contract as the r14 key-schema pin)."""
    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    man_path = os.path.join(snap, "m000000000000.json")
    man = json.load(open(man_path))
    man.pop("value_schema")
    json.dump(man, open(man_path, "w"))
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 2.0)]), snap, ["k"], batch_id=1, n_buckets=4
    )
    man1 = json.load(open(os.path.join(snap, "m000000000001.json")))
    assert man1["value_schema"] == {"k": "bigint", "v": "double"}


def test_rebucket_refuses_mismatched_key_cols(spark, tmp_path):
    """r15 ADVICE (medium): a maintenance run bucketing by the WRONG
    key columns while the new manifest carries the old pin would let
    every later MERGE pass the pin check yet miss same-key rows —
    silent key duplication.  Refused before any write."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    df = spark.createDataFrame([(1, 10, 1.0)], "k long, k2 long, v double")
    upsert_batch_into_bucketed_snapshot(
        spark, df, snap, ["k"], batch_id=0, n_buckets=4
    )
    with pytest.raises(ValueError, match="pinned key columns"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k2"], batch_id=1, new_n_buckets=8
        )
    with pytest.raises(ValueError, match="pinned key columns"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k", "k2"], batch_id=1, new_n_buckets=8
        )
    # snapshot unchanged — the refusal happened before any write
    cur = open(os.path.join(snap, "CURRENT")).read().strip()
    assert cur == "m000000000000.json"
    # the correct key_cols still work
    rebucket_bucketed_snapshot(spark, snap, ["k"], batch_id=1, new_n_buckets=8)


def test_rebucket_transform_evolves_value_schema(spark, tmp_path):
    """The sanctioned evolution path: an O(snapshot) rewrite through a
    transform re-pins value_schema — add a defaulted column, drop one,
    retype — after which commits must arrive in the NEW shape (the old
    shape is refused by the pin) and the data round-trips."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0)]), snap, ["k"],
        batch_id=0, n_buckets=4,
    )
    # ad-hoc drift is refused...
    widened = spark.createDataFrame([(3, 3.0, 0)], "k long, v double, flags int")
    with pytest.raises(ValueError, match="pinned row schema"):
        upsert_batch_into_bucketed_snapshot(
            spark, widened, snap, ["k"], batch_id=1, n_buckets=4
        )
    # ...but the maintenance commit evolves it on purpose
    rebucket_bucketed_snapshot(
        spark, snap, ["k"], batch_id=1, new_n_buckets=4,
        transform=lambda df: df.withColumn("flags", F.lit(0)),
    )
    man = json.load(open(os.path.join(snap, "m000000000001.json")))
    assert man["value_schema"] == {"k": "bigint", "v": "double", "flags": "int"}
    # the new shape commits; the OLD shape is now the drifted one
    upsert_batch_into_bucketed_snapshot(
        spark, widened, snap, ["k"], batch_id=2, n_buckets=4
    )
    with pytest.raises(ValueError, match="pinned row schema"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(4, 4.0)]), snap, ["k"], batch_id=3, n_buckets=4
        )
    got = {
        r["k"]: (r["v"], r["flags"])
        for r in read_bucketed_snapshot(spark, snap).collect()
    }
    assert got == {1: (1.0, 0), 2: (2.0, 0), 3: (3.0, 0)}


def test_rebucket_transform_must_preserve_keys(spark, tmp_path):
    """Evolution may not touch the key columns — dropping or retyping
    them is a new snapshot, not an evolution (xxhash64 bucketing is
    type-sensitive and the keys are the snapshot's identity)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    with pytest.raises(ValueError, match="dropped key column"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k"], batch_id=1, new_n_buckets=4,
            transform=lambda df: df.drop("k"),
        )
    with pytest.raises(ValueError, match="retyped key column"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k"], batch_id=1, new_n_buckets=4,
            transform=lambda df: df.withColumn("k", F.col("k").cast("int")),
        )
    # both refusals happened before any flip
    assert open(os.path.join(snap, "CURRENT")).read().strip() == (
        "m000000000000.json"
    )


# ---------------------------------------------------------------------------
# r16: snapshot lineage inspection + guarded pointer recovery — the
# workflow the damage-matrix errors instruct ("restore CURRENT to the
# newest complete version/manifest"), as code
# ---------------------------------------------------------------------------


def _seed_bucketed(spark, snap, n_buckets=4):
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), snap, ["k"],
        batch_id=0, n_buckets=n_buckets,
    )
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(2, 20.0), (4, 4.0)]), snap, ["k"],
        batch_id=1, n_buckets=n_buckets,
    )


def test_restore_current_heals_damaged_bucketed_pointer(spark, tmp_path):
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    snap = str(tmp_path / "snap")
    _seed_bucketed(spark, snap)
    os.remove(os.path.join(snap, "CURRENT"))
    # the damage matrix refuses commits in this state...
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(9, 9.0)]), snap, ["k"], batch_id=2, n_buckets=4
        )
    # ...lineage diagnoses it and names the safe restore target
    rep = snapshot_lineage(snap)
    assert rep["layout"] == "bucketed"
    assert rep["current"] is None and not rep["current_complete"]
    assert rep["newest_complete"] == "m000000000001.json"
    assert all(g["complete"] for g in rep["generations"])
    # ...and restore heals it: reads and commits work again
    assert restore_current(snap) == "m000000000001.json"
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(9, 9.0)]), snap, ["k"], batch_id=2, n_buckets=4
    )
    assert read_bucketed_snapshot(spark, snap).count() == 5


def test_restore_current_refuses_healthy_unless_forced(spark, tmp_path):
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
    )

    snap = str(tmp_path / "snap")
    _seed_bucketed(spark, snap)
    with pytest.raises(RuntimeError, match="not damaged"):
        restore_current(snap, name="m000000000000.json")
    # force = deliberate rollback to the retained previous generation
    assert restore_current(
        snap, name="m000000000000.json", force=True
    ) == "m000000000000.json"
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    # commits below the rolled-back-from id are refused as stale is the
    # documented contract — the stream resumes above it
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(7, 7.0)]), snap, ["k"], batch_id=5, n_buckets=4
    )
    assert read_bucketed_snapshot(spark, snap).count() == 4


def test_restore_current_refuses_incomplete_target(spark, tmp_path):
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    snap = str(tmp_path / "snap")
    _seed_bucketed(spark, snap)
    os.remove(os.path.join(snap, "CURRENT"))
    # damage the newest generation's data: one referenced bucket gone
    man = json.load(open(os.path.join(snap, "m000000000001.json")))
    victim = [p for p in man["buckets"].values() if p.startswith("v000000000001")][0]
    import shutil as _sh

    _sh.rmtree(os.path.join(snap, victim))
    rep = snapshot_lineage(snap)
    verdicts = {g["name"]: g["complete"] for g in rep["generations"]}
    assert verdicts["m000000000001.json"] is False
    assert verdicts["m000000000000.json"] is True
    with pytest.raises(RuntimeError, match="INCOMPLETE"):
        restore_current(snap, name="m000000000001.json")
    # the default target skips the damaged generation
    assert restore_current(snap) == "m000000000000.json"
    assert read_bucketed_snapshot(spark, snap).count() == 3


def test_restore_current_empty_and_unknown(tmp_path):
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
    )

    os.makedirs(tmp_path / "empty", exist_ok=True)
    with pytest.raises(FileNotFoundError, match="nothing to restore"):
        restore_current(str(tmp_path / "empty"))


def test_version_dir_pointer_refused_before_any_write(spark, tmp_path):
    """A CURRENT naming a plain version dir (no manifest) is a damaged
    snapshot in every store: commits refuse before writing, reads say
    the manifest is missing, and recovery finds nothing restorable —
    a version dir is never a generation on its own."""
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    for store in _store_matrix(tmp_path):
        _df(spark, [(1, 1.0)]).write.parquet(store.spark_path("v000000000000"))
        store.put_text("CURRENT", "v000000000000")
        before = store.list_names()
        with pytest.raises(RuntimeError, match="manifest is missing"):
            upsert_batch_into_bucketed_snapshot(
                spark, _df(spark, [(2, 2.0)]), store, ["k"], batch_id=1,
                n_buckets=1,
            )
        assert store.list_names() == before
        with pytest.raises(FileNotFoundError, match="manifest is missing"):
            read_bucketed_snapshot(spark, store)
        rep = snapshot_lineage(store)
        assert rep["layout"] == "bucketed" and rep["generations"] == []
        assert rep["current"] == "v000000000000"
        assert not rep["current_complete"] and rep["newest_complete"] is None
        with pytest.raises(RuntimeError, match="no COMPLETE generation"):
            restore_current(store)


def test_restore_current_on_object_store(spark, tmp_path):
    """The recovery workflow drives the same store contract — lineage +
    restore against conditional-put semantics (and the missing-pointer
    restore is a create-only put: a pointer created meanwhile by a live
    writer surfaces as CommitConflict, never an overwrite)."""
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    store = InMemoryObjectStore(str(tmp_path / "snap"))
    _seed_bucketed(spark, store)
    store.delete_text("CURRENT")
    assert snapshot_lineage(store)["newest_complete"] == "m000000000001.json"
    assert restore_current(store) == "m000000000001.json"
    assert read_bucketed_snapshot(spark, store).count() == 4


# ---------------------------------------------------------------------------
# r16: GCSSnapshotStore against a scripted google-cloud-storage-shaped
# fake enforcing real GCS generation semantics
# ---------------------------------------------------------------------------


class FakeGCSError(Exception):
    """google.api_core.exceptions shape: carries the HTTP status on
    .code (NotFound → 404, PreconditionFailed → 412)."""

    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


class _FakeBlob:
    def __init__(self, client, name):
        self._client = client
        self.name = name
        self.generation = None

    def upload_from_string(self, text, if_generation_match=None):
        store = self._client._objects
        cur = store.get(self.name)
        if if_generation_match is not None:
            live = cur[1] if cur is not None else 0
            if live != if_generation_match:
                raise FakeGCSError(
                    412, f"precondition failed: live generation {live}, "
                    f"expected {if_generation_match}"
                )
        self._client._gen_counter += 1
        store[self.name] = (
            text.encode() if isinstance(text, str) else text,
            self._client._gen_counter,
        )

    def download_as_bytes(self):
        cur = self._client._objects.get(self.name)
        if cur is None:
            raise FakeGCSError(404, f"no such object {self.name}")
        if self.generation is not None and cur[1] != self.generation:
            # real semantics: a blob populated by get_blob downloads
            # THAT generation; on an unversioned bucket a replaced
            # object's old generation is gone -> 404
            raise FakeGCSError(
                404, f"generation {self.generation} of {self.name} is gone"
            )
        return cur[0]


class _FakeBucket:
    def __init__(self, client):
        self._client = client

    def blob(self, name):
        return _FakeBlob(self._client, name)

    def get_blob(self, name):
        cur = self._client._objects.get(name)
        if cur is None:
            return None
        b = _FakeBlob(self._client, name)
        b.generation = cur[1]
        return b

    def delete_blob(self, name):
        if name not in self._client._objects:
            raise FakeGCSError(404, f"no such object {name}")
        del self._client._objects[name]


class _FakeBlobIterator:
    """list_blobs contract: .prefixes populates as pages are consumed —
    reading it before iterating would see an empty set, which is why
    the store iterates first."""

    def __init__(self, entries, prefixes):
        self._entries = entries
        self._final_prefixes = prefixes
        self.prefixes: "set[str]" = set()

    def __iter__(self):
        for e in self._entries:
            yield e
        self.prefixes = self._final_prefixes


class FakeGCSClient:
    def __init__(self):
        self._objects: "dict[str, tuple[bytes, int]]" = {}
        self._gen_counter = 0

    def bucket(self, name):
        return _FakeBucket(self)

    def list_blobs(self, bucket, prefix="", delimiter=None, max_results=None):
        keys = sorted(k for k in self._objects if k.startswith(prefix))
        entries, prefixes = [], set()
        for k in keys:
            rest = k[len(prefix):]
            if delimiter and delimiter in rest:
                prefixes.add(prefix + rest.split(delimiter, 1)[0] + delimiter)
            else:
                b = _FakeBlob(self, k)
                b.generation = self._objects[k][1]
                entries.append(b)
        if max_results is not None:
            entries = entries[:max_results]
        return _FakeBlobIterator(entries, prefixes)


def _gcs_store(tmp_path, name="gcsdata"):
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        GCSSnapshotStore,
    )

    client = FakeGCSClient()
    store = GCSSnapshotStore(
        "test-bucket", "snapshots/main", client=client,
        data_path_override=str(tmp_path / name),
    )
    return store, client


def test_gcs_conditional_put_contract(tmp_path):
    store, client = _gcs_store(tmp_path)
    assert store.get_text("CURRENT") is None
    store.put_text("CURRENT", "v0", expect=ABSENT)
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "v1", expect=ABSENT)
    text, gen = store.get_text("CURRENT")
    assert text == "v0" and isinstance(gen, int)
    store.put_text("CURRENT", "v1", expect=gen)  # CAS succeeds
    with pytest.raises(CommitConflict):
        store.put_text("CURRENT", "v2", expect=gen)  # stale generation
    store.put_text("CURRENT", "v3", expect=ANY)
    assert store.get_text("CURRENT")[0] == "v3"
    store.delete_text("CURRENT")
    assert store.get_text("CURRENT") is None
    store.delete_text("CURRENT")  # missing delete is a no-op


def test_gcs_listing_and_prefix_delete(tmp_path):
    store, client = _gcs_store(tmp_path)
    for i in range(5):
        store.put_text(f"m{i:012d}.json", "{}")
    store.put_text("v000/part-0.parquet", "x")
    store.put_text("v000/part-1.parquet", "y")
    names = store.list_names()
    assert "v000" in names and "m000000000000.json" in names
    assert store.exists_prefix("v000")
    store.delete_prefix("v000")
    assert not store.exists_prefix("v000")
    assert len([k for k in client._objects if k.endswith(".json")]) == 5


def test_gcs_unrelated_errors_propagate(tmp_path):
    store, client = _gcs_store(tmp_path)
    store.put_text("CURRENT", "v0")

    def denied(*a, **kw):
        raise FakeGCSError(403, "permission denied")

    client.bucket = lambda name: type(
        "B", (), {"get_blob": staticmethod(denied)}
    )()
    with pytest.raises(FakeGCSError):
        store.get_text("CURRENT")


def test_gcs_bucketed_sink_battery(spark, tmp_path):
    """The full bucketed commit protocol through the GCS-shaped store:
    generation-match conditional puts carry the commit skeleton exactly
    like ETags do on S3."""
    store, client = _gcs_store(tmp_path)
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), store, ["k"],
        batch_id=0, n_buckets=4,
    )
    apply_cdc_batch_into_bucketed_snapshot(
        spark, _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=1, n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()}
    assert got == {2: 2.0, 3: 30.0}
    # replay no-op + time travel + pointer through the fake bucket
    apply_cdc_batch_into_bucketed_snapshot(
        spark, _cdc(spark, [(1, 0.0, "delete"), (3, 30.0, "upsert")]),
        store, ["k"], batch_id=1, n_buckets=4,
    )
    assert {
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, store).collect()
    } == got
    assert {
        r["k"]: r["v"]
        for r in read_bucketed_snapshot(
            spark, store, manifest="m000000000000.json"
        ).collect()
    } == {1: 1.0, 2: 2.0, 3: 3.0}
    assert store.get_text("CURRENT")[0] == "m000000000001.json"


def test_gcs_spark_path_without_override_is_gs():
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        GCSSnapshotStore,
    )

    store = GCSSnapshotStore("b", "p/q", client=FakeGCSClient())
    assert store.spark_path() == "gs://b/p/q"
    assert store.spark_path("v000") == "gs://b/p/q/v000"
    assert "gs://b/p/q" in store.describe()


# ---------------------------------------------------------------------------
# r16 review fixes: key-order pin, S3 404-on-If-Match, GCS read race,
# recovery damage classification
# ---------------------------------------------------------------------------


def test_key_order_pin_refuses_permuted_key_cols(spark, tmp_path):
    """xxhash64(a,b) != xxhash64(b,a): a commit OR maintenance run
    naming the same key columns in a different order buckets by a
    different function — dict/set comparison waved it through (review
    finding); the ordered pin refuses it."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    df = spark.createDataFrame([(1, 10, 1.0)], "a long, b long, v double")
    upsert_batch_into_bucketed_snapshot(
        spark, df, snap, ["a", "b"], batch_id=0, n_buckets=4
    )
    with pytest.raises(ValueError, match="ORDER-sensitive"):
        upsert_batch_into_bucketed_snapshot(
            spark, df, snap, ["b", "a"], batch_id=1, n_buckets=4
        )
    with pytest.raises(ValueError, match="re-ordered"):
        rebucket_bucketed_snapshot(
            spark, snap, ["b", "a"], batch_id=1, new_n_buckets=8
        )
    # the pinned order still works, for both
    upsert_batch_into_bucketed_snapshot(
        spark, df, snap, ["a", "b"], batch_id=1, n_buckets=4
    )
    rebucket_bucketed_snapshot(
        spark, snap, ["a", "b"], batch_id=2, new_n_buckets=8
    )
    assert read_bucketed_snapshot(spark, snap).count() == 1


def test_s3_if_match_on_deleted_key_is_commit_conflict(tmp_path):
    """Real S3 answers If-Match on a missing key with 404, not 412 —
    the store must still surface CommitConflict (the generation was
    read, then the object was deleted: a failed precondition like any
    other, and what every other store raises for this state)."""
    store, client = _s3_store(tmp_path)
    store.put_text("CURRENT", "v0")
    _, gen = store.get_text("CURRENT")
    store.delete_text("CURRENT")
    with pytest.raises(CommitConflict, match="deleted since"):
        store.put_text("CURRENT", "v1", expect=gen)
    # ...and an unconditional put after a delete is still fine
    store.put_text("CURRENT", "v1", expect=ANY)


def test_gcs_get_text_rereads_after_replacement_race(tmp_path):
    """get_blob pins a generation; if the object is replaced before the
    download, the pinned download 404s — get_text re-observes and
    returns a CONSISTENT fresh (text, generation) pair instead of
    letting the NotFound escape."""
    store, client = _gcs_store(tmp_path)
    store.put_text("CURRENT", "v0")

    orig_bucket = client.bucket

    class RacingBucket:
        def __init__(self, inner):
            self._inner = inner
            self.raced = False

        def get_blob(self, name):
            blob = self._inner.get_blob(name)
            if blob is not None and not self.raced:
                self.raced = True
                # replace the object AFTER the metadata read
                self._inner.blob(name).upload_from_string("v1")
            return blob

        def __getattr__(self, attr):
            return getattr(self._inner, attr)

    racing = RacingBucket(orig_bucket("test-bucket"))
    client.bucket = lambda name: racing
    text, gen = store.get_text("CURRENT")
    assert text == "v1"  # the fresh consistent observation
    # the returned generation is current: a CAS on it succeeds
    client.bucket = orig_bucket
    store.put_text("CURRENT", "v2", expect=gen)
    assert store.get_text("CURRENT")[0] == "v2"


def test_gcs_get_text_deleted_mid_read_is_missing(tmp_path):
    store, client = _gcs_store(tmp_path)
    store.put_text("CURRENT", "v0")

    orig_bucket = client.bucket

    class DeletingBucket:
        def __init__(self, inner):
            self._inner = inner
            self.raced = False

        def get_blob(self, name):
            blob = self._inner.get_blob(name)
            if blob is not None and not self.raced:
                self.raced = True
                self._inner.delete_blob(name)
            return blob

        def __getattr__(self, attr):
            return getattr(self._inner, attr)

    client.bucket = lambda name: DeletingBucket(orig_bucket("test-bucket"))
    assert store.get_text("CURRENT") is None


def test_lineage_classifies_non_object_json_manifest_as_damaged(spark, tmp_path):
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    snap = str(tmp_path / "snap")
    _seed_bucketed(spark, snap)
    os.remove(os.path.join(snap, "CURRENT"))
    # corrupt the newest manifest to valid-but-non-object JSON
    with open(os.path.join(snap, "m000000000001.json"), "w") as f:
        f.write("null")
    rep = snapshot_lineage(snap)
    verdicts = {g["name"]: g for g in rep["generations"]}
    assert verdicts["m000000000001.json"]["complete"] is False
    assert "non-object" in verdicts["m000000000001.json"]["detail"]
    # recovery still proceeds to the healthy generation
    assert restore_current(snap) == "m000000000000.json"


def test_lineage_refuses_manifestless_bucketed_dirs(spark, tmp_path):
    """All manifests lost but bucket-partitioned version dirs intact:
    previously misclassified as a healthy FULL layout and 'restored' to
    a pointer no bucketed reader can load — now reported as a bucketed
    snapshot with no restorable generation."""
    from omics_data_integration_utilities_spark.streaming.recovery import (
        restore_current,
        snapshot_lineage,
    )

    snap = str(tmp_path / "snap")
    _seed_bucketed(spark, snap)
    os.remove(os.path.join(snap, "CURRENT"))
    for n in os.listdir(snap):
        if n.startswith("m") and n.endswith(".json"):
            os.remove(os.path.join(snap, n))
    rep = snapshot_lineage(snap)
    assert rep["layout"] == "bucketed"
    assert rep["newest_complete"] is None
    assert all(not g["complete"] for g in rep["generations"])
    with pytest.raises(RuntimeError, match="no COMPLETE generation"):
        restore_current(snap)


# ---------------------------------------------------------------------------
# one commit skeleton: the refusals every commit unit shares
# ---------------------------------------------------------------------------


def test_rebucket_refuses_key_dtype_read_back_drift(spark, tmp_path):
    """A bucket whose data reads back with other key dtypes than the
    pin (here int under a bigint pin, as a hand edit would leave it) is
    refused by the rebucket before it writes a layout the pin no longer
    describes; CURRENT is unchanged."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0), (2, 2.0)]), snap, ["k"],
        batch_id=0, n_buckets=1,
    )
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double").write.mode(
        "overwrite"
    ).parquet(os.path.join(snap, "v000000000000", "__bucket=0"))
    with pytest.raises(RuntimeError, match="reads back as"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k"], batch_id=1, new_n_buckets=4
        )
    assert open(os.path.join(snap, "CURRENT")).read().strip() == (
        "m000000000000.json"
    )
    assert not os.path.exists(os.path.join(snap, "v000000000001"))


def test_every_commit_refuses_non_positive_n_buckets_before_any_job(spark, tmp_path):
    """``n_buckets < 1`` is refused by upsert, CDC and rebucket alike,
    on a fresh dir and on a seeded snapshot, before any Spark job."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    from .conftest import jobs_fired

    seeded = str(tmp_path / "seeded")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), seeded, ["k"], batch_id=0, n_buckets=4
    )
    batch, cdc = _df(spark, [(2, 2.0)]), _cdc(spark, [(2, 2.0, "upsert")])
    for n in (0, -4):
        for snap in (str(tmp_path / f"fresh{n}"), seeded):
            commits = [
                lambda: upsert_batch_into_bucketed_snapshot(
                    spark, batch, snap, ["k"], batch_id=1, n_buckets=n
                ),
                lambda: apply_cdc_batch_into_bucketed_snapshot(
                    spark, cdc, snap, ["k"], batch_id=1, n_buckets=n
                ),
                lambda: rebucket_bucketed_snapshot(
                    spark, snap, ["k"], batch_id=1, new_n_buckets=n
                ),
            ]
            for commit in commits:

                def refused(commit=commit):
                    with pytest.raises(ValueError, match="must be >= 1"):
                        commit()

                assert jobs_fired(spark, refused) == 0, (n, snap)
        assert not os.path.exists(tmp_path / f"fresh{n}")
    assert open(os.path.join(seeded, "CURRENT")).read().strip() == (
        "m000000000000.json"
    )


def test_failed_rebucket_write_deletes_its_version_dir(spark, tmp_path):
    """A rebucket whose write job fails leaves no partial ``v<batch>``
    dir behind, and CURRENT still names the base: once for a
    ``transform`` that fails while the rows are computed, once for a
    failure in the writer tasks themselves (a parquet codec whose class
    is not installed), which fails after the writer made the dir."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.sinks import (
        rebucket_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(k, float(k)) for k in range(8)]), snap, ["k"],
        batch_id=0, n_buckets=4,
    )
    before = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    failing = lambda df: df.withColumn(  # noqa: E731
        "v",
        F.when(F.col("k") == 5, F.expr("raise_error('transform failed')"))
        .otherwise(F.col("v")),
    )
    with pytest.raises(Exception, match="transform failed"):
        rebucket_bucketed_snapshot(
            spark, snap, ["k"], batch_id=1, new_n_buckets=4, transform=failing
        )
    codec = "spark.sql.parquet.compression.codec"
    prior = spark.conf.get(codec, None)
    spark.conf.set(codec, "brotli")
    try:
        with pytest.raises(Exception, match="TASK_WRITE_FAILED"):
            rebucket_bucketed_snapshot(
                spark, snap, ["k"], batch_id=1, new_n_buckets=4
            )
    finally:
        if prior is None:
            spark.conf.unset(codec)
        else:
            spark.conf.set(codec, prior)
    assert not os.path.exists(os.path.join(snap, "v000000000001"))
    assert open(os.path.join(snap, "CURRENT")).read().strip() == (
        "m000000000000.json"
    )
    after = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert after == before


@pytest.mark.parametrize(
    "text, why",
    [("null", "non-object JSON"), ("[]", "non-object JSON"), ("{not json", "unparseable")],
)
def test_damaged_current_manifest_is_refused_alike(spark, tmp_path, text, why):
    """A CURRENT naming a manifest that does not parse to a JSON object
    is a damaged snapshot: a commit raises the damaged-snapshot
    RuntimeError before any write, a read raises the same, and lineage
    reports the generation incomplete."""
    from omics_data_integration_utilities_spark.streaming.recovery import (
        snapshot_lineage,
    )

    snap = str(tmp_path / "snap")
    upsert_batch_into_bucketed_snapshot(
        spark, _df(spark, [(1, 1.0)]), snap, ["k"], batch_id=0, n_buckets=4
    )
    with open(os.path.join(snap, "m000000000000.json"), "w") as f:
        f.write(text)
    damaged = f"is {why} — damaged snapshot"
    with pytest.raises(RuntimeError, match=damaged):
        upsert_batch_into_bucketed_snapshot(
            spark, _df(spark, [(2, 2.0)]), snap, ["k"], batch_id=1, n_buckets=4
        )
    assert not os.path.exists(os.path.join(snap, "v000000000001"))
    with pytest.raises(RuntimeError, match=damaged):
        read_bucketed_snapshot(spark, snap)
    (gen,) = snapshot_lineage(snap)["generations"]
    assert not gen["complete"] and why in gen["detail"]
