"""Model-based stateful property test for the lake DML layer.

Random operation sequences — inserts, MOR/COW deletes, COW updates,
rollbacks, compaction, tombstone consolidation, snapshot expiry — run
against both the LakeTable and a plain in-memory Python model, asserting
``read()`` equivalence after EVERY step, plus a SQL-facade point lookup
of a random live key and of a random deleted key. Write modes
(merge-on-read vs copy-on-write, deletion vectors on/off) flip randomly
mid-sequence, so mixed-layout snapshots (row tombstones + DVs + rewritten
files) are exercised together. Maintenance ops must never change the
visible table; rollback must restore exactly the model's recorded state.

This is the strongest kind of check the snapshot layer can get short of
a second engine: any divergence between the metadata machinery and the
obvious semantics surfaces as a one-line diff with the seed to replay.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.slow  # ~160 s of randomized DML sequences

from demo_iceberg_permanent_delete_spark.lake import Catalog, LakeEngine, datafiles, pruning

DDL = "k bigint, v bigint, s string"
FUTURE = dt.datetime(2100, 1, 1)

N_SEEDS = 5
N_STEPS = 14
# seeds also run with a driver budget of 0 (every driver-collect site
# takes its executor path) and with the row filter declining every
# predicate (driver reads match through Spark), each checked against a
# default-budget run
BUDGET0_SEEDS = (0, 1)


def _fingerprint(table):
    """What the two budget runs must agree on: visible rows, manifest-
    pruned scans (read on the driver at the default budget, by executors
    at budget 0), and per snapshot its operation and the (content, record
    count, dv) of every manifest entry. File paths, sizes and
    referenced-file lists are left out: paths are random, and pyarrow and
    Spark write different bytes."""
    rows = sorted(
        (r["k"], r["v"], r["s"]) for r in table.read().collect()
    )
    scans = [
        sorted((r["k"], r["v"], r["s"]) for r in table.scan(pred).collect())
        for pred in ("v = 2", "k < 12 AND s >= 's3'")
    ]
    snaps = [
        (
            s.operation,
            sorted(
                (e.content, e.record_count, bool(getattr(e, "dv", False)))
                for e in s.manifest
            ),
        )
        for s in table.metadata.snapshots
    ]
    return (rows, scans), snaps


def _rows_lin(table):
    """One lineage read serves both checks: the visible (k, v, s) set for
    the value model, and k -> (_row_id, _last_updated_sequence_number)
    for the lineage invariants."""
    rows = table.read(lineage=True).collect()
    vals = sorted((r["k"], r["v"], r["s"]) for r in rows)
    lin = {
        r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in rows
    }
    return vals, lin


@pytest.mark.parametrize(
    "seed,budget",
    [(seed, None) for seed in range(N_SEEDS)]
    + [(seed, 0) for seed in BUDGET0_SEEDS],
    ids=[str(seed) for seed in range(N_SEEDS)]
    + [f"{seed}-budget0" for seed in BUDGET0_SEEDS],
)
def test_random_dml_sequences_match_model(
    spark, tmp_path, monkeypatch, seed, budget
):
    if budget is None:
        _run_sequence(spark, tmp_path, seed)
        return
    want_rows, want_snaps = _fingerprint(
        _run_sequence(spark, tmp_path / "default", seed)
    )
    with monkeypatch.context() as m:
        m.setattr(pruning, "row_filter", lambda predicate, table: None)
        got_rows, got_snaps = _fingerprint(
            _run_sequence(spark, tmp_path / "declined", seed)
        )
    assert got_rows == want_rows
    assert got_snaps == want_snaps, (
        f"seed {seed}: declining the row filter wrote different manifests"
    )
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget)
    got_rows, got_snaps = _fingerprint(
        _run_sequence(spark, tmp_path / f"budget{budget}", seed)
    )
    assert got_rows == want_rows
    assert got_snaps == want_snaps, (
        f"seed {seed}: budget {budget} wrote different manifests"
    )


def _run_sequence(spark, tmp_path, seed):
    """One random DML sequence, checked against the model after every
    step; returns the table."""
    rnd = random.Random(9000 + seed)
    cat = Catalog(spark, str(tmp_path / f"wh{seed}"))
    cat.create_namespace("default")
    t = cat.create_table("default.model", DDL)
    eng = LakeEngine(spark, str(tmp_path / f"wh{seed}"))
    # lookup keys come from their own stream: the DML sequence of a seed
    # stays what it was without them
    look = random.Random(7000 + seed)

    model: dict[int, tuple[int, str]] = {}  # k -> (v, s)
    next_k = 0
    # snapshot_id -> frozen model state, for rollback targets
    states: dict[int, dict[int, tuple[int, str]]] = {}
    # lineage invariants (X54): k -> (_row_id, _last_updated_seq) as last
    # observed; frozen per snapshot for rollback/time-travel; every row id
    # ever seen (ids are assigned once and never reused)
    lin_obs: dict[int, tuple[int, int]] = {}
    lin_states: dict[int, dict[int, tuple[int, int]]] = {}
    used_rids: set[int] = set()

    def check(
        step,
        op,
        *,
        changed: set[int] = frozenset(),
        replaced: set[int] = frozenset(),
        new_seq=None,
    ):
        nonlocal lin_obs
        got, lin = _rows_lin(t)
        want = sorted((k, v, s) for k, (v, s) in model.items())
        assert got == want, (
            f"seed {seed} step {step} after {op}: engine != model\n"
            f"engine-only: {sorted(set(got) - set(want))[:5]}\n"
            f"model-only: {sorted(set(want) - set(got))[:5]}"
        )
        if model:
            k = look.choice(sorted(model))
            got = eng.sql(f"SELECT k, v, s FROM default.model WHERE k = {k}").collect()
            assert [tuple(r) for r in got] == [(k, *model[k])], (
                f"seed {seed} step {step} after {op}: lookup of k={k}"
            )
        gone = sorted(set(range(next_k)) - set(model))
        if gone:
            k = look.choice(gone)
            got = eng.sql(f"SELECT s, k FROM default.model WHERE k = {k}").collect()
            assert got == [], f"seed {seed} step {step} after {op}: k={k} deleted"
        rids = [rid for rid, _ in lin.values()]
        assert len(rids) == len(set(rids)), (
            f"seed {seed} step {step} after {op}: duplicate _row_id"
        )
        for k, (rid, seq) in lin.items():
            assert rid is not None and seq is not None
            if k in lin_obs and k in replaced:
                # eq-upsert REPLACES the row: the new copy is a brand-new
                # row (Iceberg semantics — equality delete + insert), so
                # its identity must be FRESH, never the old id re-used
                prev_rid, _ = lin_obs[k]
                assert rid != prev_rid and rid not in used_rids, (
                    f"seed {seed} step {step} after {op}: upserted k={k} "
                    f"kept/reused row id {rid}"
                )
                assert seq == new_seq, (
                    f"seed {seed} step {step} after {op}: upserted k={k} "
                    f"seq {seq} != commit {new_seq}"
                )
                used_rids.add(rid)
                continue
            if k in lin_obs:
                prev_rid, prev_seq = lin_obs[k]
                assert rid == prev_rid, (
                    f"seed {seed} step {step} after {op}: k={k} _row_id "
                    f"changed {prev_rid} -> {rid}"
                )
                if k in changed:
                    assert seq == new_seq, (
                        f"seed {seed} step {step} after {op}: k={k} "
                        f"modified but seq {seq} != commit {new_seq}"
                    )
                else:
                    assert seq == prev_seq, (
                        f"seed {seed} step {step} after {op}: k={k} "
                        f"untouched but seq {prev_seq} -> {seq}"
                    )
            else:
                assert rid not in used_rids, (
                    f"seed {seed} step {step} after {op}: fresh k={k} "
                    f"reused _row_id {rid}"
                )
            used_rids.add(rid)
        lin_obs = lin

    ops = []
    for step in range(N_STEPS):
        changed: set[int] = set()
        replaced: set[int] = set()
        new_seq = None
        choice = rnd.random()
        if choice < 0.28 or not model:  # insert a small batch
            n = rnd.randint(1, 6)
            batch = [
                (next_k + i, rnd.randint(0, 5), f"s{(next_k + i) % 7}")
                for i in range(n)
            ]
            next_k += n
            t.insert(
                spark.createDataFrame(batch, DDL).coalesce(rnd.randint(1, 2))
            )
            for k, v, s in batch:
                model[k] = (v, s)
            ops.append(f"insert{n}")
        elif choice < 0.35:  # equality-delete upsert (X56): replaces rows
            n_upd = rnd.randint(1, min(3, len(model)))
            upd_keys = rnd.sample(sorted(model), n_upd)
            n_new = rnd.randint(0, 2)
            new_keys = list(range(next_k, next_k + n_new))
            next_k += n_new
            batch = [
                (k, rnd.randint(0, 5), f"s{k % 7}")
                for k in upd_keys + new_keys
            ]
            snap = t.upsert(spark.createDataFrame(batch, DDL), on=["k"])
            replaced = set(upd_keys)
            new_seq = snap.sequence_number
            for k, v, s in batch:
                model[k] = (v, s)
            ops.append(f"upsert {n_upd}+{n_new}")
        elif choice < 0.50:  # delete by value predicate (random write mode)
            t.set_properties(
                {
                    "write.delete.mode": rnd.choice(
                        ["merge-on-read", "copy-on-write"]
                    ),
                    "write.delete.vector.enabled": rnd.choice(["true", "false"]),
                }
            )
            v = rnd.randint(0, 5)
            t.delete(f"v = {v}")
            model = {k: (mv, s) for k, (mv, s) in model.items() if mv != v}
            ops.append(f"delete v={v}")
        elif choice < 0.57:  # update (random COW / MOR-position-delete mode)
            t.set_properties(
                {
                    "write.update.mode": rnd.choice(
                        ["copy-on-write", "merge-on-read"]
                    ),
                    "write.delete.vector.enabled": rnd.choice(["true", "false"]),
                }
            )
            v = rnd.randint(0, 5)
            snap = t.update({"s": "redacted"}, f"v = {v}")
            changed = {k for k, (mv, _) in model.items() if mv == v}
            new_seq = snap.sequence_number if snap is not None else None
            if snap is None:
                changed = set()
            model = {
                k: (mv, "redacted" if mv == v else s)
                for k, (mv, s) in model.items()
            }
            ops.append(f"update v={v}")
        elif choice < 0.62:  # equality delete: deletes only rows committed
            # BEFORE it (Iceberg's sequence rule) ≡ dropping current matches
            s_val = f"s{rnd.randint(0, 6)}"
            t.equality_delete(
                spark.createDataFrame([(s_val,)], "s string")
            )
            model = {k: (mv, s) for k, (mv, s) in model.items() if s != s_val}
            ops.append(f"eqdelete s={s_val}")
        elif choice < 0.72 and states:  # rollback to a recorded ancestor
            live = {s.snapshot_id for s in t.metadata.snapshots}
            targets = [sid for sid in states if sid in live]
            if targets:
                sid = rnd.choice(targets)
                t.rollback_to_snapshot(sid)
                model = dict(states[sid])
                lin_obs = dict(lin_states[sid])
                ops.append(f"rollback {sid}")
        elif choice < 0.78:  # compaction: visible state must not change
            t.rewrite_data_files()
            ops.append("rewrite")
        elif choice < 0.82:  # planned compaction loop: no visible change
            t.compact(
                min_input_files=rnd.randint(2, 4),
                target_file_size_bytes=rnd.choice([4096, 134217728]),
            )
            ops.append("compact")
        elif choice < 0.90:  # tombstone consolidation: no visible change
            t.rewrite_position_delete_files()
            ops.append("consolidate")
        else:  # expiry keeps the current state readable
            t.expire_snapshots(FUTURE, retain_last=rnd.randint(1, 3))
            live = {s.snapshot_id for s in t.metadata.snapshots}
            states_keys = [sid for sid in states if sid not in live]
            for sid in states_keys:
                del states[sid]
            ops.append("expire")
        cur = t.metadata.current_snapshot_id
        if cur is not None:
            states[cur] = dict(model)
        check(step, ops[-1], changed=changed, replaced=replaced, new_seq=new_seq)
        if cur is not None:
            lin_states[cur] = dict(lin_obs)

    # Time-travel closure: every still-retained snapshot must replay
    # exactly the state recorded when it was current — across rollbacks,
    # expiry, layout flips, and manifest-chain reconstruction.
    live = {s.snapshot_id for s in t.metadata.snapshots}
    for sid, frozen in states.items():
        if sid not in live:
            continue
        rows = t.read(snapshot_id=sid, lineage=True).collect()
        got = sorted((r["k"], r["v"], r["s"]) for r in rows)
        want = sorted((k, v, s) for k, (v, s) in frozen.items())
        assert got == want, f"seed {seed}: time travel to {sid} diverged"
        # lineage must replay exactly as observed when sid was current
        got_lin = {
            r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
            for r in rows
        }
        assert got_lin == lin_states[sid], (
            f"seed {seed}: time travel to {sid} lineage diverged"
        )
    return t
