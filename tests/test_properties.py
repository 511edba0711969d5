"""Property-based tests (hypothesis) for the pure-deterministic tiers:
container codecs, the cross-engine rounding twins, and the as-of join
core against a brute-force reference. These guard the INVARIANTS the
oracle diff can't see — arbitrary inputs, not the fixed testdata."""

from __future__ import annotations

import math
import os
import random

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from user_feed_cdc_spark.operators.multimodal import (
    _lzw_decode,
    _lzw_encode,
    decode_bmp,
    decode_gif,
    decode_wav,
    encode_bmp,
    encode_gif,
    encode_wav,
)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2000))
def test_lzw_round_trip_any_bytes(data):
    assert _lzw_decode(_lzw_encode(data)) == data


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=6),
    st.data(),
)
def test_bmp_round_trip_any_dims(w, h, data):
    """Row padding must be correct for every width mod 4."""
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    assert decode_bmp(encode_bmp(w, h, pixels)) == (w, h, pixels)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-32768, max_value=32767), max_size=400))
def test_wav_round_trip_any_samples(samples):
    rate, got = decode_wav(encode_wav(samples))
    assert (rate, got) == (8000, samples)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=6),
    st.data(),
)
def test_gif_round_trip_any_dims(w, h, data):
    gray = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h))
    )
    _w, _h, rgb = decode_gif(encode_gif(w, h, gray))
    assert (_w, _h) == (w, h)
    assert rgb == b"".join(bytes((g, g, g)) for g in gray)


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.sampled_from([2, 4, 6]),
)
def test_round_half_up_matches_duckdb(x, scale):
    """The driver-side rounding twin must equal the oracle-side SQL
    formula bit for bit — the invariant every hash-gated rounded column
    rests on."""
    from user_feed_cdc_spark.functions.numeric import py_round_half_up

    factor = float(10**scale)
    # Bind x as a parameter: a repr-interpolated literal parses as
    # DECIMAL, and the decimal->double conversion loses a ulp once the
    # scaled mantissa passes 2^53 (e.g. -900719925.7421875 at scale 7).
    # The real oracle gate reads parquet doubles, never decimal literals,
    # so the binding channel is the faithful model of it.
    (got,) = duckdb.execute(
        f"SELECT FLOOR(CAST(? AS DOUBLE) * {factor} + 0.5) / {factor}", [x]
    ).fetchone()
    expect = py_round_half_up(x, scale)
    assert (got == expect) or (math.isnan(got) and math.isnan(expect)), (
        x, scale, got, expect,
    )


def _brute_asof(probes, markers, direction):
    """Reference semantics: per probe, the latest marker at-or-before
    (backward) / earliest strictly-after (forward) for the same key;
    ties impossible (unique marker ts per key by construction)."""
    out = {}
    for pid, key, pts in probes:
        best = None
        for key_m, mts, val in markers:
            if key_m != key:
                continue
            if direction == "backward" and mts <= pts:
                if best is None or mts > best[0]:
                    best = (mts, val)
            elif direction == "forward" and mts > pts:
                if best is None or mts < best[0]:
                    best = (mts, val)
        out[pid] = None if best is None else best[1]
    return out


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_brute_force(spark, direction):
    """40 randomized key/timestamp layouts (boundary-heavy: equal ts,
    no-marker keys, marker-only keys) checked against the brute force in
    ONE Spark job — the union+window composition must agree exactly,
    including its <= / strict-> tie rules."""
    from user_feed_cdc_spark.operators.asof import asof_join

    rng = random.Random(7)
    probes, markers = [], []
    pid = 0
    for case in range(40):
        keys = [f"c{case}_k{i}" for i in range(rng.randint(1, 4))]
        for key in keys:
            marker_ts = rng.sample(range(20), rng.randint(0, 5))
            for mts in marker_ts:
                markers.append((key, mts, f"m_{key}_{mts}"))
            for _ in range(rng.randint(0, 5)):
                # equal-ts collisions with markers are likely by design
                probes.append((pid, key, rng.randrange(20)))
                pid += 1

    p_df = spark.createDataFrame(probes, "pid long, key string, ts long")
    m_df = spark.createDataFrame(markers, "key string, ts long, val string")
    got = {
        r.pid: r.val
        for r in asof_join(
            p_df, m_df, key="key", ts="ts", marker_cols=["val"],
            direction=direction,
        ).collect()
    }
    expect = _brute_asof(probes, markers, direction)
    assert got == expect


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.data(),
)
def test_resize_nearest_properties(w, h, ow, oh, data):
    """Identity at equal dims; every output pixel is copied verbatim
    from the source pixel set; output length is exact."""
    from user_feed_cdc_spark.operators.multimodal import resize_nearest

    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    assert resize_nearest(w, h, px, w, h) == px
    out = resize_nearest(w, h, px, ow, oh)
    assert len(out) == ow * oh * 3
    src_pixels = {px[i : i + 3] for i in range(0, len(px), 3)}
    for i in range(0, len(out), 3):
        assert out[i : i + 3] in src_pixels


def test_bpe_pair_expr_matches_reference(spark):
    """The PRODUCTION Spark pair expression (sequence + substr, the body
    of text_bpe_merge_pairs) must equal the naive zip(chars, chars[1:])
    reference — exercised on boundary-heavy fixed texts (multi-space
    runs, 1-char words, unicode, repeats), driving the real engine
    expression rather than a second in-test re-implementation."""
    from collections import Counter

    from pyspark.sql import functions as F

    texts = [
        "abc ab a  b",
        "  double  spaces  ",
        "aaaa",
        "x",
        "",
        "héllo wörld déjà",
        "ab ab ab ba",
        "tab\there newline",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    words = df.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    got = Counter(r.pair for r in pairs.collect())
    expect = Counter()
    for t in texts:
        for w in t.split(" "):
            if len(w) >= 2:
                expect.update(a + b for a, b in zip(w, w[1:]))
    assert got == expect


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_dhash64_invariances(w, h, data):
    """dhash64 holds its contract on arbitrary images: deterministic,
    signed-64, invariant to uniform brightness shifts that don't clip,
    and stable under integer nearest-neighbor upscaling."""
    from user_feed_cdc_spark.operators.multimodal import (
        dhash64,
        resize_nearest,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=200),  # headroom for +50
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    hsh = dhash64(w, h, rgb)
    assert hsh == dhash64(w, h, rgb)
    assert -(1 << 63) <= hsh < (1 << 63)
    shift = data.draw(st.integers(min_value=1, max_value=50))
    shifted = bytes(b + shift for b in rgb)
    assert dhash64(w, h, shifted) == hsh
    kx = data.draw(st.integers(min_value=1, max_value=3))
    ky = data.draw(st.integers(min_value=1, max_value=3))
    up = resize_nearest(w, h, rgb, w * kx, h * ky)
    assert dhash64(w * kx, h * ky, up) == hsh


def test_merge_into_matches_python_model(spark):
    """Property test (hypothesis): merge_into agrees with a dict-model
    reference on arbitrary small target/source tables — matched
    updates, matched deletes, unmatched inserts, no-op deletes of
    absent keys, untouched keeps. Spark examples are expensive, so a
    handful of drawn cases each covering the full action space."""
    from hypothesis import given, settings, strategies as st

    from user_feed_cdc_spark.operators.cdc import merge_into

    keys = st.integers(min_value=0, max_value=9)

    @settings(max_examples=8, deadline=None)
    @given(
        target=st.dictionaries(keys, st.integers(0, 100), max_size=8),
        source=st.dictionaries(
            keys,
            st.tuples(st.integers(0, 100), st.sampled_from(["c", "u", "d"])),
            max_size=8,
        ),
    )
    def run(target, source):
        t_rows = [(k, v) for k, v in target.items()]
        s_rows = [(k, v, op) for k, (v, op) in source.items()]
        t_df = spark.createDataFrame(
            t_rows or [(None, None)], "key int, tv int"
        ).filter("key IS NOT NULL")
        s_df = spark.createDataFrame(
            s_rows or [(None, None, None)], "key int, sv int, op string"
        ).filter("key IS NOT NULL")
        got = {
            r.key: (r.tv, r.sv, r.action)
            for r in merge_into(t_df, s_df, "key").collect()
        }
        # dict model
        want = {}
        for k, tv in target.items():
            if k in source:
                sv, op = source[k]
                if op != "d":
                    want[k] = (tv, sv, "update")
            else:
                want[k] = (tv, None, "keep")
        for k, (sv, op) in source.items():
            if k not in target and op != "d":
                want[k] = (None, sv, "insert")
        assert got == want, (got, want)

    run()


def _waterfill_prefix(caps, ws, budget):
    """The closed-form prefix solve pipeline_token_budget_epochs runs in
    SQL, mirrored in Python: sort by cap/w ratio (integer-division key,
    name tiebreak by index), flag j capped iff
    cap_j*(W - cumW_{j-1}) <= w_j*(B - cumC_{j-1}), allocate caps to
    the capped prefix and lambda*w (floored) to the rest."""
    order = sorted(range(len(caps)),
                   key=lambda i: (caps[i] * 1_000_000 // ws[i], i))
    W, cum_c, cum_w = sum(ws), 0, 0
    capped = set()
    for j in order:
        if caps[j] * (W - cum_w) <= ws[j] * (budget - cum_c):
            capped.add(j)
            cum_c += caps[j]
            cum_w += ws[j]
    nc = budget - sum(caps[j] for j in capped)
    nd = sum(ws[j] for j in range(len(caps)) if j not in capped)
    return [
        caps[j] if j in capped else nc * ws[j] // nd
        for j in range(len(caps))
    ], capped


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=10_000),
                  st.integers(min_value=1, max_value=9)),
        min_size=1, max_size=12,
    ),
    st.integers(min_value=0, max_value=400_000),
)
def test_waterfill_prefix_solve_is_optimal(items, budget):
    """The prefix condition must reproduce the true KKT water-filling
    optimum on ARBITRARY instances — the contiguity argument in the
    docstring, checked by brute force: (a) allocations never exceed
    caps or the budget; (b) if anything is left unallocated beyond
    floor remainders, every source is capped (budget exceeds
    capacity); (c) no capped source has a strictly higher cap/w ratio
    than an uncapped one (the exchange argument: swapping would let
    the capped one release budget the uncapped one wants); (d) uncapped
    allocations share one lambda (alloc_j/w_j equal up to floor)."""
    caps = [c for c, _ in items]
    ws = [w for _, w in items]
    alloc, capped = _waterfill_prefix(caps, ws, budget)
    n = len(items)
    assert all(0 <= alloc[j] <= caps[j] for j in range(n))
    assert sum(alloc) <= budget
    uncapped = [j for j in range(n) if j not in capped]
    if uncapped:
        assert budget - sum(alloc) < len(uncapped)
        nc = budget - sum(caps[j] for j in capped)
        nd = sum(ws[j] for j in uncapped)
        for j in uncapped:
            assert alloc[j] == nc * ws[j] // nd
            # lambda consistency: uncapped source is NOT at its cap
            # unless the floor collision makes them equal
            assert alloc[j] <= caps[j]
        if capped:
            max_capped_ratio = max(
                caps[j] * 1_000_000 // ws[j] for j in capped
            )
            min_uncapped_ratio = min(
                caps[j] * 1_000_000 // ws[j] for j in uncapped
            )
            assert max_capped_ratio <= min_uncapped_ratio
    else:
        # everyone capped: the budget must cover total capacity
        assert budget >= sum(caps)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9),
             min_size=1, max_size=40),
)
def test_cusum_cross_multiplied_argmax_matches_float(revs):
    """The integer statistic n0*prefix - rank*base_sum must rank days
    exactly like the textbook float CUSUM sum(r_i - mean0) — the
    cross-multiplication preserves argmax and sign for any series."""
    n0 = min(7, len(revs))
    base = revs[:n0]
    bsum = sum(base)
    mean0 = bsum / n0
    s_int, s_float, prefix = [], [], 0
    for i, r in enumerate(revs, start=1):
        prefix += r
        s_int.append(n0 * prefix - i * bsum)
        s_float.append(prefix - i * mean0)
    best_i = max(range(len(revs)), key=lambda i: (abs(s_int[i]), -i))
    best_f = max(range(len(revs)), key=lambda i: (abs(s_float[i]), -i))
    # the float argmax can differ only on exact-tie days that float
    # rounding splits; the integer form is the ground truth there
    assert abs(s_float[best_i]) >= abs(s_float[best_f]) - 1e-6 * max(
        1.0, abs(s_float[best_f])
    )
    # sign agreement at the integer argmax
    if s_int[best_i] != 0:
        assert (s_int[best_i] > 0) == (s_float[best_i] > -1e-9)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6),
             min_size=1, max_size=40),
)
def test_cusum_enc_packing_decodes_earliest_tied_row(s_scaled):
    """r08 ADVICE: when a +peak and a -peak tie at max |S|, change_day
    and direction must decode from the SAME (earliest) tied row. The
    enc = d*4 + sign+1 packing guarantees it: min(enc) over tied rows
    carries both fields of one row, for ANY tie layout."""
    peak = max(abs(v) for v in s_scaled)
    tied = [(d, v) for d, v in enumerate(s_scaled) if abs(v) == peak]
    enc = min(
        d * 4 + ((v > 0) - (v < 0)) + 1 for d, v in tied
    )
    change_day, direction = enc // 4, enc % 4 - 1
    first_d, first_v = tied[0]
    assert change_day == first_d
    assert direction == ((first_v > 0) - (first_v < 0))


# ---------------------------------------------------------------------------
# Txn-log committer: model-based randomized testing
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append")),
            st.tuples(st.just("rewrite"), st.integers(0, 10**9)),
            st.tuples(st.just("vacuum")),
            st.tuples(st.just("as_of"), st.integers(0, 10**9)),
        ),
        min_size=1,
        max_size=25,
    ),
    interval=st.sampled_from([None, 2, 3, 5]),
)
def test_txn_writer_matches_reference_model(ops, interval):
    """Model-based committer check: random sequences of append /
    rewrite(old→new) / vacuum / time-travel are executed against BOTH
    TxnLogWriter (real files, checkpoints, vacuums) and a trivially-
    correct in-memory model (full action history, last-action-wins
    replayed in plain Python). After every op the live set at HEAD
    must agree; every as_of either agrees or BOTH sides consider that
    history vacuumed. This is the evidence the example-based tests
    can't give — arbitrary interleavings of checkpoint creation,
    rewrite-past-checkpoint, and vacuum all land on the same truth."""
    import shutil
    import tempfile

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = tempfile.mkdtemp(prefix="txnmodel_")
    try:
        w = TxnLogWriter(root, checkpoint_interval=interval)
        history: list[tuple[int, str, str]] = []  # (version, action, file)
        vacuumed_below: int = -1  # highest ckpt a vacuum ran against
        counter = 0

        def model_live(hi: int) -> list[str]:
            last: dict[str, tuple[int, int]] = {}
            for v, action, f in history:
                if v > hi:
                    continue
                stt = (v, 1 if action == "remove" else 0)
                if f not in last or stt > last[f]:
                    last[f] = stt
            return sorted(f for f, (_v, r) in last.items() if r == 0)

        for op in ops:
            if op[0] == "append":
                name = f"f{counter}"
                counter += 1
                os.makedirs(os.path.join(root, name), exist_ok=True)
                v = w.begin().add(name).commit()
                history.append((v, "add", name))
            elif op[0] == "rewrite":
                live = model_live(10**9)
                if not live:
                    continue
                old = live[op[1] % len(live)]
                name = f"f{counter}"
                counter += 1
                os.makedirs(os.path.join(root, name), exist_ok=True)
                v = w.begin().remove(old).add(name).commit()
                history.append((v, "remove", old))
                history.append((v, "add", name))
            elif op[0] == "vacuum":
                if w._checkpoint_version() is None:
                    continue
                vacuumed_below = max(vacuumed_below, w._checkpoint_version())
                w.vacuum()
            else:  # as_of
                head = w.latest_version()
                if head < 0:
                    continue
                v = op[1] % (head + 1)
                ckpt = w._checkpoint_version()
                vs = w._commit_versions()
                # a sub-checkpoint replay starts from commit 0; the
                # writer refuses EXACTLY when commit 0 was pruned —
                # key the expectation on that precise condition, not
                # on "some vacuum ever ran" (which would silently
                # tolerate spurious refusals of intact history)
                history_gone = (
                    ckpt is not None
                    and v < ckpt
                    and (not vs or vs[0] != 0)
                )
                if history_gone:
                    try:
                        w.live_files(as_of=v)
                        raise AssertionError(
                            "expected a vacuumed-history refusal"
                        )
                    except ValueError:
                        pass  # refusal is the documented contract
                else:
                    assert w.live_files(as_of=v) == model_live(v)
            # invariant after every op: HEAD agrees with the model
            assert w.live_files() == model_live(10**9)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Change data feed: apply-changes invariant (model-based)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(1, 5)),
            st.tuples(st.just("cow_delete"), st.integers(0, 10**9)),
            st.tuples(st.just("optimize"), st.integers(0, 10**9)),
            st.tuples(st.just("update"), st.integers(0, 10**9)),
            st.tuples(st.just("dv"), st.integers(0, 10**9)),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_cdf_apply_changes_reproduces_snapshots(ops):
    """THE change-data-feed invariant, over random engine-written logs:
    for any version range, applying the emitted feed (inserts /
    deletes / update image pairs; dataChange=false rewrites silent) to
    the older snapshot must reproduce the newer snapshot EXACTLY.
    Random sequences of append / copy-on-write delete / OPTIMIZE /
    MERGE-style update / DV-attach run through the REAL committer
    (txn_writer) onto real parquet, the REAL reader derivation
    (formats._txn_stream_commit_rows mode='cdf') emits the changes,
    and a trivially-correct in-memory model supplies the ground-truth
    snapshots. Files carrying a DV are never chosen for rewrite ops
    (matching the entry fixtures: engines apply-and-drop DVs when
    rewriting, a semantics the mini protocol does not model)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from user_feed_cdc_spark.sources.formats import _txn_stream_commit_rows
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    root = tempfile.mkdtemp(prefix="cdfprop_")
    try:
        w = TxnLogWriter(root)

        def make_row(i: int, bump: float = 0.0) -> tuple:
            return (
                i,
                1_700_000_000_000_000 + i * 1_000_000,
                i % 7,
                f"t{i % 3}",
                i * 0.5 + bump,
                f"p{i}",
            )

        def write_file(name: str, rows: list[tuple]) -> None:
            cols = list(zip(*rows))
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(cols[0], pa.int64()),
                        "ts": pa.array(cols[1], pa.timestamp("us")),
                        "user_id": pa.array(cols[2], pa.int64()),
                        "event_type": pa.array(cols[3], pa.string()),
                        "value": pa.array(cols[4], pa.float64()),
                        "props": pa.array(cols[5], pa.string()),
                    }
                ),
                os.path.join(root, name),
            )

        files: dict[str, list[tuple]] = {}  # live file -> rows (model)
        dv_ids: dict[str, set] = {}         # live file -> deleted ids
        next_id, next_file = 0, 0
        snapshots: list[dict] = []          # version -> {id: row}

        def snap() -> dict:
            return {
                r[0]: r
                for f, rows in files.items()
                for r in rows
                if r[0] not in dv_ids.get(f, set())
            }

        for kind, seed in ops:
            if kind == "append":
                rows = [make_row(next_id + j) for j in range(seed)]
                next_id += seed
                name = f"f{next_file}"
                next_file += 1
                write_file(name, rows)
                w.begin().add(name).commit()
                files[name] = rows
            elif kind in ("cow_delete", "update"):
                cands = [
                    f
                    for f, rows in sorted(files.items())
                    if rows and f not in dv_ids
                ]
                if not cands:
                    continue
                f = cands[seed % len(cands)]
                rows = files[f]
                picked = [r for i, r in enumerate(rows) if i % 2 == seed % 2]
                if kind == "cow_delete":
                    kept = [r for r in rows if r not in picked]
                    name = f"f{next_file}"
                    next_file += 1
                    if kept:
                        write_file(name, kept)
                        txn = w.begin().remove(f).add(name)
                    else:
                        txn = w.begin().remove(f)
                    txn.commit()
                    del files[f]
                    if kept:
                        files[name] = kept
                else:
                    new_rows = [
                        make_row(r[0], bump=1.0) if r in picked else r
                        for r in rows
                    ]
                    name = f"f{next_file}"
                    next_file += 1
                    write_file(name, new_rows)
                    w.begin().remove(f).add(name).commit()
                    del files[f]
                    files[name] = new_rows
            elif kind == "optimize":
                cands = [
                    f for f in sorted(files) if f not in dv_ids
                ]
                if len(cands) < 2:
                    continue
                a = cands[seed % len(cands)]
                b = cands[(seed + 1) % len(cands)]
                merged = files[a] + files[b]
                name = f"f{next_file}"
                next_file += 1
                txn = w.begin().remove(a, data_change=False).remove(
                    b, data_change=False
                )
                if merged:
                    write_file(name, merged)
                    txn.add(name, data_change=False)
                txn.commit()
                del files[a], files[b]
                if merged:
                    files[name] = merged
            else:  # dv: cumulative per-file deletion vector
                cands = [
                    f
                    for f, rows in sorted(files.items())
                    if any(
                        r[0] not in dv_ids.get(f, set()) for r in rows
                    )
                ]
                if not cands:
                    continue
                f = cands[seed % len(cands)]
                visible = [
                    r[0]
                    for r in files[f]
                    if r[0] not in dv_ids.get(f, set())
                ]
                newly = visible[:: (seed % 2) + 1][:3]
                ids = sorted(dv_ids.get(f, set()) | set(newly))
                dv_name = f"dv{next_file}"
                next_file += 1
                pq.write_table(
                    pa.table({"event_id": pa.array(ids, pa.int64())}),
                    os.path.join(root, dv_name),
                )
                w.begin().set_dv(f, dv_name).commit()
                dv_ids[f] = set(ids)
            snapshots.append(snap())

        head = w.latest_version()
        assert head == len(snapshots) - 1
        if head < 0:
            return  # every op was skipped: nothing committed to check
        for lo in {0, head // 2, head}:
            state = dict(snapshots[lo])
            for v in range(lo + 1, head + 1):
                for ch in _txn_stream_commit_rows(
                    root, v, mode="cdf"
                ):
                    ctype, row = ch[0], ch[2:]
                    if ctype == "insert":
                        assert row[0] not in state
                        state[row[0]] = row
                    elif ctype == "delete":
                        assert state.pop(row[0], None) == row
                    elif ctype == "update_preimage":
                        assert state[row[0]] == row
                    else:
                        assert ctype == "update_postimage"
                        state[row[0]] = row
            assert state == snapshots[head], f"lo={lo}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.none(),
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
            ),
            st.text(max_size=40),
            st.floats(allow_nan=False),
            st.one_of(st.none(), st.booleans()),
            st.binary(max_size=64),
        ),
        max_size=200,
    ),
    st.sampled_from(["null", "deflate"]),
)
@settings(max_examples=40, deadline=None)
def test_avro_container_round_trip_any_rows(rows, codec):
    """Avro Object Container round trip over arbitrary primitive rows
    (nullable long, string incl. astral unicode, double incl. ±0.0
    and subnormals, nullable boolean, bytes) under both codecs: every
    row survives bit-exactly, including the empty file. Doubles
    compare by bit pattern so -0.0 vs 0.0 can't hide."""
    import os
    import struct
    import tempfile

    from user_feed_cdc_spark.sources import avro_io as av

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": ["null", "long"]},
            {"name": "b", "type": "string"},
            {"name": "c", "type": "double"},
            {"name": "d", "type": ["null", "boolean"]},
            {"name": "e", "type": "bytes"},
        ],
    }
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        n = av.write_container(p, schema, iter(rows), codec=codec,
                               block_rows=7)
        assert n == len(rows)
        _, got = av.read_container(open(p, "rb").read())
    assert len(got) == len(rows)
    for (a, b, c, dd, e), (ga, gb, gc, gd, ge) in zip(rows, got):
        assert ga == a and gb == b and gd == dd and ge == e
        assert struct.pack("<d", c) == struct.pack("<d", gc)


@given(st.text(min_size=33, max_size=200), st.text(max_size=160))
@settings(max_examples=200, deadline=None)
def test_truncated_upper_bound_is_a_true_bound(s, ext):
    """_truncated_upper_bound(s, 32) must sort ABOVE every string that
    shares s's 32-char prefix — in particular above s itself and above
    any extension of the prefix (the property a plain prefix VIOLATES,
    which is the pruning bug the helper exists to prevent). The plain
    prefix must conversely sort <= s (valid lower bound)."""
    from user_feed_cdc_spark.sources.formats import (
        _truncated_upper_bound,
    )

    ub = _truncated_upper_bound(s, 32)
    assert s[:32] <= s  # prefix is a valid LOWER bound
    if ub is None:
        # every prefix char at the codepoint ceiling — legal refusal
        assert all(ord(c) >= 0x10FFFF for c in s[:32])
        return
    assert ub > s, (ub, s)
    assert ub > s[:32] + ext
    ub.encode("utf-8")  # never a lone surrogate (r15 review)


def test_truncated_upper_bound_surrogate_gap():
    """Incrementing U+D7FF must skip the UTF-16 surrogate gap: the
    bound stays strict AND UTF-8-encodable."""
    from user_feed_cdc_spark.sources.formats import (
        _truncated_upper_bound,
    )

    s = "a" * 31 + "퟿" + "tail"
    ub = _truncated_upper_bound(s, 32)
    assert ub == "a" * 31 + ""
    assert ub > s
    ub.encode("utf-8")
