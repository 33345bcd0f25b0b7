"""Property-based tests (hypothesis) for the load-bearing invariants
(SURVEY.md §1.5, §5.2 item 3) — randomized batch sizes, wall clocks,
cursor rewinds, and filter sets."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.sequencer import sequence_events
from jetstream_spark.atproto.subscribe import Subscription
from tests.fixtures import make_frames

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@pytest.fixture(scope="module")
def normalized(spark):
    frames = spark.createDataFrame(make_frames(25), schema=RAW_FRAME_SCHEMA)
    return normalize_frames(frames).cache()


@SLOW
@given(
    last=st.integers(min_value=0, max_value=10**15),
    wall=st.integers(min_value=1, max_value=10**15),
)
def test_sequencer_monotonic_for_any_state(normalized, last, wall):
    """Strict monotonicity and continuity hold for ANY prior state and wall
    clock, including a wall clock far behind the persisted state
    (clock.go:51-53's bump rule generalized)."""
    seq, new_last, _ = sequence_events(normalized, last_time_us=last, wall_clock_us=wall)
    times = sorted(seq["time_us"].to_pylist())
    assert times[0] > last, "must start above prior state"
    assert times[0] >= wall or times[0] == last + 1
    assert all(b == a + 1 for a, b in zip(times, times[1:])), "dense, strictly increasing"
    assert new_last == times[-1]


@SLOW
@given(
    batch_limits=st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=6),
    rewind=st.integers(min_value=0, max_value=50),
)
def test_replay_rounds_never_dup_never_gap(spark, tmp_path_factory, normalized, batch_limits, rewind):
    """S18: whatever the per-round batch limits and however far the cursor
    is rewound between rounds, delivery is exactly-once in order."""
    log_dir = str(tmp_path_factory.mktemp("proplog"))
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)
    sub = Subscription(cursor=0)
    delivered: list[int] = []
    i = 0
    while True:
        limit = batch_limits[i % len(batch_limits)]
        i += 1
        batch = sub.replay_batch(spark, log_dir).limit(limit).collect()
        if not batch:
            break
        delivered.extend(r["time_us"] for r in batch)
        sub.advance(batch[-1]["time_us"])
        sub.cursor = max(0, sub.cursor - rewind)  # adversarial rewind
        if i > 200:
            pytest.fail("replay did not converge")
    full = [r["time_us"] for r in eventlog.replay(spark, log_dir).collect()]
    assert delivered == full


@SLOW
@given(collections=st.sets(st.sampled_from(
    ["app.bsky.feed.post", "app.bsky.feed.like", "app.bsky.graph.follow"]), max_size=3))
def test_filter_partition_property(spark, tmp_path_factory, normalized, collections):
    """For any wanted-collections set: commit events split exactly into
    (matching ∪ non-matching), acc/id events always delivered
    (server.go:119-129 semantics; empty set = match-all)."""
    log_dir = str(tmp_path_factory.mktemp("filtlog"))
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)
    everything = eventlog.replay(spark, log_dir).collect()
    got = eventlog.replay(
        spark, log_dir, wanted_collections=sorted(collections) or None
    ).collect()
    if not collections:
        assert len(got) == len(everything)
        return
    expected = [
        r
        for r in everything
        if r["type"] != "com" or r["commit"]["collection"] in collections
    ]
    assert [r["time_us"] for r in got] == [r["time_us"] for r in expected]


# --- DAG-CBOR codec round-trip (S5/S8 building block) ---------------------------
_cbor_scalars = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.text(max_size=40),
    st.binary(max_size=40),
    st.booleans(),
    st.none(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
_cbor_values = st.recursive(
    _cbor_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=10), children, max_size=6),
    ),
    max_leaves=25,
)


@settings(max_examples=300, deadline=None)
@given(value=_cbor_values)
def test_cbor_roundtrip_property(value):
    """encode∘decode is the identity for every DAG-CBOR-representable
    value (ints, text, bytes, bools, null, finite doubles, nested
    lists/string-keyed maps)."""
    from jetstream_spark.atproto.carcbor import cbor_decode, cbor_encode

    assert cbor_decode(cbor_encode(value)) == value


@settings(max_examples=100, deadline=None)
@given(blocks=st.lists(st.binary(min_size=1, max_size=200), min_size=1, max_size=8))
def test_car_roundtrip_property(blocks):
    """Every block written to a CAR comes back under its computed CID."""
    from jetstream_spark.atproto.carcbor import cid_for_block, cid_str, decode_car, encode_car

    _, index = decode_car(encode_car(blocks))
    # duplicate blocks share a CID — compare as sets of contents
    assert {cid_str(cid_for_block(b)) for b in blocks} == set(index)
    for b in blocks:
        assert index[cid_str(cid_for_block(b))] == b


# --- fuzzy-join blocking bound (pure math, no Spark) --------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcd ", min_size=0, max_size=16),
    st.text(alphabet="abcd ", min_size=0, max_size=16),
)
def test_fuzzy_blocking_bound_is_lossless(a: str, b: str):
    """The theorem q_fuzzy_join_names relies on: any pair within edit
    distance D=2 either (a) has a short side (< 9 chars, caught by the
    length-band block) or (b) shares at least one 3-gram (caught by the
    q-gram block). A tiny alphabet maximizes tricky collisions."""
    from jetstream_spark.queries.profiling import FUZZY_D, _FUZZY_LONG, _FUZZY_Q

    if _lev(a, b) > FUZZY_D:
        return
    if min(len(a), len(b)) < _FUZZY_LONG:
        return  # short band catches it
    grams = lambda s: {s[i : i + _FUZZY_Q] for i in range(len(s) - _FUZZY_Q + 1)}
    assert grams(a) & grams(b), (a, b)


# --- strict-funnel fold: batch-split invariance --------------------------------
def _fold_with_state(rows, stage, last, steps):
    """The streaming kernel's per-batch walk (funnel_stream._funnel_fn's
    inner loop), reimplemented independently for the property."""
    for ts, et in sorted(rows):
        if stage < len(steps) and et == steps[stage] and ts > last:
            stage, last = stage + 1, ts
    return stage, last


@settings(max_examples=150, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),  # ts (collisions likely)
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        max_size=30,
    ),
    cut=st.data(),
)
def test_funnel_fold_invariant_under_batch_splits(events, cut):
    """Splitting ONE user's time-ordered event stream at ANY set of batch
    boundaries and folding with carried (stage, last_ts) state must land on
    the same stage as folding the whole ordered sequence at once — the
    exact property the streaming monitor's cross-batch state relies on
    (ties at a boundary included: the strict ts > last guard must behave
    identically whether the tying event is in the same batch or the next).
    """
    from jetstream_spark.queries.eventlog import _FUNNEL_STEPS

    ordered = sorted(events)
    whole_stage, _ = _fold_with_state(ordered, 0, -1, _FUNNEL_STEPS)

    n_cuts = cut.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        cut.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(ordered)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    bounds = [0, *cuts, len(ordered)]
    stage, last = 0, -1
    for lo, hi in zip(bounds, bounds[1:]):
        stage, last = _fold_with_state(ordered[lo:hi], stage, last, _FUNNEL_STEPS)
    assert stage == whole_stage
