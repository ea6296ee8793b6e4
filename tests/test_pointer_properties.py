"""Property net for the pointer-flip publish plane (round 11).

The lake's conflict tier earned its robustness from Hypothesis
op-sequence models (they found the CDF tombstone bug and the
duplicate-key model bug); the pointer plane — watermark advances,
ledger merges/mark_done, crash-orphan reclaim — had only pointwise
tests. This net drives random op sequences against dict models of
both artifacts, checking the FULL observable state after EVERY op
(any drift localizes to the op shape that introduced it), across
five store legs: POSIX, the in-memory object-store stand-in, a
lost-ACK injector firing on every second put (so sequences mix
clean ACKs with landed-but-conflicted ones — the writer-token
read-back must absorb exactly the lost ones and never a real loss),
the S3 fake (records), and ``s3-full`` (round 12: records AND
payload dirs both through the fake bucket's client API).
"""

from __future__ import annotations

import os
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# op-sequence property net over the whole pointer plane: a soak
# tool meant for repeated opt-in runs after ledger/watermark/
# log_store edits (fresh examples each run), not the default gate
pytestmark = pytest.mark.soak

from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
from jde_to_datalake_spark.sources.incremental import Watermark
from jde_to_datalake_spark.sources.log_store import (
    InMemoryLogStore,
    LostAckStore,
    PosixLogStore,
    S3ObjectLogStore,
)
from tests.test_log_store import FakeS3Client
from tests.test_pointer_publish import _PutHook

# CI default 5 examples/leg; POINTER_PROP_EXAMPLES=N soaks at depth
# (round-12 soak sessions are recorded in NOTES.md)
HS = settings(
    max_examples=int(os.environ.get("POINTER_PROP_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_LEGS = ["posix", "memory", "lost-ack", "s3", "s3-full"]

_S3_BUCKETS: dict = {}  # (leg, root) -> shared FakeS3Client (one "bucket")


def _client_for(leg, root):
    return _S3_BUCKETS.setdefault(
        (leg, root),
        FakeS3Client(backing="/" if leg == "s3-full" else None),
    )


def _make_store(leg, root):
    if leg == "memory":
        return InMemoryLogStore(root)
    if leg == "lost-ack":
        # fire on every second put: sequences interleave clean ACKs
        # with landed-but-conflicted ones
        return LostAckStore(InMemoryLogStore(root), fire_every=2)
    if leg in ("s3", "s3-full"):
        s = S3ObjectLogStore("bkt", root, _client_for(leg, root))
        s.RETRY_SLEEP = 0
        return s
    return PosixLogStore(root)


def _make_payloads(leg, root):
    """s3-full: the payload plane rides the SAME backed fake bucket
    as the records — listing/retention/reaping/footers through the
    client API, bytes through the local backing path Spark writes."""
    if leg != "s3-full":
        return None  # artifact default: PosixPayloadStore
    from jde_to_datalake_spark.sources.log_store import S3PayloadStore

    s = S3PayloadStore("bkt", root, _client_for(leg, root), uri_base=root)
    s.RETRY_SLEEP = 0
    return s


_LEDGER_OPS = st.one_of(
    st.tuples(
        st.just("merge"),
        st.lists(
            st.tuples(st.integers(0, 9), st.sampled_from(["pending", "sent"])),
            min_size=1,
            max_size=3,
            unique_by=lambda r: r[0],
        ),
    ),
    st.tuples(
        st.just("mark_done"),
        st.lists(st.integers(0, 9), min_size=1, max_size=3, unique=True),
    ),
    st.tuples(
        st.just("advance"),
        st.lists(st.integers(0, 50), min_size=1, max_size=3),
    ),
    st.tuples(st.just("crash_reclaim"), st.just(None)),
)

_SEQ = st.lists(_LEDGER_OPS, min_size=2, max_size=6)


def _ledger_state(spark, led):
    df = led.load(spark)
    if df is None:
        return {}
    return {r["k"]: r["status"] for r in df.collect()}


def _crash(version, record):
    raise RuntimeError("injected crash before publish")


def _ledger(leg, root):
    return IdempotencyLedger(
        root,
        key="k",
        store=_make_store(leg, root),
        payload_store=_make_payloads(leg, root),
    )


@pytest.mark.parametrize("leg", _LEGS)
@given(ops=_SEQ)
@HS
def test_pointer_plane_matches_dict_model(spark, tmp_path_factory, leg, ops):
    tmp = tmp_path_factory.mktemp(f"ptrprop-{leg}")
    lroot, wroot = str(tmp / "led"), str(tmp / "wm")
    led = _ledger(leg, lroot)
    wm = Watermark(
        wroot,
        store=_make_store(leg, wroot),
        payload_store=_make_payloads(leg, wroot),
    )
    model: dict = {}
    model_wm = None
    for op, arg in ops:
        if op == "merge":
            led.merge(
                spark,
                spark.createDataFrame(arg, "k bigint, status string"),
            )
            for k, status in arg:
                model[k] = status
        elif op == "mark_done":
            led.mark_done(
                spark, spark.createDataFrame([(k,) for k in arg], "k bigint")
            )
            for k in arg:
                model[k] = "done"
        elif op == "advance":
            batch = spark.createDataFrame(
                [(1, v) for v in arg], "id bigint, ts bigint"
            )
            got = wm.advance(spark, batch, "ts")
            if model_wm is None or max(arg) > model_wm:
                model_wm = max(arg)
            assert got == model_wm  # advance returns the in-effect value
        else:  # crash_reclaim: a writer died pre-publish, then the sweep
            # the watermark's orphan: a payload dir no flip published
            orphan = os.path.join(wroot, "data-crashed")
            os.makedirs(orphan, exist_ok=True)
            open(os.path.join(orphan, "part-0.parquet"), "w").close()
            old = time.time() - 7200
            os.utime(os.path.join(orphan, "part-0.parquet"), (old, old))
            os.utime(orphan, (old, old))
            wm.clean_stale()  # default 1 h retention
            assert not os.path.exists(orphan)
            # the ledger's orphan: a merge's staged files no commit
            # references, reclaimed by the table's retention-gated vacuum
            vt = led._vt
            before = set(vt.data.parquet_mtimes())
            vt.log = _PutHook(vt.log, _crash)  # dies at the commit put
            with pytest.raises(RuntimeError, match="injected crash"):
                led.merge(
                    spark,
                    spark.createDataFrame([(99, "lost")], "k bigint, status string"),
                )
            vt.log = vt.log.inner
            orphans = set(vt.data.parquet_mtimes()) - before
            assert orphans
            for f in orphans:
                os.utime(os.path.join(lroot, led.VERSIONED_DIR, f), (old, old))
            removed = vt.vacuum(keep_last=max(1, len(vt.versions())))
            assert orphans <= set(removed)
            assert not set(vt.data.parquet_mtimes()) & orphans
        # the FULL observable state must match the models every step
        assert _ledger_state(spark, led) == model
        assert wm.get(spark) == model_wm
    # a fresh handle (separate store instance) resolves the same state
    assert _ledger_state(spark, _ledger(leg, lroot)) == model
    assert Watermark(
        wroot,
        store=_make_store(leg, wroot),
        payload_store=_make_payloads(leg, wroot),
    ).get(spark) == model_wm
    # the maintenance sweep never disturbs live state
    led.clean_stale(retention_seconds=0)
    wm.clean_stale(retention_seconds=0)
    assert _ledger_state(spark, led) == model
    assert wm.get(spark) == model_wm
    if leg in ("memory", "lost-ack"):
        InMemoryLogStore.reset()
    elif leg in ("s3", "s3-full"):
        _S3_BUCKETS.clear()


# -- deterministic regression pins (shapes the net found interesting) -----


def test_mark_done_inserts_unseen_keys(spark, tmp_path):
    """Pin: mark_done on a key the ledger has never seen INSERTS it as
    done (merge semantics)."""
    led = IdempotencyLedger(str(tmp_path / "led"), key="k")
    led.merge(
        spark,
        spark.createDataFrame([(1, "pending")], "k bigint, status string"),
    )
    led.mark_done(spark, spark.createDataFrame([(9,)], "k bigint"))
    assert _ledger_state(spark, led) == {1: "pending", 9: "done"}
