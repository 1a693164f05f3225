"""Property-based check of the CDC-out tailer loop (r4 verdict #5): any
interleaving of {source commit, compact, vacuum, tick, reseed}, each tick or
reseed possibly crashing just before or just after the target's commit,
must leave the target equal to the source snapshot at quiescence — with
every retention loss surfacing TYPED (ChangefeedRetentionError), never as a
silently incomplete copy.  The r4 reseed bug (a crashed tick's consumed
epoch silently skipping the reseed merge) was found by manual review; this
generates that class of interleaving mechanically, the way
test_manifest_properties.py generates the metadata plane's."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.streaming.tailer import (
    ChangefeedRetentionError,
    ChangefeedTailer,
)

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)

# a tiny key space maximizes overwrite/delete collisions per action
KEYS = [(f"c{i}", t) for i in range(3) for t in range(2)]

_row = st.tuples(st.sampled_from(KEYS), st.sampled_from(["I", "U", "D"]))

ACTIONS = st.lists(
    st.one_of(
        st.tuples(st.just("commit"), st.lists(_row, min_size=1, max_size=4)),
        st.tuples(st.just("tick"), st.none()),
        st.tuples(st.just("crash_tick"), st.sampled_from(["before", "after"])),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        st.tuples(st.just("reseed"), st.sampled_from([None, "before", "after"])),
    ),
    min_size=3, max_size=7,
)


class FlakyTable(TranscriptTable):
    """Crash injection at the tailer's one commit point: the target's next
    manifest commit raises just ``before`` or just ``after`` it is
    written."""

    crash = None

    def _commit(self, *a, **k):
        when, self.crash = self.crash, None
        if when == "before":
            raise RuntimeError("injected crash before the target commit")
        super()._commit(*a, **k)
        if when == "after":
            raise RuntimeError("injected crash after the target commit")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(actions=ACTIONS)
def test_tailer_converges_to_source_under_any_interleaving(
        spark, tmp_path_factory, actions):
    root = str(tmp_path_factory.mktemp("tprop"))
    src = TranscriptTable(spark, f"{root}/src", n_buckets=2)
    app = ChangeApplier(src)
    tgt = FlakyTable(spark, f"{root}/tgt", n_buckets=2)
    tailer = ChangefeedTailer(src, tgt, f"{root}/cursor.json")

    # the trivially-correct replica: ops applied in lsn order (lsn strictly
    # increases across EVERY generated row, so last-wins == sequential)
    model: dict[tuple, tuple] = {}
    lsn = 0
    epoch = 0

    def recover(fn):
        """Run a tailer op; a retention loss must surface TYPED, and its
        prescribed recovery (reseed) must succeed.  Any other exception —
        e.g. the raw RetentionLostError leaking through, or a silent
        partial state — fails the property."""
        try:
            fn()
        except ChangefeedRetentionError:
            tailer.reseed()

    for kind, payload in actions:
        if kind == "commit":
            rows = []
            for (conv, turn), op in payload:
                lsn += 1
                text = None if op == "D" else f"t{lsn}"
                rows.append((lsn, op, conv, turn, "user", text, None, None, 1))
                if op == "D":
                    model.pop((conv, turn), None)
                else:
                    model[(conv, turn)] = (lsn, text)
            app.apply_batch(spark.createDataFrame(rows, SCHEMA), epoch_id=epoch)
            epoch += 1
        elif kind == "tick":
            recover(tailer.tick)
        elif kind == "compact":
            src.compact()
        elif kind == "vacuum":
            src.vacuum(keep_versions=payload, orphan_grace_seconds=0)
        else:  # a tick, or a reseed — legal at any time (target := snapshot)
            tgt.crash = payload
            try:
                recover(tailer.tick if kind == "crash_tick" else tailer.reseed)
            except RuntimeError as exc:
                assert payload and "injected crash" in str(exc)
            tgt.crash = None

    # quiescence: drain, reseeding on any typed retention loss
    for _ in range(4):
        try:
            out = tailer.run_until_caught_up()
            assert out["caught_up"]
            break
        except ChangefeedRetentionError:
            tailer.reseed()
    else:
        raise AssertionError("drain never converged past retention losses")

    def snap(t):
        return sorted(map(tuple, t.snapshot().select(
            "conv_id", "turn_idx", "lsn", "text").collect()))

    want = sorted((c, t, l, x) for (c, t), (l, x) in model.items())
    assert snap(src) == want          # the source itself matches the model
    assert snap(tgt) == want          # and the CDC-out copy converged to it
