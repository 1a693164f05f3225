"""Property-based check of the WirePublisher loop, the produce-side twin of
test_tailer_properties.py: any interleaving of {source commit, publish tick,
crash just before or just after a window's rename} must leave the wire feed

- CONTIGUOUS: the published window dirs chain (0, v1], (v1, v2], ... up to
  the cursor, no gaps and no overlaps (a gap silently loses changes to
  every consumer; an overlap double-delivers),
- WRITE-ONCE: one dir per consumed window, never rewritten (a rewrite
  rotates part-file names and double-delivers to path-keyed consumers),
- and REPLAYABLE: decoding every published record (reference wire layout:
  LE-uint32 key + JSON envelope) and merging them into a fresh table
  reconstructs the source snapshot exactly.

The publisher shares the tailer's window loop; this generates the crash
interleavings for the half the tailer property test cannot reach (path
idempotence instead of epoch idempotence: the newest renamed window dir is
the publisher's position)."""

from __future__ import annotations

import os
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.streaming.pipeline import decode_kafka_records
from go_data_publisher_spark.streaming.tailer import WirePublisher

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)

KEYS = [(f"c{i}", t) for i in range(3) for t in range(2)]

_row = st.tuples(st.sampled_from(KEYS), st.sampled_from(["I", "U", "D"]))

ACTIONS = st.lists(
    st.one_of(
        st.tuples(st.just("commit"), st.lists(_row, min_size=1, max_size=4)),
        st.tuples(st.just("tick"), st.none()),
        st.tuples(st.just("crash"), st.sampled_from(["before", "after"])),
    ),
    min_size=3, max_size=7,
)


def crashing_rename(when):
    """os.rename that raises just ``before`` or just ``after`` the window
    rename — the publisher's one commit point: before it, the retry must
    publish the (possibly grown) window whole; after it, the retry must
    find the window consumed and NOT re-emit it."""
    real = os.rename

    def rename(src, dst):
        if when == "before":
            raise RuntimeError("injected crash before the window rename")
        real(src, dst)
        raise RuntimeError("injected crash after the window rename")

    return mock.patch("os.rename", rename)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(actions=ACTIONS)
def test_published_feed_is_contiguous_write_once_and_replayable(
        spark, tmp_path_factory, actions):
    root = str(tmp_path_factory.mktemp("pprop"))
    src = TranscriptTable(spark, f"{root}/src", n_buckets=2)
    app = ChangeApplier(src)
    wire_dir = f"{root}/wire"
    pub = WirePublisher(src, wire_dir, f"{root}/cursor.json")

    model: dict[tuple, tuple] = {}
    lsn = 0
    epoch = 0
    # part files seen per window dir: a later sighting must be identical
    # (write-once), not a rewrite
    seen_parts: dict[str, list[str]] = {}

    def observe_windows():
        try:
            names = sorted(n for n in os.listdir(wire_dir)
                           if n.startswith("window-"))
        except FileNotFoundError:
            return
        for n in names:
            parts = sorted(p for p in os.listdir(f"{wire_dir}/{n}")
                           if p.startswith("part-"))
            if n in seen_parts:
                assert seen_parts[n] == parts, f"window {n} was rewritten"
            else:
                seen_parts[n] = parts

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
            app.apply_batch(spark.createDataFrame(rows, SCHEMA),
                            epoch_id=epoch)
            epoch += 1
        elif kind == "tick":
            pub.tick()
        else:
            with crashing_rename(payload):
                try:
                    pub.tick()
                except RuntimeError as exc:
                    assert "injected crash" in str(exc)
        observe_windows()

    # quiescence: drain everything still unpublished
    out = pub.run_until_caught_up()
    assert out["caught_up"]
    observe_windows()

    # contiguity: the window dirs chain from version 0 to the cursor with
    # no gaps and no overlaps
    bounds = [(int(n.split("-")[1]), int(n.split("-")[2]))
              for n in sorted(seen_parts)]
    for (_, prev_to), (nxt_from, _) in zip(bounds, bounds[1:]):
        assert nxt_from == prev_to, f"feed gap/overlap at {prev_to}"
    if bounds:
        assert bounds[0][0] == 0
        assert bounds[-1][1] == int(src.manifest()["version"])
    assert not os.path.exists(f"{root}/cursor.json")  # never written

    # replayability: decode every published record and merge the lot into a
    # fresh table — the wire feed alone reconstructs the source state
    want = sorted((c, t, l, x) for (c, t), (l, x) in model.items())
    if not bounds:
        assert want == []
        return
    decoded = decode_kafka_records(
        spark.read.option("recursiveFileLookup", "true").parquet(wire_dir)
    ).drop("__key_tick")
    tgt = TranscriptTable(spark, f"{root}/tgt", n_buckets=2)
    ChangeApplier(tgt).apply_batch(decoded, epoch_id=0)

    def snap(t):
        return sorted(map(tuple, t.snapshot().select(
            "conv_id", "turn_idx", "lsn", "text").collect()))

    assert snap(src) == want
    assert snap(tgt) == want
