"""Stateful streaming: first-seen dedup state survives micro-batches AND
stream restarts (checkpointed state)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nilinker_spark.functions.normalize import norm_form
from nilinker_spark.streaming.extract_stream import drain, read_webtext_stream, stream_mentions
from nilinker_spark.streaming.stateful import first_seen_forms


def _drain(spark, in_path, out_path, ckpt, gazetteer):
    stream = read_webtext_stream(spark, in_path, max_files=2)
    drain(first_seen_forms(stream_mentions(spark, stream, gazetteer)), out_path, ckpt)
    return spark.read.parquet(out_path)


def test_first_seen_across_batches_and_restarts(spark, kb, webtext_df, tmp_path_factory):
    gz = {norm_form(s) for s, _, _ in kb.surface_forms}
    in_path = str(tmp_path_factory.mktemp("sf_in"))
    out_path = str(tmp_path_factory.mktemp("sf_out")) + "/p"
    ckpt = str(tmp_path_factory.mktemp("sf_ckpt"))

    # batch 1: many files -> many micro-batches (maxFilesPerTrigger=2)
    webtext_df.limit(200).repartition(6).write.mode("overwrite").parquet(in_path)
    out1 = _drain(spark, in_path, out_path, ckpt, gz)
    n1 = out1.count()
    # one row per distinct norm, regardless of how many batches saw it
    assert n1 == out1.select("norm").distinct().count()

    # restart with additional files: only genuinely-new forms are emitted
    from nilinker_spark.operators.extract import extract_mentions_df

    more = webtext_df.exceptAll(webtext_df.limit(200))
    more.repartition(4).write.mode("append").parquet(in_path)
    out2 = _drain(spark, in_path, out_path, ckpt, gz)
    n2 = out2.count()
    assert n2 == out2.select("norm").distinct().count(), "state lost across restart"

    # total distinct forms must match the batch pipeline's
    all_forms = (
        extract_mentions_df(spark, spark.read.parquet(in_path), gz)
        .select("norm")
        .distinct()
        .count()
    )
    assert n2 == all_forms
    assert n2 >= n1


class _FakeState:
    """Minimal GroupState double for unit-testing the handler logic."""

    def __init__(self, exists=False, timed_out=False):
        self._exists = exists
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def exists(self):
        return self._exists

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v
        self._exists = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _batch(mids_urls):
    import pandas as pd

    return iter([pd.DataFrame({"mention_id": [m for m, _ in mids_urls], "url": [u for _, u in mids_urls]})])


def test_ttl_handler_semantics():
    """The TTL policy: timeout -> state forgotten (next sighting re-emits);
    every sighting re-arms the clock; no-TTL never sets a timeout."""
    from nilinker_spark.streaming.stateful import make_emit_first

    fn = make_emit_first(ttl_ms=60_000)

    # first sighting: emits, arms TTL
    st = _FakeState()
    out = list(fn(("form a",), _batch([("m2", "u2"), ("m1", "u1")]), st))
    assert len(out) == 1 and out[0]["first_mention_id"][0] == "m1"  # min mid
    assert st.updated == (1,) and st.timeout_set == 60_000

    # later sighting while state live: drops, re-arms
    st = _FakeState(exists=True)
    out = list(fn(("form a",), _batch([("m3", "u3")]), st))
    assert out == [] and st.timeout_set == 60_000

    # timeout fired: state removed, nothing emitted
    st = _FakeState(exists=True, timed_out=True)
    out = list(fn(("form a",), _batch([]), st))
    assert out == [] and st.removed

    # after removal a new sighting emits again (fresh state)
    st = _FakeState()
    out = list(fn(("form a",), _batch([("m9", "u9")]), st))
    assert len(out) == 1

    # no-TTL handler never touches the timeout clock
    fn0 = make_emit_first(None)
    st = _FakeState()
    list(fn0(("form a",), _batch([("m1", "u1")]), st))
    assert st.timeout_set is None
