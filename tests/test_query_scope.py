"""``session.query_scope`` / ``session.pin``: the one owner of intra-query
persists, checkpoints and broadcasts."""

from __future__ import annotations

import threading

import pytest

from real_time_crypto_market_data_pipeline_spark.session import pin, query_scope


class _Frame:
    """Stands in for a DataFrame: ``pin`` persists it, the scope releases it."""

    def __init__(self, fail: bool = False):
        self.fail, self.released = fail, False

    def persist(self):
        return self

    def unpersist(self):
        if self.fail:
            raise RuntimeError("release failed")
        self.released = True


def test_query_scope_owns_exactly_its_pins(spark):
    # nested scopes release only their own registrations
    outer, inner = _Frame(), _Frame()
    with query_scope():
        pin(outer)
        with query_scope():
            pin(inner)
        assert inner.released and not outer.released
    assert outer.released

    # release on exception; a failing release never masks the body's error
    ok, bad = _Frame(), _Frame(fail=True)
    with pytest.raises(KeyError, match="body"):
        with query_scope():
            pin(ok)
            pin(bad)
            raise KeyError("body")
    assert ok.released
    with pytest.raises(RuntimeError, match="release failed"):  # clean body: surfaced
        with query_scope():
            pin(_Frame(fail=True))

    # no scope: the pin materializes, stays usable and registers nowhere
    loose = pin(_Frame())
    ckpt = pin(spark.range(5), "checkpoint")
    with query_scope():
        pass
    assert not loose.released and ckpt.count() == 5

    # a pin made on a second thread does not land in this thread's scope
    mine, theirs = _Frame(), _Frame()
    with query_scope():
        pin(mine)
        t = threading.Thread(target=pin, args=(theirs,))
        t.start()
        t.join(timeout=30)
        assert not t.is_alive()
    assert mine.released and not theirs.released
