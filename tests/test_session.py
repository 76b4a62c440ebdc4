"""Session factory behaviour (rify_spark/session.py)."""

import pytest


def test_warmup_failure_is_reported(spark, monkeypatch):
    from rify_spark import api, session

    def broken(*args, **kwargs):
        raise RuntimeError("no warm-up today")

    monkeypatch.delenv("RIFY_SESSION_WARMUP", raising=False)
    monkeypatch.setattr(api, "infer_df", broken)
    with pytest.warns(RuntimeWarning, match="RuntimeError: no warm-up today"):
        session._warm_session(spark.newSession())
