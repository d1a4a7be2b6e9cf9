"""The library's sessions run with PySpark's DataFrame call-site capture off
(``session.SESSION_CONF``): no wrapped PySpark call walks the Python stack,
imports IPython or makes the origin round trips over py4j."""

import sys

import pyspark.errors.utils as perr

KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_conf_turns_capture_off(spark):
    assert spark.conf.get(KEY) == "false"


def test_facade_ops_capture_no_call_site(facade, monkeypatch):
    had_ipython = "IPython" in sys.modules
    calls = []
    capture = perr._capture_call_site

    def counted(depth):
        calls.append(depth)
        return capture(depth)

    monkeypatch.setattr(perr, "_capture_call_site", counted)
    # PySpark caches the setting for the process on the first wrapped call;
    # forget it, so the conftest session's setting is what this test reads
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)
    facade.index_text("default", "0", "mary had a little lamb")
    facade.index_text("default", "1", "mary had a little dog")
    facade.commit()
    assert [e.external_id for e in facade.search("default", "lamb")] == ["0"]
    facade.index_text("default", "2", "a lamb again")
    facade.delete("default", "1")
    facade.commit()
    assert sorted(e.external_id for e in facade.search("default", "lamb")) \
        == ["0", "2"]
    assert calls == []
    assert had_ipython or "IPython" not in sys.modules
