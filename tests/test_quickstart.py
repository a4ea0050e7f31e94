"""Keep examples/quickstart.py honest: run the whole demo in-process.

The quickstart is the executable form of MIGRATION.md — if an API it uses
drifts (shim endpoints, FlushPipeline signature, sink_frame columns,
replay_dlq counts), a migrating user's first contact breaks. Its own
asserts cover the semantics (405/404 paths, redaction, DLQ drain, the
received counters); this test executes main() end to end.
"""

import os
import sys


def test_quickstart_runs_end_to_end(spark, capsys, monkeypatch):
    # syspath_prepend is auto-undone at teardown, and the generically named
    # 'quickstart' module is popped so neither leaks into later tests.
    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
    )
    import quickstart

    try:
        quickstart.main()  # reuses the active SparkSession (get_spark singleton)
    finally:
        sys.modules.pop("quickstart", None)
    out = capsys.readouterr().out
    assert "done." in out
    assert "'replayed': 1" in out
    assert "password=*" in out
    assert '"relap.count.proxyhouse.requests_received": 4' in out
