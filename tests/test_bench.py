"""bench.py reports a failed cell as a failed run: the block it sits in
prints a null total and the process exits non-zero."""

from __future__ import annotations

import json
import os

import bench


class _NoSession:
    """Stands in for the session; bench.main only sets the log level
    and stops it (the warm-up's failures are swallowed by design)."""

    class sparkContext:  # noqa: N801
        @staticmethod
        def setLogLevel(level):  # noqa: N802
            pass

    def stop(self):
        pass


def test_failed_cell_nulls_its_total_and_exits_nonzero(monkeypatch, capsys):
    def _ok(spark, sf_dir):
        return None

    def _fails(spark, sf_dir):
        raise RuntimeError("cell failed")

    monkeypatch.setattr(bench, "build_session", lambda **kw: _NoSession())
    monkeypatch.setattr(bench, "materialize", lambda df: None)
    monkeypatch.setattr(bench, "QUERIES", {"ok": _ok, "bad": _fails})
    monkeypatch.setattr(bench, "HEADLINE", ["ok"])
    monkeypatch.setattr(bench, "HEADLINE_V2", ["ok", "bad"])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("PYTHONPATH", "elsewhere")

    assert bench.main() == 1
    record = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert record["value"] is not None and "errors" not in record
    assert record["v2"]["value"] is None
    assert record["v2"]["queries"].keys() == {"ok"}
    assert record["v2"]["errors"] == {"bad": "RuntimeError: cell failed"}
    # the session's Python workers import this checkout first
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [bench.ROOT, "elsewhere"]
