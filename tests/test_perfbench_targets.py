"""The traced ``daily_etl`` benchmark cycle wraps package functions in
spans by (module, attribute) name. A rename would break only that traced
run, silently; these checks fail instead."""

from __future__ import annotations

import contextlib
import inspect
from pathlib import Path
from types import SimpleNamespace

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _daily_etl_targets(monkeypatch) -> list[tuple[object, str, str]]:
    """The (module, attribute, span) list ``DailyEtl._layer_spans`` patches,
    captured without starting Spark."""
    monkeypatch.syspath_prepend(str(PERFBENCH))
    import workloads

    seen: list[tuple[object, str, str]] = []

    @contextlib.contextmanager
    def record(targets, tracer):
        seen.extend(targets)
        yield

    monkeypatch.setattr(workloads, "patched", record)
    with workloads.DailyEtl._layer_spans(
            SimpleNamespace(tracer=SimpleNamespace(enabled=True))):
        pass
    return seen


def test_traced_daily_etl_patch_targets_resolve(monkeypatch):
    targets = _daily_etl_targets(monkeypatch)
    spans = {span for _mod, _attr, span in targets}
    assert {"temporal.compare", "temporal.dual_write", "quality.gated_write",
            "source_graphql.fetch", "temporal.check"} <= spans
    for mod, attr, span in targets:
        fn = getattr(mod, attr, None)
        assert callable(fn), f"{mod.__name__}.{attr} (span {span}) is gone"


def test_health_report_keeps_its_positional_signature():
    from monday_etl_spark.temporal import health_report

    params = list(inspect.signature(health_report).parameters)
    assert params == ["snapshot", "hist", "key", "measure_col", "as_of"]
