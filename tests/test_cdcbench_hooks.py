"""cdcbench's traced run wraps program functions by name
(``cdcbench/workloads.py::Lifecycle.install_spans``). A renamed or deleted
function would only surface as a crash of a ``--trace 1`` run; installing
and removing the wrappers here makes it fail tier-1 instead. No Spark
session is needed: wrapping resolves module attributes only."""

from __future__ import annotations


def test_cdcbench_traced_run_wraps_live_functions(tmp_path):
    from cdcbench.workloads import Lifecycle

    from postgres_cdc_reconciliation_spark.operators import apply as ap
    from postgres_cdc_reconciliation_spark.streaming import frontier

    originals = (ap.drop_metrics, frontier.append_frontier)
    lc = Lifecycle("serve_mixed", 1, True, str(tmp_path), None, 0.0)
    try:
        lc.install_spans()
        assert ap.drop_metrics is not originals[0]
        assert frontier.append_frontier is not originals[1]
    finally:
        lc.tracer.unwrap_all()
    assert (ap.drop_metrics, frontier.append_frontier) == originals
