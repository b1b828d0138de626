"""Where the package starts Python workers, pinned without Spark.

Every Python step over batch data runs through one of three functions:
``llm/multimodal.py:_blob_stage`` (one row, or one exploded array of
rows, per media blob, with the one poison policy),
``llm/multimodal.py:_synth_stage`` (one synthesized blob per doc) and
``sources/restsource.py:enrich_partitions`` (the executor-side
enrichment fetch).  A new media or codec step is a row function handed
to one of them, not another Arrow loop.  The streaming state operators
keep their own grouped-state APIs in ``streaming/stateful.py``.

This scans the package's source, so it runs in tier-1;
``tests/test_plan_shapes.py:test_no_row_python_udfs_anywhere`` checks
the registered plans themselves under ``SPARK_GRAFT_FULL_TESTS=1``."""

from __future__ import annotations

import ast
from pathlib import Path

import spotify_streaming_etl_pipeline_spark as pkg

#: batch Python-worker APIs -> the only functions allowed to use them
BATCH_APIS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "pandas_udf", "udf",
}
BATCH_OWNERS = {
    "llm/multimodal.py:_blob_stage",
    "llm/multimodal.py:_synth_stage",
    "sources/restsource.py:enrich_partitions",
}
STATE_APIS = {"applyInPandasWithState", "transformWithStateInPandas"}
STATE_OWNERS = {
    "streaming/stateful.py:dedup_stream",
    "streaming/stateful.py:dedup_stream_tws",
}


def _uses(apis: set[str]) -> dict[str, set[str]]:
    """``module:outermost function`` -> the ``apis`` names it touches
    (a call, a decorator or a bare reference all count)."""
    root = Path(pkg.__file__).parent
    found: dict[str, set[str]] = {}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(root).as_posix()
        for top in tree.body:
            owner = f"{rel}:{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                name = (
                    node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name)
                    else None
                )
                if name in apis:
                    found.setdefault(owner, set()).add(name)
    return found


def test_batch_python_workers_start_in_three_functions_only():
    uses = _uses(BATCH_APIS)
    assert set(uses) == BATCH_OWNERS, uses


def test_streaming_state_apis_stay_in_the_stateful_module():
    assert set(_uses(STATE_APIS)) == STATE_OWNERS
