"""Scan-parallelism guard plumbing (session.py): cache-key hygiene and the
session-derived Python-kernel fan-out cap (r17 / ADVICE r16)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from retail_aws_etl_pipeline_spark import session as S


def test_parquet_layout_invalidates_on_rewrite(tmp_path):
    """Rewriting a table in place must serve the NEW layout, not the memo."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(10))}), path)
    rg1, rows1 = S._parquet_layout(path)
    assert rows1 == 10
    # rewrite with a different size/row-group shape
    pq.write_table(pa.table({"a": list(range(100))}), path, row_group_size=10)
    rg2, rows2 = S._parquet_layout(path)
    assert (rg2, rows2) == (10, 100), "stale layout served after in-place rewrite"


def test_parquet_layout_memoizes(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    st = os.stat(path)
    key = (path, st.st_mtime, st.st_size)
    S._parquet_layout(path)
    assert key in S._ROW_GROUP_CACHE


def test_scan_deficit_keyed_by_application_id(spark):
    """The plan-changing deficit flag is keyed by applicationId (stable,
    never recycled in-process), not by id(session)."""
    key = S._session_key(spark)
    assert key == spark.sparkContext.applicationId
    assert all(isinstance(k, str) for k in S._SCAN_DEFICIT)


def test_py_kernel_cap_scales_with_parallelism(spark):
    """In deficit mode the Python-kernel fan-out derives from the session:
    floor = PY_KERNEL_MAX_PARTS locally, but a wider cluster raises the
    cap (defaultParallelism div 2) instead of pinning at the constant."""
    key = S._session_key(spark)
    old = S._SCAN_DEFICIT.get(key)
    S._SCAN_DEFICIT[key] = True
    try:
        df = spark.range(100)
        # local[4]: shuffle_partitions=4, cap=max(16, 2)=16 -> n=4
        out = df.sparkSession.createDataFrame(df.toPandas())  # fresh frame, no memo
        spread = S.spread_for_compute(out, max_parts=S.PY_KERNEL_MAX_PARTS)
        assert spread.rdd.getNumPartitions() == 4
        # the derived cap formula itself scales with the machine
        dp = spark.sparkContext.defaultParallelism
        assert max(S.PY_KERNEL_MAX_PARTS, dp // 2) >= S.PY_KERNEL_MAX_PARTS
        assert max(S.PY_KERNEL_MAX_PARTS, 1024 // 2) == 512  # big-cluster shape
    finally:
        if old is None:
            S._SCAN_DEFICIT.pop(key, None)
        else:
            S._SCAN_DEFICIT[key] = old


def _conf_set_sites() -> set[str]:
    """``module.function`` of every ``<expr>.conf.set(...)`` call in the
    package outside session.py (dotted through nested defs)."""
    import ast
    from pathlib import Path

    sites: set[str] = set()

    def visit(node: ast.AST, scope: tuple[str, ...]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + (node.name,)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            sites.add(".".join(scope if len(scope) > 1 else scope + ("<module>",)))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    session_py = Path(S.__file__)
    for path in sorted(session_py.parent.rglob("*.py")):
        if path != session_py:
            visit(ast.parse(path.read_text(), str(path)), (path.stem,))
    return sites


def test_session_conf_mutations_are_the_known_sites():
    """Session-global conf is set only by session.py and three known
    drains. A new ``spark.conf.set`` anywhere else fails here: prefer a
    per-write option or a ``newSession()``."""
    assert _conf_set_sites() == {
        # parquet.nanosAsLong for the nanosecond events source, never restored
        "streams.events_stream",
        # shuffle.partitions narrowed around the drain, restored after
        "streams.run_stream_to_memory",
        "analytics.streamed_customer_features",
    }
