"""Pin the crawl's global-index path in parity tests."""

from __future__ import annotations


def two_pass_index(monkeypatch, min_rows: int = 0) -> list[str]:
    """Set ``indexing.DIST_INDEX_MIN_ROWS`` to ``min_rows`` (0 forces
    the two-pass index everywhere) and return a list that records the
    ``out_col`` of every call that took the two-pass path, so a test can
    show which path it ran."""
    from mhtml_to_html_spark.frontier import indexing

    calls: list[str] = []
    real = indexing.assign_global_index

    def spy(df, order_cols, out_col="pos", *args, **kw):
        calls.append(out_col)
        return real(df, order_cols, out_col, *args, **kw)

    monkeypatch.setattr(indexing, "DIST_INDEX_MIN_ROWS", min_rows)
    monkeypatch.setattr(indexing, "assign_global_index", spy)
    return calls
