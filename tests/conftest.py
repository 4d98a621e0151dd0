from __future__ import annotations

import hashlib

import pytest

from image_pdf_ocr_suite_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rows_sha256():
    """``(n_rows, sha256)`` of a DataFrame's rows, order-free — the
    reference form for outputs recorded from a retired spelling of an
    operator (rows sorted by ``repr``, so NULLs sort too)."""
    def digest(df):
        rows = sorted(repr(tuple(r)) for r in df.collect())
        return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return digest
