import contextlib
import os
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from textextract_spark.session import get_spark
    s = get_spark(app_name="textextract-tests", cores=8,
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir():
    """Deterministic 400-doc pages corpus written once per test session."""
    from textextract_spark.datagen import write_pages_parquet
    d = tempfile.mkdtemp(prefix="textx-corpus-")
    path = os.path.join(d, "pages.parquet")
    write_pages_parquet(path, 400, seed=42)
    return path


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def crash_after_first_chunk(monkeypatch):
    """Context manager: inside it, the second ``ManifestTable.append`` to
    an ``extracted`` table raises — a job killed once its first chunk's
    data and lineage are committed."""
    from textextract_spark.io.table import ManifestTable

    @contextlib.contextmanager
    def crash():
        append = ManifestTable.append
        seen = []

        def failing(table, *args, **kwargs):
            if os.path.basename(table.path) == "extracted":
                seen.append(table)
                if len(seen) == 2:
                    raise RuntimeError("injected failure after chunk 0")
            return append(table, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(ManifestTable, "append", failing)
            yield
    return crash
