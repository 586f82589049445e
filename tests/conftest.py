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


@pytest.fixture(scope="session")
def drifting_chain():
    """A page that drifts on every crawl: page i is a 100-word window
    shifted 10 words past page i-1's, in 70 pages. Consecutive pages
    share 81% of their 3-word shingles, pages 3 apart 53%, 4 apart 42%,
    so the near-dup graph is one long chain. Returns (texts, hops):
    ``hops(threshold)`` is the pure-Python distance from page 0 to the
    farthest page over exact shingle-Jaccard edges >= threshold."""
    words = [chr(97 + i // 676) + chr(97 + i // 26 % 26) + chr(97 + i % 26)
             for i in range(790)]
    texts = [" ".join(words[10 * i:10 * i + 100]) for i in range(70)]
    grams = [{" ".join(t.split()[j:j + 3]) for j in range(98)}
             for t in texts]

    def hops(threshold: float) -> int:
        seen, frontier, level = {0}, {0}, 0
        while frontier:
            frontier = {b for a in frontier for b in range(len(texts))
                        if b not in seen and len(grams[a] & grams[b])
                        >= threshold * len(grams[a] | grams[b])}
            seen |= frontier
            level += bool(frontier)
        assert len(seen) == len(texts)  # one component
        return level
    return texts, hops
