from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import corpus
from ocr_redaction_engine_spark.session import get_spark

SEED = 42
N_DOCS = 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ocrr-tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def local_corpus():
    return corpus.build_corpus_local(SEED, N_DOCS)


@pytest.fixture(scope="session")
def corpus_dfs(spark, local_corpus):
    docs, pages = local_corpus
    return corpus.local_frames(spark, docs, pages)
