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


def docs_to_df(spark, docs):
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in docs
    ]
    return spark.createDataFrame(rows, schema=corpus.DOCUMENTS_DDL)


def pages_to_df(spark, pages):
    rows = [
        (
            p["media_ref"], p["document_name"], p["width"], p["height"], p["doc_type"],
            [(w["x1"], w["y1"], w["x2"], w["y2"], w["text"]) for w in p["words"]],
            p["lines"],
            [(q["x1"], q["y1"], q["x2"], q["y2"]) for q in p["qr_boxes"]],
        )
        for p in pages
    ]
    return spark.createDataFrame(rows, schema=corpus.MEDIA_PAGES_DDL)


@pytest.fixture(scope="session")
def corpus_dfs(spark, local_corpus):
    docs, pages = local_corpus
    return docs_to_df(spark, docs), pages_to_df(spark, pages)
