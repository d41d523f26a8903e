import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from searchengine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("searchengine-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


N_TEST_PAGES = 300
TEST_FIELDS = {
    "body": "body",
    "title": "title",
    "keywords": "keywords",
    "url": "url_text",
    "inlink": "inlink",
}


@pytest.fixture(scope="session")
def pages_index(spark):
    """Spark inverted index over a 300-page synthetic corpus (all 5 fields)."""
    from searchengine_spark.corpus import extract_fields, make_pages
    from searchengine_spark.index.build import assign_doc_ids, build_index

    pages = make_pages(spark, N_TEST_PAGES, seed=7)
    docs = assign_doc_ids(extract_fields(pages), ext_id_col="url")
    idx = build_index(
        docs, fields=TEST_FIELDS, ext_id_col="url", analyzer="english"
    )
    idx.postings.count()  # materialize the persisted postings once
    return idx


@pytest.fixture(scope="session")
def py_index(spark, pages_index):
    """Trusted in-memory oracle index over the SAME corpus + analyzer."""
    from searchengine_spark.analyzer import get_analyzer
    from tests.oracle import PyIndex

    an = get_analyzer(pages_index.analyzer)
    rows = pages_index.docs.select(
        "doc_id", *[src for src in TEST_FIELDS.values()]
    ).collect()
    doc_tokens = {
        int(r["doc_id"]): {
            fld: an.tokens(r[src]) for fld, src in TEST_FIELDS.items()
        }
        for r in rows
    }
    return PyIndex(doc_tokens)


@pytest.fixture
def local_frames(monkeypatch):
    """The frames the compiler collects through ``session.local_frame``
    (the derived #NEAR/#WINDOW/#SYN lists it scores), in call order:
    their executed plans run the positional merge."""
    from searchengine_spark.plans import compiler
    from searchengine_spark.session import local_frame

    seen = []

    def record(df):
        seen.append(df)
        return local_frame(df)

    monkeypatch.setattr(compiler, "local_frame", record)
    return seen
