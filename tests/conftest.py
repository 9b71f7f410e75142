from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
REFERENCE_CORPUS = "/root/reference/files/inputs"
# The word-count corpora the parity tests run on: one built from the
# test data on every host, plus the reference's own Gutenberg inputs
# where that checkout is present.
WORDCOUNT_CORPORA = ["built"] + (["reference"]
                                 if os.path.isdir(REFERENCE_CORPUS) else [])
BUILT_CORPUS_FILES = 6


@pytest.fixture(scope="session")
def spark():
    from mapreducewordcount_spark.session import get_spark

    s = get_spark("mapreducewordcount_spark-tests")
    yield s


@pytest.fixture(scope="session", params=WORDCOUNT_CORPORA)
def wordcount_corpus(request, tmp_path_factory) -> str:
    """Directory of a word-count input corpus: ``*.txt`` files plus a
    non-``.txt`` decoy that every scan must ignore.

    The "built" corpus is deterministic: the ``text`` column of the
    oracle-scale ``documents.parquet`` in ``doc_id`` order, one
    document per line, dealt round-robin into BUILT_CORPUS_FILES
    files (enough for the 4-split source tests)."""
    if request.param == "reference":
        return REFERENCE_CORPUS
    import pyarrow.parquet as pq

    texts = (pq.read_table(os.path.join(SF_ORACLE, "documents.parquet"),
                           columns=["doc_id", "text"])
             .sort_by("doc_id").column("text").to_pylist())
    dest = tmp_path_factory.mktemp("wordcount_corpus")
    for i in range(BUILT_CORPUS_FILES):
        (dest / f"doc{i}.txt").write_text(
            "".join(f"{t}\n" for t in texts[i::BUILT_CORPUS_FILES]),
            encoding="utf-8")
    (dest / "notes.pdf").write_text("decoy never counted\n")
    return str(dest)
