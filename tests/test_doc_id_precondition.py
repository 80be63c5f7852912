"""What the MinHash verify entries return when two documents share a doc_id.

``dedup_minhash_verified`` and ``dedup_minhash_against_corpus`` fuse their
signatures, shingle counts (and, for the latter, the document's source)
into one per-``doc_id`` aggregate, and ``queries.dedup._shingles``
hash-partitions documents on ``doc_id``. All of it assumes one document
per ``doc_id``, which every fixture satisfies (checked below). When the
assumption breaks, the rows of one ``doc_id`` become ONE document whose
shingle set is the union of theirs. These tests pin that behaviour, so a
change to it shows up here rather than in a production dedup run:

- ``dedup_minhash_verified`` still equals its DuckDB oracle, which reads
  ``SELECT DISTINCT doc_id, shingle`` and so merges the same way.
- ``dedup_minhash_against_corpus`` does not: a ``doc_id`` under both
  sources gets one merged signature filed under ``max(source)``, while the
  oracle keeps one signature per side.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glue_etl_framework_spark.queries import load_registry
from tests.conftest import SF_ORACLE, SF_SMOKE

REGISTRY = load_registry()


def _words(prefix: str, n: int = 10) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


T = " ".join(_words("w"))                  # 8 shingles
U = " ".join(_words("u"))                  # 8 shingles, none shared with T
V = " ".join(_words("w", 9) + ["x9"])      # 7 of T's 8 shingles + 1
W = " ".join(_words("a"))
W2 = " ".join(_words("a", 9) + ["y9"])     # 7 of W's 8 shingles + 1

# doc 2 is two documents (T and U); doc 4 is one document per source
DOCS = [
    (1, "src0", T),
    (2, "src1", T),
    (2, "src1", U),
    (3, "src1", V),
    (4, "src0", W),
    (4, "src1", W2),
    (5, "src1", W),
]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dup_doc_ids")
    ids, sources, texts = zip(*DOCS)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": list(texts),
            "lang": ["en"] * len(DOCS),
            "source": list(sources),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }),
        d / "documents.parquet",
    )
    return str(d)


def _spark_rows(spark, name, sf_dir):
    return sorted(tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect())


def _oracle_rows(name, sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    return sorted(tuple(r) for r in con.execute(REGISTRY[name].oracle).fetchall())


def test_minhash_verified_merges_a_shared_doc_id(spark, corpus_dir):
    # doc 2 = T ∪ U (16 shingles): J(1, 2) = 8/16 = 0.5, J(2, 3) = 7/17
    # (below 0.5), J(1, 3) = 7/9. Docs 4 and 5 share W's shingles with doc
    # 4's merged W ∪ W2 (9 shingles): J(4, 5) = 8/9.
    got = _spark_rows(spark, "dedup_minhash_verified", corpus_dir)
    assert got == [(1, 2, 0.5), (1, 3, 0.777778), (4, 5, 0.888889)]
    assert got == _oracle_rows("dedup_minhash_verified", corpus_dir)


def test_minhash_against_corpus_files_a_shared_doc_id_under_max_source(spark, corpus_dir):
    # The reference side (src0) is docs 1 and 4. Spark merges doc 4's two
    # rows into one new-side (max(source) = src1) document, so doc 4 leaves
    # the reference side and doc 5 (W) has no reference match; doc 1 stays.
    got = _spark_rows(spark, "dedup_minhash_against_corpus", corpus_dir)
    assert got == [(2, 1, 0.5), (3, 1, 0.777778)]
    # The oracle keeps a per-side signature for doc 4 and counts its size
    # over both sides' shingle rows: a different answer on this input.
    assert _oracle_rows("dedup_minhash_against_corpus", corpus_dir) != got


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_fixture_documents_have_unique_doc_ids(sf_dir):
    con = duckdb.connect()
    n, n_ids = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()
    assert n == n_ids
