"""The text-hash queries against their DuckDB oracles on adversarial
text: ``tools/adversarial_sf.py`` rewrites the sf0.001 documents with
tab, U+000B, U+000C, NBSP, U+2028, emoji, combining marks, empty and
null texts, leading/trailing spaces, one 10 000-character token and
one text that is not valid UTF-8, and each query must match its
``oracle_sql()`` under ``tools/check_oracle.py``'s comparison.  The
oracle reads the invalid text decoded as U+FFFD, which is how the
text hashes read it."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from tests.test_datapipe import SF
from tools.adversarial_sf import build, oracle_documents
from tools.check_oracle import TABLES, compare, strict_dtype_problems

# Known program/oracle disagreements, each a FOUND line in CHANGES.md
NULL_SIMHASH = "simhash(null) is null in Spark but 0 in the oracle (FOUND: simhash null)"
KNOWN = {
    "q_simhash": NULL_SIMHASH,
    "q_simhash_pairs": NULL_SIMHASH,
    "q_simhash_clusters": NULL_SIMHASH,
    "q_dedup_eval": NULL_SIMHASH,
    "q_token_stats": "Spark's length counts invalid UTF-8 by lead bytes "
    "(FOUND: length of invalid UTF-8)",
}
QUERIES = [
    pytest.param(q, marks=pytest.mark.xfail(strict=True, reason=KNOWN[q])) if q in KNOWN else q
    for q in [
        "q_dedup_ngram", "q_minhash", "q_minhash_lsh", "q_dedup_clusters",
        "q_simhash", "q_simhash_pairs", "q_simhash_clusters", "q_token_stats",
        "q_winnow", "q_winnow_decontam", "q_hash_classifier", "q_dsir_resample",
        "q_classifier_auc", "q_bloom_contamination", "q_dedup_eval", "q_dedup_best",
        "q_minhash_error", "q_incremental_dedup", "q_cdc_chunks", "q_cdc_dedup",
    ]
]


@pytest.fixture(scope="module")
def adversarial(tmp_path_factory):
    out = build(SF, tmp_path_factory.mktemp("adversarial_sf"))
    con = duckdb.connect()
    for t in TABLES:
        if t != "documents":
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
    con.register("documents", oracle_documents(out))
    yield str(out), con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle_on_adversarial_text(spark, adversarial, name):
    sf, con = adversarial
    sdf = entry.queries()[name](spark, sf)
    got = sdf.toPandas()
    oracle = con.execute(entry.oracle_sql()[name]).fetch_arrow_table()
    problems = strict_dtype_problems(sdf.schema, oracle) + compare(name, got, oracle.to_pandas())
    assert not problems, problems
