"""End-to-end dedup pipeline tests (round-3 verdict item #3).

The CLI job `jobs/run_dedup.py` must produce exactly the corpus that
results from applying the `dedup_components` graded query's keeper set —
i.e. the runnable pipeline and the oracle-checked operator composition
agree document-for-document.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def _run_cli(args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_dedup.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no summary line; stderr: {out.stderr[-2000:]}"
    return json.loads(lines[-1])


def test_dedup_pipeline_matches_graded_keeper_set(spark, tmp_path):
    from nifi_daffodil_spark.plans import driver_queries as dq

    out_dir = str(tmp_path / "out")
    summary = _run_cli([
        "--corpus", f"{SF}/documents.parquet", "--out", out_dir,
        "--method", "minhash",
        "--threshold", str(dq.JACCARD_T),
        "--n-hashes", str(dq.N_MINHASH),
        "--max-bucket-size", str(dq.MAX_MINHASH_BUCKET),
        "--cores", "4",
    ])
    # the graded cluster-resolution query (oracle: DuckDB recursive CTE)
    expected = {
        (r["doc_id"], r["component"])
        for r in dq.q_dedup_components(spark, SF).filter("is_dup = 1").collect()
    }
    drops = {
        (r["doc_id"], r["component"])
        for r in spark.read.parquet(f"{out_dir}/docs_to_drop").collect()
    }
    assert drops == expected

    corpus_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id").collect()
    }
    deduped_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out_dir}/deduped").select("doc_id").collect()
    }
    assert deduped_ids == corpus_ids - {d for d, _ in expected}
    assert summary["docs_in"] == len(corpus_ids)
    assert summary["docs_dropped"] == len(expected)
    assert summary["docs_out"] == len(deduped_ids)


def test_dedup_corpus_exact_method(spark):
    # byte-identical texts collapse to the min-id keeper in ONE shuffle,
    # no pair materialization; near-identical texts are NOT exact dups
    from nifi_daffodil_spark.operators.text_dedup import dedup_corpus

    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown fox"),
        (5, "the quick brown fox"),
        (3, "the quick brown foxes"),
        (4, None),
        (6, None),
        (7, ""),   # empty string is NOT byte-identical to missing text
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    deduped, drops = dedup_corpus(df, method="exact")
    assert {(r["doc_id"], r["component"]) for r in drops.collect()} == {
        (2, 1), (5, 1), (6, 4), (8, 7)
    }
    assert {r["doc_id"] for r in deduped.collect()} == {1, 3, 4, 7}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="minhash|exact"):
        dedup_corpus(df, method="fuzzy")


def test_dedup_corpus_simhash_method(spark):
    """simhash mode must drop exactly the non-keeper members of the
    components over simhash64_near_pairs at the same hamming bound."""
    from pyspark.sql import functions as F

    from nifi_daffodil_spark.operators.text_dedup import (
        dedup_corpus,
        resolve_keepers,
        simhash64_near_pairs,
    )

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    deduped, drops = dedup_corpus(corpus, method="simhash", threshold=3)
    expected = {
        (r["doc_id"], r["component"])
        for r in resolve_keepers(
            simhash64_near_pairs(corpus, max_hamming=3).select("d1", "d2")
        ).filter(F.col("is_dup") == 1).collect()
    }
    got = {(r["doc_id"], r["component"]) for r in drops.collect()}
    assert got == expected and got  # non-empty at sf0.01
    assert deduped.count() == corpus.count() - len(got)


# the catalogue entries built on the shared dedup operators (text_dedup's
# simhash16, word_shingles, jaccard_pairs, minhash_lsh_pairs and
# resolve_keepers; similarity's srp_lsh_pairs)
ORACLE_GATED = (
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_components", "dedup_minhash_lsh",
    "neardup_cosine_lsh", "dedup_semantic",
)


@pytest.mark.parametrize(
    "sf_dir", [os.path.join(os.path.dirname(SF), "sf0.001"), SF], ids=os.path.basename
)
def test_dedup_entries_match_duckdb_oracle(spark, sf_dir):
    """The entries equal their DuckDB oracle_sql() under the oracle gate's
    row-count/schema/value-hash comparison (tools/check_oracle.canon)."""
    import duckdb

    from nifi_daffodil_spark.plans import driver_queries as dq

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_oracle import canon

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs, oracles = dq.queries(), dq.oracle_sql()
    for name in ORACLE_GATED:
        got = canon(qs[name](spark, sf_dir).toPandas())
        assert got == canon(con.execute(oracles[name]).df()), name
