"""Catalog probe of the traced run: `plans.driver_queries.queries()` entries
over seeded documents/embeddings/events, checked against their DuckDB
`oracle_sql()` the way tools/check_oracle.py compares them, plus the exact
pair/cluster counts of the dedup operators behind the cold pipelines.

Warm entries are HEADLINE entries of bench.py whose tables the benchmark
generates (the TPC-H-shaped ones are left out); each runs once to warm,
then once timed. Cold entries build and run in one timed pass, as bench.py
times them.
"""

from __future__ import annotations

import os
import sys
import time

WARM = ["cdc_lww_dedup", "cdc_hot_keys_topk", "text_token_count", "doc_fingerprint", "ann_topk"]
COLD = ["dedup_corpus", "dedup_semantic", "corpus_pipeline"]
TABLES = ("documents", "embeddings", "events")


def _oracle(catalog_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{catalog_dir}/{t}.parquet')"
        )
    return con


_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def run(spark, tracer, catalog_dir: str) -> tuple[dict, dict, list[str]]:
    """Returns ({entry: span}, exact operator counts, problems)."""
    from pyspark.sql import functions as F

    from nifi_daffodil_spark.plans import driver_queries as dq
    from perfbench.cdc import materialize

    sys.path.insert(0, _TOOLS)
    from check_oracle import canon  # the oracle gate's row/schema/value-hash compare

    qs, oracles = dq.queries(), dq.oracle_sql()
    con = _oracle(catalog_dir)
    spans, problems, oracle_s = {}, [], {}

    def check(name: str, got) -> None:
        t = time.monotonic()
        if name in oracles and canon(got) != canon(con.execute(oracles[name]).df()):
            problems.append(f"catalog entry {name} differs from its DuckDB oracle")
        oracle_s[name] = time.monotonic() - t

    for name in WARM:
        df = qs[name](spark, catalog_dir)
        check(name, df.toPandas())  # also the warm-up pass
        with tracer.span(f"plans.driver_queries.{name}") as s:
            materialize(df)
        spans[name] = s
    for name in COLD:
        with tracer.span(f"plans.driver_queries.{name}") as s:
            got = qs[name](spark, catalog_dir).toPandas()
        spans[name] = s
        check(name, got)
        if name == "corpus_pipeline":
            kept = len(got)

    from nifi_daffodil_spark.operators.similarity import as_double_vecs, srp_lsh_pairs
    from nifi_daffodil_spark.operators.text_dedup import minhash_lsh_pairs, resolve_keepers

    docs = spark.read.parquet(f"{catalog_dir}/documents.parquet")
    vecs = as_double_vecs(spark.read.parquet(f"{catalog_dir}/embeddings.parquet"))
    t = time.monotonic()
    with tracer.span("operators.text_dedup.minhash_lsh_pairs"):
        # threshold 0 keeps every LSH candidate through the exact verify,
        # with its Jaccard; the size prefilter is lossless at any threshold
        cand = minhash_lsh_pairs(docs, n_hashes=dq.N_MINHASH, threshold=0.0,
                                 max_bucket_size=dq.MAX_MINHASH_BUCKET).localCheckpoint()
        n_cand = cand.count()
        pairs = cand.filter(F.col("jaccard") >= dq.JACCARD_T).select("d1", "d2")
        verified = pairs.count()
        components = resolve_keepers(pairs).select("component").distinct().count()
    with tracer.span("operators.similarity.srp_lsh_pairs"):
        # min_cos -1 screens nothing out: every distinct candidate, exact cosine
        sim = srp_lsh_pairs(vecs, dim=64, n_bands=dq.N_SRP_BANDS,
                            rows_per_band=dq.SRP_ROWS_PER_BAND, min_cos=-1.0).localCheckpoint()
        sim_cand = sim.count()
        sim_pairs = sim.filter(F.col("cos") >= dq.SEMDEDUP_T).count()
    counts = {
        "operators.text_dedup.candidate_pairs": n_cand,
        "operators.text_dedup.verified_pairs": verified,
        "operators.text_dedup.verify_yield": verified / n_cand if n_cand else 0.0,
        "operators.text_dedup.components": components,
        "operators.similarity.candidate_pairs": sim_cand,
        "operators.similarity.pairs": sim_pairs,
        "operators.corpus.kept_docs": kept,
        "_operators_s": time.monotonic() - t,
        "_oracle_s": oracle_s,
    }
    return spans, counts, problems
