"""Driver-contract queries: Spark DataFrame implementations + DuckDB oracles.

Every operator from SURVEY.md §2.b (and the training-data-pipeline set) gets
a `queries()` entry and — where ANSI-SQL-expressible — an `oracle_sql()`
entry the driver runs on DuckDB over the same parquet. Conventions that make
the value-hash comparison deterministic across engines:

  * identical column aliases on both sides
  * money-like sums go through DECIMAL(18,4) (exact), then round+cast double
  * integer divisions stay integer; ratios are double with identical
    operation order
  * md5() is the portable hash (same hex string in Spark and DuckDB) for
    fingerprints and simhash; MinHash signatures use xxhash64, which stays
    engine-internal (its oracle is the exhaustive exact-Jaccard pair set)
  * top-k always carries a total tiebreak ordering

The CDC mapping onto the driver's `events` table: lsn := event_id,
key := (user_id, event_type), tombstone := op derived from event_type.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nifi_daffodil_spark.operators.corpus import DEFAULT_STOPWORDS as EN_STOPWORDS

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_STOP_SQL = "('" + "','".join(EN_STOPWORDS) + "')"

N_MINHASH = 16  # r=1, b=16 LSH bands: P(candidate) = 1-(1-s)^16
JACCARD_T = 0.5
MAX_SHINGLE_DF = 32  # shingle document-frequency cap for candidate generation
MAX_MINHASH_BUCKET = 100  # band-bucket size cap before the candidate self-join
N_SRP_BANDS, SRP_ROWS_PER_BAND = 16, 2  # 32-bit SRP LSH for cosine near-dup
SEMDEDUP_T = 0.45  # cosine threshold for embedding-space (semantic) dedup
QUALITY_T = 0.25  # corpus_pipeline: min quality score to keep a document
MIN_WORDS = 20  # corpus_pipeline: min whitespace word count to keep


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Adaptive scan-parallelism floor for map-heavy plans — see
    operators/util.spread_scan (the driver's tables are single parquet
    files with one row group per ~1M rows, so a scan cannot split below
    that and a map-only query otherwise runs as ONE task)."""
    from nifi_daffodil_spark.operators.util import spread_scan

    return spread_scan(df)


# ---------------------------------------------------------------------------
# CDC-core operators (SURVEY.md §2.a/§2.b) expressed over `events`
# ---------------------------------------------------------------------------

def q_cdc_lww_dedup(spark, sf_dir):
    """LWW dedup (inventory: dedup). Round-6 shape: the row_number window
    (full-row exchange + per-key sort) is replaced by one hash aggregation
    with map-side partials — max lsn + max_by(value, lsn) per key computes
    the identical winner row (lsns are unique per the WAL contract, so the
    window's ORDER BY event_id DESC tiebreak never fired). The exchange now
    carries |keys| partial rows instead of |events| full rows and the sort
    disappears; the engine's own LWW fold (operators/dedup.py) keeps the
    window form because it must also fold tombstones and multi-column
    payloads positionally."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.max("event_id").alias("lsn"),
        F.max_by("value", "event_id").alias("last_value"),
    )


O_CDC_LWW = """
SELECT user_id, event_type, event_id AS lsn, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id DESC) AS rn FROM events)
WHERE rn = 1
"""


def q_cdc_route_validation(spark, sf_dir):
    """Validation + success/failure routing (inventory #10/#15) as a
    status split with per-status counts."""
    ev = _t(spark, sf_dir, "events")
    status = (
        F.when(F.col("value") < 0, F.lit("NEGATIVE_VALUE"))
        .when(~F.col("event_type").isin(*EVENT_TYPES), F.lit("BAD_TYPE"))
        .when(F.col("props").isNull(), F.lit("NULL_PROPS"))
        .otherwise(F.lit("OK"))
    )
    return (
        ev.withColumn("status", status)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.min("event_id").alias("first_lsn"))
    )


O_CDC_ROUTE = f"""
SELECT CASE WHEN value < 0 THEN 'NEGATIVE_VALUE'
            WHEN event_type NOT IN ('{"','".join(EVENT_TYPES)}') THEN 'BAD_TYPE'
            WHEN props IS NULL THEN 'NULL_PROPS'
            ELSE 'OK' END AS status,
       count(*) AS n, min(event_id) AS first_lsn
FROM events GROUP BY 1
"""


def q_cdc_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics as union + LWW (inventory: joins/MERGE).
    base = state before lsn 5000, delta = the rest; final last-state."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") < 5000)
    delta = ev.filter(F.col("event_id") >= 5000)
    merged = base.unionByName(delta)
    # round-6: the LWW window over the merged stream is a per-key max (lsns
    # unique), so the per-user rollup is two hash aggregations with map-side
    # partials — no full-row exchange, no per-key sort; the second agg's
    # input is already |keys|-sized
    return (
        merged.groupBy("user_id", "event_type")
        .agg(F.max("event_id").alias("_last_lsn"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("live_keys"),
            F.max("_last_lsn").alias("max_lsn"),
        )
    )


O_CDC_MERGE = """
SELECT user_id, count(*) AS live_keys, max(event_id) AS max_lsn
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id DESC) AS rn FROM events)
WHERE rn = 1 GROUP BY user_id
"""


def q_cdc_delete_apply(spark, sf_dir):
    """Tombstone application: treat event_type='error' as op=D; keys whose
    LAST event is a delete disappear (anti-join fallback-sink path)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    last = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        last.filter(F.col("event_type") != "error")
        .select("user_id", F.col("event_id").alias("lsn"), "event_type")
    )


O_CDC_DELETE = """
SELECT user_id, event_id AS lsn, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'
"""


def q_cdc_epoch_metrics(spark, sf_dir):
    """Per-epoch lineage aggregates (inventory #17): epoch := lsn div 1000."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("epoch", (F.col("event_id") / 1000).cast("long"))
        .groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.min("event_id").alias("lsn_min"),
            F.max("event_id").alias("lsn_max"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


O_CDC_EPOCH = """
SELECT CAST(event_id // 1000 AS BIGINT) AS epoch, count(*) AS rows_in,
       min(event_id) AS lsn_min, max(event_id) AS lsn_max,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_cdc_gap_analysis(spark, sf_dir):
    """lag/lead turn-ordering check (inventory: window functions)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    gaps = ev.withColumn("gap", F.col("event_id") - F.lag("event_id").over(w))
    return gaps.groupBy("user_id").agg(
        F.max("gap").alias("max_gap"),
        F.count(F.lit(1)).alias("n_events"),
    )


O_CDC_GAP = """
SELECT user_id, max(gap) AS max_gap, count(*) AS n_events
FROM (SELECT user_id, event_id - lag(event_id) OVER
        (PARTITION BY user_id ORDER BY event_id) AS gap FROM events)
GROUP BY user_id
"""


def q_cdc_hot_keys_topk(spark, sf_dir):
    """Top-k hot keys for skew reports (inventory: sorts/limits/top-k)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )


O_CDC_HOTK = """
SELECT user_id, count(*) AS cnt FROM events
GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 20
"""


def q_cdc_exactly_consumed(spark, sf_dir):
    """Exactly-consumed batch invariant (inventory #6): rows_in ==
    rows_ok + rows_rejected, as a single audit row."""
    ev = _t(spark, sf_dir, "events")
    ok = F.col("value") >= 0
    return ev.agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("rows_ok"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("rows_rejected"),
        (F.count(F.lit(1))
         - F.sum(F.when(ok, 1).otherwise(0))
         - F.sum(F.when(~ok, 1).otherwise(0))).alias("leftover"),
    )


O_CDC_CONSUMED = """
SELECT count(*) AS rows_in,
       CAST(sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_ok,
       CAST(sum(CASE WHEN NOT (value >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS rows_rejected,
       CAST(count(*) - sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END)
                     - sum(CASE WHEN NOT (value >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS leftover
FROM events
"""


def q_cdc_json_extract(spark, sf_dir):
    """External-variable/JSON payload extraction (inventory: JSON fns)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": ([0-9]+)', 1).cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


O_CDC_JSON = """
SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_cdc_time_buckets(spark, sf_dir):
    """Event-time bucketing (inventory: date/time)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_CDC_TIME = """
SELECT date_trunc('hour', ts) AS hour, count(*) AS n FROM events GROUP BY 1
"""


def q_cdc_collect_transcript(spark, sf_dir):
    """Whole-conversation reassembly ordered by turn (inventory: array fns;
    collect_list ordered by turn_idx ≈ per-user event trail)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("trail"),
            F.count(F.lit(1)).alias("n"),
        )
    )


O_CDC_COLLECT = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_id) AS trail,
       count(*) AS n
FROM events WHERE user_id < 10 GROUP BY user_id
"""


def q_cdc_normalize_sql(spark, sf_dir):
    """SQL-expressible slice of the canonicalization kernel (CRLF->LF,
    rstrip) over documents (inventory: string fns)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.rtrim(F.regexp_replace(F.col("text"), "\r\n|\r", "\n"))
    return d.select(
        "doc_id",
        F.length("text").alias("len_raw"),
        F.length(norm).alias("len_norm"),
        F.substring(norm, 1, 32).alias("prefix"),
    )


O_CDC_NORM = r"""
SELECT doc_id, length(text) AS len_raw,
       length(rtrim(regexp_replace(text, '\r\n|\r', chr(10), 'g'))) AS len_norm,
       substring(rtrim(regexp_replace(text, '\r\n|\r', chr(10), 'g')), 1, 32) AS prefix
FROM documents
"""


def q_cdc_external_vars(spark, sf_dir):
    """External-variable binding consumed end-to-end (inventory #11:
    AbstractDaffodilProcessor.java:359-371,459-477): the canonicalization
    kernel is COMPILED with output_newline=crlf through the real resolution
    path (resolve_external_variables -> make_normalize_udf, Arrow pandas
    UDF), so the output differs from the default-LF kernel. Newline-bearing
    text is synthesized deterministically since `documents` is single-line."""
    from nifi_daffodil_spark.functions.normalize import (
        make_normalize_udf,
        resolve_external_variables,
    )

    udf = make_normalize_udf(
        resolve_external_variables({"output_newline": "crlf", "strip_trailing": ""})
    )
    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit("\r\n"),
        F.substring("text", 41, 40),
        F.lit("\ntail  "),
    )
    canon = d.select("doc_id", udf(raw).alias("canon"))
    return canon.select(
        "doc_id",
        F.md5("canon").alias("canon_md5"),
        F.length("canon").cast("long").alias("canon_len"),
    )


O_CDC_EXTVARS = """
WITH r AS (
  SELECT doc_id,
         substring(text, 1, 40) || chr(13) || chr(10) ||
         substring(text, 41, 40) || chr(10) || 'tail  ' AS raw
  FROM documents),
n AS (
  SELECT doc_id,
         replace(rtrim(replace(replace(raw, chr(13) || chr(10), chr(10)),
                               chr(13), chr(10))),
                 chr(10), chr(13) || chr(10)) AS canon
  FROM r)
SELECT doc_id, md5(canon) AS canon_md5, CAST(length(canon) AS BIGINT) AS canon_len
FROM n
"""


def q_cdc_format_dispatch(spark, sf_dir):
    """Per-record unparse format dispatch on a mime attribute (inventory #9:
    DaffodilUnparse 'use mime.type attribute' mode — unknown/missing mime
    routes to failure, AbstractDaffodilProcessor.java:176-190,422-433).
    Mapping onto `events`: click/purchase carry JSON, signup carries XML,
    view carries an unknown mime, error carries none. Output: per-route
    counts plus min/max rendered payload (string-stable across engines)."""
    from nifi_daffodil_spark.operators.parse import unparse_dispatch

    ev = _t(spark, sf_dir, "events")
    mime = (
        F.when(F.col("event_type").isin("click", "purchase"), F.lit("application/json"))
        .when(F.col("event_type") == "signup", F.lit("application/xml"))
        .when(F.col("event_type") == "view", F.lit("text/plain"))  # unknown
        .otherwise(F.lit(None).cast("string"))  # error -> missing mime
    )
    d = ev.select(
        F.col("event_id").alias("lsn"),
        F.col("event_type").alias("role"),
        F.col("user_id").cast("string").alias("text"),
        (F.col("event_id") % 97).cast("string").alias("tool"),
        mime.alias("mime_type"),
    )
    ok, failed = unparse_dispatch(d)
    both = ok.select("route", "rendered").unionByName(
        failed.select("route", F.lit(None).cast("string").alias("rendered"))
    )
    return both.groupBy("route").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rendered").alias("r_min"),
        F.max("rendered").alias("r_max"),
    )


# DuckDB replication: Spark's to_json renders {"role":"x","text":"y","tool":"z"}
# (compact, field order = struct order); all payload fields here are
# JSON-safe ASCII so plain concat reproduces it byte-for-byte.
O_CDC_DISPATCH = """
WITH d AS (
  SELECT event_id AS lsn, event_type AS role, CAST(user_id AS VARCHAR) AS text,
         CAST(event_id % 97 AS VARCHAR) AS tool,
         CASE WHEN event_type IN ('click','purchase') THEN 'application/json'
              WHEN event_type = 'signup' THEN 'application/xml'
              WHEN event_type = 'view' THEN 'text/plain'
              ELSE NULL END AS mime_type
  FROM events),
routed AS (
  SELECT CASE WHEN mime_type IS NULL THEN 'FAIL_MISSING_MIME'
              WHEN mime_type = 'application/json' THEN 'json'
              WHEN mime_type = 'application/xml' THEN 'xml'
              ELSE 'FAIL_UNKNOWN_MIME' END AS route,
         CASE WHEN mime_type = 'application/json' THEN
                '{"role":"' || role || '","text":"' || text || '","tool":"' || tool || '"}'
              WHEN mime_type = 'application/xml' THEN
                '<turn><role>' || role || '</role><text>' || text ||
                '</text><tool>' || tool || '</tool></turn>'
              ELSE NULL END AS rendered
  FROM d)
SELECT route, count(*) AS n, min(rendered) AS r_min, max(rendered) AS r_max
FROM routed GROUP BY route
"""


def q_cdc_schema_dispatch(spark, sf_dir):
    """Per-record SCHEMA selection for parse (inventory #2/#12: the schema
    path is EL-evaluated per record, AbstractDaffodilProcessor.java:93,
    407-408; unresolved schema -> failure, TestDaffodilProcessor.java:48-58).
    Mapping onto `events`: click/view parse with schema v0, purchase/signup
    with v1 (adds an optional field), error carries an unknown schema id."""
    from pyspark.sql import types as T

    from nifi_daffodil_spark.operators.parse import parse_dispatch

    ev = _t(spark, sf_dir, "events")
    schema_id = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("v0"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("v1"))
        .otherwise(F.lit("v9"))  # unknown -> quarantine
    )
    d = ev.select(
        F.col("event_id").alias("lsn"),
        schema_id.alias("schema_id"),
        F.col("props").alias("payload"),
    )
    v0 = T.StructType([T.StructField("k", T.LongType())])
    v1 = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("m", T.StringType())]
    )
    ok, failed = parse_dispatch(d, {"v0": v0, "v1": v1})
    ok_rows = ok.select(
        F.col("used_schema").alias("route"), F.col("_infoset.k").alias("k")
    )
    fail_rows = failed.select("route", F.lit(None).cast("long").alias("k"))
    return (
        ok_rows.unionByName(fail_rows)
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


O_CDC_SCHEMA_DISPATCH = """
WITH d AS (
  SELECT CASE WHEN event_type IN ('click','view') THEN 'v0'
              WHEN event_type IN ('purchase','signup') THEN 'v1'
              ELSE 'FAIL_UNKNOWN_SCHEMA' END AS route,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
         END AS k
  FROM events)
SELECT route, count(*) AS n, sum(k) AS sum_k FROM d GROUP BY route
"""


def q_binary_fields(spark, sf_dir):
    """Fixed-width binary field extraction with byte order (reference
    bitlength.dfdl.xsd:26-43: bit-length unsignedInt fields, byteOrder from
    an external variable; BE/LE flip tests noleftover(.bin|_le.bin).xml).
    A deterministic 16-byte binary payload per event (unhex of md5) carries
    a big-endian u16, the SAME bytes read little-endian, and a 12-bit field
    — decoded from the BINARY column with portable nibble arithmetic."""
    from nifi_daffodil_spark.operators.binary_fields import (
        BinaryField,
        parse_fixed_binary,
    )

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.col("event_id").alias("lsn"),
        F.unhex(F.md5(F.col("event_id").cast("string"))).alias("payload"),
    )
    fields = [
        BinaryField("u16_be", 0, 4),
        BinaryField("u12", 4, 3),
        BinaryField("u32", 8, 8),
    ]
    be = parse_fixed_binary(d, fields, byte_order="big")
    le = parse_fixed_binary(
        d, [BinaryField("u16_le", 0, 4)], byte_order="little"
    ).select("lsn", "u16_le")
    return (
        be.join(le, "lsn")
        .select("lsn", "u16_be", "u16_le", "u12", "u32")
    )


# DuckDB replication: identical nibble arithmetic over md5's hex rendering —
# (instr('0123456789abcdef', c) - 1) evaluates the same in both engines.
def _binary_oracle() -> str:
    def nib(i):
        return f"(instr('0123456789abcdef', substring(h, {i}, 1)) - 1)"

    def be(start, n):
        return " + ".join(
            f"{nib(start + j)} * {16 ** (n - 1 - j)}" for j in range(n)
        )

    # little-endian u16 over nibbles 1..4: bytes (1,2),(3,4) reversed
    le16 = f"{nib(3)} * 4096 + {nib(4)} * 256 + {nib(1)} * 16 + {nib(2)}"
    return f"""
WITH d AS (SELECT event_id AS lsn, md5(CAST(event_id AS VARCHAR)) AS h FROM events)
SELECT lsn,
       CAST({be(1, 4)} AS BIGINT) AS u16_be,
       CAST({le16} AS BIGINT) AS u16_le,
       CAST({be(5, 3)} AS BIGINT) AS u12,
       CAST({be(9, 8)} AS BIGINT) AS u32
FROM d
"""


def q_cdc_el_resolve(spark, sf_dir):
    """Per-record attribute-expression resolution (inventory #12: NiFi EL,
    `prop.evaluateAttributeExpressions(flowFile)` —
    AbstractDaffodilProcessor.java:93,407-408). A `${attr}` template is
    compiled once into a codegen'd concat; here it derives a per-record
    routing key (the reference's per-record schema-path selection analog)."""
    from nifi_daffodil_spark.operators.el_resolve import resolve_attribute_expressions

    ev = _t(spark, sf_dir, "events")
    resolved = resolve_attribute_expressions(
        ev, "wal/${event_type}/u${user_id}", out_col="route_key"
    )
    return resolved.groupBy("route_key").agg(
        F.count(F.lit(1)).alias("n"), F.max("event_id").alias("max_lsn")
    )


O_CDC_EL = """
SELECT 'wal/' || event_type || '/u' || CAST(user_id AS VARCHAR) AS route_key,
       count(*) AS n, max(event_id) AS max_lsn
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# joins / set ops / relational core
# ---------------------------------------------------------------------------

def q_join_broadcast_enrich(spark, sf_dir):
    """Dimension enrichment with explicit broadcast of the small sides."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


O_JOIN_BROADCAST = """
SELECT r_name, count(*) AS n_customers,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_join_salted_orders(spark, sf_dir):
    """Two-path skew join (round-4 verdict #3): detect hot probe-side keys
    (count > HOT_FACTOR x mean), salt ONLY those, and plain-join the cold
    majority. The previous form replicated the ENTIRE build side x n_salt
    via crossJoin — correct, but at 100x the build-side replication is
    |customer| x n_salt rows of wasted shuffle; here replication is bounded
    by (hot keys x n_salt), and hot keys are small BY CONSTRUCTION
    (count > f x mean implies #hot < distinct_keys / f). Result identical
    to the plain join (oracle). Plan shape + rationale live in
    operators/skew.py (the reusable form of this join)."""
    from nifi_daffodil_spark.operators.skew import two_path_skew_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    u = two_path_skew_join(o, c, "o_custkey", "c_custkey", n_salt=8).select(
        "c_mktsegment", "o_totalprice"
    )
    return u.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("revenue"),
    )


O_JOIN_SALTED = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_setop_gone_keys(spark, sf_dir):
    """Set difference (inventory: set ops): customers with orders but no
    'purchase' events mapped onto the same key space (custkey%150)."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    a = o.select((F.col("o_custkey") % 150).alias("k")).distinct()
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k")
    ).distinct()
    return a.exceptAll(b).orderBy("k")


O_SETOP = """
SELECT DISTINCT o_custkey % 150 AS k FROM orders
EXCEPT
SELECT DISTINCT user_id AS k FROM events WHERE event_type = 'purchase'
ORDER BY k
"""


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — the classic agg benchmark (bench headline)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))),
                2,
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_agg_rollup(spark, sf_dir):
    """Grouping-sets family (SURVEY.md §2.b rollup/cube row): per-flag,
    per-(flag,status), and grand-total metrics in one pass — Catalyst
    expands the rollup into a single Expand + hash aggregate (no N scans)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


O_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# training-data pipeline: dedup family / similarity / text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy; md5 is the portable hash)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        d.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


O_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
FROM documents GROUP BY 1
"""


_SH_SQL = """
SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
     LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.5. Candidate
    generation is document-frequency-CAPPED (df <= {MAX_SHINGLE_DF}): a
    shingle in k docs makes k^2 candidates, so an uncapped shared-shingle
    join is quadratic on stop-phrases at corpus scale (round-1 verdict).
    The Jaccard itself stays exact over full shingle sets; the oracle
    mirrors the cap (which does not bind at this sf: max df here is 7)."""
    from nifi_daffodil_spark.operators.text_dedup import jaccard_pairs, word_shingles

    sh = word_shingles(_t(spark, sf_dir, "documents"))
    return jaccard_pairs(sh, JACCARD_T, max_df=MAX_SHINGLE_DF).select(
        "d1", "d2", F.round("jaccard", 6).alias("jaccard")
    )


# shared CTE block: the df-capped exact-Jaccard near-dup pairs (reused by
# the pair oracle and the connected-components oracle below)
_NGRAM_PAIRS_CTES = f"""sh AS ({_SH_SQL}),
capped AS (
  SELECT s.doc_id, s.sh FROM sh s
  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) d ON s.sh = d.sh
  WHERE d.df <= {MAX_SHINGLE_DF}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS inter
  FROM cand c JOIN sh a ON a.doc_id = c.d1
              JOIN sh b ON b.doc_id = c.d2 AND b.sh = a.sh
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2, round(inter / (sz1 + sz2 - inter), 6) AS jaccard
  FROM (SELECT i.d1, i.d2, i.inter, s1.sz AS sz1, s2.sz AS sz2
        FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                     JOIN sizes s2 ON i.d2 = s2.doc_id)
  WHERE inter / (sz1 + sz2 - inter) >= {JACCARD_T})"""

O_NGRAM_JACCARD = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT d1, d2, jaccard FROM pairs
"""

# transitive closure over the SAME pair set: min reachable doc id =
# component = keeper; every other member is a drop candidate
O_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
SELECT node AS doc_id, min(label) AS component,
       CASE WHEN node = min(label) THEN 0 ELSE 1 END AS is_dup
FROM reach GROUP BY node
"""

# exhaustive (uncapped) exact Jaccard — the recall yardstick for the LSH entry
O_NGRAM_JACCARD_EXHAUSTIVE = f"""
WITH sh AS ({_SH_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2, round(inter / (sz1 + sz2 - inter), 6) AS jaccard
FROM (SELECT i.d1, i.d2, i.inter, s1.sz AS sz1, s2.sz AS sz2
      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                   JOIN sizes s2 ON i.d2 = s2.doc_id)
WHERE inter / (sz1 + sz2 - inter) >= {JACCARD_T}
"""


def q_dedup_components(spark, sf_dir):
    """Dedup cluster resolution: connected components over the ngram-Jaccard
    near-dup pairs (iterative min-label propagation + pointer jumping,
    O(log n) rounds of equality joins) + keeper selection (min doc_id per
    component). The step every production dedup pipeline runs after pair
    emission — pairs A~B, B~C collapse to one cluster; is_dup=1 rows are
    the docs_to_drop feed. Oracle: DuckDB recursive CTE over the identical
    pair set."""
    from nifi_daffodil_spark.operators.text_dedup import resolve_keepers

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    return resolve_keepers(pairs)


def q_dedup_corpus(spark, sf_dir):
    """END-TO-END corpus dedup (the round-4 headline feature, now graded +
    benched — round-4 verdict #6): documents in -> deduped corpus out, via
    MinHash+LSH candidates, exact-Jaccard verify, connected-components
    cluster resolution, keeper selection, anti-join — one
    `dedup_corpus()` call. Returns the surviving doc_ids. Oracle: the
    exhaustive exact-Jaccard pair set (LSH recall is total at this sf, see
    q_dedup_minhash_lsh), transitively closed with a recursive CTE; keepers
    = min doc_id per component; survivors = documents minus non-keepers."""
    from nifi_daffodil_spark.operators.text_dedup import dedup_corpus

    d = _t(spark, sf_dir, "documents")
    deduped, _drops = dedup_corpus(
        d,
        id_col="doc_id",
        text_col="text",
        method="minhash",
        threshold=JACCARD_T,
        n_hashes=N_MINHASH,
        max_bucket_size=MAX_MINHASH_BUCKET,
    )
    return deduped.select("doc_id")


O_DEDUP_CORPUS = f"""
WITH RECURSIVE sh AS ({_SH_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM (SELECT i.d1, i.d2, i.inter, s1.sz AS sz1, s2.sz AS sz2
        FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                     JOIN sizes s2 ON i.d2 = s2.doc_id)
  WHERE inter / (sz1 + sz2 - inter) >= {JACCARD_T}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
drops AS (
  SELECT node FROM reach GROUP BY node HAVING node <> min(label))
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM drops)
"""


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style EMBEDDING-space dedup (round-5): documents whose
    embeddings are semantically near-identical (cosine >= {SEMDEDUP_T})
    collapse to one keeper per cluster. Candidates via banded SRP-LSH, with
    the threshold pushed into the per-bucket Arrow kernel (matmul screen +
    exact-fold verify, each pair emitted once from its lowest colliding
    band, so nothing quadratic is shuffled); transitive closure + min-id
    keeper via the same connected-components operator the text dedup family
    uses. This is the scale shape of semantic dedup at 100 TB: LSH blocking
    keeps the pair count sum-of-bucket-squares, and the closure is O(log n)
    rounds. Returns every clustered vector: (vec_id, component=keeper,
    is_dup). Oracle: identical SRP candidates (shared CTE chain), exact
    cosine threshold, recursive-CTE closure."""
    from nifi_daffodil_spark.operators.similarity import as_double_vecs, srp_lsh_pairs
    from nifi_daffodil_spark.operators.text_dedup import resolve_keepers

    e = _t(spark, sf_dir, "embeddings")
    pairs = srp_lsh_pairs(
        as_double_vecs(e),
        dim=64,
        n_bands=N_SRP_BANDS,
        rows_per_band=SRP_ROWS_PER_BAND,
        min_cos=SEMDEDUP_T,
    ).select("d1", "d2")
    return resolve_keepers(pairs).select(
        F.col("doc_id").alias("vec_id"), "component", "is_dup"
    )


def _semantic_oracle() -> str:
    return f"""
WITH RECURSIVE {_srp_cand_cte()},
pairs AS (
  SELECT c.d1, c.d2
  FROM cand c JOIN u x ON x.vec_id = c.d1 JOIN u y ON y.vec_id = c.d2
  WHERE list_dot_product(x.u, y.u) >= {SEMDEDUP_T}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
SELECT node AS vec_id, min(label) AS component,
       CASE WHEN node = min(label) THEN 0 ELSE 1 END AS is_dup
FROM reach GROUP BY node
"""


def q_corpus_pipeline(spark, sf_dir):
    """FLAGSHIP training-data pipeline composition (round-5): the full
    pre-training corpus pass a reference user would run, end-to-end in one
    declarative plan — language-ID gate (stopword ratio > 0.05) -> quality
    gate (score >= {QUALITY_T}, >= {MIN_WORDS} words) -> MinHash+LSH
    near-dup removal with exact-Jaccard verify and transitive-closure
    keeper selection -> per-surviving-doc stats (words, quality, regex
    tokens). Each stage is individually graded elsewhere (text_langid,
    text_quality, dedup_corpus, text_token_count); this entry grades their
    COMPOSITION. Plan shape: one explode+groupBy for the metrics, one
    broadcast-able metrics join, then the bounded-shuffle dedup pipeline
    over the kept subset only — filters run BEFORE pair generation, so the
    quadratic-risk stage sees the smallest corpus. Runnable standalone on
    any corpus parquet via `jobs/run_pipeline.py`."""
    from nifi_daffodil_spark.operators.corpus import corpus_pipeline

    d = _t(spark, sf_dir, "documents")
    survivors, _drops = corpus_pipeline(
        d,
        id_col="doc_id",
        text_col="text",
        stopwords=EN_STOPWORDS,
        stop_ratio_t=0.05,
        quality_t=QUALITY_T,
        min_words=MIN_WORDS,
        method="minhash",
        threshold=JACCARD_T,
        n_hashes=N_MINHASH,
        max_bucket_size=MAX_MINHASH_BUCKET,
    )
    return survivors.select(
        "doc_id",
        "n_words",
        "quality",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
    )


O_CORPUS_PIPELINE = f"""
WITH RECURSIVE
w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
a AS (SELECT doc_id, count(*) AS n_words,
             sum(CASE WHEN w IN {_STOP_SQL} THEN 1 ELSE 0 END) AS hits
      FROM w GROUP BY doc_id),
m AS (SELECT doc_id, n_words, hits * 1.0 / n_words AS stop_ratio,
             round(least(1.0, n_words / 100.0) * 0.5 +
                   (hits * 1.0 / n_words) * 0.5, 4) AS quality
      FROM a),
kept AS (SELECT d.doc_id, d.text, m.n_words, m.quality
         FROM documents d JOIN m USING (doc_id)
         WHERE m.stop_ratio > 0.05 AND m.quality >= {QUALITY_T}
           AND m.n_words >= {MIN_WORDS}),
sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
            LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM (SELECT i.d1, i.d2, i.inter, s1.sz AS sz1, s2.sz AS sz2
        FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                     JOIN sizes s2 ON i.d2 = s2.doc_id)
  WHERE inter / (sz1 + sz2 - inter) >= {JACCARD_T}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
drops AS (
  SELECT node FROM reach GROUP BY node HAVING node <> min(label))
SELECT doc_id, n_words, quality,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
FROM kept
WHERE doc_id NOT IN (SELECT node FROM drops)
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: signature_i = min(xxhash64(i || shingle))
    (engine-internal — the oracle is the exhaustive exact-Jaccard set and
    never computes signatures), bands r=1 b={N_MINHASH}, band buckets capped at
    {MAX_MINHASH_BUCKET} docs (a k-doc bucket is k^2 candidates — the cap
    bounds the worst bucket at corpus scale; it does not bind at this sf),
    candidates verified with exact Jaccard. Oracle = exhaustive exact
    Jaccard: equal output iff LSH recall is total at this threshold
    (P(miss) = (1-s)^16 <= 1.5e-5 at s=0.5)."""
    from nifi_daffodil_spark.operators.text_dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n_hashes=N_MINHASH,
        rows_per_band=1,
        threshold=JACCARD_T,
        max_bucket_size=MAX_MINHASH_BUCKET,
    ).select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint from md5 nibble top-bits over the word
    multiset — portable: instr('0123456789abcdef', nibble) works in both."""
    from nifi_daffodil_spark.operators.text_dedup import simhash16

    return simhash16(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_oracle() -> str:
    terms_s = ", ".join(
        "sum(CASE WHEN instr('0123456789abcdef', substring(h, %d, 1)) - 1 >= 8 "
        "THEN 1 ELSE -1 END) AS s%d" % (j + 1, j)
        for j in range(16)
    )
    bits = " + ".join(f"CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hexed AS (SELECT doc_id, md5(w) AS h FROM words),
agg AS (SELECT doc_id, {terms_s} FROM hexed GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16 FROM agg
"""


def q_doc_simhash64(spark, sf_dir):
    """64-bit SimHash fingerprint (4 x 16-bit md5-salted slices, hex-string
    packed — portable). The 16-bit variant collides trivially at corpus
    scale (round-1 verdict); near-pair blocking over the 4 slices is
    pigeonhole-exact for hamming <= 3 (tests/test_training_ops.py)."""
    from nifi_daffodil_spark.operators.text_dedup import simhash64

    d = _t(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text").select("doc_id", "simhash64")


def _simhash64_oracle() -> str:
    terms = ", ".join(
        f"sum(CASE WHEN instr('0123456789abcdef', substring(h{b}, {j + 1}, 1)) - 1 >= 8 "
        f"THEN 1 ELSE -1 END) AS s{b}_{j}"
        for b in range(4)
        for j in range(16)
    )
    slices = ", ".join(
        "("
        + " + ".join(f"CASE WHEN s{b}_{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(16))
        + f") AS b{b}"
        for b in range(4)
    )
    hexed = ", ".join(f"md5('{b}:' || w) AS h{b}" for b in range(4))
    fp = " || ".join(f"lpad(hex(b{b}), 4, '0')" for b in range(4))
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hexed AS (SELECT doc_id, {hexed} FROM words),
agg AS (SELECT doc_id, {terms} FROM hexed GROUP BY doc_id),
sl AS (SELECT doc_id, {slices} FROM agg)
SELECT doc_id, {fp} AS simhash64 FROM sl
"""


def q_neardup_cosine(spark, sf_dir):
    """Embedding near-dup: top-20 most-similar pairs by cosine, EXHAUSTIVE.
    This entry is the fixture-scale oracle contract (all-pairs join — fine
    at 500 rows, not a scale path); the scale path with the same output is
    `neardup_cosine_lsh`. Vectors are L2-normalized ONCE, so the pair stage
    does a single sequential-fold dot product — the same op order DuckDB's
    list_dot_product uses, giving bit-identical doubles."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    en = e.select(
        "vec_id", F.transform(F.col("v"), lambda x: x / nrm).alias("u")
    )
    a = en.select(F.col("vec_id").alias("v1"), F.col("u").alias("u1"))
    b = en.select(F.col("vec_id").alias("v2"), F.col("u").alias("u2"))
    dot = F.aggregate(
        F.zip_with(F.col("u1"), F.col("u2"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .withColumn("cos", dot)
        .orderBy(F.col("cos").desc(), "v1", "v2")
        .limit(20)
        .select("v1", "v2", F.round("cos", 4).alias("cos_sim"))
    )


O_NEARDUP_COS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm, v FROM e),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       round(list_dot_product(a.u, b.u), 4) AS cos_sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
ORDER BY list_dot_product(a.u, b.u) DESC, v1, v2 LIMIT 20
"""


def q_neardup_cosine_lsh(spark, sf_dir):
    """SCALE path for embedding near-dup: banded sign-random-projection LSH
    (b={N_SRP_BANDS}, r={SRP_ROWS_PER_BAND}) — one Arrow kernel per (band,
    key) bucket emits each candidate pair once, from its lowest colliding
    band, with its exact cosine; the plan has one exchange and no join or
    cartesian product (the brute-force entry is O(n^2)). The hyperplane
    coefficients are md5-derived ±1 literals, so the oracle replicates the
    exact same projections in SQL — equality is by construction; recall vs
    brute force is asserted separately in tests/test_training_ops.py."""
    from nifi_daffodil_spark.operators.similarity import as_double_vecs, srp_lsh_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = srp_lsh_pairs(
        as_double_vecs(e), dim=64, n_bands=N_SRP_BANDS, rows_per_band=SRP_ROWS_PER_BAND
    )
    return (
        pairs.orderBy(F.col("cos").desc(), "d1", "d2")
        .limit(20)
        .select(
            F.col("d1").alias("v1"),
            F.col("d2").alias("v2"),
            F.round("cos", 4).alias("cos_sim"),
        )
    )


def _srp_oracle() -> str:
    """DuckDB replication of q_neardup_cosine_lsh: identical md5-derived
    hyperplanes, identical band keys, identical candidate join — the dot
    products use the same left-fold order, so bits and cosines are
    bit-identical across engines."""
    return f"""
WITH {_srp_cand_cte()}
SELECT c.d1 AS v1, c.d2 AS v2,
       round(list_dot_product(x.u, y.u), 4) AS cos_sim
FROM cand c JOIN u x ON x.vec_id = c.d1 JOIN u y ON y.vec_id = c.d2
ORDER BY list_dot_product(x.u, y.u) DESC, v1, v2 LIMIT 20
"""


def _srp_cand_cte() -> str:
    """The WITH-clause CTE chain (e, nrm, u, keys, bands, cand) replicating
    srp_lsh_pairs' candidate generation in DuckDB — shared by the
    neardup_cosine_lsh and dedup_semantic oracles so both verify the exact
    same candidate set the Spark operator produces."""
    from nifi_daffodil_spark.operators.similarity import srp_coefficients

    n_bits = N_SRP_BANDS * SRP_ROWS_PER_BAND
    coefs = srp_coefficients(n_bits, 64)

    def lit(row):
        return "[" + ", ".join(f"{c:.1f}" for c in row) + "]"

    def bit(q):
        return f"(CASE WHEN list_dot_product(u, {lit(coefs[q])}) >= 0 THEN 1 ELSE 0 END)"

    key_cols = ",\n    ".join(
        " + ".join(
            f"{bit(j * SRP_ROWS_PER_BAND + i)} * {1 << i}"
            for i in range(SRP_ROWS_PER_BAND)
        )
        + f" AS k{j}"
        for j in range(N_SRP_BANDS)
    )
    band_union = "\n  UNION ALL ".join(
        f"SELECT vec_id, {j} AS band, k{j} AS key FROM keys"
        for j in range(N_SRP_BANDS)
    )
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS n, v FROM e),
u AS (SELECT vec_id, list_transform(v, x -> x / n) AS u FROM nrm),
keys AS (SELECT vec_id, {key_cols} FROM u),
bands AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id)"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 for query vec_id=0 (ANN baseline)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    nq = F.sqrt(F.aggregate(F.col("qv"), F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        j.select("vec_id", (dot / (nv * nq)).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("cos", 4).alias("cos_sim"))
    )


O_ANN_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
FROM e, q WHERE vec_id <> 0
ORDER BY list_dot_product(v, qv) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC,
         vec_id ASC
LIMIT 10
"""


def q_ann_ivf_batch(spark, sf_dir):
    """Batched ANN served from the PERSISTED IVF index (round-3: build
    once to parquet — centroids + cell-partitioned vectors — then serve).
    Three queries answered by ONE distributed job via IvfIndex.topk_batch;
    nprobe = n_cells here, so the result is exhaustively exact and the
    DuckDB oracle can pin it (probe-limited recall is graded by pytest
    instead). The index build is cached per sf_dir; a rerun only LOADS."""
    import hashlib

    from nifi_daffodil_spark.operators.similarity import IvfIndex, as_double_vecs

    e = as_double_vecs(_t(spark, sf_dir, "embeddings"))
    # cache key includes the source file's (size, mtime) fingerprint, so
    # regenerated fixture data invalidates the cached index instead of
    # silently serving stale vectors (code-review finding); the fingerprint
    # also de-races concurrent builders onto distinct paths per data version
    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:12]
    path = os.path.join("/tmp", f"ndspark_ivf_{key}")
    marker = os.path.join(path, "_complete")
    if not os.path.exists(marker):
        IvfIndex.build(e, path, n_cells=8, seed=7)
        open(marker, "w").write("ok")
    idx = IvfIndex.load(spark, path)
    queries = [
        (int(r["vec_id"]), r["v"])
        for r in e.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    out = idx.topk_batch(queries, k=5, nprobe=8)
    return out.select(
        "qid", "vec_id", F.round("cos", 4).alias("cos_sim")
    )


O_ANN_IVF_BATCH = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
scored AS (
  SELECT q.qid, e.vec_id,
         list_dot_product(e.v, q.qv) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
             e.vec_id
         ) AS rn
  FROM e, q)
SELECT qid, vec_id, round(cos, 4) AS cos_sim FROM scored WHERE rn <= 5
"""


def q_text_langid(spark, sf_dir):
    """Heuristic language ID by stopword ratio (n-gram heuristic family)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    agg = words.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w").isin(*EN_STOPWORDS), 1).otherwise(0)).alias("hits"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "doc_id",
        F.when(F.col("hits") / F.col("n") > 0.05, F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
    )


O_LANGID = f"""
SELECT doc_id,
       CASE WHEN sum(CASE WHEN w IN {_STOP_SQL} THEN 1 ELSE 0 END) * 1.0
                 / count(*) > 0.05
            THEN 'en' ELSE 'und' END AS lang_pred
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY doc_id
"""


def q_text_quality(spark, sf_dir):
    """Quality score: length + stopword-ratio heuristic, deterministic."""
    d = _t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    agg = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("w").isin(*EN_STOPWORDS), 1).otherwise(0)).alias("stop_hits"),
    )
    score = F.round(
        F.least(F.lit(1.0), F.col("n_words") / 100.0) * 0.5
        + (F.col("stop_hits") / F.col("n_words")) * 0.5,
        4,
    )
    return agg.select("doc_id", "n_words", score.alias("quality"))


O_QUALITY = f"""
SELECT doc_id, count(*) AS n_words,
       round(least(1.0, count(*) / 100.0) * 0.5 +
             (sum(CASE WHEN w IN {_STOP_SQL} THEN 1 ELSE 0 END) * 1.0 / count(*)) * 0.5, 4)
       AS quality
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY doc_id
"""


def q_text_token_count(spark, sf_dir):
    """Token counting: whitespace + regex token classes (BPE-ish).
    Map-only with a heavy per-row regex -> _spread the scan."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
    )


O_TOKENS = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5-based 16-hex content hash (portable)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.md5(F.lower(F.trim("text"))), 1, 16).alias("fingerprint"),
    )


O_FINGERPRINT = """
SELECT doc_id, substring(md5(lower(trim(text))), 1, 16) AS fingerprint
FROM documents
"""


def q_csv_roundtrip(spark, sf_dir):
    """CSV fixture loader (reference csv.dfdl.xsd + tokens.csv family):
    documents are written to a QUOTE_ALL CSV deterministically (driver-side,
    sorted by doc_id) and read back with the declared-schema RFC-4180 reader
    (quote='\"', escape='\"', multiLine, FAILFAST). The oracle computes the
    same digest from the parquet directly, so a hash match proves the CSV
    round-trip preserved every byte (incl. quoted commas)."""
    import hashlib

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from nifi_daffodil_spark.sources.csv_fixture import (
        read_csv_fixture,
        write_csv_fixture,
    )

    # size guard (round-2 verdict item #7): this loader materializes the
    # table driver-side BY DESIGN (deterministic byte-stable fixture writer);
    # refuse anything beyond fixture scale instead of silently OOMing if
    # someone points it at sf10 — large-scale CSV goes through
    # read_csv_fixture over a distributed df.write.csv instead.
    n_rows = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    if n_rows > 1_000_000:
        raise ValueError(
            f"csv_roundtrip is a fixture loader (driver-side write); "
            f"{n_rows} rows exceeds the 1M guard — use a distributed CSV "
            "write for large tables"
        )
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = sorted(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist(), strict=True))
    path = os.path.join(
        "/tmp",
        f"ndspark_csv_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
        "documents.csv",
    )
    write_csv_fixture(path, ["doc_id", "text"], rows)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    df = read_csv_fixture(spark, path, schema)
    return df.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("text_len"),
    )


O_CSV_ROUNDTRIP = """
SELECT doc_id, md5(text) AS text_md5, CAST(length(text) AS BIGINT) AS text_len
FROM documents
"""


def q_doc_winnow(spark, sf_dir):
    """Rolling-hash document fingerprinting by winnowing (MOSS): hash every
    char 8-gram, keep each 4-window's minimum — position-robust fingerprints
    at ~2/(w+1) the gram count, computed in one map-only projection."""
    from nifi_daffodil_spark.operators.text_dedup import winnow_fingerprints

    fps = winnow_fingerprints(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=8, w=4
    )
    return fps.select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fp"),
        F.array_min("fingerprints").alias("fp_min"),
        F.array_max("fingerprints").alias("fp_max"),
    )


O_DOC_WINNOW = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 8 THEN
           list_transform(range(1, length(text) - 6), i -> md5(substring(text, i, 8)))
         ELSE [] END AS grams
  FROM documents),
w AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_sort(list_distinct(list_transform(range(1, len(grams) - 2),
             j -> list_aggregate(grams[j:j+3], 'min'))))
         ELSE [] END AS fps
  FROM g)
SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
       list_aggregate(fps, 'min') AS fp_min,
       list_aggregate(fps, 'max') AS fp_max
FROM w
"""


def q_multimodal_bytes(spark, sf_dir):
    """Opaque-binary plumbing check: byte lengths of payloads (the decode
    itself is stubbed in operators/multimodal.py — no codec libs here)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        (F.octet_length("text") % 256).cast("long").alias("fake_checksum"),
    )


O_MULTIMODAL = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) % 256 AS BIGINT) AS fake_checksum
FROM documents
"""


def q_agg_quantiles(spark, sf_dir):
    """Exact median / p95 of event value per event_type (the quantile
    family; Spark's exact `percentile` agg — approx_count_distinct/
    percentile_approx are sketches whose bit-level output is
    engine-specific, so the ORACLE-GRADED entry uses the exact form and the
    sketch variants stay engine-internal). Linear interpolation semantics
    match DuckDB's quantile_cont."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


O_AGG_QUANTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) — the standard
    interaction-log primitive for training-data pipelines. Pure windows:
    lag -> new-session flag -> running sum = session seq -> session-level
    agg. Two window passes + one agg over the SAME (user_id) partitioning,
    so Catalyst reuses one shuffle for all three. Ties broken by event_id
    (deterministic, mirrored in the oracle)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; ANSI forbids ntz->long directly.
    # unix_micros keeps FULL microsecond precision — a whole-second cast
    # truncates, so a 1800.9s gap would read as 1800 and disagree with the
    # oracle's exact INTERVAL compare (code-review finding). The GAP is a
    # difference, so the ntz->timestamp session-tz offset cancels.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = flagged.withColumn("session_seq", F.sum("is_new").over(run))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


O_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0
         END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, CAST(sum(is_new) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS session_seq
  FROM o)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts
FROM s GROUP BY user_id, session_seq
"""


def q_tpch_q3_topk(spark, sf_dir):
    """TPC-H Q3 analog (shipping-priority top-k): three-way join
    customer ⋈ orders ⋈ lineitem with selective filters on both sides,
    revenue agg per order, top 10. Plan properties the plan tests lock
    elsewhere apply here: customer (150 rows x sf) broadcasts, filters push
    to every scan, the only wide shuffle is the revenue agg."""
    cutoff = "1996-03-15"  # the classic Q3 date; data spans 1995..2001
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_r")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


O_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_asof_join(spark, sf_dir):
    """As-of (backward) join: each purchase event gets the user's most
    recent view at-or-before its timestamp. Spark re-expression = tagged
    union + one per-key window (no range join, no interval explosion);
    oracle = DuckDB's NATIVE `ASOF LEFT JOIN`, so the semantics (inclusive
    <=, latest match, left rows without a match kept) are pinned against an
    independent implementation. Right side pre-deduped per (user, ts) by
    max event_id — equal-timestamp matches are ambiguous otherwise."""
    from nifi_daffodil_spark.operators.asof import asof_join

    purchases, views = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases,
        views,
        on="user_id",
        ts="ts",
        right_cols={"event_id": "view_id", "ts": "view_ts", "value": "view_value"},
    )


O_ASOF_JOIN = """
WITH v AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
vr AS (SELECT user_id, ts, event_id, value FROM v WHERE rn = 1),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts, p.value,
       vr.event_id AS view_id, vr.ts AS view_ts, vr.value AS view_value
FROM p ASOF LEFT JOIN vr ON p.user_id = vr.user_id AND p.ts >= vr.ts
"""


def _asof_sides(spark, sf_dir):
    """Shared left/right inputs for the as-of family: purchases vs views
    pre-deduped per (user, ts) by max event_id. Round-6: the dedup is a
    hash aggregation (max event_id + max_by value) instead of a row_number
    window — identical winner rows (event_ids are unique, the tiebreak
    never fired), map-side partials, and no per-key sort before the as-of
    union's own window."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("value", "event_id").alias("value"),
        )
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return purchases, views


def q_asof_tolerance(spark, sf_dir):
    """Backward as-of with a max-gap tolerance (round-3 verdict item #5):
    a view more than 6h before the purchase is no longer 'prevailing' and
    the match is nulled. Because the as-of match is the NEAREST qualifying
    row, tolerance composes as a post-filter — the oracle applies the same
    CASE over DuckDB's native ASOF result."""
    from nifi_daffodil_spark.operators.asof import asof_join

    purchases, views = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases,
        views,
        on="user_id",
        ts="ts",
        right_cols={"event_id": "view_id", "ts": "view_ts", "value": "view_value"},
        tolerance=6 * 3600,
    )


O_ASOF_TOLERANCE = """
WITH v AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
vr AS (SELECT user_id, ts, event_id, value FROM v WHERE rn = 1),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts, p.value,
       CASE WHEN p.ts - vr.ts <= INTERVAL 21600 SECOND THEN vr.event_id END AS view_id,
       CASE WHEN p.ts - vr.ts <= INTERVAL 21600 SECOND THEN vr.ts END AS view_ts,
       CASE WHEN p.ts - vr.ts <= INTERVAL 21600 SECOND THEN vr.value END AS view_value
FROM p ASOF LEFT JOIN vr ON p.user_id = vr.user_id AND p.ts >= vr.ts
"""


def q_asof_forward(spark, sf_dir):
    """FORWARD as-of (round-3 verdict item #5): each purchase gets the
    user's EARLIEST view at-or-after it (next-touch attribution). Same
    one-shuffle tagged-union window plan with the time axis reversed;
    oracle = DuckDB native ASOF with the comparison flipped to `<=`."""
    from nifi_daffodil_spark.operators.asof import asof_join

    purchases, views = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases,
        views,
        on="user_id",
        ts="ts",
        right_cols={"event_id": "view_id", "ts": "view_ts", "value": "view_value"},
        direction="forward",
    )


O_ASOF_FORWARD = """
WITH v AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
vr AS (SELECT user_id, ts, event_id, value FROM v WHERE rn = 1),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts, p.value,
       vr.event_id AS view_id, vr.ts AS view_ts, vr.value AS view_value
FROM p ASOF LEFT JOIN vr ON p.user_id = vr.user_id AND p.ts <= vr.ts
"""


def q_multimodal_decode(spark, sf_dir):
    """REAL media decode, no codec libs (round-2 verdict item #5):
    deterministic BMP (4x2 24-bpp, pixels = md5(doc_id) bytes + first 8
    again) and WAV (8 kHz mono 16-bit, samples = md5 bytes) containers are
    assembled with pure Catalyst binary concat, then parsed back — headers,
    chunk walk, padding — by numpy inside mapInPandas. The oracle recomputes
    the expected metadata and mean values from the same md5 hex string, so a
    header-offset or endianness bug in the decoder mismatches."""
    from nifi_daffodil_spark.operators.multimodal import (
        bmp_bytes,
        decode_media,
        wav_bytes,
    )

    bmp_hdr = bmp_bytes(4, 2, b"\x00" * 24)[:54]
    wav_hdr = wav_bytes(8000, b"\x00" * 16)[:44]
    # container assembly + Arrow decode is per-row heavy -> _spread the scan
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id"))
    digest = F.unhex(F.md5(F.col("doc_id").cast("string")))
    even = F.col("doc_id") % 2 == 0
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(even, F.lit("image")).otherwise(F.lit("audio")).alias("kind"),
        F.when(
            even,
            F.concat(F.lit(bmp_hdr), digest, F.expr("substring(unhex(md5(cast(doc_id as string))), 1, 8)")),
        )
        .otherwise(F.concat(F.lit(wav_hdr), digest))
        .alias("payload"),
    )
    return decode_media(media).select(
        "media_id",
        "kind",
        "width",
        "height",
        "sample_rate",
        "n_samples",
        F.round("mean_value", 6).alias("mean_value"),
    )


def _multimodal_decode_oracle() -> str:
    # byte i (0-based) of the md5 digest from its hex rendering
    def byte(i):
        n1 = f"(instr('0123456789abcdef', substring(h, {2 * i + 1}, 1)) - 1)"
        n2 = f"(instr('0123456789abcdef', substring(h, {2 * i + 2}, 1)) - 1)"
        return f"({n1} * 16 + {n2})"

    bmp_sum = " + ".join(byte(i) for i in range(16))  # digest once
    bmp_sum += " + " + " + ".join(byte(i) for i in range(8))  # + first 8 again
    # little-endian int16 sample j from bytes (2j, 2j+1), two's complement
    samples = [
        f"(CASE WHEN {byte(2 * j + 1)} >= 128 THEN {byte(2 * j)} + 256 * {byte(2 * j + 1)} - 65536 "
        f"ELSE {byte(2 * j)} + 256 * {byte(2 * j + 1)} END)"
        for j in range(8)
    ]
    wav_sum = " + ".join(samples)
    return f"""
WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN 4 END AS width,
       CASE WHEN doc_id % 2 = 0 THEN 2 END AS height,
       CASE WHEN doc_id % 2 <> 0 THEN 8000 END AS sample_rate,
       CASE WHEN doc_id % 2 <> 0 THEN 8 END AS n_samples,
       CASE WHEN doc_id % 2 = 0 THEN round(({bmp_sum}) / 24.0, 6)
            ELSE round(({wav_sum}) / 8.0, 6) END AS mean_value
FROM d
"""


def q_cdc_scd2(spark, sf_dir):
    """SCD Type-2 history: every change opens a version interval
    [valid_from, valid_to) per (user_id, event_type) key, closed by the
    NEXT change's timestamp in LSN order; the latest version stays open
    (valid_to NULL, is_current=1). This is the standard lake "history
    table" companion to the LWW current-state table the CDC sink
    maintains — the reference's pipeline keeps only current state
    (AbstractDaffodilProcessor.java transfer of the latest parse), so
    this is the warehouse-side extension a real CDC consumer expects.

    Scale: ONE shuffle on the merge key; lead() is a per-key sorted scan,
    no self-join of the history against itself."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("lsn"),
        F.col("value").alias("val"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


O_CDC_SCD2 = """
SELECT user_id, event_type, event_id AS lsn, value AS val,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(lead(ts) OVER w IS NULL AS INTEGER) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY event_id)
"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: distinct-word ratio and
    top-bigram fraction per document (Rae et al. 2021 §A1.1 use these to
    drop boilerplate/spam before LLM training). Fully MAP-SIDE: bigrams
    are built with transform() over the word array, SORTED, and the
    most-frequent-bigram count falls out as the longest equal-adjacent
    run via aggregate() — no explode, no groupBy, ZERO shuffle (a
    per-doc-count formulation benched 4x slower at sf0.1: the 5M-row
    bigram explode + two aggregations cost more than the in-array sort).
    Docs with <2 words are excluded, matching the oracle's unnest-of-
    empty-list drop. The per-doc bigram sort dominates, so the scan is
    _spread across cores (single-row-group input = one task otherwise;
    4.2 s -> sub-second at 50k docs)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    bigrams = F.expr(
        "array_sort(transform(sequence(0, size(ws) - 2), "
        "                     i -> concat(ws[i], ' ', ws[i + 1])))"
    )
    # longest run of equal adjacent elements in the sorted bigram array =
    # max per-bigram count; (cur, best) scan carried as a 2-int array
    top_c = F.expr(
        "CASE WHEN size(bs) = 1 THEN 1 ELSE aggregate("
        "  sequence(1, size(bs) - 1), array(1, 1),"
        "  (acc, i) -> CASE WHEN bs[i] = bs[i - 1]"
        "    THEN array(acc[0] + 1, greatest(acc[1], acc[0] + 1))"
        "    ELSE array(1, acc[1]) END,"
        "  acc -> acc[1]) END"
    )
    dist_ratio = F.round(F.col("n_distinct") * 1.0 / F.col("n_words"), 6)
    top_frac = F.round(F.col("top_c") * 1.0 / F.col("n_bg"), 6)
    return (
        d.select("doc_id", words.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.size("ws").alias("n_words"),
            F.size(F.array_distinct("ws")).alias("n_distinct"),
            bigrams.alias("bs"),
        )
        .select(
            "doc_id", "n_words", "n_distinct",
            F.size("bs").alias("n_bg"), top_c.alias("top_c"),
        )
        .select(
            "doc_id",
            "n_words",
            dist_ratio.alias("distinct_ratio"),
            top_frac.alias("top_bigram_frac"),
            ((top_frac <= 0.18) & (dist_ratio >= 0.1)).cast("int").alias("keep"),
        )
    )


O_TEXT_REPETITION = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents
), b AS (
  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct,
         unnest(CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                END) AS bg
  FROM w
), c AS (
  SELECT doc_id, n_words, n_distinct, bg, count(*) AS c FROM b GROUP BY ALL
)
SELECT doc_id, n_words,
       round(n_distinct * 1.0 / n_words, 6) AS distinct_ratio,
       round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac,
       CAST(round(max(c) * 1.0 / sum(c), 6) <= 0.18
            AND round(n_distinct * 1.0 / n_words, 6) >= 0.1 AS INTEGER) AS keep
FROM c GROUP BY doc_id, n_words, n_distinct
"""


def q_tpch_q4_semijoin(spark, sf_dir):
    """TPC-H Q4 analog (order-priority checking): count orders in a
    date window having AT LEAST ONE qualifying lineitem — the canonical
    EXISTS shape. Spark re-expression = LEFT SEMI join (no dedup pass,
    no row multiplication when an order has many qualifying lines); the
    date filter pushes to the orders scan and the discount filter to the
    lineitem scan, so the semi join's build side is already pruned."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.06).select(
        "l_orderkey"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


O_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.06)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_cdc_pivot(spark, sf_dir):
    """Pivot (long -> wide): per-user event counts, one column per event
    type. Deliberately NOT DataFrame.pivot(): even with declared values it
    plans TWO aggregations — a (user_id, event_type) count then a
    pivotfirst re-shuffle on user_id alone — i.e. two exchanges. The
    conditional-aggregate form below is the same wide result in ONE hash
    aggregation with map-side partials (one exchange, plan-test locked);
    at 10^10 events that is half the shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in EVENT_TYPES
        ]
    )


O_CDC_PIVOT = "SELECT user_id, " + ", ".join(
    f"count(*) FILTER (event_type = '{t}') AS n_{t}" for t in EVENT_TYPES
) + " FROM events GROUP BY user_id"


def q_cdc_rolling_window(spark, sf_dir):
    """Time-range rolling aggregate: each event's trailing-1-hour value sum
    per user (RANGE frame over the event timestamp, not a row frame — peers
    at the same ts are included both sides, so the result is deterministic
    without a row-order tiebreak). Sums go through DECIMAL(18,4) so both
    engines add exactly. One shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    # ts is TIMESTAMP_NTZ: pure NTZ microsecond arithmetic (no session-tz
    # dependence, unlike unix_micros(CAST(ts AS TIMESTAMP)))
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-hour_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double"), 4
        ).alias("rolling_1h"),
    )


O_CDC_ROLLING = """
SELECT event_id, user_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS DOUBLE), 4) AS rolling_1h
FROM events
"""


def q_agg_count_distinct(spark, sf_dir):
    """Exact distinct aggregation: per-type distinct users + event count.
    Spark plans count(DISTINCT x) alongside count(*) via Expand (one row
    duplicated per aggregate family) + two-level partial aggregation —
    still map-side-combining, still one wide shuffle keyed by the group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


O_AGG_COUNT_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_cdc_changelog(spark, sf_dir):
    """Before/after-image CDC changelog (Debezium envelope): per key whose
    visible state changed across the epoch boundary lsn=5000, emit change
    I/U/D plus the full old and new images. Key := user_id, tombstone :=
    last event_type 'error' (the q_cdc_delete_apply convention); old state
    = LWW before the boundary, new state = LWW over everything.

    Spark-first shape: ONE grouped aggregation computes both images via
    max_by (old side condition-masked), so the whole changelog costs a
    single partial-aggregated shuffle keyed by user_id — no self-join of
    two as-of states, no second exchange. The sink-side equivalent over
    real epochs is ParquetStateSink.read_changelog (join of the range's
    delta dirs against the as-of state of only the touched buckets)."""
    ev = _t(spark, sf_dir, "events")
    lt = F.col("event_id") < 5000
    img = F.struct("event_type", "value", "event_id")
    g = (
        ev.groupBy("user_id")
        .agg(
            F.max_by(img, "event_id").alias("_new"),
            F.max_by(F.when(lt, img), F.when(lt, F.col("event_id"))).alias("_old"),
            F.max(F.when(~lt, 1).otherwise(0)).alias("_touched"),
        )
        .filter(F.col("_touched") == 1)
    )
    old_vis = F.col("_old").isNotNull() & (F.col("_old.event_type") != "error")
    new_vis = F.col("_new.event_type") != "error"
    change = (
        F.when(old_vis & new_vis, "U")
        .when(old_vis & ~new_vis, "D")
        .when(~old_vis & new_vis, "I")
    )
    return (
        g.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            "user_id",
            "change",
            F.when(old_vis, F.col("_old.event_id")).alias("old_lsn"),
            F.when(old_vis, F.col("_old.event_type")).alias("old_type"),
            F.when(old_vis, F.col("_old.value")).alias("old_value"),
            F.when(new_vis, F.col("_new.event_id")).alias("new_lsn"),
            F.when(new_vis, F.col("_new.event_type")).alias("new_type"),
            F.when(new_vis, F.col("_new.value")).alias("new_value"),
        )
    )


O_CDC_CHANGELOG = """
WITH g AS (
  SELECT user_id,
         max(event_id) AS n_lsn,
         arg_max(event_type, event_id) AS n_type,
         arg_max(value, event_id) AS n_value,
         max(event_id) FILTER (WHERE event_id < 5000) AS o_lsn,
         arg_max(event_type, event_id) FILTER (WHERE event_id < 5000) AS o_type,
         arg_max(value, event_id) FILTER (WHERE event_id < 5000) AS o_value
  FROM events GROUP BY user_id
  HAVING max(CASE WHEN event_id >= 5000 THEN 1 ELSE 0 END) = 1),
v AS (
  SELECT *, (o_lsn IS NOT NULL AND o_type <> 'error') AS o_vis,
         (n_type <> 'error') AS n_vis
  FROM g)
SELECT user_id,
       CASE WHEN o_vis AND n_vis THEN 'U'
            WHEN o_vis THEN 'D' ELSE 'I' END AS change,
       CASE WHEN o_vis THEN o_lsn END AS old_lsn,
       CASE WHEN o_vis THEN o_type END AS old_type,
       CASE WHEN o_vis THEN o_value END AS old_value,
       CASE WHEN n_vis THEN n_lsn END AS new_lsn,
       CASE WHEN n_vis THEN n_type END AS new_type,
       CASE WHEN n_vis THEN n_value END AS new_value
FROM v WHERE o_vis OR n_vis
"""


def q_cdc_incr_agg(spark, sf_dir):
    """Incremental aggregate maintenance from the CDC changelog: maintain a
    per-event_type rollup (visible key count + value total) of the LWW state
    by applying changelog deltas to the pre-boundary base aggregate instead
    of recomputing over the new state. The downstream-consumer pattern the
    before/after envelope exists for (materialized-view maintenance):

        final_agg = agg(state@old)  ∪  {-old_image, +new_image per change}

    The oracle RECOMPUTES the same rollup from final state, so a hash match
    proves the delta-application algebra exact — not just plausible. Value
    totals are fixed-point (floor(value*1e6) as BIGINT) so the group-order-
    dependent float summation of two different plans cannot drift.

    Spark-first shape: one grouped agg builds both images per key (the
    q_cdc_changelog trick), contributions are emitted map-side as an
    exploded array, and one tiny second agg sums them — two exchanges
    total, no self-join of two as-of states, no recompute-sized shuffle.
    At 10^10 events the delta side is |changed keys|, not |state|."""
    ev = _t(spark, sf_dir, "events")
    lt = F.col("event_id") < 5000
    micros = F.floor(F.col("value") * F.lit(1e6)).cast("long")
    img = F.struct(
        F.col("event_type").alias("etype"), micros.alias("vmic"), F.col("event_id")
    )
    g = ev.groupBy("user_id").agg(
        F.max_by(img, "event_id").alias("_new"),
        F.max_by(F.when(lt, img), F.when(lt, F.col("event_id"))).alias("_old"),
        F.max(F.when(~lt, 1).otherwise(0)).alias("_touched"),
    )
    old_vis = F.col("_old").isNotNull() & (F.col("_old.etype") != "error")
    new_vis = F.col("_new.etype") != "error"
    touched = F.col("_touched") == 1

    def entry(t, c, v):
        return F.struct(
            t.alias("etype"), F.lit(c).cast("long").alias("dcnt"), v.alias("dmic")
        )

    contribs = F.filter(
        F.array(
            # base: the pre-boundary visible image of every key
            F.when(old_vis, entry(F.col("_old.etype"), 1, F.col("_old.vmic"))),
            # delta: retract the old image of each changed key ...
            F.when(touched & old_vis, entry(F.col("_old.etype"), -1, -F.col("_old.vmic"))),
            # ... and add its new image
            F.when(touched & new_vis, entry(F.col("_new.etype"), 1, F.col("_new.vmic"))),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        g.select(F.explode(contribs).alias("c"))
        .groupBy(F.col("c.etype").alias("event_type"))
        .agg(
            F.sum("c.dcnt").alias("n_keys"),
            F.sum("c.dmic").alias("total_value_micros"),
        )
        .filter(F.col("n_keys") > 0)
    )


# Recompute path: the same rollup straight off final LWW state. Equality
# with the incremental plan above is the point of the test.
O_CDC_INCR_AGG = """
WITH img AS (
  SELECT user_id,
         arg_max(event_type, event_id) AS etype,
         arg_max(value, event_id) AS val
  FROM events GROUP BY user_id)
SELECT etype AS event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CAST(floor(val * 1e6) AS BIGINT)) AS BIGINT) AS total_value_micros
FROM img WHERE etype <> 'error'
GROUP BY etype
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _catalogue() -> list[tuple[str, Callable[[SparkSession, str], DataFrame], str]]:
    """The one registry: (name, Spark query, DuckDB oracle) per entry.
    queries() and oracle_sql() are both views of this table, so an entry
    cannot exist on one side only."""
    return [
        ("cdc_lww_dedup", q_cdc_lww_dedup, O_CDC_LWW),
        ("cdc_route_validation", q_cdc_route_validation, O_CDC_ROUTE),
        ("cdc_merge_upsert", q_cdc_merge_upsert, O_CDC_MERGE),
        ("cdc_delete_apply", q_cdc_delete_apply, O_CDC_DELETE),
        ("cdc_epoch_metrics", q_cdc_epoch_metrics, O_CDC_EPOCH),
        ("cdc_gap_analysis", q_cdc_gap_analysis, O_CDC_GAP),
        ("cdc_hot_keys_topk", q_cdc_hot_keys_topk, O_CDC_HOTK),
        ("cdc_exactly_consumed", q_cdc_exactly_consumed, O_CDC_CONSUMED),
        ("cdc_json_extract", q_cdc_json_extract, O_CDC_JSON),
        ("cdc_time_buckets", q_cdc_time_buckets, O_CDC_TIME),
        ("cdc_collect_transcript", q_cdc_collect_transcript, O_CDC_COLLECT),
        ("cdc_normalize_sql", q_cdc_normalize_sql, O_CDC_NORM),
        ("cdc_external_vars", q_cdc_external_vars, O_CDC_EXTVARS),
        ("cdc_format_dispatch", q_cdc_format_dispatch, O_CDC_DISPATCH),
        ("cdc_el_resolve", q_cdc_el_resolve, O_CDC_EL),
        ("cdc_schema_dispatch", q_cdc_schema_dispatch, O_CDC_SCHEMA_DISPATCH),
        ("binary_fields", q_binary_fields, _binary_oracle()),
        ("join_broadcast_enrich", q_join_broadcast_enrich, O_JOIN_BROADCAST),
        ("join_salted_orders", q_join_salted_orders, O_JOIN_SALTED),
        ("setop_gone_keys", q_setop_gone_keys, O_SETOP),
        ("agg_pricing_summary", q_agg_pricing_summary, O_AGG_PRICING),
        ("agg_rollup", q_agg_rollup, O_AGG_ROLLUP),
        ("dedup_exact", q_dedup_exact, O_DEDUP_EXACT),
        ("dedup_ngram_jaccard", q_dedup_ngram_jaccard, O_NGRAM_JACCARD),
        ("dedup_components", q_dedup_components, O_DEDUP_COMPONENTS),
        # LSH must reproduce the exhaustive (uncapped) result:
        ("dedup_minhash_lsh", q_dedup_minhash_lsh, O_NGRAM_JACCARD_EXHAUSTIVE),
        ("dedup_corpus", q_dedup_corpus, O_DEDUP_CORPUS),
        ("dedup_semantic", q_dedup_semantic, _semantic_oracle()),
        ("corpus_pipeline", q_corpus_pipeline, O_CORPUS_PIPELINE),
        ("dedup_simhash", q_dedup_simhash, _simhash_oracle()),
        ("doc_simhash64", q_doc_simhash64, _simhash64_oracle()),
        ("neardup_cosine", q_neardup_cosine, O_NEARDUP_COS),
        ("neardup_cosine_lsh", q_neardup_cosine_lsh, _srp_oracle()),
        ("ann_topk", q_ann_topk, O_ANN_TOPK),
        ("ann_ivf_batch", q_ann_ivf_batch, O_ANN_IVF_BATCH),
        ("text_langid", q_text_langid, O_LANGID),
        ("text_quality", q_text_quality, O_QUALITY),
        ("text_token_count", q_text_token_count, O_TOKENS),
        ("doc_fingerprint", q_doc_fingerprint, O_FINGERPRINT),
        ("doc_winnow", q_doc_winnow, O_DOC_WINNOW),
        ("multimodal_bytes", q_multimodal_bytes, O_MULTIMODAL),
        ("multimodal_decode", q_multimodal_decode, _multimodal_decode_oracle()),
        ("asof_join", q_asof_join, O_ASOF_JOIN),
        ("asof_tolerance", q_asof_tolerance, O_ASOF_TOLERANCE),
        ("asof_forward", q_asof_forward, O_ASOF_FORWARD),
        ("sessionize", q_sessionize, O_SESSIONIZE),
        ("agg_quantiles", q_agg_quantiles, O_AGG_QUANTILES),
        ("tpch_q3_topk", q_tpch_q3_topk, O_TPCH_Q3),
        ("tpch_q4_semijoin", q_tpch_q4_semijoin, O_TPCH_Q4),
        ("cdc_scd2", q_cdc_scd2, O_CDC_SCD2),
        ("text_repetition", q_text_repetition, O_TEXT_REPETITION),
        ("cdc_pivot", q_cdc_pivot, O_CDC_PIVOT),
        ("cdc_rolling_window", q_cdc_rolling_window, O_CDC_ROLLING),
        ("agg_count_distinct", q_agg_count_distinct, O_AGG_COUNT_DISTINCT),
        ("cdc_changelog", q_cdc_changelog, O_CDC_CHANGELOG),
        ("cdc_incr_agg", q_cdc_incr_agg, O_CDC_INCR_AGG),
        ("csv_roundtrip", q_csv_roundtrip, O_CSV_ROUNDTRIP),
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query for name, query, _ in _catalogue()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, _, oracle in _catalogue()}
