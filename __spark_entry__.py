"""Driver contract for the spark-graft builder (PySpark target).

``entry``    - flagship: byte-identity PDF extraction round-trip on sf0.001.
``queries``  - one entry per implemented operator (SURVEY.md section 2.B plus
               the training-data operators: dedup / similarity / text
               analysis / multimodal).
``oracle_sql`` - DuckDB twins.  Float discipline: no float SUM/AVG (partial
               aggregation order would break bit-parity) - money is summed
               in integer cents; per-row float math (cosine etc.) is
               identical IEEE-754 on both engines and rounded to 6dp.

Every registered query has a DuckDB twin (46 queries, 46 oracles);
genuinely non-SQL ops (stateful streaming dedup, windowed streaming
aggregation) live behind pytest pins instead of registry entries.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from livre_spark.functions import dedup as dd
from livre_spark.functions import similarity as sim
from livre_spark.functions import textstats as ts
from livre_spark.operators.extraction import map_rows
from livre_spark.operators.skew import ensure_scan_parallelism as _par

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: PDF extraction round-trip (B7 + byte-identity contract)
# ---------------------------------------------------------------------------


def _roundtrip_row(doc_id, text):
    """Per row: text -> synthetic PDF -> full extraction kernel -> text.

    The writer guarantees (by construction) that the extracted text is
    "\\n" + original, so the DuckDB oracle can check byte identity.
    """
    from livre_spark.pdf.api import extract_text
    from livre_spark.pdf.genpdf import build_pdf, text_to_show_op

    content = b"BT /F1 12 Tf 72 720 Td " + text_to_show_op(text) + b" ET"
    result = extract_text(build_pdf([content]))
    yield {"url": f"pdf://{doc_id}", "text": result["text"],
           "n_pages": result["n_pages"]}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par: the single-row-group documents scan yields ONE task, so the
    # whole Python kernel would run on one core (guide 2.5)
    return _par(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_docs(spark, sf_dir), _roundtrip_row,
                    "url string, text string, n_pages int")


SQL_EXTRACT_ROUNDTRIP = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       chr(10) || text AS text,
       1 AS n_pages
FROM documents
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_roundtrip(spark, SF001)


# ---------------------------------------------------------------------------
# B3/B4: projection + filter pushdown
# ---------------------------------------------------------------------------


def q_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_quantity") >= 30)
                      & (F.col("l_returnflag") == "R"))
            .select("l_orderkey", "l_linenumber",
                    F.col("l_quantity").cast("long").alias("qty"),
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    .alias("price_cents")))


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS BIGINT) AS qty,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_quantity >= 30 AND l_returnflag = 'R'
"""


# B5: size-bucketed partitioning key (the skew-kill bucketing, observable)
def q_size_bucket(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .withColumn("bucket", F.floor(F.col("n_chars") / F.lit(100.0))
                        .cast("long"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


SQL_SIZE_BUCKET = """
SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


# B6: deterministic salting distribution
def q_salting(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(16)))
            .groupBy("salt").agg(F.count("*").alias("n")))


SQL_SALTING = "SELECT doc_id % 16 AS salt, count(*) AS n FROM documents GROUP BY 1"


# B9: explode
def q_explode_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("token"))
            .groupBy("token").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 5))


SQL_EXPLODE_TOKENS = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents)
GROUP BY token HAVING count(*) >= 5
"""


# B11: aggregation rollup (TPC-H Q1 shape, integer-cents discipline)
def q_agg_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = F.round(F.col("l_extendedprice")
                         * (1 - F.col("l_discount")) * 100).cast("long")
    return (li.filter(F.col("l_shipdate") <= F.lit("2024-12-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                 F.sum(cents).alias("sum_base_cents"),
                 F.sum(disc_cents).alias("sum_disc_cents"),
                 F.count("*").alias("count_order")))


SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# B12: window dedup - latest event per user
def q_window_latest(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type",
                    F.round(F.col("value") * 100).cast("long")
                    .alias("value_cents")))


SQL_WINDOW_LATEST = """
SELECT user_id, event_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS value_cents
FROM (SELECT *, row_number() OVER
        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


# B13: broadcast inner join + rollup
def q_join_broadcast(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (orders
            .join(F.broadcast(customer),
                  orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("revenue_cents")))


SQL_JOIN_BROADCAST = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# B13: anti join - customers with no orders
def q_anti_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (customer.join(orders, customer.c_custkey == orders.o_custkey,
                          "left_anti")
            .select("c_custkey", "c_name"))


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# B13: semi join - parts that appear in some lineitem
def q_semi_join(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (part.join(li, part.p_partkey == li.l_partkey, "left_semi")
            .select("p_partkey", "p_brand"))


SQL_SEMI_JOIN = """
SELECT p_partkey, p_brand FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


# B14: top-k
def q_topk_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders
            .select("o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("price_cents"))
            .orderBy(F.col("price_cents").desc(), F.col("o_orderkey"))
            .limit(10))


SQL_TOPK_ORDERS = """
SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10
"""


# B15: set operations (value threshold keeps the sets distinguishable -
# without it every user has every event type and all differences are empty)
def q_setops(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def users_of(etype):
        return (ev.filter((F.col("event_type") == etype)
                          & (F.col("value") > 90))
                .select("user_id").distinct())

    clickers, erroring, signups = map(users_of, ("click", "error", "signup"))
    return (clickers.subtract(erroring)
            .union(erroring.intersect(signups))
            .distinct())


SQL_SETOPS = """
(SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 90
 EXCEPT
 SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 90)
UNION
(SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 90
 INTERSECT
 SELECT DISTINCT user_id FROM events WHERE event_type = 'signup' AND value > 90)
"""


# B16: dedup / distinct
def q_distinct(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


SQL_DISTINCT = "SELECT DISTINCT lang, source FROM documents"


# B17: scalar string/date/math functions
def q_scalar_functions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.filter(F.col("event_id") % 97 == 0)
            .select("event_id",
                    F.to_date(F.col("ts")).alias("day"),
                    F.upper(F.col("event_type")).alias("type_upper"),
                    F.length(F.col("props")).alias("props_len"),
                    F.md5(F.col("event_type")).alias("type_md5"),
                    F.round(F.col("value") * 100).cast("long")
                    .alias("value_cents"),
                    F.pmod(F.col("user_id"), F.lit(7)).alias("user_mod")))


SQL_SCALAR_FUNCTIONS = """
SELECT event_id, CAST(ts AS DATE) AS day,
       upper(event_type) AS type_upper,
       length(props) AS props_len,
       md5(event_type) AS type_md5,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       user_id % 7 AS user_mod
FROM events WHERE event_id % 97 = 0
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", ts.token_count(F.col("text")).alias("n_tokens"))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id",
                       ts.quality_score(F.col("text")).alias("quality"))


# mechanically parallel to textstats.quality_score
SQL_QUALITY_SCORE = """
WITH q AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE)
             AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents)
SELECT doc_id,
       round(least(n_chars / 1000.0, 1.0) * 0.5
             + least(CASE WHEN n_tokens > 0 THEN n_chars / n_tokens
                          ELSE 0.0 END / 10.0, 1.0) * 0.3
             + (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars
                            ELSE 0.0 END * 10.0, 1.0)) * 0.2, 6) AS quality
FROM q
"""


def q_lang_guess(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", ts.lang_guess(F.col("text")).alias("lang_guess"))


def _occ_sql(probe: str) -> str:
    return (f"(length(p) - length(replace(p, '{probe}', '')))"
            f" // {len(probe)}")


SQL_LANG_GUESS = f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
scores AS (
  SELECT doc_id,
    {_occ_sql(' the ')} + {_occ_sql(' and ')} + {_occ_sql(' of ')} AS en,
    {_occ_sql(' le ')} + {_occ_sql(' et ')} + {_occ_sql(' les ')} AS fr,
    {_occ_sql(' der ')} + {_occ_sql(' und ')} + {_occ_sql(' die ')} AS de
  FROM padded)
SELECT doc_id,
       CASE WHEN en >= fr AND en >= de THEN 'en'
            WHEN fr >= de THEN 'fr' ELSE 'de' END AS lang_guess
FROM scores
"""


def q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", ts.fingerprint(F.col("text")).alias("fp"))


SQL_FINGERPRINT = "SELECT doc_id, md5(text) AS fp FROM documents"


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenizer token count (LLM-budget proxy)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id",
                       ts.bpe_token_count(F.col("text")).alias("n_bpe"))


SQL_BPE_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{ts.BPE_PATTERN}')) AS BIGINT)
           AS n_bpe
FROM documents
"""


def q_fingerprint_rolling(spark, sf_dir):
    """Rabin-Karp polynomial rolling hash over document characters."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id",
                       ts.rolling_fingerprint(F.col("text")).alias("rfp"))


SQL_FINGERPRINT_ROLLING = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT)),
         (acc, c) -> (acc * {ts.ROLL_BASE} + c) % {ts.ROLL_MOD}) AS rfp
FROM documents
"""


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup keyed on a normalized prefix (full-text md5 has no
    collisions in the synthetic corpus; the 20-char prefix does)."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.withColumn("fp", F.md5(F.substring(F.col("text"), 1, 20)))
    return (keyed.groupBy("fp")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_dups") > 1))


SQL_DEDUP_EXACT = """
SELECT md5(substr(text, 1, 20)) AS fp, count(*) AS n_dups,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""

# shared shingle SQL fragment (k = 3, mechanically parallel to dedup.shingles)
_SH_SQL = """
  SELECT doc_id,
    CASE WHEN len(w) < 3 THEN []
         ELSE list_transform(generate_series(0, len(w) - 3),
                             i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))
    END AS sh
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents)
"""


def _mh_sql(i: int) -> str:
    """Mirror of dedup's universal-hash family: one md5 base per
    shingle, affine (A_i*b + B_i) % M per family."""
    a, b, m = dd._MH_A[i], dd._MH_B[i], dd.MH_MOD
    base = f"(('0x' || substr(md5('0|' || s), 1, 15))::BIGINT % {m})"
    return (f"coalesce(list_min(list_transform(sh, s -> "
            f"({base} * {a} + {b}) % {m})), -1)")


def q_dedup_minhash_sig(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (dd.minhash_signature_df(docs, "text", "doc_id", 4, 3)
            .select(F.col("id").alias("doc_id"),
                    *[F.col(f"mh{i}") for i in range(4)]))


SQL_DEDUP_MINHASH_SIG = f"""
WITH sh AS ({_SH_SQL})
SELECT doc_id, {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1,
       {_mh_sql(2)} AS mh2, {_mh_sql(3)} AS mh3
FROM sh
"""


_MH_LSH_MAX_BUCKET = 50  # hot-bucket cap (see dedup.minhash_lsh_pairs)


def q_dedup_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, n_hashes=4, bands=2, k=3,
                                max_bucket=_MH_LSH_MAX_BUCKET)


SQL_DEDUP_MINHASH_LSH = f"""
WITH sh AS ({_SH_SQL}),
sig AS (SELECT doc_id AS id, {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1,
               {_mh_sql(2)} AS mh2, {_mh_sql(3)} AS mh3 FROM sh),
buckets AS (
  SELECT id, 0 AS band,
         md5(CAST(mh0 AS VARCHAR) || ',' || CAST(mh1 AS VARCHAR)) AS bucket
  FROM sig
  UNION ALL
  SELECT id, 1 AS band,
         md5(CAST(mh2 AS VARCHAR) || ',' || CAST(mh3 AS VARCHAR)) AS bucket
  FROM sig),
hot AS (
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket HAVING count(*) > {_MH_LSH_MAX_BUCKET}),
bc AS (
  SELECT b.* FROM buckets b LEFT JOIN hot h
    ON b.band = h.band AND b.bucket = h.bucket
  WHERE h.band IS NULL)
SELECT DISTINCT l.id AS id_a, r.id AS id_b
FROM bc l JOIN bc r
  ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
"""


_NGRAM_MAX_DF = 50  # hot-shingle document-frequency cap (see dedup.py)


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, k=3, threshold=0.2,
                                  max_df=_NGRAM_MAX_DF)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS ({_SH_SQL}),
toks AS (SELECT DISTINCT doc_id AS id, unnest(sh) AS tok FROM sh),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
hot AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) > {_NGRAM_MAX_DF}),
capped AS (SELECT id, tok FROM toks ANTI JOIN hot USING (tok)),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM capped a JOIN capped b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.2
"""

# k = 1 shingles (plain words) for the SimHash family - mechanically
# parallel to dedup.shingles(text, 1)
_SH1_SQL = """
  SELECT doc_id,
    CASE WHEN len(w) < 1 THEN []
         ELSE list_transform(generate_series(0, len(w) - 1),
                             i -> array_to_string(list_slice(w, i + 1, i + 1), ' '))
    END AS sh
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents)
"""


def _simhash_sig_sql() -> str:
    """DuckDB twin of dedup.simhash64: per-bit +-1 votes over the hashed
    k=1 shingles, bit set where the vote sum is positive."""
    votes = ",\n         ".join(
        f"list_sum(list_transform(hs, h -> CASE WHEN (h >> {j}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) AS v{j}"
        for j in range(60))
    bits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60))
    return f"""
sh1 AS ({_SH1_SQL}),
hs AS (SELECT doc_id, list_transform(sh, s ->
         ('0x' || substr(md5('0|' || s), 1, 15))::BIGINT) AS hs FROM sh1),
votes AS (SELECT doc_id,
         {votes}
  FROM hs),
sig AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes)
"""


def q_dedup_simhash(spark, sf_dir):
    """Signatures via dedup.simhash64_df: JVM shingle lists, then one
    numpy vote kernel per Arrow batch (no explode, no aggregate) -
    identical integers to the simhash64 fold (commutative votes)."""
    docs = _t(spark, sf_dir, "documents")
    return (dd.simhash64_df(docs, text_col="text", id_col="doc_id", k=1)
            .select(F.col("id").alias("doc_id"),
                    F.col("sig").alias("simhash")))


SQL_DEDUP_SIMHASH = f"""
WITH {_simhash_sig_sql()}
SELECT doc_id, simhash FROM sig
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    """Hamming-near pairs via banded bit-chunk LSH + popcount filter.

    ``max_bucket=50`` ACTIVE: hot (band, chunk) buckets are excluded via
    a broadcast anti-join before the self-join (the 100 TB bound - see
    dedup.simhash_hamming_pairs recall statement); the oracle applies
    the identical cap, so both engines drop the same deterministic set."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_hamming_pairs(docs, k=1, bands=4, max_hamming=3,
                                    max_bucket=50)


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH {_simhash_sig_sql()},
buckets AS (
  SELECT doc_id AS id, simhash,
         unnest([0, 1, 2, 3]) AS band,
         unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
                 (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS chunk
  FROM sig),
hot AS (
  SELECT band, chunk FROM buckets GROUP BY band, chunk HAVING count(*) > 50),
bc AS (
  SELECT b.* FROM buckets b LEFT JOIN hot h
    ON b.band = h.band AND b.chunk = h.chunk
  WHERE h.band IS NULL),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
         l.simhash AS sig_a, r.simhash AS sig_b
  FROM bc l JOIN bc r
    ON l.band = r.band AND l.chunk = r.chunk AND l.id < r.id)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _cos_sql(a: str, b: str) -> str:
    return (f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
            f" / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
            f" * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))")


def q_sim_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("qv"))
    paired = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
    return sim.topk_cosine(paired, "qv", k=10)


SQL_SIM_TOPK = f"""
SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id != 0
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
"""


_ND_BANDS = 4          # banded sign-LSH for the bucketed near-dup query
_ND_PLANES_PER_BAND = 2
_ND_MAX_BUCKET_FACTOR = 3.0   # skew guard: drop buckets > 3x uniform share


def q_sim_near_dup(spark, sf_dir):
    """Near-dup pairs, banded-LSH-bucketed (the 100 TB path): candidates
    from a (band, chunk) equi-join - a hash join, never a cross join -
    then exact cosine on the candidates (~0.89 recall vs the exact twin
    at this threshold).  The scale-free skew cap is ACTIVE (drop buckets
    holding > 3x the uniform n/2^planes share, by a broadcast anti-join);
    uniform data is untouched at any n, degenerate clusters are bounded.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs_lsh(
        emb, dim=64, threshold=0.45,
        bands=_ND_BANDS, planes_per_band=_ND_PLANES_PER_BAND, seed=42,
        max_bucket_factor=_ND_MAX_BUCKET_FACTOR)


def _near_dup_lsh_sql() -> str:
    planes = sim.hyperplanes(64, _ND_BANDS * _ND_PLANES_PER_BAND, 42)

    def chunk(col: str, b: int) -> str:
        terms = []
        for j in range(_ND_PLANES_PER_BAND):
            plane = planes[b * _ND_PLANES_PER_BAND + j]
            arr = "[" + ",".join(repr(v) for v in plane) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0"
                f" THEN {2 ** j} ELSE 0 END)")
        return " + ".join(terms)

    band_rows = " UNION ALL ".join(
        f"SELECT vec_id AS id, {b} AS band, ({chunk('embedding', b)}) AS chunk"
        f" FROM embeddings"
        for b in range(_ND_BANDS))
    n_buckets = 2 ** _ND_PLANES_PER_BAND
    return f"""
WITH buckets AS ({band_rows}),
hot AS (
  SELECT band, chunk FROM (
    SELECT band, chunk, count(*) AS n_ids,
           sum(count(*)) OVER (PARTITION BY band) AS band_total
    FROM buckets GROUP BY band, chunk)
  WHERE n_ids > band_total * {_ND_MAX_BUCKET_FACTOR} / {n_buckets}),
pruned AS (
  SELECT b.* FROM buckets b
  LEFT JOIN hot h ON b.band = h.band AND b.chunk = h.chunk
  WHERE h.band IS NULL),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM pruned l JOIN pruned r
    ON l.band = r.band AND l.chunk = r.chunk AND l.id < r.id)
SELECT id_a, id_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM cand
JOIN embeddings a ON a.vec_id = id_a
JOIN embeddings b ON b.vec_id = id_b
WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.45
"""


def q_sim_near_dup_exact(spark, sf_dir):
    """All-pairs exact twin of sim_near_dup - the small-sf recall oracle
    for the bucketed variant (O(n^2); never run this shape at scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.45)


SQL_SIM_NEAR_DUP_EXACT = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.45
"""


def q_sim_topk_lsh(spark, sf_dir):
    """ANN via random-hyperplane LSH bucket pruning, then exact cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.topk_cosine_lsh(emb.filter(F.col("vec_id") != 0), qv,
                               k=10, n_planes=6)


def _lsh_oracle_sql() -> str:
    """Generate the LSH oracle with the same literal hyperplanes."""
    planes = sim.hyperplanes(64, 6, 42)
    bit_terms = []
    for j, plane in enumerate(planes):
        arr = "[" + ",".join(repr(v) for v in plane) + "]::DOUBLE[]"
        bit_terms.append(
            f"(CASE WHEN list_dot_product(e.embedding::DOUBLE[], {arr}) >= 0"
            f" THEN {2 ** j} ELSE 0 END)")
    sig = " + ".join(bit_terms)
    qsig = sig.replace("e.embedding", "q.embedding")
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id != 0 AND ({sig}) = (SELECT {qsig} FROM q q2
                                   , (SELECT embedding FROM embeddings
                                      WHERE vec_id = 0) q)
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
"""


def q_sim_topk_ivf(spark, sf_dir):
    """ANN via an IVF coarse quantizer with deterministic seed centroids
    (the 4 lowest-vec_id vectors; ``iters=0``).  Lloyd refinement
    (``iters>=1``) stays available in the library but is not oracle-able:
    its float-sum aggregations have engine-specific partial ordering.
    With seed centroids every distance is a sequential f64 fold on both
    engines, so the oracle is bit-stable."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = sim.ivf_centroids(emb, n_cells=4, iters=0)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.topk_cosine_ivf(emb.filter(F.col("vec_id") != 0), qv,
                               centroids, k=10, n_probe=2)


def _sq_dist_sql(a: str, b: str) -> str:
    """Sequential-fold squared L2 - bit-parallel to similarity._sq_dist
    (list_sum accumulates in list order, matching Spark's aggregate)."""
    return (f"list_sum(list_transform(generate_series(1, 64), i -> "
            f"({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
            f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))")


SQL_SIM_TOPK_IVF = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qprobe AS (
  SELECT c.cell, row_number() OVER (
    ORDER BY {_sq_dist_sql('q.embedding', 'c.embedding')}, c.cell) AS rn
  FROM cents c, q),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cell, row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY {_sq_dist_sql('e.embedding', 'c.embedding')}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id != 0)
SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.embedding')}, 6) AS cos_sim
FROM assigned e, q
WHERE e.rn = 1 AND e.cell IN (SELECT cell FROM qprobe WHERE rn <= 2)
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
"""


def _ivf_index_dir() -> str:
    """A fresh directory for one IVF index build, removed at exit: a
    second build never overwrites an index that a first frame reads."""
    path = tempfile.mkdtemp(prefix="livre_ivf_")
    atexit.register(shutil.rmtree, path, True)
    return path


def q_sim_topk_ivf_indexed(spark, sf_dir):
    """The 100 TB ANN path: build the MATERIALIZED IVF index (table
    written once, partitionBy(cell)), then search it - ``cell IN probed``
    becomes a partition filter so the scan touches only the probed
    cells' files.  Same seed centroids as sim_topk_ivf, so results (and
    the oracle SQL) are identical; what this row additionally checks is
    the parquet round-trip + partition-pruned read path."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = sim.ivf_centroids(emb, n_cells=4, iters=0)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _ivf_index_dir()
    sim.ivf_build_index(emb.filter(F.col("vec_id") != 0), centroids, path)
    return sim.topk_cosine_ivf_indexed(spark, path, qv, centroids,
                                       k=10, n_probe=2)


# identical results by construction: same centroids, same probe rule,
# exact float32 parquet round-trip
SQL_SIM_TOPK_IVF_INDEXED = SQL_SIM_TOPK_IVF


def q_sim_topk_many_ivf(spark, sf_dir):
    """Batch ANN at scale: MANY queries against the materialized IVF
    index in ONE partition-pruned scan (similarity.topk_cosine_many_ivf;
    similarity.topk_cosine_many is its exact, index-free twin).  Probe
    map computed driver-side, broadcast-joined ON cell so each vector
    scores only against the queries probing its cell; same seed
    centroids and sequential-fold math as the single-query IVF rows."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = sim.ivf_centroids(emb, n_cells=4, iters=0)
    queries = (emb.filter(F.col("vec_id") <= 2)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    path = _ivf_index_dir()
    sim.ivf_build_index(emb.filter(F.col("vec_id") > 2), centroids, path)
    return sim.topk_cosine_many_ivf(spark, path, queries, centroids,
                                    k=5, n_probe=2)


SQL_SIM_TOPK_MANY_IVF = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id <= 2),
qprobe AS (
  SELECT q.qid, c.cell, row_number() OVER (PARTITION BY q.qid
    ORDER BY {_sq_dist_sql('q.qv', 'c.embedding')}, c.cell) AS rn
  FROM cents c, q),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cell, row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY {_sq_dist_sql('e.embedding', 'c.embedding')}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id > 2),
scored AS (
  SELECT p.qid, e.vec_id,
         round({_cos_sql('e.embedding', 'q.qv')}, 6) AS cos_sim
  FROM assigned e
  JOIN (SELECT qid, cell FROM qprobe WHERE rn <= 2) p ON e.cell = p.cell
  JOIN q ON q.qid = p.qid
  WHERE e.rn = 1)
SELECT qid, vec_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): one user-keyed
    shuffle, two window passes, exact integer-microsecond gap math."""
    from livre_spark.operators.sessions import session_stats

    events = _t(spark, sf_dir, "events")
    return session_stats(events, gap_us=30 * 60 * 1_000_000)


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
flagged AS (
  SELECT user_id, event_id, us, cents,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sess AS (
  SELECT user_id, us, cents,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_id
"""


def q_json_props(spark, sf_dir):
    """Semi-structured axis: JSON property extraction from the string
    props column + grouped rollup (JVM get_json_object, no UDF)."""
    events = _t(spark, sf_dir, "events")
    return (events
            .select(F.get_json_object("props", "$.k").cast("long")
                    .alias("k"),
                    "event_type",
                    F.round(F.col("value") * 100, 0).cast("long")
                    .alias("cents"))
            .groupBy("k", "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("cents").alias("value_cents")))


SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events GROUP BY 1, 2
"""


def q_funnel(spark, sf_dir):
    """Ordered-sequence funnel: per user the earliest view, the earliest
    click strictly after it, the earliest purchase strictly after that -
    three narrow user-keyed aggregates chained by time predicates (no
    window over the full table, no UDF).  Integer-microsecond timestamps
    keep the oracle exact."""
    events = _t(spark, sf_dir, "events")
    e = events.select("user_id", F.col("event_type").alias("et"),
                      F.unix_micros(F.col("ts").cast("timestamp"))
                      .alias("us"))
    v = (e.filter(F.col("et") == "view")
         .groupBy("user_id").agg(F.min("us").alias("t_view")))
    c = (e.filter(F.col("et") == "click").join(v, "user_id")
         .filter(F.col("us") > F.col("t_view"))
         .groupBy("user_id", "t_view").agg(F.min("us").alias("t_click")))
    p = (e.filter(F.col("et") == "purchase").join(c, "user_id")
         .filter(F.col("us") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("us").alias("t_purchase")))
    return (v.join(c.select("user_id", "t_click"), "user_id", "left")
            .join(p, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase"))


SQL_FUNNEL = """
WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS us
           FROM events),
v AS (SELECT user_id, min(us) AS t_view FROM e WHERE et = 'view'
      GROUP BY user_id),
c AS (SELECT e.user_id, v.t_view, min(us) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE et = 'click' AND us > t_view GROUP BY e.user_id, v.t_view),
p AS (SELECT e.user_id, min(us) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE et = 'purchase' AND us > t_click GROUP BY e.user_id)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


def q_sim_topk_many(spark, sf_dir):
    """Batch ANN: top-5 per query for THREE query vectors in one scan
    (broadcast NL scoring + one narrow window shuffle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") <= 2)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    return sim.topk_cosine_many(_par(emb.filter(F.col("vec_id") > 2)),
                                queries, k=5)


SQL_SIM_TOPK_MANY = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id <= 2),
scored AS (
  SELECT q.qid, e.vec_id,
         round({_cos_sql('e.embedding', 'q.qv')}, 6) AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id > 2),
ranked AS (
  SELECT qid, vec_id, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored)
SELECT qid, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


# k = 2 shingles for the text->embedding bridge - mechanically parallel
# to dedup.shingles(text, 2)
_SH2_SQL = """
  SELECT doc_id,
    CASE WHEN len(w) < 2 THEN []
         ELSE list_transform(generate_series(0, len(w) - 2),
                             i -> array_to_string(list_slice(w, i + 1, i + 2), ' '))
    END AS sh
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents)
"""


def q_sim_pipeline_e2e(spark, sf_dir):
    """End-to-end text->vector->ANN composition: documents.text ->
    hashing-trick TF embedding (similarity.embed_text_table: explode ->
    map-side-combined (doc, bucket) count -> dense assembly, O(shingles
    + dim) per doc vs the Column fold's O(shingles x dim) - 5x faster
    at dim 16, 19x at dim 256) -> cosine top-k against the lowest-doc_id
    document.

    Integer TF counts make every f64 fold exact on both engines, so the
    full pipeline is hash-stable.  The groupBy inside the table op is
    also the materialization barrier (the old explicit repartition is
    gone): the embedding is computed once, not re-inlined into dot/norm/
    filter by CollapseProject."""
    docs = _t(spark, sf_dir, "documents")
    vecs = (sim.embed_text_table(docs, dim=16, k=2)
            .withColumnRenamed("embedding", "v"))
    min_id = docs.agg(F.min("doc_id")).first()[0]
    # embed ONLY the query row (the barrier above would otherwise force
    # a full-corpus embed just to fetch one vector - measured 2x cost)
    qv = (docs.filter(F.col("doc_id") == min_id)
          .select(sim.embed_text(F.col("text"), dim=16, k=2).alias("v"))
          .first()["v"])
    q = F.array(*[F.lit(int(x)) for x in qv])
    # NB: routing this dim-16 fold through sim.cosine_rows_arrow
    # measured WORSE (2.0-2.2 -> 3.3-4.7 s at 50k docs, interleaved
    # A/B): the mapInArrow boundary lands right on the embed
    # aggregate's output and costs more than the small fold it saves.
    # Kept interpreted on purpose.
    return (vecs.filter(F.col("doc_id") != min_id)
            .filter(sim.norm(F.col("v")) > 0)
            .select("doc_id",
                    F.round(sim.cosine(F.col("v"), q), 6).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), "doc_id")
            .limit(10))


SQL_SIM_PIPELINE_E2E = f"""
WITH sh2 AS ({_SH2_SQL}),
hs AS (SELECT doc_id, list_transform(sh, s ->
         ('0x' || substr(md5('0|' || s), 1, 15))::BIGINT % 16) AS hs
       FROM sh2),
vecs AS (SELECT doc_id, list_transform(generate_series(0, 15), d ->
         CAST(len(list_filter(hs, h -> h = d)) AS BIGINT)) AS v FROM hs),
q AS (SELECT v FROM vecs
      WHERE doc_id = (SELECT min(doc_id) FROM documents))
SELECT e.doc_id, round({_cos_sql('e.v', 'q.v')}, 6) AS cos_sim
FROM vecs e, q
WHERE e.doc_id != (SELECT min(doc_id) FROM documents)
  AND list_dot_product(e.v::DOUBLE[], e.v::DOUBLE[]) > 0
ORDER BY cos_sim DESC, e.doc_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# multimodal (binary columns; decode stubbed - rows-only check)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# HTML axis (north rule: boilerplate strip + DOM heuristics) - the html
# document is constructed deterministically from documents.text on BOTH
# engines, then the shared regex/array pipeline extracts it back
# ---------------------------------------------------------------------------

_HTML_PREFIX = ('<html><head><title>t</title><style>p{margin:0}</style>'
                '<script>var x=\'</p>\';</script></head><body>'
                '<div><a href="/nav">nav one</a> <a href="/n2">nav two</a>'
                '</div><p>')
_HTML_SUFFIX = ('</p><div><a href="/f">footer links here</a></div>'
                '<!-- footer --></body></html>')


def _mk_html_col():
    return F.concat(F.lit(_HTML_PREFIX),
                    F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
                    F.lit(_HTML_SUFFIX))


def _mk_html_sql() -> str:
    pre = _HTML_PREFIX.replace("'", "''")
    suf = _HTML_SUFFIX.replace("'", "''")
    return f"'{pre}' || replace(text, chr(10), '</p><p>') || '{suf}'"


def q_html_strip(spark, sf_dir):
    """Plain boilerplate strip (script/style/comments out, tags out,
    entities decoded, whitespace collapsed) - pure codegen."""
    from livre_spark.functions.htmltext import strip_tags

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", strip_tags(_mk_html_col()).alias("body"))


def q_html_main(spark, sf_dir):
    """Readability-lite main content: block split + text/link-density
    keep rule drops the nav/footer link farms."""
    from livre_spark.functions.htmltext import main_content

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", main_content(_mk_html_col()).alias("body"))


def _html_oracle_sql() -> dict:
    from livre_spark.functions.htmltext import sql_main_content, sql_strip_tags

    h = _mk_html_sql()
    return {
        "html_strip": f"SELECT doc_id, {sql_strip_tags(h)} AS body"
                      " FROM documents",
        "html_main": f"SELECT doc_id, {sql_main_content(h)} AS body"
                     " FROM documents",
    }


def q_multimodal_features(spark, sf_dir):
    """Treat document text bytes as an opaque media payload and run the
    vectorized feature-extraction plumbing (deterministic fake decode).

    The checked feature recovers the integer histogram count for nibble 6
    (bytes 0x60-0x6F) from the float32 ratio: ratio * n_bytes rounds back
    to the exact count (f32 relative error ~6e-8 << 0.5/n_bytes), so the
    oracle compares integers, immune to f32-vs-f64 rounding skew."""
    from livre_spark.functions.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.lit("image").alias("kind"),
                        F.encode(F.col("text"), "UTF-8").alias("content"))
    feats = extract_media_features(media, fake=True)
    return feats.select(
        "media_id", "kind", "n_bytes", "width", "height",
        F.round(F.element_at("features", 7).cast("double")
                * F.col("n_bytes"), 0).cast("long").alias("f6_count"),
        "error")


SQL_MULTIMODAL_FEATURES = """
WITH m AS (
  SELECT doc_id AS media_id, 'image' AS kind,
         octet_length(encode(text)) AS n_bytes,
         length(text) - length(regexp_replace(text, '[`a-o]', '', 'g'))
           AS f6_count
  FROM documents)
SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(n_bytes % 640 + 1 AS INTEGER) AS width,
       CAST((n_bytes // 640) % 480 + 1 AS INTEGER) AS height,
       CAST(f6_count AS BIGINT) AS f6_count,
       CAST(NULL AS VARCHAR) AS error
FROM m
"""


def _md5_raster(text) -> bytes:
    """The md5-hex of the text repeated to an 8x8 RGB raster (192 bytes)."""
    import hashlib

    return (hashlib.md5(str(text).encode()).hexdigest() * 6).encode()


def _real_ppm_row(doc_id, text):
    """Per row: md5-hex of the text (32 ASCII chars, engine-identical)
    repeated to a 192-byte raster -> a REAL binary PPM (P6 8x8) ->
    multimodal.decode_image with fake=False - the actual header parse +
    raster decode + histogram path, not the oracle-plumbing fake.

    Hex chars split cleanly by high nibble (digits 0x30-39 -> bin 3,
    letters a-f 0x61-66 -> bin 6), so the f32 ratio recovers the exact
    letter count: ratio * 192 rounds to an integer DuckDB re-derives
    from regexp counts over md5(text)."""
    from livre_spark.functions.multimodal import decode_image

    w, h, feats = decode_image(b"P6\n8 8\n255\n" + _md5_raster(text))
    yield {"url": f"pdf://{doc_id}", "width": w, "height": h,
           "f6_count": int(round(feats[6] * 192))}


def q_multimodal_real_decode(spark, sf_dir):
    return map_rows(_docs(spark, sf_dir), _real_ppm_row,
                    "url string, width int, height int, f6_count long")


SQL_MULTIMODAL_REAL_DECODE = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       8 AS width, 8 AS height,
       CAST(6 * (32 - length(regexp_replace(md5(text), '[a-f]', '',
                                            'g'))) AS BIGINT) AS f6_count
FROM documents
"""


def _real_webp_row(doc_id, text):
    """Per row: the md5-hex raster (the PPM row's nibble trick) wrapped
    in a REAL VP8L WebP by the deterministic encoder twin - option mix
    cycled by doc_id (plain / subtract-green / LZ77+cache / predictor)
    so all four encode shapes hit the full decoder - then
    multimodal.decode_image end-to-end (container walk, prefix codes,
    transforms, histogram)."""
    from livre_spark.functions.multimodal import decode_image
    from livre_spark.functions.webp import encode_webp_lossless

    variant = doc_id % 4
    buf = encode_webp_lossless(
        8, 8, _md5_raster(text),
        subtract_green=variant == 1,
        use_lz77=variant == 2,
        cache_bits=3 if variant == 2 else 0,
        predictor_mode=7 if variant == 3 else None)
    w, h, feats = decode_image(buf)
    yield {"url": f"pdf://{doc_id}", "width": w, "height": h,
           "f6_count": int(round(feats[6] * 192))}


def q_webp_real_decode(spark, sf_dir):
    return map_rows(_docs(spark, sf_dir), _real_webp_row,
                    "url string, width int, height int, f6_count long")


# the decode is lossless, so the expected histogram is the PPM row's
SQL_WEBP_REAL_DECODE = SQL_MULTIMODAL_REAL_DECODE


def _vp8_row(doc_id, text):
    """Per row: a CONSTANT-GRAY 16x16 image (gray = first md5(text)
    byte) wrapped in a REAL lossy VP8 WebP by the deterministic encoder
    twin (functions/vp8.py), quantizer cycled by doc_id - then decoded
    end-to-end through the container walk, boolean decoder, IDCT/WHT,
    prediction and featurizer.  Gray constants roundtrip PIXEL-EXACT
    through the lossy path (u=v=128 is residual-free and the DC-only
    luma reconstruction is exact - pinned by
    tests/test_vp8.py::test_gray_constant_roundtrip_is_lossless), so
    the DuckDB twin derives the expected gray and histogram
    independently from md5(text)."""
    import hashlib

    from livre_spark.functions.multimodal import decode_image
    from livre_spark.functions.vp8 import decode_webp_lossy, encode_vp8

    c = hashlib.md5(str(text).encode()).digest()[0]
    rgb = bytes([c, c, c]) * 256
    webp, _ = encode_vp8(16, 16, rgb, qi=doc_id % 9)
    w, h, px = decode_webp_lossy(bytes(webp))
    if px != rgb:  # explicit: assert is compiled out under -O
        raise ValueError(f"gray {c} qi {doc_id % 9} not exact")
    _, _, feats = decode_image(bytes(webp))
    yield {"url": f"vp8://{doc_id}", "width": w, "height": h,
           "gray": px[0], "bin_count": int(round(feats[c >> 4] * 768))}


def _jpeg_arith_row(doc_id, text):
    """Per row: a CONSTANT-COLOR 16x8 RGB image (r,g,b = first three
    md5(text) bytes) written as a REAL arithmetic-coded JPEG (SOF9, QM
    entropy layer - functions/jpeg.py encode_jpeg_arith) at quant=1,
    where constant-color roundtrips are EXACT - then decoded
    end-to-end (QM decoder, DC/AC decision models, IDCT, BT.601).  The
    DuckDB twin derives the expected decoded pixel independently from
    md5(text)."""
    import hashlib

    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg_arith

    r, g, b = hashlib.md5(str(text).encode()).digest()[:3]
    px = bytes((r, g, b)) * (16 * 8)
    sub = ("444", "420", "422")[doc_id % 3]
    w, h, got = decode_jpeg(
        encode_jpeg_arith(16, 8, px, quant=1, subsampling=sub))
    if got != px:  # explicit: assert is compiled out under -O
        raise ValueError(f"arith roundtrip not exact at doc {doc_id}")
    yield {"url": f"jpg://{doc_id}", "width": w, "height": h,
           "r": got[0], "g": got[1], "b": got[2]}


def q_jpeg_arith_decode(spark, sf_dir):
    return map_rows(_docs(spark, sf_dir), _jpeg_arith_row,
                    "url string, width int, height int, r long, g long,"
                    " b long")


# constant-color quant=1 roundtrips exactly -> SQL derives the pixels
SQL_JPEG_ARITH_DECODE = """
SELECT 'jpg://' || CAST(doc_id AS VARCHAR) AS url,
       CAST(16 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       ('0x' || substr(md5(text), 1, 2))::BIGINT AS r,
       ('0x' || substr(md5(text), 3, 2))::BIGINT AS g,
       ('0x' || substr(md5(text), 5, 2))::BIGINT AS b
FROM documents
"""


def q_vp8_real_decode(spark, sf_dir):
    return map_rows(_docs(spark, sf_dir), _vp8_row,
                    "url string, width int, height int, gray long,"
                    " bin_count long")


# gray roundtrip is pixel-exact, so SQL derives everything from md5
SQL_VP8_REAL_DECODE = """
SELECT 'vp8://' || CAST(doc_id AS VARCHAR) AS url,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       ('0x' || substr(md5(text), 1, 2))::BIGINT AS gray,
       CAST(768 AS BIGINT) AS bin_count
FROM documents
"""


def q_url_normalize(spark, sf_dir):
    """Crawl-frontier URL canonicalization (functions/urls.py): messy
    URLs constructed deterministically per doc (mixed case, default
    and non-default ports, duplicate slashes, fragments) -> canonical
    spelling + politeness host, pure codegen regexp chain.  The DuckDB
    twin derives the EXPECTED canonical form independently from the
    same fields - stronger than mirroring the regex chain."""
    from livre_spark.functions.urls import host_of, normalize_url

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    messy = F.concat(
        F.lit("HTTP://WWW."), F.upper(F.col("source")),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80"))
        .when(F.col("doc_id") % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("//a//"), F.col("doc_id").cast("string"),
        # doc_id%4==1: slashed QUERY - opaque per RFC 3986, must NOT be
        # collapsed (the round-5 blind spot this case now exercises)
        F.when(F.col("doc_id") % 4 == 1, F.lit("?next=https://x//y#f"))
        .when(F.col("doc_id") % 2 == 0, F.lit("?q=1#frag"))
        .otherwise(F.lit("#s")))
    return docs.select(
        "doc_id",
        normalize_url(messy).alias("url_norm"),
        host_of(messy).alias("host"))


SQL_URL_NORMALIZE = """
SELECT doc_id,
       'http://www.' || lower(source) || '.example.com'
       || CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
       || '/a/' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 4 = 1 THEN '?next=https://x//y'
               WHEN doc_id % 2 = 0 THEN '?q=1' ELSE '' END AS url_norm,
       'www.' || lower(source) || '.example.com' AS host
FROM documents
"""


def _pdf_images_row(doc_id, text):
    """Per row: md5-hex raster (8x8 RGB, the nibble-split trick) -> PDF
    with an embedded Flate raster XObject (every 2nd doc ENCRYPTED, so
    the per-object image decrypt path is oracle-covered) -> full
    document walk + image decode (functions/pdfimages.py)."""
    from livre_spark.functions.pdfimages import extract_pdf_images
    from livre_spark.pdf.genpdf import build_pdf

    pdf = build_pdf(
        [b"BT (x) Tj ET"],
        images=[{"name": "Im1", "width": 8, "height": 8,
                 "samples": _md5_raster(text)}],
        encrypt="rc4-128" if doc_id % 2 else None)
    (row,) = extract_pdf_images(pdf)
    if row["error"] is not None:  # explicit vs -O
        raise ValueError(row["error"])
    yield dict(row, url=f"pdf://{doc_id}",
               f6_count=int(round(row["features"][6] * 192)))


def q_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_docs(spark, sf_dir), _pdf_images_row,
                    "url string, name string, width int, height int,"
                    " kind string, f6_count long")


SQL_PDF_IMAGES = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       'Im1' AS name, 8 AS width, 8 AS height, 'raster' AS kind,
       CAST(6 * (32 - length(regexp_replace(md5(text), '[a-f]', '',
                                            'g'))) AS BIGINT) AS f6_count
FROM documents
"""


def _audio_row(doc_id, text):
    """Per row: text bytes as an 8-bit PCM payload inside a REAL
    RIFF/WAVE container -> multimodal._decode_wav via decode_image
    (header walk + sample extraction, the audio modality's real path).
    The nibble histogram over PCM samples is the same char-count trick
    the fake-path oracle established."""
    import struct

    from livre_spark.functions.multimodal import decode_image

    data = str(text).encode("utf-8")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    rate, ch, feats = decode_image(b"RIFF" + struct.pack("<I", len(body))
                                   + body)
    yield {"url": f"pdf://{doc_id}", "sample_rate": rate, "channels": ch,
           "f6_count": int(round(feats[6] * len(data)))}


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_docs(spark, sf_dir), _audio_row,
                    "url string, sample_rate int, channels int,"
                    " f6_count long")


SQL_AUDIO_FEATURES = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       8000 AS sample_rate, 1 AS channels,
       CAST(length(text) - length(regexp_replace(text, '[`a-o]', '',
                                                 'g')) AS BIGINT)
         AS f6_count
FROM documents
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS from the minhash-LSH pair graph: min-label
    propagation to a fixpoint (dedup.connected_components), the step
    that turns pairwise candidates into keep-one-per-cluster decisions.
    Oracle: DuckDB recursive CTE computing min reachable id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, n_hashes=4, bands=2, k=3,
                                 max_bucket=_MH_LSH_MAX_BUCKET)
    return (dd.connected_components(pairs)
            .select(F.col("node").alias("doc_id"), "component"))


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_LSH}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, lab) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.lab FROM edges e JOIN reach r ON r.node = e.d)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(lab) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (dedup.sample_by_hash): keep
    10% of 'en' docs and 30% of everything else, decided by a portable
    salted md5 fold of the key - reproducible across runs, retries and
    engines, unlike rand()."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(300))
    return dd.sample_by_hash(docs, "doc_id", rate).select("doc_id", "lang")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 15))
        ::BIGINT) % 1000
      < CASE WHEN lang = 'en' THEN 100 ELSE 300 END
"""


_INFO_SCHEMES = ["rc4-40", "rc4-128", "aes-128"]


def _doc_info_row(doc_id, text):
    """Per row: deterministic /Info strings -> ENCRYPTED synthetic PDF
    (scheme cycles rc4-40 / rc4-128 / aes-128 by doc_id) -> full
    decryptor build -> Document.info() string decryption + decode.

    By construction the recovered strings equal the derived inputs, so
    the DuckDB oracle re-derives them from the table - a hash-exact row
    over the crypt + /StrF + string-decode pipeline (pdf/crypt.py,
    document.py:_info_value_parser)."""
    from livre_spark.pdf.document import open_document
    from livre_spark.pdf.genpdf import build_pdf

    scheme = _INFO_SCHEMES[doc_id % 3]
    info = {"Title": f"Doc {doc_id}: " + str(text)[:16],
            "Author": f"author-{doc_id % 7}"}
    got = open_document(build_pdf([b"BT (x) Tj ET"], encrypt=scheme,
                                  info=info)).info()
    yield {"url": f"pdf://{doc_id}", "title": got["Title"],
           "author": got["Author"], "scheme": scheme}


def q_doc_info_crypt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return map_rows(_docs(spark, sf_dir), _doc_info_row,
                    "url string, title string, author string, scheme string")


SQL_DOC_INFO_CRYPT = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 16)
         AS title,
       'author-' || CAST(doc_id % 7 AS VARCHAR) AS author,
       CASE doc_id % 3 WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4-128'
            ELSE 'aes-128' END AS scheme
FROM documents
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_roundtrip": q_extract_roundtrip,
        "filter_project": q_filter_project,
        "size_bucket": q_size_bucket,
        "salting": q_salting,
        "explode_tokens": q_explode_tokens,
        "agg_pricing": q_agg_pricing,
        "window_latest": q_window_latest,
        "join_broadcast": q_join_broadcast,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "topk_orders": q_topk_orders,
        "setops": q_setops,
        "distinct": q_distinct,
        "scalar_functions": q_scalar_functions,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_guess": q_lang_guess,
        "fingerprint": q_fingerprint,
        "bpe_token_count": q_bpe_token_count,
        "fingerprint_rolling": q_fingerprint_rolling,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "sim_topk": q_sim_topk,
        "sim_near_dup": q_sim_near_dup,
        "sim_near_dup_exact": q_sim_near_dup_exact,
        "sim_topk_lsh": q_sim_topk_lsh,
        "sim_topk_ivf": q_sim_topk_ivf,
        "sim_topk_ivf_indexed": q_sim_topk_ivf_indexed,
        "sim_topk_many_ivf": q_sim_topk_many_ivf,
        "sim_topk_many": q_sim_topk_many,
        "sessionize": q_sessionize,
        "json_props": q_json_props,
        "funnel": q_funnel,
        "sim_pipeline_e2e": q_sim_pipeline_e2e,
        "multimodal_features": q_multimodal_features,
        "html_strip": q_html_strip,
        "html_main": q_html_main,
        "doc_info_crypt": q_doc_info_crypt,
        "dedup_components": q_dedup_components,
        "sample_stratified": q_sample_stratified,
        "multimodal_real_decode": q_multimodal_real_decode,
        "webp_real_decode": q_webp_real_decode,
        "vp8_real_decode": q_vp8_real_decode,
        "jpeg_arith_decode": q_jpeg_arith_decode,
        "url_normalize": q_url_normalize,
        "pdf_images": q_pdf_images,
        "audio_features": q_audio_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_roundtrip": SQL_EXTRACT_ROUNDTRIP,
        "filter_project": SQL_FILTER_PROJECT,
        "size_bucket": SQL_SIZE_BUCKET,
        "salting": SQL_SALTING,
        "explode_tokens": SQL_EXPLODE_TOKENS,
        "agg_pricing": SQL_AGG_PRICING,
        "window_latest": SQL_WINDOW_LATEST,
        "join_broadcast": SQL_JOIN_BROADCAST,
        "anti_join": SQL_ANTI_JOIN,
        "semi_join": SQL_SEMI_JOIN,
        "topk_orders": SQL_TOPK_ORDERS,
        "setops": SQL_SETOPS,
        "distinct": SQL_DISTINCT,
        "scalar_functions": SQL_SCALAR_FUNCTIONS,
        "token_count": SQL_TOKEN_COUNT,
        "quality_score": SQL_QUALITY_SCORE,
        "lang_guess": SQL_LANG_GUESS,
        "fingerprint": SQL_FINGERPRINT,
        "bpe_token_count": SQL_BPE_TOKEN_COUNT,
        "fingerprint_rolling": SQL_FINGERPRINT_ROLLING,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash_sig": SQL_DEDUP_MINHASH_SIG,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
        "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
        "sim_topk": SQL_SIM_TOPK,
        "sim_near_dup": _near_dup_lsh_sql(),
        "sim_near_dup_exact": SQL_SIM_NEAR_DUP_EXACT,
        "sim_topk_lsh": _lsh_oracle_sql(),
        "sim_topk_ivf": SQL_SIM_TOPK_IVF,
        "sim_topk_ivf_indexed": SQL_SIM_TOPK_IVF_INDEXED,
        "sim_topk_many_ivf": SQL_SIM_TOPK_MANY_IVF,
        "sim_topk_many": SQL_SIM_TOPK_MANY,
        "sessionize": SQL_SESSIONIZE,
        "json_props": SQL_JSON_PROPS,
        "funnel": SQL_FUNNEL,
        "sim_pipeline_e2e": SQL_SIM_PIPELINE_E2E,
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        **_html_oracle_sql(),
        "doc_info_crypt": SQL_DOC_INFO_CRYPT,
        "dedup_components": SQL_DEDUP_COMPONENTS,
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "multimodal_real_decode": SQL_MULTIMODAL_REAL_DECODE,
        "webp_real_decode": SQL_WEBP_REAL_DECODE,
        "vp8_real_decode": SQL_VP8_REAL_DECODE,
        "jpeg_arith_decode": SQL_JPEG_ARITH_DECODE,
        "url_normalize": SQL_URL_NORMALIZE,
        "pdf_images": SQL_PDF_IMAGES,
        "audio_features": SQL_AUDIO_FEATURES,
    }
