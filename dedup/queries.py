"""Driver-harness query registry (SURVEY.md §2 — the qkey contract).

Every entry here is exposed through ``__spark_entry__.queries()``; SQL
strings are the DuckDB oracle twins exposed through ``oracle_sql()``.
Rules that keep the driver's order-insensitive value-hash compare green
(SURVEY.md §0, driver contract):

- every computed column is aliased IDENTICALLY in Spark and SQL;
- doubles are ``round(x, 4)`` at the same points on both sides;
- integers are cast to BIGINT on both sides (Spark ``int`` vs DuckDB
  ``BIGINT`` would hash differently);
- timestamps leave as BIGINT epoch seconds (``cast(ts as long)`` —
  session-timezone-independent) or as calendar fields with the Spark
  session pinned to UTC (DuckDB reads parquet timestamps naive-UTC);
- window/topk ranks order by ROUNDED values with unique-id tiebreaks so
  cross-engine float noise cannot flip ranks.

Entries without a SQL twin (hash-seeded signatures, iterative
clustering, pUDF-only ops) register ``sql=None`` → the driver records a
rows-only check; our own pytest suite covers their semantics against
brute-force oracles instead (tests/oracle.py).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedup.config import DEFAULT_CONFIG, HIGH_RECALL_CONFIG
from dedup.signatures import (
    shingles_expr,
    with_bands,
    with_shingles,
    with_signatures,
    word_shingles_expr,
)
from dedup.simsearch import brute_force_pairs, cosine_expr, lsh_pairs, topk_neighbors
from dedup.text import normalize_text
from dedup.textstats import (
    STOPWORDS,
    fingerprint_expr,
    lang_id_expr,
    quality_exprs,
    quality_score_expr,
    regex_token_count_expr,
    token_count_expr,
    tokens_expr,
)

# registry: qkey -> (fn(spark, sf_dir) -> DataFrame, duckdb sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-provided parquet table. Session timezone is
    pinned to UTC so calendar functions match DuckDB's naive-UTC read."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def docs_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + norm_text (the canonical text preprocessing step)."""
    return load(spark, sf_dir, "documents").withColumn(
        "norm_text", normalize_text("text")
    )


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents table to the web_pages input shape
    (url, warc_ts, html, text, lang) so the full pipeline runs on it."""
    return load(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        # spread captures 137 s apart so event-time ops (windows,
        # watermarks) see a real timeline; urls are unique so the
        # latest-capture pick is unaffected
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")).cast("long") + F.col("doc_id") * 137)
        .cast("timestamp")
        .alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )


#: memoized (and persisted) per-(sf_dir, config) shingle/signature frames —
#: several harness queries need signatures, and self-joins would otherwise
#: recompute the signature UDF once per join side.
_SIG_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached(kind: str, spark: SparkSession, sf_dir: str, cfg) -> DataFrame:
    key = (kind, sf_dir, cfg.config_hash())
    if key not in _SIG_CACHE:
        d = docs_norm(spark, sf_dir).select("doc_id", "norm_text")
        # a single small parquet file scans as ONE partition — without
        # this the CPU-heavy signature UDF runs on one core; at real
        # scale the source is already thousands of splits and the
        # repartition is a no-op by condition
        if d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        if kind == "shingles":
            df = with_shingles(d, cfg)
        else:
            df = with_signatures(with_shingles(d, cfg), cfg)
        _SIG_CACHE[key] = df.persist()
    return _SIG_CACHE[key]


#: DuckDB fragment: the pinned normalization (twin of text.normalize_text).
#: Real control characters are embedded so no escape-interpretation layer
#: can desynchronize the regex between engines.
NORM_SQL = "trim(regexp_replace(lower(text), '[ \t\n\r\f\x0b]+', ' ', 'g'))"

#: DuckDB fragment: distinct char-5-gram shingle strings of nt.
SHINGLES_SQL = (
    "list_distinct([nt[i:i+4] for i in generate_series(1, greatest(length(nt)-4, 1))])"
)


# ---------------------------------------------------------------------------
# A. scans / sources
# ---------------------------------------------------------------------------


@register("scan_pages", "SELECT doc_id, text, lang, source, n_chars FROM documents")
def q_scan_pages(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register("gen_pages")  # rows-only: deterministic synthetic generator (A5)
def q_gen_pages(spark, sf_dir):
    from dedup.datagen import gen_pages

    pages = gen_pages(spark, 500, seed=42, partitions=8)
    return pages.select("url", "lang", F.length("text").cast("long").alias("n_chars"))


# oracle = the source table itself: the qkey's value is proving the
# Derby write + partitioned JDBC read round-trips losslessly
@register("scan_jdbc", "SELECT doc_id, lang, n_chars FROM documents")
def q_scan_jdbc(spark, sf_dir):
    """SURVEY §2 A2 exercised for real: embedded Apache Derby (the RDBMS
    jar Spark itself ships for the Hive metastore) stands in for the
    reference's MySQL. Seed a Derby table from ``documents`` once per
    process, then read it back through ``read_pages_jdbc`` — N bounded
    range queries in parallel, vs the reference's single-connection
    ResultSet loop. Embedded Derby is same-JVM-only, which local mode
    satisfies; on a real cluster the same code path takes a network
    JDBC url."""
    import hashlib
    import os
    import tempfile

    from dedup.ingest import read_pages_jdbc

    # derby.log lands in user.dir unless redirected; db path is unique
    # per (process, sf_dir) — embedded Derby locks a database directory
    # to one booting JVM, and a fresh path sidesteps stale-lock risk
    spark._jvm.System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    db = os.path.join(tempfile.gettempdir(), f"dedup_derby_{os.getpid()}_{tag}")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    if not os.path.exists(os.path.join(db, "service.properties")):
        (
            src.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "documents")
            .option("driver", driver)
            .option("createTableColumnTypes", "lang VARCHAR(16)")
            .mode("overwrite")
            .save()
        )
    lo, hi = src.agg(F.min("doc_id"), F.max("doc_id")).first()
    return read_pages_jdbc(
        spark,
        url,
        "documents",
        partition_column="doc_id",
        num_partitions=8,
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        properties={"driver": driver},
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# B. projection / filter / scalar functions
# ---------------------------------------------------------------------------


@register("project_prune", "SELECT doc_id, lang, n_chars FROM documents")
def q_project_prune(spark, sf_dir):
    return load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")


@register(
    "filter_pred",
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars >= 200",
)
def q_filter_pred(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .select("doc_id", "lang", "n_chars")
    )


@register("normalize_text", f"SELECT doc_id, {NORM_SQL} AS norm_text FROM documents")
def q_normalize_text(spark, sf_dir):
    return docs_norm(spark, sf_dir).select("doc_id", "norm_text")


@register("content_hash", "SELECT doc_id, sha256(text) AS content_sha FROM documents")
def q_content_hash(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha")
    )


@register(
    "string_fns",
    "SELECT doc_id, length(text)::BIGINT AS len, upper(substr(text, 1, 10)) AS prefix_u,"
    " concat_ws('|', lang, source) AS tag,"
    " length(string_split(text, ' '))::BIGINT AS n_ws_tokens,"
    " regexp_extract(text, '[a-z]+') AS first_word FROM documents",
)
def q_string_fns(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("len"),
        F.upper(F.substring("text", 1, 10)).alias("prefix_u"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_ws_tokens"),
        F.regexp_extract("text", "[a-z]+", 0).alias("first_word"),
    )


@register(
    "date_fns",
    "SELECT event_id, year(ts)::BIGINT AS y, month(ts)::BIGINT AS m,"
    " day(ts)::BIGINT AS d, hour(ts)::BIGINT AS h,"
    " CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch FROM events",
)
def q_date_fns(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.date_trunc("day", F.col("ts")).cast("long").alias("day_epoch"),
    )


@register(
    "math_bit_fns",
    "SELECT event_id, xor(event_id, user_id) AS x, bit_count(event_id)::BIGINT AS bc,"
    " ((event_id % 1000) << 3) AS sl, (((event_id - user_id) % 7) + 7) % 7 AS pm"
    " FROM events",
)
def q_math_bit_fns(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("x"),
        F.bit_count("event_id").cast("long").alias("bc"),
        F.shiftleft(F.col("event_id") % 1000, 3).cast("long").alias("sl"),
        F.pmod(F.col("event_id") - F.col("user_id"), F.lit(7)).cast("long").alias("pm"),
    )


@register(
    "array_fns",
    "SELECT vec_id, length(embedding)::BIGINT AS n_dim,"
    " round(embedding[1]::DOUBLE, 4) AS e0,"
    " round(list_aggregate(embedding::DOUBLE[], 'max'), 4) AS emax,"
    " round(list_aggregate(embedding::DOUBLE[], 'min'), 4) AS emin FROM embeddings",
)
def q_array_fns(spark, sf_dir):
    v = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return v.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
        F.round(F.array_max(dbl), 4).alias("emax"),
        F.round(F.array_min(dbl), 4).alias("emin"),
    )


@register(
    "json_map_fns",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
)
def q_json_map_fns(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# ---------------------------------------------------------------------------
# C. signatures
# ---------------------------------------------------------------------------


@register(
    "shingle",
    f"WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents)"
    f" SELECT doc_id, length({SHINGLES_SQL})::BIGINT AS n_shingles FROM d",
)
def q_shingle(spark, sf_dir):
    # the real pipeline op (hashed shingles); distinct-hash count equals
    # distinct-string count modulo 64-bit collisions (none at this scale)
    d = docs_norm(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(shingles_expr("norm_text", DEFAULT_CONFIG.k)).cast("long").alias("n_shingles"),
    )


@register(
    "shingle_words",
    f"WITH t AS (SELECT doc_id, list_filter(string_split({NORM_SQL}, ' '),"
    " x -> x <> '') AS toks FROM documents)"
    " SELECT doc_id, CASE WHEN len(toks) >= 3 THEN"
    " len(list_distinct([array_to_string(toks[i:i+2], ' ')"
    " for i in generate_series(1, len(toks) - 2)]))::BIGINT"
    " ELSE 1 END AS n_word_shingles FROM t",
)
def q_shingle_words(spark, sf_dir):
    """C1's word-w-gram alternative as a real operator: distinct hashed
    word 3-grams; distinct-hash count equals distinct-string count
    modulo 64-bit collisions (same argument as the char qkey)."""
    d = docs_norm(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(word_shingles_expr("norm_text", 3))
        .cast("long")
        .alias("n_word_shingles"),
    )


@register("minhash")  # rows-only: seeded-hash signature (C2)
def q_minhash(spark, sf_dir):
    sigs = _cached("signatures", spark, sf_dir, DEFAULT_CONFIG)
    return sigs.select("doc_id", F.element_at("minhash", 1).alias("mh0"), "n_shingles")


@register("simhash")  # rows-only (C3)
def q_simhash(spark, sf_dir):
    sigs = _cached("signatures", spark, sf_dir, DEFAULT_CONFIG)
    return sigs.select("doc_id", "simhash")


@register(
    "band_keys",
    "SELECT doc_id, i::BIGINT AS band FROM documents, generate_series(0, 15) t(i)",
)
def q_band_keys(spark, sf_dir):
    # structural twin: every doc yields exactly `bands` band rows
    sigs = _cached("signatures", spark, sf_dir, DEFAULT_CONFIG)
    return with_bands(sigs, DEFAULT_CONFIG).select(
        "doc_id", F.col("band").cast("long").alias("band")
    )


# ---------------------------------------------------------------------------
# D. joins
# ---------------------------------------------------------------------------


@register(
    "broadcast_join",
    "SELECT r_name, count(DISTINCT n_nationkey) AS n_nations, count(*) AS n_customers,"
    " round(avg(c_acctbal), 4) AS avg_bal"
    " FROM customer JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
)
def q_broadcast_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@register(
    "range_join",
    "SELECT a.lang AS lang, count(*) AS n_pairs FROM documents a JOIN documents b"
    " ON a.lang = b.lang AND a.doc_id < b.doc_id"
    " AND least(a.n_chars, b.n_chars) >= greatest(a.n_chars, b.n_chars) * 0.9"
    " GROUP BY a.lang",
)
def q_range_join(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    a = d.select(F.col("doc_id").alias("src"), "lang", F.col("n_chars").alias("na"))
    b = d.select(F.col("doc_id").alias("dst"), "lang", F.col("n_chars").alias("nb"))
    return (
        a.join(b, "lang")
        .filter(F.col("src") < F.col("dst"))
        .filter(F.least("na", "nb") >= F.greatest("na", "nb") * F.lit(0.9))
        .groupBy("lang")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "semi_join",
    "SELECT c_custkey, c_name FROM customer"
    " WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def q_semi_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join",
    "SELECT c_custkey, c_name FROM customer"
    " WHERE NOT EXISTS (SELECT 1 FROM orders"
    "  WHERE o_custkey = c_custkey AND o_totalprice > 300000)",
)
def q_anti_join(spark, sf_dir):
    # Price floor keeps the survivor set NON-empty (3 rows at sf0.001,
    # 30 at sf0.01) — the driver-testdata orders table covers every
    # customer, so a bare "no orders" anti-join matched the oracle
    # vacuously on 0 rows (r4 verdict item 3).
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_SESSIONIZE_SQL = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
f AS (SELECT user_id, event_id, us,
        CASE WHEN lag(us) OVER w IS NULL
               OR us - lag(us) OVER w > 21600000000 THEN 1 ELSE 0 END AS flag
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
s AS (SELECT user_id, us,
        sum(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
      FROM f)
SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
       min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us
FROM s GROUP BY user_id, session_idx
"""


@register("sessionize", _SESSIONIZE_SQL)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (6 h gap) over the events table —
    integer-microsecond gap arithmetic, total (ts, event_id) order, one
    user-keyed shuffle (the closing aggregate reuses the window's
    partitioning; plan test pins the single Exchange)."""
    from dedup.events import sessionize

    return sessionize(load(spark, sf_dir, "events"), gap_s=21600)


_FUNNEL_EVENTS_SQL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
s1 AS (SELECT user_id, min(us) AS t1_us FROM e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(us) AS t2_us FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND us > t1_us GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(us) AS t3_us FROM e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2_us GROUP BY e.user_id)
SELECT s1.user_id, t1_us::BIGINT AS t1_us, t2_us::BIGINT AS t2_us,
       t3_us::BIGINT AS t3_us,
       (1 + (t2_us IS NOT NULL)::INT + (t3_us IS NOT NULL)::INT)::BIGINT
         AS stage_reached
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


@register("event_funnel", _FUNNEL_EVENTS_SQL)
def q_event_funnel(spark, sf_dir):
    """view → click → purchase ordered funnel per user: greedy-earliest
    chain with strict (>) integer-microsecond ordering; cascaded slim
    min-aggregates, every shuffled row two longs."""
    from dedup.events import event_funnel

    return event_funnel(load(spark, sf_dir, "events"))


@register(
    "asof_latest",
    "SELECT user_id, event_id AS last_event_id,"
    " CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch"
    " FROM events QUALIFY row_number() OVER"
    " (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1",
)
def q_asof_latest(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            # parquet reads as TIMESTAMP_NTZ; route through LTZ (session
            # pinned UTC) to get the same epoch DuckDB's naive read gives
            F.col("ts").cast("timestamp_ltz").cast("long").alias("ts_epoch"),
        )
    )


@register(
    "interval_overlap",
    "SELECT a.user_id AS user_id, count(*) AS n_overlaps FROM events a JOIN events b"
    " ON a.user_id = b.user_id AND a.event_id < b.event_id"
    " AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 1800 GROUP BY a.user_id",
)
def q_interval_overlap(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("tse"),
    )
    a = e.select("user_id", F.col("event_id").alias("ea"), F.col("tse").alias("ta"))
    b = e.select("user_id", F.col("event_id").alias("eb"), F.col("tse").alias("tb"))
    return (
        a.join(b, "user_id")
        .filter(F.col("ea") < F.col("eb"))
        .filter(F.abs(F.col("ta") - F.col("tb")) <= 1800)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_overlaps"))
    )


# ---------------------------------------------------------------------------
# E. pair verification / n-gram dedup
# ---------------------------------------------------------------------------

# Shingles are 64-bit-hashed in the oracle (DuckDB hash()) — integer
# list_intersect is ~2-5x cheaper than VARCHAR and hashed-set Jaccard
# equals string-set Jaccard modulo collisions (~1e-13/pair; also the
# pipeline's own semantics, which Jaccard xxhash64-hashed sets). The
# join carries the exact necessary bound J>=t => min(|A|,|B|)>=t*max
# so most pairs never reach the intersect. Verified row-identical to
# the unhashed all-pairs formulation at sf0.01 (36 rows, 2026-08-21).
_NGRAM_JACC_SQL = f"""
WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),
sh AS (SELECT doc_id, list_distinct([hash(x) for x in {SHINGLES_SQL}]) AS s FROM d),
p AS (SELECT a.doc_id AS src, b.doc_id AS dst,
        length(list_intersect(a.s, b.s))::DOUBLE
          / (length(a.s) + length(b.s) - length(list_intersect(a.s, b.s))) AS j
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
       AND least(length(a.s), length(b.s))::DOUBLE
           >= 0.3 * greatest(length(a.s), length(b.s)))
SELECT src, dst, round(j, 4) AS jacc FROM p WHERE j >= 0.3
"""


@register("ngram_jaccard", _NGRAM_JACC_SQL)
def q_ngram_jaccard(spark, sf_dir):
    """Exact char-5-gram Jaccard near-dup pairs (E2 as a standalone
    dedup op). Both sides hash their shingles (Spark xxhash64, DuckDB
    hash()) — Jaccard depends only on set SIZES, which any injective-
    in-practice hash preserves, and integer array_intersect is several
    times cheaper than the original VARCHAR sets on both engines."""
    d = docs_norm(spark, sf_dir).select(
        "doc_id", shingles_expr("norm_text", DEFAULT_CONFIG.k).alias("s")
    ).repartition(8, "doc_id")
    # ^ exchange barrier: without it Catalyst collapses the shingle
    # projection into the join output and re-evaluates it per PAIR
    # (measured 11.9 s vs 2.0 s with the barrier at sf0.01)
    a = d.select(F.col("doc_id").alias("src"), F.col("s").alias("sa"))
    b = d.select(F.col("doc_id").alias("dst"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    j = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    # exact necessary bound J>=t => min(|A|,|B|) >= t*max(|A|,|B|): the
    # cheap size conjunct prunes most pairs before the interpreted
    # array_intersect (same bound as the DuckDB twin's join condition)
    ratio_ok = F.least(F.size("sa"), F.size("sb")).cast("double") >= 0.3 * F.greatest(
        F.size("sa"), F.size("sb")
    )
    return (
        a.crossJoin(b)
        .filter((F.col("src") < F.col("dst")) & ratio_ok)
        .withColumn("j", j)
        .filter(F.col("j") >= 0.3)
        .select("src", "dst", F.round("j", 4).alias("jacc"))
    )


@register("est_jaccard")  # rows-only (E1: minhash agreement on candidates)
def q_est_jaccard(spark, sf_dir):
    from dedup.candidates import lsh_candidates
    from dedup.verify import est_jaccard_expr, join_pair_arrays

    cfg = DEFAULT_CONFIG
    sigs = _cached("signatures", spark, sf_dir, cfg)
    cands = lsh_candidates(with_bands(sigs, cfg), cfg)
    pairs = join_pair_arrays(cands, sigs, "minhash", "mh_a", "mh_b")
    return pairs.select(
        "src", "dst", F.round(est_jaccard_expr(num_perm=cfg.num_perm), 4).alias("est_jacc")
    )


@register("lcs_ratio")  # rows-only (E3: reference-parity matcher)
def q_lcs_ratio(spark, sf_dir):
    from dedup.verify import lcs_ratio_udf

    d = docs_norm(spark, sf_dir).select("doc_id", "norm_text").limit(40)
    a = d.select(F.col("doc_id").alias("src"), F.col("norm_text").alias("ta"))
    b = d.select(F.col("doc_id").alias("dst"), F.col("norm_text").alias("tb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", F.round(lcs_ratio_udf("ta", "tb"), 4).alias("lcs"))
    )


@register("hamming_simhash")  # rows-only (E4)
def q_hamming_simhash(spark, sf_dir):
    from dedup.candidates import simhash_candidates

    cfg = DEFAULT_CONFIG
    sigs = _cached("signatures", spark, sf_dir, cfg)
    return simhash_candidates(sigs, cfg)


@register("substr_dedup")  # rows-only (E5: suffix-array containment)
def q_substr_dedup(spark, sf_dir):
    """E5 over one deterministic gen_pages tile: slots 90-94 are
    containment docs by construction (base ± 20-200 tokens /
    truncation, datagen._tokens_and_base), so the qkey provably emits
    rows — the round-1 sf-sample run returned 0 rows, which proved
    nothing. Bounded 100-doc crossJoin = the accepted oracle-twin
    idiom; the at-scale path is pipeline.run_dedup(use_containment=True)
    (LSH candidates → verify_containment)."""
    from dedup.datagen import gen_pages
    from dedup.verify import verify_containment

    cfg = DEFAULT_CONFIG.with_(substr_min_len=40)
    d = (
        gen_pages(spark, 100, seed=42, partitions=4)
        .select(
            F.col("url").alias("doc_id"),
            normalize_text("text").alias("norm_text"),
        )
        .withColumn("n_chars", F.length("norm_text").cast("long"))
    )
    a = d.select(F.col("doc_id").alias("src"))
    b = d.select(F.col("doc_id").alias("dst"))
    pairs = a.crossJoin(b).filter(F.col("src") < F.col("dst"))
    return verify_containment(pairs, d, cfg).select("src", "dst", F.round("sim", 4).alias("sim"))


# ---------------------------------------------------------------------------
# F. aggregations
# ---------------------------------------------------------------------------


@register(
    "exact_dedup",
    "SELECT sha256(substr(text, 1, 80)) AS key80, min(doc_id) AS canon_id,"
    " count(*) AS n_members FROM documents GROUP BY 1",
)
def q_exact_dedup(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.sha2(F.substring("text", 1, 80), 256).alias("key80"))
        .agg(F.min("doc_id").alias("canon_id"), F.count("*").alias("n_members"))
    )


@register(
    "group_agg",
    "SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,"
    " round(avg(n_chars), 4) AS avg_chars, min(n_chars) AS min_chars,"
    " max(n_chars) AS max_chars FROM documents GROUP BY lang",
)
def q_group_agg(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register("distinct_ops", "SELECT DISTINCT lang, source FROM documents")
def q_distinct_ops(spark, sf_dir):
    return load(spark, sf_dir, "documents").select("lang", "source").distinct()


@register("approx_metrics")  # rows-only (F4: HLL++ is approximate by design)
def q_approx_metrics(spark, sf_dir):
    return load(spark, sf_dir, "documents").agg(
        F.approx_count_distinct("text", 0.02).alias("approx_texts"),
        F.approx_count_distinct("lang", 0.02).alias("approx_langs"),
    )


@register(
    "rollup_report",
    "SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,"
    " count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars FROM documents"
    " GROUP BY ROLLUP(lang, source)",
)
def q_rollup_report(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_chars",
        )
    )


@register(
    "collect_bucket",
    "SELECT lang, count(*) AS n_docs,"
    " array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS members5"
    " FROM documents GROUP BY lang",
)
def q_collect_bucket(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5)
            ).alias("members5"),
        )
    )


@register(
    "grouped_agg_udf",
    "SELECT lang, round(avg(n_chars), 4) AS mean_chars FROM documents GROUP BY lang",
)
def q_grouped_agg_udf(spark, sf_dir):
    from dedup.udfs import mean_udf

    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.round(mean_udf("n_chars"), 4).alias("mean_chars"))
    )


# ---------------------------------------------------------------------------
# G. windows
# ---------------------------------------------------------------------------


@register(
    "canonical_pick",
    "SELECT lang, doc_id, n_chars FROM documents QUALIFY"
    " row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) = 1",
)
def q_canonical_pick(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        load(spark, sf_dir, "documents")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "topk_per_group",
    "SELECT lang, doc_id, n_chars, row_number() OVER"
    " (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank FROM documents"
    " QUALIFY rank <= 3",
)
def q_topk_per_group(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        load(spark, sf_dir, "documents")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("lang", "doc_id", "n_chars", "rank")
    )


@register(
    "analytic_fns",
    "SELECT user_id, event_id,"
    " coalesce(lag(event_id) OVER w, -1) AS prev_event_id,"
    " round(value - coalesce(lag(value) OVER w, 0.0), 4) AS delta_v FROM events"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)",
)
def q_analytic_fns(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "event_id",
        F.coalesce(F.lag("event_id").over(w), F.lit(-1)).alias("prev_event_id"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4
        ).alias("delta_v"),
    )


@register(
    "frame_agg",
    "SELECT user_id, event_id, round(sum(value) OVER"
    " (PARTITION BY user_id ORDER BY ts, event_id"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum FROM events",
)
def q_frame_agg(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("run_sum")
    )


# ---------------------------------------------------------------------------
# H. sorts / limits / set ops
# ---------------------------------------------------------------------------


@register(
    "order_limit",
    "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10",
)
def q_order_limit(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "n_chars")
    )


@register(
    "union_edges",
    "SELECT doc_id FROM documents WHERE lang = 'en'"
    " UNION SELECT doc_id FROM documents WHERE n_chars > 300",
)
def q_union_edges(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .unionByName(d.filter(F.col("n_chars") > 300).select("doc_id"))
        .distinct()
    )


@register(
    "set_ops",
    "SELECT doc_id FROM documents WHERE lang = 'en'"
    " EXCEPT SELECT doc_id FROM documents WHERE source = 'src0'",
)
def q_set_ops(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .subtract(d.filter(F.col("source") == "src0").select("doc_id"))
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@register(
    "ann_topk",
    f"SELECT a.vec_id AS q_id, b.vec_id AS n_id, round({_COS_SQL}, 4) AS cos,"
    " row_number() OVER (PARTITION BY a.vec_id"
    f" ORDER BY round({_COS_SQL}, 4) DESC, b.vec_id ASC) AS rank"
    " FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id"
    " QUALIFY rank <= 5",
)
def q_ann_topk(spark, sf_dir):
    v = load(spark, sf_dir, "embeddings")
    return topk_neighbors(v, v.filter(F.col("vec_id") < 10), k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@register(
    "embedding_neardup",
    f"SELECT a.vec_id AS src, b.vec_id AS dst, round({_COS_SQL}, 4) AS cos"
    " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
    f" WHERE round({_COS_SQL}, 4) >= 0.45",
)
def q_embedding_neardup(spark, sf_dir):
    return brute_force_pairs(load(spark, sf_dir, "embeddings"), thresh=0.45)


@register("ann_lsh")  # rows-only: sign-bit LSH bucketed variant (scale path)
def q_ann_lsh(spark, sf_dir):
    return lsh_pairs(load(spark, sf_dir, "embeddings"), thresh=0.45, n_planes=6)


@register("ann_ivf")  # rows-only: IVF coarse-quantizer top-k (second scale path)
def q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k for the first 10 vectors as queries —
    deterministic centroids (seeded-hash sample), n_probe cells per
    query, exact cosine re-rank. Recall vs the exact window oracle is
    pinned in tests/test_simsearch.py."""
    from dedup.simsearch import ivf_topk

    v = load(spark, sf_dir, "embeddings")
    return ivf_topk(v, v.filter(F.col("vec_id") < 10), k=5)


@register(
    "ann_ivf_full",
    f"SELECT a.vec_id AS q_id, b.vec_id AS n_id, round({_COS_SQL}, 4) AS cos,"
    " row_number() OVER (PARTITION BY a.vec_id"
    f" ORDER BY round({_COS_SQL}, 4) DESC, b.vec_id ASC) AS rank"
    " FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id"
    " QUALIFY rank <= 5",
)
def q_ann_ivf_full(spark, sf_dir):
    """IVF at FULL probe (n_probe = n_cells): every cell is scanned, so
    the result is exactly the exact top-k — which gives the IVF path a
    full SQL-oracle driver record (the default-probe `ann_ivf` is
    approximate by design and rows-only). Exercises centroid assign,
    the cell-key join, and the re-rank window under a hash-verified
    contract; the approximate path differs only in the probed cell set
    (recall ≥ 0.9 pinned in tests/test_simsearch.py)."""
    from dedup.simsearch import ivf_topk

    v = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        v, v.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=16
    ).withColumn("rank", F.col("rank").cast("long"))


_PQ_CODES_SQL = """
WITH lim AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
              embedding AS cv FROM lim),
asg AS (
  SELECT e.vec_id, t.s AS subspace, c.code,
         row_number() OVER (PARTITION BY e.vec_id, t.s ORDER BY
           list_distance(e.embedding[t.s*8+1 : t.s*8+8]::DOUBLE[],
                         c.cv[t.s*8+1 : t.s*8+8]::DOUBLE[]) ASC,
           c.code ASC) AS rn
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) t(s)
  CROSS JOIN cb c)
SELECT vec_id, subspace::BIGINT AS subspace, code::BIGINT AS code
FROM asg WHERE rn = 1
"""


@register("pq_codes", _PQ_CODES_SQL)
def q_pq_codes(spark, sf_dir):
    """Product-quantization code assignment (m=8 subspaces, 16 codes,
    min-id codebook so the oracle replicates the pick): full (x−c)²
    argmin per subspace, first-index ties — long form
    (vec_id, subspace, code). Margins measured: min relative top-2
    distance gap ~1e-5 on the driver corpus, far above cross-engine
    summation noise."""
    from dedup.simsearch import pq_codebook, with_pq_codes

    v = load(spark, sf_dir, "embeddings")
    cb = pq_codebook(v, 16)
    return (
        with_pq_codes(v, cb, m=8)
        .select("vec_id", F.posexplode("codes").alias("subspace", "code"))
        .select(
            "vec_id", F.col("subspace").cast("long").alias("subspace"), "code"
        )
    )


@register("pq_topk")  # rows-only: ADC is approximate by construction
def q_pq_topk(spark, sf_dir):
    """PQ/ADC top-5 for the first 10 vectors: compressed-domain scan
    (m-byte codes), per-task distance tables, per-batch partial top-k,
    window merge. Recall vs exact is pinned in tests/test_simsearch.py."""
    from dedup.simsearch import pq_topk

    v = load(spark, sf_dir, "embeddings")
    return pq_topk(v, v.filter(F.col("vec_id") < 10), k=5)


_CELL_PURITY_SQL = """
WITH lim AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                embedding AS cv FROM lim),
asg AS (
  SELECT e.vec_id, e.label, c.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))) DESC,
           c.cell ASC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT label, cell FROM asg WHERE rn = 1),
c AS (SELECT cell, label, count(*)::BIGINT AS n FROM cells GROUP BY 1, 2),
t AS (SELECT cell, label AS top_label, n AS top_count,
             row_number() OVER (PARTITION BY cell
                                ORDER BY n DESC, label ASC) AS rn FROM c),
s AS (SELECT cell, sum(n)::BIGINT AS n_vecs, count(*)::BIGINT AS n_labels
      FROM c GROUP BY cell)
SELECT s.cell::BIGINT AS cell, s.n_vecs, s.n_labels,
       t.top_label::BIGINT AS top_label, t.top_count
FROM s JOIN t ON s.cell = t.cell AND t.rn = 1
"""


@register("cell_label_purity", _CELL_PURITY_SQL)
def q_cell_label_purity(spark, sf_dir):
    """Quantizer-quality evaluation over the labeled driver embeddings:
    per IVF cell (same min-id centroids + argmax assignment as
    semantic_dedup) — member count, distinct labels, majority label +
    count, all exact integers so the oracle binds."""
    from dedup.simsearch import cell_label_stats, ivf_centroids

    v = load(spark, sf_dir, "embeddings")
    cent = ivf_centroids(v, 8, order="id")
    return cell_label_stats(v, cent)


def _pair_cos_sql(x: str, y: str) -> str:
    return (
        f"list_dot_product({x}.embedding::DOUBLE[], {y}.embedding::DOUBLE[])"
        f" / (sqrt(list_dot_product({x}.embedding::DOUBLE[], {x}.embedding::DOUBLE[]))"
        f" * sqrt(list_dot_product({y}.embedding::DOUBLE[], {y}.embedding::DOUBLE[])))"
    )


_SEMDEDUP_SQL = f"""
WITH lim AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                embedding AS cv FROM lim),
asg AS (
  SELECT e.vec_id, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))) DESC,
           c.cell ASC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
dropped AS (
  SELECT DISTINCT q.vec_id
  FROM cells p JOIN cells q ON p.cell = q.cell AND p.vec_id < q.vec_id
  WHERE round({_pair_cos_sql('p', 'q')}, 4) >= 0.45)
SELECT c.vec_id, c.cell::BIGINT AS cell, d.vec_id IS NULL AS kept
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


@register("semantic_dedup", _SEMDEDUP_SQL)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the driver embeddings: 8 IVF cells (centroids =
    the 8 smallest-id vectors, so the oracle replicates the pick with
    ORDER BY vec_id LIMIT 8), within-cell cosine ≥ 0.45, min-id keep.
    Exercises the REAL scale path (argmax-GEMM cell assignment, cell-key
    self-join, Arrow einsum cosine) under the hash contract — argmax
    parity is safe because the min top-2 centroid-cosine gap on this
    corpus is ~4e-4, far above cross-engine summation noise."""
    from dedup.simsearch import ivf_centroids, semantic_dedup

    v = load(spark, sf_dir, "embeddings")
    cent = ivf_centroids(v, 8, order="id")
    return semantic_dedup(v, thresh=0.45, centroids=cent)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"length(list_intersect(list_distinct(string_split(nt, ' ')), [{words}]))"
    )


_LANG_ID_SQL = (
    f"WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),"
    " h AS (SELECT doc_id, "
    + ", ".join(f"{_hits_sql(lg)} AS h_{lg}" for lg in STOPWORDS)
    + ", greatest("
    + ", ".join(f"{_hits_sql(lg)}" for lg in STOPWORDS)
    + ") AS best FROM d)"
    " SELECT doc_id, CASE WHEN best <= 0 THEN 'und'"
    + " ".join(f"WHEN h_{lg} = best THEN '{lg}'" for lg in STOPWORDS)
    + " ELSE 'und' END AS lang_guess FROM h"
)


@register("lang_id", _LANG_ID_SQL)
def q_lang_id(spark, sf_dir):
    return docs_norm(spark, sf_dir).select(
        "doc_id", lang_id_expr("norm_text").alias("lang_guess")
    )


_QUALITY_SQL = f"""
WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),
f AS (SELECT doc_id, nt,
  length(string_split(nt, ' '))::BIGINT AS n_tokens,
  round((length(nt) - length(string_split(nt, ' ')) + 1)
        / length(string_split(nt, ' ')), 4) AS mean_tok_len,
  round(length(regexp_replace(nt, '[^a-z0-9]', '', 'g'))
        / greatest(length(nt), 1), 4) AS alnum_ratio,
  round({_hits_sql('en')} / greatest(length(string_split(nt, ' ')), 1), 4)
        AS stop_ratio,
  round(length(list_distinct(string_split(nt, ' ')))
        / greatest(length(string_split(nt, ' ')), 1), 4) AS uniq_tok_ratio
  FROM d)
SELECT doc_id, n_tokens, mean_tok_len, alnum_ratio, stop_ratio, uniq_tok_ratio,
  round(least(length(nt) / 500.0, 1.0) + alnum_ratio
        + least(stop_ratio * 10, 1.0) + uniq_tok_ratio, 4) AS quality
FROM f
"""


@register("quality_score", _QUALITY_SQL)
def q_quality_score(spark, sf_dir):
    d = docs_norm(spark, sf_dir)
    q = quality_exprs("norm_text")
    return d.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["mean_tok_len"].alias("mean_tok_len"),
        q["alnum_ratio"].alias("alnum_ratio"),
        q["stop_ratio"].alias("stop_ratio"),
        q["uniq_tok_ratio"].alias("uniq_tok_ratio"),
        quality_score_expr("norm_text").alias("quality"),
    )


@register(
    "token_count",
    f"WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents)"
    " SELECT doc_id, length(string_split(nt, ' '))::BIGINT AS n_ws_tokens,"
    " length(regexp_extract_all(nt, '[a-z0-9]+'))::BIGINT AS n_re_tokens FROM d",
)
def q_token_count(spark, sf_dir):
    d = docs_norm(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_expr("norm_text").cast("long").alias("n_ws_tokens"),
        regex_token_count_expr("norm_text").cast("long").alias("n_re_tokens"),
    )


@register("doc_fingerprint")  # rows-only (winnowing over hashed shingles)
def q_doc_fingerprint(spark, sf_dir):
    sh = _cached("shingles", spark, sf_dir, DEFAULT_CONFIG)
    return sh.select(
        "doc_id",
        F.size(fingerprint_expr("shingles", window=4)).cast("long").alias("n_fp"),
        F.element_at(fingerprint_expr("shingles", window=4), 1).alias("fp0"),
    )


# the deterministic-fake decode derives (width, height) from the first
# two bytes of sha256(blob) — reproducible in SQL from the hex digest
# (DuckDB sha256(VARCHAR) hashes the utf-8 bytes, = sha256(encode(text)))
_MULTIMODAL_SQL = """
WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS n_bytes,
                  sha256(text) AS content_sha FROM documents),
b AS (SELECT *,
        (strpos('0123456789abcdef', substr(content_sha, 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha, 2, 1)) - 1 AS h0,
        (strpos('0123456789abcdef', substr(content_sha, 3, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha, 4, 1)) - 1 AS h1
      FROM m)
SELECT media_id, n_bytes, content_sha, 'fake' AS format,
       (16 + h0 % 240)::INT AS width, (16 + h1 % 240)::INT AS height FROM b
"""


@register("multimodal_meta", _MULTIMODAL_SQL)
def q_multimodal_meta(spark, sf_dir):
    from dedup.multimodal import extract_media_meta

    media = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
    )
    return extract_media_meta(media, deterministic_fake=True)


# ---------------------------------------------------------------------------
# corpus hygiene (dedup/corpus.py): line-dedup, decontamination, repetition
# ---------------------------------------------------------------------------

#: shared DuckDB fragment: whitespace tokens with empties removed
#: (twin of corpus._clean_tokens)
_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _grams_sql(n: int) -> str:
    """DuckDB twin of corpus.word_ngrams_expr over `toks`."""
    return (
        f"CASE WHEN len(toks) >= {n} THEN"
        f" [array_to_string(toks[i:i+{n - 1}], ' ')"
        f"  for i in generate_series(1, len(toks) - {n - 1})]"
        " ELSE []::VARCHAR[] END"
    )


_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, {_grams_sql(2)} AS grams FROM t)
SELECT doc_id, len(grams)::BIGINT AS n_ngrams,
       len(list_distinct(grams))::BIGINT AS n_distinct_ngrams FROM g
"""


@register("repetition_score", _REPETITION_SQL)
def q_repetition_score(spark, sf_dir):
    """Gopher/Dolma-style intra-doc repetition signal: total vs distinct
    word bigrams, as exact BIGINTs (a rounded ratio can land on .xxxx5
    decimal ties where Spark and DuckDB rounding diverge)."""
    from dedup.corpus import repetition_counts

    d = load(spark, sf_dir, "documents")
    rc = repetition_counts("text", n=2)
    return d.select(
        "doc_id",
        rc["n_ngrams"].alias("n_ngrams"),
        rc["n_distinct_ngrams"].alias("n_distinct_ngrams"),
    )


_DECONTAMINATE_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, {_grams_sql(8)} AS grams FROM t),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
b AS (SELECT DISTINCT gram FROM e WHERE doc_id < 5),
h AS (SELECT e.doc_id, count(DISTINCT e.gram)::BIGINT AS n_hits
      FROM e JOIN b USING (gram) GROUP BY e.doc_id)
SELECT t.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM t LEFT JOIN h USING (doc_id)
"""


@register("decontaminate", _DECONTAMINATE_SQL)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 8-gram with the
    'benchmark' slice (doc_id < 5 stands in for a held-out eval set).
    The Spark path ships hashed grams (the scale default); hash equality
    with the string-gram oracle holds modulo 64-bit collisions
    (~|grams|²/2⁻⁶⁴ — vanishing at sf scales)."""
    from dedup.corpus import decontaminate

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return decontaminate(d, d.filter(F.col("doc_id") < 5), n=8)


_LINE_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
l AS (SELECT doc_id, CASE WHEN len(toks) > 0 THEN
        [array_to_string(toks[(i*10+1):(i*10+10)], ' ')
         for i in generate_series(0, cast(ceil(len(toks)/10.0) AS BIGINT) - 1)]
      ELSE []::VARCHAR[] END AS lines FROM t),
e AS (SELECT doc_id, unnest(lines) AS line,
             generate_subscripts(lines, 1) AS ln_idx FROM l),
b AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
                        FROM e GROUP BY line) WHERE df > 1),
k AS (SELECT e.* FROM e ANTI JOIN b USING (line)),
a AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, ' ' ORDER BY ln_idx) AS clean_text
      FROM k GROUP BY doc_id)
SELECT l.doc_id, len(l.lines)::BIGINT AS n_lines,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM l LEFT JOIN a USING (doc_id)
"""


_VOCAB_SQL = f"""
WITH e AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
SELECT tok, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM e GROUP BY tok ORDER BY n_occurrences DESC, tok ASC LIMIT 100
"""


@register("vocab_topk", _VOCAB_SQL)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: top-100 tokens by occurrence count with
    document frequency. Tie order (count desc, token asc) is total, so
    the LIMIT boundary is engine-independent."""
    from dedup.corpus import token_vocab

    return token_vocab(load(spark, sf_dir, "documents"), k=100)


@register("url_normalize")  # rows-only (no url column in driver tables)
def q_url_normalize(spark, sf_dir):
    """Crawl-frontier URL canonicalization: deterministic messy variants
    of gen_pages urls (uppercased scheme/host, default port, unsorted
    query, fragment) must canonicalize to the same string as the clean
    form. Emits the invariant per url; unit semantics pinned in
    tests/test_corpus.py."""
    from dedup.corpus import canonical_url_expr
    from dedup.datagen import gen_pages

    pages = gen_pages(spark, 200, seed=42, partitions=4).select("url")
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    messy = pages.select(
        "url",
        F.concat(
            F.lit("HTTPS://"), F.upper(host), F.lit(":443"), path,
            F.lit("?b=2&a=1#frag"),
        ).alias("messy"),
        F.concat(
            F.lit("https://"), host, path, F.lit("?a=1&b=2"),
        ).alias("clean"),
    )
    return messy.select(
        "url",
        canonical_url_expr("messy").alias("canon"),
        (canonical_url_expr("messy") == canonical_url_expr("clean")).alias(
            "canon_stable"
        ),
    )


#: the full curation decision as one query: the three signal CTEs are
#: the EXACT oracle texts of their standalone qkeys (quality_score,
#: repetition_score, decontaminate), so this composition can never
#: drift from its parts
_CURATE_SQL = f"""
WITH qq AS ({_QUALITY_SQL}),
rr AS ({_REPETITION_SQL}),
cc AS ({_DECONTAMINATE_SQL})
SELECT qq.doc_id, qq.quality, rr.n_ngrams, rr.n_distinct_ngrams, cc.n_hits,
       (qq.quality >= 2.0 AND rr.n_ngrams > 0
        AND 2 * rr.n_distinct_ngrams >= rr.n_ngrams
        AND cc.n_hits = 0) AS kept
FROM qq JOIN rr USING (doc_id) JOIN cc USING (doc_id)
"""


@register("curate", _CURATE_SQL)
def q_curate(spark, sf_dir):
    """The end-to-end curation decision a training-data pipeline makes
    per document: quality score ≥ 2.0, non-degenerate length, bigram
    repetition ≤ 50%, zero benchmark n-gram hits. Composes the three
    standalone signal queries (so Spark and oracle compositions share
    their parts verbatim); all predicates compare rounded-once doubles
    or exact BIGINTs — no fresh tie surface. At scale this is three
    scans fused by Catalyst over one doc_id join key."""
    q = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    r = q_repetition_score(spark, sf_dir)
    c = q_decontaminate(spark, sf_dir).select("doc_id", "n_hits")
    return (
        q.join(r, "doc_id")
        .join(c, "doc_id")
        .select(
            "doc_id",
            "quality",
            "n_ngrams",
            "n_distinct_ngrams",
            "n_hits",
            (
                (F.col("quality") >= 2.0)
                & (F.col("n_ngrams") > 0)
                & (2 * F.col("n_distinct_ngrams") >= F.col("n_ngrams"))
                & (F.col("n_hits") == 0)
            ).alias("kept"),
        )
    )


@register("line_dedup", _LINE_DEDUP_SQL)
def q_line_dedup(spark, sf_dir):
    """CCNet-style boilerplate-line removal over deterministic 10-token
    'lines' (the driver corpus carries no newlines — the operator itself
    takes any array<string> line column). A line in more than one doc is
    boilerplate; docs are rebuilt from surviving lines in order."""
    from dedup.corpus import chunk_lines_expr, remove_common_lines

    d = load(spark, sf_dir, "documents").select(
        "doc_id", chunk_lines_expr("text", width=10).alias("lines")
    )
    return remove_common_lines(d, max_df=1)


_PARA_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
l AS (SELECT doc_id, CASE WHEN len(toks) > 0 THEN
        [array_to_string(toks[(i*20+1):(i*20+20)], ' ')
         for i in generate_series(0, cast(ceil(len(toks)/20.0) AS BIGINT) - 1)]
      ELSE []::VARCHAR[] END AS paras FROM t),
e AS (SELECT doc_id, unnest(paras) AS para,
             generate_subscripts(paras, 1) AS p_idx FROM l),
r AS (SELECT doc_id, para, p_idx,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, p_idx) AS rn
      FROM e),
k AS (SELECT doc_id, para, p_idx FROM r WHERE rn = 1),
a AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(para, ' ' ORDER BY p_idx) AS clean_text
      FROM k GROUP BY doc_id)
SELECT l.doc_id, len(l.paras)::BIGINT AS n_paras,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM l LEFT JOIN a USING (doc_id)
"""


@register("paragraph_dedup", _PARA_DEDUP_SQL)
def q_paragraph_dedup(spark, sf_dir):
    """RefinedWeb/Dolma-style corpus-global exact paragraph dedup,
    keep-first: every later exact copy of a paragraph is dropped and
    docs are rebuilt in order. Deterministic 20-token chunks stand in
    for paragraphs (the driver corpus has no newlines; the operator
    takes any array<string> column)."""
    from dedup.corpus import chunk_lines_expr, keep_first_paragraphs

    d = load(spark, sf_dir, "documents").select(
        "doc_id", chunk_lines_expr("text", width=20).alias("paras")
    )
    return keep_first_paragraphs(d)


# url synthesized identically on both sides (the driver corpus has no
# url column): mixed-case registrable part exercises host lowering,
# userinfo/port variants exercise the authority parse, and the www/mN
# subdomain split gives each apex domain several distinct hosts.
_URL_SYNTH_SQL = (
    "'https://' || CASE WHEN doc_id % 11 = 0 THEN 'u:p@' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN 'www' ELSE 'm' || (doc_id % 5) END"
    " || '.' || source || '.OrG'"
    " || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END"
    " || '/p/' || doc_id"
)


def _url_synth_col():
    """Spark twin of _URL_SYNTH_SQL — ONE definition shared by every
    qkey that synthesizes crawl urls (domain_stats, domain_cap), so the
    two sides cannot drift apart independently."""
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("u:p@")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www")).otherwise(
            F.concat(F.lit("m"), (F.col("doc_id") % 5).cast("string"))
        ),
        F.lit("."),
        F.col("source"),
        F.lit(".OrG"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )

_DOMAIN_STATS_SQL = f"""
WITH u AS (SELECT doc_id, lang, text, {_URL_SYNTH_SQL} AS url FROM documents),
h AS (SELECT lang, length(text)::BIGINT AS n_chars,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.\\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1))
               AS host FROM u),
d AS (SELECT *, CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = ''
                     THEN host
                     ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END
               AS domain FROM h)
SELECT domain, count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       count(DISTINCT lang)::BIGINT AS n_langs,
       sum(n_chars)::BIGINT AS total_chars
FROM d GROUP BY domain
"""


@register("domain_stats", _DOMAIN_STATS_SQL)
def q_domain_stats(spark, sf_dir):
    """Per-apex-domain crawl report (docs, hosts, langs, chars): the
    curation view that decides per-domain caps/blocklists. Host/apex
    extraction is pure codegen; one domain-keyed hash aggregate."""
    from dedup.corpus import domain_stats

    d = load(spark, sf_dir, "documents")
    return domain_stats(d.withColumn("url", _url_synth_col()))


_STRAT_SAMPLE_SQL = """
WITH b AS (SELECT doc_id, lang,
             ((doc_id % 1000003) * 2654435761 + 40503) % 1048576 AS bucket
           FROM documents)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 786432 WHEN 'de' THEN 524288
                         WHEN 'fr' THEN 393216 ELSE 262144 END
"""


@register("stratified_sample", _STRAT_SAMPLE_SQL)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (multilingual corpus
    rebalancing): pure integer hash filter — stable across reruns and
    partitionings, unlike df.sample(). Rates en .75 / de .5 / fr .375 /
    default .25 as exact 2^20-denominator thresholds."""
    from dedup.corpus import stratified_sample

    d = load(spark, sf_dir, "documents")
    return stratified_sample(
        d, rates={"en": 0.75, "de": 0.5, "fr": 0.375}, default_rate=0.25
    )


_TFIDF_SQL = f"""
WITH e AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM e GROUP BY doc_id, tok),
df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             floor(tf.tf * 1000000 / df.df)::BIGINT AS score
      FROM tf JOIN df USING (tok)),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, tok ASC) AS rn FROM s)
SELECT doc_id, tok, tf, df, score FROM r WHERE rn <= 3
"""


@register("tfidf_topk", _TFIDF_SQL)
def q_tfidf_topk(spark, sf_dir):
    """Per-doc top-3 salient tokens by integer TF-IDF surrogate
    floor(tf·10^6/df) — log-free so the oracle binds exactly; total
    tie order (score desc, tok asc)."""
    from dedup.corpus import tfidf_topk

    return tfidf_topk(load(spark, sf_dir, "documents"), k=3)


_DOMAIN_CAP_SQL = f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
h AS (SELECT doc_id,
             ((doc_id % 1000003) * 2654435761 + 40503) % 1048576 AS hb,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.\\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1))
               AS host FROM u),
d AS (SELECT doc_id, hb,
             CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = ''
                  THEN host
                  ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END
               AS domain FROM h),
r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY hb, doc_id) AS rn FROM d)
SELECT doc_id, domain FROM r WHERE rn <= 10
"""


@register("domain_cap", _DOMAIN_CAP_SQL)
def q_domain_cap(spark, sf_dir):
    """Per-domain document cap at 10 pages over the synthesized crawl
    urls: deterministic lowest-(hash, id) selection; the Spark path is
    the two-path plan (under-cap domains pass through a counted-gate
    broadcast anti-join, only over-cap domains enter the window)."""
    from dedup.corpus import cap_per_domain

    d = load(spark, sf_dir, "documents")
    return cap_per_domain(d.withColumn("url", _url_synth_col()), cap=10)


_FUNNEL_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT *, {_grams_sql(2)} AS grams FROM t),
c AS (SELECT length(text) >= 200 AS c1, len(toks) >= 40 AS c2,
             len(list_distinct(grams)) * 2 >= len(grams) AS c3,
             lang IN ('en', 'de', 'fr') AS c4 FROM g),
f AS (SELECT count(*)::BIGINT AS s0,
             sum(CASE WHEN c1 THEN 1 ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN c1 AND c2 THEN 1 ELSE 0 END)::BIGINT AS s2,
             sum(CASE WHEN c1 AND c2 AND c3 THEN 1 ELSE 0 END)::BIGINT AS s3,
             sum(CASE WHEN c1 AND c2 AND c3 AND c4 THEN 1 ELSE 0 END)::BIGINT
               AS s4 FROM c)
SELECT 0 AS stage_idx, 'total' AS stage, s0 AS n_docs FROM f
UNION ALL SELECT 1, 'len_ok', s1 FROM f
UNION ALL SELECT 2, 'tok_ok', s2 FROM f
UNION ALL SELECT 3, 'rep_ok', s3 FROM f
UNION ALL SELECT 4, 'lang_ok', s4 FROM f
"""


@register("filter_funnel", _FUNNEL_SQL)
def q_filter_funnel(spark, sf_dir):
    """Curation-funnel report: cumulative survivor counts through the
    length / token / repetition / language gates — one aggregate pass,
    unpivoted by a constant stack."""
    from dedup.corpus import filter_funnel

    return filter_funnel(load(spark, sf_dir, "documents"))


_LEN_QUANT_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs,
       quantile_cont(n_chars, 0.1) AS p10,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90
FROM documents GROUP BY lang
"""


@register("length_quantiles", _LEN_QUANT_SQL)
def q_length_quantiles(spark, sf_dir):
    """Per-language exact length quantiles (gate-threshold selection):
    Spark's exact `percentile` computes the same pos = q·(n−1) linear
    interpolation as DuckDB's quantile_cont — bit-equal on the integer
    inputs."""
    from dedup.corpus import length_quantiles

    return length_quantiles(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# I. clustering — the flagship near-dup pipeline
# ---------------------------------------------------------------------------

# DuckDB twins for the clustering qkeys. Hash-free formulation of the
# pinned semantics (config.py): an edge joins two docs iff their
# normalized texts are identical (pipeline 'exact' kind) OR both are
# shingle-eligible (>= min_text_len normalized chars) and their distinct
# char-5-gram STRING sets have Jaccard >= jaccard_thresh (pipeline
# 'near' kind — hash-set Jaccard equals string-set Jaccard modulo
# xxhash64 collisions). Components come from a recursive CTE (transitive
# closure over the symmetrized edge list); the label is the min
# reachable source doc_id — the same deterministic rule the pipeline
# uses. Edge-set equality pipeline-vs-this-SQL at sf0.01 is exact for
# BOTH presets (25 edges, 0 missing / 0 extra, checked 2026-08-18): the
# est-prefilter miss probability (~1e-6/pair) and the b=16/r=8 LSH miss
# probability are real at scale but do not fire on this deterministic
# dataset, and every emitted edge is verified by exact Jaccard.
# Shingle sets are 64-bit-hashed (same rationale + row-equality check
# as _NGRAM_JACC_SQL — this also matches the pipeline's hashed-set
# Jaccard) and the exact length-ratio bound J>=t => min>=t*max guards
# the intersect, cutting the oracle from ~46 s to ~8 s at sf0.01.
_CLUSTER_EDGE_CTES = f"""
WITH RECURSIVE d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),
s AS (SELECT doc_id, nt, length(nt) AS n,
             list_distinct([hash(x) for x in {SHINGLES_SQL}]) AS sh FROM d),
p AS (SELECT a.doc_id AS src, b.doc_id AS dst
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE a.nt = b.nt
         OR (a.n >= {DEFAULT_CONFIG.min_text_len}
             AND b.n >= {DEFAULT_CONFIG.min_text_len}
             AND least(length(a.sh), length(b.sh))::DOUBLE
                 >= {DEFAULT_CONFIG.jaccard_thresh}
                    * greatest(length(a.sh), length(b.sh))
             AND length(list_intersect(a.sh, b.sh))::DOUBLE
               / (length(a.sh) + length(b.sh)
                  - length(list_intersect(a.sh, b.sh)))
               >= {DEFAULT_CONFIG.jaccard_thresh})),
e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p)"""

#: every doc labeled, singletons = own id (I2 / flagship output shape)
_CLUSTER_ASSIGN_SQL = (
    _CLUSTER_EDGE_CTES
    + """,
r AS (SELECT doc_id AS id, doc_id AS m FROM d
      UNION
      SELECT e.dst AS id, r.m AS m FROM r JOIN e ON e.src = r.id)
SELECT id AS doc_id, min(m) AS cluster_id FROM r GROUP BY id"""
)

#: only vertices that appear in an edge (I1 conn_comp output shape)
_CONN_COMP_SQL = (
    _CLUSTER_EDGE_CTES
    + """,
r AS (SELECT DISTINCT src AS id, src AS m FROM e
      UNION
      SELECT e.dst AS id, r.m AS m FROM r JOIN e ON e.src = r.id)
SELECT id AS doc_id, min(m) AS cluster_id FROM r GROUP BY id"""
)

_CLUSTER_REPORT_SQL = (
    _CLUSTER_EDGE_CTES
    + """,
r AS (SELECT doc_id AS id, doc_id AS m FROM d
      UNION
      SELECT e.dst AS id, r.m AS m FROM r JOIN e ON e.src = r.id),
a AS (SELECT id, min(m) AS cid FROM r GROUP BY id)
SELECT a.cid AS cluster_id, count(*)::BIGINT AS cluster_size,
       min(s.n)::BIGINT AS min_n_chars, max(s.n)::BIGINT AS max_n_chars
FROM a JOIN s ON s.doc_id = a.id GROUP BY a.cid"""
)


@register("near_dup_clusters", _CLUSTER_ASSIGN_SQL)
def q_near_dup_clusters(spark, sf_dir):
    from dedup.pipeline import run_dedup

    pages = documents_as_pages(spark, sf_dir)
    res = run_dedup(pages, HIGH_RECALL_CONFIG)
    # map the synthetic url back to the source table's doc_id, then
    # relabel each cluster by its min SOURCE doc_id — the same partition
    # of the documents, in a hash-free id space the DuckDB twin can
    # reproduce (the raw pipeline label is the min xxhash64(url))
    mapped = res.clusters.select(
        F.regexp_extract("url", "doc://(-?\\d+)", 1).cast("long").alias("doc_id"),
        F.col("cluster_id").alias("pipe_cid"),
    )
    w = Window.partitionBy("pipe_cid")
    return mapped.select(
        "doc_id", F.min("doc_id").over(w).alias("cluster_id")
    )


@register("cluster_report", _CLUSTER_REPORT_SQL)
def q_cluster_report(spark, sf_dir):
    from dedup.pipeline import run_dedup

    pages = documents_as_pages(spark, sf_dir)
    res = run_dedup(pages, HIGH_RECALL_CONFIG)
    mapped = res.clusters.select(
        F.regexp_extract("url", "doc://(-?\\d+)", 1).cast("long").alias("doc_id"),
        F.col("cluster_id").alias("pipe_cid"),
        "n_chars",
    )
    w = Window.partitionBy("pipe_cid")
    relab = mapped.select(
        "doc_id", "n_chars", F.min("doc_id").over(w).alias("cluster_id")
    )
    return relab.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.min("n_chars").cast("long").alias("min_n_chars"),
        F.max("n_chars").cast("long").alias("max_n_chars"),
    )


@register("near_dup_with_containment")  # rows-only (E5 at-scale wiring)
def q_near_dup_with_containment(spark, sf_dir):
    """The containment detector ON ITS AT-SCALE PATH: the full pipeline
    with use_containment=True, where LSH candidate pairs that FAIL the
    near-Jaccard verify are re-checked by the suffix-array longest-
    common-substring kernel (verify.verify_containment) and emitted as
    'substr' edges. Input is one deterministic gen_pages tile set —
    slots 90-94 of each 100-tile are containment docs by construction
    (base ± 20-200 tokens / truncation to ~60%, datagen._tokens_and_base)
    so the path provably fires. HIGH_RECALL banding (32×4, s-curve
    ≈0.42) buckets the ~0.5-Jaccard truncation pairs that DEFAULT
    banding would miss. Precision of every emitted edge is re-verified
    against the driver-side suffix kernel in
    tests/test_pipeline.py::test_containment_end_to_end."""
    from dedup.datagen import gen_pages
    from dedup.pipeline import run_dedup

    cfg = HIGH_RECALL_CONFIG.with_(substr_min_len=40)
    pages = gen_pages(spark, 300, seed=42, partitions=8)
    res = run_dedup(
        pages, cfg, use_containment=True, edge_kinds=("exact", "near", "substr")
    )
    return (
        res.edges.filter(F.col("kind") == "substr")
        .select("src", "dst", F.round("sim", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# SURVEY §2 qkey-parity entries (names match the inventory table exactly)
# ---------------------------------------------------------------------------


@register("extract_text")  # rows-only (B3: versioned pure extractor over html)
def q_extract_text(spark, sf_dir):
    from dedup.datagen import gen_pages
    from dedup.text import extract_text_udf

    pages = gen_pages(spark, 200, seed=42, partitions=4)
    out = pages.select(
        "url",
        extract_text_udf(F.col("html")).alias("xt"),
        F.col("text").alias("provided"),
    )
    # the invariant itself: extractor output == stored text, per url
    return out.select(
        "url",
        F.length("xt").cast("long").alias("n_chars"),
        (F.col("xt") == F.col("provided")).alias("byte_identical"),
    )


@register("lsh_bucket_join")  # rows-only (D1: raw candidate pairs)
def q_lsh_bucket_join(spark, sf_dir):
    from dedup.candidates import lsh_candidates

    cfg = DEFAULT_CONFIG
    sigs = _cached("signatures", spark, sf_dir, cfg)
    return lsh_candidates(with_bands(sigs, cfg), cfg)


@register("salted_join")  # rows-only (D2: pair-set-identical to D1, tested)
def q_salted_join(spark, sf_dir):
    from dedup.skew import salted_lsh_candidates

    cfg = DEFAULT_CONFIG.with_(salt_hot_thresh=8, n_salt=4)
    sigs = _cached("signatures", spark, sf_dir, DEFAULT_CONFIG)
    return salted_lsh_candidates(with_bands(sigs, cfg), cfg)


# E2 under its SURVEY qkey: same implementation + oracle as ngram_jaccard
REGISTRY["exact_jaccard"] = REGISTRY["ngram_jaccard"]


# oracle = table contents: sortWithinPartitions must be a pure physical
# reordering (same rows in, same rows out — the compare is order-free)
@register("sort_within", "SELECT doc_id, lang, n_chars FROM documents")
def q_sort_within(spark, sf_dir):
    d = load(spark, sf_dir, "documents").repartition(4, "lang")
    return d.sortWithinPartitions("lang", "doc_id").select("doc_id", "lang", "n_chars")


# oracle = table contents: the committed write + manifest read must
# round-trip the frame losslessly
@register("sink_table", "SELECT doc_id, lang, n_chars FROM documents")
def q_sink_table(spark, sf_dir):
    import tempfile

    from dedup.tableio import TableIO

    tio = TableIO(spark, tempfile.mkdtemp(prefix="qsink-"), backend="parquet")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tio.write(docs, "docs_q", mode="overwrite", sort_within=["doc_id"])
    return tio.read("docs_q")


# -- corpus hygiene round 4: cross-corpus near-dup ----------------------------

# brute-force oracle: every new×ref pair with exact hashed-shingle
# Jaccard >= 0.8, counted per new doc (counts only — no float column,
# so no rounding-dialect exposure); same hashed-set + length-ratio
# idiom as _NGRAM_JACC_SQL
_XCORPUS_SQL = f"""
WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),
s AS (SELECT doc_id, list_distinct([hash(x) for x in {SHINGLES_SQL}]) AS sh FROM d),
n AS (SELECT * FROM s WHERE doc_id % 5 = 0),
r AS (SELECT * FROM s WHERE doc_id % 5 != 0),
p AS (SELECT n.doc_id,
        length(list_intersect(n.sh, r.sh))::DOUBLE
          / (length(n.sh) + length(r.sh) - length(list_intersect(n.sh, r.sh))) AS j
      FROM n JOIN r
        ON least(length(n.sh), length(r.sh))::DOUBLE
           >= 0.8 * greatest(length(n.sh), length(r.sh))),
h AS (SELECT doc_id, count(*)::BIGINT AS n_matches FROM p WHERE j >= 0.8
      GROUP BY doc_id)
SELECT n.doc_id, coalesce(h.n_matches, 0)::BIGINT AS n_matches,
       coalesce(h.n_matches, 0) > 0 AS is_dup
FROM n LEFT JOIN h ON n.doc_id = h.doc_id
"""


@register("cross_corpus_neardup", _XCORPUS_SQL)
def q_cross_corpus_neardup(spark, sf_dir):
    """Cross-corpus near-dedup: flag NEW docs (doc_id % 5 == 0) that are
    near-duplicates of a REFERENCE corpus (the rest) — the batch form
    of the streaming probe (candidates.*_candidates_probe): new-side
    band/chunk keys probe the reference side only, so no new×new or
    ref×ref pair is ever formed and the pair volume scales with the new
    side. Survivors are decided by exact shingle Jaccard ≥ 0.8
    (verify_jaccard), which is what the brute-force oracle recomputes.
    Returns (doc_id, n_matches, is_dup) for EVERY new doc."""
    from dedup.candidates import (
        lsh_candidates_probe,
        simhash_candidates_probe,
        simhash_chunks,
    )
    from dedup.signatures import with_bands, with_shingles, with_signatures
    from dedup.verify import verify_jaccard

    cfg = HIGH_RECALL_CONFIG
    d = docs_norm(spark, sf_dir).select("doc_id", "norm_text")
    is_new = F.col("doc_id") % 5 == 0
    new_docs, ref_docs = d.filter(is_new), d.filter(~is_new)
    sh = with_shingles(d, cfg)
    new_sigs = with_signatures(with_shingles(new_docs, cfg), cfg)
    ref_sigs = with_signatures(with_shingles(ref_docs, cfg), cfg)
    pairs = (
        lsh_candidates_probe(with_bands(new_sigs, cfg), with_bands(ref_sigs, cfg), cfg)
        .union(
            simhash_candidates_probe(
                simhash_chunks(new_sigs, cfg), simhash_chunks(ref_sigs, cfg), cfg
            )
        )
        .dropDuplicates(["src", "dst"])
    )
    near = verify_jaccard(pairs, sh, cfg)
    new_ids = new_docs.select("doc_id")
    hits = (
        near.select(F.explode(F.array("src", "dst")).alias("doc_id"))
        .join(F.broadcast(new_ids), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
    )
    return new_ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        (F.coalesce("n_matches", F.lit(0)) > 0).alias("is_dup"),
    )


# -- corpus hygiene round 4: PII redaction + sequence packing -----------------

_PII_SQL = (
    "WITH d AS (SELECT doc_id,"
    " text || ' contact u' || doc_id::VARCHAR || '@example.com from 10.0.0.'"
    " || (doc_id % 256)::VARCHAR || ' or +15550001234' AS t FROM documents)"
    " SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),"
    " '\\+\\d{9,15}', '<PHONE>', 'g') AS clean FROM d"
)


@register("redact_pii", _PII_SQL)
def q_redact_pii(spark, sf_dir):
    """Corpus-hygiene PII redaction: the driver's synthetic text is
    PII-free, so both sides append a deterministic doc_id-derived
    email/IP/phone tail before redacting — the oracle checks the chained
    codegen regexp_replace semantics byte-for-byte."""
    from dedup.corpus import redact_pii_expr

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" or +15550001234"),
        ).alias("t"),
    )
    return d.select("doc_id", redact_pii_expr("t").alias("clean"))


_PACK_SQL = (
    f"WITH d AS (SELECT doc_id, lang, {NORM_SQL} AS nt FROM documents),"
    " t AS (SELECT doc_id, lang,"
    "   length(string_split(nt, ' '))::BIGINT AS n_tokens FROM d),"
    " c AS (SELECT doc_id, lang, n_tokens,"
    "   sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t)"
    " SELECT doc_id, lang, n_tokens,"
    " floor((cum - n_tokens) / 512)::BIGINT AS start_chunk,"
    " greatest(floor((cum - n_tokens) / 512), floor((cum - 1) / 512))::BIGINT"
    "   AS end_chunk FROM c"
)


@register("pack_chunks", _PACK_SQL)
def q_pack_chunks(spark, sf_dir):
    """Sequence-packing plan (concat-then-chunk at 512 tokens,
    per-lang shards): each doc's [start_chunk, end_chunk] range from a
    running windowed token sum — corpus.chunk_plan."""
    from dedup.corpus import chunk_plan

    d = docs_norm(spark, sf_dir).select("doc_id", "lang", "norm_text")
    return chunk_plan(d, capacity=512, shard_col="lang")


@register(
    "bucketed_join",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def q_bucketed_join(spark, sf_dir):
    """§4.3 co-located join surface: two catalog tables bucketed by
    doc_id into the same bucket count join with NO exchange on either
    side (plan pinned in tests/test_plans.py) — the layout that keeps a
    corpus×corpus equi-join shuffle-free at 100 TB. Content-wise the
    join reassembles the documents projection, which is the oracle."""
    import tempfile
    import uuid as _uuid

    from dedup.tableio import TableIO

    tio = TableIO(spark, tempfile.mkdtemp(prefix="qbk-"), backend="parquet")
    docs = load(spark, sf_dir, "documents")
    a, b = f"qbk_a_{_uuid.uuid4().hex[:8]}", f"qbk_b_{_uuid.uuid4().hex[:8]}"
    tio.write_bucketed(docs.select("doc_id", "lang"), a, ["doc_id"], 8,
                       sort_by=["doc_id"])
    tio.write_bucketed(docs.select("doc_id", "n_chars"), b, ["doc_id"], 8,
                       sort_by=["doc_id"])
    return (
        tio.read_bucketed(a)
        .join(tio.read_bucketed(b), "doc_id")
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


@register(
    "sink_partitioned",
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def q_sink_partitioned(spark, sf_dir):
    """A3/§4.3 partitioned sink: commit hive-partitioned on lang across
    TWO appended snapshots, read back with a partition filter — the
    rows must equal the plain SQL predicate while the scan serves lang
    from PartitionFilters (directory pruning; plan pinned in
    tests/test_plans.py, DPP variant there too)."""
    import tempfile

    from dedup.tableio import TableIO

    tio = TableIO(spark, tempfile.mkdtemp(prefix="qsinkp-"), backend="parquet")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    half = F.col("doc_id") % 2 == 0
    tio.write(docs.filter(half), "docs_p", mode="append", partition_by=["lang"])
    tio.write(docs.filter(~half), "docs_p", mode="append", partition_by=["lang"])
    return (
        tio.read("docs_p")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


# oracle = the first commit's predicate: time travel to snapshot s0
# must see the en-rows only, not the second append
@register("snapshot_read", "SELECT doc_id, lang FROM documents WHERE lang = 'en'")
def q_snapshot_read(spark, sf_dir):
    import tempfile

    from dedup.tableio import TableIO

    tio = TableIO(spark, tempfile.mkdtemp(prefix="qsnap-"), backend="parquet")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    s0 = tio.write(docs.filter(F.col("lang") == "en"), "t", mode="append")
    tio.write(docs.filter(F.col("lang") != "en"), "t", mode="append")
    return tio.read("t", snapshot_id=s0)  # only the first commit's rows


# oracle = the appended predicate: the delta BETWEEN two snapshots of a
# committed table (time travel + exceptAll) must be exactly the rows
# the second commit added — the cross-run "docs gained" diff
@register("snapshot_diff", "SELECT doc_id, lang FROM documents WHERE lang <> 'en'")
def q_snapshot_diff(spark, sf_dir):
    import tempfile

    from dedup.tableio import TableIO

    tio = TableIO(spark, tempfile.mkdtemp(prefix="qdiff-"), backend="parquet")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    s0 = tio.write(docs.filter(F.col("lang") == "en"), "t", mode="append")
    s1 = tio.write(docs.filter(F.col("lang") != "en"), "t", mode="append")
    return tio.read("t", snapshot_id=s1).exceptAll(tio.read("t", snapshot_id=s0))


@register("conn_comp", _CONN_COMP_SQL)  # I1: components over the edge frame
def q_conn_comp(spark, sf_dir):
    from dedup.components import connected_components
    from dedup.pipeline import build_edges

    cfg = DEFAULT_CONFIG
    docs = docs_norm(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        "norm_text",
        # the pipeline's n_chars is length(norm_text) (ingest.to_docs) —
        # the oracle twin measures the same, not the table's raw count
        F.length("norm_text").cast("long").alias("n_chars"),
        F.sha2("norm_text", 256).alias("content_sha"),
    )
    edges, _s = build_edges(docs, cfg)
    # source-table doc_ids flow straight through build_edges here, so
    # min-doc_id component labels are already in the oracle's id space
    return connected_components(edges, max_iter=cfg.max_cc_iter)


@register("cluster_assign", _CLUSTER_ASSIGN_SQL)  # I2: every doc labeled
def q_cluster_assign(spark, sf_dir):
    return q_near_dup_clusters(spark, sf_dir)


# -- J1-J4 streaming (rows-only; availableNow one-shot inside the call) ------


def _staged_pages(spark, sf_dir) -> str:
    import glob as _glob
    import os
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="qstream-")
    tmp = tempfile.mkdtemp()
    documents_as_pages(spark, sf_dir).limit(200).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "o"))
    part = _glob.glob(os.path.join(tmp, "o", "part-*.parquet"))[0]
    shutil.move(part, os.path.join(staging, "b0.parquet"))
    return staging


def _run_stream(df_stream, name: str, mode: str = "append") -> str:
    # unique sink name per invocation: re-registering a memory sink
    # under the same queryName in one session is an error
    import uuid

    name = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        df_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return name


@register("stream_ingest")  # rows-only (J1)
def q_stream_ingest(spark, sf_dir):
    from dedup.streaming import read_page_stream

    staging = _staged_pages(spark, sf_dir)
    name = _run_stream(
        read_page_stream(spark, staging).select("url", "lang"), "q_stream_ingest"
    )
    return spark.table(name)


@register("watermark_dedup")  # rows-only (J2)
def q_watermark_dedup(spark, sf_dir):
    from dedup.streaming import read_page_stream, watermark_dedup

    staging = _staged_pages(spark, sf_dir)
    name = _run_stream(
        watermark_dedup(read_page_stream(spark, staging)).select("url"),
        "q_watermark_dedup",
    )
    return spark.table(name)


@register("stream_windows")  # rows-only (J3)
def q_stream_windows(spark, sf_dir):
    from dedup.streaming import ingest_rate, read_page_stream

    staging = _staged_pages(spark, sf_dir)
    # complete mode: a finite availableNow run never advances the
    # watermark past the last open window, so append would hold back
    # every still-open window (0 rows when all data fits one trigger)
    name = _run_stream(
        ingest_rate(read_page_stream(spark, staging), window="1 hour"),
        "q_stream_windows",
        mode="complete",
    )
    return spark.table(name)


@register("stream_sessions")  # rows-only (J3 session-window variant)
def q_stream_sessions(spark, sf_dir):
    """Structured-Streaming session windows (`F.session_window`):
    per-lang capture bursts separated by ≥ 30 min, watermarked —
    complete mode for the same availableNow reason as stream_windows."""
    from dedup.streaming import read_page_stream, session_rate

    staging = _staged_pages(spark, sf_dir)
    name = _run_stream(
        session_rate(read_page_stream(spark, staging), gap="30 minutes"),
        "q_stream_sessions",
        mode="complete",
    )
    return spark.table(name)


@register("foreach_batch_dedup")  # rows-only (J4: incremental ≡ batch, tested)
def q_foreach_batch_dedup(spark, sf_dir):
    import tempfile

    from dedup.streaming import incremental_dedup_query
    from dedup.tableio import TableIO

    staging = _staged_pages(spark, sf_dir)
    wh = tempfile.mkdtemp(prefix="qfbd-wh-")
    ckpt = tempfile.mkdtemp(prefix="qfbd-ck-")
    q = incremental_dedup_query(spark, staging, wh, ckpt, DEFAULT_CONFIG)
    q.awaitTermination(300)
    return TableIO(spark, wh, backend="parquet").read("clusters")


@register("stateful_sketch")  # rows-only (J5: transformWithStateInPandas)
def q_stateful_sketch(spark, sf_dir):
    """Per-lang running MinHash-union sketch over a 2-microbatch stream —
    the arbitrary-state API carrying state across triggers (RocksDB
    state store). Final emitted row per lang = whole-corpus sketch."""
    import glob as _glob
    import os
    import shutil
    import tempfile
    import uuid

    from dedup.session import enable_rocksdb_state
    from dedup.streaming import stateful_minhash_sketch

    enable_rocksdb_state(spark)
    cfg = DEFAULT_CONFIG
    docs = docs_norm(spark, sf_dir).limit(200)
    sigs = (
        _cached("signatures", spark, sf_dir, cfg)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("lang", "minhash")
    )
    staging = tempfile.mkdtemp(prefix="qsketch-")
    tmp = tempfile.mkdtemp()
    sigs.repartition(2).write.mode("overwrite").parquet(os.path.join(tmp, "o"))
    for i, part in enumerate(
        sorted(_glob.glob(os.path.join(tmp, "o", "part-*.parquet")))
    ):
        shutil.move(part, os.path.join(staging, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("lang string, minhash array<bigint>")
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    name = f"q_stateful_sketch_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_minhash_sketch(stream, cfg)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.table(name)
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"))
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("lang", "n_docs", "est_distinct_shingles")
    )


# -- F5 variants: cube / grouping sets (round 4) ------------------------------

_CUBE_SQL = (
    "SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,"
    " count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars FROM documents"
    " GROUP BY CUBE(lang, source)"
)


@register("cube_report", _CUBE_SQL)
def q_cube_report(spark, sf_dir):
    """F5 cube variant (SURVEY names cube alongside rollup; only rollup
    was driver-recorded before round 4): all four (lang, source)
    aggregate margins in one pass — same Expand plan shape as rollup
    with one extra grouping set, map-side partial combine intact."""
    return (
        load(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_chars",
        )
    )


_GSETS_SQL = (
    "SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,"
    " count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars FROM documents"
    " GROUP BY GROUPING SETS ((lang, source), (source), ())"
)


@register("grouping_sets_report", _GSETS_SQL)
def q_grouping_sets_report(spark, sf_dir):
    """F5 explicit grouping-sets variant via the Spark 4 DataFrame
    ``groupingSets`` API: an arbitrary margin list — (lang, source),
    (source), () — that no single rollup/cube expresses."""
    return (
        load(spark, sf_dir, "documents")
        .groupingSets([["lang", "source"], ["source"], []], "lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_chars",
        )
    )


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_green_round() -> dict[str, int]:
    """Round of each qkey's NEWEST green driver record across the
    committed CORRECTNESS_r*.json files: a SQL-oracle hash pass, or a
    rows-only run (no oracle) with > 0 rows."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rec = json.load(f)
        for key, row in rec.items():
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
            ):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def _rotation_order() -> list[str]:
    """Enumeration order of the driver contract. The driver records
    CORRECTNESS rows for exactly the FIRST 50 registered qkeys, so with
    more keys than that, full coverage is a union across rounds and the
    cap must land on the STALEST keys: keys without a green record
    first, then by the round of each key's newest green record,
    ascending; ties keep registration order (the sort is stable).
    Derived at import, so a newly committed record re-rotates the list
    with no hand edit; outside a checkout (no records) it is the
    registration order. tests/test_driver_rotation.py pins both rules."""
    newest = _newest_green_round()
    return sorted(REGISTRY, key=lambda k: newest.get(k, 0))


_PRIORITY = _rotation_order()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in _PRIORITY}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _PRIORITY
        if REGISTRY[name][1] is not None
    }
