"""Scalar-function operators (SURVEY §2.8).

String / date / math / conditional / array / map / json / ip families,
each exercised as a query key. All built-in pyspark.sql.functions — JVM-side, inside whole-stage
codegen; no Python in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..functions.ip import ipv4_to_num
from ..registry import register


@register(
    "str_funcs",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                                   AS name_lc,
           upper(p_brand)                                  AS brand_uc,
           substr(p_name, 1, 8)                            AS name_pre,
           p_brand || ':' || p_type                        AS brand_type,
           length(p_name)                                  AS name_len,
           trim(p_name)                                    AS name_trim,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_pad,
           replace(p_type, ' ', '_')                       AS type_us,
           regexp_extract(p_name, '([a-z]+)', 1)           AS first_word,
           regexp_replace(p_name, '[aeiou]', '.', 'g')     AS devowel
    FROM part
    """,
)
def str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # brand_type uses NULL-propagating concat on BOTH engines (Spark
    # concat / SQL ||): concat_ws vs DuckDB concat disagree on how a
    # NULL operand folds into the separator (EDGE_SWEEP_r10 class D)
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 8).alias("name_pre"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.trim("p_name").alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", ".").alias("devowel"),
    )


@register(
    "str_split_explode",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def str_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → word counts (the classic distributed word
    count; partial aggregation makes the shuffle carry only counts)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)    AS yr,
           CAST(month(o_orderdate) AS INTEGER)   AS mo,
           CAST(day(o_orderdate) AS INTEGER)     AS dom,
           CAST(hour(o_orderdate) AS INTEGER)    AS hr,
           date_trunc('month', o_orderdate)      AS month_start,
           o_orderdate + INTERVAL 7 DAY          AS plus_week,
           CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS INTEGER)
                                                 AS days_to_y2k,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.hour("o_orderdate").alias("hr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("plus_week"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_y2k"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1)                    AS price_r,
           ABS(l_discount - 0.05)                       AS disc_dev,
           CAST(ceil(l_quantity / 7) AS BIGINT)         AS qty_ceil,
           CAST(floor(l_quantity / 7) AS BIGINT)        AS qty_floor,
           ROUND(ln(l_extendedprice), 4)                AS price_ln,
           ROUND(log10(l_extendedprice), 4)             AS price_log10,
           ROUND(pow(l_quantity, 2), 4)                 AS qty_sq,
           ROUND(sqrt(l_extendedprice), 4)              AS price_sqrt,
           GREATEST(l_quantity, 25.0)                   AS qty_hi,
           LEAST(l_quantity, 25.0)                      AS qty_lo,
           CAST(l_quantity AS BIGINT) % 7               AS qty_mod
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_floor"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("price_ln"),
        F.round(F.log10(F.col("l_extendedprice")), 4).alias("price_log10"),
        F.round(F.pow(F.col("l_quantity"), 2), 4).alias("qty_sq"),
        F.round(F.sqrt(F.col("l_extendedprice")), 4).alias("price_sqrt"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
        # quantity is integer-valued (verified); cast is exact in both engines
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
    )


@register(
    "cond_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END                        AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'X')   AS status_x,
           IF(o_orderpriority = '1-URGENT', 1, 0)      AS is_urgent
    FROM orders
    """,
)
def cond_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("X")).alias(
            "status_x"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_urgent"),
    )


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding)                                     AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0         AS first_val,
           ROUND(CAST(embedding[2] AS DOUBLE), 4) + 0         AS second_val,
           ROUND(CAST(embedding[3] AS DOUBLE), 4) + 0         AS third_val,
           len(list_filter(embedding, x -> x > 0))            AS n_pos,
           ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum'), 4) + 0                AS vec_sum
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array builtins + higher-order lambdas on ArrayType(Float) — float32
    cast to double before arithmetic (SURVEY §5.3.6). Every rounded value
    gets `+ 0`: IEEE `-0.0 + 0.0 = +0.0`, so a tiny negative rounded to
    zero prints identically in both engines (found at sf0.1 — one row's
    `-0.0` vs `0.0` broke the string hash). The slice head is emitted as
    three scalar columns, not an array — the driver canonicalizer cannot
    sort list cells (VERDICT r1 wrong-#1); `slice`/`transform` are still
    exercised to build them."""
    e = table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head3 = F.transform(
        F.slice("embedding", 1, 3), lambda x: F.round(x.cast("double"), 4) + 0
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + 0).alias(
            "first_val"
        ),
        F.element_at(head3, 2).alias("second_val"),
        F.element_at(head3, 3).alias("third_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        (
            F.round(F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 4) + 0
        ).alias("vec_sum"),
    )


@register(
    "array_posexplode",
    oracle="""
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1        AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 4) + 0  AS val
    FROM embeddings
    WHERE vec_id < 50
    """,
)
def array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("pos"),
        # "+ 0" canonicalizes -0.0 → 0.0 (SURVEY §8 recipe)
        (F.round(F.col("raw").cast("double"), 4) + 0).alias("val"),
    )


@register(
    "map_funcs",
    # DuckDB's MAP explode story is weak; the oracle re-derives the pairs
    # (SURVEY §2.8 note) — semantics, not syntax, are what's checked.
    oracle="""
    SELECT event_id, 'type' AS k, event_type AS v FROM events WHERE event_id < 1000
    UNION ALL
    SELECT event_id, 'user', CAST(user_id AS VARCHAR) FROM events WHERE event_id < 1000
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map column, then explode it back to (key, value) rows."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("user"), F.col("user_id").cast("string")
    )
    return e.select("event_id", m.alias("m")).select(
        "event_id", F.explode("m").alias("k", "v")
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT))           AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON `props` column (events fixture)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.max(k).alias("max_k")
    )


@register(
    "ip_funcs",
    oracle="""
    SELECT user_id, ip,
           CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
         + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
         + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
         + CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_num
    FROM (SELECT DISTINCT user_id,
                 '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.7' AS ip
          FROM events WHERE user_id IS NOT NULL)
    """,
)
def ip_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse IPv4StringToNum [P] — fixtures lack IPs, so synthesize
    per SURVEY §2.8 and parse with the engine's ip library. NULL users
    synthesize no address — pinned two-sided (the oracle's octet split
    otherwise feeds '' into an INT64 cast; EDGE_SWEEP_r10 class D)."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ip = F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".7"))
    return (
        e.select("user_id", ip.alias("ip"))
        .distinct()
        .withColumn("ip_num", ipv4_to_num(F.col("ip")))
    )


@register(
    "ip6_funcs",
    oracle="""
    SELECT DISTINCT user_id,
           CAST((8193 - 32768) * 281474976710656 + 3512 * 4294967296 AS BIGINT) AS hi6,
           CAST(user_id - 9223372036854775807 - 1 AS BIGINT) AS lo6,
           user_id < 128 AS in_dbnet
    FROM events WHERE user_id IS NOT NULL
    """,
)
def ip6_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv6 parse + CIDR membership (ClickHouse IPv6StringToNum /
    isIPAddressInRange [P]): synthesize zero-compressed v6 addresses
    `2001:db8::<hex user_id>`, run them through the real string parser
    (functions.ip.ipv6_to_nums — `::` expansion, per-group conv, signed
    two-long encoding), and test `2001:db8::/121` membership. The oracle
    derives the expected (hi, lo) arithmetically from user_id — ground
    truth that never touches a parser, so it hash-checks the parse path
    itself. Membership is a lexicographic (hi, lo) range: pushdown-able
    on the hi half at the scan."""
    from ..functions.ip import ip6_in_cidr, ipv6_to_nums

    # NULL users synthesize no address; the oracle's arithmetic hi6 is
    # a non-NULL constant while the engine's parsed hi6 is NULL, so the
    # NULL row cannot agree — pinned two-sided (class D)
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    addr = F.concat(F.lit("2001:db8::"), F.lower(F.hex("user_id")))
    hi, lo = ipv6_to_nums(addr)
    return e.select(
        "user_id",
        hi.alias("hi6"),
        lo.alias("lo6"),
        ip6_in_cidr(hi, lo, "2001:db8::/121").alias("in_dbnet"),
    ).distinct()


@register(
    "json_struct_funcs",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
    GROUP BY event_type
    """,
)
def json_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing (`from_json` with a declared StructType,
    vs json_funcs' per-path get_json_object): one parse per row yields a
    typed struct whose fields feed aggregation directly. At scale the
    declared schema wins — get_json_object re-parses the string once per
    extracted path."""
    from pyspark.sql.types import IntegerType, StructField
    from pyspark.sql.types import StructType as ST

    e = table(spark, sf_dir, "events")
    parsed = e.withColumn(
        "p", F.from_json("props", ST([StructField("k", IntegerType())]))
    )
    return (
        parsed.filter(F.col("p.k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p.k").alias("k_sum"),
            F.max("p.k").alias("k_max"),
        )
    )


@register(
    "str_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+ing')) AS n_ing,
           array_to_string(list_sort(regexp_extract_all(text, '[a-z]+ing')), ',')
             AS ing_words
    FROM documents
    WHERE len(regexp_extract_all(text, '[a-z]+ing')) > 0
    """,
)
def str_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All regex matches per row (`regexp_extract_all`) — POSIX-simple
    pattern so both engines' regex dialects agree (SURVEY §5.3); output
    canonicalized by sorting before join to a string."""
    d = table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("[a-z]+ing"), 0)
    return (
        d.select(
            "doc_id",
            F.size(matches).alias("n_ing"),
            F.array_join(F.array_sort(matches), ",").alias("ing_words"),
        )
        .filter(F.col("n_ing") > 0)
    )


@register(
    "array_set_ops",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split(text, ' ')) AS ws
      FROM documents WHERE doc_id <= 50 AND text IS NOT NULL
    ),
    p AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.ws AS w1, b.ws AS w2
      FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
    )
    SELECT id1, id2,
           len(list_intersect(w1, w2)) AS n_common,
           len(list_distinct(list_concat(w1, w2))) AS n_union
    FROM p
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (`array_intersect` / `array_union`) between
    adjacent documents' vocabularies — counts only, so element order
    differences between engines cannot leak into the hash. A NULL doc
    has no vocabulary — pinned two-sided (Spark size/array ops and
    DuckDB list ops disagree on NULL-array folding; class D)."""
    d = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") <= 50) & F.col("text").isNotNull()
    )
    w = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )
    a = w.select(F.col("doc_id").alias("id1"), F.col("ws").alias("w1"))
    b = w.select((F.col("doc_id") - 1).alias("id1"), F.col("doc_id").alias("id2"), F.col("ws").alias("w2"))
    return a.join(b, "id1").select(
        "id1",
        "id2",
        F.size(F.array_intersect("w1", "w2")).alias("n_common"),
        F.size(F.array_union("w1", "w2")).alias("n_union"),
    )


@register(
    "str_url_funcs",
    oracle="""
    WITH u AS (
      SELECT event_id,
             'https://cdn' || CAST(user_id % 4 AS VARCHAR) ||
             '.example.org/assets/u' || CAST(user_id AS VARCHAR) ||
             '/item?ref=' || event_type AS url
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT event_id,
           split_part(split_part(url, '://', 2), '/', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'ref=([a-z]+)', 1) AS ref
    FROM u
    """,
)
def str_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition (ClickHouse `domain`/`path`/
    `extractURLParameter` [P] — referrer/CDN analytics over the events
    table): host, path, and one query parameter. Spark's `parse_url` is
    the real Hive-compatible parser; the oracle recomputes the same
    pieces with split/regexp arithmetic, so the hash check validates the
    parser against first principles, not another parser. Fixtures carry
    no URLs; a deterministic one is synthesized per event (same recipe
    as `ip_funcs`/`text_pii_scrub`). Zero shuffle, pure codegen. NULL
    users/types synthesize no URL — pinned two-sided (class D)."""
    e = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("user_id") % 4).cast("string"),
        F.lit(".example.org/assets/u"),
        F.col("user_id").cast("string"),
        F.lit("/item?ref="),
        F.col("event_type"),
    )
    u = e.select("event_id", url.alias("url"))
    return u.select(
        "event_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )


@register(
    "array_cumsum",
    # Flat (vec_id, pos, cs) rows, not an array column — the driver
    # canonicalizer cannot sort list cells (VERDICT r1 wrong-#1). The
    # array-accumulator fold is still the computation; only the output
    # shape is exploded.
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding[1:6], x -> CAST(x AS DOUBLE)) AS l
      FROM embeddings
    )
    SELECT vec_id, CAST(i AS BIGINT) AS pos,
           ROUND(list_aggregate(l[1:i], 'sum'), 4) + 0 AS cs
    FROM e, UNNEST(generate_series(1, len(l))) AS t(i)
    """,
)
def array_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `arrayCumSum` [P]: per-row running sum along an array
    (CDF-style transforms over per-row series). A left fold with an
    array accumulator (`aggregate` + `concat`) — one pass per row, pure
    codegen, zero shuffle; `F.get` (not `element_at`) reads the running
    tail NULL-safely under ANSI mode. Truncated to the first 6 dims so
    the oracle's O(n²) slice-sum formulation stays cheap."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 6), lambda x: x.cast("double")).alias("l"),
    )
    cum = F.aggregate(
        "l",
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc, F.array(F.coalesce(F.get(acc, F.size(acc) - 1), F.lit(0.0)) + x)
        ),
    )
    # "+ 0" canonicalizes -0.0 → 0.0 (both engines) so a rounded -1e-9
    # cannot hash-diverge as "-0.0" vs "0.0" (SURVEY §8 recipe)
    rounded = F.transform(cum, lambda x: F.round(x, 4) + 0)
    return e.select("vec_id", F.posexplode(rounded).alias("pos", "cs")).select(
        "vec_id", (F.col("pos") + 1).cast("long").alias("pos"), "cs"
    )


@register(
    "str_human_bytes",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN b >= 1073741824 THEN 'GiB'
                WHEN b >= 1048576    THEN 'MiB'
                WHEN b >= 1024       THEN 'KiB'
                ELSE 'B' END AS unit,
           ROUND(b / CASE WHEN b >= 1073741824 THEN 1073741824.0
                          WHEN b >= 1048576    THEN 1048576.0
                          WHEN b >= 1024       THEN 1024.0
                          ELSE 1.0 END, 2) AS scaled
    FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice * 1000) AS BIGINT) AS b FROM orders)
    """,
)
def str_human_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `formatReadableSize` [P] semantics (the flows-dashboard
    byte formatter), split into (unit, scaled) columns instead of one
    rendered string — double→string rendering differs across engines,
    the numeric pieces don't. Byte counts synthesized from o_totalprice
    (fixtures carry no ibyt). Scan-local CASE arithmetic, zero shuffle."""
    o = table(spark, sf_dir, "orders")
    # explicit floor: DuckDB's double→bigint cast rounds, Spark's truncates
    b = F.floor(F.col("o_totalprice") * 1000).cast("bigint")
    unit = (
        F.when(b >= 1073741824, "GiB")
        .when(b >= 1048576, "MiB")
        .when(b >= 1024, "KiB")
        .otherwise("B")
    )
    div = (
        F.when(b >= 1073741824, 1073741824.0)
        .when(b >= 1048576, 1048576.0)
        .when(b >= 1024, 1024.0)
        .otherwise(1.0)
    )
    return o.select(
        "o_orderkey", unit.alias("unit"), F.round(b / div, 2).alias("scaled")
    )


@register(
    "str_hash_codec",
    oracle="""
    SELECT doc_id,
           md5(text)                          AS md5_hex,
           sha256(text)                       AS sha256_hex,
           base64(CAST(text AS BLOB))         AS b64,
           lower(hex(substr(text, 1, 8)))     AS head_hex
    FROM documents
    """,
)
def str_hash_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digests + codecs (ClickHouse `MD5`/`SHA256`/`base64Encode`/
    `hex` [P]) — the manifest primitives of every curation pipeline
    (stable doc identity across re-crawls, byte-exact transfer checks).
    All JVM builtins in codegen, zero shuffle; both engines emit
    canonical lowercase-hex/base64 so the hash check is exact."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_hex"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        # Spark's base64 is Java's MIME encoder (CRLF every 76 chars);
        # strip the chunking to get the canonical unwrapped form
        F.regexp_replace(F.base64(F.col("text").cast("binary")), "[\\r\\n]", "").alias(
            "b64"
        ),
        F.lower(F.hex(F.substring("text", 1, 8))).alias("head_hex"),
    )


@register(
    "geo_haversine",
    oracle="""
    WITH p AS (
      SELECT DISTINCT user_id,
             (user_id % 140) - 70 + 0.5          AS lat,
             ((user_id * 7) % 360) - 180 + 0.5   AS lon
      FROM events
    )
    SELECT user_id,
           ROUND(2 * 6371.0088 * asin(sqrt(
             pow(sin(radians(52.37 - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(52.37))
               * pow(sin(radians(4.89 - lon) / 2), 2)
           )), 2) AS dist_km
    FROM p
    """,
)
def geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance (ClickHouse `geoDistance` [P] — GeoIP
    enrichment distance-to-POP queries over flows). Coordinates are
    synthesized per user (fixtures carry none); the haversine formula is
    written identically in both engines — pure codegen math, zero
    shuffle after the distinct. Rounded to 10 m so the last-ulp of the
    trig chain can't flip the hash."""
    e = table(spark, sf_dir, "events")
    p = e.select(
        "user_id",
        ((F.col("user_id") % 140) - 70 + 0.5).alias("lat"),
        (((F.col("user_id") * 7) % 360) - 180 + 0.5).alias("lon"),
    ).distinct()
    lat, lon = F.col("lat"), F.col("lon")
    h = (
        F.pow(F.sin(F.radians(F.lit(52.37) - lat) / 2), 2)
        + F.cos(F.radians(lat))
        * F.cos(F.radians(F.lit(52.37)))
        * F.pow(F.sin(F.radians(F.lit(4.89) - lon) / 2), 2)
    )
    return p.select(
        "user_id",
        F.round(2 * 6371.0088 * F.asin(F.sqrt(h)), 2).alias("dist_km"),
    )


@register(
    "array_difference",
    # Flat (vec_id, pos, diff) rows, not an array column — the driver
    # canonicalizer cannot sort list cells (VERDICT r1 wrong-#1).
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding[1:6], x -> CAST(x AS DOUBLE)) AS l
      FROM embeddings
    )
    SELECT vec_id, CAST(i AS BIGINT) AS pos,
           ROUND(CASE WHEN i = 1 THEN 0.0 ELSE l[i] - l[i-1] END, 4) + 0 AS diff
    FROM e, UNNEST(generate_series(1, len(l))) AS t(i)
    """,
)
def array_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `arrayDifference` [P]: adjacent deltas along an array
    (first element 0) — the inverse of `array_cumsum`, used on per-row
    counter series. Expressed as a 2-arg `transform` lambda (value,
    index) with a null-safe `F.get` of the predecessor — single pass,
    pure codegen, zero shuffle."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 6), lambda x: x.cast("double")).alias("l"),
    )
    diffs = F.transform(
        "l",
        lambda x, i: F.round(
            F.when(i == 0, F.lit(0.0)).otherwise(x - F.get("l", i - 1)), 4
        )
        + 0,  # -0.0 → 0.0 canonicalization
    )
    return e.select("vec_id", F.posexplode(diffs).alias("pos", "diff")).select(
        "vec_id", (F.col("pos") + 1).cast("long").alias("pos"), "diff"
    )


# --- VARIANT semi-structured type --------------------------------------------
@register(
    "json_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4)
             AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    `parse_json` once into the binary variant encoding, then typed
    `variant_get` paths — the open-table-format answer to schemaless
    event properties. Versus `get_json_object` (string re-parse per
    extraction, cf. `json_funcs`), VARIANT parses once and every path
    access is a binary traversal — the difference between O(paths) and
    O(paths × parse) on a 100 TB event stream; with shredding the
    accessed paths become parquet columns and pushdown applies."""
    e = table(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "int")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# --- map higher-order functions ----------------------------------------------
@register(
    "map_hof_funcs",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type, value FROM events
      WHERE event_id % 100 = 0
    )
    SELECT event_id, 'v_' || event_type AS k, ROUND(value * 2, 4) AS v
    FROM base
    UNION ALL
    SELECT event_id, 'base' AS k, 1.0 AS v FROM base
    """,
)
def map_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (§2.8 depth beyond `map_funcs`):
    build a map column, `transform_keys` (prefix), `transform_values`
    (double), `map_concat` a constant entry, then explode entries back
    to rows for the cross-engine check. All four are row-local codegen
    expressions — zero shuffle; the oracle states the same result
    relationally (DuckDB's map surface differs, which is itself the
    point: map HOFs are Spark-side sugar over per-row kv data)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    m = F.create_map(F.col("event_type"), F.col("value"))
    m2 = F.transform_keys(m, lambda k, v: F.concat(F.lit("v_"), k))
    m3 = F.transform_values(m2, lambda k, v: v * 2)
    m4 = F.map_concat(m3, F.create_map(F.lit("base"), F.lit(1.0)))
    return (
        e.select("event_id", F.explode(m4).alias("k", "v"))
        .select("event_id", "k", F.round("v", 4).alias("v"))
    )


# --- collation-aware grouping ------------------------------------------------
@register(
    "str_collation",
    oracle="""
    SELECT lower(mixed) AS k, COUNT(*) AS n
    FROM (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS mixed
      FROM events
    )
    GROUP BY lower(mixed)
    """,
)
def str_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): group a mixed-case
    column under UTF8_LCASE so 'CLICK' and 'click' land in one group —
    the engine-level answer to case-insensitive dimensions (vs
    scattering lower() into every query; with collated columns declared
    at the table level the comparison semantics follow the data).
    Output is canonicalized with lower() because the group
    REPRESENTATIVE under a case-insensitive collation is
    engine/order-dependent — only the equivalence class is defined.
    Collation compares hash like ordinary strings: still one
    partial+final agg."""
    e = table(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    return (
        e.select(mixed.alias("mixed"))
        .select(F.expr("mixed COLLATE UTF8_LCASE").alias("mixed"))
        .groupBy("mixed")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower("mixed").alias("k"), "n")
    )


# ---------------------------------------------------------------------------
# str_kv_parse
# ---------------------------------------------------------------------------
@register(
    "str_kv_parse",
    oracle="""
    WITH lines AS (
      SELECT 'type=' || event_type || ' uid=' || CAST(user_id AS VARCHAR)
             || ' cents=' || CAST(CAST(FLOOR(COALESCE(value, 0) * 100)
                                       AS BIGINT) AS VARCHAR) AS logfmt,
             event_id
      FROM events WHERE event_id < 5000
    ),
    parsed AS (
      SELECT event_id,
             regexp_extract(logfmt, 'type=([a-z]+)', 1) AS type_v,
             CAST(regexp_extract(logfmt, 'uid=([0-9]+)', 1) AS BIGINT) AS uid_v,
             CAST(regexp_extract(logfmt, 'cents=([0-9-]+)', 1) AS BIGINT)
               AS cents_v
      FROM lines
    )
    SELECT type_v AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT uid_v) AS BIGINT) AS n_users,
           CAST(SUM(cents_v) AS BIGINT) AS cents_sum
    FROM parsed GROUP BY type_v ORDER BY type_v
    """,
)
def str_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logfmt key=value field parsing: render events as
    'type=… uid=… cents=…' lines (the convention half of ops logging
    emits), parse them back with `str_to_map` — Spark's purpose-built
    splitter for exactly this — and hash-verify the rollup against the
    source. The structured-logging sibling of `scan_text_regex_parse`
    (which handles lines that AREN'T this disciplined).

    `str_to_map(s, ' ', '=')` is one codegen expression producing the
    whole field map (no per-field regex passes); typed fields come out
    with `element_at` + cast. The oracle parses the same lines with
    per-field regex — same semantics, each engine on its native
    idiom (§2.8 map-functions note)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id",
            F.concat(
                F.lit("type="),
                F.col("event_type"),
                F.lit(" uid="),
                F.col("user_id").cast("string"),
                F.lit(" cents="),
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100)
                .cast("bigint")
                .cast("string"),
            ).alias("logfmt"),
        )
    )
    m = ev.select(F.expr("str_to_map(logfmt, ' ', '=')").alias("kv"))
    parsed = m.select(
        F.element_at("kv", "type").alias("event_type"),
        F.element_at("kv", "uid").cast("bigint").alias("uid"),
        F.element_at("kv", "cents").cast("bigint").alias("cents"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct(F.col("uid")).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("event_type")
    )
