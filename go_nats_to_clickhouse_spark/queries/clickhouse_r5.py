"""Round-4 (second wave) ClickHouse analog families and LLM-pipeline
operators: nonparametric two-sample tests (``mannWhitneyUTest``,
``kolmogorovSmirnovTest``, ``studentTTest``), categorical dependence
(``theilsU``, ``categoricalInformationValue``, ``contingency`` /
``cramersVBiasCorrected``), string distance / hashing / timezone /
point-in-polygon / sparkbar / z-order scalar families, time-series
downsampling + anomaly + period detection (``largestTriangleThreeBuckets``,
median/MAD, phase-folding ``seriesPeriodDetectFFT`` intent), the
``-State``/``-Merge`` combinator contract, nearest as-of and
interval-overlap joins, behavioral Markov transitions / strict-order
``windowFunnel`` / weekly retention matrix, and the LLM-pipeline wave:
SemDeDup semantic buckets, global shuffle + sharding, char-bigram LM
scoring, TF-IDF keywords, boilerplate audit, hard-negative mining, int8
quantization, Gopher quality rules, and the composed
``pipeline_training_manifest`` deliverable.

The reference (go-nats-to-clickhouse) delegates its entire query surface to
ClickHouse (init.sql:8-121); these are further ClickHouse built-ins a user
of that stack reaches for, re-expressed Spark-first.

Portability discipline (stats.py / clickhouse_r4.py conventions):

* rank statistics use DOUBLED average ranks so every rank sum is an exact
  int64 — the closed-form statistic then sees identical doubles in both
  engines;
* ECDF gaps are compared on the INTEGER cross-multiplied form
  ``|cc1*n2 - cc2*n1|`` and divided exactly once at the end;
* every rounded value that can reach zero from below carries ``+ 0.0``
  (IEEE: -0.0 + 0.0 = +0.0) — the round-3 signed-zero lesson;
* float SUMs over category log-terms follow the agg_entropy precedent:
  the sums run over a tiny (≤ ~100-row) reduced relation of exact integer
  counts, and outputs are rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm
from go_nats_to_clickhouse_spark.operators.hints import bounded
from pyspark.sql.window import Window

from go_nats_to_clickhouse_spark.queries.registry import query
from go_nats_to_clickhouse_spark.queries.util import load_table
from go_nats_to_clickhouse_spark.queries.vector import as_double, cosine, _cos_sql

# ---------------------------------------------------------------------------
# Two-sample rank statistics: view vs click event values.
#
# value has 2 fixture decimals; DECIMAL(7,2) makes tie-grouping exact.
# The groupBy(value) reduction bounds the ranked relation by the value
# DOMAIN (~49k distinct cents values), not the row count — at 100 TB the
# single-partition rank window still sorts ≤ |domain| rows.
# ---------------------------------------------------------------------------

_TWO_SAMPLE_SQL = """
base AS (
  SELECT CAST(round(value, 2) AS DECIMAL(7,2)) AS v,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s1
  FROM events WHERE event_type IN ('view', 'click')
),
pv AS (
  SELECT v, SUM(s1) AS c1, COUNT(*) - SUM(s1) AS c2, COUNT(*) AS c
  FROM base GROUP BY v
),
r AS (
  SELECT v, c1, c2, c,
         COALESCE(SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM pv
)
"""


@query(
    "agg_mann_whitney",
    f"""
WITH {_TWO_SAMPLE_SQL},
sums AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r1d,
         CAST(SUM(c * c * c - c) AS BIGINT) AS t
  FROM r
)
SELECT n1, n2,
       CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       round(
         CAST(r1d - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
         / (2.0 * sqrt(
             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             * ((CAST(n1 + n2 + 1 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                 * CAST(n1 + n2 - 1 AS DOUBLE)) - CAST(t AS DOUBLE))
             / (12.0 * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))
           )), 6) + 0.0 AS z
FROM sums
""",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``mannWhitneyUTest(value, sample)`` analog between the
    'view' and 'click' populations: the U statistic and its tie-corrected
    normal approximation z.

    Rank machinery: groupBy(value) reduces the 100-TB event stream to the
    value DOMAIN (map-side combinable); doubled average ranks
    ``2*cum_before + count + 1`` keep every rank sum an exact int64, so
    U and z are closed-form over four integer sums — both engines hit
    identical doubles. z can round to zero from below, hence ``+ 0.0``.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    base = events.select(
        F.round("value", 2).cast("decimal(7,2)").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("s1"),
    )
    pv = base.groupBy("v").agg(
        F.sum("s1").alias("c1"),
        (F.count(F.lit(1)) - F.sum("s1")).alias("c2"),
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = pv.withColumn("cb", F.coalesce(F.sum("c").over(w), F.lit(0)))
    sums = r.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cb") + F.col("c") + 1))
        .cast("long")
        .alias("r1d"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("t"),
    )
    n1, n2, r1d, t = (F.col(c) for c in ("n1", "n2", "r1d", "t"))
    nd = lambda off: (n1 + n2 + F.lit(off)).cast("double")  # noqa: E731
    var = (
        n1.cast("double")
        * n2.cast("double")
        * ((nd(1) * nd(0) * nd(-1)) - t.cast("double"))
        / (F.lit(12.0) * nd(0) * nd(-1))
    )
    return sums.select(
        "n1",
        "n2",
        ((r1d - n1 * (n1 + 1)).cast("double") / F.lit(2.0)).alias("u1"),
        (
            F.round(
                (r1d - n1 * (n1 + 1) - n1 * n2).cast("double")
                / (F.lit(2.0) * F.sqrt(var)),
                6,
            )
            + F.lit(0.0)
        ).alias("z"),
    )


@query(
    "agg_ks_test",
    f"""
WITH {_TWO_SAMPLE_SQL},
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM pv),
ecdf AS (
  SELECT v,
         SUM(c1) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc1,
         SUM(c2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc2
  FROM pv
),
gaps AS (
  SELECT e.v, ABS(e.cc1 * t.n2 - e.cc2 * t.n1) AS gap, t.n1, t.n2
  FROM ecdf e CROSS JOIN tot t
)
SELECT n1, n2,
       CAST(MAX(gap) AS BIGINT) AS d_num,
       CAST(MAX(gap) AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         AS ks_d,
       CAST(MIN(CASE WHEN gap = (SELECT MAX(gap) FROM gaps) THEN v END)
            AS DOUBLE) AS ks_at
FROM gaps GROUP BY n1, n2
""",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest`` analog: the two-sample KS
    statistic D between 'view' and 'click' value distributions, plus the
    value where the ECDF gap is attained (min such value on ties).

    The ECDF comparison runs on the integer cross-multiplied form
    ``|cc1*n2 - cc2*n1|`` — exact int64 throughout; D is one final
    division of exact operands, bit-identical across engines. GroupBy
    bounds the windowed relation by the value domain, not the row count.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    base = events.select(
        F.round("value", 2).cast("decimal(7,2)").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("s1"),
    )
    pv = base.groupBy("v").agg(
        F.sum("s1").alias("c1"),
        (F.count(F.lit(1)) - F.sum("s1")).alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    ecdf = pv.select(
        "v",
        F.sum("c1").over(w).alias("cc1"),
        F.sum("c2").over(w).alias("cc2"),
        F.sum("c1").over(wall).cast("long").alias("n1"),
        F.sum("c2").over(wall).cast("long").alias("n2"),
    )
    gaps = ecdf.withColumn(
        "gap", F.abs(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1"))
    ).withColumn("mg", F.max("gap").over(wall))
    return gaps.groupBy("n1", "n2").agg(
        F.max("gap").cast("long").alias("d_num"),
        (
            F.max("gap").cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("ks_d"),
        F.min(F.when(F.col("gap") == F.col("mg"), F.col("v")))
        .cast("double")
        .alias("ks_at"),
    )


# ---------------------------------------------------------------------------
# Categorical dependence: event_type vs user segment (user_id % 10).
# ---------------------------------------------------------------------------


@query(
    "agg_theils_u",
    """
WITH cells AS (
  SELECT event_type AS x, user_id % 10 AS y, COUNT(*) AS c
  FROM events GROUP BY event_type, user_id % 10
),
xs AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY x),
ys AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY y),
n AS (SELECT SUM(c) AS n FROM cells),
parts AS (
  SELECT
    (SELECT SUM(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE))) FROM xs) AS a,
    (SELECT SUM(CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE))) FROM ys) AS b,
    (SELECT SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) FROM cells) AS cc,
    (SELECT CAST(n AS DOUBLE) FROM n) AS n
)
SELECT
  round(ln(n) - a / n, 6) AS h_x,
  round((b - cc) / n, 6) AS h_x_given_y,
  round(((ln(n) - a / n) - (b - cc) / n) / (ln(n) - a / n), 6) + 0.0
    AS theils_u
FROM parts
""",
)
def agg_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``theilsU(event_type, segment)`` analog: the uncertainty
    coefficient U(X|Y) = (H(X) - H(X|Y)) / H(X) with natural-log entropies.

    Shape: one groupBy reduces 100 TB of events to the |X|x|Y| contingency
    cells (5x10 here); every entropy term is ``count * ln(count)`` of an
    exact integer, summed over that tiny relation (agg_entropy precedent).
    U can round to zero from below when X ⫫ Y, hence ``+ 0.0``.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.col("event_type").alias("x"), (F.col("user_id") % 10).alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    cells = cells.cache()
    xln = lambda c: c.cast("double") * F.log(c.cast("double"))  # noqa: E731
    a = cells.groupBy("x").agg(F.sum("c").alias("cx")).agg(
        F.sum(xln(F.col("cx"))).alias("a")
    )
    b = cells.groupBy("y").agg(F.sum("c").alias("cy")).agg(
        F.sum(xln(F.col("cy"))).alias("b")
    )
    cc = cells.agg(
        F.sum(xln(F.col("c"))).alias("cc"),
        F.sum("c").cast("double").alias("n"),
    )
    parts = a.crossJoin(b).crossJoin(cc)
    n = F.col("n")
    h_x = F.log(n) - F.col("a") / n
    h_xy = (F.col("b") - F.col("cc")) / n
    return parts.select(
        F.round(h_x, 6).alias("h_x"),
        F.round(h_xy, 6).alias("h_x_given_y"),
        (F.round((h_x - h_xy) / h_x, 6) + F.lit(0.0)).alias("theils_u"),
    )


@query(
    "agg_categorical_iv",
    """
WITH seg AS (
  SELECT user_id % 10 AS seg,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS g
  FROM events GROUP BY user_id % 10
),
tot AS (SELECT SUM(b) AS tb, SUM(g) AS tg FROM seg),
woe AS (
  SELECT s.seg, s.g, s.b,
         round(ln((CAST(s.g AS DOUBLE) * t.tb)
                  / (CAST(s.b AS DOUBLE) * t.tg)), 6) + 0.0 AS woe,
         round((CAST(s.g AS DOUBLE) / t.tg - CAST(s.b AS DOUBLE) / t.tb)
               * ln((CAST(s.g AS DOUBLE) * t.tb)
                    / (CAST(s.b AS DOUBLE) * t.tg)), 6) + 0.0 AS iv_term
  FROM seg s CROSS JOIN tot t
  WHERE s.g > 0 AND s.b > 0
)
SELECT seg, CAST(g AS BIGINT) AS g, CAST(b AS BIGINT) AS b, woe, iv_term,
       round(SUM(iv_term) OVER (), 6) + 0.0 AS iv_total
FROM woe ORDER BY seg
""",
)
def agg_categorical_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``categoricalInformationValue`` analog: weight-of-evidence
    and information value of user segment (user_id % 10) against the binary
    'purchase' outcome.

    One map-side-combinable groupBy reduces the stream to |segments| rows;
    WoE's log-odds ratio is computed from exact integer counts with the
    engine-shared expression shape ``(g*TB)/(b*TG)``. The IV total sums the
    already-rounded per-segment terms (≤ 1e-15 accumulated error on ~10
    six-decimal values — re-rounding to 6 is engine-stable). WoE and IV
    terms can round to zero from below, hence ``+ 0.0``.
    """
    events = load_table(spark, sf_dir, "events")
    is_b = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seg = events.groupBy((F.col("user_id") % 10).alias("seg")).agg(
        F.sum(is_b).alias("b"),
        F.sum(1 - is_b).alias("g"),
    )
    wall = Window.partitionBy()
    tot = seg.select(
        "*",
        F.sum("b").over(wall).alias("tb"),
        F.sum("g").over(wall).alias("tg"),
    ).filter((F.col("g") > 0) & (F.col("b") > 0))
    lodds = F.log(
        (F.col("g").cast("double") * F.col("tb"))
        / (F.col("b").cast("double") * F.col("tg"))
    )
    woe = tot.select(
        "seg",
        F.col("g").cast("long").alias("g"),
        F.col("b").cast("long").alias("b"),
        (F.round(lodds, 6) + F.lit(0.0)).alias("woe"),
        (
            F.round(
                (
                    F.col("g").cast("double") / F.col("tg")
                    - F.col("b").cast("double") / F.col("tb")
                )
                * lodds,
                6,
            )
            + F.lit(0.0)
        ).alias("iv_term"),
    )
    return woe.select(
        "*",
        (F.round(F.sum("iv_term").over(wall), 6) + F.lit(0.0)).alias("iv_total"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# String-distance scalar family over documents.
# ---------------------------------------------------------------------------


@query(
    "scalar_string_distance",
    """
WITH d AS (
  SELECT doc_id,
         substring(text, 1, 16) AS a,
         substring(text, 17, 16) AS b,
         substring(text, 1, 8) AS a8,
         substring(text, 17, 8) AS b8
  FROM documents WHERE n_chars >= 40
),
cs AS (
  SELECT doc_id, a, b, a8, b8,
         list_distinct(list_transform(range(1, length(a) + 1),
             i -> substring(a, i, 1))) AS sa,
         list_distinct(list_transform(range(1, length(b) + 1),
             i -> substring(b, i, 1))) AS sb
  FROM d
)
SELECT doc_id,
       CAST(levenshtein(a, b) AS INT) AS lev,
       CAST(hamming(a8, b8) AS INT) AS ham,
       round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
             / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
         AS char_jaccard
FROM cs ORDER BY doc_id
""",
)
def scalar_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse string-distance scalar family: ``editDistance`` /
    ``levenshteinDistance`` (built-in both engines), ``hammingDistance``
    over equal-length slices (positional fold — Spark has no built-in),
    and ``stringJaccardIndex`` over character sets.

    Map-only, no shuffle; all outputs are integers or a single division of
    exact integers, so no float portability hazard. Slices are
    fixture-guaranteed in-range (n_chars >= 40 filter).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 40)
        .select(
            "doc_id",
            F.substring("text", 1, 16).alias("a"),
            F.substring("text", 17, 16).alias("b"),
            F.substring("text", 1, 8).alias("a8"),
            F.substring("text", 17, 8).alias("b8"),
        )
    )
    # positional char extraction via expr (substring with a column pos)
    d = d.withColumn(
        "sa",
        F.expr(
            "array_distinct(transform(sequence(1, length(a)),"
            " i -> substring(a, i, 1)))"
        ),
    ).withColumn(
        "sb",
        F.expr(
            "array_distinct(transform(sequence(1, length(b)),"
            " i -> substring(b, i, 1)))"
        ),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return d.select(
        "doc_id",
        F.levenshtein("a", "b").alias("lev"),
        F.expr(
            "aggregate(sequence(1, 8), 0, (acc, i) -> acc +"
            " CASE WHEN substring(a8, i, 1) = substring(b8, i, 1)"
            " THEN 0 ELSE 1 END)"
        ).alias("ham"),
        F.round(
            inter.cast("double") / (F.size("sa") + F.size("sb") - inter), 6
        ).alias("char_jaccard"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# largestTriangleThreeBuckets — parallel-friendly variant with bucket-mean
# anchors (deterministic, window-expressible; classic LTTB's sequential
# previous-selected-point recurrence does not distribute).
# ---------------------------------------------------------------------------

_LTTB_K = 12


@query(
    "agg_lttb_downsample",
    f"""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS x,
         CAST(round(value, 2) AS DECIMAL(7,2)) AS yd, ts
  FROM events WHERE user_id < 10
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY x, event_id)
              AS rn,
            COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM s
),
bk AS (
  SELECT *, CAST(floor(((rn - 1) * {_LTTB_K} * 1.0) / cnt) AS BIGINT) AS b,
         CAST(yd AS DOUBLE) AS y
  FROM rn WHERE cnt >= {_LTTB_K}
),
av AS (
  SELECT user_id, b,
         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
         CAST(SUM(yd) AS DOUBLE) / COUNT(*) AS ay
  FROM bk GROUP BY user_id, b
),
anchors AS (
  SELECT user_id, b,
         lag(ax) OVER (PARTITION BY user_id ORDER BY b) AS pax,
         lag(ay) OVER (PARTITION BY user_id ORDER BY b) AS pay,
         lead(ax) OVER (PARTITION BY user_id ORDER BY b) AS nax,
         lead(ay) OVER (PARTITION BY user_id ORDER BY b) AS nay
  FROM av
),
scored AS (
  SELECT k.user_id, k.b, k.event_id, k.ts, k.y, k.rn, k.cnt,
         CASE WHEN k.b = 0 THEN CAST(k.rn AS DOUBLE)
              WHEN k.b = {_LTTB_K} - 1 THEN CAST(k.cnt - k.rn AS DOUBLE)
              ELSE -abs((a.pax - a.nax) * (k.y - a.pay)
                        - (a.pax - CAST(k.x AS DOUBLE)) * (a.nay - a.pay))
         END AS sort1
  FROM bk k JOIN anchors a ON k.user_id = a.user_id AND k.b = a.b
),
pick AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, b
                               ORDER BY sort1, event_id) AS pr
  FROM scored
)
SELECT user_id, CAST(b AS BIGINT) AS bucket, event_id, ts,
       round(y, 2) AS y
FROM pick WHERE pr = 1 ORDER BY user_id, bucket
""",
)
def agg_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``largestTriangleThreeBuckets(k)`` analog: downsample each
    user's (ts, value) series to k={_K} visually-representative points.

    Parallel variant: triangle anchors are the NEIGHBOR BUCKET MEANS
    (classic LTTB anchors on the previously *selected* point — a sequential
    recurrence that cannot distribute); first/last buckets pin the series
    endpoints, matching LTTB's contract. Entirely window/groupBy — per-user
    partition parallel at any scale. Determinism: x is exact epoch-micros
    int64, y an exact 2-dec decimal; bucket means are single divisions of
    exact sums, and the per-row area is the same IEEE expression shape in
    both engines, so the argmax (tie → min event_id) picks identical rows.
    """
    k = _LTTB_K
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("x"),
            F.round("value", 2).cast("decimal(7,2)").alias("yd"),
            "ts",
        )
    )
    wu = Window.partitionBy("user_id")
    rn = s.select(
        "*",
        F.row_number().over(wu.orderBy("x", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("cnt"),
    ).filter(F.col("cnt") >= k)
    bk = rn.withColumn(
        "b",
        F.floor((F.col("rn") - 1) * k * F.lit(1.0) / F.col("cnt")).cast("long"),
    ).withColumn("y", F.col("yd").cast("double"))
    # epoch-micros sums exceed int64 (1.7e18 * bucket size); sum as exact
    # decimal — DuckDB's SUM(BIGINT) widens to HUGEINT natively.
    av = bk.groupBy("user_id", "b").agg(
        (F.sum(F.col("x").cast("decimal(28,0)")).cast("double")
         / F.count(F.lit(1))).alias("ax"),
        (F.sum("yd").cast("double") / F.count(F.lit(1))).alias("ay"),
    )
    wb = Window.partitionBy("user_id").orderBy("b")
    anchors = av.select(
        "user_id",
        "b",
        F.lag("ax").over(wb).alias("pax"),
        F.lag("ay").over(wb).alias("pay"),
        F.lead("ax").over(wb).alias("nax"),
        F.lead("ay").over(wb).alias("nay"),
    )
    scored = bk.join(anchors, ["user_id", "b"]).withColumn(
        "sort1",
        F.when(F.col("b") == 0, F.col("rn").cast("double"))
        .when(F.col("b") == k - 1, (F.col("cnt") - F.col("rn")).cast("double"))
        .otherwise(
            -F.abs(
                (F.col("pax") - F.col("nax")) * (F.col("y") - F.col("pay"))
                - (F.col("pax") - F.col("x").cast("double"))
                * (F.col("nay") - F.col("pay"))
            )
        ),
    )
    pick = scored.withColumn(
        "pr",
        F.row_number().over(
            Window.partitionBy("user_id", "b").orderBy("sort1", "event_id")
        ),
    ).filter(F.col("pr") == 1)
    return pick.select(
        "user_id",
        F.col("b").cast("long").alias("bucket"),
        "event_id",
        "ts",
        F.round("y", 2).alias("y"),
    ).orderBy("user_id", "bucket")


agg_lttb_downsample.__doc__ = agg_lttb_downsample.__doc__.replace(
    "{_K}", str(_LTTB_K)
)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic near-duplicate pass: coarse-quantize embeddings to
# centroid buckets, then near-dup only WITHIN buckets.
# ---------------------------------------------------------------------------

_N_CENTROIDS = 8
_SEM_THRESHOLD = 0.4


@query(
    "dedup_semantic_buckets",
    f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.cid, {_cos_sql('e.v', 'c.cv')} AS cos_c,
         e.v
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid AS bucket, v,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_c DESC, cid) AS rn
  FROM scored
)
SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_cos_sql('a.v', 'b.v')}, 4) AS cosine
FROM assigned a JOIN assigned b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE a.rn = 1 AND b.rn = 1
  AND {_cos_sql('a.v', 'b.v')} >= {_SEM_THRESHOLD}
ORDER BY 1, 2, 3
""",
)
def dedup_semantic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pass (Abbas et al. 2023, arXiv
    2303.09540): assign every embedding to its nearest of K fixed centroids
    (cosine argmax, tie → lowest centroid id), then emit near-duplicate
    pairs (cos >= {_T}) only WITHIN each bucket.

    Scale shape: the K centroids broadcast (kilobytes); assignment is
    map-side — the corpus never shuffles for it. The pair join is
    bucket-local, so its cost is Σ bucket² instead of corpus² — the whole
    point of semantic bucketing at 100 TB. Centroids here are the first K
    vectors (deterministic, oracle-reproducible); a production run plugs in
    k-means centroids without changing the plan. Cross-bucket pairs are
    deliberately not emitted (the SemDeDup trade), and the oracle encodes
    the same semantics. The cosine fold is the shared sequential kernel
    (queries/vector.py) so both engines see identical doubles.
    """
    from go_nats_to_clickhouse_spark.queries.vector import dot

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(bounded(cents, "K centroids, fixed K"))).select(
        "vec_id", "cid", "v", cosine(F.col("v"), F.col("cv")).alias("cos_c")
    )
    # Precompute each vector's norm ONCE: sqrt(dot(v,v)) here is the exact
    # same fold -> same double -> same sqrt as an inline computation, so the
    # pair-stage cosine dot(a,b)/(na*nb) stays bit-identical to the oracle's
    # inline form while doing one array fold per pair instead of three.
    assigned = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("cos_c").desc(), F.col("cid")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cid").alias("bucket"),
            "v",
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        )
        # (r12: a lazy localCheckpoint here was TRIED and reverted on a
        # 10x measurement — the assignment subtree both join sides
        # re-expand is K cosines per vector, tiny next to the quadratic
        # pair stage, while checkpointing the 64-double arrays cost ~15%
        # at sf1 and ~7% at sf0.1. The double expansion is the cheaper
        # evil until the pair stage stops dominating.)
    )
    # Salt the bucket-local pair join: K buckets alone cap parallelism at
    # K partitions; salting the left side by vec_id and replicating the
    # right side per salt keeps the SAME pair set while spreading each
    # bucket's quadratic work across K*salt tasks. Pure partitioning —
    # no semantic change, so the oracle is untouched.
    # The explicit repartition(n, keys) is load-bearing: AQE coalesces the
    # join's shuffle by BYTES (a few thousand fat rows look tiny) down to
    # 2-3 partitions, serializing a stage whose per-row cost is quadratic
    # pair scoring. User-specified partition counts are exempt from AQE
    # coalescing, so the scoring keeps full width.
    n_salt = 4
    width = assigned.sparkSession.sparkContext.defaultParallelism
    a = (
        assigned.withColumn("salt", F.pmod("vec_id", F.lit(n_salt)))
        .repartition(width, "bucket", "salt")
        .alias("a")
    )
    b = (
        assigned.crossJoin(
            F.broadcast(
                assigned.sparkSession.range(n_salt).select(
                    F.col("id").cast("int").alias("salt")
                )
            )
        )
        .repartition(width, "bucket", "salt")
        .alias("b")
    )
    cos_ab = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos_ab", cos_ab)
        .filter(F.col("cos_ab") >= _SEM_THRESHOLD)
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_ab", 4).alias("cosine"),
        )
        .orderBy("bucket", "vec_a", "vec_b")
    )


dedup_semantic_buckets.__doc__ = dedup_semantic_buckets.__doc__.replace(
    "{_T}", str(_SEM_THRESHOLD)
)


# ---------------------------------------------------------------------------
# Student's t (pooled variance) — companion to agg_welch_ttest, same exact
# decimal power-sum idiom (clickhouse_r4.py:_WELCH_SUMS_SQL).
# ---------------------------------------------------------------------------


@query(
    "agg_student_ttest",
    """
WITH sums AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(v) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v * v AS DECIMAL(19,6))) AS DOUBLE) AS s2
  FROM (SELECT event_type, CAST(round(value, 3) AS DECIMAL(7,3)) AS v
        FROM events WHERE event_type IN ('view', 'click'))
  GROUP BY event_type
),
ab AS (
  SELECT
    max(CASE WHEN event_type = 'view' THEN n END) AS na,
    max(CASE WHEN event_type = 'view' THEN s1 END) AS sa1,
    max(CASE WHEN event_type = 'view' THEN s2 END) AS sa2,
    max(CASE WHEN event_type = 'click' THEN n END) AS nb,
    max(CASE WHEN event_type = 'click' THEN s1 END) AS sb1,
    max(CASE WHEN event_type = 'click' THEN s2 END) AS sb2
  FROM sums
)
SELECT CAST(na AS BIGINT) AS n_view,
       CAST(nb AS BIGINT) AS n_click,
       CAST(na + nb - 2 AS BIGINT) AS df,
       round((sa1 / na - sb1 / nb)
             / sqrt(((sa2 - sa1 * sa1 / na) + (sb2 - sb1 * sb1 / nb))
                    / (na + nb - 2) * (1.0 / na + 1.0 / nb)), 6) + 0.0
         AS t_stat
FROM ab
""",
)
def agg_student_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``studentTTest(value, group)`` analog: the pooled-variance
    two-sample t statistic between 'view' and 'click' populations, df =
    n1+n2-2. Same shape as agg_welch_ttest — one map-side-combinable
    aggregate reduces 100 TB to two power-sum rows; the algebra runs once.
    t can round to zero from below, hence ``+ 0.0``."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    v = F.round(F.col("value"), 3).cast("decimal(7,3)")
    sums = e.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(19,6)"))
        .cast("double")
        .alias("s2"),
    )
    ab = sums.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("na"),
        F.max(F.when(F.col("event_type") == "view", F.col("s1"))).alias("sa1"),
        F.max(F.when(F.col("event_type") == "view", F.col("s2"))).alias("sa2"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("event_type") == "click", F.col("s1"))).alias("sb1"),
        F.max(F.when(F.col("event_type") == "click", F.col("s2"))).alias("sb2"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ssa = F.col("sa2") - F.col("sa1") * F.col("sa1") / na
    ssb = F.col("sb2") - F.col("sb1") * F.col("sb1") / nb
    t = (F.col("sa1") / na - F.col("sb1") / nb) / F.sqrt(
        (ssa + ssb) / (na + nb - 2) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return ab.select(
        F.col("na").cast("long").alias("n_view"),
        F.col("nb").cast("long").alias("n_click"),
        (F.col("na") + F.col("nb") - 2).cast("long").alias("df"),
        (F.round(t, 6) + F.lit(0.0)).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Contingency coefficient + bias-corrected Cramér's V — companions to
# agg_cramers_v (clickhouse_r3.py:663), same chi-square machinery.
# ---------------------------------------------------------------------------


@query(
    "agg_contingency_coefs",
    """
WITH cells AS (
  SELECT event_type AS a, dayofweek(ts) AS b, CAST(count(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2
),
margins AS (
  SELECT a, b, o,
         sum(o) OVER (PARTITION BY a) AS row_tot,
         sum(o) OVER (PARTITION BY b) AS col_tot,
         sum(o) OVER () AS n
  FROM cells
),
chi AS (
  SELECT sum(pow(o - row_tot * col_tot / n, 2) / (row_tot * col_tot / n)) AS chi2,
         max(n) AS n,
         CAST(count(DISTINCT a) AS DOUBLE) AS r,
         CAST(count(DISTINCT b) AS DOUBLE) AS c
  FROM margins
)
SELECT round(chi2, 6) + 0.0 AS chi2,
       round(sqrt(chi2 / (chi2 + n)), 6) + 0.0 AS contingency_coef,
       round(sqrt(
         greatest(0.0, chi2 / n - (r - 1) * (c - 1) / (n - 1))
         / least(r - (r - 1) * (r - 1) / (n - 1),
                 c - (c - 1) * (c - 1) / (n - 1))), 6) + 0.0
         AS cramers_v_bc
FROM chi
""",
)
def agg_contingency_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``contingency(a, b)`` and ``cramersVBiasCorrected(a, b)``
    analogs over the same event_type x day-of-week table as agg_cramers_v:
    Pearson's contingency coefficient sqrt(chi2/(chi2+n)) and the
    Bergsma-corrected Cramér's V (phi2 debiased by (r-1)(c-1)/(n-1),
    dimensions shrunk the same way; the max(0, .) clamp uses GREATEST so
    an independent table yields +0.0 in both engines).

    One groupBy for cell counts is the only full-data shuffle; margins and
    the chi-square fold run over the tiny |X|x|Y| relation."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("a"), F.dayofweek("ts").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    m = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("b")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = m.agg(
        F.sum(F.pow(F.col("o") - exp, 2) / exp).alias("chi2"),
        F.max("n").alias("n"),
        F.countDistinct("a").cast("double").alias("r"),
        F.countDistinct("b").cast("double").alias("c"),
    )
    chi2, n, r, c = (F.col(x) for x in ("chi2", "n", "r", "c"))
    phi2_bc = F.greatest(
        F.lit(0.0), chi2 / n - (r - 1) * (c - 1) / (n - 1)
    )
    dim_bc = F.least(
        r - (r - 1) * (r - 1) / (n - 1), c - (c - 1) * (c - 1) / (n - 1)
    )
    return chi.select(
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (F.round(F.sqrt(chi2 / (chi2 + n)), 6) + F.lit(0.0)).alias(
            "contingency_coef"
        ),
        (F.round(F.sqrt(phi2_bc / dim_bc), 6) + F.lit(0.0)).alias(
            "cramers_v_bc"
        ),
    )


# ---------------------------------------------------------------------------
# Training-pipeline: deterministic global shuffle + sharding.
# ---------------------------------------------------------------------------

_SHUF_SALT = "shuf-1:"
_N_SHARDS = 8


@query(
    "text_global_shuffle",
    f"""
WITH h AS (
  SELECT doc_id, md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
sh AS (
  SELECT doc_id, h,
         ('0x' || substr(h, 1, 7))::BIGINT % {_N_SHARDS} AS shard
  FROM h
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM sh ORDER BY shard, pos
""",
)
def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order global shuffle: place every document at a
    deterministic pseudo-random position in one of N shards (salted-md5
    order) — the "shuffle 100 TB before epoch 0" op of an LLM data
    pipeline.

    Scale shape: the md5 key is map-side; the only shuffle is the
    repartition-by-shard, and within-shard ordering is a sort on a
    uniformly-distributed key, so range partitioning cannot skew. Salt the
    key to re-shuffle between epochs without rewriting data. The md5 hash
    keeps both engines (and any future re-run) in byte-identical order —
    no RNG state anywhere."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(_SHUF_SALT), F.col("doc_id").cast("string")))
    sh = d.select(
        "doc_id",
        h.alias("h"),
        (F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % _N_SHARDS).alias(
            "shard"
        ),
    )
    return sh.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.row_number()
        .over(Window.partitionBy("shard").orderBy("h", "doc_id"))
        .cast("long")
        .alias("pos"),
    ).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# Training-pipeline: corpus-trained character-bigram LM quality score.
# ---------------------------------------------------------------------------

_LM_PREFIX_LEN = 200


@query(
    "text_bigram_lm_score",
    f"""
WITH t AS (
  SELECT doc_id, substring(lower(text), 1, {_LM_PREFIX_LEN}) AS s
  FROM documents WHERE length(text) >= 2
),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, length(s)),
                 i -> substring(s, i, 2))) AS bigram
  FROM t
),
cnt AS (
  SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY bigram
),
pfx AS (
  SELECT bigram, cb,
         SUM(cb) OVER (PARTITION BY substring(bigram, 1, 1)) AS cp
  FROM cnt
),
scored AS (
  SELECT b.doc_id,
         CAST(round(ln(CAST(p.cb AS DOUBLE) / CAST(p.cp AS DOUBLE))
                    * 1000000) AS BIGINT) AS q
  FROM bg b JOIN pfx p ON b.bigram = p.bigram
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       n AS n_bigrams,
       -- integer half-away rounding of s/n: float round() diverges
       -- between engines on half boundaries (the text_dsir_weights
       -- sf0.1 lesson) — q is always negative here (log-probs)
       CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
            * (abs(s) // n
               + CASE WHEN 2 * (abs(s) - (abs(s) // n) * n) >= n
                      THEN 1 ELSE 0 END) AS DOUBLE) / 1000000.0
         AS avg_logp
FROM agg ORDER BY doc_id
""",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained character-bigram language-model score per document:
    avg over positions of ln P(c_i | c_{{i-1}}) with probabilities from the
    corpus's own bigram counts — the classic cheap fluency/quality signal
    (gibberish and boilerplate score far from the corpus mode).

    Scale shape: the "model" (bigram count table) is at most |charset|²
    rows — broadcast; scoring is map-side behind one explode, and the only
    full-data shuffles are the bigram count and the per-doc reduce.
    Portability: each log-prob is ln of a ratio of exact integers →
    identical doubles; per-term micro-rounding to 1e-6 then an INTEGER sum
    makes the per-doc accumulation order-independent (float-sum order
    would otherwise differ across engines), and the final division is one
    IEEE op of exact operands."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    # pre-explode repartition: same 1-2-input-split fix as word_shingles
    width = spark.sparkContext.defaultParallelism
    t = d.repartition(width).select(
        "doc_id", F.substring(F.lower("text"), 1, _LM_PREFIX_LEN).alias("s")
    )
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 1),"
                   " i -> substring(s, i, 2))")
        ).alias("bigram"),
    )
    # Aggregate to (doc, bigram, count) ONCE: the model counts roll up
    # from this table (two-level agg — Catalyst's ReusedExchange shares
    # the shuffle between the model path and the scoring path, measured
    # faster than an explicit checkpoint) and the scoring join runs on the
    # deduplicated per-doc counts — per-instance q is constant per bigram,
    # so sum(q * c_doc) equals the per-instance integer sum exactly.
    bgc = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c_doc"))
    cnt = bgc.groupBy("bigram").agg(F.sum("c_doc").alias("cb"))
    pfx = cnt.withColumn(
        "cp",
        F.sum("cb").over(Window.partitionBy(F.substring("bigram", 1, 1))),
    )
    q = F.round(
        F.log(F.col("cb").cast("double") / F.col("cp").cast("double"))
        * 1000000,
        0,
    ).cast("long")
    # r12: the model table is |charset|^2-bounded by construction — pin
    # the broadcast so the scoring join stays map-side over the
    # (doc, bigram) counts at ANY scale. (At fixture scale AQE already
    # picked BroadcastHashJoin from size estimates; the explicit bounded
    # hint removes the dependence on estimates that drift after filters
    # at 100 TB — guide §3.1.)
    scored = bgc.join(
        F.broadcast(bounded(pfx, "bigram LM model: at most |charset|^2 rows")),
        "bigram",
    ).select("doc_id", "c_doc", (q * F.col("c_doc")).alias("qc"))
    # integer half-away rounding of the per-doc average (shared helper;
    # float round() diverges between engines on half boundaries — the
    # text_dsir_weights sf0.1 lesson)
    from go_nats_to_clickhouse_spark.queries.retrieval import (
        _int_round_ratio,
    )

    agg = scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("long").alias("n"),
        F.sum("qc").cast("long").alias("s"),
    )
    return (
        agg.select(
            "doc_id",
            F.col("n").alias("n_bigrams"),
            (
                _int_round_ratio("s", "n").cast("double") / F.lit(1000000.0)
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Vector int8 quantization — the storage/ANN-at-scale companion op.
# ---------------------------------------------------------------------------


@query(
    "vector_quantize_int8",
    """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
m AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS maxabs
  FROM e
),
qz AS (
  SELECT vec_id, v, maxabs,
         list_transform(v, x -> CAST(round(x * 127.0 / maxabs) AS BIGINT))
           AS q
  FROM m WHERE maxabs > 0
)
SELECT vec_id,
       round(maxabs / 127.0, 6) AS scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_norm2,
       round(sqrt(list_sum(list_transform(range(1, len(v) + 1),
             i -> (v[i] - q[i] * maxabs / 127.0)
                  * (v[i] - q[i] * maxabs / 127.0)))), 6) AS l2_err
FROM qz ORDER BY vec_id
""",
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale, the standard ANN storage layout: 4x smaller + SIMD
    int8 GEMM downstream) with reconstruction-error audit columns.

    Map-only, no shuffle; arrays stay JVM-side (codegen transform/fold).
    The quantized vector itself is summarized (sum, norm², L2 error)
    because the driver harness can't hash raw array cells; a production
    sink would write the int8 array column as-is. Determinism: the
    quantization grid point round(x*127/maxabs) is the same double in both
    engines (values never land exactly on .5 in binary), and the error
    fold is the shared sequential kernel."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    m = e.withColumn(
        "maxabs", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("maxabs") > 0)
    qz = m.withColumn(
        "q",
        F.transform(
            "v", lambda x: F.round(x * 127.0 / F.col("maxabs"), 0).cast("long")
        ),
    )

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    deq_err = F.zip_with(
        "v",
        "q",
        lambda v, q: (v - q * F.col("maxabs") / F.lit(127.0))
        * (v - q * F.col("maxabs") / F.lit(127.0)),
    )
    return qz.select(
        "vec_id",
        F.round(F.col("maxabs") / 127.0, 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("q_norm2"),
        F.round(F.sqrt(fold(deq_err)), 6).alias("l2_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# As-of join, direction='nearest' — the remaining pandas.merge_asof mode.
# ---------------------------------------------------------------------------


@query(
    "join_asof_nearest",
    """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
cand AS (
  SELECT p.event_id, p.user_id, p.ts,
         (SELECT max(c.ts) FROM clicks c
          WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS bwd,
         (SELECT min(c.ts) FROM clicks c
          WHERE c.user_id = p.user_id AND c.ts >= p.ts) AS fwd
  FROM purchases p
)
SELECT event_id, user_id,
       CASE
         WHEN bwd IS NULL AND fwd IS NULL THEN NULL
         WHEN fwd IS NULL THEN epoch_us(ts) - epoch_us(bwd)
         WHEN bwd IS NULL THEN epoch_us(ts) - epoch_us(fwd)
         WHEN epoch_us(fwd) - epoch_us(ts) < epoch_us(ts) - epoch_us(bwd)
           THEN epoch_us(ts) - epoch_us(fwd)
         ELSE epoch_us(ts) - epoch_us(bwd)
       END AS gap_us
FROM cand ORDER BY event_id
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with direction='nearest' (pandas merge_asof's third
    mode): each purchase matches the click closest in time either side,
    exact-distance ties resolving backward. The operator runs BOTH sweeps
    over one merged stream — still a single shuffle on user_id, no join
    (operators/asof.py:_asof_nearest). The gap is signed (positive =
    matched click precedes the purchase), in exact integer microseconds,
    so the tie-pick is hash-visible and both engines must agree on it.
    The oracle's correlated min/max subqueries express the same semantics
    relationally at test scale."""
    from go_nats_to_clickhouse_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", direction="nearest"
    )
    return joined.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("right_ts")).alias("gap_us"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# pointInPolygon — geo family extension (ray casting, unrolled edges).
# ---------------------------------------------------------------------------

#: irregular pentagon, counterclockwise; "odd" coordinates so fixture
#: points (2-dec x, 1-dec y) cannot land exactly on an edge.
_POLY = [(1.13, 0.21), (8.77, 1.09), (9.43, 6.88), (4.96, 9.37), (0.62, 5.41)]


def _pip_edges():
    return [
        (_POLY[i], _POLY[(i + 1) % len(_POLY)]) for i in range(len(_POLY))
    ]


def _pip_sql() -> str:
    terms = []
    for (xi, yi), (xj, yj) in _pip_edges():
        terms.append(
            f"CASE WHEN (({yi!r} > py) != ({yj!r} > py))"
            f" AND px < ({xj!r} - {xi!r}) * (py - {yi!r})"
            f" / ({yj!r} - {yi!r}) + {xi!r} THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


@query(
    "scalar_point_in_polygon",
    f"""
WITH pts AS (
  SELECT event_id,
         round(value, 2) % 10 AS px,
         (event_id % 100) * 0.1 AS py
  FROM events WHERE user_id < 30
),
cr AS (
  SELECT event_id, px, py, {_pip_sql()} AS crossings
  FROM pts
)
SELECT event_id, round(px, 2) AS px, round(py, 1) AS py,
       CAST(crossings AS INT) AS crossings,
       crossings % 2 = 1 AS inside
FROM cr ORDER BY event_id
""",
)
def scalar_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``pointInPolygon((x, y), polygon)`` analog: even-odd ray
    casting against a fixed pentagon, unrolled to one flat codegen
    expression per edge (integer crossing votes — no float accumulation to
    diverge). Map-only, no shuffle; at 100 TB this is a pure projection.
    Polygon vertices are deliberately off-grid so fixture points never sit
    exactly on an edge (where even-odd is ambiguous)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    pts = e.select(
        "event_id",
        (F.round("value", 2) % 10).alias("px"),
        ((F.col("event_id") % 100) * F.lit(0.1)).alias("py"),
    )
    px, py = F.col("px"), F.col("py")
    crossings: F.Column = F.lit(0)
    for (xi, yi), (xj, yj) in _pip_edges():
        cond = ((F.lit(yi) > py) != (F.lit(yj) > py)) & (
            px < (F.lit(xj) - F.lit(xi)) * (py - F.lit(yi))
            / (F.lit(yj) - F.lit(yi)) + F.lit(xi)
        )
        crossings = crossings + F.when(cond, 1).otherwise(0)
    return (
        pts.withColumn("crossings", crossings)
        .select(
            "event_id",
            F.round("px", 2).alias("px"),
            F.round("py", 1).alias("py"),
            F.col("crossings").cast("int").alias("crossings"),
            (F.col("crossings") % 2 == 1).alias("inside"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# sparkbar — the ClickHouse terminal-visualization aggregate.
# ---------------------------------------------------------------------------

_BAR_CHARS = "▁▂▃▄▅▆▇█"


@query(
    "agg_sparkbar",
    f"""
WITH c AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS h, COUNT(*) AS c
  FROM events GROUP BY event_type, hour(ts)
),
axis AS (
  SELECT t.event_type, CAST(r.range AS INT) AS h
  FROM (SELECT DISTINCT event_type FROM events) t, range(24) r
),
filled AS (
  SELECT a.event_type, a.h, COALESCE(c.c, 0) AS c,
         MAX(COALESCE(c.c, 0)) OVER (PARTITION BY a.event_type) AS maxc
  FROM axis a LEFT JOIN c ON c.event_type = a.event_type AND c.h = a.h
),
lv AS (
  SELECT event_type, h, c, maxc,
         CASE WHEN c = 0 THEN ' '
              ELSE substring('{_BAR_CHARS}',
                   CAST(1 + floor(7.0 * c / maxc) AS INT), 1) END AS ch
  FROM filled
)
SELECT event_type,
       string_agg(ch, '' ORDER BY h) AS bar,
       CAST(MAX(maxc) AS BIGINT) AS max_hour_count
FROM lv GROUP BY event_type ORDER BY event_type
""",
)
def agg_sparkbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sparkbar(24)(hour, count)`` analog: one 24-character
    unicode bar per event type, each hour scaled to eight block heights
    against the type's peak hour. Heights come from exact integer counts
    (``1 + floor(7*c/maxc)`` — the division is correctly rounded in both
    engines, and floor of it is engine-stable), empty hours render as a
    space. Both engines index the bar alphabet per CHARACTER (not byte).
    Two tiny shuffles: the (type, hour) count and the per-type fold."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    axis = (
        e.select("event_type")
        .distinct()
        .crossJoin(
            e.sparkSession.range(24).select(F.col("id").cast("int").alias("h"))
        )
    )
    filled = (
        axis.join(c, ["event_type", "h"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn(
            "maxc", F.max("c").over(Window.partitionBy("event_type"))
        )
    )
    lv = filled.withColumn(
        "ch",
        F.when(F.col("c") == 0, F.lit(" ")).otherwise(
            F.expr(
                f"substring('{_BAR_CHARS}',"
                " CAST(1 + floor(7.0 * c / maxc) AS INT), 1)"
            )
        ),
    )
    return (
        lv.groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "ch"))),
                    lambda s: s.ch,
                ),
                "",
            ).alias("bar"),
            F.max("maxc").cast("long").alias("max_hour_count"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Interval x interval overlap join — the second range-join shape.
# ---------------------------------------------------------------------------


@query(
    "join_interval_overlap",
    f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(value * 100000000) AS BIGINT) AS e
  FROM events
  -- mirror interval_join's half-open semantics: drop degenerate [s,s)
  -- intervals (value=0 events) exactly like the operator does
  WHERE user_id < 40 AND round(value * 100000000) > 0
)
SELECT a.user_id, a.event_id AS ev_a, b.event_id AS ev_b,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
ORDER BY a.user_id, ev_a, ev_b
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of same-user event windows
    ``[ts, ts + 100*value seconds)`` (1 s .. ~13.6 h — long enough that
    overlap is common) that overlap in time, with the exact
    integer-microsecond overlap length.

    Scale shape: operators/range_join.interval_join — both sides explode
    to 5-minute time buckets and the plan is a shuffle equi-join on
    (bucket, user), never a nested loop; a pair sharing k buckets is kept
    only in the first bucket both cover, so no distinct pass. The oracle
    is the direct quadratic join (fine at test scale; the bucket join
    computes the identical pair set)."""
    from go_nats_to_clickhouse_spark.operators.range_join import interval_join

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("s"),
            (
                F.unix_micros("ts")
                + F.round(F.col("value") * F.lit(100000000.0), 0).cast("long")
            ).alias("e"),
        )
    )
    a = e.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("ev_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    b = e.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("ev_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    joined = interval_join(
        a,
        b,
        left_start="sa",
        left_end="ea",
        right_start="sb",
        right_end="eb",
        bucket_width=6 * 3600e6,  # 6 h in micros; typical interval ~6.8 h
        equi=[("ua", "ub")],
    ).filter(F.col("ev_a") < F.col("ev_b"))
    return joined.select(
        F.col("ua").alias("user_id"),
        "ev_a",
        "ev_b",
        (F.least("ea", "eb") - F.greatest("sa", "sb"))
        .cast("long")
        .alias("overlap_us"),
    ).orderBy("user_id", "ev_a", "ev_b")


# ---------------------------------------------------------------------------
# Per-document TF-IDF keywords — the classic keyword-extraction pass.
# ---------------------------------------------------------------------------


@query(
    "text_tfidf_keywords",
    """
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM words WHERE w <> '' GROUP BY doc_id, w
),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
scored AS (
  SELECT t.doc_id, t.w, t.tf, d.df,
         t.tf * ln(CAST(nn.n AS DOUBLE) / d.df) AS tfidf
  FROM tf t JOIN df d ON d.w = t.w CROSS JOIN n nn
),
ranked AS (
  SELECT doc_id, w, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, w) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rank, w AS term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(tfidf, 6) AS tfidf
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rank
""",
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top-3 terms per doc by
    ``tf * ln(N / df)`` (ties break on the term). The IDF table is tiny
    (vocabulary-sized) and broadcast; TF is one shuffle on (doc, term) and
    the document-frequency table rolls up from it map-side-combinably —
    at 100 TB nothing quadratic, nothing driver-side. tfidf is a product
    of an exact integer and ln of an exact integer ratio — identical
    doubles in both engines, so the DESC ranking agrees too."""
    d = load_table(spark, sf_dir, "documents")
    # NO pre-explode repartition here, unlike word_shingles: this explode
    # is a cheap split feeding an immediately-reducing partial aggregate,
    # so shuffling the full text column to widen the 1-2 fixture input
    # splits costs more than the parallelism buys (r5 tried it: 1.43s ->
    # 1.89s solo at sf0.1; adjudicated in PERF_NOTES.md r6). Shingling is
    # compute-bound per input row, which is why word_shingles keeps it.
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    # r12: tf feeds THREE consumers (the df rollup, the corpus doc count,
    # and the scoring join); snapshot it so the text scan + explode +
    # (doc, term) shuffle runs once instead of three times
    tf = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = tf.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
        ),
    ).filter(F.col("rnk") <= 3)
    return ranked.select(
        "doc_id",
        F.col("rnk").cast("int").alias("rank"),
        F.col("w").alias("term"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
    ).orderBy("doc_id", "rank")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — physical-design primitive.
# ---------------------------------------------------------------------------


def _zorder_sql(a: str, b: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "scalar_zorder_key",
    f"""
WITH pts AS (
  SELECT event_id,
         CAST(user_id % 65536 AS BIGINT) AS a,
         CAST(hour(ts) * 2731 % 65536 AS BIGINT) AS b
  FROM events WHERE event_id < 3000
)
SELECT event_id, a, b,
       CAST({_zorder_sql('a', 'b')} AS BIGINT) AS z_key,
       CAST(({_zorder_sql('a', 'b')}) >> 24 AS BIGINT) AS z_cell
FROM pts ORDER BY event_id
""",
)
def scalar_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleaved clustering key over two 16-bit
    dimensions — the physical-design primitive behind multi-dimensional
    data skipping: sort/partition 100 TB by ``z_key`` and range predicates
    on EITHER dimension prune file-level min/max stats, where a plain
    lexicographic sort only prunes the leading column. ``z_cell`` (the top
    byte) is the coarse partition cell a writer would bucket by.

    The interleave is 32 unrolled shift/mask terms OR-ed together — pure
    int64 codegen, map-only, bit-identical in any engine."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    pts = e.select(
        "event_id",
        (F.col("user_id") % 65536).cast("long").alias("a"),
        (F.hour("ts") * 2731 % 65536).cast("long").alias("b"),
    )
    z: F.Column = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("a"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(F.col("b"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return pts.select(
        "event_id",
        "a",
        "b",
        z.alias("z_key"),
        F.shiftright(z, 24).cast("long").alias("z_cell"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# windowFunnel strict_order mode — companion to window_funnel_depth.
# ---------------------------------------------------------------------------


@query(
    "window_funnel_strict_order",
    """
WITH tracked AS (
  SELECT user_id, event_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS seq
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
d AS (
  SELECT vw.user_id,
         1 + CASE WHEN f1.event_type = 'click'
                   AND f1.ts > vw.ts
                   AND f1.ts <= vw.ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END
           + CASE WHEN f1.event_type = 'click'
                   AND f1.ts > vw.ts
                   AND f1.ts <= vw.ts + INTERVAL 1 HOUR
                   AND f2.event_type = 'purchase'
                   AND f2.ts <= vw.ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END
           AS depth
  FROM tracked vw
  LEFT JOIN tracked f1
    ON f1.user_id = vw.user_id AND f1.seq = vw.seq + 1
  LEFT JOIN tracked f2
    ON f2.user_id = vw.user_id AND f2.seq = vw.seq + 2
  WHERE vw.event_type = 'view'
)
SELECT user_id, CAST(MAX(depth) AS INT) AS funnel_strict_order
FROM d GROUP BY user_id ORDER BY user_id
""",
)
def window_funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(3600, 'strict_order')`` analog: the
    view -> click -> purchase chain BREAKS if any other funnel-condition
    event intervenes (including a second view) — so the tracked event
    immediately after the entry view (in (ts, event_id) order) must be
    the click, and the one right after that the purchase, all inside the
    hour. Non-condition events (signup, error) never break chains, per
    ClickHouse semantics.

    Shape (r12 optimization): each view's two immediate successors in
    the per-user (ts, event_id) order are ``lead(1)`` / ``lead(2)`` over
    the SAME window the sequence numbering already needed — the previous
    spelling materialized the numbering and self-joined it twice on
    (user, seq+1) / (user, seq+2), re-scanning events three times. One
    events scan, one window shuffle, zero joins; lead()'s null-at-end
    matches the left joins' no-successor rows exactly."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wuser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("ts", 1).over(wuser).alias("ts1"),
        F.lead("event_type", 1).over(wuser).alias("type1"),
        F.lead("ts", 2).over(wuser).alias("ts2"),
        F.lead("event_type", 2).over(wuser).alias("type2"),
    ).filter(F.col("event_type") == "view")
    hour = F.expr("INTERVAL 1 HOUR")
    step2 = (
        (F.col("type1") == "click")
        & (F.col("ts1") > F.col("ts"))
        & (F.col("ts1") <= F.col("ts") + hour)
    )
    step3 = step2 & (F.col("type2") == "purchase") & (
        F.col("ts2") <= F.col("ts") + hour
    )
    d = j.select(
        "user_id",
        (
            F.lit(1)
            + F.when(step2, 1).otherwise(0)
            + F.when(step3, 1).otherwise(0)
        ).alias("depth"),
    )
    return (
        d.groupBy("user_id")
        .agg(F.max("depth").cast("int").alias("funnel_strict_order"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram detection — cross-document repeated-shingle audit.
# ---------------------------------------------------------------------------


@query(
    "text_boilerplate_ngrams",
    """
WITH sh AS (
  SELECT DISTINCT source, doc_id, shingle FROM (
    SELECT source, doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> concat_ws(' ', string_split(text, ' ')[i],
                                 string_split(text, ' ')[i + 1],
                                 string_split(text, ' ')[i + 2]))) AS shingle
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
  )
),
src AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM sh GROUP BY source),
df AS (
  SELECT source, shingle, COUNT(*) AS df FROM sh GROUP BY source, shingle
)
SELECT d.source, d.shingle AS ngram, CAST(d.df AS BIGINT) AS df,
       round(CAST(d.df AS DOUBLE) / s.n_docs, 6) AS df_ratio
FROM df d JOIN src s ON s.source = d.source
WHERE d.df >= 3
ORDER BY d.source, ngram
""",
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word-3-grams repeated across >= 3 documents
    of the same source — the pass a training pipeline runs to find and
    strip shared headers/footers/templates before dedup (repeated
    boilerplate otherwise dominates near-dup similarity).

    Shape: one explode -> one (source, shingle) count (map-side
    combinable) plus a tiny per-source doc-count join — nothing pairwise,
    so unlike the dedup verifiers this is linear in corpus size at 100 TB.
    The df threshold keeps output bounded by the true boilerplate set.
    """
    from go_nats_to_clickhouse_spark.operators.dedup import (
        shingle_arrays,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    # r12: `source` rides the shingle rows via word_shingles(keep=...) —
    # the previous sh.join(d, "doc_id") shuffled every shingle row (plus
    # the corpus) just to re-attach one metadata column the scan already
    # had. (Inline explode, not a named-array explode — see
    # shingle_arrays' docstring.)
    with_src = word_shingles(d, n=3, keep=("source",)).select(
        "doc_id", "source", "shingle"
    )
    # one row per doc pre-explode, so the per-source doc count is a plain
    # count — no countDistinct state over exploded shingle rows
    src = shingle_arrays(d, n=3, keep=("source",)).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df = with_src.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        df.filter(F.col("df") >= 3)
        .join(F.broadcast(bounded(src, "config-enumerated ingest sources")), "source")
        .select(
            "source",
            F.col("shingle").alias("ngram"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("df").cast("double") / F.col("n_docs"), 6
            ).alias("df_ratio"),
        )
        .orderBy("source", "ngram")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining — contrastive-training data prep over embeddings.
# ---------------------------------------------------------------------------

_HN_QUERIES = 8
_HN_TOPK = 5


@query(
    "vector_hard_negatives",
    f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
      FROM e WHERE vec_id < {_HN_QUERIES}),
scored AS (
  SELECT q.qid, e.vec_id AS nid, {_cos_sql('e.v', 'q.qv')} AS cos
  FROM e CROSS JOIN q
  WHERE e.label <> q.qlabel
),
ranked AS (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
  FROM scored
)
SELECT qid AS query_id, CAST(rnk AS INT) AS rank, nid AS negative_id,
       round(cos, 4) + 0.0 AS cosine
FROM ranked WHERE rnk <= {_HN_TOPK} ORDER BY query_id, rank
""",
)
def vector_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    embedding, the top-k most-similar vectors with a DIFFERENT label —
    the negatives that actually teach the model (random negatives are too
    easy). Same scale shape as the brute-force ANN: the query set
    broadcasts, scoring is map-side over the corpus, and only the top-k
    per query survive the rank window. A production run swaps the
    brute-force scorer for the IVF path without changing the contract."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(bounded(q, "ann probe batch <= admission cap")))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cosine(F.col("v"), F.col("qv")).alias("cos"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
        ),
    ).filter(F.col("rnk") <= _HN_TOPK)
    return ranked.select(
        F.col("qid").alias("query_id"),
        F.col("rnk").cast("int").alias("rank"),
        F.col("nid").alias("negative_id"),
        (F.round("cos", 4) + F.lit(0.0)).alias("cosine"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Markov transition matrix over the behavioral event stream.
# ---------------------------------------------------------------------------


@query(
    "behavioral_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (SELECT from_type, SUM(n) AS tn FROM c GROUP BY from_type)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
       round(CAST(c.n AS DOUBLE) / t.tn, 6) AS p
FROM c JOIN tot t ON t.from_type = c.from_type
ORDER BY 1, 2
""",
)
def behavioral_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream:
    P(next event type | current) with exact counts — the behavioral model
    behind ClickHouse sequence analytics (and a Markov-chain text/session
    generator's training pass).

    One window shuffle on user_id for the lead(), then the count matrix
    is |types|² rows — map-side-combinable aggregation all the way; each
    probability is a single division of exact integers."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("from_type").agg(F.sum("n").alias("tn"))
    return (
        c.join(F.broadcast(bounded(tot, "event_type enum domain")), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("tn"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# MAD-based anomaly detection over per-user value series.
# ---------------------------------------------------------------------------


@query(
    "timeseries_anomaly_mad",
    """
WITH v AS (
  SELECT user_id, event_id, ts, CAST(round(value, 2) AS DOUBLE) AS x
  FROM events WHERE user_id < 50
),
med AS (
  SELECT user_id, quantile_cont(x, 0.5) AS med FROM v GROUP BY user_id
),
dev AS (
  SELECT v.user_id, v.event_id, v.ts, v.x, m.med,
         abs(v.x - m.med) AS ad
  FROM v JOIN med m ON m.user_id = v.user_id
),
mad AS (
  SELECT user_id, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY user_id
)
SELECT d.user_id, d.event_id,
       round(d.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(d.ad / (1.4826 * m.mad), 6) AS score
FROM dev d JOIN mad m ON m.user_id = d.user_id
WHERE m.mad > 0 AND d.ad / (1.4826 * m.mad) > 3.0
ORDER BY d.user_id, d.event_id
""",
)
def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per user series: flag events whose value
    deviates from the user's median by more than 3 robust standard
    deviations (MAD * 1.4826 — the normal-consistency constant). Median
    and MAD are the robust location/scale pair that outliers cannot
    drag, unlike mean/stddev.

    Two exact percentiles as WINDOW aggregates over the same user_id
    partitioning (Spark ``percentile`` == DuckDB ``quantile_cont`` on
    exact 2-dec inputs — agg_percentiles pins the convention): the
    previous groupBy + join-back spelling re-scanned events four times
    and paid two join shuffles; both stats are per-user functions of the
    same rows, so one exchange establishes the partitioning and both
    windows (and the row-level scoring) reuse it (guide §2.4). At 100 TB
    swap ``percentile`` for ``percentile_approx`` with the same plan."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = e.select(
        "user_id",
        "event_id",
        F.round("value", 2).cast("double").alias("x"),
    )
    w = Window.partitionBy("user_id")
    dev = v.withColumn(
        "med", F.expr("percentile(x, 0.5)").over(w)
    ).withColumn("ad", F.abs(F.col("x") - F.col("med")))
    scored = dev.withColumn(
        "mad", F.expr("percentile(ad, 0.5)").over(w)
    ).withColumn("score", F.col("ad") / (F.lit(1.4826) * F.col("mad")))
    return (
        scored.filter((F.col("mad") > 0) & (F.col("score") > 3.0))
        .select(
            "user_id",
            "event_id",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Period detection — seriesPeriodDetectFFT-intent analog via exact
# phase-folding (no trig: cos/sin differ at 1 ulp between JVM and libm,
# which the micro-rounding trick cannot fully absorb over many terms).
# ---------------------------------------------------------------------------

_PD_PERIODS = [6, 8, 12, 24]


@query(
    "timeseries_period_power",
    f"""
WITH hc AS (
  SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
t0 AS (
  SELECT event_type, h, x,
         h - MIN(h) OVER (PARTITION BY event_type) AS t
  FROM hc
),
phase AS (
  SELECT event_type, p.period, t0.t % p.period AS k, SUM(x) AS s
  FROM t0 CROSS JOIN (SELECT UNNEST({_PD_PERIODS}) AS period) p
  GROUP BY event_type, p.period, t0.t % p.period
),
tot AS (
  SELECT event_type, period, SUM(s) AS total, COUNT(*) AS nbins FROM phase
  GROUP BY event_type, period
)
SELECT ph.event_type, CAST(ph.period AS INT) AS period_hours,
       round(CAST(SUM((ph.period * ph.s - t.total)
                      * (ph.period * ph.s - t.total)) AS DOUBLE)
             / (CAST(ph.period AS DOUBLE) * ph.period * t.total), 6)
         AS dispersion
FROM phase ph JOIN tot t
  ON t.event_type = ph.event_type AND t.period = ph.period
GROUP BY ph.event_type, ph.period, t.total
ORDER BY 1, 2
""",
)
def timeseries_period_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period detection with the intent of ClickHouse
    ``seriesPeriodDetectFFT``, restricted to candidate periods and
    computed by exact PHASE FOLDING instead of a DFT: fold each event
    type's hourly count series into P phase bins, and score each period
    by the normalized dispersion of the phase profile
    ``Σ (P·s_k - total)² / (P² · total)`` — flat profile (no periodicity)
    → ~0, concentrated profile → large. The astronomy phase-dispersion
    trick; unlike cos/sin bins it is EXACT: every term is int64 until one
    final division, so engines cannot diverge (JVM and libm trig differ
    in the last ulp, which no rounding discipline fully absorbs across
    thousands of terms).

    Scale: the series reduces to (type, hour) counts bounded by the time
    span; folding is a second tiny groupBy. Everything map-side
    combinable."""
    e = load_table(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(3600000000.0))
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    t0 = hc.withColumn(
        "t", F.col("h") - F.min("h").over(Window.partitionBy("event_type"))
    )
    periods = t0.sparkSession.createDataFrame(
        [(p,) for p in _PD_PERIODS], "period int"
    )
    phase = (
        t0.crossJoin(F.broadcast(bounded(periods, "candidate-period literal")))
        .groupBy(
            "event_type", "period", (F.col("t") % F.col("period")).alias("k")
        )
        .agg(F.sum("x").alias("s"))
    )
    tot = phase.groupBy("event_type", "period").agg(
        F.sum("s").alias("total")
    )
    dev = F.col("period") * F.col("s") - F.col("total")
    return (
        phase.join(tot, ["event_type", "period"])
        .groupBy("event_type", "period", "total")
        .agg(
            F.round(
                F.sum(dev * dev).cast("double")
                / (
                    F.col("period").cast("double")
                    * F.col("period")
                    * F.col("total")
                ),
                6,
            ).alias("dispersion")
        )
        .select(
            "event_type",
            F.col("period").cast("int").alias("period_hours"),
            "dispersion",
        )
        .orderBy("event_type", "period_hours")
    )


# ---------------------------------------------------------------------------
# Timezone scalar family — toTimeZone / formatDateTime-in-zone analogs.
# ---------------------------------------------------------------------------


@query(
    "scalar_timezone_functions",
    """
WITH s AS (
  SELECT event_id, ts FROM events WHERE event_id < 2000
)
SELECT event_id,
       ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ny_wall,
       ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo' AS tokyo_wall,
       ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Kolkata' AS kolkata_wall,
       CAST(hour(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York')
            AS INT) AS ny_hour,
       CAST(CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo' AS DATE)
            <> CAST(ts AS DATE) AS BOOLEAN) AS tokyo_crosses_date,
       ((ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Kolkata')
        AT TIME ZONE 'Asia/Kolkata' AT TIME ZONE 'UTC') = ts
         AS kolkata_roundtrip_ok
FROM s ORDER BY event_id
""",
)
def scalar_timezone_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``toTimeZone(ts, tz)`` analog family: wall-clock
    rendering of UTC instants in DST-bearing (America/New_York),
    fixed-offset (Asia/Tokyo) and half-hour-offset (Asia/Kolkata) zones,
    plus derived zone-local hour, a date-boundary-crossing flag, and a
    to/from round-trip proof. Spark's ``from_utc_timestamp`` == DuckDB's
    ``AT TIME ZONE 'UTC' AT TIME ZONE z`` (both ICU/IANA tzdata). Pure
    map-side projection — no shuffle beyond the output sort."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ny = F.from_utc_timestamp("ts", "America/New_York")
    tokyo = F.from_utc_timestamp("ts", "Asia/Tokyo")
    kolkata = F.from_utc_timestamp("ts", "Asia/Kolkata")
    return e.select(
        "event_id",
        ny.alias("ny_wall"),
        tokyo.alias("tokyo_wall"),
        kolkata.alias("kolkata_wall"),
        F.hour(ny).cast("int").alias("ny_hour"),
        (F.to_date(tokyo) != F.to_date("ts")).alias("tokyo_crosses_date"),
        (
            F.to_utc_timestamp(kolkata, "Asia/Kolkata") == F.col("ts")
        ).alias("kolkata_roundtrip_ok"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Hash scalar family — the portable digest subset.
# ---------------------------------------------------------------------------


@query(
    "scalar_hash_functions",
    """
WITH s AS (
  SELECT doc_id, substring(text, 1, 32) AS frag FROM documents
)
SELECT doc_id,
       md5(frag) AS md5_hex,
       sha256(frag) AS sha256_hex,
       ('0x' || substr(md5(frag), 1, 15))::BIGINT AS md5_60bit,
       ('0x' || substr(md5(frag), 1, 15))::BIGINT % 1024 AS hash_bucket
FROM s ORDER BY doc_id
""",
)
def scalar_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse hash-function family (``MD5``/``SHA256``/
    ``halfMD5``-style truncations) — the engine-portable digest subset
    (xxHash/cityHash are engine-specific and deliberately absent; every
    internal hash in this repo routes through md5 for the same reason).
    The 60-bit truncation and modulo bucket are the building blocks the
    dedup/sampling/shuffle operators use. Map-only."""
    d = load_table(spark, sf_dir, "documents")
    frag = F.substring("text", 1, 32)
    md5 = F.md5(frag)
    h60 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    return d.select(
        "doc_id",
        md5.alias("md5_hex"),
        F.sha2(frag, 256).alias("sha256_hex"),
        h60.alias("md5_60bit"),
        (h60 % 1024).alias("hash_bucket"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Partial-state merge — the -State / -Merge combinator contract.
# ---------------------------------------------------------------------------


@query(
    "agg_partial_state_merge",
    """
WITH halves AS (
  SELECT user_id % 2 AS shard,
         event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value, 2) AS DECIMAL(12,2))) AS DECIMAL(20,2))
           AS s,
         MIN(ts) AS mn,
         MAX(ts) AS mx
  FROM events GROUP BY user_id % 2, event_type
),
merged AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS DOUBLE) AS s,
         MIN(mn) AS first_ts, MAX(mx) AS last_ts
  FROM halves GROUP BY event_type
),
direct AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value, 2) AS DECIMAL(12,2))) AS DOUBLE) AS s,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events GROUP BY event_type
)
SELECT m.event_type, m.n, round(m.s, 2) AS total,
       m.first_ts, m.last_ts,
       (m.n = d.n AND m.s = d.s AND m.first_ts = d.first_ts
        AND m.last_ts = d.last_ts) AS merge_equals_direct
FROM merged m JOIN direct d ON d.event_type = m.event_type
ORDER BY m.event_type
""",
)
def agg_partial_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``-State`` / ``-Merge`` combinator contract, proved in
    the result: aggregate each shard to PARTIAL STATES (count, exact
    decimal sum, min/max), merge the states, and assert bit-equality with
    the direct aggregation — the algebra that makes AggregatingMergeTree,
    map-side combine, and incremental MV refresh all correct. The states
    here are exact (decimal sum, not float), which is WHY merge order
    cannot matter; the boolean column carries the proof into the
    hash-compared output."""
    e = load_table(spark, sf_dir, "events")
    vdec = F.round("value", 2).cast("decimal(12,2)")
    halves = e.groupBy(
        (F.col("user_id") % 2).alias("shard"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("decimal(20,2)").alias("s"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )
    merged = halves.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("double").alias("s"),
        F.min("mn").alias("first_ts"),
        F.max("mx").alias("last_ts"),
    )
    direct = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum(vdec).cast("double").alias("ds"),
        F.min("ts").alias("dfirst"),
        F.max("ts").alias("dlast"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "n",
            F.round("s", 2).alias("total"),
            "first_ts",
            "last_ts",
            (
                (F.col("n") == F.col("dn"))
                & (F.col("s") == F.col("ds"))
                & (F.col("first_ts") == F.col("dfirst"))
                & (F.col("last_ts") == F.col("dlast"))
            ).alias("merge_equals_direct"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_hll_state_merge",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS direct_within_bounds,
       TRUE AS merged4_within_bounds,
       TRUE AS merged3_within_bounds
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_hll_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPROXIMATE half of the -State/-Merge combinator contract
    (ClickHouse uniqCombinedState/-Merge; Spark's Apache DataSketches
    HLL): per-shard HLL sketches unioned into a final estimate — the
    states an AggregatingMergeTree part or a map-side combine would
    store. Pinned contract: the direct single-sketch estimate AND the
    merged estimates of TWO different shardings (4-way and 3-way) all
    sit within 5% of the exact distinct count (lgK=12 ~ 1.6% standard
    error) — i.e. sketch states can be sharded ANY way and merged
    without losing the accuracy guarantee, which is the property
    incremental MV refresh actually needs.

    Two measured non-properties, documented because asserting either
    FAILED at sf0.1 and both are easy to assume: (a) merged != direct —
    DataSketches serves the HIP estimator for a stream-built sketch but
    the composite estimator after an out-of-order union (public
    DataSketches docs); (b) merged estimates are NOT sharding-invariant
    either — low-cardinality shard sketches stay in sparse/coupon mode
    and the union's promotion path makes the final registers depend on
    how items were sharded (4-way vs 3-way disagreed by ~1% on the same
    rows). Only the ERROR BOUND survives sharding — so that is the
    contract this row pins. Sketch values stay OUT of the hashed output
    (DuckDB cannot reproduce DataSketches bits); the oracle pins exact
    counts and the three bounds booleans."""
    e = load_table(spark, sf_dir, "events")

    def merged_est(n_shards: int):
        return (
            e.groupBy(
                (F.col("user_id") % n_shards).alias("shard"), "event_type"
            )
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .groupBy("event_type")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                    f"m_est{n_shards}"
                )
            )
        )

    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d_est"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )

    def ok(col: str):
        return (
            F.abs(F.col(col) - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact")
        )

    return (
        merged_est(4)
        .join(merged_est(3), "event_type")
        .join(direct, "event_type")
        .select(
            "event_type",
            "n_exact",
            ok("d_est").alias("direct_within_bounds"),
            ok("m_est4").alias("merged4_within_bounds"),
            ok("m_est3").alias("merged3_within_bounds"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules — the canonical pretraining document filter matrix.
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@query(
    "text_gopher_rules",
    f"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
m AS (
  SELECT doc_id, text, words,
         len(words) AS n_words,
         CASE WHEN len(words) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(words, x -> length(x)))
                        AS DOUBLE) / len(words) END AS mean_wlen,
         CASE WHEN len(words) = 0 THEN 0.0
              ELSE CAST(len(list_filter(words,
                        x -> regexp_matches(x, '^[A-Za-z]+$')))
                        AS DOUBLE) / len(words) END AS alpha_frac,
         CAST(length(text) - length(replace(replace(text, '#', ''),
                                            '…', '')) AS DOUBLE)
           / greatest(length(text), 1) AS symbol_ratio,
         len(list_filter(words, x -> list_contains(
             {_GOPHER_STOPWORDS!r}, lower(x)))) AS n_stop
  FROM w
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_wlen, 4) AS mean_word_len,
       round(alpha_frac, 4) AS alpha_frac,
       round(symbol_ratio, 6) AS symbol_ratio,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       n_words BETWEEN 50 AND 100000 AS rule_word_count,
       mean_wlen BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
       alpha_frac >= 0.8 AS rule_alpha_frac,
       symbol_ratio < 0.1 AS rule_symbol_ratio,
       n_stop >= 2 AS rule_stopwords,
       (n_words BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3.0 AND 10.0)
         AND alpha_frac >= 0.8 AND symbol_ratio < 0.1 AND n_stop >= 2
         AS passes_gopher
FROM m ORDER BY doc_id
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher pretraining quality-rule matrix (Rae et al. 2021,
    arXiv 2112.11446 §A1.1), per document as flags rather than a filter so
    downstream mixing can weight instead of drop: word-count bounds
    [50, 100k], mean word length [3, 10], alphabetic-word fraction >= 0.8,
    symbol-to-char ratio < 0.1 (#, ellipsis), and the >= 2-stopword
    requirement; ``passes_gopher`` is their conjunction.

    Map-only — every rule is a codegen string/array expression over the
    tokenized words array (tokenized ONCE); at 100 TB this is the same
    single-pass shape as text_quality_score. Thresholds are the paper's;
    the fixture's short synthetic docs mostly fail rule_word_count, which
    is itself a useful calibration check."""
    return gopher_flags(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def gopher_flags(d: DataFrame) -> DataFrame:
    """Gopher rule matrix over an arbitrary (doc_id, text, ...) frame —
    shared by :func:`text_gopher_rules` and the ingest-time quality
    materializer (plans/materialize.py), so the persisted ``passes_gopher``
    bit is definitionally the query's."""
    words, measures, flags = _gopher_cols()
    return (
        d.select("doc_id", "text", words)
        .select("doc_id", "text", *measures)
        .select("doc_id", *flags)
    )


@once_per_jvm
def _gopher_cols() -> tuple[Column, tuple[Column, ...], tuple[Column, ...]]:
    """(the words array, the per-document measures over it, the rule
    flags over those) of :func:`gopher_flags`."""
    words = F.filter(F.split("text", " "), lambda x: x != "").alias("words")
    measures = (
        F.size("words").alias("n_words"),
        F.when(F.size("words") == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(
                F.transform("words", lambda x: F.length(x)),
                F.lit(0),
                lambda a, x: a + x,
            ).cast("double")
            / F.size("words")
        )
        .alias("mean_wlen"),
        F.when(F.size("words") == 0, F.lit(0.0))
        .otherwise(
            F.size(
                F.filter("words", lambda x: x.rlike("^[A-Za-z]+$"))
            ).cast("double")
            / F.size("words")
        )
        .alias("alpha_frac"),
        (
            (
                F.length("text")
                - F.length(
                    F.replace(
                        F.replace(F.col("text"), F.lit("#"), F.lit("")),
                        F.lit("…"),
                        F.lit(""),
                    )
                )
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("symbol_ratio"),
        F.size(
            F.filter(
                "words",
                lambda x: F.array_contains(
                    F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]), F.lower(x)
                ),
            )
        ).alias("n_stop"),
    )
    wc = F.col("n_words").between(50, 100000)
    mwl = F.col("mean_wlen").between(3.0, 10.0)
    af = F.col("alpha_frac") >= 0.8
    sr = F.col("symbol_ratio") < 0.1
    sw = F.col("n_stop") >= 2
    flags = (
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_wlen", 4).alias("mean_word_len"),
        F.round("alpha_frac", 4).alias("alpha_frac"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.col("n_stop").cast("long").alias("n_stopwords"),
        wc.alias("rule_word_count"),
        mwl.alias("rule_mean_word_len"),
        af.alias("rule_alpha_frac"),
        sr.alias("rule_symbol_ratio"),
        sw.alias("rule_stopwords"),
        (wc & mwl & af & sr & sw).alias("passes_gopher"),
    )
    return words, measures, flags


# ---------------------------------------------------------------------------
# Weekly retention matrix — the full cohort-by-offset product-analytics grid.
# ---------------------------------------------------------------------------


@query(
    "behavioral_retention_matrix",
    """
WITH w AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
),
firsts AS (SELECT user_id, MIN(wk) AS w0 FROM w GROUP BY user_id),
joined AS (
  SELECT f.w0 AS cohort_week,
         CAST((w.wk - f.w0) / 7 AS INT) AS week_offset,
         w.user_id
  FROM w JOIN firsts f ON f.user_id = w.user_id
),
cohort_size AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS n0
  FROM joined WHERE week_offset = 0 GROUP BY cohort_week
)
SELECT j.cohort_week, j.week_offset,
       CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active,
       CAST(s.n0 AS BIGINT) AS cohort_size,
       round(CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / s.n0, 6)
         AS retention
FROM joined j JOIN cohort_size s ON s.cohort_week = j.cohort_week
GROUP BY j.cohort_week, j.week_offset, s.n0
ORDER BY 1, 2
""",
)
def behavioral_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full weekly retention grid (cohort week x week offset) every
    product-analytics stack draws as a triangle heatmap — the general
    form of the ClickHouse ``retention()`` flag aggregate (which
    retention_cohorts / agg_retention_flags cover for fixed offsets).

    Shape: distinct (user, week) first — the 100-TB stream collapses to
    at most |users| x |weeks| rows before anything else; one user-keyed
    join against first-week, then a cohort-keyed count. Each retention
    cell is a single division of exact integers."""
    e = load_table(spark, sf_dir, "events")
    w = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    firsts = w.groupBy("user_id").agg(F.min("wk").alias("w0"))
    # r12: the cohort-size filter and the retention-cell count both
    # consume the cohort-joined frame; snapshot it so the distinct +
    # first-week join runs once, not twice
    joined = w.join(firsts, "user_id").select(
        F.col("w0").alias("cohort_week"),
        (F.datediff("wk", "w0") / 7).cast("int").alias("week_offset"),
        "user_id",
    ).localCheckpoint(eager=False)
    size = (
        joined.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.countDistinct("user_id").alias("n0"))
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(bounded(size, "calendar-week cohort domain")), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n0").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active").cast("double") / F.col("n0"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# The composed deliverable: quality gate ∩ dedup survivors -> sharded
# training-order manifest.
# ---------------------------------------------------------------------------


def _manifest_oracle() -> str:
    from go_nats_to_clickhouse_spark.queries.text import (
        _LSH_VERIFIED_PAIRS_CTE,
        _mh_mins_sql,
    )

    gopher = """
gw AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words,
         text
  FROM documents
),
gpass AS (
  SELECT doc_id FROM gw
  WHERE len(words) BETWEEN 50 AND 100000
    AND CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
        / len(words) BETWEEN 3.0 AND 10.0
    AND CAST(len(list_filter(words, x -> regexp_matches(x, '^[A-Za-z]+$')))
        AS DOUBLE) / len(words) >= 0.8
    AND CAST(length(text) - length(replace(replace(text, '#', ''), '…', ''))
        AS DOUBLE) / greatest(length(text), 1) < 0.1
    AND len(list_filter(words, x -> list_contains(
        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
        lower(x)))) >= 2
)
"""
    return f"""
WITH RECURSIVE {_LSH_VERIFIED_PAIRS_CTE.format(mins=_mh_mins_sql(16))},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
),
components AS (
  SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
),
survivors AS (
  SELECT d.doc_id FROM documents d
  LEFT JOIN components c ON c.doc_id = d.doc_id
  WHERE c.doc_id IS NULL OR c.component = d.doc_id
),
{gopher.strip().lstrip()},
kept AS (
  SELECT s.doc_id FROM survivors s JOIN gpass g ON g.doc_id = s.doc_id
),
sh2 AS (
  SELECT doc_id, md5('manifest-1:' || CAST(doc_id AS VARCHAR)) AS h,
         ('0x' || substr(md5('manifest-1:' || CAST(doc_id AS VARCHAR)),
                         1, 7))::BIGINT % 8 AS shard
  FROM kept
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM sh2 ORDER BY shard, pos
"""


@query("pipeline_training_manifest", _manifest_oracle())
def pipeline_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline END PRODUCT in one query: documents that pass the
    Gopher quality rules AND survive banded-LSH near-dup resolution,
    placed at deterministic salted-md5 positions in 8 training shards —
    the manifest a loader consumes for epoch 0.

    Composition of the already-verified stages (text_gopher_rules gate,
    dedup_survivors' LSH-verified components, text_global_shuffle's
    sharding), so each stage's scale shape carries over: quality is
    map-only, dedup never runs an all-pairs join, and the shard sort key
    is uniform so range partitioning cannot skew. Filter-then-shuffle
    order matches production (shuffle positions exist only for kept
    docs)."""
    from go_nats_to_clickhouse_spark.queries.text import dedup_survivors

    rules = text_gopher_rules(spark, sf_dir).filter(F.col("passes_gopher"))
    surv = dedup_survivors(spark, sf_dir).select("doc_id")
    kept = surv.join(rules.select("doc_id"), "doc_id")
    h = F.md5(F.concat(F.lit("manifest-1:"), F.col("doc_id").cast("string")))
    sh = kept.select(
        "doc_id",
        h.alias("h"),
        (F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % 8).alias("shard"),
    )
    return sh.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.row_number()
        .over(Window.partitionBy("shard").orderBy("h", "doc_id"))
        .cast("long")
        .alias("pos"),
    ).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# dictGetHierarchy — hierarchy expansion through broadcast dictionaries.
# ---------------------------------------------------------------------------


@query(
    "join_dict_hierarchy",
    """
SELECT s.s_suppkey, s.s_name,
       n.n_name || '>' || r.r_name AS hierarchy,
       CAST(n.n_nationkey AS BIGINT) AS nation_key,
       CAST(r.r_regionkey AS BIGINT) AS region_key,
       r.r_name = 'ASIA' AS is_in_asia
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
ORDER BY s.s_suppkey
""",
)
def join_dict_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``dictGetHierarchy`` / ``dictIsIn`` analog: expand each
    supplier's full dimension chain (nation > region) through the
    hierarchical dictionary, plus the dictIsIn-style ancestor membership
    test. Both dictionary levels broadcast (they are dimension-sized by
    definition); the fact side never shuffles — at 100 TB this is two
    map-side hash lookups per row, exactly what ClickHouse's in-memory
    dictionary does."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.concat_ws(">", "n_name", "r_name").alias("hierarchy"),
            F.col("n_nationkey").cast("long").alias("nation_key"),
            F.col("r_regionkey").cast("long").alias("region_key"),
            (F.col("r_name") == "ASIA").alias("is_in_asia"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# formatReadableTimeDelta — human-readable durations from integer math.
# ---------------------------------------------------------------------------


def timedelta_units(col: str = "secs") -> tuple[F.Column, ...]:
    """(dd, hh, mm, ss) unit decomposition of an int64 seconds column via
    Spark's integral ``div`` — truncation toward zero on longs, exactly
    DuckDB's BIGINT ``//``, with NO double anywhere: the previous
    ``(secs/86400).cast("long")`` routed through IEEE double, whose 2^53
    mantissa lets the rounded quotient cross an integer boundary for
    |secs| ≳ 1e17 (VERDICT r5 Wrong #2 — e.g. secs = k*86400 - 1 at 1e17
    rounds UP to an exact multiple). Shared by scalar_readable_timedelta
    and the full-int64-range property pin in
    tests/test_property_semantics.py."""
    c = f"CAST({col} AS BIGINT)"
    return (
        F.expr(f"{c} div 86400"),
        F.expr(f"({c} % 86400) div 3600"),
        F.expr(f"({c} % 3600) div 60"),
        F.expr(f"{c} % 60"),
    )


@query(
    "scalar_readable_timedelta",
    """
WITH d AS (
  SELECT event_id,
         CAST(round(value * 1000) AS BIGINT) AS secs
  FROM events WHERE user_id < 20
),
p AS (
  SELECT event_id, secs,
         secs // 86400 AS dd,
         (secs % 86400) // 3600 AS hh,
         (secs % 3600) // 60 AS mm,
         secs % 60 AS ss
  FROM d
)
SELECT event_id, CAST(secs AS BIGINT) AS total_seconds,
       CASE WHEN dd > 0 THEN CAST(dd AS VARCHAR) || 'd ' ELSE '' END
       || CASE WHEN dd > 0 OR hh > 0 THEN CAST(hh AS VARCHAR) || 'h '
               ELSE '' END
       || CAST(mm AS VARCHAR) || 'm '
       || CAST(ss AS VARCHAR) || 's' AS readable
FROM p ORDER BY event_id
""",
)
def scalar_readable_timedelta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``formatReadableTimeDelta(sec)`` analog: durations
    rendered as 'Nd Nh Nm Ns' with leading zero units elided. Pure int64
    floor-division decomposition plus string concat — no float anywhere,
    so the two engines cannot disagree on a single character. Map-only.

    Signed-duration semantics (empirically verified, pinned by
    tests/test_property_semantics.py::test_timedelta_trunc_*): DuckDB's
    integer ``//`` TRUNCATES toward zero for BIGINT operands (e.g.
    ``-61 // 60 = -1``, not floor's ``-2``) — exactly like Spark's
    ``cast("long")`` after double division — and both engines' ``%``
    takes the dividend's sign, the self-consistent pair with truncation
    (dd*86400 + rem == secs). So truncation is the PORTABLE form here;
    switching either side to floor() would diverge on every negative
    duration. (VERDICT r4 "Wrong #1" assumed ``//`` floors; the property
    test below falsifies that and pins the real contract.)

    The decomposition itself is :func:`timedelta_units` — integral ``div``
    on longs, no double in the path, so the contract holds over the FULL
    int64 domain, not just below the 2^53 double-exactness ceiling."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    secs = F.round(F.col("value") * 1000, 0).cast("long")
    d = e.select("event_id", secs.alias("secs"))
    dd, hh, mm, ss = timedelta_units("secs")
    readable = F.concat(
        F.when(dd > 0, F.concat(dd.cast("string"), F.lit("d "))).otherwise(""),
        F.when((dd > 0) | (hh > 0), F.concat(hh.cast("string"), F.lit("h ")))
        .otherwise(""),
        mm.cast("string"),
        F.lit("m "),
        ss.cast("string"),
        F.lit("s"),
    )
    return d.select(
        "event_id",
        F.col("secs").cast("long").alias("total_seconds"),
        readable.alias("readable"),
    ).orderBy("event_id")
