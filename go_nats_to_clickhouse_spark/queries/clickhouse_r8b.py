"""Round-8 additions, second batch.

* ``sort_limit_by`` — ClickHouse's ``LIMIT n BY expr`` clause (top-n
  rows per group BEFORE the outer LIMIT), the one result-shaping clause
  the registry still lacked.
* ``join_dict_ip_trie`` — the ``ip_trie`` dictionary layout: CIDR ->
  value with LONGEST-prefix-match lookup, spelled as a bounded prefix
  explode + broadcast equi-join (the LSH-banding shape, never a
  non-equi join).
* ``table_detach_attach_partition`` — ``ALTER TABLE ... DETACH /
  ATTACH / MOVE PARTITION TO TABLE`` (plans/layout.py), the partition
  lifecycle the reference's MergeTree tables (init.sql:17-19) get for
  free from the server.
* ``vector_ann_filtered_topk`` + ``vector_ann_filtered_read_topk`` —
  filtered vector search (predicate + ANN together), the exact brute
  twin with a full value oracle and the IVF-index-served path with the
  family's recall contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.operators.hints import bounded
from pyspark.sql.window import Window

from go_nats_to_clickhouse_spark.queries.registry import query
from go_nats_to_clickhouse_spark.queries.util import load_table
from go_nats_to_clickhouse_spark.queries.vector import _cos_sql, as_double

# ---------------------------------------------------------------------------
# LIMIT n BY expr — ClickHouse's per-group head clause
# ---------------------------------------------------------------------------


@query(
    "sort_limit_by",
    """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                                     o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, price_cents
FROM r WHERE rn <= 2
ORDER BY price_cents DESC, o_orderkey
LIMIT 100
""",
)
def sort_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``LIMIT n BY expr``: the first n rows per distinct
    value of the BY expression (in ORDER BY order), applied BEFORE the
    outer LIMIT — here each customer's two most expensive orders, then
    the global 100 priciest of those survivors. Spark spelling is a
    row_number window + rank filter; because the filter is a
    rank-over-window <= constant, Catalyst rewrites it to
    WindowGroupLimit (SPARK-37099): each map task keeps only its
    partial top-2 per customer BEFORE the shuffle, so the exchange
    carries O(2 x customers) rows, not O(orders) — the same partial
    top-n economics ClickHouse's LIMIT BY streaming transform has.
    Integer cents everywhere: ordering, ties (broken by o_orderkey) and
    the final hash are float-free."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("price_cents"), F.asc("o_orderkey")
    )
    per_cust = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )
    return per_cust.orderBy(F.desc("price_cents"), "o_orderkey").limit(100)


# ---------------------------------------------------------------------------
# ip_trie dictionary — CIDR longest-prefix-match lookup
# ---------------------------------------------------------------------------

#: (network, base address as uint32, prefix length) — the dictionary
#: source rows; '/0 internet' is the catch-all every address matches,
#: so the lookup is total and needs no outer join. corp-eu nests inside
#: corp which nests inside internet: the rows that make LONGEST-match
#: observable.
_IP_DIM = [
    ("internet", 0, 0),
    ("corp", 167772160, 8),  # 10.0.0.0/8
    ("cgnat", 1681915904, 10),  # 100.64.0.0/10
    ("corp-eu", 167837696, 16),  # 10.1.0.0/16
    ("private", 3232235520, 16),  # 192.168.0.0/16
]

_IP_DIM_SQL = """dim(network, base, plen) AS (VALUES
  ('internet', CAST(0 AS BIGINT), 0),
  ('corp', CAST(167772160 AS BIGINT), 8),
  ('cgnat', CAST(1681915904 AS BIGINT), 10),
  ('corp-eu', CAST(167837696 AS BIGINT), 16),
  ('private', CAST(3232235520 AS BIGINT), 16))"""


@query(
    "join_dict_ip_trie",
    f"""
WITH ips AS (
  SELECT event_id,
         (user_id * 2654435761) % 4294967296 AS ip,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
{_IP_DIM_SQL},
m AS (
  SELECT i.event_id, i.cents, d.network,
         ROW_NUMBER() OVER (PARTITION BY i.event_id
                            ORDER BY d.plen DESC) AS rn
  FROM ips i JOIN dim d
    ON (i.ip >> (32 - d.plen)) = (d.base >> (32 - d.plen))
)
SELECT network,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM m WHERE rn = 1
GROUP BY network ORDER BY network
""",
)
def join_dict_ip_trie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ip_trie`` dictionary lookup (ClickHouse's CIDR dictionary
    layout, ``dictGetString(..., tuple(IPv4...))`` — the classifier the
    reference's analytics tables would use for client-IP enrichment):
    each event's IPv4 (derived deterministically from user_id by a
    Knuth multiplicative hash, identical integer math in both engines)
    resolves to the LONGEST matching CIDR in the dictionary.

    Scale shape: longest-prefix match is NOT spelled as a non-equi
    range join (a shuffled theta-join at 100 TB). The dictionary's
    distinct prefix LENGTHS are its geometry (here 4, /0 /8 /10 /16);
    each event explodes to one (length, ip>>(32-length)) candidate per
    length — a bounded fan-out exactly like LSH banding — which
    broadcast-equi-joins the prefix-keyed dictionary, and one hash
    aggregate (max_by on prefix length) picks the most specific match
    per event. Map-side only: no shuffle touches the events table
    beyond the final GROUP BY on the (tiny) network key."""
    lens = sorted({plen for _, _, plen in _IP_DIM})
    dim = spark.createDataFrame(
        [(n, plen, (base >> (32 - plen)) if plen else 0)
         for n, base, plen in _IP_DIM],
        "network string, plen int, prefix long",
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)).alias("ip"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cand = ev.select(
        "event_id",
        "cents",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(plen).alias("plen"),
                    F.shiftright("ip", 32 - plen).alias("prefix"),
                )
                for plen in lens
            ])
        ).alias("c"),
    ).select("event_id", "cents", "c.plen", "c.prefix")
    best = (
        cand.join(F.broadcast(bounded(dim, "ip-prefix dictionary literal")), ["plen", "prefix"])
        .groupBy("event_id", "cents")
        .agg(F.max_by("network", "plen").alias("network"))
    )
    return (
        best.groupBy("network")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("network")
    )


# ---------------------------------------------------------------------------
# ALTER TABLE ... DETACH / ATTACH / MOVE PARTITION TO TABLE
# ---------------------------------------------------------------------------


@query(
    "table_detach_attach_partition",
    """
WITH d AS (
  SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT CASE WHEN day = 20240110 THEN 'dest' ELSE 'base' END AS tbl,
       day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM d WHERE day <> 20240103
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def table_detach_attach_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition lifecycle (``ALTER TABLE ... DETACH PARTITION /
    ATTACH PARTITION / MOVE PARTITION TO TABLE`` — the MergeTree ops
    the reference's ``PARTITION BY toYYYYMM`` tables, init.sql:17-19,
    inherit from the server): the tmaint family detached days 2 and 3,
    re-attached day 2 (round trip), and MOVED day 10 into the cold
    archive table ``events_attach_dest``. Every step was ONE directory
    rename into/out of the ``_detached/`` namespace — zero parquet
    bytes read, copied, or rewritten (mtime-pinned in tests), O(1) in
    partition size, which is why detaching a month at 100 TB costs the
    same syscall as at 100 MB. This row reads both tables plain: day 3
    must be invisible (still detached), day 2 fully back, day 10
    visible only in the archive — the oracle recomputes that exact
    visible state from the raw events."""
    from go_nats_to_clickhouse_spark.plans.materialize import tmaint_tables

    t = tmaint_tables(spark, sf_dir)
    base = spark.read.parquet(t["events_detached"]).select(
        F.lit("base").alias("tbl"),
        F.col("ym").cast("long").alias("day"),
        "value_cents",
    )
    dest = spark.read.parquet(t["events_attach_dest"]).select(
        F.lit("dest").alias("tbl"),
        F.col("ym").cast("long").alias("day"),
        "value_cents",
    )
    return (
        base.unionByName(dest)
        .groupBy("tbl", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("value_cents").cast("long").alias("total_cents"),
        )
        .orderBy("tbl", "day")
    )


# ---------------------------------------------------------------------------
# Filtered vector search — predicate + ANN in one query
# ---------------------------------------------------------------------------

_FILTERED_ANN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE label % 2 = 0
),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos
  FROM q, c
  WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cos, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 5
"""


@query("vector_ann_filtered_topk", _FILTERED_ANN_ORACLE)
def vector_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, exact baseline: top-5 cosine neighbors
    among ONLY the corpus rows satisfying a metadata predicate
    (``label % 2 = 0``) — the retrieval shape every RAG/dedup pipeline
    hits the moment queries say "nearest neighbor WHERE source = X".
    PRE-filtering semantics: the predicate prunes the corpus before any
    score, so every query gets k matching results (post-filtering a
    plain top-k under-fills exactly when the filter is selective). Same
    broadcast-queries / map-side-score / tiny-pairs-shuffle shape as
    vector_ann_cosine_topk; the predicate reaches the parquet scan as a
    pushed filter. The IVF-index twin is
    vector_ann_filtered_read_topk."""
    from go_nats_to_clickhouse_spark.operators.similarity import (
        brute_force_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    c = e.filter(F.pmod(F.col("label"), F.lit(2)) == 0).select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("cv"),
    )
    return brute_force_topk(q, c, k=5).select(
        "query_id",
        "neighbor_id",
        "rank",
        (F.round("cos", 4) + F.lit(0.0)).alias("cosine"),
    )


@query(
    "vector_ann_filtered_read_topk",
    """
SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 8
""",
)
def vector_ann_filtered_read_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered ANN served from the MATERIALIZED IVF index: the
    ``label % 2 = 0`` allow-set is semi-joined into the probed cells
    BEFORE any cosine is computed (pre-filtering inside the index read
    — operators/similarity.ivf_read_topk's ``keep``), so the shortlist
    always holds k predicate-satisfying rows. The probe list still
    drives dynamic partition pruning (only nprobe/n_lists of corpus
    files read); the allow-set join touches only that probed slice. At
    100 TB the hot filter attributes live IN the index rows and this
    semi join degenerates to a scan-level predicate — documented on the
    operator. Same driver-verifiable recall contract as
    vector_ann_ivf_read_topk (recall@5 >= 0.4 per query vs the exact
    FILTERED brute force)."""
    from go_nats_to_clickhouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_read_topk,
    )
    from go_nats_to_clickhouse_spark.plans.materialize import (
        ann_tables,
        read_centroids,
    )

    t = ann_tables(spark, sf_dir)
    centers = read_centroids(spark, t)
    assigned = spark.read.parquet(t["ann_corpus"])
    e = load_table(spark, sf_dir, "embeddings")
    keep = e.filter(F.pmod(F.col("label"), F.lit(2)) == 0).select(
        F.col("vec_id").alias("neighbor_id")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    ivf = ivf_read_topk(q, assigned, centers, nprobe=12, k=5, keep=keep).select(
        "query_id", "neighbor_id"
    )
    c = e.filter(F.pmod(F.col("label"), F.lit(2)) == 0).select(
        F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
    )
    brute = brute_force_topk(q, c, k=5).select("query_id", "neighbor_id")
    hits = (
        ivf.join(brute, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / 5 >= 0.4).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# LIMIT n WITH TIES — the rank-closed cousin of LIMIT BY
# ---------------------------------------------------------------------------


@query(
    "sort_limit_with_ties",
    """
WITH r AS (
  SELECT o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         RANK() OVER (ORDER BY o_orderdate DESC) AS rk
  FROM orders
)
SELECT o_orderkey, o_orderdate, price_cents
FROM r WHERE rk <= 10
ORDER BY o_orderdate DESC, o_orderkey
""",
)
def sort_limit_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT 10 WITH TIES`` (ClickHouse / SQL-standard FETCH FIRST 10
    ROWS WITH TIES): the first 10 rows by order date, closed under ties
    of the last row — equivalent to ``RANK() <= 10``, which is how the
    oracle spells it. The Spark plan avoids both the naive global-rank
    single-reducer window AND a blind global sort: the per-DATE
    histogram (distinct-dates-sized, bounded by the calendar at any
    data scale) computes each date's exclusive cumulative row count in
    one tiny window, keeps the dates whose first row sits inside the
    limit, and broadcast-joins that date allow-list back into the
    scan — the full orders table is never sorted, only filtered and
    top-sorted by TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    hist = o.groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("cnt"))
    # window over the DATE HISTOGRAM: rows bounded by distinct dates
    # (the TPC-H calendar), not by order count — benign by geometry
    w = Window.orderBy(F.desc("o_orderdate")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    keep = (
        hist.withColumn("cum_before", F.sum("cnt").over(w) - F.col("cnt"))
        .filter(F.col("cum_before") < 10)
        .select("o_orderdate")
    )
    return (
        o.join(F.broadcast(bounded(keep, "top-k WITH TIES threshold dates <= k")), "o_orderdate")
        .select("o_orderkey", "o_orderdate", "price_cents")
        .orderBy(F.desc("o_orderdate"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# FREEZE / restore and EXCHANGE TABLES — driver rows over the tmaint family
# ---------------------------------------------------------------------------


@query(
    "table_freeze_restore",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def table_freeze_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE ... FREEZE`` + restore as a driver row: the tmaint
    family snapshotted ``events_frozen_restored`` via hardlinks (zero
    bytes copied — plans/layout.freeze_table, the exact shadow/
    mechanism ClickHouse uses, safe because every mutation here swaps
    in NEW files), then applied a corrupting ALTER UPDATE (+999 cents
    across the first ten days), then restored the snapshot. This row
    reads the restored table plain against the RAW-events oracle:
    green proves the backup round trip erased the mutation exactly —
    the recovery contract a FREEZE exists to provide."""
    from go_nats_to_clickhouse_spark.plans.materialize import tmaint_tables

    t = tmaint_tables(spark, sf_dir)
    m = spark.read.parquet(t["events_frozen_restored"])
    return (
        m.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value_cents").cast("long").alias("total_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "table_exchange_tables",
    """
WITH d AS (
  SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS day, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
a AS (
  SELECT day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM d GROUP BY day, event_type
)
SELECT 'live' AS tbl, day, event_type, n_rows, total_cents FROM a
UNION ALL
SELECT 'staged' AS tbl, day, event_type, n_rows, total_cents FROM a
WHERE day <= 20240121
ORDER BY tbl, day, event_type
""",
)
def table_exchange_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXCHANGE TABLES a AND b`` — the atomic two-table swap behind
    the rebuild-aside publish pattern (recompute a derived table under
    a staging name, swap it onto the live name; readers flip between
    two COMPLETE states and never observe a partial rebuild — the same
    discipline every materialization family here uses for its cache
    publish). The tmaint build wrote the live per-(day, type) aggregate
    from a stale prefix of the data (days <= 21), staged the complete
    rebuild, and ran plans/layout.exchange_tables: this row reads BOTH
    names and the oracle pins live == the full aggregate and staged ==
    the stale one, i.e. the swap moved both directions atomically."""
    from go_nats_to_clickhouse_spark.plans.materialize import tmaint_tables

    t = tmaint_tables(spark, sf_dir)
    live = spark.read.parquet(t["events_exchange_live"]).select(
        F.lit("live").alias("tbl"), "day", "event_type", "n_rows", "total_cents"
    )
    staged = spark.read.parquet(t["events_exchange_staged"]).select(
        F.lit("staged").alias("tbl"), "day", "event_type", "n_rows",
        "total_cents",
    )
    return live.unionByName(staged).orderBy("tbl", "day", "event_type")


# ---------------------------------------------------------------------------
# Selection curve — decile-bucketed corpus curation diagnostic
# ---------------------------------------------------------------------------


@query(
    "text_selection_curve",
    """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents
),
t AS (
  SELECT n_chars,
         NTILE(10) OVER (ORDER BY n_words DESC, doc_id) AS decile
  FROM d
),
g AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars_total
  FROM t GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n_docs, chars_total,
       CAST((SUM(chars_total) OVER (ORDER BY decile) * 1000000)
            // SUM(chars_total) OVER () AS BIGINT) AS cum_chars_ppm
FROM g ORDER BY decile
""",
)
def text_selection_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus selection curve: documents bucketed into NTILE(10) deciles
    by length (longest first, doc_id tie-break), with each decile's doc
    count, char volume, and cumulative char share in integer ppm — the
    keep-the-top-X% diagnostic read before setting a length/quality
    cutoff (what share of training characters survives each candidate
    threshold).

    Scale shape: NO global NTILE window (a single-reducer sort of the
    corpus at 100 TB). The exact same bucket assignment is computed
    distributively: (1) the n_words HISTOGRAM (bounded by distinct
    lengths) gets exclusive cumulative counts in one tiny window, (2)
    each doc's global rank = its length's cumulative-before + its
    doc_id rank WITHIN its length group (a partitioned window), (3) the
    SQL-standard NTILE arithmetic — first n%k buckets hold n/k+1 rows —
    maps ranks to buckets with pure integer math. Hash-equal to the
    oracle's native NTILE by construction."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
    )
    hist = d.groupBy("n_words").agg(F.count(F.lit(1)).alias("cnt"))
    # tiny window over the length histogram (distinct n_words values)
    w_h = Window.orderBy(F.desc("n_words")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # n_total rides the same tiny histogram window stage (sum of per-
    # length counts) — counting the corpus directly re-scanned and
    # re-tokenized it a third time for a value the bounded histogram
    # already holds, plus a crossJoin to attach it (r12)
    cum = hist.select(
        "n_words",
        (F.sum("cnt").over(w_h) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n_total"),
    )
    w_g = Window.partitionBy("n_words").orderBy("doc_id")
    ranked = (
        d.join(F.broadcast(bounded(cum, "document-length histogram domain")), "n_words")
        .withColumn("r", F.col("cum_before") + F.row_number().over(w_g))
    )
    k = F.lit(10)
    q = (F.col("n_total") / k).cast("long")  # base bucket size
    m = F.col("n_total") % k  # first m buckets hold q+1 rows
    big_span = (q + 1) * m
    decile = F.when(
        F.col("r") <= big_span,
        ((F.col("r") + q) / (q + 1)).cast("long"),  # ceil(r / (q+1))
    ).otherwise(
        m + ((F.col("r") - big_span + q - 1) / q).cast("long")
    )
    g = (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
    )
    # ten-row cumulative window + one scalar total: geometry-bounded
    w_d = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return g.select(
        "decile",
        "n_docs",
        "chars_total",
        F.floor(
            (F.sum("chars_total").over(w_d) * 1000000)
            / F.sum("chars_total").over(w_all)
        )
        .cast("long")
        .alias("cum_chars_ppm"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Compaction under streaming — background merges concurrent with inserts
# ---------------------------------------------------------------------------


def _cascade_compacted_oracle() -> str:
    from go_nats_to_clickhouse_spark.plans.materialize import NEW_SOURCES

    src = ", ".join(f"'{s}'" for s in NEW_SOURCES)
    return f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars_stored
FROM documents
WHERE source IN ({src})
GROUP BY source ORDER BY source
"""


@query("pipeline_cascade_compacted_live", _cascade_compacted_oracle())
def pipeline_cascade_compacted_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compaction UNDER streaming — the background-merge half of the
    mutations-concurrent-with-inserts matrix (the erase halves landed
    as pipeline_cascade_erased_live / pipeline_manifest_erased_live):
    MergeTree's defining behavior is that part merges run while inserts
    keep landing (the reference's tables get this from the server,
    init.sql:17); here plans/layout.compact_table rewrote all three
    cascade tables to one sorted file per partition BETWEEN
    micro-batches of the RUNNING start_pipeline service
    (plans/materialize.cascade_compacted_live_tables), and the phase-B
    envelopes appended fresh part files next to the merged ones through
    the same checkpointed query.

    This row reads the final analytics table against the PLAIN
    full-ingest oracle: green proves the merge is INVISIBLE to the
    data — every row and every byte of content identical to a
    never-compacted ingest — which is the entire merge contract.
    The mechanics (service_health maintenance row, per-partition file
    counts actually collapsed, phase-B presence) are pinned in tests."""
    import os as _os

    from go_nats_to_clickhouse_spark.plans.materialize import (
        NEW_SOURCES,
        cascade_compacted_live_tables,
    )
    from go_nats_to_clickhouse_spark.streaming.pipeline import ANALYTICS_TABLE

    t = cascade_compacted_live_tables(spark, sf_dir)
    ana = spark.read.parquet(_os.path.join(t["warehouse"], ANALYTICS_TABLE))
    return (
        ana.filter(F.col("project_code").isin(*NEW_SOURCES))
        .groupBy(F.col("project_code").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_msgs"),
            F.sum(F.length("message_text")).cast("long").alias(
                "n_chars_stored"
            ),
        )
        .orderBy("source")
    )


@query(
    "table_detached_parts",
    """
SELECT '20240103' AS part, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
WHERE CAST(strftime(ts, '%Y%m%d') AS BIGINT) = 20240103
""",
)
def table_detached_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``system.detached_parts`` as a driver row — the introspection
    twin of table_parts_report over the DETACHED namespace: the tmaint
    family left day 3 of ``events_detached`` detached
    (table_detach_attach_partition's lifecycle), and this report reads
    its row count from PARQUET FOOTERS ONLY
    (plans/layout.detached_parts_report — zero data pages, O(files)
    driver-side metadata). The oracle recomputes the same count from
    the raw events: green proves the detached namespace holds exactly
    the rows DETACH moved aside — what a blanket ATTACH would bring
    back, and what a GDPR sweep still owes given that mutations skip
    detached parts by contract (plans/layout.erase_where)."""
    from go_nats_to_clickhouse_spark.plans.materialize import tmaint_tables

    t = tmaint_tables(spark, sf_dir)
    from go_nats_to_clickhouse_spark.plans.layout import (
        detached_parts_report,
    )

    return detached_parts_report(spark, t["events_detached"], "ym").select(
        "part", "n_rows"
    )
