"""Ingest-time materialization of the training-data pipeline's derived
tables — the reference's MV architecture (init.sql:100-121: materialized
views precompute at INSERT time so queries read precomputed tables) applied
at pipeline scale.

Four tables are persisted per documents fixture, all of them artifacts a
production corpus store computes when a document is ingested, NOT at query
time:

* ``doc_sigs``      — (doc_id, sig array<long>[16], is_new): the minhash
  signature index. At 100 TB this is the table every dedup / similarity
  job reads instead of re-sharding corpus text; ~128 B/doc vs ~KBs of text.
* ``doc_bands``     — (doc_id, band, bucket, sig, is_new): the banded-LSH
  bucket index (4 bands x 4 rows over minhash-16 — the production banding
  the whole dedup family uses) with the signature DENORMALIZED onto every
  band row (~512 B/doc for 4 copies — the classic index-storage-for-join
  trade): a bucket collision row carries both sides' signatures, so
  candidate generation AND minhash verification happen in the one bucket
  equi-join, with no signature-table joins after it. This is the
  *persistable index* operators/dedup.incremental_lsh_pairs documents:
  per-batch candidate generation is a bucket equi-join on this table, the
  corpus never reshuffles.
* ``doc_quality``   — (doc_id, passes_gopher, is_new): the Gopher gate
  bit, computed by the same ``gopher_flags`` expression the
  ``text_gopher_rules`` query uses (shared function, not a copy).
* ``corpus_survivors`` — (doc_id): the day-1 corpus after near-dup
  resolution — banded-LSH candidates + exact-Jaccard verification +
  connected components, exactly the ``dedup_survivors`` pipeline
  restricted to the corpus split (sources other than src0/src1; src0/src1
  model the NEXT ingest batch, same split as dedup_incremental_new_batch).

Freshness: the cache key is (params version, documents.parquet size,
mtime). A fixture regeneration or a parameter change produces a new tag
directory; stale tags for the same fixture are swept. Publication is
atomic (build under a '.'-prefixed hidden dir, then one rename), so a
concurrent reader never sees a half-built table and a crashed build leaves
only hidden litter.

Scale notes: every build stage is an already-audited production shape
(word_shingles' input-split widening, single-shuffle minhash, flood-guard
candidate join, one-job-per-round CC). The build cost is ingest cost —
amortized over every downstream query, exactly like the reference's MVs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.operators.hints import bounded

#: bump to invalidate every cached materialization (any change to the
#: signature/banding/quality/survivor/pair definitions — or to the
#: composed ingest service the ing- family bakes its tables with — must
#: bump this)
MAT_VERSION = 10  # create-only writes: no _SUCCESS markers (session.py)

#: the ingest split: these sources model the day-2 batch (same convention
#: as queries/clickhouse_r3.dedup_incremental_new_batch)
NEW_SOURCES = ("src0", "src1")

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

TABLES = (
    "doc_sigs",
    "doc_bands",
    "doc_quality",
    "corpus_survivors",
    "corpus_pairs",
)


def _mat_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_MAT_DIR",
        os.path.join(_REPO_ROOT, "spark-warehouse", "mat_pipeline"),
    )


def _fingerprint(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    key = f"v{MAT_VERSION}:{st.st_size}:{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:12]


def _tag(sf_dir: str) -> str:
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    return f"{sf_name}-{_fingerprint(sf_dir)}"


def _published(tag_prefix: str, tag: str, tables: tuple[str, ...], build_fn):
    """Shared cache/publish protocol for every materialization family:
    build under a PER-BUILD unique hidden dir ('.'-prefixed AND '='-free,
    the visibility rules plans/layout.py documents), publish with one
    atomic rename, and only THEN retire the previous generation.

    Per-build tmp dirs (tempfile.mkdtemp) make os.rename the only commit
    point even under concurrency: two racing builders each write their own
    staging dir, the loser's rename fails against the winner's published
    base and its litter is removed — no builder can ever rmtree another's
    in-progress build or keep writing into a published dir (ADVICE r5).
    Sweeping stale tags after the rename means a FAILED build leaves the
    previous valid cache intact."""
    root = _mat_root()
    base = os.path.join(root, tag)
    paths = {t: os.path.join(base, t) for t in tables}
    if os.path.isdir(base):
        return paths
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=f".build-{tag}-")
    try:
        build_fn(tmp)
        try:
            os.rename(tmp, base)
        except OSError:
            if not os.path.isdir(base):
                raise  # real failure, not a lost publish race
    finally:
        # no-op when the rename committed; drops this build's litter on
        # any failure or lost race, never touching other builders' dirs
        shutil.rmtree(tmp, ignore_errors=True)
    # retire previous generations only after a successful publish; the
    # prefix match hits published tags only (hidden dirs are '.'-prefixed)
    for entry in os.listdir(root):
        if entry.startswith(tag_prefix) and entry != tag:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return paths


def pipeline_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Return {table_name: path} for the materialized pipeline tables of
    ``sf_dir``'s documents fixture, building them first if absent or stale
    (the build is a no-op on every later call — ingest-time cost, not
    query-time cost)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    return _published(
        f"{sf_name}-", _tag(sf_dir), TABLES, lambda tmp: _build(spark, sf_dir, tmp)
    )


def _build(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    from go_nats_to_clickhouse_spark.schemas import load_table

    _build_from(load_table(spark, sf_dir, "documents"), out_dir, NEW_SOURCES)


def _build_from(
    docs: DataFrame, out_dir: str, new_sources: tuple[str, ...]
) -> None:
    """Day-1 ingest over an arbitrary documents frame / batch split —
    shared by the default fixture build and the gen-3 (held-out day-3)
    build, so both corpora are produced by identical code."""
    from go_nats_to_clickhouse_spark.operators.dedup import (
        lsh_verified_jaccard_pairs,
    )
    from go_nats_to_clickhouse_spark.operators.graph import connected_components

    is_new = F.col("source").isin(*new_sources)
    membership = docs.select("doc_id", is_new.alias("is_new"))

    # shared per-document index rows (see index_rows) + per-doc membership
    rows = index_rows(docs)
    sort_keys = {"doc_sigs": ("doc_id",), "doc_bands": ("band", "bucket"),
                 "doc_quality": ("doc_id",)}
    for name, df in rows.items():
        # doc_bands sorted by bucket: parquet row-group stats then give
        # data-skipping on the bucket equi-join's build side at scale
        _write(
            df.join(membership, "doc_id").sortWithinPartitions(*sort_keys[name]),
            os.path.join(out_dir, name),
        )

    # corpus survivors: the dedup_survivors pipeline on the corpus split.
    # max_bucket=None keeps the pair set definitionally identical to the
    # all-pairs-per-bucket oracle (see queries/text.dedup_survivors).
    corpus = docs.filter(~is_new)
    pairs = lsh_verified_jaccard_pairs(
        corpus, threshold=0.5, bands=4, max_bucket=None
    ).select("doc_a", "doc_b")
    # persist the VERIFIED pair graph itself (corpus_pairs): it is the
    # ingest artifact the GDPR erase path consults — removing a doc can
    # split its near-dup component and must resurrect the suppressed
    # members a from-scratch build without that doc would have kept,
    # which is recomputable from the pair graph alone (O(pairs), no text
    # rescan; see erase_docs). Each edge carries its GENERATION and
    # whether it is a within-generation edge (both endpoints in the same
    # fold) or a cross edge (doc_a strictly older than doc_b's fold) —
    # promote_batch appends the est-verified edges of every folded batch
    # under the next generation number, so erase_docs can replay the
    # generational survivor rule on any promoted corpus. Day-1 corpus
    # edges are generation 1, within. Written first, read back for CC so
    # the expensive verification join runs once.
    _write(
        pairs.select(
            "doc_a", "doc_b", F.lit(1).alias("gen"), F.lit(True).alias("within")
        ).sortWithinPartitions("doc_a", "doc_b"),
        os.path.join(out_dir, "corpus_pairs"),
    )
    pairs = (
        docs.sparkSession.read.parquet(os.path.join(out_dir, "corpus_pairs"))
        .select("doc_a", "doc_b")
    )
    comp = connected_components(pairs, shortcut=True).select(
        F.col("node").alias("c_doc"), "component"
    )
    surv = (
        corpus.join(comp, corpus["doc_id"] == F.col("c_doc"), "left")
        .filter(F.col("c_doc").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )
    _write(surv.sortWithinPartitions("doc_id"), os.path.join(out_dir, "corpus_survivors"))


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


#: every materialization family's tag prefix (published tags are
#: '{family}{sf_name}-{fingerprint...}'; build litter is '.build-' + tag).
#: New families MUST register here so drop_cache covers them.
FAMILY_PREFIXES = (
    "",
    "ann-",
    "ann2-",
    "stream-",
    "gen3-",
    "gen4-",
    "ing-",
    "eri-",
    "erl-",
    "erlv-",
    "tmaint-",
    "bm25-",
    "grams-",
    "gramsapp-",
    "gramscmp-",
    "gramstr-",
    "erasegr-",
    "erasegra-",
    "erase-",
    "erase3-",
    "erase4-",
    "erasev-",
    "erasev2-",
)


def drop_cache(sf_dir: str | None = None) -> None:
    """Test hook: drop every materialized table family for one fixture,
    or everything. Tags are matched against the known family shapes
    ('{family}{sf_name}-...'), not by substring — 'sf0.1' must never
    sweep a hypothetical 'tpch-sf0.1' fixture's entries (ADVICE r6)."""
    root = _mat_root()
    if not os.path.isdir(root):
        return
    if sf_dir is None:
        shutil.rmtree(root, ignore_errors=True)
        return
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    published = tuple(f"{fam}{sf_name}-" for fam in FAMILY_PREFIXES)
    prefixes = published + tuple(f".build-{p}" for p in published)
    for entry in os.listdir(root):
        if entry.startswith(prefixes):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


# ---------------------------------------------------------------------------
# ANN index at rest: IVF centroids + cell-partitioned corpus.
# ---------------------------------------------------------------------------

ANN_TABLES = ("ann_centroids", "ann_corpus", "ann_stats", "ann_codebooks")

#: bump to invalidate cached ANN materializations
ANN_VERSION = 4  # create-only writes: no _SUCCESS markers (session.py)

#: PQ geometry for the at-rest code column: dim/M_PQ-dim subspaces,
#: K_SUB_PQ centroids each (codes are M_PQ small ints per vector)
M_PQ = 8
K_SUB_PQ = 32


def _ann_fingerprint(sf_dir: str, n_lists: int) -> str:
    # n_lists is part of the key: a non-default n_lists must build its own
    # tag, not silently reuse an index trained with another (ADVICE r5)
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = f"annv{ANN_VERSION}:{n_lists}:{st.st_size}:{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:12]


def _ann_tag_prefix(family: str, sf_dir: str, n_lists: int) -> str:
    """'{family}{sf}-n{n_lists}-' — n_lists sits in the TAG TEXT, not just
    the fingerprint, so _published's stale-generation sweep only retires
    entries of the same n_lists; alternating n_lists callers keep both
    indexes cached instead of thrashing rebuilds (ADVICE r6)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    return f"{family}{sf_name}-n{n_lists}-"


def ann_tables(spark: SparkSession, sf_dir: str, n_lists: int = 16) -> dict[str, str]:
    """Materialized IVF index for the embeddings fixture — the ANN analog
    of :func:`pipeline_tables` (same ingest-time-precompute architecture):

    * ``ann_centroids`` — (cell, center array<double>): the trained
      centroid table, dimension-table-sized (n_lists x dim), always
      broadcastable.
    * ``ann_corpus``    — (neighbor_id, cv array<double>) PARTITIONED BY
      ``cell``: the corpus physically clustered by its inverted list. At
      100 TB this is the layout that makes nprobe search an I/O win, not
      just a compute win — a probe of nprobe/n_lists cells reads only
      that fraction of the corpus FILES (dynamic partition pruning from
      the broadcast probe list; pinned in the read-path query's plan).

    * ``ann_stats``     — one row (distortion, n_vectors): the
      training-time mean squared distance to the assigned centroid — the
      baseline the incremental append path's drift guard compares
      against (:func:`append_ann_batch`).

    Training is operators/similarity.ivf_build_assignments — numpy
    Lloyd's on a bounded prefix sample, deterministic for fixed seed +
    input order, so rebuilding from the same fixture reproduces the index
    bit-for-bit (and matches the inline vector_ann_ivf_topk training)."""
    prefix = _ann_tag_prefix("ann-", sf_dir, n_lists)
    tag = prefix + _ann_fingerprint(sf_dir, n_lists)

    def build(tmp: str) -> None:
        _build_ann(spark, _embedding_corpus(spark, sf_dir), tmp, n_lists)

    return _published(prefix, tag, ANN_TABLES, build)


def _embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_nats_to_clickhouse_spark.schemas import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )


def _build_ann(
    spark: SparkSession, corpus: DataFrame, tmp: str, n_lists: int
) -> None:
    """Train + index + persist the ANN tables for ``corpus`` into
    ``tmp`` — shared by the whole-fixture build (:func:`ann_tables`) and
    the base stage of the appended-index variant
    (:func:`ann_appended_tables`). The corpus rows carry BOTH the IVF
    cell (as the partition column) and the m-byte PQ code, written in
    one shared Arrow pass (ivfpq_index_rows), so the read paths choose
    their bytes: cosine re-rank reads ``cv``, the compressed first pass
    reads only ``code`` (column pruning)."""
    from go_nats_to_clickhouse_spark.operators.similarity import (
        ivf_build_assignments,
        ivfpq_index_rows,
        pq_train_codebooks,
    )

    _, centers = ivf_build_assignments(corpus, n_lists=n_lists)
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    )
    _write(cent_df, os.path.join(tmp, "ann_centroids"))
    codebooks = pq_train_codebooks(corpus, m=M_PQ, k_sub=K_SUB_PQ)
    cb_df = spark.createDataFrame(
        [
            (j, c, codebooks[j][c])
            for j in range(len(codebooks))
            for c in range(len(codebooks[j]))
        ],
        "sub int, code int, center array<double>",
    )
    _write(cb_df, os.path.join(tmp, "ann_codebooks"))
    # one indexing pass serves the corpus table and the drift baseline
    # (lazy checkpoint: materialized once, read twice)
    aw = ivfpq_index_rows(corpus, centers, codebooks).localCheckpoint(
        eager=False
    )
    (
        aw.drop("sq_dist")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(tmp, "ann_corpus"))
    )
    stats = aw.agg(
        F.avg("sq_dist").alias("distortion"),
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
    )
    _write(stats, os.path.join(tmp, "ann_stats"))


def read_centroids(spark: SparkSession, tables: dict[str, str]) -> list[list[float]]:
    """The n_lists x dim centroid list from the persisted table, in cell
    order (dimension-sized, bounded collect)."""
    return [
        list(r.center)
        for r in spark.read.parquet(tables["ann_centroids"]).orderBy("cell").collect()
    ]


def read_codebooks(spark: SparkSession, tables: dict[str, str]):
    """Reconstruct the m x k_sub x d_sub codebook list from the
    persisted table (m*k_sub rows — kilobytes, bounded collect)."""
    rows = (
        spark.read.parquet(tables["ann_codebooks"])
        .orderBy("sub", "code")
        .collect()
    )
    m = max(r.sub for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r.sub].append(list(r.center))
    return books


class AnnIndex(NamedTuple):
    """The frozen part of an ANN index: what every append assigns
    against and measures drift by."""

    centers: list[list[float]]
    codebooks: list[list[list[float]]]
    distortion: float


def load_ann_index(spark: SparkSession, tables: dict[str, str]) -> AnnIndex:
    """Read the frozen centroid, codebook and stats tables once. Only
    :func:`_build_ann` writes them (appends and erasures touch the corpus
    alone), so a stream loads this when it starts and reuses it for every
    batch."""
    return AnnIndex(
        read_centroids(spark, tables),
        read_codebooks(spark, tables),
        float(spark.read.parquet(tables["ann_stats"]).first().distortion or 0.0),
    )


class AnnAssignment(NamedTuple):
    """A batch of vectors assigned against a frozen index, not yet
    appended: its at-rest index rows (lazily checkpointed, so the append
    reuses what the drift measure computed) and its drift ratio, None for
    an empty batch."""

    rows: DataFrame
    drift: float | None


def assign_ann_batch(new_vectors: DataFrame, index: AnnIndex) -> AnnAssignment:
    """Assign a batch of embeddings (neighbor_id, cv) to the frozen cells
    and codes of ``index`` and measure its drift: the batch's mean squared
    distance to its assigned centroids over the training-time distortion.
    Writes nothing; :func:`append_ann_batch` appends the result."""
    from go_nats_to_clickhouse_spark.operators.similarity import ivfpq_index_rows

    aw = ivfpq_index_rows(new_vectors, index.centers, index.codebooks).localCheckpoint(
        eager=False
    )
    batch_dist = aw.agg(F.avg("sq_dist")).first()[0]
    if batch_dist is None:
        return AnnAssignment(aw, None)
    ratio = (
        float(batch_dist) / index.distortion if index.distortion else float("inf")
    )
    return AnnAssignment(aw, ratio)


def append_ann_batch(
    spark: SparkSession,
    new_vectors: DataFrame,
    tables: dict[str, str],
    drift_limit: float | None = None,
    index: AnnIndex | None = None,
    assignment: AnnAssignment | None = None,
) -> float:
    """Incremental ANN index maintenance (VERDICT r5 #5) — the vector
    analog of :func:`append_batch_index`: assign a batch of new
    embeddings (neighbor_id, cv) to the FROZEN centroid table and append
    them to the cell-partitioned corpus. Cells are stable by
    construction, so the read path (ivf_read_topk + dynamic partition
    pruning) serves the grown corpus unchanged; the shared
    operators/similarity.assign_cells kernel guarantees an appended
    vector lands in exactly the cell a full rebuild with the same
    centroids would give it. Map-only: broadcast n_lists x dim centroid
    literals into one Arrow GEMM per batch, then a partitioned append
    (repartition("cell") keeps it to one file per touched cell per
    batch; merging small files stays plans/layout.compact_table's job).

    Returns the DRIFT RATIO — the batch's mean squared distance to its
    assigned centroids over the training-time distortion (ann_stats). A
    ratio near 1 means the frozen cells still describe the incoming
    data; callers re-train (rebuild ann_tables) when it exceeds their
    threshold (~2x) BEFORE recall degrades silently — staleness made
    observable, the drift guard the batch-only index lacked.

    The drift check runs BEFORE the append (ADVICE r6): with
    ``drift_limit`` set, a tripped guard raises without having written
    the out-of-distribution batch, so the published corpus stays clean
    and a checkpoint-replayed restart retries against an unchanged
    table instead of appending another copy per attempt. The order
    costs nothing — the distortion agg materializes the lazily
    checkpointed index rows, which the append then reuses.

    ``index`` is the frozen index from :func:`load_ann_index`; a caller
    appending many batches loads it once and passes it, and without it
    this call loads it. ``assignment`` is :func:`assign_ann_batch` of
    ``new_vectors``, for a caller that ran it ahead (the ingest service
    runs it beside its cascade); this call then only checks and appends."""
    if assignment is None:
        if index is None:
            index = load_ann_index(spark, tables)
        assignment = assign_ann_batch(new_vectors, index)
    ratio = assignment.drift
    if ratio is None:  # empty batch: nothing to append, no drift
        return 1.0
    if drift_limit is not None and ratio > drift_limit:
        raise RuntimeError(
            f"ANN index drift guard tripped: batch distortion "
            f"{ratio:.2f}x training baseline (> {drift_limit}) — "
            f"rebuild ann_tables before appending further (batch NOT "
            f"appended)"
        )
    (
        assignment.rows.drop("sq_dist")
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(tables["ann_corpus"])
    )
    return ratio


def start_ann_index_stream(
    spark: SparkSession,
    source_dir: str,
    tables: dict[str, str],
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    drift_limit: float = 2.0,
):
    """Maintain the IVF index AS EMBEDDINGS ARRIVE — the vector twin of
    :func:`start_doc_index_stream`: a file-source stream over an
    embeddings directory (vec_id, embedding) whose every micro-batch is
    assigned against the FROZEN centroids and appended to the
    cell-partitioned corpus via :func:`append_ann_batch`. Same
    exactly-once-per-epoch / at-least-once-after-crash contract as the
    doc index (foreachBatch + checkpoint); duplicate neighbor_ids from a
    replayed epoch are scored identically by every consumer (top-k over
    duplicate identical candidates is unchanged) so the read path is
    naturally duplicate-tolerant.

    Each batch's drift ratio is checked against ``drift_limit`` BEFORE
    the append (inside :func:`append_ann_batch`): a tripped guard
    surfaces loudly through the streaming query's exception WITHOUT the
    out-of-distribution batch having been written, so the failing epoch
    can replay forever without growing the corpus (fail-stop — a
    silently staling index is the one outcome this machinery exists to
    prevent); operators rebuild ann_tables and resume. Returns the
    StreamingQuery. The frozen index is loaded once, here, not per batch."""
    schema = spark.read.parquet(source_dir).schema
    index = load_ann_index(spark, tables)

    def _per_batch(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        vecs = batch_df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        append_ann_batch(
            batch_df.sparkSession, vecs, tables, drift_limit=drift_limit,
            index=index,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def ann_appended_tables(
    spark: SparkSession, sf_dir: str, n_lists: int = 16
) -> dict[str, str]:
    """The ANN index as BASE BUILD + INCREMENTAL APPEND, cached per
    fixture: train and build on the ``vec_id % 4 != 3`` three-quarters of
    the embeddings, then fold the held-out quarter in with
    :func:`append_ann_batch` against the frozen centroids — the
    maintenance lifecycle a production index lives (bulk build at day 1,
    streamed appends after), driver-checked through the same recall
    contract as the batch-built index (queries/vector.py). The build
    fails loudly if the same-distribution append trips the drift guard —
    that would mean assignment and training disagree."""
    prefix = _ann_tag_prefix("ann2-", sf_dir, n_lists)
    tag = prefix + _ann_fingerprint(sf_dir, n_lists)

    def build(tmp: str) -> None:
        corpus = _embedding_corpus(spark, sf_dir)
        held_out = F.pmod(F.col("neighbor_id"), F.lit(4)) == 3
        _build_ann(spark, corpus.filter(~held_out), tmp, n_lists)
        paths = {t: os.path.join(tmp, t) for t in ANN_TABLES}
        ratio = append_ann_batch(spark, corpus.filter(held_out), paths)
        if not (0.2 < ratio < 5.0):
            raise RuntimeError(
                f"ann_appended_tables: same-distribution append drifted "
                f"{ratio:.2f}x vs training distortion — assignment and "
                f"training disagree"
            )

    return _published(prefix, tag, ANN_TABLES, build)


# ---------------------------------------------------------------------------
# Incremental index maintenance — the ingest-time contract, live.
# ---------------------------------------------------------------------------


def index_rows(docs: DataFrame) -> dict[str, DataFrame]:
    """Per-document index rows (no membership flag): minhash signatures,
    sig-denormalized band rows, and the Gopher quality bit. THE shared
    code path — :func:`pipeline_tables` (whole-fixture build) and
    :func:`index_batch` (streaming per-batch maintenance) both attach
    their membership flag to exactly these frames, so streamed and
    batch-built indexes are definitionally identical."""
    from go_nats_to_clickhouse_spark.operators.dedup import (
        band_buckets,
        minhash_signatures_arr,
        shingle_arrays,
    )
    from go_nats_to_clickhouse_spark.queries.clickhouse_r5 import gopher_flags

    # r12: map-side signature path (identical sig values, no explode /
    # groupBy exchange — see operators/dedup.minhash_signatures_arr)
    sig = minhash_signatures_arr(
        shingle_arrays(docs), num_hashes=16
    ).localCheckpoint(eager=False)
    return {
        "doc_sigs": sig.select("doc_id", "sig"),
        # sig-denormalization rides the band explode directly (r12) — the
        # previous band_buckets(...).join(sig, "doc_id") re-attached the
        # signature through a full self-join of the index rows
        "doc_bands": band_buckets(sig, bands=4, rows=4, keep=("sig",)).select(
            "doc_id", "band", "bucket", "sig"
        ),
        "doc_quality": gopher_flags(docs).select("doc_id", "passes_gopher"),
    }


def index_batch(docs: DataFrame, is_new: bool = True) -> dict[str, DataFrame]:
    """The ingest-time index artifacts for ONE batch of documents — the
    shared :func:`index_rows` frames with a constant membership flag."""
    flag = F.lit(bool(is_new)).alias("is_new")
    return {name: df.select("*", flag) for name, df in index_rows(docs).items()}


def append_batch_index(docs: DataFrame, out_root: str, is_new: bool = True) -> None:
    """Append one batch's index rows to the persisted tables under
    ``out_root`` — the foreachBatch body of the streaming maintainer.
    Append-only parquet: each micro-batch adds files, never rewrites
    (compaction is :func:`plans.layout.compact_table`'s job, exactly as
    for the event tables)."""
    for name, df in index_batch(docs, is_new=is_new).items():
        df.write.mode("append").parquet(os.path.join(out_root, name))


def start_doc_index_stream(
    spark: SparkSession,
    source_dir: str,
    out_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Maintain the signature/band/quality index AS DOCUMENTS ARRIVE: a
    file-source stream over a documents directory whose every micro-batch
    appends its index rows via :func:`append_batch_index` — the reference's
    insert-triggered-MV contract (init.sql:100-121) applied to the
    LLM-pipeline tables, so downstream manifest/dedup queries always read
    a current index without ever re-scanning corpus text.

    Exactly-once per batch: foreachBatch + the stream checkpoint replay
    the same epoch only after a crash BEFORE the commit; a replayed epoch
    re-appends rows for the same doc_ids, which downstream consumers
    dedup by doc_id (at-least-once, same contract as the event pipeline's
    idempotent sinks). Returns the StreamingQuery."""
    schema = spark.read.parquet(source_dir).schema

    def _per_batch(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_index(batch_df, out_root, is_new=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


STREAM_TABLES = ("doc_sigs", "doc_bands", "doc_quality")


def streamed_index_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The day-2 index built BY THE STREAMING MAINTAINER instead of the
    batch builder, cached per fixture like :func:`pipeline_tables`: the
    batch docs are laid out as three arrival files, an actual
    :func:`start_doc_index_stream` micro-batch run (maxFilesPerTrigger=1,
    so three foreachBatch epochs) appends their index rows, and then ONE
    epoch is deliberately re-appended — the documented crash-replay
    duplicate, baked INTO the published table. A consumer that goes green
    against the batch oracle on these tables therefore proves BOTH
    streamed==batch row equivalence and at-least-once duplicate
    tolerance end-to-end (VERDICT r5 #6 + #1), not just in a unit test.

    The arrival files and stream checkpoint are build artifacts kept
    under '_'-prefixed dirs inside the published tag (inert to readers;
    only STREAM_TABLES paths are handed out)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"stream-{sf_name}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isin(*NEW_SOURCES)
        )
        arrivals = os.path.join(tmp, "_arrivals")
        # one job, three files -> three micro-batches downstream (any
        # doc->file placement yields the same index union)
        batch.repartition(3).write.parquet(arrivals)
        q = start_doc_index_stream(
            spark, arrivals, tmp, os.path.join(tmp, "_ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the simulated crash-replayed epoch: re-append the first arrival
        # file's rows (identical bytes, at-least-once contract)
        first = sorted(
            f for f in os.listdir(arrivals) if f.endswith(".parquet")
        )[0]
        append_batch_index(
            spark.read.parquet(os.path.join(arrivals, first)), tmp, is_new=True
        )

    return _published(f"stream-{sf_name}-", tag, STREAM_TABLES, build)


ING_TABLES = ("doc_sigs", "doc_bands", "doc_quality", "warehouse") + (
    "ann_centroids",
    "ann_corpus",
    "ann_stats",
    "ann_codebooks",
)


def _ing_fingerprint(sf_dir: str) -> str:
    """The composed-service family depends on BOTH fixture files."""
    sd = os.stat(os.path.join(sf_dir, "documents.parquet"))
    se = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = (
        f"v{MAT_VERSION}:annv{ANN_VERSION}:{sd.st_size}:{sd.st_mtime_ns}:"
        f"{se.st_size}:{se.st_mtime_ns}"
    )
    return hashlib.md5(key.encode()).hexdigest()[:12]


def ingested_index_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The day-2 batch run through the FULL COMPOSED SERVICE — the
    reference's actual architecture (main.go:154's INSERT firing
    init.sql:49-121's MV chain) with the LLM-pipeline index maintainers
    attached, cached per fixture:

    the batch documents AND the held-out quarter of the embeddings are
    published as wire envelopes (sources/envelope.document_envelopes /
    embedding_envelopes) into one mixed arrival directory; a base ANN
    index is built on the non-held corpus; then ONE checkpointed
    streaming run (streaming/pipeline.start_ingest_service,
    maxFilesPerTrigger=1) consumes the mixed stream through the envelope
    parse and, per epoch, feeds ALL THREE sink families — the
    raw/union/analytics cascade into ``warehouse``, the
    signature/band/quality doc index via :func:`append_batch_index`, and
    the frozen-centroid ANN appends via :func:`append_ann_batch` (the
    payload kinds route themselves: each extractor drops the other's
    messages). Finally one DOC epoch is deliberately re-applied through
    the same composed body: the documented crash-replay duplicate, baked
    into the published artifact. Green manifest + audit + ANN-recall
    rows over these tables prove message-envelope ingest == batch build
    across every maintainer, at-least-once tolerance of the composed
    run, and exactly-once cascade counts (VERDICT r6 #1, doc AND ANN
    halves).

    Returned paths: the three doc-index tables, ``warehouse`` (the
    cascade's table root), and the four ANN tables. Arrival files and
    the stream checkpoint stay under '_'-prefixed build artifacts
    inside the tag."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"ing-{sf_name}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
            embedding_envelopes,
            message_file_batch,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            PipelineTables,
            apply_cascade,
            docs_from_messages,
            start_ingest_service,
            stop_gracefully,
        )

        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isin(*NEW_SOURCES)
        )
        e = load_table(spark, sf_dir, "embeddings")
        held = F.pmod(F.col("vec_id"), F.lit(4)) == 3
        # base ANN index on the non-held corpus (same split as
        # ann_appended_tables); the held quarter arrives as messages
        base = e.filter(~held).select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        _build_ann(spark, base, tmp, n_lists=16)
        ann_paths = {
            t: os.path.join(tmp, t)
            for t in ("ann_centroids", "ann_corpus", "ann_stats", "ann_codebooks")
        }
        arrivals = os.path.join(tmp, "_arrivals")
        # three doc files + two embedding files -> five mixed epochs
        document_envelopes(batch).repartition(3).write.text(arrivals)
        embedding_envelopes(
            e.filter(held).select("vec_id", "embedding")
        ).repartition(2).write.mode("append").text(arrivals)
        cfg = EngineConfig(
            warehouse_dir=os.path.join(tmp, "warehouse"),
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_ingest_service(
            spark, cfg, src, index_root=tmp, ann_tables=ann_paths,
            trigger_seconds=0,
        )
        try:
            stop_gracefully(q)
        except Exception:
            q.stop()
            raise
        # the simulated crash-replayed epoch, through the SAME composed
        # per-batch body: idempotent cascade + doc index append (the ANN
        # maintainer's at-least-once replay is pinned separately in
        # tests — duplicating held vectors here would skew the recall
        # contract's top-k slots, so the baked replay uses a DOC epoch)
        first_doc = next(
            f
            for f in sorted(os.listdir(arrivals))
            if f.startswith("part-")
            and not docs_from_messages(
                message_file_batch(spark, os.path.join(arrivals, f))
            ).isEmpty()
        )
        replayed = message_file_batch(spark, os.path.join(arrivals, first_doc))
        apply_cascade(
            replayed,
            PipelineTables(cfg.warehouse_dir),
            idempotent=True,
            collect_counts=False,
        )
        append_batch_index(docs_from_messages(replayed), tmp, is_new=True)

    return _published(f"ing-{sf_name}-", tag, ING_TABLES, build)


TMAINT_TABLES = (
    "events_upserted",
    "events_appended",
    "events_daily",
    "events_summed",
    "events_hll_state",
    "events_base",
    "events_proj_type",
    "events_mutated",
    "events_col_ttl",
    "events_lwd",
    "events_lwd_mask",
    "events_collapsing",
    "events_rollup",
    "events_shard_early",
    "events_shard_late",
    "events_dupes",
    "events_addcol",
    "events_detached",
    "events_attach_dest",
    "events_frozen_restored",
    "events_exchange_live",
    "events_exchange_staged",
)


def _tmaint_fingerprint(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    # the table list is part of the key: adding a table to the family
    # must invalidate a cache built without it (bit r8: events_summed
    # landed in a session whose tmaint tag predated it)
    key = f"v{MAT_VERSION}:{','.join(TMAINT_TABLES)}:{st.st_size}:{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:12]


def tmaint_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Table-maintenance fixtures, cached per events fixture — the
    physical tables the ReplacingMergeTree / SELECT FINAL / TTL driver
    rows read:

    * ``events_upserted`` — monthly layout, base (version 1) then
      plans/layout.upsert_partitioned of every ``event_id % 7 == 0`` row
      with value+1000 at version 2: the physical latest-wins rewrite.
    * ``events_appended`` — the SAME logical history as plain
      at-least-once appends (base + update rows coexist on disk): what
      read_table_final must resolve at query time.
    * ``events_daily`` — day-grained partitions (31 dirs) with every day
      before 2024-01-16 dropped by plans/layout.expire_partitions: the
      MergeTree TTL whole-partition drop, surviving dirs byte-untouched.
    * ``events_summed`` — SummingMergeTree: per-event rows written as
      (day, event_type, user_id, value_cents, cnt=1) appends, then
      plans/layout.summing_compact collapses equal sorting keys within
      each day partition into summed rows (merge-time pre-aggregation;
      value pre-scaled to integer cents so the stored sums carry no
      float hazard).
    * ``events_hll_state`` — AggregatingMergeTree with a -State column:
      one DataSketches HLL sketch BLOB per (day partition, event_type)
      — the physical form a ClickHouse MV ``uniqCombinedState`` target
      stores; the read path -Merges them (table_agg_state_read).
    * ``events_base`` + ``events_proj_type`` — a monthly-layout base
      copy and its PROJECTION partitioned by event_type
      (plans/layout.build_projection): the ClickHouse ADD/MATERIALIZE
      PROJECTION alternate physical layout the router
      (read_with_projection) auto-selects for type-filtered queries.
    * ``events_mutated`` — day-partitioned integer-cents copy with an
      ``ALTER TABLE ... UPDATE`` mutation applied
      (plans/layout.update_mutation): error rows in the first five days
      get value_cents += 100000; only those five day-partitions are
      rewritten, the other 26 days' files stay byte-untouched
      (mtime-pinned in tests).
    * ``events_col_ttl`` — COLUMN-level TTL (``value_cents Int64 TTL ts
      + INTERVAL``): values in partitions before 2024-01-16 reset to 0
      while the ROWS remain — the value-expiry half of the TTL story
      (events_daily is the row-expiry half); one update_mutation call.
    * ``events_collapsing`` — CollapsingMergeTree: every event is a
      state update for its user, written as a +1 state row plus a -1
      cancel row copying the PREVIOUS state (the writer contract);
      partitioned by a user bucket (the collapse-friendly partition
      choice — ClickHouse cancels only within a partition), then
      plans/layout.collapsing_compact annihilates sign pairs so exactly
      one live row per user remains. Reads still run the
      SUM(col*sign) / HAVING SUM(sign) > 0 discipline.
    * ``events_rollup`` — ``TTL ... GROUP BY`` rollup
      (GraphiteMergeTree economics): day partitions older than
      2024-01-16 downsampled IN PLACE to one row per event_type with
      summed cnt/value_cents (plans/layout.ttl_rollup); live days raw
      and byte-untouched.
    * ``events_shard_early`` + ``events_shard_late`` — a time-sharded
      table family (days <= / > 2024-01-15) for the Merge-engine read
      (plans/layout.merge_engine); the late shard carries an extra
      ``region`` column the early shard predates, exercising the Merge
      engine's union-of-structures schema handling.
    * ``events_addcol`` — ``ALTER TABLE ... ADD COLUMN value_bucket
      DEFAULT floor(value_cents / 1000)``: the first half of the days
      predates the column (files do not store it), the second half was
      inserted after the ALTER and stores it physically —
      plans/layout.read_with_default serves the instant-visibility read
      (compute-at-read for old parts), plans/layout.materialize_column
      is the part-rewrite that makes it physical (exercised in tests,
      deliberately NOT applied here so the driver row pins the
      read-time-default path).
    * ``events_dupes`` — OPTIMIZE ... FINAL DEDUPLICATE: a plain
      MergeTree that received whole-insert double deliveries (every 5th
      event appended twice, byte-identical), then
      plans/layout.optimize_deduplicate dropped the full-row duplicates
      per partition — the explicit dedup merge for engines with no key
      semantics to upsert by.
    * ``events_detached`` + ``events_attach_dest`` — partition
      lifecycle (``ALTER TABLE ... DETACH / ATTACH / MOVE PARTITION TO
      TABLE``): days 2+3 detached into the ``_detached/`` namespace
      (invisible to every reader — Spark skips ``_``-prefixed paths),
      day 2 re-attached (round trip), day 10 moved into the cold
      archive table. Every step is ONE directory rename; no parquet
      file is read, copied, or rewritten (mtime-pinned in tests).
    * ``events_frozen_restored`` — ``ALTER TABLE ... FREEZE`` round
      trip: hardlink snapshot taken, a corrupting mutation applied
      (+999 cents on early days), then plans/layout.restore_table
      swapped the snapshot back — the driver row must read exactly the
      pre-mutation data.
    * ``events_exchange_live`` + ``events_exchange_staged`` —
      ``EXCHANGE TABLES`` (rebuild-aside publish): the live
      per-(day, type) aggregate was built from a stale data prefix, the
      complete rebuild staged under the other name, and
      plans/layout.exchange_tables atomically swapped them — live now
      serves the full aggregate, staged holds the stale one.
    * ``events_lwd`` + ``events_lwd_mask`` — LIGHTWEIGHT DELETE
      (``DELETE FROM``): signup rows in the first ten days are masked in
      the O(deleted-keys) sidecar, NO table file touched (instant
      visibility, deferred IO); plans/layout.read_with_mask serves
      reads, apply_mask_compact is the deferred physical merge (pinned
      equal in tests).
    """
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"tmaint-{sf_name}-{_tmaint_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.plans.layout import (
            expire_partitions,
            upsert_partitioned,
            write_partitioned,
        )
        from go_nats_to_clickhouse_spark.schemas import load_table

        e = load_table(spark, sf_dir, "events").withColumn(
            "version", F.lit(1).cast("int")
        )
        updates = (
            e.filter(F.pmod(F.col("event_id"), F.lit(7)) == 0)
            .withColumn("value", F.col("value") + 1000)
            .withColumn("version", F.lit(2).cast("int"))
        )
        sort = ("event_id",)
        up = os.path.join(tmp, "events_upserted")
        write_partitioned(e, up, sort, ts_col="ts", mode="overwrite")
        upsert_partitioned(
            spark, up, updates, key_cols=("event_id",), sort_keys=sort,
            ts_col="ts",
        )
        ap = os.path.join(tmp, "events_appended")
        write_partitioned(e, ap, sort, ts_col="ts", mode="overwrite")
        write_partitioned(updates, ap, sort, ts_col="ts", mode="append")
        dd = os.path.join(tmp, "events_daily")
        (
            e.drop("version")
            .withColumn(
                "ym", F.date_format("ts", "yyyyMMdd").cast("int")
            )
            .write.partitionBy("ym")
            .parquet(dd)
        )
        expire_partitions(dd, 20240116)
        from go_nats_to_clickhouse_spark.plans.layout import summing_compact

        sm = os.path.join(tmp, "events_summed")
        (
            e.select(
                F.date_format("ts", "yyyyMMdd").cast("int").alias("ym"),
                "event_type",
                "user_id",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
                F.lit(1).cast("long").alias("cnt"),
            )
            .write.partitionBy("ym")
            .parquet(sm)
        )
        summing_compact(
            spark, sm, key_cols=("event_type", "user_id"),
            sum_cols=("value_cents", "cnt"),
        )
        from go_nats_to_clickhouse_spark.plans.layout import build_projection

        eb = os.path.join(tmp, "events_base")
        write_partitioned(e.drop("version"), eb, sort, ts_col="ts",
                          mode="overwrite")
        build_projection(
            spark, eb, os.path.join(tmp, "events_proj_type"),
            partition_col="event_type", sort_keys=("ts",),
        )
        from go_nats_to_clickhouse_spark.plans.layout import update_mutation

        em = os.path.join(tmp, "events_mutated")
        (
            e.select(
                "event_id",
                "ts",
                "event_type",
                "user_id",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            )
            .withColumn("ym", F.date_format("ts", "yyyyMMdd").cast("int"))
            .write.partitionBy("ym")
            .parquet(em)
        )
        update_mutation(
            spark,
            em,
            {"value_cents": F.col("value_cents") + 100000},
            (F.col("event_type") == "error") & (F.col("ym") <= 20240105),
            sort_keys=("event_id",),
        )
        ct = os.path.join(tmp, "events_col_ttl")
        (
            e.select(
                "event_id",
                "ts",
                "event_type",
                "user_id",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            )
            .withColumn("ym", F.date_format("ts", "yyyyMMdd").cast("int"))
            .write.partitionBy("ym")
            .parquet(ct)
        )
        update_mutation(
            spark,
            ct,
            {"value_cents": F.lit(0).cast("long")},
            F.col("ym") < 20240116,
            sort_keys=("event_id",),
        )
        from go_nats_to_clickhouse_spark.plans.layout import lightweight_delete

        lw = os.path.join(tmp, "events_lwd")
        (
            e.select(
                "event_id",
                "ts",
                "event_type",
                "user_id",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            )
            .withColumn("ym", F.date_format("ts", "yyyyMMdd").cast("int"))
            .write.partitionBy("ym")
            .parquet(lw)
        )
        lightweight_delete(
            spark,
            lw,
            os.path.join(tmp, "events_lwd_mask"),
            (F.col("event_type") == "signup") & (F.col("ym") <= 20240110),
            key_cols=("event_id",),
        )
        hs = os.path.join(tmp, "events_hll_state")
        (
            e.select(
                F.date_format("ts", "yyyyMMdd").cast("int").alias("ym"),
                "event_type",
                "user_id",
            )
            .groupBy("ym", "event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .write.partitionBy("ym")
            .parquet(hs)
        )
        # CollapsingMergeTree: +1 state row per event, -1 cancel row
        # copying the previous state (writer contract), bucketed by user
        # so sign pairs co-locate and can actually annihilate.
        from pyspark.sql.window import Window as _W

        from go_nats_to_clickhouse_spark.plans.layout import (
            collapsing_compact,
        )

        st = e.select(
            "user_id",
            F.col("event_id").alias("version"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        w_u = _W.partitionBy("user_id").orderBy("version")
        cur = st.select(
            "user_id", "version", "value_cents", F.lit(1).cast("int").alias("sign")
        )
        cancels = (
            st.select(
                "user_id",
                F.lag("version").over(w_u).alias("version"),
                F.lag("value_cents").over(w_u).alias("value_cents"),
            )
            .filter(F.col("version").isNotNull())
            .withColumn("sign", F.lit(-1).cast("int"))
        )
        cl = os.path.join(tmp, "events_collapsing")
        (
            cur.unionByName(cancels)
            .withColumn("ub", F.pmod("user_id", F.lit(16)).cast("int"))
            .sortWithinPartitions("user_id", "version")
            .write.partitionBy("ub")
            .parquet(cl)
        )
        collapsing_compact(spark, cl, partition_col="ub")
        # TTL GROUP BY: aged days downsampled to per-type aggregate rows
        from go_nats_to_clickhouse_spark.plans.layout import ttl_rollup

        ru = os.path.join(tmp, "events_rollup")
        (
            e.select(
                "event_id",
                "ts",
                "event_type",
                "user_id",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
                F.lit(1).cast("long").alias("cnt"),
            )
            .withColumn("ym", F.date_format("ts", "yyyyMMdd").cast("int"))
            .write.partitionBy("ym")
            .parquet(ru)
        )
        ttl_rollup(
            spark,
            ru,
            before_part=20240116,
            group_cols=("event_type",),
            agg_exprs={
                "event_id": F.lit(-1).cast("long"),
                "ts": F.max("ts"),
                "user_id": F.lit(-1).cast("long"),
                "value_cents": F.sum("value_cents").cast("long"),
                "cnt": F.sum("cnt").cast("long"),
            },
            sort_keys=("event_type",),
        )
        # Time-sharded family for the Merge-engine read; the late shard
        # gained a region column the early shard predates.
        day = F.date_format("ts", "yyyyMMdd").cast("int")
        base_cols = e.select(
            "event_id",
            "ts",
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        write_partitioned(
            base_cols.filter(day <= 20240115),
            os.path.join(tmp, "events_shard_early"),
            ("event_id",),
            ts_col="ts",
            mode="overwrite",
        )
        write_partitioned(
            base_cols.filter(day > 20240115).withColumn(
                "region",
                F.concat(F.lit("r"), F.pmod("user_id", F.lit(3)).cast("string")),
            ),
            os.path.join(tmp, "events_shard_late"),
            ("event_id",),
            ts_col="ts",
            mode="overwrite",
        )
        # OPTIMIZE ... DEDUPLICATE: double-delivered whole inserts, then
        # the explicit full-row dedup merge
        from go_nats_to_clickhouse_spark.plans.layout import (
            optimize_deduplicate,
        )

        dup = os.path.join(tmp, "events_dupes")
        with_day = base_cols.withColumn("ym", day)
        with_day.write.partitionBy("ym").parquet(dup)
        (
            with_day.filter(F.pmod(F.col("event_id"), F.lit(5)) == 0)
            .write.mode("append")
            .partitionBy("ym")
            .parquet(dup)
        )
        optimize_deduplicate(spark, dup, sort_keys=("event_id",))
        # ADD COLUMN DEFAULT: old days predate the column, new days
        # store it — the split the read/materialize pair resolves
        ac = os.path.join(tmp, "events_addcol")
        bucket = F.floor(F.col("value_cents") / F.lit(1000)).cast("long")
        (
            with_day.filter(F.col("ym") <= 20240115)
            .write.partitionBy("ym")
            .parquet(ac)
        )
        (
            with_day.filter(F.col("ym") > 20240115)
            .withColumn("value_bucket", bucket)
            .write.mode("append")
            .partitionBy("ym")
            .parquet(ac)
        )
        # Partition lifecycle: DETACH / ATTACH / MOVE ... TO TABLE.
        # Day 2 and 3 detach, day 2 re-attaches (round trip), day 10
        # moves into the cold archive table — every step one rename,
        # zero parquet bytes touched (mtime-pinned in tests).
        from go_nats_to_clickhouse_spark.plans.layout import (
            attach_partition,
            detach_partition,
            move_partition_to_table,
        )

        dt = os.path.join(tmp, "events_detached")
        with_day.write.partitionBy("ym").parquet(dt)
        detach_partition(dt, "ym", 20240102)
        detach_partition(dt, "ym", 20240103)
        attach_partition(dt, "ym", 20240102)
        move_partition_to_table(
            dt, os.path.join(tmp, "events_attach_dest"), "ym", 20240110
        )
        # FREEZE -> corrupting mutation -> restore: the zero-copy backup
        # round trip must erase the mutation exactly (driver row reads
        # the restored table against the raw-events oracle)
        from go_nats_to_clickhouse_spark.plans.layout import (
            exchange_tables,
            freeze_table,
            restore_table,
        )

        fz = os.path.join(tmp, "events_frozen_restored")
        with_day.write.partitionBy("ym").parquet(fz)
        bk = os.path.join(tmp, "_backup_frozen")  # '_': invisible to scans
        freeze_table(fz, bk)
        update_mutation(
            spark,
            fz,
            {"value_cents": F.col("value_cents") + 999},
            F.col("ym") <= 20240110,
            sort_keys=("event_id",),
        )
        restore_table(bk, fz)
        # EXCHANGE TABLES: the live per-(day, type) aggregate was built
        # from a stale prefix of the data; the complete rebuild staged
        # aside, then atomically swapped onto the live name
        agg = (
            with_day.groupBy(
                F.col("ym").cast("long").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("value_cents").cast("long").alias("total_cents"),
            )
        )
        live = os.path.join(tmp, "events_exchange_live")
        staged = os.path.join(tmp, "events_exchange_staged")
        agg.filter(F.col("day") <= 20240121).coalesce(1).write.parquet(live)
        agg.coalesce(1).write.parquet(staged)
        exchange_tables(live, staged)

    return _published(f"tmaint-{sf_name}-", tag, TMAINT_TABLES, build)


ERI_TABLES = ("doc_sigs", "doc_bands", "doc_quality")


def erased_ingested_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The composed-service doc-index tables AFTER a GDPR erasure — the
    ingest x erase composition cell: the index rows written by the LIVE
    checkpointed run (:func:`ingested_index_tables`) get the same
    surgery the batch-built family gets in :func:`erased_tables`, a
    filter-out rewrite by doc_id of every content-derived artifact
    (signatures, band rows, quality bits).

    No survivor replay is needed on THIS side: the ingested family holds
    only the batch (is_new) generation, whose dedup/survival is computed
    at read time from the band index (erase_docs' documented batch-
    generation rule) — erased batch docs simply vanish from the
    candidate join. The corpus half of the consumer comes from
    :func:`erased_tables`, where the replay already ran. The driver row
    pipeline_manifest_ingested_erased runs the unchanged manifest
    consumer over (erased corpus) + (these tables) against the same
    never-ingested oracle as pipeline_manifest_erased — green proves the
    erasure story holds when the index was maintained BY THE SERVICE,
    not just by batch builds. Erase modulus rides in the tag text (cache
    rule, ADVICE r6)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"eri-{sf_name}-m{ERASE_MOD}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        g = ingested_index_tables(spark, sf_dir)
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0)
        )
        for t in ERI_TABLES:
            df = spark.read.parquet(g[t]).join(
                F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti"
            )
            _write(df.sortWithinPartitions(*SORT_KEYS[t]), os.path.join(tmp, t))

    return _published(f"eri-{sf_name}-", tag, ERI_TABLES, build)


ERL_TABLES = ("doc_sigs", "doc_bands", "doc_quality", "warehouse")


def erased_live_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Erase-UNDER-streaming (VERDICT r7 #6) — the one lifecycle cell the
    composed story had not yet exercised: the GDPR erase executed WHILE
    ``start_ingest_service`` is LIVE, between two micro-batches, with
    the batches after the erase appending against the repaired index.
    Reference anchor: ClickHouse ``ALTER TABLE ... DELETE`` mutations
    run concurrently with inserts on the same MergeTree tables the MV
    cascade feeds (init.sql:17) — deletes and inserts interleave at
    part granularity, which is exactly what the staged rename-aside swap
    against append-only part files reproduces.

    Build: the day-2 batch docs split into two arrival phases, with
    EVERY erase-set doc (``doc_id % ERASE_MOD == 0``) deliberately in
    phase A (an erase request can only name data that has arrived;
    erase-set docs arriving later would be a SECOND request). One
    checkpointed service run consumes phase A; with the stream still
    running (idle between triggers), the erase filter-rewrites the three
    doc-index tables through the same staged-sibling + rename-aside swap
    ``erase_docs`` uses — safe against the live writer because the
    service's sink families are append-only (new part files land beside
    the swap, never inside a directory being replaced mid-write, the
    MergeTree part model). Phase B envelopes then arrive and stream
    through the SAME query — its appends land on the repaired tables —
    and the run drains. Final state must equal
    :func:`erased_ingested_tables`' stop-then-erase state (pinned in
    tests); the driver row pipeline_manifest_erased_live runs the
    manifest consumer over these tables against the same never-ingested
    oracle as pipeline_manifest_erased. The erase itself is recorded as
    a ``service_health`` maintenance row (family ``erase_docs``) in the
    run's warehouse."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"erl-{sf_name}-m{ERASE_MOD}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            HealthRow,
            record_health,
            start_ingest_service,
            stop_gracefully,
        )

        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isin(*NEW_SOURCES)
        )
        erase_cond = F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0
        # phase A: all erase-set docs + every even id; phase B: the rest
        phase_a = batch.filter(erase_cond | (F.pmod(F.col("doc_id"), F.lit(2)) == 0))
        phase_b = batch.filter(
            (~erase_cond) & (F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        )
        arrivals = os.path.join(tmp, "_arrivals")
        document_envelopes(phase_a).repartition(2).write.text(arrivals)
        warehouse = os.path.join(tmp, "warehouse")
        cfg = EngineConfig(
            warehouse_dir=warehouse,
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_ingest_service(
            spark, cfg, src, index_root=tmp, trigger_seconds=0
        )
        try:
            q.processAllAvailable()  # phase-A epochs committed; stream LIVE
            # THE ERASE — between micro-batches of the running service:
            # same staged + rename-aside rewrite shape as erase_docs
            # (batch-generation rows need no survivor replay — their
            # dedup is computed at read time from the band index)
            erase_ids = batch.filter(erase_cond).select("doc_id")
            n_erased = erase_ids.count()
            staged = {}
            for t in ("doc_sigs", "doc_bands", "doc_quality"):
                live = os.path.join(tmp, t)
                df = spark.read.parquet(live).join(
                    F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti"
                )
                s = os.path.join(tmp, f".erase-{t}")
                shutil.rmtree(s, ignore_errors=True)
                _write(df.sortWithinPartitions(*SORT_KEYS[t]), s)
                staged[t] = s
            _swap_staged(tmp, staged)
            record_health(
                spark, warehouse, [HealthRow(-1, "erase_docs", n_erased, n_erased)]
            )
            # phase B arrives while the query is live; the next
            # micro-batches append against the repaired index
            document_envelopes(phase_b).repartition(2).write.mode(
                "append"
            ).text(arrivals)
            stop_gracefully(q)
        except Exception:
            q.stop()
            raise

    return _published(f"erl-{sf_name}-", tag, ERL_TABLES, build)


PLV_TABLES = TABLES + ("warehouse",)


def promoted_live_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """PROMOTION under streaming — the last lifecycle x streaming matrix
    cell (erase-live and compact-live landed in r7/r8): the day-2 ->
    corpus fold (:func:`promote_batch`) executed WHILE the composed
    ``start_ingest_service`` is LIVE, between two micro-batches, with
    the day-3 batch streaming in afterwards through the SAME checkpointed
    query against the promoted corpus. Reference anchor: the continuous
    MV chain (init.sql:100-121) never stops for a generation roll —
    ClickHouse folds parts across days with background merges while
    inserts keep landing; the staged rename-aside promotion against
    append-only part files reproduces that interleaving.

    Build: the day-1 corpus (sources minus day-2 minus day-3) is built
    batch-side with NO is_new rows; the service starts and streams the
    day-2 envelopes (phase A) through the index maintainer; with the
    stream idle between triggers, ``promote_batch`` folds the streamed
    day-2 rows into the corpus (same staged + rename-aside swap shape as
    the live erase — new part files land beside a swap, never inside a
    directory being replaced); phase B streams the day-3 envelopes in
    against the promoted tables, and the run drains. The final state is
    distinct-row-equal to :func:`gen3_tables`' stop-then-promote build
    (pinned in tests), and the driver row
    ``pipeline_manifest_promoted_live`` runs the unchanged day-3
    manifest consumer against the same two-generation oracle. The fold
    is recorded as a ``service_health`` maintenance row (family
    ``promote_batch``)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"plv-{sf_name}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            HealthRow,
            record_health,
            start_ingest_service,
            stop_gracefully,
        )

        docs = load_table(spark, sf_dir, "documents")
        day2 = F.col("source").isin(*NEW_SOURCES)
        day3 = F.col("source").isin(*DAY3_SOURCES)
        # day-1 corpus only; NEW_SOURCES rows are absent, so is_new is
        # all-False and the batch generation arrives purely by stream
        _build_from(docs.filter(~day2 & ~day3), tmp, NEW_SOURCES)
        arrivals = os.path.join(tmp, "_arrivals")
        document_envelopes(docs.filter(day2)).repartition(2).write.text(
            arrivals
        )
        warehouse = os.path.join(tmp, "warehouse")
        cfg = EngineConfig(
            warehouse_dir=warehouse,
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_ingest_service(
            spark, cfg, src, index_root=tmp, trigger_seconds=0
        )
        try:
            q.processAllAvailable()  # day-2 epochs committed; stream LIVE
            # THE PROMOTION — between micro-batches of the running
            # service: fold the streamed day-2 generation into the corpus
            n_folded = (
                spark.read.parquet(os.path.join(tmp, "doc_quality"))
                .filter(F.col("is_new"))
                .select("doc_id")
                .distinct()
                .count()
            )
            promote_batch(spark, tmp)
            record_health(
                spark, warehouse, [HealthRow(-1, "promote_batch", n_folded, n_folded)]
            )
            # day 3 arrives while the query is live; its micro-batches
            # append the next is_new generation onto the promoted corpus
            document_envelopes(docs.filter(day3)).repartition(2).write.mode(
                "append"
            ).text(arrivals)
            stop_gracefully(q)
        except Exception:
            q.stop()
            raise

    return _published(f"plv-{sf_name}-", tag, PLV_TABLES, build)


CER_TABLES = ("warehouse",)


def cascade_erased_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The CASCADE half of GDPR erasure — the reference-shaped warehouse
    itself scrubbed (the erase story so far repaired the doc INDEX and
    the ANN index; but the raw per-stream tables, the union table, and
    the analytics MV target written by the composed service STILL hold
    the erased documents' full text and metadata — at a regulator's
    reading, the most important copies). This family copies the ingested
    run's warehouse and runs ``ALTER TABLE ... DELETE`` across all three
    cascade tables (plans/layout.erase_where, the expression-predicate
    mutation) for every message whose routed entity id is in the erase
    set — document messages (``chat_id = 'doc-<id>'``) AND their
    embedding twins (``'vec-<id>'``), because a subject's vectors are
    its data too:

    * ``nats_data_stream`` (nested stream=*/ym=* layout) and
      ``nats_data_all_streams``: erased by the id parsed from the
      chat_id routing segment — leaf partitions without matches stay
      byte-identical (probe is a column-pruned count).
    * ``analitics_data``: erased by message_id, the MV's
      JSONExtractString('id') — the same entity by construction
      (pinned: post-erase raw and analytics agree row-for-row).
    * the erase is recorded as a ``service_health`` maintenance row
      (family ``erase_cascade``), like every other erase flavor.

    Reference anchor: the DELETE mutation runs over exactly the
    MergeTree tables init.sql:8-121 declares; the MV cascade relation
    between them is why one logical erasure must touch all three. The
    driver row pipeline_cascade_erased reads the scrubbed analytics
    table against a never-ingested oracle."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"cer-{sf_name}-m{ERASE_MOD}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        import shutil

        from go_nats_to_clickhouse_spark.plans.layout import erase_where
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            ALL_STREAMS_TABLE,
            ANALYTICS_TABLE,
            RAW_TABLE_PREFIX,
            HealthRow,
            record_health,
        )

        g = ingested_index_tables(spark, sf_dir)
        warehouse = os.path.join(tmp, "warehouse")
        shutil.copytree(g["warehouse"], warehouse)
        rid = F.regexp_extract(F.col("chat_id"), r"([0-9]+)$", 1)
        raw_where = (rid != "") & (
            F.pmod(rid.cast("long"), F.lit(ERASE_MOD)) == 0
        )
        ana_where = (
            F.pmod(F.col("message_id").cast("long"), F.lit(ERASE_MOD)) == 0
        )
        from go_nats_to_clickhouse_spark.plans.layout import BLOOM_KEYS

        n = 0
        for table, where, keys, blooms in (
            (
                RAW_TABLE_PREFIX.rstrip("_"),
                raw_where,
                ("timestamp", "chat_id"),
                BLOOM_KEYS["raw"],
            ),
            (
                ALL_STREAMS_TABLE,
                raw_where,
                ("timestamp", "chat_id"),
                BLOOM_KEYS["all_streams"],
            ),
            (
                ANALYTICS_TABLE,
                ana_where,
                ("user_id", "timestamp"),
                BLOOM_KEYS["analytics"],
            ),
        ):
            stats = erase_where(
                spark,
                os.path.join(warehouse, table),
                where,
                sort_keys=keys,
                bloom_cols=blooms,
            )
            n += stats["rows_erased"]
        record_health(spark, warehouse, [HealthRow(-1, "erase_cascade", n, n)])

    return _published(f"cer-{sf_name}-", tag, CER_TABLES, build)


CEL_TABLES = ("warehouse",)


def cascade_erased_live_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Cascade GDPR erase UNDER STREAMING — the reference-shaped twin of
    :func:`erased_live_tables`: the ``ALTER TABLE ... DELETE`` pass over
    the raw/union/analytics tables executed BETWEEN micro-batches of a
    RUNNING ``start_pipeline`` service (the reference's own ingest loop,
    main.go:154 + init.sql's MV cascade), with post-erase envelopes
    appending against the scrubbed tables. This closes the erase x live
    matrix row for the CASCADE sink family the way erl-/erlv- closed it
    for the doc index and the ANN index.

    Build: phase-A document envelopes (all erase-set docs inside, plus
    every even id) stream through the cascade and commit; with the query
    idle between triggers, plans/layout.erase_where runs the
    leaf-pruned rename-aside rewrite on all three tables (safe against
    the live writer for the same reason as every live erase here: sinks
    are append-only part files, the swap never replaces a directory
    being written); phase-B envelopes then arrive through the SAME
    checkpointed query and land on the repaired tables; the run drains.
    The driver row pipeline_cascade_erased_live reads the final
    analytics table against the same never-ingested oracle as the
    stop-then-erase cell (pipeline_cascade_erased); tests pin zero
    erased entities in any table, phase-B presence, and the
    service_health maintenance row."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"cel-{sf_name}-m{ERASE_MOD}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.plans.layout import erase_where
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            ALL_STREAMS_TABLE,
            ANALYTICS_TABLE,
            RAW_TABLE_PREFIX,
            HealthRow,
            record_health,
            start_pipeline,
        )

        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isin(*NEW_SOURCES)
        )
        erase_cond = F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0
        phase_a = batch.filter(
            erase_cond | (F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        )
        phase_b = batch.filter(
            (~erase_cond) & (F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        )
        arrivals = os.path.join(tmp, "_arrivals")
        document_envelopes(phase_a).repartition(2).write.text(arrivals)
        warehouse = os.path.join(tmp, "warehouse")
        cfg = EngineConfig(
            warehouse_dir=warehouse,
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_pipeline(
            spark, cfg, src, query_name="cel-ingest", trigger_seconds=0
        )
        try:
            q.processAllAvailable()  # phase A committed; stream LIVE
            rid = F.regexp_extract(F.col("chat_id"), r"([0-9]+)$", 1)
            raw_where = (rid != "") & (
                F.pmod(rid.cast("long"), F.lit(ERASE_MOD)) == 0
            )
            ana_where = (
                F.pmod(F.col("message_id").cast("long"), F.lit(ERASE_MOD))
                == 0
            )
            from go_nats_to_clickhouse_spark.plans.layout import BLOOM_KEYS

            n = 0
            for table, where, blooms in (
                (RAW_TABLE_PREFIX.rstrip("_"), raw_where, BLOOM_KEYS["raw"]),
                (ALL_STREAMS_TABLE, raw_where, BLOOM_KEYS["all_streams"]),
                (ANALYTICS_TABLE, ana_where, BLOOM_KEYS["analytics"]),
            ):
                n += erase_where(
                    spark,
                    os.path.join(warehouse, table),
                    where,
                    sort_keys=("timestamp",),
                    bloom_cols=blooms,
                )["rows_erased"]
            record_health(spark, warehouse, [HealthRow(-1, "erase_cascade", n, n)])
            # phase B arrives through the SAME checkpointed query
            document_envelopes(phase_b).repartition(2).write.mode(
                "append"
            ).text(arrivals)
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)

    return _published(f"cel-{sf_name}-", tag, CEL_TABLES, build)


CCL_TABLES = ("warehouse",)


def cascade_compacted_live_tables(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """COMPACTION under streaming — the background-merge half of the
    mutations-concurrent-with-inserts matrix (the erase halves are
    :func:`cascade_erased_live_tables` / :func:`erased_live_tables`):
    MergeTree's defining property is that background part merges run
    WHILE inserts land (the reference's tables get it from the server
    for free, init.sql:17); here plans/layout.compact_table runs over
    all three cascade tables BETWEEN micro-batches of the RUNNING
    ``start_pipeline`` service, and the post-compaction batches append
    fresh part files next to the merged ones through the SAME
    checkpointed query.

    Build: phase-A document envelopes stream through the cascade and
    commit (many small per-trigger part files — the small-files problem
    compaction exists for); with the query idle between triggers,
    compact_table rewrites each table to one sorted file per partition
    (rename-aside swap, safe against the live writer because sinks are
    append-only part files and the swap never replaces a directory
    being written); phase B then arrives and appends. The driver row
    pipeline_cascade_compacted_live reads the final analytics table
    against the PLAIN full-ingest oracle: green proves compaction is
    INVISIBLE to the data — same rows, same bytes of content — which is
    the entire merge contract. Tests pin the mechanics: a
    service_health maintenance row for the compaction, phase-B rows
    present, and the compacted tables' per-partition file counts."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"ccl-{sf_name}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.plans.layout import compact_table
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            ALL_STREAMS_TABLE,
            ANALYTICS_TABLE,
            RAW_TABLE_PREFIX,
            HealthRow,
            record_health,
            start_pipeline,
        )

        batch = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isin(*NEW_SOURCES)
        )
        phase_a = batch.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        phase_b = batch.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        arrivals = os.path.join(tmp, "_arrivals")
        document_envelopes(phase_a).repartition(2).write.text(arrivals)
        warehouse = os.path.join(tmp, "warehouse")
        cfg = EngineConfig(
            warehouse_dir=warehouse,
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_pipeline(
            spark, cfg, src, query_name="ccl-ingest", trigger_seconds=0
        )
        try:
            q.processAllAvailable()  # phase A committed; stream LIVE
            from go_nats_to_clickhouse_spark.plans.layout import (
                BLOOM_KEYS,
                SORT_KEYS,
            )

            n = 0
            for table, parts, keys, blooms in (
                (
                    RAW_TABLE_PREFIX.rstrip("_"),
                    ("stream", "ym"),
                    SORT_KEYS["raw"],
                    BLOOM_KEYS["raw"],
                ),
                (
                    ALL_STREAMS_TABLE,
                    ("ym",),
                    SORT_KEYS["all_streams"],
                    BLOOM_KEYS["all_streams"],
                ),
                (
                    ANALYTICS_TABLE,
                    ("ym",),
                    SORT_KEYS["analytics"],
                    BLOOM_KEYS["analytics"],
                ),
            ):
                path = os.path.join(warehouse, table)
                compact_table(
                    spark,
                    path,
                    sort_keys=keys,
                    partition_cols=parts,
                    bloom_cols=blooms,
                )
                n += spark.read.parquet(path).count()
            record_health(spark, warehouse, [HealthRow(-1, "compact_cascade", n, n)])
            # phase B appends next to the merged parts, same query
            document_envelopes(phase_b).repartition(2).write.mode(
                "append"
            ).text(arrivals)
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)

    return _published(f"ccl-{sf_name}-", tag, CCL_TABLES, build)


ERLV_TABLES = (
    "ann_centroids",
    "ann_corpus",
    "ann_stats",
    "ann_codebooks",
    "warehouse",
)


def erased_live_ann_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The VECTOR half of erase-under-streaming — the twin of
    :func:`erased_live_tables` over the ANN index: a base IVF index on
    the non-held corpus, the held quarter arriving as embedding
    envelopes through the live composed service, and ``erase_vectors``
    executed BETWEEN micro-batches (cell-partition-pruned dynamic
    overwrite — the MergeTree part-rewrite — against the same
    append-only cell layout the in-flight maintainer writes to). Every
    erase-set vector (base-corpus AND already-arrived) is deliberately
    erasable at the erase point; phase-B appends then land in the
    repaired cells through the SAME running query. The driver row
    vector_ann_erased_live_topk holds the unchanged read path to the
    erased recall + cleanliness contract. The erase is recorded as a
    ``service_health`` maintenance row (family ``erase_vectors``)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"erlv-{sf_name}-m{ERASE_MOD}-{_ing_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            embedding_envelopes,
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            HealthRow,
            record_health,
            start_ingest_service,
            stop_gracefully,
        )

        e = load_table(spark, sf_dir, "embeddings")
        held = F.pmod(F.col("vec_id"), F.lit(4)) == 3
        base = e.filter(~held).select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        _build_ann(spark, base, tmp, n_lists=16)
        ann_paths = {
            t: os.path.join(tmp, t)
            for t in ("ann_centroids", "ann_corpus", "ann_stats", "ann_codebooks")
        }
        erase_cond = F.pmod(F.col("vec_id"), F.lit(ERASE_MOD)) == 0
        held_e = e.filter(held)
        phase_a = held_e.filter(
            erase_cond | (F.pmod(F.col("vec_id"), F.lit(2)) == 0)
        )
        phase_b = held_e.filter(
            (~erase_cond) & (F.pmod(F.col("vec_id"), F.lit(2)) == 1)
        )
        arrivals = os.path.join(tmp, "_arrivals")
        embedding_envelopes(phase_a.select("vec_id", "embedding")).repartition(
            2
        ).write.text(arrivals)
        warehouse = os.path.join(tmp, "warehouse")
        cfg = EngineConfig(
            warehouse_dir=warehouse,
            checkpoint_dir=os.path.join(tmp, "_ckpt"),
        )
        src = message_file_stream(spark, arrivals, max_files_per_trigger=1)
        q = start_ingest_service(
            spark, cfg, src, index_root=tmp, ann_tables=ann_paths,
            trigger_seconds=0,
        )
        try:
            q.processAllAvailable()  # phase-A epochs committed; stream LIVE
            erase_ids = e.filter(erase_cond).select("vec_id")
            n_erased = erase_ids.count()
            erase_vectors(spark, ann_paths, erase_ids)
            record_health(
                spark, warehouse, [HealthRow(-1, "erase_vectors", n_erased, n_erased)]
            )
            embedding_envelopes(phase_b.select("vec_id", "embedding")).repartition(
                2
            ).write.mode("append").text(arrivals)
            stop_gracefully(q)
        except Exception:
            q.stop()
            raise

    return _published(f"erlv-{sf_name}-", tag, ERLV_TABLES, build)


# ---------------------------------------------------------------------------
# BM25 inverted index — the retrieval analog of the ANN read path.
# ---------------------------------------------------------------------------

BM25_TABLES = ("bm25_postings", "bm25_stats")
#: term-bucket fan-out for partition pruning (an md5 bucket, not a hash
#: of Spark's choosing, so the QUERY side can compute bucket literals in
#: plain Python and prune STATICALLY)
BM25_BUCKETS = 16


def bm25_term_bucket(col):
    """Engine-portable term bucket: md5-prefix integer mod BM25_BUCKETS
    (same construction as the DSIR feature hash)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long"),
        F.lit(BM25_BUCKETS),
    )


def bm25_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The materialized BM25 INVERTED INDEX, cached per fixture — the
    production form of text_bm25_topk exactly as ann_tables is the
    production form of the inline IVF: postings (term, doc_id, tf, with
    the document length DENORMALIZED onto every posting row — the
    classic index-storage-for-join trade, same reasoning as the
    sig-denormalized band index) partitioned by an md5 term bucket, plus
    a one-row (n_docs, dl_sum) stats table. A probe query touches only
    its terms' bucket directories (static partition pruning — the
    bucket of a literal term is computable in plain Python), reads
    candidate-sized postings, and never scans corpus text. Reference
    anchor: ClickHouse's full-text skip indexes precompute the
    token->granule map at INSERT; this is that contract with real
    postings."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"bm25-{sf_name}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), " "), lambda x: x != F.lit("")
            ).alias("ws"),
        )
        dl = toks.select(
            "doc_id", F.size("ws").alias("dl")
        ).localCheckpoint(eager=False)
        posts = (
            toks.select("doc_id", F.explode("ws").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, "doc_id")
            .withColumn("bucket", bm25_term_bucket(F.col("term")))
        )
        (
            posts.repartition("bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.partitionBy("bucket")
            .parquet(os.path.join(tmp, "bm25_postings"))
        )
        _write(
            dl.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("dl_sum"),
            ),
            os.path.join(tmp, "bm25_stats"),
        )

    return _published(f"bm25-{sf_name}-", tag, BM25_TABLES, build)


GRAM_TABLES = ("gram_postings", "gram_rep")


def gram_index_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The materialized repeated-15-gram index for exact-substring dedup
    (queries/text.dedup_repeated_substring), cached per fixture — the
    ingest-time form its docstring promises, exactly as bm25_tables is
    the production form of text_bm25_topk:

    * ``gram_postings`` — (gk, doc_id, pos): one row per word-position
      15-gram, gk = xxhash64 of the gram (operators/dedup.gram_postings;
      drift vs the inline query is pinned away by the read==inline
      equality test in tests/test_repeated_substring.py). Sorted by gk
      within partitions so parquet row-group stats give data-skipping on
      key probes.
    * ``gram_rep`` — (gk) for every gram occurring in >= 2 distinct
      documents. Derived at build (rebuild-on-merge, the skip-index
      sidecar convention): the repeated-key aggregation is the full
      postings shuffle — paying it once at ingest means the span read
      path (dedup_repeated_substring_read) never re-aggregates the
      corpus, only joins hits on 8-byte keys.

    At 100 TB: postings volume equals the shingle index's (one row per
    word position), written once per corpus generation; the build is one
    wide shuffle (groupBy gk) that the inline query would otherwise pay
    per run."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    # the gram width is part of the cache identity: tuning GRAM_N re-keys
    # the index instead of serving spans of the old width (review r10)
    tag = f"grams-{sf_name}-n{GRAM_N}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.operators.dedup import (
            gram_postings,
            repeated_gram_keys,
        )
        from go_nats_to_clickhouse_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        posts = gram_postings(docs, n=GRAM_N)
        _write(
            posts.sortWithinPartitions("gk"),
            os.path.join(tmp, "gram_postings"),
        )
        # read the postings back so gram extraction runs ONCE (the
        # corpus_pairs convention: write first, reuse for the derivation)
        posts = spark.read.parquet(os.path.join(tmp, "gram_postings"))
        _write(
            repeated_gram_keys(posts).sortWithinPartitions("gk"),
            os.path.join(tmp, "gram_rep"),
        )
        _write_gram_covered(
            os.path.join(tmp, "gram_rep"),
            _gram_files(os.path.join(tmp, "gram_postings")),
        )

    return _published(f"grams-{sf_name}-", tag, GRAM_TABLES, build)


def _repair_gram_rep(
    posts: DataFrame,
    rep: DataFrame,
    affected: DataFrame,
    *,
    affected_bound: str | None = None,
) -> DataFrame:
    """Touched-keys-only repair of the repeated-key set, shared by
    append and erase: a doc-set change can only flip repeated status
    for keys the changed docs posted (``affected``), so the repair
    recounts distinct docs over the CURRENT postings for those keys
    (min != max, the same decision repeated_gram_keys makes — no
    countDistinct state) and keeps every other gram_rep row
    byte-identical. Monotonicity does the rest: appends can only ADD
    repeated keys, erasures can only REMOVE them, and both directions
    are exactly "recount the affected keys".

    Cost model, stated honestly: the repair's STATE is touched-keys-
    small, but the recount PROBES the full postings table (the semi-
    join's left side is an O(index) scan — there is no way to know
    which files hold an affected key without reading them; gk values
    are hashes, so min/max row-group pruning cannot narrow a scattered
    key set). What IS avoidable at scale is shuffling the postings:
    when the caller can bound ``affected`` by contract
    (``affected_bound`` — e.g. a micro-batch capped by the stream's
    trigger admission), the key set is broadcast-hinted so the semi-
    join runs as codegen membership UNDER the postings scan, no
    exchange of index rows. Unbounded callers (bulk appends, mass
    erasure) leave the hint off and let AQE pick the strategy from the
    key set's runtime size."""
    key_set = affected
    if affected_bound is not None:
        from go_nats_to_clickhouse_spark.operators.hints import bounded

        key_set = F.broadcast(bounded(affected, affected_bound))
    recount = (
        posts.join(key_set, "gk", "left_semi")
        .groupBy("gk")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("gk")
    )
    # key_set in BOTH joins: the rep rewrite's anti-join must ride the
    # same broadcast, or each repair would shuffle the full gram_rep
    # table despite the bounded contract
    return rep.join(key_set, "gk", "left_anti").unionByName(recount)


#: sidecar inside the gram_rep directory listing the postings part
#: files whose keys the current gram_rep accounts for (underscore
#: prefix: parquet readers ignore it, so it rides inside the table dir
#: and SWAPS ATOMICALLY with the rep rewrite it describes)
GRAM_COVERED = "_covered.json"


def _gram_files(posts_path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(posts_path) if f.endswith(".parquet")
    )


def _read_gram_covered(rep_path: str) -> set[str] | None:
    """Postings files the rep has accounted for; None when the sidecar
    is absent OR unreadable (legacy index, lost or half-written during
    a crashed maintenance op) — distinct from an empty set (a fresh
    bootstrap index with zero files), because a missing watermark
    forces a FULL recount whose key set is corpus-scale and must
    therefore never ride a caller's batch-bound broadcast contract.
    Corruption maps to the same fallback as absence: the recount is
    the fail-safe, a raised JSONDecodeError on every later append is
    not."""
    p = os.path.join(rep_path, GRAM_COVERED)
    if not os.path.exists(p):
        return None
    try:
        with open(p, encoding="utf-8") as fh:
            return set(json.load(fh))
    except (json.JSONDecodeError, ValueError, OSError):
        return None


def _write_gram_covered(rep_dir: str, files: list[str]) -> None:
    # temp + rename: the sidecar must never be OBSERVABLY half-written
    # (compact_grams writes it post-swap, outside any staged dir)
    p = os.path.join(rep_dir, GRAM_COVERED)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(sorted(files), fh)
    os.replace(tmp, p)


def append_grams(
    spark: SparkSession,
    root: str,
    new_docs: DataFrame,
    *,
    batch_bound: str | None = None,
) -> None:
    """Fold a new document batch into the repeated-gram index under
    ``root`` so the unchanged span read path afterwards equals a
    from-scratch build over (old corpus + batch) — the same
    incremental-maintenance contract append_ann_batch owes the ANN
    index:

    * ``gram_postings`` — the batch's postings append as NEW FILES
      (mode=append, gk-sorted within partitions so row-group stats keep
      serving key probes); existing files are never rewritten — the
      MergeTree insert-new-parts model.
    * ``gram_rep`` — repaired over touched keys only
      (:func:`_repair_gram_rep`): a batch gram whose key was posted
      once before BECOMES repeated (the new doc is its second witness —
      spans appear retroactively in the OLD doc too, exactly as a
      never-split build would flag them); keys already repeated stay;
      keys the batch never posted are untouched. O(postings-of-
      affected-keys), never a corpus re-aggregation.

    The rep swap is staged rename-aside; the postings append is a
    plain file add. A crash between the two leaves extra postings
    files and the OLD rep — the read path then under-reports the new
    batch's spans but never fabricates any — and ANY later maintenance
    run converges the index, not just a retry of the same batch: the
    repair derives its affected-key set from the postings files the
    current rep has NOT yet accounted for (the ``_covered.json``
    watermark sidecar riding inside gram_rep, so it swaps atomically
    with the rep it describes — ClickHouse's unmerged-parts model: a
    part that landed but was never folded into the index is picked up
    by the next merge). Duplicate postings rows from a crash-retried
    batch are harmless to the min/max recount and deduped by readers.
    Append == from-scratch equality AND crashed-batch healing by a
    DIFFERENT later batch are pinned in tests/test_gram_erase.py.

    ``batch_bound``: pass a contract string (operators/hints.bounded
    reason) when the caller GUARANTEES the batch is small — the
    streaming maintainer does, via its trigger admission — to broadcast
    the repair's affected-key set (see :func:`_repair_gram_rep`). Bulk
    appends (e.g. a quarter of the corpus) must leave it None."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N, gram_postings

    posts_path = os.path.join(root, "gram_postings")
    rep_path = os.path.join(root, "gram_rep")
    new_posts = gram_postings(new_docs.select("doc_id", "text"), n=GRAM_N)
    new_posts.sortWithinPartitions("gk").write.mode("append").parquet(posts_path)

    # affected = keys of every postings file the current rep has not
    # accounted for — the just-appended files PLUS any batch a crashed
    # run appended without completing its repair (and, for a legacy
    # index without the sidecar, every file: one full recount, then
    # incremental forever after)
    current = _gram_files(posts_path)
    covered = _read_gram_covered(rep_path)
    if covered is None or not covered <= set(current):
        # Two ways the watermark can be unusable: absent/corrupt
        # (legacy index, crashed write), or STALE — it names files that
        # no longer exist, meaning the postings set was rewritten under
        # it (e.g. compact_grams killed between its swap and its
        # sidecar refresh). Either way the recount key set scales with
        # the CORPUS, so the caller's batch-bound broadcast contract
        # must be dropped along with the watermark — a corpus-scale
        # frame behind a bounded() hint is exactly what the hint audit
        # exists to prevent.
        covered, batch_bound = set(), None
    uncovered = [f for f in current if f not in covered]
    if not uncovered:  # nothing the rep has not already accounted for
        return
    posts = spark.read.parquet(posts_path)  # old + just-appended files
    rep = spark.read.parquet(rep_path)
    affected = (
        spark.read.parquet(*(os.path.join(posts_path, f) for f in uncovered))
        .select("gk")
        .dropDuplicates(["gk"])
    )
    new_rep = _repair_gram_rep(posts, rep, affected, affected_bound=batch_bound)
    staged = {"gram_rep": rep_path + "__staged"}
    _write(new_rep.sortWithinPartitions("gk"), staged["gram_rep"])
    _write_gram_covered(staged["gram_rep"], current)
    _swap_staged(root, staged)


def appended_gram_index_tables(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """The repeated-gram index as BASE BUILD + INCREMENTAL APPEND,
    cached per fixture: build over the ``doc_id % 4 != 3``
    three-quarters of the corpus, then fold the held-out quarter in
    with :func:`append_grams` — the maintenance lifecycle a production
    substring-dedup index lives (bulk build at day 1, batch appends
    after). The deferred driver row dedup_repeated_substring_appended_read
    serves the unchanged span consumer over it against the PLAIN
    full-corpus oracle, so green == append is invisible to readers
    (including retroactive spans in old docs whose gram found its
    second witness in the batch)."""
    from go_nats_to_clickhouse_spark.operators.dedup import (
        GRAM_N,
        gram_postings,
        repeated_gram_keys,
    )
    from go_nats_to_clickhouse_spark.schemas import load_table

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"gramsapp-{sf_name}-n{GRAM_N}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        held_out = F.pmod(F.col("doc_id"), F.lit(4)) == 3
        base_posts = gram_postings(docs.filter(~held_out), n=GRAM_N)
        _write(
            base_posts.sortWithinPartitions("gk"),
            os.path.join(tmp, "gram_postings"),
        )
        base_posts = spark.read.parquet(os.path.join(tmp, "gram_postings"))
        _write(
            repeated_gram_keys(base_posts).sortWithinPartitions("gk"),
            os.path.join(tmp, "gram_rep"),
        )
        _write_gram_covered(
            os.path.join(tmp, "gram_rep"),
            _gram_files(os.path.join(tmp, "gram_postings")),
        )
        append_grams(spark, tmp, docs.filter(held_out))

    return _published(f"gramsapp-{sf_name}-", tag, GRAM_TABLES, build)


def erased_appended_gram_index_tables(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """The APPENDED-then-ERASED gram index — the last cell of the gram
    lifecycle matrix (build x append x erase in one family, mirroring
    erased_ann2_tables): the appended family is copied and
    :func:`erase_grams` removes every ``doc_id % ERASE_MOD == 0``
    document. Appends land as ordinary postings files, so the erase
    surgery needs no append-awareness — that composability is what the
    deferred row dedup_repeated_substring_erased_appended_read pins
    against an oracle over (documents \\ erased) recomputed from
    scratch."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N
    from go_nats_to_clickhouse_spark.schemas import load_table

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = (
        f"erasegra-{sf_name}-n{GRAM_N}-m{ERASE_MOD}-{_fingerprint(sf_dir)}"
    )

    def build(tmp: str) -> None:
        src = appended_gram_index_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0)
        )
        erase_grams(spark, tmp, erase_ids)

    return _published(f"erasegra-{sf_name}-", tag, GRAM_TABLES, build)


def start_gram_index_stream(
    spark: SparkSession,
    source_dir: str,
    out_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Maintain the repeated-gram index AS DOCUMENTS ARRIVE: a
    file-source stream whose every micro-batch folds its postings in
    via :func:`append_grams` — the insert-triggered-MV contract
    (init.sql:100-121) applied to the substring-dedup index, exactly as
    :func:`start_doc_index_stream` applies it to the signature/band
    index. Each epoch's gram_rep repair is touched-keys-only in STATE
    (only the batch's keys can change status, so the rewrite is small),
    but the recount must still PROBE the full postings table — an
    O(index) scan per trigger, the honest price of insert-triggered
    maintenance (ClickHouse's MV-on-insert pays the analogous merge
    cost in the background). The batch's key set IS bounded by this
    stream's trigger admission (maxFilesPerTrigger), so it is
    broadcast under the scan — the per-trigger cost is one shuffle-free
    postings read + a batch-sized rewrite, never a shuffle of the
    index. Size triggers accordingly; run :func:`compact_grams`
    periodically so that scan stays few-files.

    At-least-once: a crash-replayed epoch re-appends the same postings
    rows (duplicate (gk, doc_id, pos) triples). gram_rep stays correct
    under duplicates (min/max distinct-doc recount is unaffected), and
    the streamed read consumer dedups hits on (doc_id, pos) — the same
    downstream-dedup convention the doc-index stream documents.
    Returns the StreamingQuery."""
    schema = spark.read.parquet(source_dir).schema

    def _per_batch(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        append_grams(
            spark,
            out_root,
            batch_df,
            batch_bound=(
                f"micro_batch<={max_files_per_trigger}"
                "_files_trigger_admission"
            ),
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streamed_gram_index_tables(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """The gram index built BY THE STREAMING MAINTAINER instead of the
    batch builder, cached per fixture (the gram twin of
    :func:`streamed_index_tables`): the corpus is laid out as three
    arrival files, an actual :func:`start_gram_index_stream` run folds
    them in (maxFilesPerTrigger=1 -> three foreachBatch epochs, each
    with its own touched-keys gram_rep repair), and then one epoch is
    deliberately re-appended — the documented crash-replay duplicate,
    baked INTO the published table. The deferred driver row
    dedup_repeated_substring_streamed_read goes green against the PLAIN
    full-corpus oracle over these tables, proving streamed == batch
    equivalence AND at-least-once duplicate tolerance end-to-end.

    The stream starts from an EMPTY index (first epoch's append is the
    bootstrap: postings files land, repair turns an empty rep into the
    batch-internal repeated keys), so no batch pre-build exists
    anywhere in the lineage."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N
    from go_nats_to_clickhouse_spark.schemas import load_table

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"gramstr-{sf_name}-n{GRAM_N}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        arrivals = os.path.join(tmp, "_arrivals")
        docs.repartition(3).write.parquet(arrivals)
        # bootstrap an EMPTY index so epoch 1 is a plain append
        empty = docs.filter(F.lit(False))
        from go_nats_to_clickhouse_spark.operators.dedup import (
            gram_postings,
            repeated_gram_keys,
        )

        ep = gram_postings(empty, n=GRAM_N)
        _write(ep, os.path.join(tmp, "gram_postings"))
        _write(repeated_gram_keys(ep), os.path.join(tmp, "gram_rep"))
        _write_gram_covered(
            os.path.join(tmp, "gram_rep"),
            _gram_files(os.path.join(tmp, "gram_postings")),
        )
        q = start_gram_index_stream(
            spark, arrivals, tmp, os.path.join(tmp, "_ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the simulated crash-replayed epoch: re-append the first
        # arrival file's docs (identical rows, at-least-once contract)
        first = sorted(
            f for f in os.listdir(arrivals) if f.endswith(".parquet")
        )[0]
        append_grams(
            spark, tmp, spark.read.parquet(os.path.join(arrivals, first))
        )
        # build scaffolding only — the arrival copy of the corpus and
        # the stream checkpoint must NOT ride the publish rename into
        # the permanent cached family (they would roughly double its
        # disk footprint with dead data on every cache generation)
        shutil.rmtree(arrivals)
        shutil.rmtree(os.path.join(tmp, "_ckpt"))

    return _published(f"gramstr-{sf_name}-", tag, GRAM_TABLES, build)


def compact_grams(
    spark: SparkSession, root: str, files_target: int | None = None
) -> None:
    """Merge the gram-postings parts accumulated by :func:`append_grams`
    back into few globally-gk-sorted files — the OPTIMIZE TABLE /
    background-merge analog for the gram index (plans/layout.
    compact_table is the same contract for the partitioned cascade
    tables; postings are unpartitioned, so this is the narrow form).
    Run periodically, not per batch: each append adds small parts whose
    per-file gk ranges overlap, which erodes row-group skipping on key
    probes; the merge re-establishes one global gk sort. gram_rep needs
    no rewrite — compaction never changes row SETS, only file layout
    (pinned by the equality test in tests/test_gram_erase.py).

    Crash-safe like every other rewrite here: staged sibling + the
    shared rename-aside swap."""
    posts_path = os.path.join(root, "gram_postings")
    posts = spark.read.parquet(posts_path)
    if files_target is None:
        files_target = max(1, spark.sparkContext.defaultParallelism // 4)
    staged = {"gram_postings": posts_path + "__staged"}
    (
        posts.repartitionByRange(files_target, "gk")
        .sortWithinPartitions("gk")
        .write.mode("overwrite")
        .parquet(staged["gram_postings"])
    )
    new_files = _gram_files(staged["gram_postings"])
    _swap_staged(root, staged)
    # refresh the rep's covered-files watermark: row sets are unchanged
    # but every file NAME is new, and a stale sidecar would make the
    # next append recount the whole index. Post-swap write, not atomic
    # — a crash in between leaves an absent/stale sidecar, whose only
    # consequence is that one full recount (fail-safe direction).
    _write_gram_covered(os.path.join(root, "gram_rep"), new_files)


def compacted_gram_index_tables(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """The APPENDED-then-COMPACTED gram index, cached per fixture: the
    appended family (base build + incremental append — its postings
    hold base parts PLUS the append's new files, with overlapping gk
    ranges) is copied and :func:`compact_grams` merges it back to few
    globally-gk-sorted files. The driver row
    dedup_repeated_substring_compacted_read serves the unchanged span
    consumer over it against the PLAIN full-corpus oracle, pinning
    compaction's merge-invisibility contract (row sets unchanged, only
    layout) at the driver gate — the gram twin of
    pipeline_cascade_compacted_live for the warehouse cascade."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"gramscmp-{sf_name}-n{GRAM_N}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        src = appended_gram_index_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        compact_grams(spark, tmp)

    return _published(f"gramscmp-{sf_name}-", tag, GRAM_TABLES, build)


def erase_grams(spark: SparkSession, root: str, erase_ids: DataFrame) -> None:
    """Erase documents from the repeated-gram index under ``root`` so the
    unchanged span read path (dedup_repeated_substring_read) afterwards
    behaves exactly as if the erased docs had never been ingested — the
    same from-scratch contract erase_docs owes the shingle index:

    * ``gram_postings`` — filter-out rewrite by doc_id (the erased
      docs' gram positions are content-derived data). O(index), like
      every ClickHouse DELETE-mutation part rewrite; gk sort order is
      preserved because filtering never reorders rows.
    * ``gram_rep`` — repaired over TOUCHED KEYS ONLY: erasing documents
      can only ever REMOVE a key's repeated status (>= 2 distinct docs
      is monotone in the doc set), and only keys the erased docs posted
      can change. So the repair recounts distinct remaining docs for
      ``affected = keys(postings of erased docs)`` and keeps the rest of
      gram_rep byte-identical — O(postings-of-affected-keys), never a
      corpus re-aggregation. A key repeated only between an erased doc
      and one survivor drops out (the survivor's spans shrink, exactly
      as a never-saw build); a key with >= 2 surviving docs stays.

    Rewrite shape: staged hidden siblings + the shared rename-aside swap
    (:func:`_swap_staged`), crash-safe like promotion and erase_docs.
    Surgery == from-scratch equality is pinned table-for-table in
    tests/test_gram_erase.py."""
    erase_ids = erase_ids.select("doc_id").dropDuplicates(["doc_id"])
    posts_path = os.path.join(root, "gram_postings")
    rep_path = os.path.join(root, "gram_rep")
    posts = spark.read.parquet(posts_path)
    rep = spark.read.parquet(rep_path)

    eb = F.broadcast(bounded(erase_ids, "one erase request's id set"))
    kept_posts = posts.join(eb, "doc_id", "left_anti")
    affected = (
        posts.join(eb, "doc_id", "left_semi").select("gk").dropDuplicates(["gk"])
    )
    new_rep = _repair_gram_rep(kept_posts, rep, affected)

    staged = {
        "gram_postings": posts_path + "__staged",
        "gram_rep": rep_path + "__staged",
    }
    _write(kept_posts.sortWithinPartitions("gk"), staged["gram_postings"])
    _write(new_rep.sortWithinPartitions("gk"), staged["gram_rep"])
    # the rewritten rep accounts for exactly the rewritten postings
    # files; writing the watermark into the staged dir keeps the two
    # atomic under the shared swap
    _write_gram_covered(staged["gram_rep"], _gram_files(staged["gram_postings"]))
    _swap_staged(root, staged)


def erased_gram_index_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The repeated-gram index AFTER a GDPR erasure, cached per fixture:
    the published grams family is copied (erasure happens to an index
    that already served traffic) and :func:`erase_grams` removes every
    ``doc_id % ERASE_MOD == 0`` document — completing the erase
    lifecycle matrix across ALL index families (shingle/pair graph:
    erase_docs; ANN cells: erase_vectors; warehouse cascade:
    erase_where; gram postings: this). The deferred driver row
    dedup_repeated_substring_erased_read runs the UNCHANGED span
    consumer over these tables against an oracle recomputed from
    documents-that-were-never-ingested."""
    from go_nats_to_clickhouse_spark.operators.dedup import GRAM_N
    from go_nats_to_clickhouse_spark.schemas import load_table

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = (
        f"erasegr-{sf_name}-n{GRAM_N}-m{ERASE_MOD}-{_fingerprint(sf_dir)}"
    )

    def build(tmp: str) -> None:
        src = gram_index_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0)
        )
        erase_grams(spark, tmp, erase_ids)

    return _published(f"erasegr-{sf_name}-", tag, GRAM_TABLES, build)


# ---------------------------------------------------------------------------
# Batch promotion — day-3 readiness (the cross-day MV contract).
# ---------------------------------------------------------------------------


def promote_batch(spark: SparkSession, root: str) -> None:
    """Fold the current batch (``is_new`` rows) into the corpus under
    ``root``, in place: day-3 readiness (VERDICT r5 #2) — the reference's
    continuous-MV semantics (init.sql:100-121) carried ACROSS days
    instead of within one.

    * The batch's dedup survivors — vs the current corpus survivors and
      within the batch, computed by the exact read-path semantics
      (queries/pipeline_mat.batch_survivors_from, signature-index only,
      no text rescans) — are appended to ``corpus_survivors``.
    * Every index row's ``is_new`` flips to False. Flip-all is correct
      even for batch docs DROPPED as duplicates: the read path only
      consults corpus index rows through a semi-join with the survivor
      table, so non-survivor rows are inert on the corpus side.
    * The rewrite is compaction-shaped (read -> staged hidden sibling ->
      swap) and folds the at-least-once dedup in: replayed-epoch
      duplicates are dropped here by doc_id / (doc_id, band), so a
      promoted corpus is also a compacted, exactly-once one.

    Besides the survivor fold, promotion EXTENDS ``corpus_pairs`` with
    the folded batch's est-verified edge sets under the next generation
    number: cross edges vs ALL corpus docs (not just survivors — after a
    later erasure a suppressed corpus doc can be resurrected and must
    then re-suppress its batch near-dups) and within-batch edges among
    ALL batch docs (a batch doc re-entering the within-batch resolution
    after an erasure needs its edges). That is what makes
    :func:`erase_docs`' generational replay exact on promoted corpora —
    the erase-after-promotion story (lifting the r7 limitation).

    After promotion the NEXT day's batch appends via
    :func:`append_batch_index` and the same consumer runs unchanged."""
    from go_nats_to_clickhouse_spark.queries.pipeline_mat import (
        batch_survivors_from,
    )

    paths = {t: os.path.join(root, t) for t in TABLES}
    bands = spark.read.parquet(paths["doc_bands"])
    qual = spark.read.parquet(paths["doc_quality"])
    surv = spark.read.parquet(paths["corpus_survivors"]).dropDuplicates(
        ["doc_id"]
    )
    new_ids = (
        qual.filter(F.col("is_new")).select("doc_id").dropDuplicates(["doc_id"])
    )
    new_surv = batch_survivors_from(bands, new_ids, surv)

    # the folded batch's pair edges, appended under the next generation.
    # max(gen)+1 is collision-safe: a fold that produced ZERO edges leaves
    # the counter unmoved, but its docs then have no edges at all — they
    # are unconditionally kept and never participate in erase replay, so
    # sharing a number with a later fold is unobservable.
    pairs0 = spark.read.parquet(paths["corpus_pairs"])
    next_gen = (pairs0.agg(F.max("gen")).collect()[0][0] or 1) + 1
    new_pairs = pairs0.select("doc_a", "doc_b", "gen", "within").unionByName(
        _batch_pair_edges(bands, next_gen)
    )

    promoted = {
        "corpus_pairs": new_pairs,
        "corpus_survivors": surv.select("doc_id").unionByName(
            new_surv.select("doc_id")
        ),
        "doc_sigs": spark.read.parquet(paths["doc_sigs"])
        .dropDuplicates(["doc_id"])
        .withColumn("is_new", F.lit(False)),
        "doc_bands": bands.dropDuplicates(["doc_id", "band"]).withColumn(
            "is_new", F.lit(False)
        ),
        "doc_quality": qual.dropDuplicates(["doc_id"]).withColumn(
            "is_new", F.lit(False)
        ),
    }
    # stage every rewrite before swapping any: each staged write reads
    # the original tables, so no table is replaced while still an input.
    # Sort keys match the initial build's (_build_from): doc_bands keeps
    # its (band, bucket) order so parquet row-group stats keep giving
    # data-skipping on the bucket equi-join after promotion.
    staged = {}
    for name, df in promoted.items():
        tmp = os.path.join(root, f".promote-{name}")
        shutil.rmtree(tmp, ignore_errors=True)
        _write(df.sortWithinPartitions(*SORT_KEYS[name]), tmp)
        staged[name] = tmp
    # crash-safe swap, matching plans/layout.compact_table (ADVICE r6):
    # rename the live table ASIDE, rename the staged dir in, then drop
    # the aside copy — at no instant is a table directory absent, and a
    # crash leaves either the old or the new generation readable (the
    # leftover '__old'/'.promote-' siblings are inert to readers and
    # swept on the next promotion attempt).
    _swap_staged(root, staged)


def _batch_pair_edges(bands: DataFrame, gen: int) -> DataFrame:
    """The est-verified pair edges of the current ``is_new`` batch —
    (doc_a, doc_b, gen, within) — computed from the band index alone,
    with exactly the candidate+verification rule the read path uses
    (bucket collision + >= 8/16 matching signature components,
    queries/pipeline_mat.batch_survivors_from):

    * cross edges (within=False): batch doc vs EVERY corpus doc — no
      survivor filter, because these edges must stay sufficient for
      erase replay after arbitrary later erasures (see promote_batch).
      ``doc_a`` is the strictly-older corpus side.
    * within edges (within=True): among ALL batch docs (doc_a < doc_b),
      not just the corpus-clean remainder, for the same reason.

    Both joins broadcast the batch side (batch-sized by definition); the
    corpus index only streams. Verification is pairwise (a signature is
    per-doc), so these edges are erase-INVARIANT: the edge set among any
    surviving subset of docs equals what a from-scratch build over that
    subset would compute — the property the replay relies on."""
    from go_nats_to_clickhouse_spark.queries.pipeline_mat import _est_matches

    nb = bands.filter(F.col("is_new")).select(
        F.col("doc_id").alias("new_id"), "band", "bucket",
        F.col("sig").alias("sig_a"),
    )
    cb = bands.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "band", "bucket",
        F.col("sig").alias("sig_b"),
    )
    cross = (
        cb.join(F.broadcast(bounded(nb, "ingest micro-batch, admission-bounded")), ["band", "bucket"])
        .filter(_est_matches(F.col("sig_a"), F.col("sig_b")) >= 8)
        .select(
            F.col("old_id").alias("doc_a"), F.col("new_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", F.lit(int(gen)).alias("gen"),
                F.lit(False).alias("within"))
    )
    l = nb.select(F.col("new_id").alias("doc_a"), "band", "bucket", "sig_a")
    r = nb.select(
        F.col("new_id").alias("doc_b"), "band", "bucket",
        F.col("sig_a").alias("sig_b"),
    )
    within = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(_est_matches(F.col("sig_a"), F.col("sig_b")) >= 8)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", F.lit(int(gen)).alias("gen"),
                F.lit(True).alias("within"))
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# GDPR erasure — the right-to-be-forgotten path through the index families
# (VERDICT r6 #4). Reference anchor: ALTER TABLE ... DELETE mutations on
# MergeTree — the part-rewrite machinery plans/layout.erase_keys already
# mirrors for the event tables, applied here to the pipeline/ANN indexes.
# ---------------------------------------------------------------------------


def _swap_staged(root: str, staged: dict[str, str]) -> None:
    """Crash-safe multi-table swap shared by promotion and erasure:
    rename each live table aside, rename the staged rewrite in, drop the
    aside copy — no instant where a table directory is absent."""
    for name, tmp in staged.items():
        live = os.path.join(root, name)
        old = live + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old, ignore_errors=True)


def erase_docs(spark: SparkSession, root: str, erase_ids: DataFrame) -> None:
    """Erase documents from the pipeline index family under ``root`` so
    that every read-path consumer afterwards behaves EXACTLY as if the
    erased docs had never been ingested (the from-scratch contract the
    driver row pipeline_manifest_erased pins against its oracle):

    * ``doc_sigs`` / ``doc_bands`` / ``doc_quality`` — filter-out
      rewrite by doc_id (the erased docs' derived artifacts — signatures
      are content-derived data — must go too, not just the text).
    * ``corpus_pairs`` — drop every pair touching an erased doc. The
      exact-Jaccard pair set among the REMAINING docs is unchanged by
      construction (pair membership never depended on other docs), so
      the filtered graph IS the from-scratch graph.
    * ``corpus_survivors`` — repaired by a GENERATIONAL REPLAY of the
      survivor rule over the filtered pair graph: erasure can both
      RESURRECT (erasing a component's surviving min, or a suppressor,
      brings back what a never-saw build would keep — across est
      generations too, since promote_batch persists each fold's edges)
      and DE-SURVIVE (a batch doc kept only because its corpus near-dup
      was itself suppressed must drop again once that near-dup is
      resurrected by the erasure). The replay walks the generations in
      fold order: per generation, drop every node with a cross edge to
      a kept older node, then connected-components the within edges
      among the remainder and keep each component's min — exactly the
      day-1 / batch_survivors_from semantics per fold, so the result
      provably equals a from-scratch ingest+promotion chain over
      (documents \\ erased). Docs outside the pair graph keep their
      prior status (minus erased) — their decisions never depended on
      any other doc. Cost is O(pairs x generations) — the graph is
      collision-sized, never corpus-sized.

    The batch (is_new) generation needs no survivor repair: its dedup is
    computed at read time from the band index, so erased batch docs
    vanish from the candidate join and the remaining batch resolves
    exactly as a never-saw build.

    Rewrite shape: staged hidden siblings + the same rename-aside swap
    promotion uses. These tables are unpartitioned (narrow, sorted), so
    the rewrite is O(index) like a ClickHouse DELETE mutation rewriting
    parts — the cell-partition-pruned analog for vectors is
    :func:`erase_vectors`."""
    erase_ids = erase_ids.select("doc_id").dropDuplicates(["doc_id"])
    paths = {t: os.path.join(root, t) for t in TABLES}
    qual = spark.read.parquet(paths["doc_quality"])
    pairs = spark.read.parquet(paths["corpus_pairs"])
    surv0 = spark.read.parquet(paths["corpus_survivors"]).dropDuplicates(
        ["doc_id"]
    )

    kept_pairs = (
        pairs.join(
            F.broadcast(bounded(erase_ids, "one erase request's id set")),
            pairs["doc_a"] == F.col("doc_id"),
            "left_anti",
        )
        .join(
            F.broadcast(bounded(erase_ids, "one erase request's id set")),
            F.col("doc_b") == F.col("doc_id"),
            "left_anti",
        )
        .localCheckpoint(eager=False)
    )
    kept_nodes, graph_nodes = _replay_survivors(pairs, kept_pairs, erase_ids)
    surv = (
        surv0.join(F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti")
        .join(graph_nodes, "doc_id", "left_anti")
        .select("doc_id")
        .unionByName(kept_nodes.select("doc_id"))
    )

    rewrites = {
        "doc_sigs": spark.read.parquet(paths["doc_sigs"]).join(
            F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti"
        ),
        "doc_bands": spark.read.parquet(paths["doc_bands"]).join(
            F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti"
        ),
        "doc_quality": qual.join(F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti"),
        "corpus_pairs": kept_pairs,
        "corpus_survivors": surv,
    }
    staged = {}
    for name, df in rewrites.items():
        tmp = os.path.join(root, f".erase-{name}")
        shutil.rmtree(tmp, ignore_errors=True)
        _write(df.sortWithinPartitions(*SORT_KEYS[name]), tmp)
        staged[name] = tmp
    _swap_staged(root, staged)


def _replay_survivors(
    pairs: DataFrame, kept_pairs: DataFrame, erase_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Replay the generational survivor rule over the post-erase pair
    graph. Returns ``(kept_nodes, replayed_nodes)``: the affected graph
    nodes that survive the replay, and every un-erased node of the
    ORIGINAL graph's affected components (whose prior survivor status
    the replay supersedes — a node whose every edge was erased is in
    the second set and, being isolated, also the first: resurrected).

    Node generations come from the edges themselves: a doc's within
    edges and its newer-side cross edges all carry its own fold
    generation (cross edges' older side needs no number — cross edges
    never affect the older endpoint, and an older doc that appears ONLY
    as an older side has no within edges, hence was and stays trivially
    kept). Generations replay in ascending fold order:

    1. a gen-g node with a surviving cross edge from a KEPT older node
       is dropped (the read path's batch-vs-corpus-survivor rule —
       older node kept <=> not decided-dropped in an earlier iteration,
       defaulting to kept for never-droppable unnumbered olds);
    2. the remainder connected-components over gen-g within edges
       restricted to the remainder (the read path computes within-batch
       pairs on the corpus-clean subset only), keeping component mins
       and isolated nodes.

    Replay is restricted to the AFFECTED components first: decisions
    only propagate along edges, so a component of the full (undirected,
    all-generation) graph containing no erased node cannot change — its
    nodes keep their prior survivor status untouched. An erase of k docs
    therefore replays O(touched components x their generations), not the
    whole historical graph: at 100 TB, a right-to-be-forgotten request
    for one user's documents replays a handful of collision clusters.

    The loop is driver-side over the distinct generation numbers present
    in the affected components (a bounded, tiny collect); each iteration
    is a handful of narrow joins plus one CC on a collision-sized
    subgraph."""
    from go_nats_to_clickhouse_spark.operators.graph import connected_components

    # components of the FULL original graph; affected = contain an erased
    # node. Erased docs' edges are still present here (that is the point
    # — they are what connects the nodes needing repair).
    full_comp = connected_components(
        pairs.select("doc_a", "doc_b"), shortcut=True
    ).localCheckpoint(eager=False)
    touched = (
        full_comp.join(
            F.broadcast(bounded(erase_ids, "one erase request's id set")),
            full_comp["node"] == F.col("doc_id"),
            "left_semi",
        )
        .select("component")
        .dropDuplicates(["component"])
    )
    affected = (
        full_comp.join(F.broadcast(bounded(touched, "components touched by one erase request")), "component", "left_semi")
        .select(F.col("node").alias("doc_id"))
        .localCheckpoint(eager=False)
    )

    node_gens = (
        pairs.filter(F.col("within"))
        .select(F.col("doc_a").alias("doc_id"), "gen")
        .unionByName(
            pairs.filter(F.col("within")).select(
                F.col("doc_b").alias("doc_id"), "gen"
            )
        )
        .unionByName(
            pairs.filter(~F.col("within")).select(
                F.col("doc_b").alias("doc_id"), "gen"
            )
        )
        .dropDuplicates(["doc_id"])
        .join(affected, "doc_id", "left_semi")
        .join(F.broadcast(bounded(erase_ids, "one erase request's id set")), "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    kept_pairs = kept_pairs.join(
        affected, kept_pairs["doc_a"] == affected["doc_id"], "left_semi"
    )
    gens = sorted(
        r.gen for r in node_gens.select("gen").distinct().collect()
    )
    spark = pairs.sparkSession
    kept = spark.createDataFrame([], "doc_id long")
    dropped = spark.createDataFrame([], "doc_id long")
    for g in gens:
        nodes_g = node_gens.filter(F.col("gen") == g).select("doc_id")
        xg = kept_pairs.filter((~F.col("within")) & (F.col("gen") == g))
        # older side kept <=> not in `dropped`; erased olds already left
        # the filtered graph, never-graph olds default to kept
        dropped_cross = (
            xg.join(dropped, xg["doc_a"] == dropped["doc_id"], "left_anti")
            .select(xg["doc_b"].alias("doc_id"))
            .dropDuplicates(["doc_id"])
        )
        rem = nodes_g.join(dropped_cross, "doc_id", "left_anti")
        wg = kept_pairs.filter(F.col("within") & (F.col("gen") == g))
        wg_rem = wg.join(
            rem, wg["doc_a"] == rem["doc_id"], "left_semi"
        ).join(rem, wg["doc_b"] == rem["doc_id"], "left_semi")
        comp = connected_components(
            wg_rem.select("doc_a", "doc_b"), shortcut=True
        ).select(
            F.col("node").alias("c_doc"), "component"
        )
        kept_g = (
            rem.join(comp, rem["doc_id"] == F.col("c_doc"), "left")
            .filter(
                F.col("c_doc").isNull()
                | (F.col("component") == F.col("doc_id"))
            )
            .select("doc_id")
            .localCheckpoint(eager=False)
        )
        kept = kept.unionByName(kept_g)
        dropped = dropped.unionByName(
            nodes_g.join(kept_g, "doc_id", "left_anti").select("doc_id")
        ).localCheckpoint(eager=False)
    return kept, node_gens.select("doc_id")


def erase_vectors(
    spark: SparkSession, tables: dict[str, str], erase_ids: DataFrame
) -> None:
    """Erase vectors from the cell-partitioned ANN corpus, rewriting
    ONLY the cells that contain an erased id — the partition-pruned
    mutation the cell layout exists for: at 100 TB an erase request for
    k vectors touches at most k cell directories, never the corpus. The
    centroid/codebook tables are training artifacts over the historical
    distribution (like ann_stats' training distortion) and are NOT
    derived per-vector data, so they stand; the drift guard keeps their
    staleness observable as always.

    Mechanics: the affected cell list is a bounded collect (<= number of
    erased ids); those partitions are rewritten via dynamic partition
    overwrite (untouched cell dirs keep their files byte-identical —
    mtime-pinned in tests), and a cell whose every vector is erased is
    dropped outright (dynamic overwrite cannot write zero rows)."""
    erase_ids = erase_ids.select(
        F.col(erase_ids.columns[0]).alias("neighbor_id")
    ).dropDuplicates(["neighbor_id"])
    corpus = spark.read.parquet(tables["ann_corpus"])
    touched = [
        r.cell
        for r in corpus.join(F.broadcast(bounded(erase_ids, "one erase request's id set")), "neighbor_id")
        .select("cell")
        .distinct()
        .collect()
    ]
    if not touched:
        return
    remaining = corpus.filter(F.col("cell").isin(touched)).join(
        F.broadcast(bounded(erase_ids, "one erase request's id set")), "neighbor_id", "left_anti"
    )
    still = {
        r.cell for r in remaining.select("cell").distinct().collect()
    }
    (
        remaining.repartition("cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(tables["ann_corpus"])
    )
    for cell in set(touched) - still:  # fully-erased cells: drop the dir
        shutil.rmtree(
            os.path.join(tables["ann_corpus"], f"cell={cell}"),
            ignore_errors=True,
        )


#: the deterministic erase set the driver-checked erasure rows use:
#: every 13th doc/vector — chosen so the set contains, at every fixture
#: SF, at least one SURVIVING near-dup-pair minimum (erasing it must
#:   resurrect the suppressed partner) and, at sf0.1, a 3-node component
#: whose min is erased (the remaining members must re-resolve among
#: themselves) — the two structurally interesting erasure cases.
ERASE_MOD = 13

#: the erase set for the PROMOTED-corpus erasure row (erased_gen3_tables
#: / pipeline_manifest_erased_day3): every 15th doc — probed so the
#: replay has real work at every fixture SF: gen-1 resurrections at all
#: three, and EST-GENERATION (gen-2, promoted-fold) resurrections at
#: sf0.01 (the driver's correctness SF) and sf0.1 — the exact case the
#: r7 erase row documented as a limitation. (mod 13 happens to hit no
#: repair structure at all at sf0.01 on the promoted graph; de-survival
#: needs a cross edge with a suppressed older side, which no fixture
#: modulus reaches — that case is pinned by unit test instead.)
ERASE3_MOD = 15


def erased_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The pipeline tables AFTER a GDPR erasure, cached per fixture: the
    published tables are copied (erasure happens to an index that
    already served traffic — that is the point) and
    :func:`erase_docs` removes every ``doc_id % ERASE_MOD == 0``
    document. The driver row pipeline_manifest_erased then runs the
    UNCHANGED manifest consumer over these tables against an oracle
    that recomputes from documents-that-were-never-ingested — the
    from-scratch equivalence a right-to-be-forgotten implementation
    owes (VERDICT r6 #4). The erase modulus rides in the tag text (like
    the ann families' n_lists) so a rule change can never serve a stale
    cache."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"erase-{sf_name}-m{ERASE_MOD}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        src = pipeline_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE_MOD)) == 0)
        )
        erase_docs(spark, tmp, erase_ids)

    return _published(f"erase-{sf_name}-", tag, TABLES, build)


def erased_gen3_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The PROMOTED (three-generation) pipeline tables after a GDPR
    erasure, cached per fixture: the gen3 family (day-1 corpus, day-2
    promoted in, day-3 batch appended) is copied and every
    ``doc_id % ERASE3_MOD == 0`` document erased through
    :func:`erase_docs` — the erase-after-promotion case the r7
    generational pair graph exists for. The erase set spans all three
    generations (corpus docs, promoted day-2 docs, and day-3 batch
    docs all hit the modulus), so the replay must repair survivor
    decisions ACROSS fold boundaries — including est-generation
    resurrections (see ERASE3_MOD's probe notes per fixture SF). The
    driver row pipeline_manifest_erased_day3 runs the
    unchanged day-3 consumer over these tables against the day-3 oracle
    recomputed over documents-that-were-never-ingested. The erase
    modulus rides in the tag text so a rule change can never serve a
    stale cache."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"erase3-{sf_name}-m{ERASE3_MOD}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        src = gen3_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE3_MOD)) == 0)
        )
        erase_docs(spark, tmp, erase_ids)

    return _published(f"erase3-{sf_name}-", tag, TABLES, build)


def erased_gen4_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The FOUR-generation (two-promotion) pipeline tables after a GDPR
    erasure — the N-generation induction instance for the erase replay:
    the gen4 family is copied and every ``doc_id % ERASE3_MOD == 0``
    document erased. At sf0.1 the mod-15 erase set triggers repairs in
    ALL THREE folded generations (gen-1 exact components, gen-2 and
    gen-3 est folds); at sf0.001/0.01 it exercises gen-1 repair on the
    three-generation graph (no fixture modulus reaches est-gen repair
    structure at sf0.01 on this layout — probed 7..30). The driver row
    pipeline_manifest_erased_day4 runs the unchanged day-4 consumer vs
    the four-generation oracle over never-ingested documents."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"erase4-{sf_name}-m{ERASE3_MOD}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.schemas import load_table

        src = gen4_tables(spark, sf_dir)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.pmod(F.col("doc_id"), F.lit(ERASE3_MOD)) == 0)
        )
        erase_docs(spark, tmp, erase_ids)

    return _published(f"erase4-{sf_name}-", tag, TABLES, build)


def erased_ann_tables(
    spark: SparkSession, sf_dir: str, n_lists: int = 16
) -> dict[str, str]:
    """The ANN index AFTER a GDPR erasure, cached per fixture: the
    published cell-partitioned index is copied and
    :func:`erase_vectors` removes every ``vec_id % ERASE_MOD == 0``
    vector — only the touched cell partitions rewrite. The driver row
    vector_ann_erased_topk serves the unchanged read path over it."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = (
        f"erasev-{sf_name}-n{n_lists}-m{ERASE_MOD}-"
        f"{_ann_fingerprint(sf_dir, n_lists)}"
    )

    def build(tmp: str) -> None:
        src = ann_tables(spark, sf_dir, n_lists=n_lists)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = spark.read.parquet(tmp + "/ann_corpus").filter(
            F.pmod(F.col("neighbor_id"), F.lit(ERASE_MOD)) == 0
        ).select("neighbor_id")
        erase_vectors(
            spark, {t: os.path.join(tmp, t) for t in ANN_TABLES}, erase_ids
        )

    return _published(f"erasev-{sf_name}-n{n_lists}-", tag, ANN_TABLES, build)


def erased_ann2_tables(
    spark: SparkSession, sf_dir: str, n_lists: int = 16
) -> dict[str, str]:
    """The INCREMENTALLY APPENDED ANN index after a GDPR erasure — the
    last cell of the index-lifecycle matrix (build x append x compress
    x erase): the ann2 family (base build on 3/4 of the corpus, held-out
    quarter appended against frozen centroids, PQ codes throughout) is
    copied and every ``vec_id % ERASE_MOD == 0`` vector removed by
    :func:`erase_vectors` — which prunes to touched cells exactly as on
    the base index, because appends land INSIDE the same cell layout
    (that was the point of partitioned appends). The driver row
    vector_ann_erased_appended_topk serves the compressed ivfpq read
    path over it."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = (
        f"erasev2-{sf_name}-n{n_lists}-m{ERASE_MOD}-"
        f"{_ann_fingerprint(sf_dir, n_lists)}"
    )

    def build(tmp: str) -> None:
        src = ann_appended_tables(spark, sf_dir, n_lists=n_lists)
        for name, p in src.items():
            shutil.copytree(p, os.path.join(tmp, name))
        erase_ids = spark.read.parquet(tmp + "/ann_corpus").filter(
            F.pmod(F.col("neighbor_id"), F.lit(ERASE_MOD)) == 0
        ).select("neighbor_id")
        erase_vectors(
            spark, {t: os.path.join(tmp, t) for t in ANN_TABLES}, erase_ids
        )

    return _published(f"erasev2-{sf_name}-n{n_lists}-", tag, ANN_TABLES, build)


DAY3_SOURCES = ("src2", "src3")


def gen3_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Three-generation pipeline tables, cached per fixture: a day-1
    corpus EXCLUDING the held-out day-3 sources is built by the standard
    ingest (:func:`_build_from`), the day-2 batch (src0/src1) is promoted
    into it (:func:`promote_batch`), and the day-3 batch (src2/src3)
    arrives on top via :func:`append_batch_index` — so ``is_new`` rows
    are the day-3 batch and the corpus side is the PROMOTED two-
    generation corpus. The unchanged read-path consumer then runs day 3
    exactly as it ran day 2."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"gen3-{sf_name}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.plans.layout import compact_table
        from go_nats_to_clickhouse_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents")
        day3 = F.col("source").isin(*DAY3_SOURCES)
        _build_from(docs.filter(~day3), tmp, NEW_SOURCES)
        promote_batch(spark, tmp)
        append_batch_index(docs.filter(day3), tmp, is_new=True)
        # post-append compaction (the MergeTree merge pass): promotion +
        # append leave 2-3 file sets per table; merge back to one sorted
        # file set so the day-3 read path pays base-table scan cost
        # (~0.4 s at sf0.1 otherwise, mostly footer/row-group overhead)
        for name, keys in (
            ("doc_sigs", ("doc_id",)),
            ("doc_bands", ("band", "bucket")),
            ("doc_quality", ("doc_id",)),
            ("corpus_survivors", ("doc_id",)),
        ):
            compact_table(
                spark, os.path.join(tmp, name), sort_keys=keys, partition_cols=()
            )

    return _published(f"gen3-{sf_name}-", tag, TABLES, build)


DAY4_SOURCES = ("src4", "src5")

#: per-table sort keys every compaction/promotion pass preserves
SORT_KEYS = {
    "doc_sigs": ("doc_id",),
    "doc_bands": ("band", "bucket"),
    "doc_quality": ("doc_id",),
    "corpus_survivors": ("doc_id",),
    "corpus_pairs": ("doc_a", "doc_b"),
}


def gen4_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """FOUR-generation pipeline tables (VERDICT r6 #6 — promotion
    generalized to N): day-1 corpus excluding the held-out day-3 AND
    day-4 sources, then the promotion LOOP runs twice — fold day-2
    (promote), land day-3, fold day-3 (promote) — and the day-4 batch
    (src4/src5) arrives on top. Each promotion is the SAME
    :func:`promote_batch` call; nothing is special-cased per
    generation, which is the induction step that makes the
    continuous-MV claim durable: if the unchanged consumer is green
    over N promotions, it is green over N+1. The day-4 oracle
    recomputes the full three-est-generation chain from source
    documents."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    tag = f"gen4-{sf_name}-{_fingerprint(sf_dir)}"

    def build(tmp: str) -> None:
        from go_nats_to_clickhouse_spark.plans.layout import compact_table
        from go_nats_to_clickhouse_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents")
        held = F.col("source").isin(*DAY3_SOURCES, *DAY4_SOURCES)
        _build_from(docs.filter(~held), tmp, NEW_SOURCES)
        for day_sources in (DAY3_SOURCES, DAY4_SOURCES):
            promote_batch(spark, tmp)  # fold the current is_new batch in
            append_batch_index(
                docs.filter(F.col("source").isin(*day_sources)), tmp, is_new=True
            )
        for name in ("doc_sigs", "doc_bands", "doc_quality", "corpus_survivors"):
            compact_table(
                spark,
                os.path.join(tmp, name),
                sort_keys=SORT_KEYS[name],
                partition_cols=(),
            )

    return _published(f"gen4-{sf_name}-", tag, TABLES, build)
