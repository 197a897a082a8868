"""Near-duplicate detection operators: MinHash + LSH banding, SimHash.

These are the sub-quadratic scale path for document dedup at 100 TB — the
exact 3-gram Jaccard self-join (queries/text.py) is their verifier at test
scale.

Design constraints honored here:
* **Engine-portable hashing.** Spark's ``hash()`` (murmur) and DuckDB's
  ``hash()`` disagree, so correctness gates would be impossible. All hashes
  derive from md5 (identical everywhere): the first 15 hex chars parsed as
  a 60-bit integer. Seeded variants hash ``shingle || '#' || seed``.
* **No UDFs.** Everything is built-in expressions (split/transform/
  aggregate/md5/conv), so signatures compute map-side inside codegen.
* **Shuffle shape (r12).** MinHash signatures and shingle sets are pure
  per-document functions of the distinct-shingle ARRAY and compute
  entirely map-side (shingle_arrays + minhash_signatures_arr — no
  explode, no groupBy exchange). LSH: one exchange keyed (band, bucket)
  (the flood-guard window, reused by the bucket self-join) with a
  within-bucket pair expansion — the whole point vs the all-pairs join is
  that bucket sizes, not corpus size, bound pair generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm
from go_nats_to_clickhouse_spark.operators.hints import bounded

#: 15 hex chars = 60 bits — fits BIGINT in every engine.
HASH_HEX_CHARS = 15

#: universal-hash family modulus (prime, ~2^30) — products a*base stay well
#: inside 63 bits so ANSI mode never overflows, in either engine.
UH_PRIME = 1_073_741_789


def _uh_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family, derived
    from public md5 so the DuckDB oracle can regenerate them."""
    import hashlib

    out = []
    for s in range(num_hashes):
        a = int(hashlib.md5(f"mh-a-{s}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"mh-b-{s}".encode()).hexdigest()[:7], 16)
        out.append((a, b))
    return out


def portable_hash64(col: Column, seed: Column | None = None) -> Column:
    """md5-derived 60-bit integer hash, identical in Spark and DuckDB
    (`('0x' || substr(md5(x), 1, 15))::BIGINT`)."""
    base = col if seed is None else F.concat(col, F.lit("#"), seed.cast("string"))
    return F.conv(F.substring(F.md5(base), 1, HASH_HEX_CHARS), 16, 10).cast("long")


def portable_hash28(col: Column) -> Column:
    """28-bit md5-derived hash — the base value the universal-hash family
    mixes. Small on purpose: (a * h + b) must not overflow 63 bits under
    ANSI arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


@once_per_jvm
def _shingle_expr(n: int):
    """The distinct-n-word-shingle array expression over a words column
    ``ws`` — shared by the exploded and the array-row forms so the two
    can never drift.

    try_element_at, not element_at: optimizer rules
    (InferFiltersFromGenerate + predicate pushdown) can copy this
    expression into contexts evaluated BEFORE the ``size(ws) >= n`` gate,
    where under ANSI a sub-n-word document would throw
    INVALID_ARRAY_INDEX even though the filter drops it. try_element_at
    is value-identical on every row the gate keeps (indices are in range
    by construction there) and NULL-quiet on rows it drops; greatest(...,
    1) keeps the position sequence non-descending on those dropped rows
    (sequence(1, size-2) with size < 3 DESCENDS to [1, 0, -1], and index
    0 throws INVALID_INDEX_OF_ZERO even under try_element_at). Measured
    identical cost to the unguarded spelling at sf0.1."""
    parts = ", ".join(f"try_element_at(ws, i + {j})" for j in range(n))
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(ws) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', {parts}))"
        )
    )


def _doc_words(df: DataFrame, text_col: str, n: int, keep: tuple[str, ...]):
    """(doc_id, ws, *keep) with >= n words, widened to core parallelism.

    The words array gets its own projection FIRST: referencing a split()
    inlined into every element_at of the transform lambda re-tokenizes
    the document per shingle position (O(words^2), measured ~5x slower).

    Repartition the (cheap, pre-shingle) doc rows to full core width: a
    raw parquet read often yields 1-2 input splits at test scale, which
    would serialize the tokenize+hash work for every consumer. At 100 TB
    the reader already produces thousands of splits and this is a
    near-no-op round-robin of row pointers."""
    width = df.sparkSession.sparkContext.defaultParallelism
    words, enough = _words_cols(text_col, n)
    return df.repartition(width).select("doc_id", words, *keep).filter(enough)


@once_per_jvm
def _words_cols(text_col: str, n: int) -> tuple[Column, Column]:
    """(the words array ``ws`` of ``text_col``, its at-least-n-words test)"""
    return F.split(F.col(text_col), " ").alias("ws"), F.size("ws") >= n


def shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct n-word shingles per document as ONE array row:
    (doc_id, sharr: array<string>, *keep). Entirely map-side — no explode,
    no shuffle. Documents with fewer than n words produce no row (same
    contract as the exploded form / the exact-Jaccard verifier).

    This is the r12 optimization-round primitive: per-document sketch
    state (minhash signatures, shingle-set sizes, the verification sets
    themselves) is a pure function of this array, so everything that used
    to be an explode + groupBy(doc_id) re-aggregation — one full exchange
    of per-doc sketch state per consumer — computes inside the row
    instead (guide §2.4, remove shuffles outright).

    NEVER explode the named ``sharr`` column — use :func:`word_shingles`
    for shingle rows. A Generate over the named column triggers
    InferFiltersFromGenerate, whose inferred size(sharr) > 0 predicate is
    pushed below the widening repartition into the SCAN-side filter: the
    whole tokenize+shingle transform then runs a second time per row at
    raw input parallelism (1-2 splits at test scale) — measured 4-8x
    slower than the inline explode on sf0.1. The rule does not fire when
    the generator's child is the expression itself, which is exactly how
    word_shingles spells it."""
    return _doc_words(df, text_col, n, keep).select(
        "doc_id", _shingle_expr(n).alias("sharr"), *keep
    )


def word_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct n-word shingles per document: (doc_id, shingle, *keep) —
    the exploded form, for consumers that genuinely need shingle ROWS
    (posting lists, shingle equi-joins). The generator input is the
    shingle expression INLINE, not a named column — see shingle_arrays'
    docstring for why that matters.

    No .distinct() after the explode: array_distinct already dedupes
    within the document and (doc_id, shingle) cannot repeat across rows,
    so a global distinct would be a semantic no-op costing a full shuffle
    of every shingle row in every consumer.
    """
    return _doc_words(df, text_col, n, keep).select(
        "doc_id", F.explode(_shingle_expr(n)).alias("shingle"), *keep
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig: array<long>[num_hashes]) — component s is
    min over shingles of the universal-hash mix of portable_hash28.

    LEGACY explode-input form (one groupBy(doc) shuffle of per-shingle
    hash rows). Production paths use :func:`minhash_signatures_arr`,
    which computes the identical signature map-side from
    :func:`shingle_arrays`; this form is kept as the independent
    spelling the equivalence property test
    (tests/test_property_semantics.py) pins the map-side path against."""
    base = portable_hash28(F.col("shingle"))
    hashed = sh.select(
        "doc_id",
        *[
            F.pmod(F.lit(a) * base + F.lit(b), F.lit(UH_PRIME)).alias(f"h{s}")
            for s, (a, b) in enumerate(_uh_constants(num_hashes))
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_arr(
    sharr: DataFrame, num_hashes: int = 16, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, sig, *keep) from :func:`shingle_arrays` output — the
    map-side signature path: no explode, no groupBy exchange, the
    signature materializes inside the scan/codegen stage. Component s is
    min over array elements of ((a_s * md5_28(x) + b_s) mod p);
    min-over-array == min-over-group, so this equals the exploded
    :func:`minhash_signatures` exactly. ``keep`` carries extra columns
    (e.g. the shingle array itself for exact verification) through.

    The md5 base-hash array gets its OWN projection: 16 mix expressions
    reference it, and a collapsed single projection would inline (and
    re-evaluate) the md5 transform 16 times per row — the same
    multiple-consumer trap as the words-array two-step in
    :func:`shingle_arrays` (CollapseProject keeps a non-cheap producer
    separate when consumed more than once)."""
    based_col, sig_col = _minhash_cols(num_hashes)
    return sharr.select("doc_id", based_col, *keep).select("doc_id", sig_col, *keep)


@once_per_jvm
def _minhash_cols(num_hashes: int) -> tuple[Column, Column]:
    """(the md5 base-hash array ``_bs`` of ``sharr``, the signature
    ``sig`` over ``_bs``) of :func:`minhash_signatures_arr`."""

    def _mix(a: int, b: int):
        # factory so the returned lambda has exactly ONE parameter —
        # PySpark infers the higher-order-function arity from the
        # lambda's signature, so closing over (a, b) via default args
        # would mis-declare a 3-arg lambda
        return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(UH_PRIME))

    based = F.transform(F.col("sharr"), portable_hash28).alias("_bs")
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_bs"), _mix(a, b)))
            for a, b in _uh_constants(num_hashes)
        ]
    )
    return based, sig.alias("sig")


def band_buckets(
    sig: DataFrame, bands: int, rows: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, band, bucket, *keep) — md5 bucket per signature band; the
    join key LSH candidate generation (self- or cross-corpus) runs on.
    ``keep`` rides extra columns (e.g. the signature itself) through the
    band explode so downstream consumers can skip a signature re-join."""
    band, bucket = _band_cols(bands, rows)
    return sig.select(
        "doc_id", band, "sig", *[k for k in keep if k != "sig"]
    ).select("doc_id", "band", bucket, *keep)


@once_per_jvm
def _band_cols(bands: int, rows: int) -> tuple[Column, Column]:
    """(the exploded band number ``band``, its md5 bucket ``bucket``) of
    :func:`band_buckets`."""
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    bucket = F.md5(
        F.concat_ws(
            "-",
            F.transform(
                F.slice(F.col("sig"), F.col("band") * rows + 1, rows),
                lambda x: x.cast("string"),
            ),
        )
    ).alias("bucket")
    return band, bucket


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = 1024,
    with_sigs: bool = False,
) -> DataFrame:
    """Banding: hash each band of ``rows`` signature components to a bucket;
    docs sharing any (band, bucket) become candidate pairs (doc_a < doc_b).

    The bucket join is the scale lever: pair generation is quadratic only
    within a bucket, and bucket occupancy is controlled by (bands, rows)
    against the target similarity threshold (s-curve ~ (1/bands)^(1/rows)).

    **Degenerate-skew guard (``max_bucket``):** a duplicate flood (thousands
    of identical documents) collapses into ONE (band, bucket) — and no
    salting can fix that, because the quadratic cost is the *output* (B²/2
    pairs), not the join. Buckets wider than ``max_bucket`` therefore switch
    to a STAR expansion: every member pairs with the bucket's min doc_id
    (B-1 pairs, linear). Downstream dedup consumes connected components, and
    a star keeps exactly the same component as the clique, so cluster
    semantics are preserved while a 1M-duplicate flood emits 10⁶ pairs
    instead of 5·10¹¹. ``max_bucket=None`` disables the guard (exact
    all-pairs everywhere — what the DuckDB oracle mirrors at test scale).

    ``with_sigs=True`` additionally emits both signatures (sig_a, sig_b)
    and SKIPS the final pair dedup — the same (doc_a, doc_b) may appear
    once per colliding band; the caller dedupes after deriving its scalar
    (the signature estimate). Estimate-producing consumers thereby drop
    both signature re-joins: the signature rides the banding exchange the
    guard window already pays (``bands`` copies of an ``8*num_hashes``-
    byte array through ONE exchange, vs. two extra shuffles of the
    signature table plus two of the candidate set).
    """
    keep = ("sig",) if with_sigs else ()
    banded = band_buckets(sig, bands, rows, keep=keep)
    if max_bucket is None:
        left = right = banded
    else:
        from pyspark.sql.window import Window

        # One window pass tags every row with its bucket's width and
        # representative — same shuffle key the join needs, linear work even
        # for a pathological bucket (count/min, not pairs). The guard is
        # then encoded in the join's LEFT side alone: a small bucket keeps
        # all its rows (classic all-pairs), an oversized bucket keeps only
        # its representative — so the equi-join emits exactly the star pairs
        # (rep, x) with O(B) work per flood bucket (1-row build side), no
        # second branch and no extra consumption of the minhash lineage.
        w = Window.partitionBy("band", "bucket")
        tagged = banded.select(
            "doc_id",
            "band",
            "bucket",
            *keep,
            F.count(F.lit(1)).over(w).alias("_n"),
            F.min("doc_id").over(w).alias("_rep"),
        )
        left = tagged.filter(
            (F.col("_n") <= max_bucket) | (F.col("doc_id") == F.col("_rep"))
        ).select("doc_id", "band", "bucket", *keep)
        right = tagged.select("doc_id", "band", "bucket", *keep)
    a = left.alias("a")
    b = right.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    if with_sigs:
        # NOT deduped: one row per colliding band. Callers derive their
        # scalar (estimate) first, then dedupe on scalar columns — cheaper
        # than grouping on the signature arrays themselves.
        return joined.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    return joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()


def minhash_estimate(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard = fraction of equal signature components."""
    return (
        F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / num_hashes
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_estimate: float = 0.0,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup candidates with estimated Jaccard.

    Output: (doc_a, doc_b, est_jaccard). Deterministic given the corpus.
    ``max_bucket`` is the degenerate-skew guard (see
    :func:`lsh_candidate_pairs`).
    """
    rows = num_hashes // bands
    # r12: map-side signatures + signatures carried through the banding
    # exchange — the whole query is ONE corpus-wide exchange (the guard
    # window / bucket self-join) plus the pair dedup, where the previous
    # spelling paid a signature groupBy plus two signature re-joins
    # (plan: 20 exchanges -> 8 at sf0.001, identical output).
    sig = minhash_signatures_arr(shingle_arrays(docs, n=shingle_n), num_hashes)
    raw = lsh_candidate_pairs(
        sig, bands, rows, max_bucket=max_bucket, with_sigs=True
    )
    est = minhash_estimate(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        raw.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .distinct()
        .filter(F.col("est_jaccard") >= min_estimate)
    )


def lsh_verified_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 16,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """EXACT-Jaccard near-dup pairs generated sub-quadratically: banded-LSH
    candidates, then exact Jaccard verified on the candidates only. Output
    (doc_a, doc_b, jaccard) with jaccard >= threshold.

    This is the production pair-generation shape for a dedup pipeline: the
    all-pairs shingle equi-join is O(freq²) per hot shingle (a stop-word-ish
    shingle floods the join at 100 TB), while here pair candidates are
    bounded by LSH bucket occupancy (flood-guarded, see
    :func:`lsh_candidate_pairs`) and the exact set intersection runs only on
    candidate pairs — each pair touches two bounded shingle-set arrays, not
    the corpus.

    **Recall.** Exactness of the *verification* makes precision 1.0 by
    construction; recall is the LSH s-curve ``1 - (1 - J^rows)^bands``. The
    default ``bands=num_hashes, rows=1`` maximizes recall at the 0.5
    threshold: a true pair is missed only when all ``num_hashes`` minhash
    components differ — P ≤ (1-J)^16 ≈ 1.5e-5 at J = 0.5, and far smaller
    for the high-J pairs dedup actually targets (tests pin recall = 1.0
    vs the all-pairs verifier on the fixtures). A 100 TB deployment trades
    candidate volume for recall by raising ``rows`` (e.g. 8 bands x 2 rows
    accepts ~10% misses at J = 0.5 but prunes low-J candidates sharply);
    the verification stage keeps precision exact either way.
    """
    rows = num_hashes // bands
    # r12: ONE map-side pass computes BOTH the minhash signature and the
    # distinct-shingle set from the per-doc shingle array — the previous
    # explode + groupBy re-aggregation (17 hash columns + collect_set
    # state through a full exchange of the corpus's shingle bytes) is
    # gone; the only exchanges left are the ones the candidates and the
    # verification joins fundamentally need. The lazy localCheckpoint
    # still matters: the candidate and verification subtrees would
    # otherwise each recompute the tokenize+md5 pass (AQE misses the
    # reuse), and it keeps the verification join reading executor-local
    # blocks.
    per_doc = minhash_signatures_arr(
        shingle_arrays(docs, n=shingle_n), num_hashes, keep=("sharr",)
    ).localCheckpoint(eager=False)
    sig = per_doc.select("doc_id", "sig")
    cand = lsh_candidate_pairs(sig, bands, rows, max_bucket=max_bucket)
    # Arrays are bounded by document length, and only candidate docs' sets
    # ride the verification joins. (The sets deliberately do NOT ride the
    # banding exchange the way the estimate path's signatures do: at
    # bands=16 that would push 16 copies of every document's shingle set
    # through the guard window — corpus-scale byte inflation — where the
    # per-doc set here crosses a join exchange once per side.)
    sets = per_doc.select("doc_id", F.col("sharr").alias("sset"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("set_b"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_common"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return scored.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash_bits(df: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """SimHash fingerprint as a bit string (MSB first).

    Per document: hash every word occurrence to 60 bits; each fingerprint
    bit is the sign of the +-1 vote sum across words. Emitted as a '0'/'1'
    string to stay exactly portable (no 64-bit sign pitfalls).
    """
    # Shape: explode words, md5 each word ONCE, then one groupBy(doc) with
    # `bits` integer SUM aggregates (codegen'd hash agg) — orders of
    # magnitude faster than folding a nested higher-order expression per
    # row, and exactly portable (integer votes, no floats). Pre-explode
    # repartition: same 1-2-input-split serialization fix as word_shingles.
    width = df.sparkSession.sparkContext.defaultParallelism
    words = df.repartition(width).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    hashed = words.select("doc_id", portable_hash64(F.col("w")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits - 1, -1, -1)
        ]
    )
    fp = F.concat(
        *[
            F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits - 1, -1, -1)
        ]
    )
    return votes.select("doc_id", fp.alias("simhash_bits"))


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-corpus near-dup candidates: which existing corpus documents
    does each NEW document collide with? Output
    (new_id, corpus_id, est_jaccard).

    This is the production incremental-ingest shape: the corpus is huge
    (100 TB) and static per batch, the new batch is small. The corpus's
    (doc_id, band, bucket) table is the *persistable index* — at scale it
    is computed once, stored partitioned by bucket, and only scanned per
    batch; here it is derived inline from the same signature pipeline.
    The bucket join BROADCASTS the new side, so the corpus never shuffles
    for candidate generation — the only corpus-wide shuffle is signature
    construction, which the persisted index amortizes away.
    """
    rows = num_hashes // bands
    # r12: map-side signatures on both sides, and both sides' signatures
    # RIDE their band rows — the batch side is broadcast anyway (a
    # bounded micro-batch, ~8*num_hashes extra bytes per broadcast row),
    # and the corpus side's rows stream map-side through the broadcast
    # join, so the ONLY exchange left in the whole query is the final
    # collision-sized dedup. The previous spelling shuffled the full
    # corpus signature table for the est join; now the corpus never
    # shuffles at all — exactly the "persisted index is only scanned"
    # posture the docstring promises.
    new_sig = minhash_signatures_arr(
        shingle_arrays(new_docs, n=shingle_n), num_hashes
    )
    corp_sig = minhash_signatures_arr(
        shingle_arrays(corpus_docs, n=shingle_n), num_hashes
    )
    new_bands = band_buckets(new_sig, bands, rows, keep=("sig",)).select(
        F.col("doc_id").alias("new_id"), "band", "bucket",
        F.col("sig").alias("sig_a"),
    )
    corp_bands = band_buckets(corp_sig, bands, rows, keep=("sig",)).select(
        F.col("doc_id").alias("corpus_id"), "band", "bucket",
        F.col("sig").alias("sig_b"),
    )
    est = minhash_estimate(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        corp_bands.join(
            F.broadcast(
                bounded(new_bands, "ingest micro-batch, admission-bounded")
            ),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id", F.round(est, 6).alias("est_jaccard"))
        .distinct()
    )


#: canonical repeated-substring gram width (words per gram) — Lee et al.
#: 2021 used 50 BPE tokens; ~15 words is the equivalent threshold here.
#: queries/text._RS_N aliases this, and the grams- materialization tag
#: embeds it, so tuning the width re-keys the persisted index instead of
#: silently serving spans of the old width (code review r10).
GRAM_N = 15


def gram_postings(docs: DataFrame, n: int = GRAM_N) -> DataFrame:
    """Word-level n-gram postings: (doc_id, pos, gk) with gk =
    xxhash64 of the n-word gram starting at word position ``pos``
    (0-based). The building block of exact-substring dedup (Lee et al.
    2021's suffix-array pass as a repeated-gram span merge — see
    queries/text.dedup_repeated_substring, which pins equality against
    the persisted-index read path in tests/test_repeated_substring.py)
    and of its PERSISTED ingest index
    (plans/materialize.gram_index_tables).

    The 8-byte xxhash64 key is shuffled instead of the ~100-byte gram
    string: collision odds at 2^64 are negligible against corpus gram
    counts (the standard large-corpus trade). Documents shorter than
    ``n`` words produce no postings. Same input-split widening as
    word_shingles — at 100 TB the reader already yields thousands of
    splits and the repartition is a near-no-op.
    """
    width = docs.sparkSession.sparkContext.defaultParallelism
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - F.lit(n)),
        lambda i: F.array_join(F.slice(F.col("ws"), i + 1, F.lit(n)), " "),
    )
    return (
        docs.repartition(width)
        .select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
        .select("doc_id", F.posexplode(grams).alias("pos", "gram"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.xxhash64("gram").alias("gk"),
        )
    )


def repeated_gram_keys(postings: DataFrame) -> DataFrame:
    """Gram keys occurring in >= 2 DISTINCT documents: (gk).

    ONE map-side-combinable aggregate — two-distinct-docs is decided by
    min(doc_id) != max(doc_id), never countDistinct's full dedup state.
    """
    return (
        postings.groupBy("gk")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("gk")
    )
