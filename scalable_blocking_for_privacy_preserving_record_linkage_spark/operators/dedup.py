"""Document deduplication operators for training-data pipelines.

Five families, each scale-shaped for 10^12 documents:

* exact          — hash groupBy (one slim shuffle on the digest)
* minhash + LSH  — shingle -> signature -> band -> bucket equi-join; the
                   candidate join is on (band, band_sig), never all-pairs
* simhash        — 64-bit fingerprint; near-dups = hamming <= k within
                   LSH buckets (bit-chunk banding)
* n-gram Jaccard — explode q-grams -> inverted-index self-join -> agg;
                   bounded by a shared-gram prefilter
* embedding      — cosine near-dup inside coarse buckets (see similarity)

All candidate generation is equi-join shaped (shuffle-friendly, AQE/skew
compatible); nothing materializes the quadratic pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions.text import qgrams_expr
from ..sources.io import ensure_parallelism
from .clustering import canonical_clusters


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content digest: (text_hash, n_docs, canonical_id)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_q: int = 5,
) -> DataFrame:
    bases = ensure_parallelism(docs).select(
        F.col(id_col),
        hashing.minhash_base_expr(F.col(text_col), shingle_q).alias("_bases"),
    )
    return bases.select(
        F.col(id_col),
        hashing.minhash_from_bases_expr(F.col("_bases"), num_hashes).alias("signature"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_q: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding (id1 < id2, distinct).

    Scale shape: explode to (band, band_sig, id), self-equi-join on the
    band key — collisions only. ``max_bucket_size`` purges degenerate hot
    buckets (e.g. the signature of empty/boilerplate text, which at web
    scale turns one bucket into an n² join) with a slim count-aggregate +
    left_semi join BEFORE the pair join — the same skew guard as HLSH
    bucket purging (operators/hlsh.py).
    """
    rows = num_hashes // num_bands
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_q)
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            hashing.minhash_bands_expr(F.col("signature"), num_bands, rows)
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))
    return _band_pairs(banded, max_bucket_size)


def _band_pairs(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(id, band, band_sig) -> distinct (id1, id2) with id1 < id2 sharing a
    band bucket. ``max_bucket_size`` purges hot buckets with a slim count
    aggregate + left_semi BEFORE the self-join (the HLSH purge pattern)."""
    if max_bucket_size is not None:
        keep = (
            banded.groupBy("band", "band_sig")
            .count()
            .where(F.col("count") <= max_bucket_size)
            .select("band", "band_sig")
        )
        banded = banded.join(keep, ["band", "band_sig"], "left_semi")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return docs.select(
        F.col(id_col), hashing.simhash_udf()(F.col(text_col)).alias("simhash")
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_chunks: int = 4,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash near-dups: band the 64-bit hash into ``num_chunks`` chunks;
    by pigeonhole, any pair with hamming < num_chunks shares at least one
    unchanged chunk, so the (chunk_idx, chunk_value) equi-join is
    EXHAUSTIVE for ``max_hamming <= num_chunks - 1`` — the exact hamming
    verify (Catalyst bit_count) then makes the result equal to the
    brute-force pair set (which is what the DuckDB oracle computes).
    Never an all-pairs comparison.

    Defaults follow the production web-dedup setting (Manku et al.,
    WWW'07: 64-bit simhash, hamming <= 3): 4 chunks of 16 bits give
    ~n/65536 docs per bucket — the widest chunks (smallest buckets) that
    still guarantee full recall at this radius.

    ``max_hamming >= num_chunks`` loses the guarantee (pairs whose
    differing bits straddle every chunk are silently dropped); that mode
    must be opted into with ``allow_partial_recall=True``.
    """
    if max_hamming >= num_chunks and not allow_partial_recall:
        raise ValueError(
            f"max_hamming={max_hamming} >= num_chunks={num_chunks} loses the "
            "pigeonhole recall guarantee; raise num_chunks or pass "
            "allow_partial_recall=True"
        )
    sims = simhash_table(ensure_parallelism(docs), id_col, text_col)
    bits_per = 64 // num_chunks
    mask = (1 << bits_per) - 1
    chunks = sims.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(num_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return cand.where(
        hashing.hamming64_expr(F.col("h1"), F.col("h2")) <= max_hamming
    ).select("id1", "id2", hashing.hamming64_expr(F.col("h1"), F.col("h2")).alias("hamming"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    q: int = 3,
    threshold: float = 0.2,
    df_cap: int | None = None,
) -> DataFrame:
    """Character q-gram Jaccard similarity via inverted-index self-join.

    |A∩B| comes from the gram-level equi-join (count of shared DISTINCT
    grams), |A∪B| = |A|+|B|-|A∩B|; only pairs sharing >= 1 gram ever
    materialize. Output: (id1, id2, jaccard rounded to 4).

    ``df_cap`` is the stop-gram skew guard the inverted index needs at
    corpus scale: a gram occurring in more than ``df_cap`` documents (a
    stopword-like shingle) would contribute ~df² join rows on ONE key.
    Capped grams are excluded from CANDIDATE GENERATION only — for every
    surviving candidate pair the hot-gram overlap is added back via a
    bounded pair×grams join, so the reported Jaccard stays EXACT. The only
    semantic change: pairs sharing nothing but stop-grams are dropped
    (by construction they sit far below any useful threshold).

    The inverted index carries xxhash64(gram), not the gram string: the
    exploded index is this operator's dominant shuffle (one row per
    (doc, distinct gram)), and an 8-byte key both shrinks it and makes
    the equi-join compare longs. Jaccard is unchanged unless two distinct
    grams of one candidate pair collide in 64 bits (~1e-13).
    """
    grams = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array_distinct(qgrams_expr(F.col(text_col), q)),
                lambda g: F.xxhash64(g),
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    if df_cap is not None:
        gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        rare = grams.join(
            gram_df.where(F.col("_df") <= df_cap).select("gram"), "gram", "left_semi"
        )
        hot = grams.join(
            gram_df.where(F.col("_df") > df_cap).select("gram"), "gram", "left_semi"
        )
        l, r = rare.alias("l"), rare.alias("r")
        inter_rare = (
            l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")))
            .groupBy(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("n_rare"))
        )
        # add back hot-gram overlap for the surviving candidates only:
        # bounded by |candidates| × hot-grams-per-doc, never df²
        h1 = hot.select(F.col("id").alias("id1"), "gram")
        h2 = hot.select(F.col("id").alias("id2"), "gram")
        inter_hot = (
            inter_rare.select("id1", "id2")
            .join(h1, "id1")
            .join(h2, ["id2", "gram"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
        inter = (
            inter_rare.join(inter_hot, ["id1", "id2"], "left_outer")
            .select(
                "id1",
                "id2",
                (F.col("n_rare") + F.coalesce(F.col("n_hot"), F.lit(0))).alias("n_common"),
            )
        )
    else:
        l, r = grams.alias("l"), grams.alias("r")
        inter = (
            l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")))
            .groupBy(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        inter.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n_grams", "n1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n_grams", "n2"), "id2")
        .select(
            "id1",
            "id2",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_q: int = 5,
) -> DataFrame:
    """Corpus-side LSH index for stream-static dedup: one row per
    (band, band_sig) per doc, carrying the doc's distinct-gram array so
    the exact-Jaccard verify needs NO second lookup against the corpus.

    At cluster scale this is the checkpointed/bucketed static side of
    ``streaming.jobs.dedup_stream_against``: bucketed by (band, band_sig)
    the per-micro-batch candidate join needs no shuffle of the corpus.
    Output: (band, band_sig, id, grams) — ``grams`` is the doc's distinct
    q-gram set HASHED to xxhash64 int64 (both verify sides derive from
    this same function, so Jaccard over the hashed sets equals Jaccard
    over the string sets absent 64-bit collisions; see canonical_docs).
    """
    rows = num_hashes // num_bands
    docs = docs.where(F.length(text_col) >= shingle_q)
    # hashed grams projected FIRST so both the verify array and the
    # signature derive from the one materialized distinct-gram column (no
    # double shingling, no string payload in the index)
    sigs = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(qgrams_expr(F.col(text_col), shingle_q)).alias("_g"),
    ).select(
        "id",
        F.transform(F.col("_g"), lambda g: F.xxhash64(g)).alias("grams"),
        hashing.minhash_from_bases_expr(
            F.transform(F.col("_g"), hashing.md5_int_expr), num_hashes
        ).alias("signature"),
    )
    return sigs.select(
        "id",
        "grams",
        F.explode(
            hashing.minhash_bands_expr(F.col("signature"), num_bands, rows)
        ).alias("b"),
    ).select(
        F.col("b.band").alias("band"),
        F.col("b.band_sig").alias("band_sig"),
        "id",
        "grams",
    )


def canonical_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    shingle_q: int = 5,
    max_bucket_size: int | None = None,
    verify_threshold: float | None = 0.8,
) -> DataFrame:
    """END-TO-END dedup: LSH candidate pairs -> EXACT-Jaccard verify ->
    transitive clusters -> canonical survivor per cluster (the full "keep
    one copy" pipeline a training-data build runs, not just a pair list).

    Output: one row PER INPUT DOC — (doc_id, cluster_id, cluster_size,
    is_canonical) with cluster_id = min doc_id of the near-dup component
    (numeric min, see clustering.canonical_clusters) and singletons their own
    cluster. ``docs.where(~is_canonical)`` is the drop set; filtering on
    ``is_canonical = 1`` yields the deduplicated corpus.

    ``verify_threshold``: LSH banding is a RECALL device — narrow bands
    admit low-similarity candidates, and transitive closure would snowball
    them into mega-clusters. The verify step recomputes the EXACT distinct
    q-gram Jaccard for each surviving candidate pair — over the xxhash64
    image of each gram set, identical to the string-set Jaccard absent
    64-bit collisions — (cost bounded by
    |candidates| x grams-per-doc, never pairwise in the corpus) and keeps
    only pairs >= threshold, so cluster edges are true near-dups. ``None``
    skips the verify (raw LSH closure).

    Scale shape: pair generation is the banded equi-join (never all-pairs,
    hot buckets purged via ``max_bucket_size``); clustering is
    large-star/small-star connected components (O(log n) rounds, so long
    near-dup version chains converge) whose per-round shuffles carry only
    (child, parent) longs; cluster sizes come from a SLIM groupBy + join
    (NOT a window — a boilerplate mega-cluster would funnel a window into
    one task, the exact skew the bucket purge guards against upstream).
    """
    # Stage shape, sized for a corpus where the band self-join dominates:
    #  1. gram sets hashed ONCE and materialized (localCheckpoint) with
    #     TWO integer images — md5-32 ``bases`` feeding the MinHash
    #     signature (the DuckDB-twinable family) and xxhash64 ``grams``
    #     feeding the verify intersect. Later stages read these instead of
    #     re-shingling; the verify runs on longs (8 B/gram, integer
    #     compares), not 5-gram strings, so both the pair-attach shuffle
    #     and the per-pair intersect cost drop ~2-3x. Jaccard over the
    #     64-bit sets equals Jaccard over the string sets unless two
    #     distinct grams of one pair collide in 64 bits (~1e-13 per pair
    #     at 10^3 grams/doc) — exact at any realistic corpus size;
    #  2. the band table is SLIM (band, band_sig, id) — gram arrays do
    #     NOT ride the self-join shuffle/sort, only 3 scalar columns do;
    #     also checkpointed, since purge + join-left + join-right would
    #     otherwise each recompute the md5-per-gram signature work;
    #  3. candidates are deduped FIRST, then the two gram-array attach
    #     joins + array_intersect verify run once per DISTINCT pair (the
    #     same bloom-attach join shape as operators/matching.py — never a
    #     pairs x grams row explosion).
    # Measured negative results (sf0.1, local[32], min-of-2 — kept so the
    # obvious "optimizations" aren't retried): dropping the banded
    # checkpoint (re-deriving bands 3x from checkpointed bases) is ~1 s
    # SLOWER; slimming the first checkpoint to grams-only (signature
    # derived in a separate re-shingling branch) is ~0.7 s SLOWER. The
    # residual wall at small scale is per-job fixed overhead
    # (higher-order-expression interpretation + scheduler), which
    # amortizes with input size — see the dedup scaling campaign.
    # Docs shorter than one shingle still get a (singleton) cluster row
    # from the left join below.
    gram_sets = (
        ensure_parallelism(docs).where(F.length(text_col) >= shingle_q)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(qgrams_expr(F.col(text_col), shingle_q)).alias("_g"),
        )
        .select(
            "id",
            F.transform(F.col("_g"), hashing.md5_int_expr).alias("bases"),
            F.transform(F.col("_g"), lambda g: F.xxhash64(g)).alias("grams"),
        )
        .localCheckpoint(eager=False)
    )
    rows = num_hashes // num_bands
    banded = (
        gram_sets.select(
            "id",
            hashing.minhash_from_bases_expr(F.col("bases"), num_hashes).alias(
                "signature"
            ),
        )
        .select(
            "id",
            F.explode(
                hashing.minhash_bands_expr(F.col("signature"), num_bands, rows)
            ).alias("b"),
        )
        .select("id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))
        .localCheckpoint(eager=False)
    )
    pairs = _band_pairs(banded, max_bucket_size)
    if verify_threshold is not None:
        pairs = (
            pairs.join(
                gram_sets.select(F.col("id").alias("id1"), F.col("grams").alias("g1")),
                "id1",
            )
            .join(
                gram_sets.select(F.col("id").alias("id2"), F.col("grams").alias("g2")),
                "id2",
            )
            .withColumn("c", F.size(F.array_intersect("g1", "g2")))
            .where(
                F.col("c") / (F.size("g1") + F.size("g2") - F.col("c"))
                >= F.lit(verify_threshold)
            )
            .select("id1", "id2")
        )
    return canonical_clusters(docs.select(F.col(id_col).alias("doc_id")), pairs)


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document LINE-level dedup (C4/RefinedWeb-style boilerplate
    removal): a non-blank line whose trimmed form occurs in at least
    ``min_docs`` DISTINCT documents is removed from every document.
    Returns one row per doc: (id, n_lines, n_removed, clean_text) with
    surviving lines re-joined in original order; blank lines are always
    kept and never counted. NULL-text docs produce no output row (the
    explode drops them — a hygiene pass has nothing to keep from a
    null page; filter nulls upstream to retain them).

    Scale shape for 10^12 docs: the frequency pass never shuffles line
    text — each doc contributes its in-row ``array_distinct`` of trimmed
    non-blank lines (so "distinct docs per line" is a plain count, no
    countDistinct), hashed to 8-byte xxhash64 keys for a
    partial-aggregate-friendly groupBy. The verdict set (lines shared by
    >= min_docs docs) is small by construction and joins back
    hash-to-hash under AQE (broadcast for typical boilerplate sets,
    skew-split otherwise). Blank lines get a per-(doc, pos) join key so
    the single blank-line hash never funnels one shuffle partition —
    their removal verdict ignores the join anyway. Reconstruction is one
    groupBy on the doc id with an order-fixed ``array_sort`` on the line
    position (deterministic under any partitioning, same discipline as
    SURVEY.md §2.8.1). Hash collisions could drop an innocent line at
    ~1e-13 per distinct-line pair — the same xxhash64 argument as
    ``ngram_jaccard_pairs``; the value oracle replays the rule on the
    line STRINGS, so a collision would surface as a mismatch.
    """
    split_lines = F.split(F.col(text_col), "\n", -1)
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(split_lines).alias("pos", "line"),
    ).withColumn("norm", F.trim("line"))
    # one row per (doc, distinct trimmed non-blank line) — in-row distinct,
    # so the global groupBy counts documents without a countDistinct
    per_doc = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.transform(split_lines, lambda ln: F.trim(ln)),
                    lambda ln: ln != "",
                )
            )
        ).alias("norm"),
    )
    boiler = (
        per_doc.groupBy(F.xxhash64("norm").alias("h"))
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("h", F.lit(1).alias("_boiler"))
    )
    flagged = (
        lines.withColumn(
            "h",
            F.when(F.col("norm") != "", F.xxhash64("norm")).otherwise(
                # blanks can never be removed (the flag below requires a
                # non-blank norm); a unique key just spreads them across
                # partitions instead of funneling xxhash64('')
                F.xxhash64(F.col("id"), F.col("pos"), F.lit("_blank"))
            ),
        )
        .join(boiler, "h", "left_outer")
        .withColumn(
            "removed",
            ((F.col("norm") != "") & F.col("_boiler").isNotNull()).cast("int"),
        )
    )
    return flagged.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("removed").cast("long").alias("n_removed"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("removed") == 0, F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
