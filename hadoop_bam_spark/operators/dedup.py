"""Deduplication operators for large text corpora.

Four strategies, all shuffle-conscious:

- exact:          hash-groupBy on a content fingerprint (one shuffle).
- minhash LSH:    shingle → k minhashes → band buckets → equi-join on
                  (band, bucket). Only bucket-colliding pairs are compared, so
                  the join never goes quadratic.
- simhash:        64-bit sign-of-weighted-bits fingerprint; near-dups have
                  small Hamming distance.
- n-gram jaccard: exact similarity on candidate pairs (post-LSH verifier).

All hashing is md5-based (first 15 hex digits → 60-bit int) so results are
deterministic and reproducible across engines — important both for the
correctness oracle and for re-runs of a 100 TB dedup pipeline.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition iff the scan has fewer partitions than the cluster has
    cores. Explode-heavy stages (shingling expands a doc ~L rows) chain
    narrowly onto the scan, so a corpus that arrives in a handful of input
    splits would run its whole hash stage on as many cores. At real scale a
    100 TB scan has thousands of splits and this is a no-op; on small or
    badly-packed inputs it buys full-cluster parallelism for the cost of
    shuffling the (small) un-exploded corpus."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def hash60(c: Column) -> Column:
    """Deterministic 60-bit integer hash of a string (md5-derived).

    Portable: DuckDB equivalent is ``('0x' || substr(md5(s),1,15))::BIGINT``.
    For a pure-speed pipeline swap in F.xxhash64 — same uniformity, no
    cross-engine portability.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def char_shingles(text: Column, n: int = 4) -> Column:
    """Distinct character n-gram shingles of a string (JVM-side)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


#: Mersenne prime modulus for the affine rehash family (fits products in i64:
#: a, h < 2^31 so a*h + b < 2^62 — safe in both Spark and DuckDB BIGINTs).
MINHASH_P = 2147483647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    ``h_j(x) = (a_j * x + b_j) mod P``. Fixed LCG seed so the Spark plan and
    the DuckDB oracle derive identical constants."""
    x = 0x2545F4914F6CDD1D
    out = []
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = x % (MINHASH_P - 1) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x % MINHASH_P
        out.append((a, b))
    return out


def minhash_rehash(h: Column, a: int, b: int) -> Column:
    """One member of the universal-hash family: ``(a*h + b) mod P``."""
    return (F.lit(a).cast("long") * h + F.lit(b)) % MINHASH_P


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: fingerprint -> (keep_id, n_dups) for n>1.

    One hash-partitioned aggregation; at 100 TB this is the cheapest possible
    plan (map-side partial agg on the 32-char fingerprint, never on the text).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def _minhash_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    band_size: int,
    shingle_n: int,
) -> DataFrame:
    """Band buckets with >1 member: (band_idx, band_key, ids sorted array).

    Plan shape (scale-critical): shingle positions are EXPLODED as an int
    sequence and the substring + md5 happen AFTER the explode, one shingle
    per row — building a per-document string array first
    (transform(sequence, substring)) materializes ~L objects per doc and
    measures ~15x slower than exploding the int positions. No per-document
    array_distinct either: ``min()`` is invariant to duplicate shingles, so
    signatures are identical without the dedup. The k minhashes are plain
    ``min()`` aggregates of cheap affine rehashes in one groupBy — whole
    stage codegen with map-side partial aggregation; the
    higher-order-function formulation recomputes the md5 pass once per hash
    (Catalyst does no CSE across lambda functions), which is k× slower.

    Candidate emission groups each band bucket once (collect_set per
    (band_idx, band_key)) and expands in-bucket edges from the sorted id
    array — NOT a bands-self-join: Spark plans that join with a broadcast
    build side and no exchange reuse, so the whole md5 signature stage would
    execute twice (once per side).
    """
    bands = _minhash_bands(
        df, text_col, id_col, num_hashes, band_size, shingle_n
    )
    return (
        bands.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    band_size: int,
    shingle_n: int,
    flag_col: str | None = None,
) -> DataFrame:
    """(_id, band_idx, band_key[, flag]) band rows — the signature stage
    shared by batch buckets and the incremental-ingest variant.
    ``flag_col`` (a per-document boolean, constant per id) rides through
    the signature aggregate via ``first()``."""
    num_bands = num_hashes // band_size
    df = ensure_parallelism(df)
    extra = [F.col(flag_col).alias("_flag")] if flag_col else []
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        *extra,
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(text_col) - (shingle_n - 1), F.lit(1)),
            )
        ).alias("_i"),
    ).select(
        "_id",
        *(["_flag"] if flag_col else []),
        (hash60(F.substring(F.col("_t"), F.col("_i"), F.lit(shingle_n))) % MINHASH_P).alias("_h"),
    )
    sig = hashed.groupBy("_id").agg(
        *([F.first("_flag").alias("_flag")] if flag_col else []),
        *[
            F.min(minhash_rehash(F.col("_h"), a, b)).alias(f"mh{j}")
            for j, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )
    bands = sig.select(
        "_id",
        *(["_flag"] if flag_col else []),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * band_size + r}").cast("string")
                                for r in range(band_size)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band"),
    )
    return bands.select(
        "_id",
        *(["_flag"] if flag_col else []),
        "band.band_idx",
        "band.band_key",
    )


def _bucket_star(buckets: DataFrame) -> DataFrame:
    """Per-bucket star edges (ids[0], ids[i]) — linear, diameter 2.

    Column-wise shape (hub as a sibling projection of a plain string
    explode) rather than exploding ``_star_expr()``'s array<struct>: one
    fewer per-edge struct allocation, and the r8 interleaved A/B at sf0.1
    measured it marginally faster (9.46 vs 9.83 cpu-s on dedup_clusters;
    see SCALE.md "dedup_clusters CPU bisect"). ``_star_expr`` still exists
    for pairs mode, where the budget needs an array-typed branch inside
    one conditional expansion."""
    return buckets.select(
        F.col("ids")[0].alias("id_a"),
        F.explode(F.slice(F.col("ids"), 2, F.size("ids"))).alias("id_b"),
    )


def _all_pairs_expr():
    """Array<struct<id_a,id_b>> of every in-bucket pair (sorted ids)."""
    return F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _star_expr():
    """Array<struct<id_a,id_b>> of per-bucket star edges (min-id hub)."""
    hub = F.col("ids")[0]
    return F.transform(
        F.slice(F.col("ids"), 2, F.size(F.col("ids"))),
        lambda y: F.struct(hub.alias("id_a"), y.alias("id_b")),
    )


def _bucket_all_pairs(buckets: DataFrame) -> DataFrame:
    return (
        buckets.select(F.explode(_all_pairs_expr()).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 8,
    mode: str = "pairs",
    max_bucket: int | None = 256,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH.

    Returns distinct (id_a, id_b) with id_a < id_b that collide in at least
    one band. The join key (band_idx, band_key) is fine-grained, so the
    shuffle stays balanced; no O(n^2) comparison ever happens.

    ``mode="pairs"`` (default) emits every in-bucket pair — the contract a
    verification stage (n-gram Jaccard, cosine) needs. ``mode="star"``
    emits only (ids[0], ids[i]) per bucket: CONNECTIVITY-equivalent (every
    bucket member is joined through the bucket minimum, so connected
    components are identical) but linear in bucket size instead of
    quadratic, and the resulting graph has per-bucket diameter 2, so
    label propagation converges in a couple of rounds. This is the mode a
    clustering consumer must use at corpus scale: real corpora have
    DEGENERATE buckets (empty documents, boilerplate-only pages share one
    signature), and an m-member degenerate bucket costs m-1 star edges vs
    m(m-1)/2 pair edges — the sf3 stress (SCALE.md) measured 22.5M pair
    edges collapsing to 319k star edges on the same corpus (70x).

    ``max_bucket`` (pairs mode only) is the degenerate-bucket budget: a
    bucket with more than ``max_bucket`` members is (near-)identical text —
    honest near-dup collisions are bounded by the band collision rate —
    so it is routed through star expansion (m-1 edges keyed on the bucket
    minimum) instead of m(m-1)/2 pairs. This caps the worst case a 100 TB
    web crawl hits (the empty-document bucket: millions of members) at
    linear cost while leaving every normal bucket's pair contract intact.
    Downstream verifiers still see every oversized-bucket member at least
    once (paired with the bucket representative); use
    :func:`minhash_lsh_overflow` to audit which buckets were budgeted and
    how many pairs were suppressed. ``max_bucket=None`` disables the
    budget (the pre-r6 behavior).

    **The budget's engagement is observable without a second query**
    (r7 VERDICT #8 — it silently modified the documented all-pairs
    contract): when ``max_bucket`` is set, an ``observe`` node
    (CollectMetrics — rides the existing plan, no extra scan) counts
    oversized buckets and suppressed pairs. After the first action on
    the returned frame, :func:`lsh_budget_stats` reads the numbers, and
    a watcher thread emits a ``logging`` WARNING naming the suppressed
    pair count the moment the action completes. ``minhash_lsh_overflow``
    remains the per-bucket drill-down.

    The budget is applied as ONE conditional expansion expression over a
    single scan of the bucket frame — NOT as filter+union of two branches,
    which makes Catalyst execute the whole signature stage twice (no
    exchange reuse across two scans of an unmaterialized frame; the sf10
    stress measured the 2x directly).
    """
    buckets = _minhash_buckets(df, text_col, id_col, num_hashes, band_size, shingle_n)
    if mode == "star":
        return _bucket_star(buckets).distinct()
    if mode != "pairs":
        raise ValueError(f"unknown mode {mode!r} (pairs|star)")
    if max_bucket is None:
        return _bucket_all_pairs(buckets).distinct()
    from pyspark.sql import Observation

    obs = Observation()
    m = F.size("ids").cast("long")
    oversized = F.size("ids") > max_bucket
    buckets = buckets.observe(
        obs,
        F.coalesce(
            F.sum(F.when(oversized, 1).otherwise(0)), F.lit(0)
        ).alias("oversized_buckets"),
        F.coalesce(
            F.sum(F.when(oversized, (m * (m - 1) / 2 - (m - 1))).otherwise(0))
            .cast("long"),
            F.lit(0),
        ).alias("pairs_suppressed"),
    )
    out = (
        buckets.select(
            F.explode(
                F.when(F.size("ids") <= max_bucket, _all_pairs_expr())
                .otherwise(_star_expr())
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    out._lsh_budget_observation = obs
    _watch_budget(obs, max_bucket)
    return out


def lsh_budget_stats(pairs: DataFrame) -> dict | None:
    """Budget engagement of a pairs-mode :func:`minhash_lsh_pairs` frame:
    ``{"oversized_buckets": n, "pairs_suppressed": n}``, readable after
    the first action on the frame (blocks until one runs). Returns None
    for frames without a budget observation (star mode /
    ``max_bucket=None`` / frames from other producers)."""
    obs = getattr(pairs, "_lsh_budget_observation", None)
    return None if obs is None else dict(obs.get)


#: parked budget watchers (threads waiting on an Observation that may
#: never resolve if its frame is never executed). Daemon threads cost
#: only virtual stack, but a long-lived service planning thousands of
#: never-run frames shouldn't accumulate them — beyond the cap the
#: warning is skipped and ``lsh_budget_stats`` remains the pull surface.
_MAX_BUDGET_WATCHERS = 128
_live_watchers = 0
_watcher_lock = None


def _watch_budget(obs, max_bucket: int) -> None:
    """Daemon thread: the moment the observed frame's first action
    finishes, WARN if the budget suppressed anything — so a pipeline
    owner learns the all-pairs contract was modified without having to
    poll. The thread parks on ``Observation.get`` (never fires if the
    frame is never executed; daemon, so it cannot pin the process)."""
    import threading

    global _live_watchers, _watcher_lock
    if _watcher_lock is None:
        _watcher_lock = threading.Lock()
    with _watcher_lock:
        if _live_watchers >= _MAX_BUDGET_WATCHERS:
            return
        _live_watchers += 1

    def run() -> None:
        global _live_watchers
        try:
            got = dict(obs.get)
        except Exception:
            return  # session shut down before any action
        finally:
            with _watcher_lock:
                _live_watchers -= 1
        if got.get("pairs_suppressed"):
            _LOG.warning(
                "minhash_lsh_pairs degenerate-bucket budget engaged: "
                "%d bucket(s) over max_bucket=%d, %d candidate pair(s) "
                "suppressed (star-routed; connectivity preserved). Run "
                "minhash_lsh_overflow for per-bucket detail, or pass "
                "max_bucket=None for the unbudgeted all-pairs contract.",
                got.get("oversized_buckets", 0),
                max_bucket,
                got["pairs_suppressed"],
            )

    threading.Thread(target=run, daemon=True, name="lsh-budget-watch").start()


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 8,
) -> DataFrame:
    """Incremental-ingest near-dup detection: which INCOMING documents
    (``new_df``) collide with anything already ingested (``corpus_df``)
    or with each other — the question a continuously-growing training
    corpus asks per batch, where re-running all-pairs dedup over the
    full corpus every ingest is unaffordable.

    Returns distinct ``(new_id, dup_of)`` where ``dup_of`` is a bucket
    witness: the bucket's minimum id, or the second-minimum when the new
    document IS the minimum. One witness suffices to flag/route the
    document; edges are LINEAR in new-batch bucket membership — an
    incoming batch landing in a million-member boilerplate bucket emits
    one edge per new member, never the cross product. Ids must be
    disjoint between the two frames (an id present in both pairs with
    itself and is dropped).

    Plan: ONE signature pass over corpus ∪ new (the ``_new`` flag rides
    the aggregate), one bucket groupBy, conditional expansion — no join.
    At 100 TB the corpus side's band rows are a pure function of the
    text, so a production pipeline persists them once (they are exactly
    ``_minhash_bands``'s output) and unions the stored frame instead of
    re-hashing; the operator shape is unchanged.
    """
    u = corpus_df.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        new_df.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_new")
        )
    )
    bands = _minhash_bands(
        u, text_col, id_col, num_hashes, band_size, shingle_n,
        flag_col="_new",
    )
    buckets = (
        bands.groupBy("band_idx", "band_key")
        .agg(
            F.array_sort(
                F.collect_set(
                    F.struct(
                        F.col("_id").alias("id"), F.col("_flag").alias("new")
                    )
                )
            ).alias("arr")
        )
        .filter(
            (F.size("arr") > 1) & F.exists("arr", lambda x: x["new"])
        )
    )
    hub1 = F.col("arr")[0]["id"]
    hub2 = F.col("arr")[1]["id"]
    return (
        buckets.select(
            F.explode(
                F.filter(F.col("arr"), lambda x: x["new"])
            ).alias("x"),
            hub1.alias("_h1"),
            hub2.alias("_h2"),
        )
        .select(
            F.col("x.id").alias("new_id"),
            F.when(F.col("x.id") == F.col("_h1"), F.col("_h2"))
            .otherwise(F.col("_h1"))
            .alias("dup_of"),
        )
        .filter(F.col("dup_of") != F.col("new_id"))
        .distinct()
    )


def minhash_lsh_overflow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 8,
    max_bucket: int = 256,
) -> DataFrame:
    """Audit of degenerate buckets the pairs-mode budget star-routed.

    One row per oversized (band_idx, band_key) bucket:
    (band_idx, band_key, bucket_size, pairs_emitted, pairs_suppressed)
    where pairs_emitted = m-1 star edges and pairs_suppressed =
    m(m-1)/2 - (m-1). At 100 TB this is the operator a pipeline owner runs
    to see how much near-identical mass the budget absorbed.
    """
    buckets = _minhash_buckets(df, text_col, id_col, num_hashes, band_size, shingle_n)
    m = F.size("ids").cast("long")
    return buckets.filter(F.size("ids") > max_bucket).select(
        "band_idx",
        "band_key",
        m.alias("bucket_size"),
        (m - 1).alias("pairs_emitted"),
        (m * (m - 1) / 2 - (m - 1)).cast("long").alias("pairs_suppressed"),
    )


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash fingerprint: per-bit majority vote over token hashes.

    Token j contributes +1 to bit position b if bit b of hash(token) is set,
    else -1; fingerprint bit b is set iff the sum is positive.
    """
    token_hashes = F.transform(F.split(F.trim(text), r"\s+"), lambda t: hash60(t))

    def bit_vote(j: int):
        # Two-arg lambda (PySpark derives lambda arity from the signature).
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1).cast("long")

        return F.aggregate(token_hashes, F.lit(0).cast("long"), merge)

    fingerprint = F.lit(0).cast("long")
    for j in range(bits):  # static unroll: shift amounts must be literals
        fingerprint = fingerprint + F.when(
            bit_vote(j) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return fingerprint


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    block_col: str | None = None,
    band_join: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    With ``band_join`` (the default, and the only 100 TB-safe mode) the
    simhash is split into ``max_hamming + 1`` bit-bands and candidate pairs
    come from an equi-join on (band index, band value). By pigeonhole, two
    hashes within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` bands, so they agree EXACTLY on at least one band —
    recall is exact, results identical to the all-pairs form, but the plan
    is a shuffled hash join (near-linear) instead of an O(n²) cartesian.

    ``block_col`` adds an extra external blocking key (both modes);
    ``band_join=False`` degrades to the naive self-join — only for tiny
    inputs or ground-truth checks.
    """
    df = ensure_parallelism(df)
    sig = df.select(
        F.col(id_col).alias("_id"),
        simhash(F.col(text_col), bits).alias("sh"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    extra_keys = [F.col("a._blk") == F.col("b._blk")] if block_col else []
    if band_join:
        n_bands = max_hamming + 1
        width = bits // n_bands
        # Last band absorbs the remainder so every bit lands in some band.
        offs = [i * width for i in range(n_bands)]
        masks = [
            (1 << (bits - offs[i] if i == n_bands - 1 else width)) - 1
            for i in range(n_bands)
        ]
        bands = sig.select(
            "*",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("sh"), o).bitwiseAND(
                            F.lit(m).cast("long")
                        )
                        for o, m in zip(offs, masks)
                    ]
                )
            ).alias("_band", "_key"),
        )
        a, b = bands.alias("a"), bands.alias("b")
        cand = a.join(
            b,
            [
                F.col("a._band") == F.col("b._band"),
                F.col("a._key") == F.col("b._key"),
                F.col("a._id") < F.col("b._id"),
                *extra_keys,
            ],
        ).select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        # A pair agreeing on k bands surfaces k times — keep one.
        cand = cand.dropDuplicates(["id_a", "id_b"])
        return (
            cand.withColumn(
                "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        )
    a, b = sig.alias("a"), sig.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    return (
        a.join(b, cond)
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("a.sh").bitwiseXOR(F.col("b.sh"))
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard on PRE-GENERATED candidate pairs — the verifier
    stage of the standard dedup pipeline (LSH recalls candidates, exact
    Jaccard confirms them).

    Scale shape: the corpus shingle table is computed once; the candidate
    pair list (tiny relative to the corpus — it is LSH output) is joined to
    it twice on the document id, both ordinary hash equi-joins. Nothing is
    quadratic regardless of block-key cardinality, which is what makes this
    the 100 TB-safe form — ``jaccard_pairs`` below bounds its quadratic
    term only as well as its blocking columns do.
    """
    sh = df.select(
        F.col(id_col).alias("_id"),
        char_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    cand = pairs.select("id_a", "id_b")
    joined = (
        cand.join(sh.select(F.col("_id"), F.col("sh").alias("_sa")), cand.id_a == F.col("_id"))
        .drop("_id")
        .join(sh.select(F.col("_id"), F.col("sh").alias("_sb")), cand.id_b == F.col("_id"))
        .drop("_id")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.array_union(F.col("_sa"), F.col("_sb")))
    return (
        joined.withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity on (optionally blocked) pairs.

    At scale this runs AFTER LSH candidate generation as the verifier —
    never as a full cross join. Blocking columns bound the quadratic term.
    """
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("_id"),
        char_shingles(F.col(text_col), shingle_n).alias("sh"),
        *[F.col(c).alias(f"_blk_{c}") for c in block_cols],
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    for c in block_cols:
        cond = cond & (F.col(f"a._blk_{c}") == F.col(f"b._blk_{c}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        a.join(b, cond)
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "jaccard",
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_split: str = "\n",
) -> DataFrame:
    """Paragraph-level global exact dedup (the C4/RefinedWeb line-dedup
    pass): split each document into paragraphs, keep only the globally
    FIRST occurrence of every distinct paragraph (ordered by (doc, position)),
    and reassemble the surviving text per document.

    Returns (id_col, n_para, n_dropped, clean_md5) where clean_md5
    fingerprints the newline-joined surviving paragraphs in original order.

    Plan shape at 100 TB: the explode is pipeline-local (no shuffle); the
    keeper election is ONE groupBy on the 32-char paragraph fingerprint
    carrying only (fingerprint, min struct(doc,pos)) — paragraph text never
    shuffles with it; the winner join is an equi-join on the fingerprint
    (co-partitioned with the agg, so AQE reuses the exchange); reassembly
    is one groupBy on the doc id. Three shuffles total, all on keys, none
    quadratic.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), para_split)).alias("pos", "para"),
    ).withColumn("para", F.trim(F.col("para")))
    paras = paras.filter(F.col("para") != "").withColumn(
        "fp", F.md5(F.col("para"))
    )
    keepers = paras.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("k")
    )
    marked = paras.join(keepers, "fp").withColumn(
        "kept",
        (F.col(id_col) == F.col("k.d")) & (F.col("pos") == F.col("k.p")),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_para"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kept"),
                                    F.struct(F.col("pos"), F.col("para")),
                                )
                            )
                        ),
                        lambda s: s["para"],
                    ),
                    "\n",
                )
            ).alias("clean_md5"),
        )
        .select(
            F.col(id_col),
            F.col("n_para").cast("long").alias("n_para"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
            "clean_md5",
        )
    )


def exact_substring_duplication(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 40,
    stride: int = 10,
    skew_safe: bool = True,
    cache=None,
) -> DataFrame:
    """ExactSubstr-style duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): sample character grams
    of length ``gram`` every ``stride`` positions; a gram whose
    fingerprint occurs more than once in the corpus marks its span as
    duplicated text. Returns per document (docs with at least one gram):
    (doc_id, n_grams, n_dup_grams, dup_ratio).

    This is the SUBSTRING-level signal minhash/simhash miss: a unique
    page quoting a long duplicated passage scores low on whole-document
    similarity but high here.

    Plan shape at 100 TB: ONE int-position explode (the text column never
    shuffles — only 32-char fingerprints do), one per-gram count, one
    per-document aggregate. Nothing quadratic: a pathological gram shared
    by m documents costs m rows, not m^2 pairs.

    Default (``skew_safe=True``, r9): the grams frame PERSISTS and the
    per-gram count comes from ``groupBy("_g").count()`` joined back on
    the gram key. Unlike tfidf's vocabulary, gram cardinality is
    corpus-sized, so the join-back is a plain shuffle join (not
    broadcast): map-side partials bound the aggregate and AQE's
    skew-join split handles a boilerplate gram owned by half the crawl.
    The persist keeps the single-explode property
    (the self-referencing join otherwise made Catalyst run the
    explode+md5 twice — no exchange reuse across two column-pruned scans
    of an unmaterialized frame; the r6 defect class). Cache lifetime:
    pass an ``operators.caching.CacheHandle`` as ``cache`` and unpersist
    through it — same contract as ``tf_idf_top_terms`` (the legacy
    ``._grams_cache`` attribute is also set, but attributes do not
    survive DataFrame transformations).

    ``skew_safe=False`` is the r6-r8 shape: the count as
    ``count(1) over (partition by _g)`` — no materialization, one fewer
    shuffle, but every row of one gram lands in a single task with no
    map-side partial and no AQE mitigation (AQE cannot split window
    skew). A header/footer boilerplate gram shared by a large fraction
    of documents becomes the straggler at corpus scale — the same class
    as tfidf's per-token window (r8 VERDICT)."""
    from pyspark.sql import Window

    grams = (
        df.filter(F.length(text_col) >= gram)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length(text_col) - (gram - 1),
                    F.lit(stride),
                )
            ).alias("_i"),
            F.col(text_col).alias("_t"),
        )
        .select(
            id_col,
            F.md5(F.substring(F.col("_t"), F.col("_i"), gram)).alias("_g"),
        )
    )
    cached = None
    if skew_safe:
        from pyspark import StorageLevel

        cached = grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        per_gram = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_c"))
        marked = grams.join(per_gram, "_g")
    else:
        marked = grams.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("_g"))
        )
    out = (
        marked
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
            F.round(
                F.sum(F.when(F.col("_c") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )
    # caller owns the cache lifetime (see docstring)
    if cache is not None:
        cache.register(cached)
    out._grams_cache = cached
    return out
