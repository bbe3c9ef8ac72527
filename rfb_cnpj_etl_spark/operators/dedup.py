"""Keyed dedup operators — the CDC core plus document-level near-dup.

CDC side (reference parity):

* ``last_writer_wins``   ← M2 window dedup (utils/db_patch.py:60-87) with
  the CDC total order: per key keep max ``lsn`` (delete-first on ties —
  the reference tie-broke on physical ctid, which has no Spark analog;
  SURVEY §7.4.2).
* ``first_writer_wins``  ← M1 ``INSERT OR IGNORE`` intent
  (db/sqlite_loader.py:56).
* ``prioritized_dedup``  ← M2's exact semantic: prefer rows with a
  non-empty payload column, then the total order.

Training-data side (documents table): exact, n-gram Jaccard, MinHash-LSH
and SimHash near-duplicate detection — all expressed as DataFrame
compositions (shuffle-conscious: LSH turns the O(n²) pair space into a
band-bucket equi-join).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..schema import OP_DELETE, OP_UPSERT
from . import publish
from .store import (
    FIRST,
    NEXT,
    WINDOW,
    BucketedParquetStore,
    TouchedSetMismatchError,
    dir_bytes,
    key_bucket,
    write_windows,
)

# ---------------------------------------------------------------------------
# CDC dedup
# ---------------------------------------------------------------------------


def _order_cols(lsn_col: str, delete_first_col: str | None) -> list[Column]:
    order = [F.col(lsn_col).desc()]
    if delete_first_col:
        # total order on (lsn DESC, delete-before-upsert): a delete and an
        # upsert sharing an LSN resolve to the delete, deterministically.
        order.append(
            F.when(F.col(delete_first_col) == OP_DELETE, 0).otherwise(1).asc()
        )
    return order


def last_writer_wins(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    op_col: str | None = "op",
) -> DataFrame:
    """Per key keep the row with the highest LSN (the CDC watermark
    dedup). One shuffle on the key columns; Catalyst plans a single
    window exchange."""
    w = Window.partitionBy(*keys).orderBy(*_order_cols(lsn_col, op_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_writer_wins(
    df: DataFrame, keys: list[str], lsn_col: str = "lsn"
) -> DataFrame:
    """Per key keep the row with the lowest LSN (INSERT OR IGNORE intent,
    db/sqlite_loader.py:56)."""
    w = Window.partitionBy(*keys).orderBy(F.col(lsn_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def prioritized_dedup(
    df: DataFrame,
    keys: list[str],
    prefer_nonempty: str,
    tiebreak_col: str = "lsn",
    tiebreak_desc: bool = True,
) -> DataFrame:
    """M2 exact semantic (utils/db_patch.py:60-87): per key prefer rows
    where ``prefer_nonempty`` is non-NULL and non-blank, then the
    deterministic tiebreak (reference: physical ctid; here: lsn).
    """
    pref = (
        F.when(
            F.col(prefer_nonempty).isNotNull()
            & (F.trim(F.col(prefer_nonempty)) != ""),
            0,
        )
        .otherwise(1)
        .asc()
    )
    tie = F.col(tiebreak_col).desc() if tiebreak_desc else F.col(tiebreak_col).asc()
    w = Window.partitionBy(*keys).orderBy(pref, tie)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_writer_wins_agg(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    op_col: str | None = "op",
) -> DataFrame:
    """LWW as a hash aggregate: ``max_by(row, (lsn, delete-priority))``
    per key.

    Same result as :func:`last_writer_wins` but a fundamentally better
    physical plan for the MERGE hot path: a hash aggregate instead of a
    sort-based window — no per-partition sort, and Catalyst's map-side
    partial aggregation collapses every key to ONE row per map task
    before the shuffle. That partial-agg step is also the skew story:
    a hot key (one repo = 50% of events) reduces map-side, so no
    explicit salting is needed on this path (the two-phase salted
    window remains for order-sensitive dedups like prioritized_dedup).
    """
    prio = (
        F.when(F.col(op_col) == OP_DELETE, 1).otherwise(0)
        if op_col
        else F.lit(0)
    )
    order_key = F.struct(F.col(lsn_col).alias("__lsn"), prio.alias("__p"))
    payload = F.struct(*[F.col(c) for c in df.columns])
    winners = df.groupBy(*keys).agg(F.max_by(payload, order_key).alias("__row"))
    return winners.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


def last_writer_wins_salted(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    op_col: str | None = "op",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-resistant LWW dedup (SURVEY §7.4.4, P7 analog).

    A hot key (one repo = 50% of events) makes the plain window dedup a
    single straggler task. Phase 1 partial-dedups within
    ``(key, lsn % salt_buckets)`` — the hot key's rows split across
    ``salt_buckets`` tasks, mirroring map-side partial aggregation.
    Phase 2 runs the exact window over at most ``salt_buckets`` rows per
    key. Same result as ``last_writer_wins`` (the max over group maxima
    is the global max); ~1/salt_buckets the straggler size.
    """
    salted = df.withColumn(
        "__salt", (F.col(lsn_col) % F.lit(salt_buckets)).cast("int")
    )
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*_order_cols(lsn_col, op_col))
    partial = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__salt")
    )
    return last_writer_wins(partial, keys, lsn_col, op_col)


# ---------------------------------------------------------------------------
# Document dedup (training-data pipeline)
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: keep the lowest id per sha256 group.

    Hash first so the shuffle key is a fixed-width digest, not the full
    document — at 100 TB this is the difference between shuffling 32-byte
    keys and shuffling the corpus.
    """
    hashed = df.withColumn("__h", F.sha2(F.col(content_col), 256))
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def _shingles(col: Column, k: int) -> Column:
    """Distinct word k-shingles of a text column as array<string>.

    Built as ONE arrays_zip of k shifted token slices + a per-element
    concat_ws — higher-order array lambdas are interpreted (not
    codegen'd), so the per-position ``slice + array_join`` formulation
    allocates a fresh sub-array per shingle and measures ~4× slower than
    this zip at sf0.1 (identical output, A/B-checksummed).
    """
    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda t: F.length(t) > 0)
    if k == 1:
        # unigram fast path: the shingle set IS the distinct token set.
        return F.array_distinct(toks)
    n = F.size(toks)
    m = F.greatest(n - k + 1, F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])
    sh = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.array_join(toks, " ")))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 50,
    cache: bool = True,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle (so only pairs sharing ≥1 shingle are ever materialized),
    count common shingles per pair, then Jaccard = |∩| / (|A|+|B|-|∩|).
    Returns (id_a, id_b, jaccard) with id_a < id_b. The shingle join is
    the scalable formulation — no O(n²) cross join.

    ``max_df`` is the posting-list cap that makes the join survive
    100×: a shingle appearing in d documents fans out into d(d−1)/2
    pair rows, so one boilerplate shingle shared by 10⁶ docs would emit
    5·10¹¹ rows. Shingles with document frequency > max_df are removed
    from the shingle space entirely — from the postings AND the per-doc
    sizes — so the result is the exact Jaccard over the
    discriminative (df ≤ max_df) shingles. Near-stopword shingles
    carry no pair-level signal (they are shared by construction), which
    is why posting-list truncation is the standard formulation
    (cf. CCNet/SlimPajama-style dedup); ``max_df=None`` restores the
    uncapped exact semantics. Per-shingle fanout is bounded by
    max_df²/2 rows.
    """
    # Postings carry xxhash64(shingle), not the shingle text: the
    # inverted-index join/aggregations then run over fixed-width longs
    # instead of ~25-byte strings (smaller shuffle, cheaper compares).
    # Distinct shingles per doc are hashed AFTER array_distinct, so the
    # set semantics are exact up to 64-bit collisions (~|shingles|²/2⁶⁴,
    # negligible at any scale this join survives).
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(content_col), k)).alias("sh_txt"),
    ).select("id", F.xxhash64("sh_txt").alias("sh"))
    if max_df is not None:
        # hash-aggregate the document frequency (map-side combine — a hot
        # shingle collapses per task, so the df pass itself cannot skew),
        # keep only the OVER-cap shingles (a set bounded by
        # postings/max_df, tiny in practice) and anti-join them away.
        # NOT a window count: that would sort every posting and put a hot
        # shingle's whole posting list in one task — the exact straggler
        # the cap exists to prevent. When nothing exceeds the cap, AQE's
        # empty-relation rule erases the anti-join at runtime.
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
    # the posting list feeds THREE consumers (per-doc sizes + both join
    # sides) and shingle construction is the expensive part (higher-order
    # array expressions are interpreted, not codegen'd) — cache it once.
    sh = _cache_bounded("ngram_postings", sh, cache)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Mersenne prime 2^31−1: the modulus of the md5-affine universal hash
#: family. Products a·base stay < 2^62 → no int64 overflow in Spark OR
#: DuckDB (DuckDB raises on BIGINT overflow; Spark silently wraps —
#: either would break cross-engine parity).
HASH_P31 = 2_147_483_647


def affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients of the affine lanes
    h_i(x) = (a_i·x + b_i) mod P31. Driver-side tiny; the SAME literals
    are inlined into the DuckDB oracle SQL."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, HASH_P31), rng.randrange(0, HASH_P31))
        for _ in range(num_hashes)
    ]


def md5_base60(col: Column) -> Column:
    """60-bit positive int64 from the first 15 hex chars of md5(value) —
    the cross-engine base hash (DuckDB twin:
    ``CAST('0x' || substr(md5(v), 1, 15) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures from word k-shingles.

    Hash families:

    * ``xxhash64`` (default, production): xxhash64(shingle, seed=i) —
      fastest, fully JVM, but engine-internal (no DuckDB twin).
    * ``md5``: ONE md5 per shingle → 60-bit base → ``num_hashes``
      affine lanes (a_i·base + b_i) mod P31. Every step exists in
      DuckDB, so signatures (hence LSH pairs) are value-checkable by
      the oracle; ~one extra hash per shingle vs per-lane hashing.

    Plan shape: explode shingles once, then ONE groupBy with
    ``num_hashes`` min() aggregates — the shingle array is built exactly
    once per row (an inline array<expr> of array_mins would rebuild it
    per hash lane; Catalyst's subexpression elimination doesn't reach
    across aggregate lanes), and map-side partial aggregation means the
    shuffle carries num_hashes longs per doc, not the shingles.
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(content_col), k)).alias("s"),
    )
    if hash_family == "xxhash64":
        lanes = [F.xxhash64("s", F.lit(i)) for i in range(num_hashes)]
    elif hash_family == "md5":
        base = md5_base60(F.col("s")) % F.lit(HASH_P31)
        lanes = [
            (F.lit(a) * base + F.lit(b)) % F.lit(HASH_P31)
            for a, b in affine_params(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    sig = hashed.groupBy("id").agg(
        *[F.min(lane).alias(f"h{i}") for i, lane in enumerate(lanes)]
    )
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


#: most-recently cached signature/sketch DF per (session, operator) —
#: unpersisted on the NEXT call so repeated invocations in one session
#: don't accumulate executor memory (the returned DataFrame is lazy, so
#: the current call's cache must outlive the function; bounding to one
#: live cache per operator is the practical fix). Keying by session id
#: means a second SparkSession never evicts (or retains) the first's
#: caches. Two deliberate consequences remain: (1) after the LAST call,
#: one cache per operator stays resident until
#: :func:`release_operator_caches` (or session stop) — call it from
#: long-lived drivers once results are materialized; (2) interleaving two
#: UNmaterialized results of the same operator in one session (build A,
#: build B, then collect A) loses A's cache and recomputes — materialize
#: each result before building the next, pass ``cache=False`` and manage
#: persistence yourself, or persist it yourself.
_LIVE_CACHES: dict[tuple[int, str], DataFrame] = {}


def _cache_bounded(tag: str, df: DataFrame, cache: bool = True) -> DataFrame:
    if not cache:
        return df
    key = (id(df.sparkSession), tag)
    prev = _LIVE_CACHES.get(key)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001 — a stopped session is fine
            pass
    _LIVE_CACHES[key] = df.cache()
    return _LIVE_CACHES[key]


def release_operator_caches() -> None:
    """Unpersist every operator-held cache (see _LIVE_CACHES note)."""
    for key in list(_LIVE_CACHES):
        df = _LIVE_CACHES.pop(key)
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — a stopped session is fine
            pass


def band_key(b: int, rows: int, hash_family: str) -> Column:
    """Band ``b`` (``rows`` lanes) of ``sig``: the joined lane string
    for the md5 (oracle-parity) family — xxhash64 has no DuckDB twin —
    and its xxhash64 compression for the engine family."""
    joined = F.array_join(
        F.transform(F.slice("sig", b * rows + 1, rows), lambda x: x.cast("string")),
        ",",
    )
    return joined if hash_family == "md5" else F.xxhash64(joined)


def band_explode(
    sigs: DataFrame, num_hashes: int, bands: int, hash_family: str
) -> DataFrame:
    """(id, sig) → one (id, sig, band, bucket) row per band, the bucket
    being :func:`band_key`. The :data:`~.store.WINDOW` and
    :data:`~.store.NEXT` columns ride along."""
    r = num_hashes // bands
    keep = [c for c in ("id", "sig", WINDOW, NEXT) if c in sigs.columns]
    return sigs.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(b, r, hash_family).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    cache: bool = True,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs, verified by signature
    similarity.

    shingle → minhash signature (num_hashes) → split into ``bands`` bands
    of r = num_hashes/bands rows → bucket-join on (band_id, band_hash) →
    estimate Jaccard as fraction of agreeing minhashes → filter.
    The band join is the scale path: candidate pairs only, never n².

    ``hash_family='md5'`` makes the whole pipeline DuckDB-expressible
    (band key = the joined lane string instead of its xxhash64), so the
    driver oracle can value-check the pairs.
    """
    assert num_hashes % bands == 0
    sig = _cache_bounded(
        "minhash_sig",
        minhash_signatures(df, content_col, id_col, k, num_hashes, hash_family),
        cache,
    )
    banded = band_explode(sig, num_hashes, bands, hash_family)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = cand.withColumn(
        "est_jaccard",
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_hashes),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


def simhash_bits(hash_family: str) -> int:
    """Sketch width per family: 64 for xxhash64; 60 for the md5 base
    (15 hex chars → 60 bits, the largest width both engines parse into a
    positive int64)."""
    return 60 if hash_family == "md5" else 64


class _LwwIndexStore(BucketedParquetStore):
    """Bucketed parquet store whose merge-on-read fold is LWW by
    ``fold_keys`` over a per-ingest sequence column with delete
    tombstones (the fold, estimates, mode decision and guard are
    :class:`BucketedParquetStore`'s). Adds the sequence allocator."""

    #: delta-vintage sequence, persisted in base rows too so a stale
    #: (crash-window) delta can never outrank a base row that already
    #: folded it — the base always carries a seq ≥ any delta row it
    #: absorbed.
    SEQ_COL = "iseq"
    OP_COL = "iop"

    def __init__(
        self, spark, path, buckets, bucket_keys, fold_keys,
        commit_protocol: str = "rename",
    ):
        super().__init__(
            spark, path, buckets, bucket_keys=bucket_keys,
            prefer_marker=True, commit_protocol=commit_protocol,
            fold=(fold_keys, self.SEQ_COL, self.OP_COL),
        )
        self._next_seq = int(self._read_marker().get("next_seq", 0))

    def _meta_payload(self) -> dict:
        p = super()._meta_payload()
        # seq lives in the BASE marker, not the delta marker: the delta
        # root is dropped on rebucket/compact and the counter must stay
        # monotonic across those (a reset would let old base rows
        # outrank fresh deltas).
        p["next_seq"] = self._next_seq
        return p

    def allocate_seq(self) -> int:
        """Next delta-vintage sequence (persisted before use; a crash
        after the bump burns a number, which is harmless)."""
        seq = self._next_seq
        self._next_seq = seq + 1
        self._write_meta()
        return seq

    def with_seq(self, df: DataFrame, default: int = -1) -> DataFrame:
        """Guarantee a non-NULL seq column (legacy rows and raw pre-seq
        base files read as ``default``)."""
        if self.SEQ_COL not in df.columns:
            return df.withColumn(self.SEQ_COL, F.lit(default).cast("long"))
        return df.withColumn(
            self.SEQ_COL,
            F.coalesce(
                F.col(self.SEQ_COL).cast("long"), F.lit(default).cast("long")
            ),
        )

    def _base_rows(self, base: DataFrame) -> DataFrame:
        return self.with_seq(base)


class MinhashIndex:
    """Incrementally maintained MinHash index — near-dup detection as
    part of ingest, not as a periodic full recompute.

    At 100 TB the all-pairs (even banded) recomputation over the whole
    corpus per drop is the real cost; what changes per CDC batch is a
    sliver of documents. Round 2 kept one flat parquet dir and rewrote
    (and re-banded) ALL of it every batch — O(corpus) I/O per
    micro-batch, the layout this round replaces. The index is now TWO
    bucket-partitioned stores riding :class:`BucketedParquetStore`
    (operators/store.py — StateTable's exact layout, swap and recovery
    protocol):

    * ``{path}/sig``  — signatures ``(id, sig)``, partitioned by
      ``pmod(xxhash64(id), B)``: the upsert/delete side. An update
      rewrites only the id-buckets the batch's changed ids hash to.
    * ``{path}/post`` — PRE-BANDED postings ``(band, bkey, id, sig)``,
      partitioned by ``pmod(xxhash64(band, bkey), B)``: the lookup side.
      ``incremental_pairs`` prunes the index scan to the partitions the
      new side's (band, bkey) keys hash to, instead of band-exploding
      the whole corpus per call; an update rewrites only the partitions
      holding the changed ids' old or new band keys (the old band keys
      are recovered from the stored signatures BEFORE the swap, so
      stale postings of a changed/deleted doc are removed exactly).

    Per-batch I/O is therefore O(touched buckets) ≈
    O(batch × (1 + bands) × bucket_size), never O(corpus) — the
    reference's touch-only-what-changed batch-ratio knob
    (``config.py:31-34``) applied to the dedup index.

    Cross-store atomicity: both stagings are written first (reading only
    pre-update state), then a swap journal is committed
    (``_swap_journal.json``, atomic rename), then both stores' buckets
    are swapped. A crash anywhere is redone from the journal at the
    next construction (swaps are recorded with their staged-bucket sets,
    so completed swaps are skipped and emptied buckets are still
    emptied) — the round-2 ADVICE hole (a crash mid-rename silently
    dropping the whole index) is closed by construction.
    """

    JOURNAL = "_swap_journal.json"

    def __init__(
        self,
        spark,
        path: str,
        k: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        hash_family: str = "xxhash64",
        buckets: int = 64,
        commit_protocol: str = "rename",
    ) -> None:
        assert num_hashes % bands == 0
        self.spark = spark
        self.path = path
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.hash_family = hash_family
        #: fresh-store default only — each store's swapped-with-the-data
        #: layout marker is the ground truth for its own B
        #: (prefer_marker), so the two stores can be rebucketed
        #: independently by maintenance and still reopen correctly.
        #: commit_protocol likewise: each store's marker records it.
        self.buckets = buckets
        os.makedirs(path, exist_ok=True)
        self.sig_store = _LwwIndexStore(
            spark,
            os.path.join(path, "sig"),
            buckets,
            bucket_keys=["id"],
            fold_keys=["id"],
            commit_protocol=commit_protocol,
        )
        self.post_store = _LwwIndexStore(
            spark,
            os.path.join(path, "post"),
            buckets,
            bucket_keys=["band", "bkey"],
            fold_keys=["band", "bkey", "id"],
            commit_protocol=commit_protocol,
        )
        self._check_params_marker()
        self._recover_journal()

    @classmethod
    def open(cls, spark, path: str, **defaults) -> "MinhashIndex":
        """Reopen an existing index with its RECORDED hash parameters
        (``_index_meta.json``) — the stores' layout markers already
        govern their bucket counts. ``defaults`` apply only to a fresh
        index (no params marker yet). This is what the CLI uses so a
        non-default index is resumable/maintainable without replaying
        its parameters on the command line."""
        stored = publish.read_json(os.path.join(path, cls.PARAMS_FILE))
        return cls(spark, path, **{**defaults, **(stored or {})})

    PARAMS_FILE = "_index_meta.json"

    def _check_params_marker(self) -> None:
        """Signatures are only comparable under identical hash
        parameters: reopening an index with different (k, num_hashes,
        bands, hash_family) would silently join fresh signatures against
        incompatible stored ones — fail loudly instead (same ground-
        truth-marker pattern as the stores' bucket count)."""
        params = {
            "k": self.k,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "hash_family": self.hash_family,
        }
        marker = os.path.join(self.path, self.PARAMS_FILE)
        stored = publish.read_json(marker)
        if stored is None:
            publish.write_json(marker, params)
        elif stored != params:
            raise ValueError(
                f"MinhashIndex at {self.path} was built with {stored} "
                f"but reopened with {params}; delete the index to "
                "change hash parameters (stored signatures are not "
                "comparable across parameter sets)"
            )

    # -- crash recovery --------------------------------------------------

    def _journal_path(self) -> str:
        return os.path.join(self.path, self.JOURNAL)

    def _recover_journal(self) -> None:
        """Redo a crashed two-store commit from the journal by re-running
        each store's :meth:`BucketedParquetStore.commit_staged` with the
        journaled (staging, touched, staged, token) — commit_staged is
        redo-safe under BOTH protocols (rename: consumed buckets are
        skipped; pointer: same-token copies are idempotent and a dropped
        staging means done). Re-crashing mid-redo just redoes less next
        time."""
        jp = self._journal_path()
        journal = publish.read_json(jp)
        if journal is None:
            return
        for ent in journal["stores"]:
            store = (
                self.sig_store if ent["store"] == "sig" else self.post_store
            )
            store.commit_staged(
                ent["staging"],
                ent["touched"],
                staged=ent["staged"],
                token=ent.get("token"),
            )
            # The COW batch folded the touched buckets' deltas into the
            # rewritten base — clear them here exactly as the normal
            # path does after its commits. Leaving them would let a
            # stale MOR UPSERT outlive a COW DELETE of the same id: the
            # delete removes the base row entirely, so there is no
            # newer-seq base row for the seq-LWW fold to outrank the
            # stale delta with, and the id is resurrected (then folded
            # into the base permanently by the next compact/rebucket).
            store.clear_delta_buckets(ent["touched"])
        os.remove(jp)

    # -- helpers ---------------------------------------------------------

    def exists(self) -> bool:
        return self.sig_store.exists()

    def signatures(self) -> DataFrame:
        return self.sig_store.read().select("id", "sig")

    def _sigs_of(self, docs: DataFrame, content_col: str, id_col: str) -> DataFrame:
        return minhash_signatures(
            docs, content_col, id_col, self.k, self.num_hashes, self.hash_family
        )

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(id, sig) → pre-banded posting rows (band, bkey, id, sig)."""
        return band_explode(
            sigs, self.num_hashes, self.bands, self.hash_family
        ).withColumnRenamed("bucket", "bkey")

    def _sig_bucket(self) -> Column:
        return self.sig_store.bucket_col()

    def _post_bucket(self) -> Column:
        return self.post_store.bucket_col()

    @staticmethod
    def _distinct_buckets(df: DataFrame, bucket_col: Column) -> list[int]:
        """The ≤ B distinct values of ``bucket_col`` over ``df``, observed
        as a ``collect_set`` metric by a no-op write: no shuffle, so one
        job besides ``df``'s own broadcasts (a distinct collect, the
        fallback when AQE drops the metrics node, takes two)."""
        obs = Observation()
        df.observe(obs, F.collect_set(bucket_col).alias("b")).write.format("noop").mode(
            "overwrite"
        ).save()
        try:
            return sorted(obs.get["b"])
        except Exception:  # noqa: BLE001 — AQE may prune the metrics node
            return sorted(r["b"] for r in df.select(bucket_col.alias("b")).distinct().collect())

    # -- write path ------------------------------------------------------

    #: sidecar recording a published pairs dir's row count
    PAIRS_META = "_pairs_meta.json"

    def ingest(
        self,
        docs: DataFrame,
        content_col: str = "text",
        id_col: str = "doc_id",
        deleted_ids: DataFrame | None = None,
        threshold: float = 0.5,
        compute_pairs: bool = True,
        pairs_out: str | list[str] | None = None,
        max_fanout: int | None = None,
        mode: str = "auto",
        batch_rows: int | None = None,
    ) -> tuple[dict, DataFrame | None]:
        """One index micro-batch, or a group of consecutive ones: upsert
        ``docs``' signatures, drop ``deleted_ids``, and (optionally)
        return the near-dup pairs that become detectable with it (pairs
        touching ≥1 new doc). Returns ``(metrics, pairs_df_or_None)``;
        ``metrics['pairs']`` (per window: ``window_pairs``) counts them
        with no extra job. Idempotent: re-running after a crash
        converges to the same stores and the same pairs.

        **Windows.** ``pairs_out`` lists one dir per window of a group
        (``CdcEngine.apply_batch``; a dir string is a group of one), and
        ``docs`` and ``deleted_ids`` then carry, one row per id and
        window, the window index in :data:`~.store.WINDOW` and the id's
        :data:`~.store.NEXT` and :data:`~.store.FIRST`
        (:meth:`StateTable.batch_winners`). Window j's pairs meet the
        postings live after window j (:meth:`_live`); one write,
        partitioned by window, produces them all, and the stores then
        take each id's last-window row once.

        **Pairs before mutation.** Every pairs dir is published
        (:func:`publish.publish_each`, its count in the
        :attr:`PAIRS_META` sidecar) BEFORE either store mutates, and a
        dir already published is reused without a write, its count read
        from the sidecar (``pairs_reused`` when all are): after a crash
        past the ingest the index holds the group's net rows, and pairs
        recomputed against it would meet later windows' documents. A dir
        without the sidecar was never published (or predates it), so it
        is removed and recomputed.
        Without ``pairs_out`` they are collected to the driver before
        the stores mutate. Either way the returned frame never depends
        on store buckets a later ``ingest`` rewrites.

        ``mode`` picks the write strategy (the state table's COW/MOR
        split, operators/merge.py, applied to the index):

        * ``"cow"`` — rewrite the touched buckets whole (bulk path;
          anti-join + union is a fixed point, so replays converge).
        * ``"mor"`` — append the batch as per-bucket DELTA files —
          upserts plus delete tombstones for removed ids and vacated
          band keys — O(batch) write I/O with no base rewrite; reads
          fold base + deltas by (key, ingest-seq) LWW. This is the
          steady-state small-churn path: a COW batch of uniformly
          spread ids over any B touches every bucket and rewrites the
          whole index to apply a sliver of it.
        * ``"auto"`` — the store's one decision
          (:meth:`BucketedParquetStore._choose_mode`) on the sig store:
          MOR iff the batch is small relative to the touched sig
          buckets' row estimates and no touched bucket has hit the
          delta-file cap. The index also checks its posting store's
          touched buckets against the cap, and without ``batch_rows``
          counts the changed ids (one Spark job).

        MOR crash ordering: the posting delta is appended BEFORE the
        signature delta. Vacated-key tombstones are derived from the
        CURRENT stored signatures, so they are only reproducible on a
        crash-replay while the sig store still holds the pre-batch
        rows; appends themselves are redo-idempotent (a replay appends
        the same logical rows under a fresh seq and the fold keeps the
        newer, identical content).
        """
        if mode not in ("auto", "cow", "mor"):
            raise ValueError(f"unknown ingest mode {mode!r}")
        outs = [pairs_out] if isinstance(pairs_out, str) else list(pairs_out or [])
        k = max(len(outs), 1)

        # Materialize the batch signatures ONCE (:meth:`_snapshot`,
        # which also observes the touched buckets): the old-key probe,
        # the pair probe and the two staging writes then plan against a
        # trivial scan instead of re-deriving the wide shingle-explode +
        # min-lane aggregation (measured at sf0.1, re-planning it
        # dominated the ingest, ~2× end-to-end). Deterministic from the
        # batch, so a crash-replay recomputes it identically. No leading
        # "_" in the name: Spark's file index hides such paths. Removed
        # after the store writes, its last consumer.
        snap = os.path.join(self.path, "batch-sigs.tmp")
        snapshot, touched_sig, new_post = self._snapshot(
            docs, content_col, id_col, deleted_ids, snap, k
        )
        # the stores take each id's row of its last window
        net = snapshot.filter(F.col(NEXT) == k).select("id", "sig")
        new_sigs = net.filter(F.col("sig").isNotNull())
        changed = net.select("id")

        # Current stored signatures of the changed ids (pre-update
        # state, bucket-pruned) — shared by both write paths: the COW
        # path merges against them; both paths derive the changed ids'
        # OLD band keys from them (exact stale-posting removal /
        # vacated-key tombstones), and their posting buckets join
        # ``touched_post`` BEFORE the COW/MOR decision — the delta-cap
        # check must look at the posting buckets this batch touches.
        try:
            cur = self.sig_store.with_seq(self.sig_store.read_buckets(touched_sig))
        except ValueError:
            cur = None  # no base and no touched delta: nothing stored yet
        new_banded = self._banded(new_sigs)
        old_banded, touched_post = new_banded.limit(0), new_post
        if cur is not None:
            old_banded = self._banded(cur.join(changed, "id", "leftsemi"))
            old_post = self._distinct_buckets(old_banded, self._post_bucket())
            touched_post = sorted({*new_post, *old_post})

        pairs, found = None, {}
        if compute_pairs:
            plan = self._pairs_for(
                *self._live(snapshot, new_post, k), threshold, max_fanout
            )
            schema = plan.drop(WINDOW).schema
            if outs:
                for out in outs:
                    if os.path.isdir(out) and not os.path.exists(
                        os.path.join(out, self.PAIRS_META)
                    ):
                        shutil.rmtree(out)

                def write(staging: str) -> list[tuple[str, dict]]:
                    return [
                        (p, {"rows": n})
                        for p, n in write_windows(plan, staging, k, _write_pairs)
                    ]

                res = publish.publish_each(outs, write, self.PAIRS_META)
                counts = [int(r.get("rows") or 0) for r in res]
                found = {"pairs": sum(counts), "window_pairs": counts, "pairs_path": pairs_out}
                if all(r["reused"] for r in res):
                    found["pairs_reused"] = True
                pairs = self.spark.read.schema(schema).parquet(*outs)
            else:
                collected = plan.drop(WINDOW).collect()
                found = {"pairs": len(collected)}
                pairs = self.spark.createDataFrame(collected, schema)

        rows = changed.distinct().count if batch_rows is None else batch_rows
        chosen = self.sig_store._choose_mode(mode, touched_sig, rows)
        if mode == "auto" and chosen == "mor" and self.post_store._capped(
            touched_post
        ):
            chosen = "cow"
        if chosen == "mor":
            metrics = self._ingest_mor(
                net, touched_sig, touched_post, old_banded, new_banded
            )
        else:
            metrics = self._ingest_cow(
                new_sigs, changed, touched_sig, touched_post, cur,
                new_banded,
            )
        # last consumer of the signature snapshot has run — drop it so a
        # long replay doesn't keep one stale snapshot per index forever
        shutil.rmtree(snap, ignore_errors=True)
        return {**metrics, **found}, pairs

    def _snapshot(
        self,
        docs: DataFrame,
        content_col: str,
        id_col: str,
        deleted_ids: DataFrame | None,
        path: str,
        k: int = 1,
    ) -> tuple[DataFrame, list[int], list[int]]:
        """Write the batch's ``(id, WINDOW, NEXT, FIRST, sig)`` rows,
        deleted ids as NULL-sig rows, to ``path``: one per id and window
        of the ``k``, ``NEXT`` being ``k`` on the id's last (one window:
        0, 1 and true). Returns the snapshot (read back with the schema
        just written) and, observed by the write as ``collect_set``
        metrics, the sig buckets of every changed id and the posting
        buckets of the new band keys (collected when AQE drops the
        metrics node, as in ``BucketedParquetStore._stage``)."""

        def chain(df: DataFrame) -> list[Column]:
            if WINDOW in df.columns:
                return [F.col(WINDOW), F.coalesce(NEXT, F.lit(k)).alias(NEXT), F.col(FIRST)]
            return [F.lit(0).alias(WINDOW), F.lit(k).alias(NEXT), F.lit(True).alias(FIRST)]

        # the signature of each (id, window) doc: a struct key groups them
        key = F.struct(F.col(id_col).alias("id"), *chain(docs)).alias("key")
        sigs = self._sigs_of(docs.select(key, content_col), content_col, "key")
        sigs = sigs.select("id.*", "sig")
        if deleted_ids is not None:
            no_sig = F.lit(None).cast(sigs.schema["sig"].dataType).alias("sig")
            sigs = sigs.unionByName(
                deleted_ids.select(
                    F.col(deleted_ids.columns[0]).alias("id"), *chain(deleted_ids), no_sig
                )
            )
        has_sig = F.col("sig").isNotNull()
        r, nb = self.num_hashes // self.bands, self.post_store.buckets
        post_buckets = [
            key_bucket([F.lit(b), band_key(b, r, self.hash_family)], nb)
            for b in range(self.bands)
        ]
        obs = Observation()
        sigs.observe(
            obs,
            F.collect_set(self._sig_bucket()).alias("sig"),
            *[
                F.collect_set(F.when(has_sig, pb)).alias(f"post{b}")
                for b, pb in enumerate(post_buckets)
            ],
        ).write.mode("overwrite").parquet(path)
        snapshot = self.spark.read.schema(sigs.schema).parquet(path)
        try:
            got = obs.get
            new_post = set().union(*(got[f"post{b}"] for b in range(self.bands)))
            return snapshot, sorted(got["sig"]), sorted(new_post)
        except Exception:  # noqa: BLE001 — AQE may prune the metrics node
            banded = self._banded(snapshot.filter(has_sig))
            sig_b = self._distinct_buckets(snapshot, self._sig_bucket())
            return snapshot, sig_b, self._distinct_buckets(banded, self._post_bucket())

    def _ingest_cow(
        self,
        new_sigs: DataFrame,
        changed: DataFrame,
        touched_sig: list[int],
        touched_post: list[int],
        cur: DataFrame | None,
        new_banded: DataFrame,
    ) -> dict:
        """Copy-on-write ingest: rewrite the touched buckets of both
        stores (staged, journaled, swapped atomically). Stale postings
        are anti-joined away via the changed ids' CURRENT band keys
        (``touched_post`` spans old ∪ new keys — derived in ingest()
        from the pre-swap state ``cur``), so no tombstones survive a
        COW bucket. Touched deltas are folded by the staging read and
        their files cleared after the swap."""
        SEQ = _LwwIndexStore.SEQ_COL
        seq_sig = self.sig_store.allocate_seq()
        seq_post = self.post_store.allocate_seq()

        # ---- stage the signature store (id-bucket pruned) --------------
        new_with_bucket = new_sigs.withColumn(
            "bucket", self._sig_bucket()
        ).withColumn(SEQ, F.lit(seq_sig).cast("long"))
        if cur is not None:
            merged_sig = cur.join(changed, "id", "left_anti").unionByName(
                new_with_bucket
            )
        else:
            merged_sig = new_with_bucket
        sig_staging = f"{self.sig_store.path}.staging"
        staged_sig, sig_rows = self.sig_store._stage(
            merged_sig, sig_staging, touched_sig
        )

        # ---- stage the posting store ((band,bkey)-bucket pruned) -------
        post_bucket = self._post_bucket()
        new_post = new_banded.withColumn("bucket", post_bucket).withColumn(
            SEQ, F.lit(seq_post).cast("long")
        )
        if self.post_store.exists():
            cur_post = self.post_store.with_seq(
                self.post_store.read_buckets(touched_post)
            )
            merged_post = cur_post.join(changed, "id", "left_anti").unionByName(
                new_post
            )
        else:
            merged_post = new_post
        post_staging = f"{self.post_store.path}.staging"
        try:
            staged_post, post_rows = self.post_store._stage(
                merged_post, post_staging, touched_post
            )
        except TouchedSetMismatchError:
            shutil.rmtree(sig_staging, ignore_errors=True)
            raise

        metrics = {
            "mode": "cow",
            "sig_touched_buckets": len(touched_sig),
            "post_touched_buckets": len(touched_post),
            "buckets": self.buckets,
            "sig_buckets": self.sig_store.buckets,
            "post_buckets": self.post_store.buckets,
            "sig_bytes_written": dir_bytes(sig_staging),
            "post_bytes_written": dir_bytes(post_staging),
        }

        # ---- journal, then commit both stores --------------------------
        # per-store commit tokens ride the journal so a pointer-protocol
        # redo re-copies to the SAME immutable names (idempotent)
        sig_token = uuid.uuid4().hex[:12]
        post_token = uuid.uuid4().hex[:12]
        journal = {
            "stores": [
                {
                    "store": "sig",
                    "staging": sig_staging,
                    "touched": touched_sig,
                    "staged": staged_sig,
                    "token": sig_token,
                },
                {
                    "store": "post",
                    "staging": post_staging,
                    "touched": touched_post,
                    "staged": staged_post,
                    "token": post_token,
                },
            ]
        }
        jp = self._journal_path()
        publish.write_json(jp, journal)
        # each commit also clears the touched deltas the staging reads
        # folded (a crash before that leaves already-folded rows that
        # lose the seq-LWW to the base) — the journal redo's order
        self.sig_store._commit_cow(
            sig_staging, touched_sig, staged_sig, sig_rows, token=sig_token
        )
        self.post_store._commit_cow(
            post_staging, touched_post, staged_post, post_rows, token=post_token
        )
        os.remove(jp)
        return metrics

    def _ingest_mor(
        self,
        snapshot: DataFrame,
        touched_sig: list[int],
        touched_post: list[int],
        old_banded: DataFrame,
        new_banded: DataFrame,
    ) -> dict:
        """Merge-on-read ingest: append the batch as per-bucket delta
        files — upserts plus tombstones for deleted ids (the snapshot's
        NULL-sig rows, sig store) and vacated band keys (posting store)
        — O(batch) write I/O. Reads fold base + deltas by (key, seq)
        LWW (_LwwIndexStore). Posting
        delta first: its tombstones derive from the pre-batch sig rows
        (``old_banded``, read by ingest() before any write), which a
        crash-replay can only re-derive while the sig store is still
        unmodified."""
        SEQ = _LwwIndexStore.SEQ_COL
        OP = _LwwIndexStore.OP_COL
        seq_sig = self.sig_store.allocate_seq()
        seq_post = self.post_store.allocate_seq()

        sig_type = snapshot.schema["sig"].dataType

        # ---- posting delta: new postings + vacated-key tombstones ------
        vacated = old_banded.select("band", "bkey", "id").join(
            new_banded.select("band", "bkey", "id"),
            ["band", "bkey", "id"],
            "left_anti",
        )
        post_delta = (
            new_banded.withColumn(OP, F.lit(OP_UPSERT))
            .unionByName(
                vacated.withColumn("sig", F.lit(None).cast(sig_type))
                .withColumn(OP, F.lit(OP_DELETE))
            )
            .withColumn(SEQ, F.lit(seq_post).cast("long"))
            .withColumn("bucket", self._post_bucket())
        )
        post_staging = f"{self.post_store.path}.delta_staging"
        staged_post, post_rows = self.post_store._stage(
            post_delta.repartition(max(len(touched_post), 1), "bucket"),
            post_staging,
            touched_post,
        )
        post_bytes = dir_bytes(post_staging)
        post_files = self.post_store._append(post_staging, staged_post, post_rows)

        # ---- signature delta: upserts + deleted-id tombstones ----------
        op = F.when(F.col("sig").isNull(), F.lit(OP_DELETE)).otherwise(F.lit(OP_UPSERT))
        sig_delta = (
            snapshot.withColumn(OP, op)
            .withColumn(SEQ, F.lit(seq_sig).cast("long"))
            .withColumn("bucket", self._sig_bucket())
        )
        sig_staging = f"{self.sig_store.path}.delta_staging"
        staged_sig, sig_rows = self.sig_store._stage(
            sig_delta.repartition(max(len(touched_sig), 1), "bucket"),
            sig_staging,
            touched_sig,
        )
        sig_bytes = dir_bytes(sig_staging)
        sig_files = self.sig_store._append(sig_staging, staged_sig, sig_rows)

        metrics = {
            "mode": "mor",
            "sig_touched_buckets": len(staged_sig),
            "post_touched_buckets": len(staged_post),
            "buckets": self.buckets,
            "sig_buckets": self.sig_store.buckets,
            "post_buckets": self.post_store.buckets,
            "sig_bytes_written": sig_bytes,
            "post_bytes_written": post_bytes,
            "sig_delta_files": sig_files,
            "post_delta_files": post_files,
        }
        return metrics

    def update(
        self,
        docs: DataFrame,
        content_col: str = "text",
        id_col: str = "doc_id",
        deleted_ids: DataFrame | None = None,
        mode: str = "auto",
    ) -> dict:
        """Upsert the batch's signatures (and apply deletes); returns
        the per-batch I/O metrics — deliberately NOT a full-index count,
        which would be an O(corpus) job per micro-batch."""
        metrics, _ = self.ingest(
            docs, content_col, id_col, deleted_ids,
            compute_pairs=False, mode=mode,
        )
        return metrics

    # -- read path -------------------------------------------------------

    def posting_skew(self, top_n: int = 20) -> DataFrame:
        """Diagnostic: the hottest posting keys — ``(band, bkey,
        n_ids)`` for the ``top_n`` largest posting lists. A posting
        list of C ids yields O(C²) candidate pairs in the band join, so
        at 100 TB one viral near-dup cluster (boilerplate licences,
        vendored files) can dominate the whole probe; this report is
        how an operator finds those keys and picks a ``max_fanout``.
        Full posting scan (aggregation only — the shuffle carries one
        int per key), so run it as maintenance, not per batch."""
        if not self.post_store.exists() and not self.post_store.delta_bucket_ids():
            # a fresh/empty index has no posting data to infer a schema
            # from — typed-empty result instead of a raw Spark
            # 'unable to infer schema' error (bkey's type follows the
            # hash family: xxhash64 → long, md5 → joined-lane string)
            bkey_t = "string" if self.hash_family == "md5" else "long"
            return self.spark.createDataFrame(
                [], f"band int, bkey {bkey_t}, n_ids long"
            )
        return (
            self.post_store.read()
            .groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("n_ids"))
            .orderBy(F.desc("n_ids"), "band", "bkey")
            .limit(top_n)
        )

    def _postings(self, touched: list[int], empty: DataFrame) -> DataFrame:
        """Posting rows of the ``touched`` buckets; none stored yet (e.g.
        a first batch of deletes only): ``empty.limit(0)``, typed-empty."""
        if self.post_store.exists():
            return self.post_store.read_buckets(touched)
        return empty.limit(0)

    def _live(
        self, snapshot: DataFrame, touched: list[int], k: int
    ) -> tuple[DataFrame, DataFrame]:
        """The two sides of a group's pair probe: the upserts of each
        window, ``(band, bkey, id, sig, WINDOW)``, and the posting rows,
        ``(band, bkey, id, sig, __born, NEXT)``, each live in the
        windows j with ``__born ≤ j < NEXT``. They are the upserts, live
        from their window up to their id's next one, and the pre-ingest
        posting rows of the ``touched`` buckets (all a band join of the
        upserts' keys can meet), live from before the group up to their
        id's first window in it."""
        cols = ("band", "bkey", "id", "sig")
        new = self._banded(snapshot.filter(F.col("sig").isNotNull()))
        first = snapshot.filter(FIRST).select(
            F.col("id").alias("__id"), F.col(WINDOW).alias("__first")
        )
        pre = (
            self._postings(touched, new)
            .select(*cols)
            .join(first, F.col("id") == F.col("__id"), "left")
            .select(*cols, F.lit(-1).alias("__born"), F.coalesce("__first", F.lit(k)).alias(NEXT))
            .filter(F.col(NEXT) > 0)
        )
        live = pre.unionByName(new.select(*cols, F.col(WINDOW).alias("__born"), NEXT))
        return new.select(*cols, WINDOW), live

    def _pairs_for(
        self,
        new_banded: DataFrame,
        live: DataFrame,
        threshold: float,
        max_fanout: int | None = None,
    ) -> DataFrame:
        """Band-bucket join of each window's upserts against the posting
        rows live in that window (:meth:`_live`'s sides):
        ``(WINDOW, id_a, id_b, est_jaccard)`` once per window for each
        pair at or above ``threshold``.

        ``max_fanout`` bounds the join blowup: posting keys whose live
        list in a window exceeds it are excluded from that window's
        candidate generation (the skew cap — same role as ``max_df`` in
        the n-gram Jaccard path). Members of such a hot cluster still
        pair through their OTHER, colder band keys, so recall degrades
        gracefully; with ``bands`` independent chances a pair is only
        lost when every one of its shared keys is viral. Default None =
        exact."""
        on = ["band", "bkey"]
        if max_fanout is not None:
            # few keys breach the cap by construction → broadcast the
            # hot (key, window) list into an anti-join; counted over the
            # SAME live rows the probe meets, in each window they live in
            at = F.explode(F.sequence(F.greatest("__born", F.lit(0)), F.col(NEXT) - 1))
            hot = (
                live.select(*on, at.alias(WINDOW))
                .groupBy(*on, WINDOW)
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > max_fanout)
                .select(*on, WINDOW)
            )
            new_banded = new_banded.join(F.broadcast(hot), [*on, WINDOW], "left_anti")
        a, b, j = F.col("a.id"), F.col("b.id"), F.col(f"a.{WINDOW}")
        agree = F.size(
            F.filter(
                F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ) / F.lit(self.num_hashes)
        return (
            new_banded.alias("a")
            .join(live.alias("b"), on)
            .filter((a != b) & (F.col("b.__born") <= j) & (j < F.col(f"b.{NEXT}")))
            .select(
                j.alias(WINDOW),
                F.least(a, b).alias("id_a"),
                F.greatest(a, b).alias("id_b"),
                agree.alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold)
            .dropDuplicates([WINDOW, "id_a", "id_b"])
        )

    def incremental_pairs(
        self,
        new_docs: DataFrame,
        content_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
        max_fanout: int | None = None,
    ) -> DataFrame:
        """Candidate near-dup pairs touching at least one NEW document:
        band join of the new side against ONLY the posting partitions
        its keys hash to (which must already include the new docs via
        ``update``/``ingest``). Old×old pairs are never rebuilt; new×new
        pairs come out once (id_a < id_b). ``max_fanout`` caps hot
        posting lists — see :meth:`_pairs_for`."""
        new_banded = self._banded(self._sigs_of(new_docs, content_col, id_col))
        touched = self._distinct_buckets(
            new_banded.select("band", "bkey"), self._post_bucket()
        )
        cols = ("band", "bkey", "id", "sig")
        pairs = self._pairs_for(
            new_banded.select(*cols, F.lit(0).alias(WINDOW)),
            self._postings(touched, new_banded).select(
                *cols, F.lit(-1).alias("__born"), F.lit(1).alias(NEXT)
            ),
            threshold,
            max_fanout,
        )
        return pairs.drop(WINDOW)


def _write_pairs(df: DataFrame, path: str, *partition: str) -> None:
    df.write.mode("overwrite").partitionBy(*partition).parquet(path)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """``(id, cluster_id)`` for every node appearing in ``pairs``,
    where ``cluster_id`` is the smallest node id reachable through the
    pair graph — the step after pair detection in a dedup pipeline
    (keep the canonical doc per cluster, drop the rest).

    Min-label propagation with pointer jumping, per round:

    1. every node takes the min of its own label and its neighbors'
       labels (one equi-join + one hash-agg shuffle) — moves labels
       one hop;
    2. every node then re-resolves its label THROUGH the label table
       (``lbl ← label_of(lbl)``, one more equi-join) — path
       compression, doubling how far a round reaches.

    The combination converges in O(log n) rounds even on a pure path
    graph (Shiloach–Vishkin-style hybrid), where plain propagation
    needs O(diameter); dense near-dup cliques finish in 2–3 rounds
    either way. Each round is materialized with ``localCheckpoint`` —
    iterative self-joins otherwise stack a plan per round and Catalyst
    re-optimization, not the data, becomes the bottleneck (on a
    cluster with a checkpoint dir, ``checkpoint()`` gives the same cut
    with executor-loss tolerance). Convergence = zero labels changed,
    read off the just-materialized frame (no recompute); exhausting
    ``max_iter`` without converging RAISES rather than returning
    silently-partial clusters. Isolated documents never enter
    ``pairs`` and are their own implicit singleton clusters — callers
    left-join and coalesce to the doc's own id.
    """
    a, b = F.col(id_a), F.col(id_b)
    # materialize the edge set ONCE: every round joins against it, and
    # without the cut each round would re-execute the entire upstream
    # pair-production plan (LSH band join / cosine bucket join)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.src") == F.col("l.id"))
            .groupBy(F.col("e.dst").alias("id"))
            .agg(F.min("l.lbl").alias("nlbl"))
        )
        # materialized before the jump self-join: both sides of that
        # join read `hopped`, and without the cut the nbr join+agg
        # subtree would execute once per side every round
        hopped = (
            labels.alias("l")
            .join(nbr.alias("n"), F.col("l.id") == F.col("n.id"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.col("l.lbl").alias("old"),
                F.least(
                    F.col("l.lbl"), F.coalesce(F.col("n.nlbl"), F.col("l.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        stepped = (
            hopped.alias("x")
            .join(
                hopped.select(
                    F.col("id").alias("jid"), F.col("lbl").alias("jlbl")
                ).alias("j"),
                F.col("x.lbl") == F.col("j.jid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.col("x.old").alias("old"),
                F.least(
                    F.col("x.lbl"), F.coalesce(F.col("j.jlbl"), F.col("x.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        labels = stepped.select("id", "lbl")
        if stepped.filter(F.col("old") != F.col("lbl")).count() == 0:
            return labels.select("id", F.col("lbl").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (pointer jumping makes rounds O(log n), so this "
        "indicates a far larger component structure than near-dup graphs "
        "produce)"
    )


def simhash_table(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sh): 64-bit (60-bit for md5 family) SimHash of word
    k-shingles per document.

    Fully JVM plan: shingle hashing via explode + xxhash64/md5
    (codegen'd), then the per-bit vote tally as n_bits conditional-sum
    aggregates in ONE groupBy — Catalyst plans a hash aggregate with
    map-side partial aggregation, so the shuffle carries n_bits ints per
    doc, not the shingles. No Python anywhere. ``hash_family='md5'``
    mirrors exactly into DuckDB for the driver oracle.
    """
    n_bits = simhash_bits(hash_family)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(content_col), k)).alias("sh_txt"),
    )
    if hash_family == "xxhash64":
        hashed = hashed.select("id", F.xxhash64("sh_txt").alias("h"))
    elif hash_family == "md5":
        hashed = hashed.select("id", md5_base60(F.col("sh_txt")).alias("h"))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")

    # Popcount identity instead of ±1 voting: the vote sum is 2·s_i − n
    # (s_i = count of set bits in lane i), so bit set ⟺ 2·s_i > n —
    # a plain sum of (h>>i)&1 with no per-row CASE branch. Identical
    # sketches including the tie case (2·s_i = n ⟺ vote 0 → bit clear),
    # A/B-checksummed; ~30% faster at sf0.1. The oracle keeps the ±1
    # spelling — the packed values are equal by the identity.
    votes = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(n_bits)
        ],
    )
    packed = None
    for i in range(n_bits):
        bit = F.when(
            F.col(f"s{i}") * 2 > F.col("__n"),
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return votes.select("id", packed.alias("sh"))


def simhash_near_dups(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_family: str = "xxhash64",
    cache: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs with banding on 16-bit (15-bit for md5)
    blocks.

    Pigeonhole: if hamming(a,b) ≤ 3 then at least one of 4 blocks is
    identical → equi-join on (block_id, block_value), verify hamming
    via bit_count(xor). Returns (id_a, id_b, hamming).
    """
    sh = _cache_bounded(
        "simhash_sketch",
        simhash_table(df, content_col, id_col, hash_family=hash_family),
        cache,
    )
    width = simhash_bits(hash_family) // blocks
    mask = (1 << width) - 1
    blocked = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned("sh", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bv"),
    ).select("id", "sh", "bv.blk", "bv.val")
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), ["blk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
