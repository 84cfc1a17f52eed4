"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design notes for 100 TB:

* Exact dedup is a hash-groupBy — one shuffle on the content hash, fully
  map-side combinable. This is the reference's row-hash model
  (TableConnection.php:46-51) generalized from "same PK elsewhere?" to
  "same content anywhere?".
* MinHash+LSH is the scale path for fuzzy dedup: shingle → K minhashes →
  B bands → shuffle on (band, band-signature) only. Candidate pairs are
  generated per-bucket, so the cross product is bounded by bucket size,
  never n². The all-pairs n-gram Jaccard operator exists as the exact
  baseline for verification at small scale.
* Hashes are md5-derived (both Spark and DuckDB implement md5 bit-for-bit
  identically) so every operator here has an exact SQL oracle. At
  production scale, pass ``hash_mode='xxhash64'`` to the minhash/
  simhash/prefix-Jaccard entry points — same plan shape, ~3× faster on
  the shingle hot path, no oracle parity (gated by hash-family
  independence tests instead; A/B timings in BENCH_SCALE.md).
* SimHash packs a 16-bit signature; near-dups differ in ≤ ``max_bits``
  bits. Candidate generation by exact-signature match stays a groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window

from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin
from mysql_syncer_spark.pooled import run_pooled

from mysql_syncer_spark.operators.spread import spread_small
from mysql_syncer_spark.operators.text import normalized_text, ws_tokens

#: hex prefix of md5 parsed as a 60-bit int — cross-engine 64-bit-ish hash
_HEX_PREFIX = 15


def _hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 (oracle-matchable).
    DuckDB mirror: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_PREFIX), 16, 10).cast("long")


#: hash families for the dedup/shingle operators: 'md5' (default) is
#: cross-engine oracle-matchable; 'xxhash64' is the production mode —
#: one JVM intrinsic instead of md5's digest + hex parse (~3× faster on
#: the shingle hot path), masked to the SAME 60-bit nonneg domain so
#: every downstream expression (lo/hi split, affine mixing, banding) is
#: shared verbatim. No DuckDB mirror exists, so xxhash64 results can't
#: be oracle-checked — the pytest gate instead proves hash-family
#: INDEPENDENCE where it holds exactly (the prefix-Jaccard pair set)
#: and recall tolerance where it's statistical (MinHash estimates).
HASH_MODES = ("md5", "xxhash64")


def _hash64_mode(col: Column, hash_mode: str = "md5") -> Column:
    if hash_mode == "md5":
        return _hash64(col)
    if hash_mode == "xxhash64":
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 60) - 1))
    raise ValueError(
        f"hash_mode must be one of {HASH_MODES}, got {hash_mode!r}"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates (on normalized text): returns
    ``(fp_exact, n_dups, keep_id)`` for groups with >1 member; keep_id is
    the smallest id (deterministic survivor policy)."""
    fp = F.md5(normalized_text(text_col))
    return (
        df.select(fp.alias("fp_exact"), F.col(id_col))
        .groupBy("fp_exact")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly one row (the min-id one) per distinct normalized text.
    One shuffle: window-free min-id-per-group via groupBy + semi join."""
    fp = F.md5(normalized_text(text_col)).alias("__fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Shingling + n-gram Jaccard (exact baseline, O(pairs-sharing-a-shingle))
# ---------------------------------------------------------------------------

def char_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Distinct character k-shingles per document: ``(id, shingle)``.

    Built-ins only: sequence + transform + explode. The normalized text
    keeps shingling deterministic across engines.
    """
    # Materialize the normalized text as a column FIRST: referencing the
    # regexp_replace expression inside the transform() lambda would
    # re-evaluate the regex once per shingle (~300× per row). And small
    # single-file inputs arrive as one partition — spread them so the
    # (expensive) shingling runs on every core.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col), normalized_text(text_col).alias("__norm"))
    if base.rdd.getNumPartitions() < parallelism:
        base = base.repartition(parallelism)
    # substr with a column position needs the SQL form (F.substring takes
    # literal pos only)
    shingles = F.expr(
        f"transform(sequence(1, greatest(length(__norm) - {k - 1}, 1)), "
        f"i -> substr(__norm, i, {k}))"
    )
    return (
        base.select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
        .where(F.length("shingle") > 0)
    )


def _norm_sql(text_col: str) -> str:
    """SQL-expression form of normalized_text (for use inside F.expr)."""
    return f"regexp_replace(trim(lower({text_col})), '\\\\s+', ' ')"


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """All document pairs with Jaccard(k-shingle sets) ≥ threshold:
    ``(id_a, id_b, jaccard)`` with id_a < id_b.

    Plan: shingle → doc-frequency cap → per-doc size (both as window
    counts in one linear pipeline) → self-equi-join on shingle (pairs
    sharing ≥1 shingle, never a cross join) → count intersections →
    |A∩B| / (|A|+|B|-|A∩B|). Exact over the capped shingle universe;
    quadratic only within a shingle's posting list — the brute-force
    baseline that verifies MinHash-LSH.

    ``max_df`` is the skew guard: a shingle appearing in f documents
    contributes f·(f-1)/2 pairs, so one boilerplate shingle can explode
    the join (measured >530s at sf0.1 uncapped). Shingles with doc
    frequency > max_df carry ~zero Jaccard signal and are excluded from
    BOTH the intersection and the set sizes — i.e. the operator computes
    Jaccard over the "df ≤ max_df" shingle universe, a well-defined
    semantic the SQL oracle mirrors exactly. ``None`` disables the cap.

    No ``persist()``: the self-join's two sides share one canonical
    subtree, so Catalyst reuses the shuffle (ReusedExchange) instead of
    recomputing the shingle explode — nothing leaks into the cache.
    (An r12 experiment pinned this frame with ``pin_small``; measured
    1.04 → 1.22 s — the ReusedExchange sharing is intact for this
    symmetric self-join shape and the eager materialization only adds
    cost. Reverted; pin only shapes AQE actually de-shares.)
    """
    sh = char_shingles(df, id_col, text_col, k)
    if max_df is not None:
        w_df = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    w_sz = Window.partitionBy(id_col)
    sh = sh.withColumn("sz", F.count(F.lit(1)).over(w_sz))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = sh.select(F.col(id_col).alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    return (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

#: MinHash mixing constants: h_i = (a_i*h_lo + b_i*h_hi + c_i) mod P,
#: where (h_lo, h_hi) are the two 30-bit halves of one md5-derived
#: 60-bit shingle hash. One md5 per shingle instead of num_hashes md5s
#: (16× less hashing at bench scale); products stay < 2^61 so the
#: arithmetic never overflows signed 64-bit (ANSI-mode safe) and the
#: DuckDB oracle mirrors it with the same integer literals.
MINHASH_P = 2147483647  # 2^31 - 1 (prime)
_HALF = 1 << 30


def minhash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic affine-mix constants (LCG-derived, odd a/b)."""
    out = []
    s = 88172645463325252
    for _ in range(num_hashes):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (s % (_HALF - 2)) | 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (s % (_HALF - 2)) | 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        c = s % MINHASH_P
        out.append((a, b, c))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """MinHash signatures: ``(id, h0..h{num_hashes-1})``.

    Explode the shingle *positions* first, then substr/md5/mix as plain
    projections — every expression stays inside whole-stage codegen.
    Two shapes benched slower: (a) per-row higher-order functions (16 ×
    transform/array_min per doc) — HOF lambdas are interpreted, ~5×
    slower; (b) building a distinct shingle array then exploding
    (char_shingles) — the array construction is itself an interpreted
    transform, ~1.7× slower. No distinct is needed at all: MIN over a
    multiset equals MIN over its set, so duplicate shingles are free.
    The groupBy shuffle carries only (id, num_hashes partial minima)
    thanks to map-side combine.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col), normalized_text(text_col).alias("__norm"))
    if base.rdd.getNumPartitions() < parallelism:
        base = base.repartition(parallelism)
    sh = (
        base.select(
            F.col(id_col),
            F.expr(
                f"explode(sequence(1, greatest(length(__norm) - {k - 1}, 1)))"
            ).alias("__i"),
            "__norm",
        )
        .select(F.col(id_col), F.expr(f"substr(__norm, __i, {k})").alias("shingle"))
        .where(F.length("shingle") > 0)
        .withColumn("__h", _hash64_mode(F.col("shingle"), hash_mode))
    )
    # split __h ONCE in the projection below the agg: as inline subtrees
    # each of the num_hashes agg updates would re-evaluate the mod/div
    # pair per row (agg-update codegen does not share subexpressions
    # across aggregate functions)
    sh = sh.select(
        F.col(id_col),
        (F.col("__h") % _HALF).alias("__lo"),
        # integer div (h > 2^53: float / loses bits)
        F.expr(f"__h div {_HALF}").alias("__hi"),
    )
    # one parsed expr per hash (r12 wave 15): the Column-algebra form
    # (F.lit(a) * lo + F.lit(b) * hi + F.lit(c)) % P paid ~10 py4j
    # roundtrips per hash — ~0.3 s of driver chatter per signature
    # frame at num_hashes=32, re-paid on every build. The SQL literals
    # parse to the same INT/LONG types (a, b, c, P all < 2^31), so the
    # arithmetic tree and every emitted value are identical.
    aggs = [
        F.expr(f"min(({a} * __lo + {b} * __hi + {c}) % {MINHASH_P})").alias(
            f"h{i}"
        )
        for i, (a, b, c) in enumerate(minhash_params(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_bucket_frame(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    out_id: str | None = None,
) -> DataFrame:
    """LSH banding of a signature frame: ``(out_id, band, bucket)`` —
    one row per (doc, band), bucket = md5 over the band's signature
    components. Shared by the self-join, bipartite, and persisted-index
    variants so every consumer hashes bands identically."""
    rows_per_band = num_hashes // bands
    out = out_id or id_col
    # ONE parsed expr for the whole band array (r12 wave 15): the
    # per-band F.struct/F.md5/F.concat_ws loop paid ~15 py4j roundtrips
    # per band; named_struct/md5/concat_ws parse to the identical tree
    # (band index literals are INT in both forms), so buckets are
    # byte-identical.
    band_sql = ", ".join(
        "named_struct('band', {b}, 'bucket', md5(concat_ws('#', {hs})))".format(
            b=b,
            hs=", ".join(
                f"cast(h{b * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col).alias(out),
        F.expr(f"explode(array({band_sql}))").alias("bb"),
    ).select(out, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified by
    estimated Jaccard ≥ threshold: ``(id_a, id_b, jaccard_est)``.

    Pipeline (all shuffles on small keys):
    shingle → signatures → per-band bucket key md5(band hashes) →
    self-join within (band, bucket) → distinct pairs → estimate Jaccard
    as fraction of matching signature components.

    At 100 TB this never materializes n² — only same-bucket pairs; skewed
    buckets (boilerplate docs) are handled by AQE skew-join splitting.

    sig feeds four subtrees (bucket explode ×2 + both sides of the
    verify join). The r2–r11 form relied on ReusedExchange to share the
    signature groupBy's shuffle between them — that reuse is DEAD under
    AQE: the candidate self-join converts to a broadcast join, and a
    BroadcastExchange cannot reuse a shuffle Exchange's output, so the
    whole shingle-explode + md5 + partial-minima map side re-ran per
    consumer (r12 plan audit: 4 signature pipelines, zero
    ReusedExchange, in one plan). ``localCheckpoint(eager)`` pins the
    n×num_hashes signature frame once — blocks are freed by the
    ContextCleaner when the frame is collected (the cluster.py
    discipline), so nothing leaks across a long session (the round-1
    lesson about leaked ``persist()``).
    """
    sig = minhash_signatures(
        df, id_col, text_col, k, num_hashes, hash_mode
    ).transform(pin)
    buckets = band_bucket_frame(sig, id_col, num_hashes, bands)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.toDF(*[f"a_{c}" for c in sig.columns])
    sb = sig.toDF(*[f"b_{c}" for c in sig.columns])
    return (
        cand.join(sa, cand.id_a == F.col(f"a_{id_col}"))
        .join(sb, cand.id_b == F.col(f"b_{id_col}"))
        .withColumn("jaccard_est", _jaccard_est_expr(num_hashes))
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def _jaccard_est_expr(num_hashes: int) -> Column:
    """Signature-match Jaccard estimate as ONE parsed expr (r12 wave
    15): the ``sum(F.when(a_h==b_h,1).otherwise(0))`` chain paid ~8
    py4j roundtrips per hash. CASE WHEN parses to the same conditional
    tree, the integer add chain the same sum (the builtin-sum's leading
    ``0 +`` is value-neutral), and double/INT division promotes
    identically — estimates are byte-identical."""
    terms = " + ".join(
        f"(CASE WHEN a_h{i} = b_h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return F.expr(f"CAST({terms} AS DOUBLE) / {num_hashes}")


def minhash_lsh_pairs_between(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_mode: str = "md5",
    materialize_sigs: bool = True,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Bipartite MinHash-LSH: near-dup pairs BETWEEN two corpora —
    ``(id_new, id_old, jaccard_est)`` with id_new from ``incoming`` and
    id_old from ``corpus``. The incremental-ingest shape: a daily batch
    is checked against the existing corpus without re-pairing the
    corpus against itself (the self-join variant would redo O(corpus²)
    candidate work every day; this does O(corpus × batch) — and with
    corpus bucket tables persisted, just O(batch)).

    Same banded-bucket topology as :func:`minhash_lsh_pairs`, but the
    bucket join is corpus×incoming (no ``id_a < id_b`` dedup — the
    sides are distinct by construction; callers must ensure disjoint
    ids). Each signature frame feeds two consumers (its bucket explode
    and its verify side); like :func:`minhash_lsh_pairs`, the frames
    are pinned with ``localCheckpoint(eager)`` — AQE's broadcast
    conversion of the bucket join defeats the ReusedExchange this shape
    historically relied on, so an unpinned frame re-runs the shingle
    explode + hashing + partial-minima map side once per consumer.
    ``materialize_sigs=False`` keeps the lazy lineage (plan-shape gates
    and callers that pin at a coarser grain — the
    minhash_lsh_pairs_against_index ``materialize_batch`` idiom).
    ``corpus_sig`` accepts an ALREADY-PINNED corpus signature frame
    (id + the same num_hashes/hash_mode columns) so callers can overlap
    its materialization with other corpus-sized jobs (guide §2.6 — see
    :func:`incremental_new_docs`).
    """
    sig_old = (
        corpus_sig
        if corpus_sig is not None
        else minhash_signatures(
            corpus, id_col, text_col, k, num_hashes, hash_mode
        )
    )
    sig_new = minhash_signatures(
        incoming, id_col, text_col, k, num_hashes, hash_mode
    )
    if materialize_sigs:
        if corpus_sig is None:
            sig_old = sig_old.transform(pin)
        sig_new = sig_new.transform(pin)
    cand = (
        band_bucket_frame(sig_new, id_col, num_hashes, bands, "id_new")
        .join(
            band_bucket_frame(sig_old, id_col, num_hashes, bands, "id_old"),
            on=["band", "bucket"],
        )
        .select("id_new", "id_old")
        .distinct()
    )
    sa = sig_new.toDF(*[f"a_{c}" for c in sig_new.columns])
    sb = sig_old.toDF(*[f"b_{c}" for c in sig_old.columns])
    return (
        cand.join(sa, cand.id_new == F.col(f"a_{id_col}"))
        .join(sb, cand.id_old == F.col(f"b_{id_col}"))
        .withColumn("jaccard_est", _jaccard_est_expr(num_hashes))
        .where(F.col("jaccard_est") >= threshold)
        .select("id_new", "id_old", "jaccard_est")
    )


def incremental_new_docs(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental curation gate: rows of ``incoming`` that are neither
    exact copies (normalized-content fingerprint anti-join, broadcast
    when the corpus fingerprint set is dim-sized — it is vs a daily
    batch) nor near-dups (bipartite LSH pair anti-join) of the corpus.
    Composes the two dedup layers the way a daily ingest actually runs
    them; both layers are anti-joins, nothing materializes pairs beyond
    the LSH candidates.

    The two CORPUS-sized eager pins — the fingerprint anti-join behind
    ``fresh`` and the corpus signature frame — are INDEPENDENT jobs, so
    they run overlapped from a 2-thread pool (guide §2.6: actions are
    only sequential because the driver calls them sequentially; the
    second job's tasks back-fill executors freed by the first's tail).
    r13 meter: the serialized pins were 1.7 s of the 2.5 s build wall
    on incremental_ingest_2pct. Thread-safe: both threads only build
    plans + run one action each; results are plain DataFrames."""
    def _fresh() -> DataFrame:
        # pinned: fresh feeds the LSH pipeline AND the final anti-join —
        # unpinned, the corpus-wide fingerprint distinct + anti-join
        # above it would execute once per consumer. fresh is batch-sized.
        return incoming.alias("i").join(
            corpus.select(
                F.md5(normalized_text(text_col)).alias("__fp")
            ).distinct(),
            F.md5(normalized_text(f"i.{text_col}")) == F.col("__fp"),
            "left_anti",
        ).transform(pin)

    def _corpus_sig() -> DataFrame:
        return minhash_signatures(
            corpus, id_col, text_col, k, num_hashes
        ).transform(pin)

    fresh, sig_old = run_pooled([_fresh, _corpus_sig], 2)
    near = minhash_lsh_pairs_between(
        corpus, fresh, id_col, text_col, k, num_hashes, bands, threshold,
        corpus_sig=sig_old,
    ).select(F.col("id_new").alias(id_col)).distinct()
    return fresh.join(near, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: 48-bit signatures: at 16 bits, random collisions dominate once the
#: corpus passes a few thousand docs (65k signature space) and the
#: Hamming-candidate join degrades into a near-all-pairs verify; 48 bits
#: keeps random pairs at ~C(48,3)/2^48 ≈ 7e-11 (only REAL near-dups
#: collide) while staying inside signed-64 shift range on both engines.
SIMHASH_BITS = 48


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS, hash_mode: str = "md5",
) -> DataFrame:
    """Per-document SimHash signature: ``(id, simhash)``.

    Token-level: each distinct token hashes to a ``bits``-bit value; for
    every bit position the doc sums +1/-1 over tokens; the signature bit
    is 1 where the sum is positive. Expressed as token explode →
    groupBy(id) wide agg — the same shape as minhash_signatures: no
    ``bits``-fold row explosion (an earlier bit-explode variant shuffled
    tokens×bits rows — 48× the data — and benched ~5× slower at sf0.1),
    one map-side combinable shuffle on id, then a bit-test projection.

    The per-bit counters are PACKED three to a long (21 bits each, so a
    doc may have up to 2^21 distinct tokens before overflow): the agg
    carries ceil(bits/3)+1 sum expressions instead of ``bits``
    conditional sums — 3× less per-row agg work and state for identical
    output, since sum(±1 per token) > 0  ⇔  2·ones > n_tokens.
    """
    toks = (
        # normalize/tokenize/distinct runs per doc ABOVE the groupBy
        # exchange — spread a small corpus so it is not serialized on
        # the scan's task count (minhash_signatures' discipline)
        spread_small(df).select(
            F.col(id_col),
            F.explode(F.array_distinct(ws_tokens(normalized_text(text_col)))).alias("tok"),
        )
        .withColumn("th", _hash64_mode(F.col("tok"), hash_mode))
    )
    slot_w = 21  # counter width: 3 slots per long, 2^21 tokens headroom
    groups = [list(range(g, min(g + 3, bits))) for g in range(0, bits, 3)]
    packed_sums = [
        F.sum(
            F.expr(
                " + ".join(
                    f"(((th >> {i}) & 1) << {slot_w * s})"
                    for s, i in enumerate(grp)
                )
            )
        ).alias(f"p{gi}")
        for gi, grp in enumerate(groups)
    ]
    per_doc = toks.groupBy(id_col).agg(
        *packed_sums, F.count(F.lit(1)).alias("__n")
    )
    mask = (1 << slot_w) - 1
    # ONE parsed expr for the 48-term bit reconstruction (r12 wave 15):
    # the per-bit F.when chain paid ~8 py4j roundtrips per bit. CASE
    # WHEN + the add chain parse to the same conditional/sum tree (bit
    # weights written as BIGINT literals — the Column form mixed
    # INT/LONG by magnitude, which only affects promotion steps, never
    # the summed value), so signatures are byte-identical.
    packed = F.expr(
        " + ".join(
            f"(CASE WHEN ((p{gi} >> {slot_w * s}) & {mask}) * 2 > __n"
            f" THEN {1 << i}L ELSE 0L END)"
            for gi, grp in enumerate(groups)
            for s, i in enumerate(grp)
        )
    )
    # Loud overflow guard: a doc with ≥ 2^21 distinct tokens would carry
    # across slot boundaries and silently corrupt the signature. __n
    # bounds every slot's ones-count, so one per-DOC comparison (not
    # per-token) proves all 48 counters stayed in range; assert_true
    # yields NULL when fine (folded away by the coalesce) and fails the
    # job with this message otherwise.
    guard = F.assert_true(
        F.col("__n") < F.lit(1 << slot_w),
        F.lit(
            f"simhash: document has >= 2^{slot_w} distinct tokens; "
            "packed per-bit counters would overflow — shorten docs or "
            "lower tokens per doc before simhash()"
        ),
    )
    return per_doc.select(
        F.col(id_col),
        (packed.cast("long") + F.coalesce(guard.cast("long"), F.lit(0)))
        .alias("simhash"),
    )


def simhash_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-signature SimHash collision groups: ``(simhash, n_docs,
    keep_id)`` — one groupBy on the 16-bit signature. For Hamming
    distance ≤ d near-dup matching use :func:`simhash_near_dup_pairs`
    (chunk banding, no pairwise scan)."""
    return (
        simhash(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def simhash_rep_pairs(
    sig: DataFrame,
    bits: int = SIMHASH_BITS,
    max_bits: int = 3,
) -> DataFrame:
    """Verified signature pairs within Hamming distance ``max_bits``
    over the DISTINCT signatures of ``sig`` (any frame with a ``__sig``
    column): ``(__sa, __sb, hamming)`` with __sa < __sb.

    Chunk banding by pigeonhole (split into ``max_bits + 1`` contiguous
    chunks; near signatures agree on at least one whole chunk), one
    equi-join per the shared (chunk, val) key, exact popcount verify —
    never an all-pairs scan, and everything runs at signature
    cardinality (callers expand to document pairs or cluster at this
    grain; see :func:`simhash_pairs_from_signatures` and
    ``cluster.simhash_duplicate_clusters``)."""
    chunks = max_bits + 1
    base, extra = divmod(bits, chunks)
    bounds: list[tuple[int, int]] = []
    shift = 0
    for i in range(chunks):
        width = base + (1 if i < extra else 0)
        bounds.append((shift, width))
        shift += width
    # shiftright(), not the `>>` operator: inside an array(...) call the
    # parser treats `>>` as two generic-type closers (ARRAY<ARRAY<T>>
    # lexing) and errors; shiftright parses to the identical ShiftRight
    # node.
    chunk_sql = ", ".join(
        f"named_struct('chunk', {i}, 'val', shiftright(__sig, {s}) & {(1 << w) - 1})"
        for i, (s, w) in enumerate(bounds)
    )
    probe = sig.select("__sig").distinct().select(
        "__sig", F.expr(f"explode(array({chunk_sql}))").alias("cv")
    ).select("__sig", F.col("cv.chunk").alias("chunk"),
             F.col("cv.val").alias("val"))
    a = probe.select(F.col("__sig").alias("__sa"), "chunk", "val")
    b = probe.select(F.col("__sig").alias("__sb"), "chunk", "val")
    return (
        a.join(b, on=["chunk", "val"])
        .where(F.col("__sa") < F.col("__sb"))
        .withColumn("hamming", F.expr("bit_count(__sa ^ __sb)").cast("int"))
        .where(F.col("hamming") <= max_bits)
        .select("__sa", "__sb", "hamming")
        .distinct()
    )


def simhash_pairs_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = SIMHASH_BITS,
    max_bits: int = 3,
) -> DataFrame:
    """All signature pairs within Hamming distance ``max_bits``:
    ``(id_a, id_b, hamming)`` with id_a < id_b.

    Banding by pigeonhole: split the ``bits``-bit signature into
    ``max_bits + 1`` contiguous chunks — two signatures differing in at
    most ``max_bits`` bits must agree on at least one whole chunk. So
    candidates come from a per-chunk equi-join (shuffle key =
    (chunk_idx, chunk_value), same topology as MinHash-LSH banding),
    verified by an exact popcount — never an all-pairs scan. At 100 TB
    the shuffle carries (chunk, value) keys only; skewed chunks (a very
    common signature region) are split by AQE like any hot hash key.

    The banding join runs over DISTINCT signatures, not documents
    (r12): a near-dup corpus collapses many docs onto one signature, so
    doc-level banding redoes the identical candidate+popcount work once
    per copy and then needs a doc-pair-sized ``distinct`` to shed the
    multi-chunk duplicates. Measured at sf0.1: 5 000 docs → 3 445
    distinct signatures, candidate matches 10.0M → 1.8M, and the final
    dedup shrinks from 994k doc pairs to 32k signature pairs. Doc pairs
    are then recovered by two equi joins on the signature (identical-
    signature groups pair among themselves at Hamming 0) — pure
    expansion of the verified pair set, no re-verification, no
    doc-level distinct, and a mega-cluster of identical docs skews the
    AQE-splittable expansion join instead of the n² candidate join.
    The output pair set and hamming values are identical to the
    doc-level formulation by construction.
    """
    # sig feeds the distinct-signature probe, the within-group self
    # join AND both expansion joins; without pinning, the whole
    # signature pipeline (token explode + per-token hashing + groupBy
    # for simhash; mapInPandas decode for image/audio hashes)
    # re-executes once per consumer — AQE's broadcast conversion kills
    # the ReusedExchange that older plans relied on (the
    # minhash_lsh_pairs r12 finding). The pinned frame is
    # (id, signature): rows-sized, tiny at any scale.
    sig = sig.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig")
    ).transform(pin)
    rep_pairs = simhash_rep_pairs(sig, bits, max_bits)
    ga = sig.select(F.col("__id").alias("__ia"), F.col("__sig").alias("__sa"))
    gb = sig.select(F.col("__id").alias("__ib"), F.col("__sig").alias("__sb"))
    cross = (
        rep_pairs.join(ga, on="__sa")
        .join(gb, on="__sb")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    within = (
        ga.withColumnRenamed("__sa", "__s")
        .join(gb.withColumnRenamed("__sb", "__s"), on="__s")
        .where(F.col("__ia") < F.col("__ib"))
        .select(
            F.col("__ia").alias("id_a"),
            F.col("__ib").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_bits: int = 3,
    hash_mode: str = "md5",
) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤ ``max_bits``
    over documents: signature pass + banded candidate join."""
    return simhash_pairs_from_signatures(
        simhash(df, id_col, text_col, bits, hash_mode),
        id_col, "simhash", bits, max_bits,
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine)
# ---------------------------------------------------------------------------

def _dot(a: Column | str, b: Column | str) -> Column:
    # str args take similarity.dot's parse-once path (r12 wave 16):
    # identical tree, ~50x less driver chatter per call.
    from mysql_syncer_spark.operators.similarity import dot

    return dot(a, b)


def _norm(a: Column | str) -> Column:
    from mysql_syncer_spark.operators.similarity import l2_norm

    return l2_norm(a)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None | bool = "label",
    threshold: float = 0.95,
    lsh_bits: int = 8,
) -> DataFrame:
    """Vector pairs with cosine ≥ threshold: ``(id_a, id_b, cosine)``.

    Blocking policy (bounds the pair space so this is never n² by
    accident):

    * a column name — pairs only within equal values of that column
      (a cluster id, a precomputed bucket, ...);
    * ``None`` — auto-block by the deterministic sign-LSH bucket of the
      vector (:func:`similarity.sign_bucket` over ``lsh_bits``
      components). This is the scale-safe DEFAULT behavior when no
      semantic block column exists: approximate (a near-dup pair split
      across buckets is missed — sign-LSH recall), but the join stays a
      bucketed equi-join at any data size;
    * ``False`` — explicit full cross product: the exact baseline,
      small scale only, must be opted into by name.

    All arithmetic is built-in higher-order functions
    (zip_with/aggregate) — JVM-side, no Python.
    """
    from mysql_syncer_spark.operators import similarity

    # array<double> BEFORE any math: a float32 corpus column would do
    # float32 products inside dot/norm (x*y resolves to FLOAT), drifting
    # ~1e-7 from the oracle's DOUBLE[] arithmetic — enough to flip the
    # 6dp-rounded cosine on boundary pairs (surfaced at sf0.1, where 3
    # of ~350 pairs straddled a rounding edge). Same guard cosine_topk
    # has carried since round 2.
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    if block_col is False:
        # exact tier: |n|^2 pairs score map-side off the scan's
        # partitioning — spread a small corpus over the cluster first
        # (the blocked tiers score after their bucket-join exchange)
        df = similarity._spread(df)
    base = df.select(*cols)
    if block_col is None:
        base = base.withColumn(
            "blk", similarity.sign_bucket("v", lsh_bits)
        )
    blocked = block_col is not False
    base = base.withColumn("n", _norm("v"))
    a = base.select(*[F.col(c).alias(f"{c}_a") for c in base.columns])
    b = base.select(*[F.col(c).alias(f"{c}_b") for c in base.columns])
    on = [F.col("blk_a") == F.col("blk_b")] if blocked else []
    pairs = a.join(b, on=on if on else None, how="inner" if on else "cross").where(
        F.col("id_a") < F.col("id_b")
    )
    cos = _dot("v_a", "v_b") / (F.col("n_a") * F.col("n_b"))
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None | bool = "label",
    threshold: float = 0.95,
    lsh_bits: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop every row whose
    embedding is cosine-near (≥ ``threshold``) a lower-id row in the
    same block, transitively — i.e. keep ONE representative (the min
    id) per connected component of the near-dup graph, plus every
    unpaired row.

    Composition of three already-scale-shaped stages:
    :func:`embedding_near_dups` (blocked pair generation — never n²)
    → ``cluster.duplicate_clusters`` (distributed connected
    components) → ``cluster.dedup_by_clusters`` (broadcast-able victim
    anti-join). The semantic analogue of exact/MinHash text dedup: it
    catches paraphrases and re-encodings that share no n-grams.
    """
    from mysql_syncer_spark.operators.cluster import (
        dedup_by_clusters,
        duplicate_clusters,
    )

    pairs = embedding_near_dups(
        df, id_col, vec_col, block_col, threshold, lsh_bits
    )
    clusters = duplicate_clusters(pairs)
    return dedup_by_clusters(df, clusters, id_col)


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution style fuzzy matching on a short string column:
    pairs whose Levenshtein distance is ≤ ``max_dist``, found WITHOUT
    the n² cross join via token blocking — two candidate generations
    (shared FIRST token, shared LAST token), unioned and deduped, then
    the exact edit-distance verify on the candidates only. Recall
    note: a true match sharing NEITHER its first nor last token with
    its partner is missed — the standard blocking trade-off; widen
    with more block keys if the domain needs it.

    Scale shape: each blocking is an equi self-join on the token
    (bounded by token frequency; hot tokens are ordinary AQE skew),
    the verify is per-row codegen `levenshtein`, and the pair set is
    candidate-sized — nothing quadratic in the table. Output:
    ``(id_a, id_b, name_a, name_b, dist)`` with ``id_a < id_b``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name")
    ).where(F.col("__name").isNotNull())
    toks = F.split(F.col("__name"), r"\s+")
    keyed = base.select(
        "__id", "__name",
        F.element_at(toks, 1).alias("__first"),
        F.element_at(toks, -1).alias("__last"),
    )

    def block(key: str) -> DataFrame:
        a = keyed.select(
            F.col("__id").alias("id_a"), F.col("__name").alias("name_a"),
            F.col(key).alias("__k"),
        )
        b = keyed.select(
            F.col("__id").alias("id_b"), F.col("__name").alias("name_b"),
            F.col(key).alias("__k"),
        )
        return a.join(b, "__k").where(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", "name_a", "name_b"
        )

    cands = block("__first").unionByName(block("__last")).dropDuplicates(
        ["id_a", "id_b"]
    )
    return (
        cands.withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.9,
    max_df: int | None = 100,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment of the smaller shingle
    set in the larger — ``C(A,B) = |A∩B| / min(|A|,|B|)`` — with
    ``(id_a, id_b, small_id, containment, jaccard)``, id_a < id_b.

    The dedup-matrix gap Jaccard leaves open: a document QUOTED or
    TRUNCATED inside a larger one shares nearly all of its own
    shingles but few of the host's, so Jaccard ≈ |small|/|large| stays
    under any sane threshold while containment ≈ 1. This is the BFF /
    quote-extraction regime — subset duplicates, boilerplate wrappers,
    head-truncated re-crawls.

    Same plan skeleton (and the same ``max_df`` skew guard + capped
    universe semantics) as :func:`ngram_jaccard_pairs`: shingle →
    df-cap → per-doc sizes → posting-list self-join — quadratic only
    within a shingle's postings, never corpus². ``small_id`` names the
    contained side (smaller capped shingle set; ties → lower id).
    Jaccard rides along for the asymmetry diagnostic: high C with low
    J is precisely the subset signature."""
    sh = char_shingles(df, id_col, text_col, k)
    if max_df is not None:
        w_df = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    w_sz = Window.partitionBy(id_col)
    sh = sh.withColumn("sz", F.count(F.lit(1)).over(w_sz))
    a = sh.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("sz").alias("sz_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("sz").alias("sz_b")
    )
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter") / F.least("sz_a", "sz_b")
    return (
        inter.withColumn("containment", cont)
        .where(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.when(F.col("sz_a") < F.col("sz_b"), F.col("id_a"))
            .when(F.col("sz_b") < F.col("sz_a"), F.col("id_b"))
            .otherwise(F.least("id_a", "id_b"))
            .alias("small_id"),
            "containment",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.7,
    max_df: int | None = 100,
    hash_mode: str = "md5",
) -> DataFrame:
    """Exact Jaccard similarity join with PREFIX FILTERING (the PPJoin
    family, Xiao et al. 2011): all pairs with Jaccard(k-shingle sets)
    >= threshold — ``(id_a, id_b, jaccard)``, id_a < id_b — provably
    EQUAL to :func:`ngram_jaccard_pairs` over the same df-capped
    shingle universe, but with candidate generation restricted to each
    document's PREFIX.

    The prefix theorem: order every document's shingles by one global
    ordering (here (doc-frequency asc, shingle asc) — rarest first, so
    prefixes carry the most selective postings); if J(A,B) >= t then
    |A∩B| >= ceil(t/(1+t)·(|A|+|B|)) >= ceil(t·|A|), so A and B MUST
    share at least one shingle inside their first
    ``|s| - ceil(t·|s|) + 1`` shingles — pairs sharing only suffix
    (frequent) shingles can't reach the threshold and are never
    generated. The self-join therefore runs over prefix postings only
    (a small, rare-token subset); boilerplate shingles sort LAST and
    drop out of candidate generation entirely, while exact
    verification (intersection count -> Jaccard) touches only
    candidate pairs: two keyed joins proportional to
    Σ_candidates |A|, never all co-occurring pairs. The length filter
    (t·|A| <= |B| and t·|B| <= |A|, integer-exact via ceil) prunes
    further before verification.

    ``max_df`` keeps the same capped-universe semantic as
    :func:`ngram_jaccard_pairs` (Jaccard computed over shingles with
    doc frequency <= max_df; the SQL oracle mirrors it), composing the
    skew guard with the prefix prune.

    ``hash_mode='xxhash64'`` replaces each shingle STRING with its
    64-bit hash before every downstream step — 8-byte fixed shuffle
    keys instead of k-char strings on the postings joins. The pair set
    is hash-family-INDEPENDENT (exact set semantics; the prefix
    theorem needs only SOME global ordering, and (df, hash) is one) up
    to 64-bit collisions — cosmically unlikely below ~2^32 distinct
    shingles, and pytest-gated equal to md5 mode on the fixture."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}"
        )
    sh = char_shingles(df, id_col, text_col, k)
    if hash_mode != "md5":
        sh = sh.withColumn(
            "shingle", _hash64_mode(F.col("shingle"), hash_mode)
        )
    w_df = Window.partitionBy("shingle")
    sh = sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
    if max_df is not None:
        sh = sh.where(F.col("__df") <= max_df)
    w_sz = Window.partitionBy(id_col)
    w_ord = Window.partitionBy(id_col).orderBy("__df", "shingle")
    sh = (
        sh.withColumn("sz", F.count(F.lit(1)).over(w_sz))
        .withColumn("__rn", F.row_number().over(w_ord))
    )
    # prefix length |s| - ceil(t*|s|) + 1
    pref_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = sh.where(F.col("__rn") <= pref_len)
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("sz").alias("sz_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("sz").alias("sz_b")
    )
    cand = (
        pa.join(pb, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        # length filter: t*max(|A|,|B|) <= min(|A|,|B|), integer-exact
        .where(
            (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a")))
            & (F.col("sz_a") >= F.ceil(F.lit(threshold) * F.col("sz_b")))
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    # exact verify on candidates only: fan candidate pairs out over A's
    # shingles, then a keyed join against B's shingles counts the
    # intersection — work ∝ Σ_cand |A|, never the full posting blowup
    ta = sh.select(F.col(id_col).alias("id_a"), "shingle")
    tb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """E182: cross-source duplication audit — for every pair of corpus
    slices (sources, snapshots, providers), the EXACT overlap of their
    distinct character-k-shingle sets: ``(source_a, source_b, n_a,
    n_b, n_common, jaccard, containment)``. The release-time question
    this answers is "which of my sources are mirrors/re-crawls of each
    other" — a per-document dedup pass sees the pairs, this sees the
    SLICE structure (containment ~1 = one source is inside another,
    the CommonCrawl-vs-C4 shape).

    Scale shape: shingling at the (group, shingle) grain — distinct
    BEFORE the join, so each shingle contributes at most
    |groups-containing-it| rows; the shingle-keyed self-join fans out
    at most |groups|^2 per shingle (groups are a LOW-CARDINALITY
    dimension — sources, not documents; this operator is quadratic in
    GROUPS, linear in data). One distinct shuffle + one keyed join +
    two tiny aggregates; no document pairs ever materialize.
    """
    # spread the projected scan below the k-shingle explode: the map
    # stage feeds the distinct exchange and otherwise inherits the
    # scan's single task (guide §2.5/§2.6; distinct shingle sets are
    # placement-independent)
    g = spread_small(df.select(F.col(group_col).alias("__g"), text_col))
    sh = char_shingles(g, id_col="__g", text_col=text_col, k=k).distinct()
    n = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col("__g").alias("__ga"), "shingle")
    b = sh.select(F.col("__g").alias("__gb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("__ga") < F.col("__gb"))
        .groupBy("__ga", "__gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = n.select(F.col("__g").alias("__ga"), F.col("__n").alias("n_a"))
    nb = n.select(F.col("__g").alias("__gb"), F.col("__n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "__ga")
        .join(F.broadcast(nb), "__gb")
        .select(
            F.col("__ga").alias("source_a"),
            F.col("__gb").alias("source_b"),
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )
