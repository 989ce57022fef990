"""Deduplication operators for training-data pipelines.

Four families over `documents`:

- exact (hash-groupBy) — one shuffle on the content hash;
- n-gram/word Jaccard via prefix-filtered candidates + exact verify —
  the scalable exact-similarity formulation: pairs are generated only
  for documents sharing a *rare-prefix* token (never the cross
  product, and immune to corpus-wide hot tokens);
- MinHash + LSH banding — the sub-quadratic candidate generator
  (shingle → minhash signature → band buckets → bucket join);
- SimHash — bit-sign aggregate of hashed tokens, hamming-close pairs.

Exact-Jaccard queries carry DuckDB oracles (list_intersect parity was
verified bit-exact). MinHash/SimHash use Spark's xxhash64 — no DuckDB
equivalent, so they are rows-only for the driver and are gated in
pytest against the exact-Jaccard oracle (candidates ⊇ high-sim pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hcdc_spark.catalog import load_tables
from hcdc_spark.functions.text import distinct_words, duck_words
from hcdc_spark.registry import Registry

REG = Registry()

_W = duck_words("text")
_DW = f"list_distinct({_W})"


def _jaccard_sql() -> str:
    """Exact word-set Jaccard between table aliases ``x`` and ``y``
    (each with a ``ws`` list) — the DuckDB verify of every word-set
    near-dup oracle; bit-identical to the Spark size(array_intersect)
    form."""
    inter = "len(list_intersect(x.ws, y.ws))"
    return f"CAST({inter} AS DOUBLE) / (len(x.ws) + len(y.ws) - {inter})"


@REG.add(
    "q27_dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content. The canonical survivor "
    "is min(doc_id). One shuffle on the hash — at 100 TB, partial agg "
    "means only (hash, count, min) tuples move.",
    tags=("dedup",),
)
def q27_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def exact_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) same-lang pairs with exact word-set
    Jaccard >= threshold, via PREFIX-FILTERED candidate generation +
    exact verification (the prefix-filtering principle of the exact
    set-similarity-join literature — Chaudhuri/Bayardo/PPJoin). One
    implementation, two callers: q28 (top pairs) and q58 (cluster
    edges) previously duplicated it.

    Why not the plain inverted-index token self-join: its output is
    sum(df(w)^2) rows over ALL tokens, and one corpus-wide hot token
    makes that quadratic in the corpus (measured at sf0.1: 471M raw
    join rows -> 13.3 s). Prefix filtering joins only each document's
    p rarest tokens, p = n - floor(t*n) + 1 (~5% of tokens + 1 at
    t=0.95), under one global (document-frequency asc, token) order.

    EXACTNESS: J(x,y) >= t implies |x∩y| >= ceil(t*max(nx,ny)) =: α,
    and if two sets under a common total token order share >= α
    elements, their (n-α+1)-prefixes intersect (suppose not; let w, v
    be the last prefix tokens of x, y, wlog w <= v; any common token
    u in x's prefix has u <= w <= v, so u sits in y's v-bounded
    prefix — contradiction; hence ALL common tokens sit in x's
    (α-1)-token suffix, capping the overlap at α-1 < α). Our
    p = n - floor(t*n) + 1 >= n - α + 1, so the prefix join generates
    a SUPERSET of the qualifying pairs (floor, not ceil, so float
    rounding can only lengthen the prefix — never drop a pair); the
    verify step then recomputes the exact same size(array_intersect)
    / union jaccard the old per-pair count produced, bit-identical
    doubles. Gated against a brute-force all-pairs oracle on random
    borderline corpora in test_text_dedup_similarity.py.

    The size-ratio bound (J >= t implies min(n)/max(n) >= t, spelled
    least/greatest) stays in the candidate join, and lang moves INTO
    the join key. (A collapse-first variant — one representative per
    distinct (lang, word-set) through the join, expand after — was
    measured and REJECTED: shuffling full word-set arrays as group
    keys cost more at sf1.0 than the duplicate rows they remove.)"""
    t = (
        docs.select("doc_id", "lang", distinct_words("text").alias("ws"))
        .withColumn("n_words", F.size("ws").cast("long"))
        # referenced three times below (df pass, prefix pass, verify):
        # tokenize once
        .localCheckpoint(eager=False)
    )
    tokens = t.select(
        "doc_id", "lang", "n_words", F.explode("ws").alias("w")
    )
    # global token order = (corpus document frequency asc, token) —
    # any total order is correct; rarest-first minimizes candidates
    doc_freq = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    prefix_len = (
        F.col("n_words") - F.floor(F.lit(threshold) * F.col("n_words")) + 1
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("_df", "w")
    )
    pref = (
        tokens.join(doc_freq, "w")
        .withColumn("_rn", rank)
        .where(F.col("_rn") <= prefix_len)
        .select("w", "lang", "doc_id", "n_words")
    )
    a = pref.select(
        "w", "lang", F.col("doc_id").alias("doc_a"),
        F.col("n_words").alias("n_a"),
    )
    b = pref.select(
        "w", "lang", F.col("doc_id").alias("doc_b"),
        F.col("n_words").alias("n_b"),
    )
    cand = (
        a.join(b, ["w", "lang"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("n_a", "n_b").cast("double")
                >= F.lit(threshold) * F.greatest("n_a", "n_b")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    va = t.select(
        F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"),
        F.col("n_words").alias("n_a"),
    )
    vb = t.select(
        F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"),
        F.col("n_words").alias("n_b"),
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_a", "n_b",
            F.size(F.array_intersect("ws_a", "ws_b"))
            .cast("long")
            .alias("shared"),
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


@REG.add(
    "q28_jaccard_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {_DW} AS ws FROM documents
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             {_jaccard_sql()} AS jaccard
      FROM t x JOIN t y ON x.lang = y.lang AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, jaccard
    FROM pairs WHERE jaccard >= 0.95
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 200
    """,
    doc="Near-dup detection by exact word-set Jaccard. Spark side uses "
    "prefix-filtered candidates (join on each doc's rarest "
    "n-floor(t*n)+1 tokens) verified by array_intersect — exact, and "
    "immune to hot-token join blowup; the oracle cross-joins within "
    "lang, feasible only at test scale.",
    tags=("dedup", "similarity"),
)
def q28_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        exact_jaccard_pairs(docs, 0.95)
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(200)
    )


# ---------------------------------------------------------------- MinHash

N_HASHES = 72
N_BANDS = 6  # rows per band = 12 → P(candidate) = 1-(1-J^12)^6
# Why 6x12 and not the textbook 4x8: this corpus draws word sets from
# a dense shared vocabulary, so moderate-J (0.6-0.85) pairs are
# everywhere and 8-row bands admit them en masse (measured at sf0.1:
# 1.17M candidates for 28k true pairs). Twelve-row bands cut that to
# 752k while IMPROVING recall at the J>=0.95 mass the gate checks
# (1-(1-0.95^12)^6 = 0.99 vs 0.987 for 4x8). Signatures are a pure
# projection, so 72 hashes instead of 32 costs per-rep CPU only.
_PRIME = (1 << 31) - 1  # Mersenne 2^31-1: a*h stays < 2^62 (ANSI-safe)
#: The exact-Jaccard bar of the MinHash family: q29's and q73's verify,
#: the doc gates (incremental_doc_neardup, batch_self_neardup_keep_first)
#: and their oracles. J >= t implies min(n)/max(n) >= t, so q29's
#: size-ratio prefilter uses the same bound.
MINHASH_JACCARD = 0.9


def _minhash_parts_sql() -> str:
    """The N_HASHES per-hash ``array_min(transform(hs, ...))`` SQL
    fragments over a column named ``hs`` (words already folded to
    ``pmod(w, p)``): h_i(w) = (a_i * (w mod p) + b_i) mod p over the
    31-bit Mersenne prime, per-doc min — a PURE PROJECTION (no
    explode, no groupBy, no shuffle). Built as ONE SQL string, not
    N_HASHES py4j Column trees — with 72 hash functions the tree form
    costs visible driver time per call."""
    import random

    rng = random.Random(0xC0FFEE)
    coeffs = [
        (rng.randrange(1, _PRIME), rng.randrange(0, _PRIME))
        for _ in range(N_HASHES)
    ]
    # stage 1: hash words once; stage 2: N_HASHES mins over `hs`
    return ", ".join(
        f"array_min(transform(hs, h -> pmod({a}L * h + {b}L, {_PRIME}L)))"
        for (a, b) in coeffs
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """q29's candidate generator: band (doc_id, sig, n) rows into
    N_BANDS xxhash64 buckets and join within buckets → (doc_a, doc_b)
    candidate pairs.

    Bucket key = xxhash64 of the band's slice (long, not md5 string —
    shorter shuffle rows, no codec hop). Pairs with min(n)/max(n) <
    MINHASH_JACCARD are dropped *inside the bucket join*, before the
    distinct and long before any word-set arrays move: Jaccard >= t
    implies size ratio >= t, so with the verification threshold this
    is a pure-win prefilter — at 100 TB it is the difference between
    shipping arrays for every bucket collision and only for
    size-compatible ones.

    ``sig`` is already materialized (q29 computes signatures inside the
    collapse checkpoint), so the banded frame stays lazy: re-deriving 6
    xxhash64 bucket keys from a checkpointed sig array is cheaper than
    another blocking job."""
    rows_per_band = N_HASHES // N_BANDS
    # one SQL string, not N_BANDS py4j struct trees (see _minhash_parts_sql)
    bands_sql = ", ".join(
        "struct({bi} AS band, xxhash64({cols}) AS bucket)".format(
            bi=bi,
            cols=", ".join(
                f"sig[{bi * rows_per_band + j}]"
                for j in range(rows_per_band)
            ),
        )
        for bi in range(N_BANDS)
    )
    banded = sig.select(
        "doc_id", "n", F.expr(f"explode(array({bands_sql}))").alias("bb"),
    ).select("doc_id", "n", "bb.band", "bb.bucket")
    a = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
    )
    b = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.least("n_a", "n_b").cast("double") / F.greatest("n_a", "n_b")
            >= MINHASH_JACCARD
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def _collapse_verify_expand(
    t: DataFrame, candidates_fn, prep_fn=None
) -> DataFrame:
    """Shared tail of the MinHash-LSH pipelines (q29 xxhash64 mode /
    q73 md5 mode) — only the candidate generator differs.

    (doc_id, ws sorted-array) →
    1. collapse identical word-sets to one representative (J=1 by
       definition; groupBy on the set — one shuffle);
    2. ``candidates_fn(reps)`` → (doc_a, doc_b) candidate rep pairs;
    3. exact Jaccard (>= MINHASH_JACCARD) verification at rep level
       (array_intersect — element type agnostic: longs in q29, strings
       in q73). No sketch prefilter: the intersect costs O(|ws|) per
       pair, about the same as a signature-compare estimate, and
       skipping it drops a join.
       Revisit if |ws| grows to 1000s of tokens per doc;
    4. expand back to member pairs (membership is doc-count scale).

    Verification cost is rep-pairs (~k), not doc-pairs (~k * dup^2) —
    on corpora with heavy duplication that is the difference between
    touching thousands and millions of array intersections.

    ``prep_fn``, if given, maps the grouped frame (ws, rep, members) to
    the same frame plus extra per-rep columns derived from ``ws`` (e.g.
    minhash signatures). They are computed INSIDE the one checkpoint
    materialization — i.e. exactly once per query — and surface on the
    ``reps`` frame handed to ``candidates_fn``. Without this, a
    candidate generator that derives an expensive projection from
    ``ws`` re-computes it on each side of its band self-join (measured
    2x the 72-hash signature cost in q29 before round 14).
    """
    # Eagerly materialize: grp feeds two branches of one action (reps →
    # LSH/verify, members → expansion); left lazy, both branches race
    # ahead and each recomputes the tokenize + groupBy (~25% slower end
    # to end at sf0.1). localCheckpoint instead of cache+count: same
    # one-job materialization, but the blocks are released when the
    # plan is garbage-collected instead of pinning executor storage for
    # the session's lifetime (the driver harness runs q29 and q73
    # back-to-back in one long-lived session — review r4).
    base = t.groupBy("ws").agg(
        F.min("doc_id").alias("rep"),
        F.collect_list("doc_id").alias("members"),
    )
    if prep_fn is not None:
        base = prep_fn(base)
    grp = base.localCheckpoint(eager=True)
    reps = grp.drop("members").withColumnRenamed("rep", "doc_id")

    cand = candidates_fn(reps)

    ws_a = reps.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    ws_b = reps.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    shared = F.size(F.array_intersect("ws_a", "ws_b")).cast("long")
    ver = (
        cand.join(ws_a, "doc_a")
        .join(ws_b, "doc_b")
        .withColumn("shared", shared)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.size("ws_a") + F.size("ws_b") - F.col("shared")),
        )
        .where(F.col("jaccard") >= MINHASH_JACCARD)
        .select(F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"),
                "jaccard")
    )

    mem = grp.select("rep", F.explode("members").alias("doc"))
    intra = (
        mem.alias("x")
        .join(mem.alias("y"), "rep")
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    ma = mem.select(F.col("rep").alias("rep_a"), F.col("doc").alias("da"))
    mb = mem.select(F.col("rep").alias("rep_b"), F.col("doc").alias("db"))
    cross = (
        ver.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


@REG.add(
    "q29_minhash_lsh",
    None,
    doc="MinHash(72) + LSH(6 bands x 12 rows) near-dup pairs with exact "
    "Jaccard >= 0.9. Scale shape: identical word-sets collapse to one "
    "representative FIRST (groupBy on the set — one shuffle), LSH and "
    "the exact verification run on representatives only, and member "
    "pairs are expanded back by two cheap membership joins at the end "
    "(the _collapse_verify_expand tail, shared with q73). Rows-only "
    "for the driver (xxhash64 has no DuckDB equivalent — q73 is the "
    "oracle-checked md5-mode twin); recall vs exact Jaccard gated in "
    "tests/test_text_dedup_similarity.py.",
    tags=("dedup", "lsh"),
)
def q29_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # sorted xxhash64 word sets: (a) set equality is array equality
    # regardless of word order, (b) every downstream intersect compares
    # longs, not strings. Hash collisions are negligible at 64 bits.
    t = docs.select(
        "doc_id",
        F.array_sort(
            F.transform(distinct_words("text"), lambda w: F.xxhash64(w))
        ).alias("ws"),
    )

    # The 72-hash signature projection is the expensive per-rep step
    # (~0.54 s of q29's 2.0 s at sf0.1). Computing it lazily inside the
    # candidate generator re-evaluates it on each side of the band
    # self-join, so it rides along in the one collapse checkpoint via
    # prep_fn — computed exactly once per query.
    def prep(g: DataFrame) -> DataFrame:
        staged = g.select(
            "*", F.expr(f"transform(ws, w -> pmod(w, {_PRIME}L))").alias("hs")
        )
        return staged.select(
            "ws",
            "rep",
            "members",
            F.expr(f"array({_minhash_parts_sql()})").alias("sig"),
            F.size("ws").alias("n"),
        )

    return _collapse_verify_expand(
        t,
        lambda reps: lsh_candidate_pairs(reps.select("doc_id", "sig", "n")),
        prep_fn=prep,
    )


# ---------------------------------------------------------------- SimHash

N_SIMHASH_BITS = 32


def simhash(
    docs: DataFrame, n_bits: int = N_SIMHASH_BITS, hash_fn=None
) -> DataFrame:
    """(doc_id, simhash long): sign-aggregate of token hash bits.

    One explode + groupBy with n_bits conditional-sum aggregates; the
    final bit-pack is a plain expression. All JVM-side. ``hash_fn``
    maps the token column to a long hash — xxhash64 by default (the
    production path); q91's md5 oracle twin passes its conv-from-md5
    variant so BOTH twins share this one vote/pack implementation and
    can never drift apart."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    tokens = docs.select(
        "doc_id", F.explode(distinct_words("text")).alias("w")
    ).withColumn("h", hash_fn("w"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = tokens.groupBy("doc_id").agg(*aggs)
    packed = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def _simhash_neardup_pairs(sh: DataFrame, max_hamming: int = 6) -> DataFrame:
    """(doc_id, simhash) → (doc_a, doc_b, hamming) near-dup pairs via
    4×8-bit pigeonhole banding (any band matches ⇒ candidate; hamming
    ≤ 3 guaranteed, ≤ 6 with high probability), hamming verified with
    bit_count(xor).

    Collapse-first, exactly like :func:`_collapse_verify_expand` but
    applied to the SKETCH: identical simhashes group to one
    representative BEFORE banding, so the band join runs over DISTINCT
    simhash values only — on a near-dup-saturated corpus that is the
    difference between joining O(docs) and O(distinct sketches) rows.
    Same-sketch doc pairs re-emit directly as hamming-0 (an identical
    simhash shares every band by construction, so this reproduces the
    doc-level join's output bit-for-bit); verified cross-sketch rep
    pairs expand back through two membership joins. Candidate rep
    pairs dedup on bare ids BEFORE the verify so no band multiplicity
    survives the shuffle — the q29/q52 bucket-join shape."""
    grp = sh.groupBy("simhash").agg(
        F.min("doc_id").alias("rep"),
        F.collect_list("doc_id").alias("members"),
    ).localCheckpoint(eager=True)
    reps = grp.select(F.col("rep").alias("doc_id"), "simhash")
    bands = reps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(255))
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("rep_a"),
        F.col("simhash").alias("sh_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("rep_b"),
        F.col("simhash").alias("sh_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", "sh_a", "sh_b")
        .distinct()  # any-band match counted once
    )
    ver = cand.withColumn(
        "hamming",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
    ).where(F.col("hamming") <= max_hamming)
    mem = grp.select("rep", F.explode("members").alias("doc"))
    intra = (
        mem.alias("x")
        .join(mem.alias("y"), "rep")
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    ma = mem.select(F.col("rep").alias("rep_a"), F.col("doc").alias("da"))
    mb = mem.select(F.col("rep").alias("rep_b"), F.col("doc").alias("db"))
    cross = (
        ver.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return intra.unionByName(cross)


@REG.add(
    "q38_simhash_neardup",
    None,
    doc="SimHash(32-bit) near-dup pairs, multi-band probing: 4×8-bit "
    "band keys, a pair is a candidate when ANY band matches "
    "(pigeonhole: hamming ≤ 3 ⇒ guaranteed candidate; ≤ 6 covered "
    "with high probability — a single top-16 bucket probe misses any "
    "near-dup differing in one high bit), then hamming ≤ 6 verify "
    "(bit_count of xor). Collapse-first: identical sketches group to "
    "a representative before banding (_simhash_neardup_pairs), so "
    "the band join sees distinct simhash values only. Rows-only; "
    "recall and band gates in tests/test_text_dedup_similarity.py.",
    tags=("dedup", "simhash"),
)
def q38_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return _simhash_neardup_pairs(simhash(docs))


# ------------------------------------------- SimHash, oracle-checkable


def _q91_oracle() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(N_SIMHASH_BITS)
    )
    pack = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END) * {1 << i}"
        for i in range(N_SIMHASH_BITS)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {_DW} AS ws FROM documents WHERE len({_DW}) > 0
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS hv
      FROM (SELECT doc_id, unnest(ws) AS w FROM t)
    ), bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM bits
    ), bands AS (
      SELECT doc_id, simhash, CAST(i AS BIGINT) AS band_idx,
             (simhash >> CAST(8 * i AS INT)) & 255 AS band_val
      FROM sh CROSS JOIN range(4) r(i)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS sh_a, b.simhash AS sh_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
    """


@REG.add(
    "q91_simhash_md5",
    _q91_oracle(),
    doc="SimHash(32-bit) near-dup pairs, md5-hash mode — the oracle "
    "twin of q38 the way q73 twins q29 and q89 twins q36: the token "
    "hash is the first 32 bits of md5(w) (exact integer arithmetic in "
    "both engines), so the WHOLE pipeline — per-bit +1/-1 vote, sign "
    "pack, 4x8-bit pigeonhole bands, any-band candidate join, "
    "hamming<=6 verify via bit_count(xor) — re-derives in DuckDB SQL "
    "and the banding itself is hash-checked. Same scale shape as q38: "
    "one explode+groupBy for signatures (32 conditional sums, all "
    "JVM-side), then the shared collapse-first tail "
    "(_simhash_neardup_pairs): identical sketches collapse to a "
    "representative, the band join runs over distinct simhash values "
    "and dedups on bare ids before the verify, members expand back at "
    "the end. xxhash64 stays the production "
    "default (no string materialization per token).",
    tags=("dedup", "simhash"),
)
def q91_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = simhash(
        docs,
        hash_fn=lambda w: F.conv(
            F.substring(F.md5(w), 1, 8), 16, 10
        ).cast("long"),
    )
    return _simhash_neardup_pairs(sh)


@REG.add(
    "q58_dedup_clusters",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, {_DW} AS ws FROM documents
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM t x JOIN t y ON x.lang = y.lang AND x.doc_id < y.doc_id
      WHERE {_jaccard_sql()} >= 0.95
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id,
           LEAST(a, MIN(b)) AS cluster_id,
           a = LEAST(a, MIN(b)) AS is_canonical
    FROM reach GROUP BY a
    """,
    doc="Near-dup CLUSTERS, not just pairs: connected components over "
    "the exact-Jaccard(>=0.95) pair graph by iterative min-label "
    "propagation — each round, every doc takes the smallest label in "
    "its neighborhood; converges in graph-diameter rounds (near-dup "
    "components are shallow). This is the keep-list operator a "
    "training pipeline actually consumes: cluster id + canonical "
    "(minimum-id) survivor per doc. Spark side is label-propagation "
    "joins (the standard distributed CC shape; GraphFrames does the "
    "same); the oracle is a recursive transitive closure in DuckDB — "
    "feasible only at test scale, which is exactly what makes it a "
    "strong independent check.",
    tags=("dedup", "graph"),
)
def q58_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = exact_jaccard_pairs(docs, 0.95).select("doc_a", "doc_b")

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=True)  # pairs reused every round
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # TWO (propagate + shortcut) halves per blocking cycle, planned
    # lazily and materialized by ONE localCheckpoint (round-15
    # optimization, guide §2.4/§5 — extends the round-14
    # propagate-pair fuse with Shiloach–Vishkin-style pointer
    # jumping). PROPAGATE takes the min label over the neighborhood —
    # one hop of reach per round, so the round-14 loop's cycle count
    # tracked the component diameter. SHORTCUT composes the result
    # with the last checkpointed label map (label <- l_prev(label)),
    # which on a chain turns reach r into 2r+1 — reach grows
    # geometrically in cycles, and the measured sf0.1 propagate count
    # fell from 10 to 6 with wall parity per propagate. Fusing two
    # halves per checkpoint then halves the blocking driver jobs
    # (checkpoint + isEmpty per CYCLE, not per half). Correctness
    # invariants, preserved by both steps: (a) label(v) is always the
    # id of a node in v's component (propagate takes mins of neighbor
    # labels; shortcut takes the label OF a component member), and
    # (b) label(v) never increases and label(v) <= v (so
    # l_prev(label(v)) <= label(v) is a valid shortcut). A propagate
    # round with zero changes is therefore a fixpoint: labels are
    # constant across every edge, hence constant per component, and
    # the constant is the component minimum (label(m) <= m and every
    # label >= m). The 10-cycle cap bounds pathological chains far
    # past any real near-dup corpus.
    # test_text_dedup_similarity gates the cycle count.
    for it in range(10):
        # the shortcut's parent map is the last CHECKPOINTED label
        # frame for both halves — a checkpoint scan is free to
        # reference twice, while composing a lazy half with itself
        # would re-derive its whole propagate subtree per join side
        # (the q29 double-derive trap)
        parent = labels.select(
            F.col("doc_id").alias("label"), F.col("label").alias("_ll")
        )
        cur = labels
        for half in range(2):
            nbr = (
                edges.join(
                    cur.select(
                        F.col("doc_id").alias("dst"),
                        F.col("label").alias("nbr_label"),
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("doc_id"))
                .agg(F.min("nbr_label").alias("nbr_min"))
            )
            prop = cur.join(nbr, "doc_id", "left").select(
                "doc_id",
                F.least(
                    "label", F.coalesce("nbr_min", "label")
                ).alias("label"),
                (
                    F.coalesce("nbr_min", "label") < F.col("label")
                ).alias("_chg"),
            )
            # shortcut: compose with the checkpointed map —
            # l_prev(l_prop(v)). l_prev(w) <= w keeps the step
            # monotone, and every l_prop(v) is a component-member id
            # that appears in the label table (all nodes in play are
            # srcs of the symmetric edge set) — left join + coalesce
            # only as belt-and-braces. On a chain one half turns
            # reach r into 2r+1, so label reach grows geometrically
            # in CYCLES where plain propagation grew it by one hop
            # per round.
            cur = prop.join(parent, "label", "left").select(
                "doc_id",
                F.coalesce("_ll", "label").alias("label"),
                "_chg",
            )
            if half == 0:
                cur = cur.drop("_chg")
        new = cur.localCheckpoint(eager=True)
        labels = new.drop("_chg")
        # probe the SECOND half's propagate: zero changes means that
        # propagate was already a fixpoint (shortcutting a fixpoint is
        # the identity, and a fixpoint stays one forever)
        if new.where(F.col("_chg")).isEmpty():
            break
    else:
        # Cap exhausted with the last probe non-empty (the loop breaks
        # on every empty probe), so labels were still changing: the
        # clusters are not converged and returning them would be a
        # silent wrong answer (the oracle computes the true transitive
        # closure) — fail loudly instead (review r4). Raise the cap
        # deliberately if a >2^10-hop near-dup chain ever appears.
        raise ValueError(
            "q58 label propagation did not converge in 10 cycles"
        )
    # test hook: blocking cycles actually executed (job-count gates are
    # too AQE-noisy — every adaptive query stage is its own job)
    q58_dedup_clusters.last_rounds = it + 1
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


# ------------------------------------------ MinHash+LSH, oracle-checkable

# The q29 production pipeline hashes with xxhash64, which DuckDB lacks —
# so LSH greenness was never driver-visible. q73 runs the SAME
# collapse→sign→band→verify→expand pipeline with every hash derived from
# md5 (available bit-identically in both engines): minhash h_i(w) =
# lexicographic min of md5("i:" || w) over the doc's words (hash-order
# min = a random permutation min, the classic MinHash construction), and
# band bucket = md5 of the '|'-joined 12-hash slice. Every stage is
# therefore re-derivable in DuckDB SQL, which the oracle does — the
# first hash-checked MinHash-LSH query. xxhash64 stays the production
# default (shorter shuffle rows, no string materialization).
Q73_HASHES = N_HASHES
Q73_BANDS = N_BANDS


def _md5_signature_sql() -> str:
    """sig = array(min(md5('0:'||w)), min(md5('1:'||w)), ...) as ONE SQL
    string (the q29 lesson: n py4j Column trees cost visible driver
    time)."""
    parts = ", ".join(
        f"array_min(transform(ws, w -> md5(concat('{i}:', w))))"
        for i in range(Q73_HASHES)
    )
    return f"array({parts})"


def _md5_band_sql() -> str:
    """bands = array(struct(band, md5(sig[0]||'|'||...)), ...)."""
    rows_per_band = Q73_HASHES // Q73_BANDS
    entries = []
    for b in range(Q73_BANDS):
        joined = ", ".join(
            f"sig[{b * rows_per_band + j}]" for j in range(rows_per_band)
        )
        entries.append(
            f"struct({b} AS band, md5(concat_ws('|', {joined})) AS bucket)"
        )
    return f"array({', '.join(entries)})"


# ------------------------------------------- the MinHash oracle fragments
# One DuckDB rendering per step of the word-set near-dup family; every
# oracle (q73, q105 and the crawl gates c22/c26/c30-c33) composes its
# text from these, so each stays an independent SQL formulation with
# one spelling per step.


def _minhash_bands_sql() -> str:
    """The ``tok``, ``mh`` and ``bands`` CTEs: q73's md5 MinHash/LSH
    banding of a CTE ``t`` (doc_id, ws) into (doc_id, band, bucket)
    rows — min of md5('i:' || w) per hash, md5 of the '|'-joined band
    slice per bucket (the DuckDB form of _doc_band_explode)."""
    rows = Q73_HASHES // Q73_BANDS
    return f"""tok AS (
      SELECT doc_id, unnest(ws) AS w FROM t
    ), mh AS (
      SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || w)) AS h
      FROM tok CROSS JOIN range({Q73_HASHES}) r(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, i // {rows} AS band,
             md5(string_agg(h, '|' ORDER BY i)) AS bucket
      FROM mh GROUP BY doc_id, i // {rows}
    )"""


def _gate_sql(i: int, new_ids: str, old_ids: str) -> str:
    """The corpus-gate CTEs ``cand_<i>`` and ``rejected_<i>``: docs of
    the id query ``new_ids`` that share a band bucket with a doc of
    ``old_ids`` and reach MINHASH_JACCARD against it (the DuckDB form
    of incremental_doc_neardup). Needs ``t`` and _minhash_bands_sql."""
    return f"""cand_{i} AS (
      SELECT DISTINCT a.doc_id AS doc_new, o.doc_id AS doc_old
      FROM bands a JOIN bands o
        ON a.band = o.band AND a.bucket = o.bucket
      WHERE a.doc_id IN ({new_ids})
        AND o.doc_id IN ({old_ids})
    ), rejected_{i} AS (
      SELECT DISTINCT doc_new FROM cand_{i}
      JOIN t x ON doc_new = x.doc_id
      JOIN t y ON doc_old = y.doc_id
      WHERE {_jaccard_sql()} >= {MINHASH_JACCARD}
    )"""


def _keep_first_sql(batch: str) -> str:
    """The ids q105's keep-first rule rejects within the relation
    ``batch`` (doc_id, ws): every doc reaching MINHASH_JACCARD with a
    lower-id doc, over ALL pairs (the DuckDB form of
    batch_self_neardup_keep_first — a hash match also certifies the
    engine's banding recall)."""
    return f"""
      SELECT DISTINCT y.doc_id
      FROM {batch} x JOIN {batch} y ON x.doc_id < y.doc_id
      WHERE {_jaccard_sql()} >= {MINHASH_JACCARD}"""


@REG.add(
    "q73_minhash_lsh_md5",
    f"""
    WITH t AS (
      SELECT doc_id, {_DW} AS ws FROM documents
      WHERE len({_DW}) > 0
    ), {_minhash_bands_sql()}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, {_jaccard_sql()} AS jaccard
    FROM cand JOIN t x ON doc_a = x.doc_id
              JOIN t y ON doc_b = y.doc_id
    WHERE {_jaccard_sql()} >= {MINHASH_JACCARD}
    """,
    doc="MinHash(72) + LSH(6 bands x 12 rows) near-dup pairs with exact "
    "Jaccard >= 0.9, md5-hash mode — the oracle re-derives the FULL "
    "pipeline (signatures, banding, candidate join, exact verify) in "
    "DuckDB SQL, so LSH bucketing itself is hash-checked, not just "
    "rows-counted. The oracle works per-doc without the collapse/expand "
    "stages: identical word-sets get identical signatures, so member "
    "pairs are candidates iff their representatives are — two "
    "independent formulations, one answer. Spark side keeps the q29 "
    "scale shape (collapse-first, banded bucket join, rep-level verify, "
    "membership expansion; signatures are a shuffle-free projection). "
    "Docs with empty word-sets are excluded on both sides (their "
    "Jaccard is undefined).",
    tags=("dedup", "lsh"),
)
def q73_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.operators.similarity import _bucket_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = docs.select(
        "doc_id", F.array_sort(distinct_words("text")).alias("ws")
    ).where(F.size("ws") > 0)

    def md5_candidates(reps: DataFrame) -> DataFrame:
        # no size-ratio prefilter here — the md5 string pipeline is the
        # oracle twin, and the prefilter is result-invariant anyway.
        # Eager checkpoint: left lazy, both self-join sides re-derive the
        # 72-hash signature projection (measured 2x the signature cost
        # in q29 before round 14).
        banded = _doc_band_explode(reps).localCheckpoint(eager=True)
        return _bucket_pairs(banded, "doc_id", "doc_a", "doc_b")

    return _collapse_verify_expand(t, md5_candidates)


# -------------------------- persisted MinHash doc index + ingest dedup


def _doc_band_explode(docs_t: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows under q73's md5-MinHash geometry
    over a (doc_id, ws) frame — one implementation for q73's
    representatives, the index builder, the admit path, the
    ingest-batch prober and the within-batch self-dedup, so no two
    sides can band differently. Empty word-sets are excluded (q73's
    convention: their Jaccard is undefined, so they carry no dedup
    evidence and are admitted without probing)."""
    sig = docs_t.where(F.size("ws") > 0).select(
        "doc_id", F.expr(_md5_signature_sql()).alias("sig")
    )
    return sig.select(
        "doc_id", F.expr(f"explode({_md5_band_sql()})").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def write_doc_band_index(
    spark: SparkSession, docs_t: DataFrame, table: str, path: str
) -> None:
    """Persist the MinHash(72)/LSH(6x12) band index of a document
    corpus as a BUCKETED table — the text twin of the embedding band
    index (similarity.write_band_index; shared core writer): built
    once per corpus version, probed by every ingest batch with the
    corpus side bucket-aligned and never re-banded or re-shuffled.
    Rows carry the shared gen/keep-latest contract (build = gen -1;
    see similarity.write_band_index_rows)."""
    from hcdc_spark.operators.similarity import write_band_index_rows

    write_band_index_rows(
        spark, _doc_band_explode(docs_t), table, path,
        id_col="doc_id",
        meta={"n_bands": Q73_BANDS, "bits": Q73_HASHES // Q73_BANDS,
              "geometry": "minhash-md5", "target_bucket_rows": 16},
    )


def append_doc_band_index(
    spark: SparkSession, new_t: DataFrame, table: str, batch_id: int = 0
) -> None:
    """Admit accepted documents into the persisted MinHash index
    (insertInto keeps the bucket spec — the next cycle's probe joins
    stay exchange-free on the corpus side). ``batch_id`` (>= 0) is the
    keep-latest generation: a RE-crawled doc_id's superseded band rows
    stay probing until similarity.compact_band_index drops them.
    Re-appending the same batch duplicates index ROWS but never
    answers: probes dedup candidates before the Jaccard verify; a
    replayed admit costs storage only, reclaimed by compaction. Updates
    the hcdc.n_rows statistic the rebuild policy reads, and the
    max_group_rows bound the md5 SMJ guard reads (a boilerplate-heavy
    crawl admitting thousands of identical-signature docs is exactly
    the duplication-cluster regime that spills the bucket-only join;
    round-11 advice). The append core (checks, statistics, clustered
    insert) is similarity._append_band_rows; this module only bands."""
    from hcdc_spark.operators.similarity import _append_band_rows

    # pins the table to the one geometry this module bands with
    _append_band_rows(
        spark, table, new_t, _doc_band_explode(new_t),
        (Q73_BANDS, Q73_HASHES // Q73_BANDS, "minhash-md5"), batch_id,
        "append_doc_band_index",
    )


def incremental_doc_neardup(
    spark: SparkSession,
    new_t: DataFrame,
    index_table: str,
    corpus_t: DataFrame,
    threshold: float = MINHASH_JACCARD,
) -> DataFrame:
    """Dedup-on-ingest for TEXT: (doc_new, doc_old, jaccard) pairs
    between a NEW batch and the already-indexed corpus with exact
    Jaccard >= ``threshold``. The batch bands only itself (a pure
    projection), candidates come from the bucket-aligned index join,
    and the exact word-set Jaccard verifies — the q73 pipeline with
    the corpus side served from the build-once artifact.

    INDEX/CORPUS COUPLING: ``corpus_t`` must carry every doc_id the
    index holds — after append_doc_band_index admits a batch, grow
    ``corpus_t`` with the same rows (c22 reads the clean sink back).
    A candidate whose doc_old has no corpus row cannot be verified;
    dropping it silently would under-reject near-dups, so the verify
    join is LEFT and a missing word-set raises at execution time."""
    from hcdc_spark.operators.similarity import (
        _band_candidates,
        read_band_index_meta,
    )

    nbx = _doc_band_explode(new_t).select(
        F.col("doc_id").alias("doc_new"), "band", "bucket"
    )
    # band-partitioned layout: one band-dir-pruned scan joined on the
    # bucket key alone (exchange-free on the index side), with
    # bucket-file pruning when the batch's keys are sparse enough to
    # bite (similarity._band_candidates) — the per-cycle read is
    # O(|batch| x occupancy x n_bands) for micro-batches
    cand = _band_candidates(
        spark, index_table, nbx, read_band_index_meta(spark, index_table),
        "doc_new", "doc_old",
    )
    return _jaccard_verify(
        cand, new_t, corpus_t, "doc_new", "doc_old", threshold
    )


def _jaccard_verify(
    cand: DataFrame, left: DataFrame, right: DataFrame, a: str, b: str,
    threshold: float,
) -> DataFrame:
    """(a, b, jaccard) for candidate id pairs ``cand`` whose exact
    word-set Jaccard reaches ``threshold`` — the word-set family's side
    of similarity._verify_join (the one LEFT join + drift check): the
    word sets join back by id from the (doc_id, ws) frames ``left`` and
    ``right``."""
    from hcdc_spark.operators.similarity import _verify_join

    shared = F.size(F.array_intersect("ws_a", "ws_b"))
    jac = shared.cast("double") / (
        F.size("ws_a") + F.size("ws_b") - shared
    )
    return _verify_join(
        cand,
        left.select(F.col("doc_id").alias(a), F.col("ws").alias("ws_a")),
        right.select(F.col("doc_id").alias(b), F.col("ws").alias("ws_b")),
        a, b, jac, "jaccard", "append_doc_band_index",
    ).where(F.col("jaccard") >= threshold)


def batch_self_neardup_keep_first(
    t_b: DataFrame, threshold: float = MINHASH_JACCARD
) -> DataFrame:
    """Within-batch near-dup self-dedup for an ingest batch — the
    pre-gate step the corpus probes structurally cannot provide: the
    ingest gates (c22/c26/c30) reject a batch doc against corpus ∪
    ADMITTED docs, so two copies of the same NEW page arriving in ONE
    batch both pass the gate and both admit (the second is only caught
    on the NEXT cycle, after the first has been indexed). Run this on
    the batch first and the pair never co-admits.

    Input: (doc_id, ws, ...) rows; returns the SURVIVORS (all columns
    kept, ``ws`` sorted). Rule: a doc is rejected iff it has exact
    word-set Jaccard >= ``threshold`` with ANY lower-id doc in the same
    batch — keep-first-by-doc_id as a MONOTONE rule: deterministic,
    order-free, and resolved by one banded candidate join + one verify
    pass (no iteration). It differs from greedy chain resolution
    exactly when a doc's only lower match was itself rejected (1~2,
    2~3, 1≁3: greedy keeps 3, this rule rejects it) — the
    conservative direction for an ingest gate, and the SQL-expressible
    one (a greedy chain is an iterated fixpoint). Empty word sets carry
    no evidence (q73's convention) and are never rejected.

    Plan shape: q73's pipeline on the batch alone — _doc_band_explode
    bands it, similarity._bucket_pairs pairs it under
    doc_keep < doc_dup, _jaccard_verify checks the pairs. Batch-sized
    everywhere: at 100 TB the batch is a micro-batch, so this is a
    per-trigger O(|batch| log |batch|)-ish step, never corpus-touching.

    ONE eager checkpoint, of the band rows, evaluates the 72-hash md5
    signatures (72 md5 calls per word — the single most expensive
    expression in the gate) once per call; left lazy, each self-join
    side would re-evaluate them. The sorted batch is lazily
    checkpointed, so that same job materializes it too: the verify,
    the anti-join and the caller's later reads of the returned frame
    (_crawl_probe, _crawl_admit) scan it instead of re-running the
    tokenize upstream. The sort pins the md5 operand order, exactly as
    q73 does; signatures are permutation-invariant, and the result is
    deterministic on batch content, so replay semantics and oracle
    hashes are unchanged.
    """
    from hcdc_spark.operators.similarity import _bucket_pairs

    t_c = t_b.withColumn("ws", F.array_sort("ws")).localCheckpoint(
        eager=False
    )
    banded = _doc_band_explode(t_c).localCheckpoint(eager=True)
    cand = _bucket_pairs(banded, "doc_id", "doc_keep", "doc_dup")
    rejected = (
        _jaccard_verify(cand, t_c, t_c, "doc_keep", "doc_dup", threshold)
        .select(F.col("doc_dup").alias("doc_id"))
        .distinct()
    )
    return t_c.join(rejected, "doc_id", "left_anti")


# planted-copy offset: 1,000,000 (c30's convention), safely above any
# test-corpus doc_id — a smaller offset (the original 500k) collides
# with real ids on corpora past that size, and since 1e6 % 10 == 0 the
# copies keep the batch's % 10 == 3 residue (round-12 advice)
_Q105_BATCH = f"""
      SELECT doc_id, lang, {_DW} AS ws FROM documents
      WHERE doc_id % 10 = 3 AND len({_DW}) > 0
      UNION ALL
      SELECT doc_id + 1000000, lang, {_DW} AS ws FROM documents
      WHERE doc_id % 30 = 3 AND len({_DW}) > 0
"""


@REG.add(
    "q105_batch_self_dedup",
    f"""
    WITH batch AS ({_Q105_BATCH}
    ), rejected AS ({_keep_first_sql("batch")}
    )
    SELECT doc_id, lang, len(ws) AS n_words FROM batch
    WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
    ORDER BY doc_id
    """,
    doc="Within-batch near-dup self-dedup "
    "(batch_self_neardup_keep_first) as a driver row: an ingest batch "
    "with PLANTED internal copies (every doc_id % 30 == 3 doc appears "
    "twice) is self-deduped under the monotone keep-first rule — a "
    "doc is rejected iff its exact word-set Jaccard to ANY lower-id "
    "batch doc reaches 0.9. This is the pre-gate step the index "
    "probes structurally cannot provide (c22/c26/c30 reject vs corpus "
    "∪ admitted, so same-batch copies co-admit). Spark side: the "
    "batch bands only ITSELF (q73's md5 signature projections), "
    "candidates from the (band, bucket) self-join under id ordering, "
    "exact-Jaccard verify; the oracle computes the rule over ALL "
    "within-batch pairs — a hash match therefore also certifies "
    "banding recall at the 0.9 threshold on this corpus. Batch-sized "
    "everywhere: a per-micro-batch step, never corpus-touching.",
    tags=("dedup", "lsh", "ingest"),
)
def q105_batch_self_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = docs.where(F.col("doc_id") % 10 == 3).select(
        "doc_id", "lang", "text"
    )
    copies = base.where(F.col("doc_id") % 30 == 3).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "lang", "text"
    )
    t_b = (
        base.unionByName(copies)
        .select(
            "doc_id", "lang", distinct_words("text").alias("ws")
        )
        .where(F.size("ws") > 0)
    )
    return (
        batch_self_neardup_keep_first(t_b)
        .select(
            "doc_id", "lang", F.size("ws").cast("long").alias("n_words")
        )
        .orderBy("doc_id")
    )
