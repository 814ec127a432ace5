"""Deduplication operators for training-data pipelines.

Five dedup families, all pure Catalyst expressions (no Python UDFs, so the
100 TB path keeps whole-stage codegen):

  * exact           — hash-groupBy on content
  * n-gram Jaccard  — exact set similarity on word shingles
  * MinHash + LSH   — banded signature bucketing for near-dup candidates
  * SimHash         — 16-bit weighted bit signature
  * embedding cosine— see operators.similarity

Determinism contract: every hash is ``md5`` of a string — identical hex in
Spark and DuckDB — and MinHash minimizes the hex string *lexicographically*,
so the DuckDB oracle can reproduce signatures byte-for-byte without any
bigint/hex conversion games.

Scale notes (100 TB):
  * shingle explosion is the dominant cost → ``dropDuplicates`` per
    (doc, shingle) immediately, before any join;
  * the LSH band join shuffles on (band, band_hash) — bucket sizes are the
    skew risk; hot buckets (boilerplate docs) are handled by AQE skew
    splitting, or pre-filtered by a bucket-size cap;
  * pairwise Jaccard is quadratic per shingle bucket — always run MinHash
    candidates first at scale, Jaccard only to confirm candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)

__all__ = [
    "word_shingles",
    "dedup_exact",
    "dedup_exact_keep_best",
    "dedup_against_history",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "near_dup_pairs",
    "near_dup_against_history",
    "warn_capped_buckets",
    "simhash",
    "lsh_params",
    "corpus_overlap_minhash",
    "source_overlap_matrix",
    "fuzzy_dup_pairs",
    "ngram_containment_pairs",
]

HEX = "0123456789abcdef"


def shingle_array(text_col, n: int = 3, distinct: bool = True):
    """Column of word n-gram shingles (array<string>) for a text column —
    the no-shuffle building block shared by the dedup family. DISTINCT by
    default (set-similarity semantics); ``distinct=False`` keeps every
    occurrence in document order (repetition scoring needs multiplicity).

    Built by zipping n-1 shifted copies of the word array instead of
    slicing per position (transform+slice is quadratic-ish in codegen;
    measured 3-4x slower at sf0.1). concat_ws skips the NULLs zip_with
    pads with, so the tail is trimmed by the final slice.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(col, " ")
    grams = words
    for m in range(2, n + 1):
        shifted = F.slice(words, m, F.size(words))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(grams, 1, F.greatest(F.size(words) - (n - 1), F.lit(0)))
    return F.array_distinct(grams) if distinct else grams


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id_col, shingle).

    The exploded (long) form — needed only by operators that JOIN on the
    shingle (ngram_jaccard_pairs). Signature-style ops use
    :func:`shingle_array` and never shuffle shingles. Documents shorter
    than n words produce no rows.
    """
    return df.select(
        F.col(id_col), F.explode(shingle_array(text_col, n)).alias("shingle")
    )


def _null_safe_group_key(text_col: str, id_col: str):
    """md5(text), except NULL text gets a per-row surrogate key.

    groupBy (like SQL GROUP BY) puts every NULL in ONE group, which for
    content dedup means "all documents with unknown content are
    duplicates of each other" — silent data loss: one NULL-text survivor
    per corpus. Unknown content must never collapse, so NULL-text rows
    group under a surrogate unique per row. The ``\\x00`` prefix cannot
    collide with an md5 hex string."""
    fp = F.md5(F.col(text_col))
    return F.coalesce(
        fp, F.concat(F.lit("\x00"), F.col(id_col).cast("string"))
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: one group per distinct text, keeping
    the minimum id as canonical. Returns (fingerprint, canonical_id,
    n_copies). A hash-groupBy — one shuffle on the md5, no sort.

    NULL-text rows are NOT collapsed into one group: each keeps itself
    (fingerprint NULL, n_copies 1) — see :func:`_null_safe_group_key`.
    """
    return (
        df.groupBy(
            _null_safe_group_key(text_col, id_col).alias("__gkey"),
            F.md5(F.col(text_col)).alias("fingerprint"),
        )
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__gkey")
    )


def dedup_exact_keep_best(
    df: DataFrame, text_col: str, id_col: str, priority_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST copy per duplicate group, not the
    minimum id: highest ``priority_col`` wins, lowest id breaks ties —
    the curation policy "among identical texts, keep the one from the
    best source / with the richest metadata".

    Same single hash-groupBy shuffle as :func:`dedup_exact`; the argmax
    is a ``min_by`` over a (−priority, id) struct — the id is never
    negated, so STRING ids tie-break correctly (negating a string id
    yields NULL and a silently nondeterministic pick). The choice is
    deterministic and an external engine's ``row_number() OVER
    (ORDER BY priority DESC, id)`` reproduces it. ``priority_col`` must
    be numeric (it is negated); raises ``TypeError`` otherwise rather
    than degrading to a nondeterministic tie-break. Returns
    (fingerprint, keep_id, best_priority, n_copies). NULL-text rows are
    never collapsed (see :func:`_null_safe_group_key`).
    """
    from pyspark.sql.types import NumericType

    pdt = df.schema[priority_col].dataType
    if not isinstance(pdt, NumericType):
        raise TypeError(
            f"dedup_exact_keep_best: priority_col {priority_col!r} must be "
            f"numeric (got {pdt.simpleString()}); a non-numeric priority "
            "cannot be negated for the deterministic (-priority, id) "
            "tie-break"
        )
    return (
        df.groupBy(
            _null_safe_group_key(text_col, id_col).alias("__gkey"),
            F.md5(F.col(text_col)).alias("fingerprint"),
        )
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct(
                    (-F.col(priority_col)).alias("__np"),
                    F.col(id_col).alias("__id"),
                ),
            ).alias("keep_id"),
            F.max(priority_col).alias("best_priority"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__gkey")
    )


# Bloom bitmask size ceiling — parity with Spark's own runtime-filter
# default (spark.sql.runtime.bloomFilter.maxNumBits = 67108864): 8 MB of
# words is the most we ever embed as a codegen literal. Beyond ~7M items
# at 1% fpp the effective fpp drifts up and we warn instead of growing.
MAX_BLOOM_BITS = 67_108_864


def _bloom_size(n_items: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for ``n_items`` at target ``fpp``: the
    standard m = -n·ln(p)/ln²2 rounded to whole 64-bit words and capped
    at :data:`MAX_BLOOM_BITS`; k refit to the CAPPED m (a capped mask
    with the ideal m's k would be strictly worse than the k that
    minimizes fpp for the m we actually have)."""
    import math

    n_items = max(1, n_items)
    m_ideal = int(math.ceil(-n_items * math.log(fpp) / math.log(2) ** 2))
    m = max(64, min(MAX_BLOOM_BITS, (m_ideal + 63) // 64 * 64))
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _effective_fpp(n_items: int, m: int, k: int) -> float:
    """Expected false-positive probability of a k-hash m-bit Bloom mask
    holding ``n_items``: (1 − e^(−kn/m))^k."""
    import math

    return (1.0 - math.exp(-k * max(0, n_items) / m)) ** k


def _bloom_positions(fp_col, m: int, k: int) -> list:
    """The k salted-xxhash64 bit positions of a fingerprint column in an
    m-bit mask — shared between mask build and probe (they MUST agree)."""
    return [F.pmod(F.xxhash64(fp_col, F.lit(s)), F.lit(m)) for s in range(k)]


def _history_bloom(
    hist_fp: DataFrame, expected_history: int, fpp: float
) -> tuple[list[int], int, int]:
    """Fold a history fingerprint frame into Bloom words, verifying the
    caller's size estimate against the measured row count.

    Returns (words, m, k). The first build carries a free row-count
    Observation on the same aggregation job; if the measured history
    pushes the effective fpp past 2x the target, the mask is rebuilt
    once at the measured size (warn), unless the MAX_BLOOM_BITS cap
    already binds (warn with the achievable fpp — resizing cannot help).
    """
    import warnings

    from pyspark.sql import Observation

    m, k = _bloom_size(expected_history, fpp)

    def build_words(m, k, observation=None):
        src = hist_fp
        if observation is not None:
            src = src.observe(observation, F.count(F.lit(1)).alias("n_hist"))
        words = (
            src.select(
                F.explode(
                    F.array(*_bloom_positions(F.col("fp"), m, k))
                ).alias("pos")
            )
            .select(
                (F.col("pos") / 64).cast("int").alias("w"),
                # python F.shiftleft only takes a literal shift — SQL's
                # takes a column
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
            )
            .groupBy("w")
            .agg(F.bit_or("mask").alias("word"))
            .collect()
        )
        arr = [0] * (m // 64)
        for r in words:
            arr[r["w"]] = r["word"]
        return arr

    obs = Observation()
    arr = build_words(m, k, observation=obs)
    n_actual = int(obs.get["n_hist"] or 0)
    if _effective_fpp(n_actual, m, k) > 2 * fpp:
        m2, k2 = _bloom_size(n_actual, fpp)
        if m2 > m:
            warnings.warn(
                f"dedup_against_history: expected_history="
                f"{expected_history} under-estimated the measured history "
                f"({n_actual} rows); rebuilding the Bloom mask at the "
                "measured size (one extra history pass) to keep the "
                "exact-confirm join bounded",
                stacklevel=3,
            )
            m, k = m2, k2
            arr = build_words(m, k)
        else:
            # the MAX_BLOOM_BITS cap binds — resizing cannot help
            warnings.warn(
                f"dedup_against_history: history ({n_actual} rows) exceeds "
                f"what the {MAX_BLOOM_BITS}-bit mask cap can hold at "
                f"fpp={fpp}; effective fpp ~"
                f"{_effective_fpp(n_actual, m, k):.3g} — the result is "
                "still exact, but the confirm join sees more candidates",
                stacklevel=3,
            )
    return arr, m, k


def dedup_against_history(
    new: DataFrame,
    history: DataFrame,
    text_col: str,
    id_col: str,
    expected_history: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Incremental exact dedup: keep only new documents whose content
    hash has never been seen in the history corpus.

    The 100 TB shape: an anti join of today's batch against the FULL
    history would shuffle the history's fingerprints every run. Instead
    the history folds into a Bloom bitmask built WITH DataFrame ops
    (k salted xxhash64 positions per fingerprint → explode → bit_or per
    64-bit word: one map-side-combined aggregate over ≤ m/64 rows).
    The finished sketch — whose size is set by ``expected_history`` /
    ``fpp``, NOT by the data — is collected and embedded as an array
    literal, so the k membership probes run inside the scan's
    whole-stage codegen and discard the (1−fpp) of truly-new documents
    with zero shuffle; only the surviving sliver — actual dups plus
    ~fpp false positives — pays the exact anti-join confirm. The
    driver-side collect is the same bounded-sketch discipline as
    Spark's own InjectRuntimeFilter (which also builds its Bloom on
    the driver); at 1% fpp the mask is ~1.2 bytes per expected item.

    The final result is EXACT: the Bloom filter only pre-filters the
    anti join's left side — false positives are re-admitted by the
    join, never dropped — which is what makes the operator
    oracle-checkable. The new batch is scanned twice (once per branch);
    at scale two scans of today's batch beat one shuffle of it.
    Returns the surviving rows of ``new`` (same schema).

    SIZING (r4 advice): ``expected_history=None`` (the default) sizes
    the mask from a ``history.count()`` — cheap for the common
    parquet-backed history (row-group metadata, no data scan). A
    caller-supplied estimate skips the count, but is VERIFIED, not
    trusted: the mask-build aggregation carries a free row-count
    Observation, and if the measured history makes the effective fpp
    drift past 2x the target (an under-estimate silently inflating the
    exact confirm join), the mask is rebuilt once at the measured size
    with a ``warnings.warn`` — so a 10x under-estimate costs one extra
    history pass, never an unbounded confirm side. m is capped at
    :data:`MAX_BLOOM_BITS` (Spark runtime-filter parity); when the cap
    itself binds, the drift warning reports the achievable fpp instead
    of growing the codegen literal without bound. History row count
    over-counts duplicate fingerprints — that only oversizes the mask,
    the safe direction.
    """
    if expected_history is not None and expected_history < 1:
        raise ValueError(
            f"dedup_against_history: expected_history={expected_history} "
            "must be >= 1, or None to size from a history count"
        )
    hist_fp = history.select(F.md5(F.col(text_col)).alias("fp"))
    if expected_history is None:
        expected_history = max(1, history.count())
    arr, m, k = _history_bloom(hist_fp, expected_history, fpp)

    fp_new = F.md5(F.col(text_col))
    probed = new.withColumn(
        "__bw", F.lit(arr).cast("array<long>")
    )
    for s, p in enumerate(_bloom_positions(fp_new, m, k)):
        probed = probed.withColumn(f"__p{s}", p)
    hit = F.lit(True)
    for s in range(k):
        hit = hit & F.expr(
            f"(element_at(__bw, CAST(__p{s} / 64 AS INT) + 1) "
            f"& shiftleft(1L, CAST(__p{s} % 64 AS INT))) != 0"
        )
    probe_cols = ["__bw"] + [f"__p{s}" for s in range(k)]
    definitely_new = probed.where(~hit).drop(*probe_cols)
    candidates = probed.where(hit).drop(*probe_cols)
    confirmed_new = candidates.join(
        hist_fp, fp_new == hist_fp.fp, "left_anti"
    )
    return definitely_new.unionByName(confirmed_new)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_by: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard).

    shingle-join → per-pair intersection count → |A∪B| by inclusion-
    exclusion. Quadratic in shingle-bucket size — the two scale levers:
      * ``block_by``: only compare documents sharing this column
        (language, length band, source); shrinks every bucket by the
        blocking factor and is how exact Jaccard stays tractable;
      * gate behind MinHash candidates (minhash_candidate_pairs) and run
        Jaccard only as the confirm stage.
    """
    cols = [F.col(id_col), F.explode(shingle_array(text_col, n)).alias("shingle")]
    join_keys = ["shingle"]
    if block_by is not None:
        cols.append(F.col(block_by).alias("__blk"))
        join_keys = ["shingle", "__blk"]
    # sh feeds sizes AND both join sides: checkpoint the thin
    # (id, shingle) frame so the text explode runs once, not 3-4 times
    # (the set_similarity_join diamond-reuse fix, r10-opt; the before
    # plan carried 4 Generate + 8 scan nodes for one tokenization).
    sh = df.select(*cols).transform(_materialize)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed(id_col, "doc_a")
    b = sh.withColumnRenamed(id_col, "doc_b")
    common = (
        a.join(b, join_keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.toDF("doc_a", "na")
    sb = sizes.toDF("doc_b", "nb")
    jac = (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
    num_hashes: int = 8, grams_col: str | None = None,
) -> DataFrame:
    """MinHash signature per document: (id_col, h0..h{k-1}).

    h_i = lexicographic MIN over shingles of an 8-hex-char (32-bit) slice
    of md5('{i div 4}:' || shingle) — each md5 digest yields FOUR
    independent 32-bit hash functions, so k hashes cost ceil(k/4) md5
    evaluations per shingle instead of k. Hashing is the dominant
    executor cost of minhash at corpus scale; the 4x reduction is the
    difference between one pass and four over every byte of a 100 TB
    corpus. 32-bit mins are ample: P(two docs collide on one min by
    chance) ~ |shingles|/2^32, and LSH banding requires r simultaneous
    collisions. Computed entirely inside one projection with ZERO
    shuffles: a ``transform`` materializes the per-shingle digests once
    (md5 referenced once per salt — repeating it per slice would
    re-evaluate it in the interpreted higher-order path), then a single
    ``aggregate`` traversal carries all k running minima in a struct
    accumulator (k separate array_min columns would make Catalyst
    re-inline — and recompute — the shingle array k times; measured 2x
    slower). Documents with fewer than n words have no shingles and are
    excluded, matching the exploded-form semantics.

    ``grams_col`` (r10-opt): name of a column already holding the
    distinct shingle array — callers that ALSO need the shingles
    (near_dup_pairs' exact confirm) compute them once, checkpoint, and
    pass the column name so the shingle HOF does not re-run inside the
    signature projection. Must be exactly ``shingle_array(text_col, n)``
    of the same text for results to be identical."""
    grams = (
        F.col(grams_col) if grams_col is not None
        else shingle_array(text_col, n)
    )
    n_salts = (num_hashes + 3) // 4
    hashed = F.transform(
        grams,
        lambda s: F.struct(
            *[
                F.md5(F.concat(F.lit(f"{j}:"), s)).alias(f"m{j}")
                for j in range(n_salts)
            ]
        ),
    )
    # 'g' sorts after every md5 hex char, so it is the identity for least()
    init = F.struct(*[F.lit("g").alias(f"h{i}") for i in range(num_hashes)])

    def step(acc, m):
        return F.struct(
            *[
                F.least(
                    acc[f"h{i}"],
                    F.substring(m[f"m{i // 4}"], (i % 4) * 8 + 1, 8),
                ).alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )

    sig = F.aggregate(hashed, init, step)
    out = df.where(F.size(grams) > 0).select(F.col(id_col), sig.alias("__sig"))
    return out.select(
        F.col(id_col), *[F.col(f"__sig.h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_signatures_oph(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """One-permutation MinHash with deterministic rotation densification
    (Shrivastava & Li, ICML 2014; densification offsets per Shrivastava,
    ICML 2017): ONE md5 per shingle regardless of k, vs the dense
    signature's ceil(k/4) (:func:`minhash_signatures`) — each shingle is
    hashed once, the hash space is split into k bins (bin = 16-bit
    slice of the digest mod k), and slot i of the signature is the MIN
    hash among the doc's shingles that landed in bin i.

    Throughput honesty (committed A/B,
    certification/oph_speedup_r10.json): the literature's motivation —
    hashing cost scales with k, so one permutation beats k — does NOT
    hold on this engine. On Catalyst's interpreted higher-order-function
    path the per-shingle cost is dominated by the k-slot struct FOLD,
    which both schemes pay identically, not by md5; measured dense is
    1.3-2.5x FASTER at k in {8,32,128} and the gap is insensitive to
    shingle length (n=3..15). Use this operator for its SEMANTICS —
    interop with systems that exchange OPH sketches, and the k-fold
    reduction in hash-function evaluations where the hash is genuinely
    expensive (a native kernel, a remote service) — not as a Spark
    throughput lever; the dense signature stays the default.

    Empty bins (short docs rarely cover all k bins) are DENSIFIED by
    deterministic rotation: slot i borrows the value of the nearest
    non-empty bin to its right (cyclically), tagged with the borrow
    distance (``d{j}:`` prefix) so two docs agree on a densified slot
    iff they agree on BOTH the borrow distance and the borrowed value —
    the collision-probability correction the densification papers add
    as the j*C offset, expressed on the engine's lexicographic-min hex
    strings. A doc with at least one shingle always densifies (some bin
    is non-empty); docs with no shingles are excluded, matching the
    dense path.

    Everything is one zero-shuffle projection: a ``transform``
    materializes (value, bin) per shingle once — value = digest hex
    chars 1-8 (the same 32-bit-slice-as-string min the dense path
    certifies), bin = hex chars 9-12 as a 16-bit int mod k, independent
    slices of one digest — then a single ``aggregate`` traversal
    carries all k running bin-minima in a struct accumulator, and the
    densification ladder is a k-way ``coalesce`` per slot. Pure
    hex/string arithmetic end-to-end: any SQL engine replays it
    bit-for-bit (the 'g' sentinel sorts after every hex char, exactly
    as in the dense signature)."""
    if not 1 <= num_hashes <= 65536:
        raise ValueError(
            f"minhash_signatures_oph: num_hashes={num_hashes} must be in "
            "[1, 65536] (the bin index is a 16-bit digest slice)"
        )
    grams = shingle_array(text_col, n)
    hashed = F.transform(grams, lambda s: F.md5(s))

    def _bin(hx):
        v = F.lit(0)
        for p in range(4):
            v = v * 16 + (F.instr(F.lit(HEX), F.substring(hx, 9 + p, 1)) - 1)
        return v % num_hashes

    pairs = F.transform(
        hashed,
        lambda hx: F.struct(
            F.substring(hx, 1, 8).alias("v"), _bin(hx).alias("b")
        ),
    )
    init = F.struct(*[F.lit("g").alias(f"h{i}") for i in range(num_hashes)])

    def step(acc, m):
        return F.struct(
            *[
                F.when(m["b"] == i, F.least(acc[f"h{i}"], m["v"]))
                .otherwise(acc[f"h{i}"])
                .alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )

    sig = F.aggregate(pairs, init, step)
    out = df.where(F.size(grams) > 0).select(F.col(id_col), sig.alias("__s"))

    # Densification as ONE array lambda, not a k-way coalesce ladder per
    # slot: the ladder form is O(k²) Catalyst expressions — at a
    # production k=128 that is ~16k `when` nodes, the resize_image
    # plan-blowup class — while this transform/aggregate pair is a
    # CONSTANT-size plan whose k² work happens at runtime over a
    # 2k-element array (cheap string compares). Semantics are
    # identical: for slot i, the first j in 0..k-1 (cyclically to the
    # right) with a non-sentinel slot wins, prefixed `d{j}:` when j>0.
    slots = F.array(*[F.col(f"__s.h{i}") for i in range(num_hashes)])
    doubled = F.concat(slots, slots)

    def borrow(i, j):
        v = F.element_at(doubled, (i + j + F.lit(1)).cast("int"))
        filled = F.when(j == F.lit(0), v).otherwise(
            F.concat(F.lit("d"), j.cast("string"), F.lit(":"), v)
        )
        return F.when(v != "g", filled)

    dens = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            F.lit(None).cast("string"),
            lambda acc, j: F.coalesce(acc, borrow(i, j)),
        ),
    )
    out = out.select(F.col(id_col), dens.alias("__d"))
    return out.select(
        F.col(id_col),
        *[F.element_at("__d", i + 1).alias(f"h{i}") for i in range(num_hashes)],
    )


def minhash_candidate_pairs_oph(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    observation=None,
    oversize: str = "drop",
) -> DataFrame:
    """LSH banding over ONE-PERMUTATION minhash signatures — the
    hash-once twin of :func:`minhash_candidate_pairs` (identical
    banding, cap, star and telemetry machinery via
    :func:`_banded_bucket_pairs`; see both docstrings). Same s-curve
    tuning; the only semantic difference is the estimator behind each
    signature slot (per-bin min of one permutation + rotation
    densification instead of k independent permutations), which trades
    slightly higher signature variance on very short documents for a
    k-fold reduction in hash-function EVALUATIONS — see the signature
    docstring for why that reduction is not a throughput win on this
    engine (committed A/B)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash_candidate_pairs_oph: num_hashes={num_hashes} must "
            f"be divisible by bands={bands} (trailing hashes would be "
            "paid for but silently unused)"
        )
    if observation is not None and max_bucket_size is None:
        raise ValueError(
            "minhash_candidate_pairs_oph: observation requires "
            "max_bucket_size (no cap means no metrics; Observation.get "
            "would never return)"
        )
    if oversize not in ("drop", "star"):
        raise ValueError(
            f"minhash_candidate_pairs_oph: oversize={oversize!r} must be "
            "'drop' or 'star'"
        )
    rows = num_hashes // bands
    sig = minhash_signatures_oph(df, text_col, id_col, n, num_hashes)
    band_structs = [
        F.struct(
            F.lit(bidx).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"h{bidx * rows + j}") for j in range(rows)])
            ).alias("band_hash"),
        )
        for bidx in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )
    return _banded_bucket_pairs(
        buckets, id_col, max_bucket_size, observation, oversize,
        caller="minhash_candidate_pairs_oph",
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    observation=None,
    oversize: str = "drop",
    grams_col: str | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows; band
    hash = md5 of the concatenated member hashes; docs sharing any
    (band, band_hash) bucket become a candidate pair. Returns distinct
    (doc_a, doc_b). Tune bands/rows for the target similarity threshold
    (s-curve: P(candidate) = 1-(1-s^r)^b).

    ``max_bucket_size`` is the runaway-bucket cap — the skew lever for
    boilerplate-heavy corpora (cookie banners, licence headers, template
    pages), where one (band, band_hash) bucket can hold millions of
    documents. Without a cap that bucket costs |bucket|² candidate pairs
    AND materializes every id in a single non-spillable ``collect_set``
    aggregation buffer; either one kills an executor long before the
    pairs are even wrong (a million identical docs are trivially dups —
    exact dedup already caught them — not near-dup candidates worth
    |bucket|²/2 Jaccard confirms). Buckets larger than the cap are
    DROPPED ENTIRELY, before the collect_set buffer ever sees them: a
    window ``count`` over the same (band, band_hash) keys tags each row
    with its bucket size (the window reuses the groupBy's exchange — no
    extra shuffle — and its sort spills to disk, unlike an agg buffer),
    and oversized rows are filtered out. Recall impact is nil in
    practice: a doc in a capped bucket still pairs through its OTHER
    ``bands-1`` band buckets unless those are boilerplate-saturated too.
    ``max_bucket_size=None`` disables the cap and the window (the exact
    pre-cap plan).

    ``oversize`` chooses what happens to buckets ABOVE the cap
    (VERDICT r8 item 7 — the fixed-cap-at-scale audit): ``"drop"``
    (default, the historical behavior) discards them entirely;
    ``"star"`` emits each oversized bucket as a STAR instead — every
    member paired with the bucket's MINIMUM doc id — which is O(|bucket|)
    rows (one window ``min`` reusing the cap window's exchange, never
    the collect_set buffer), deterministic, and keeps the whole bucket
    CONNECTED for downstream component-finding. The audit's finding:
    bucket occupancy for template/boilerplate content is EXTENSIVE in
    corpus size, so at 10-100x a fixed cap starts dropping true
    near-dup clusters (the winnow_overlap_pairs yield-to-zero cliff,
    measured in the r8 10x sweep) — but a PROPORTIONAL bucket cap is
    the wrong fix here because pair volume is quadratic in the cap
    (frac·n docs → (frac·n)² pairs from one bucket kills an executor at
    exactly the scale the cap exists for). Star mode is the
    scale-stable policy: linear pair volume at any corpus size, every
    member still reachable from the hub, the recall trade (member-pairs
    within an oversized bucket are only connected THROUGH the hub, not
    directly) explicit and engine-replayable.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to count what
    the cap did: after any action on the result, ``observation.get``
    holds ``lsh_capped_max_bucket`` (largest bucket seen, capped or not)
    plus — per ``oversize`` mode (ADVICE r9: star mode does NOT discard,
    so its metric must not claim data loss) — ``lsh_capped_rows``
    (``oversize='drop'``: bucket-membership rows discarded) or
    ``lsh_starred_rows`` (``oversize='star'``: rows rewired to the hub
    star instead of pair-expanded; nothing dropped).
    :func:`warn_capped_buckets` turns either into a ``warnings.warn``
    with mode-correct wording."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash_candidate_pairs: num_hashes={num_hashes} must be "
            f"divisible by bands={bands} (trailing hashes would be paid "
            "for but silently unused)"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, n, num_hashes, grams_col=grams_col
    )
    # One generator projection, not a union of per-band selects: a union
    # would re-derive the whole shingle+signature subplan once per band
    # (and the self-join doubles that again) — explode keeps it a single
    # pass over one signature computation.
    band_structs = [
        F.struct(
            F.lit(bidx).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"h{bidx * rows + j}") for j in range(rows)])
            ).alias("band_hash"),
        )
        for bidx in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))
    # Pair generation WITHOUT a self-join: group each bucket, emit ordered
    # in-bucket pairs from the sorted id array. A self-join would recompute
    # the whole signature subplan for each side; this shape computes it
    # once and shuffles only (band, band_hash, ids). Buckets are small by
    # construction (that is the point of banding) — a runaway bucket from
    # boilerplate content is the skew case, pre-filtered by the
    # max_bucket_size window below BEFORE the collect_set buffer.
    if observation is not None and max_bucket_size is None:
        # fail loud: with no cap there is nothing to observe, and an
        # Observation that never attaches makes a later
        # warn_capped_buckets (Observation.get) block forever
        raise ValueError(
            "minhash_candidate_pairs: observation requires max_bucket_size "
            "(no cap means no metrics; Observation.get would never return)"
        )
    if oversize not in ("drop", "star"):
        raise ValueError(
            f"minhash_candidate_pairs: oversize={oversize!r} must be "
            "'drop' or 'star'"
        )
    return _banded_bucket_pairs(
        buckets, id_col, max_bucket_size, observation, oversize,
        caller="minhash_candidate_pairs",
    )


def _banded_bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    max_bucket_size: int | None,
    observation,
    oversize: str,
    caller: str,
) -> DataFrame:
    """The shared banded-LSH pair core (r10: factored out of
    :func:`minhash_candidate_pairs` so the perceptual-hash image path
    reuses the identical cap/star/telemetry machinery): takes an
    (id, band, band_hash) bucket-membership frame and emits distinct
    (doc_a, doc_b) candidate pairs — window-capped runaway buckets,
    drop or star oversize policy, Observation metrics, sorted-id
    in-bucket pair explosion (never a self-join). See the minhash
    docstring for the full rationale of each piece."""
    star_pairs = None
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"{caller}: max_bucket_size={max_bucket_size} "
                "must be >= 2 (a pair needs two docs per bucket) or None "
                "to disable the cap"
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "band_hash")
        buckets = buckets.withColumn("__bsz", F.count(F.lit(1)).over(w))
        if observation is not None:
            over = F.count_if(F.col("__bsz") > max_bucket_size)
            none = F.count_if(F.lit(False))  # aggregate-typed zero
            buckets = buckets.observe(
                observation,
                # star mode STARS oversized rows (kept, rewired to the
                # hub); drop mode discards them — name the metric for
                # what actually happened (ADVICE r9)
                (none if oversize == "star" else over).alias(
                    "lsh_capped_rows"
                ),
                (over if oversize == "star" else none).alias(
                    "lsh_starred_rows"
                ),
                F.coalesce(F.max("__bsz"), F.lit(0)).alias(
                    "lsh_capped_max_bucket"
                ),
            )
        if oversize == "star":
            # Star mode SPLITS the windowed bucket frame into two
            # consumers (the star branch and the capped main branch),
            # and without a materialization point each branch re-ran
            # the ENTIRE upstream pipeline — signatures (the expensive
            # per-shingle fold), banding, exchange, and the size
            # window (r10-opt: interleaved A/B measured 3.59 -> 0.63s
            # min at sf0.1 from this one checkpoint; runtime exchange
            # reuse did NOT recover the duplication across the union's
            # branches). Drop mode keeps a single consumer and needs no
            # barrier. NOT applied when an Observation is attached: a
            # checkpoint materializes outside a SQL execution, so the
            # CollectMetrics node's values never reach the Observation
            # (measured: lsh_starred_rows read 0) — telemetry callers
            # keep the pre-existing two-branch compute instead of
            # silently losing their metrics.
            if observation is None:
                buckets = buckets.transform(_materialize)
            # oversized buckets become hub stars: member ⟷ min(id) —
            # the second window shares the first's (band, band_hash)
            # exchange, and pair volume is |bucket|, never |bucket|²
            star_pairs = (
                buckets.where(F.col("__bsz") > max_bucket_size)
                .withColumn("__hub", F.min(id_col).over(w))
                .where(F.col(id_col) != F.col("__hub"))
                .select(
                    F.col("__hub").alias("doc_a"),
                    F.col(id_col).alias("doc_b"),
                )
            )
        buckets = buckets.where(
            F.col("__bsz").between(2, max_bucket_size)
        ).drop("__bsz")
    grouped = (
        buckets.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    )
    out = pairs.select("p.doc_a", "p.doc_b")
    if star_pairs is not None:
        out = out.unionByName(star_pairs)
    return out.dropDuplicates()


def warn_capped_buckets(observation) -> int:
    """Read a bucket-cap ``observation`` (from
    :func:`minhash_candidate_pairs`, or the embedding-family caps in
    ``operators.similarity`` — same metric names) AFTER an action on its
    result and ``warnings.warn`` if the bucket cap touched anything.
    Returns the number of affected bucket-membership rows — discarded
    in ``oversize='drop'`` mode (``lsh_capped_rows``), rewired to the
    hub star in ``oversize='star'`` mode (``lsh_starred_rows``; the
    warning says starred, not dropped — ADVICE r9). Producers without a
    star mode simply never emit ``lsh_starred_rows``.
    (``Observation.get`` blocks until the first action completes — call
    this post-action, e.g. after the write/collect of the pairs.)"""
    import warnings

    metrics = observation.get
    dropped = int(metrics["lsh_capped_rows"])
    starred = int(metrics.get("lsh_starred_rows", 0))
    biggest = int(metrics["lsh_capped_max_bucket"])
    if dropped > 0:
        warnings.warn(
            f"LSH bucket cap dropped {dropped} bucket-membership "
            f"rows (largest bucket: {biggest} "
            "docs) — saturated buckets were excluded from candidate "
            "generation; run exact dedup first if you have not",
            stacklevel=2,
        )
    if starred > 0:
        warnings.warn(
            f"LSH bucket cap starred {starred} bucket-membership rows "
            f"(largest bucket: {biggest} docs) — oversized buckets were "
            "rewired as hub stars (member↔min-id; nothing dropped, but "
            "in-bucket members connect only THROUGH the hub); run exact "
            "dedup first if you have not",
            stacklevel=2,
        )
    return dropped + starred


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    confirm: str | None = "jaccard",
    max_bucket_size: int | None = 1000,
    observation=None,
    oversize: str = "drop",
) -> DataFrame:
    """Scale-safe near-duplicate pairs: MinHash-LSH candidate generation,
    exact n-gram Jaccard CONFIRM restricted to the candidates — the
    default entry point composing the two halves the module docstring
    prescribes ("always run MinHash candidates first at scale, Jaccard
    only to confirm").

    Returns (doc_a, doc_b, jaccard) with ``jaccard >= threshold``.
    ``confirm=None`` returns the raw LSH candidates (no jaccard column).

    Scale shape (100 TB): candidate generation is
    :func:`minhash_candidate_pairs` — banded, bucketed, never all-pairs.
    The confirm stage does NOT re-join on shingles (that would be the
    quadratic bucket join this function exists to avoid); it attaches
    each side's distinct-shingle ARRAY to the candidate pair (two
    shuffles of candidates ⋈ per-doc arrays, both keyed on doc id) and
    computes |A∩B| / |A∪B| with ``array_intersect`` inside codegen.
    Candidate volume is s-curve-bounded by the banding, so both joins
    are candidate-sized, not corpus-sized; AQE broadcasts the candidate
    side when it is small enough.

    False positives from banding are removed by the exact confirm; false
    NEGATIVES (true near-dups the LSH never bucketed together) are the
    recall trade-off tuned via num_hashes/bands (``lsh_params``).
    """
    if confirm is None:
        return minhash_candidate_pairs(
            df, text_col, id_col, n, num_hashes, bands,
            max_bucket_size=max_bucket_size, observation=observation,
            oversize=oversize,
        )
    if confirm != "jaccard":
        raise ValueError(
            f"near_dup_pairs: unknown confirm stage {confirm!r} "
            "(expected 'jaccard' or None)"
        )
    # The shingle arrays feed THREE consumers — the signature pipeline
    # and both confirm sides — and the confirm sides join on different
    # keys, so nothing below them is exchange-reusable. Compute the
    # per-doc array once (thin: one row per document), checkpoint it,
    # and hand the column to the signature pipeline via grams_col
    # (r10-opt; the before plan re-ran the shingle HOF 3x).
    grams = shingle_array(text_col, n)
    sh = df.select(F.col(id_col), grams.alias("__sh")).where(
        F.size("__sh") > 0
    ).transform(_materialize)
    cands = minhash_candidate_pairs(
        sh, text_col, id_col, n, num_hashes, bands,
        max_bucket_size=max_bucket_size, observation=observation,
        oversize=oversize, grams_col="__sh",
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sha"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__shb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("__sha") + F.size("__shb") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _hex4_to_int(col):
    """First-4-hex-chars of an md5 → 16-bit int, via arithmetic that any
    SQL engine reproduces (no conv() dependency in the oracle)."""
    v = F.lit(0)
    for k in range(4):
        digit = F.instr(F.lit(HEX), F.substring(col, k + 1, 1)) - 1
        v = v * 16 + digit
    return v


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """16-bit SimHash per document: (id_col, simhash).

    Token weights = word occurrence counts; token hash = first 16 bits of
    md5(word); signature bit j set iff the weighted ±1 sum over tokens is
    positive. Pure arithmetic on hex digits — oracle-reproducible."""
    words = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("hv", _hex4_to_int(F.md5(F.col("w"))))
    )
    bit_sums = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("cnt")
                * (F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = F.lit(0)
    for j in range(bits):
        sig = sig + F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def lsh_params(threshold: float, num_hashes: int) -> tuple[int, int]:
    """Choose (bands, rows) for MinHash LSH from a target Jaccard
    threshold: minimizes |(1/b)^(1/r) − threshold| over the divisor
    pairs b·r = num_hashes — the standard S-curve tuning (pair-capture
    probability 1 − (1 − s^r)^b steepest around (1/b)^(1/r)).

    Use before ``minhash_candidate_pairs``:
        b, r = lsh_params(0.8, 16)
        pairs = minhash_candidate_pairs(df, num_hashes=16, bands=b)
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        approx = (1.0 / b) ** (1.0 / r)
        err = abs(approx - threshold)
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def corpus_overlap_minhash(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """Corpus-level overlap estimate between two datasets WITHOUT joining
    them: k-min-hash Jaccard over the corpora's exact-fingerprint sets.

    The cross-dataset contamination / provenance question ("how much of
    corpus B is already in corpus A?") is a set-Jaccard between the two
    fingerprint sets. Computing it exactly joins two corpus-sized
    distinct sets; the standard sketch answer is k independent min-hashes
    per corpus — P(min_A(h_s) == min_B(h_s)) equals J(A, B) for each
    salted hash h_s, so the match fraction across k salts is an unbiased
    estimate with stderr ~= sqrt(J(1-J)/k).

    Engineering: each corpus folds to ONE ROW of k minima in a single
    map-side-combined aggregation over a projection — no distinct, no
    explode (min over the fingerprint MULTISET equals min over the set),
    no shuffle beyond the k-column 1-row combine. The two 1-row sketches
    cross-join trivially. Hashes are salted md5 hex strings compared
    lexicographically, so any SQL engine reproduces the exact minima and
    therefore the exact estimate (no RNG, no platform hash).

    Returns one row: (k, n_match, jaccard_est). Empty corpora yield NULL
    minima; a NULL min matches nothing (NULL-safe equality against a
    non-NULL min is false, two empty corpora estimate 0.0 — there is no
    meaningful Jaccard between empty sets).
    """
    if num_hashes < 1:
        raise ValueError(
            f"corpus_overlap_minhash: num_hashes={num_hashes} must be >= 1"
        )

    def sketch(df: DataFrame, prefix: str) -> DataFrame:
        fp = F.md5(F.col(text_col))
        return df.agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{s}:"), fp))).alias(
                    f"{prefix}{s}"
                )
                for s in range(num_hashes)
            ]
        )
    sa = sketch(a, "__a")
    sb = sketch(b, "__b")
    # null-safe equality: an empty corpus's NULL minimum must count as a
    # non-match (plain == yields NULL and poisons the sum into NULL)
    matches = sum(
        (
            F.col(f"__a{s}").isNotNull()
            & F.col(f"__a{s}").eqNullSafe(F.col(f"__b{s}"))
        ).cast("long")
        for s in range(num_hashes)
    )
    return (
        sa.join(F.broadcast(sb))
        .select(
            F.lit(num_hashes).cast("long").alias("k"),
            matches.alias("n_match"),
        )
        .select(
            "k",
            "n_match",
            F.round(F.col("n_match") / F.col("k"), 4).alias("jaccard_est"),
        )
    )


def fuzzy_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """Entity-resolution fuzzy pairs: all (id_a, id_b, distance) with
    Levenshtein distance <= ``max_distance``, WITHOUT an all-pairs join.

    Blocking is the deletion neighborhood (the public FastSS/SymSpell
    scheme): every string emits itself plus every variant obtainable by
    deleting up to ``max_distance`` characters; two strings within edit
    distance k ALWAYS share a <=k-deletion variant (delete the edited
    positions from each side), so joining on the variant key is a
    COMPLETE candidate generator — recall 1.0 by construction, certified
    in the registered query by comparing against the exact quadratic
    levenshtein truth. Candidates then pay one exact ``levenshtein``
    confirm (classic integer DP, identical in every engine).

    Scale: the neighborhood has ~len^k keys per record (len+1 at the
    k=1 default) — the shingle-explosion cost family, shuffled on the
    variant hash; an all-pairs join is never formed, and bucket sizes
    are bounded by how many records share a variant (the boilerplate
    caveat of the LSH families applies: dedup exact first). k is capped
    at 2 — beyond that the neighborhood outgrows the candidate set it
    prunes. NULL/empty ids with NULL text emit no keys and join nothing.
    """
    if not 1 <= max_distance <= 2:
        raise ValueError(
            f"fuzzy_dup_pairs: max_distance={max_distance} must be 1 or 2 "
            "(the deletion neighborhood grows ~len^k; beyond 2 it stops "
            "pruning)"
        )
    s = F.col(text_col)

    def one_deletions(col):
        # variant i = drop character i (1-based); sequence is empty for
        # the empty string, so "" emits only itself
        return F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.concat(
                F.substr(col, F.lit(1), i - 1),
                F.substr(col, i + 1, F.length(col)),
            ),
        )

    keys = F.array(s)
    frontier = F.array(s)
    for _ in range(max_distance):
        frontier = F.array_distinct(
            F.flatten(F.transform(frontier, one_deletions))
        )
        keys = F.array_union(keys, frontier)
    kdf = df.where(s.isNotNull()).select(
        F.col(id_col), s.alias("__t"), F.explode(keys).alias("__k")
    )
    a = kdf.select(
        F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"), "__k"
    )
    b = kdf.select(
        F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"), "__k"
    )
    return (
        a.join(b, "__k")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ta", "__tb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "distance", F.levenshtein(F.col("__ta"), F.col("__tb")).cast("long")
        )
        .where(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
) -> DataFrame:
    """Sub-document duplication: pairs where one document's shingle set
    is mostly CONTAINED in the other's — containment
    c(A→B) = |A∩B| / |A| — the asymmetric complement to Jaccard.

    Jaccard blinds itself to size-mismatched duplication: a paragraph
    fully copied into a 100x longer page scores J ≈ 0.01 but
    c(small→big) = 1.0. That is the quote/aggregator/expansion case
    every training-corpus dedup needs and near_dup_pairs structurally
    misses (MinHash banding ALSO under-recalls it — min-hash collision
    probability equals Jaccard, so candidates for low-J/high-c pairs
    rarely surface; this is the documented reason this operator exists
    as its own path rather than a confirm option). Returns
    (doc_a, doc_b, c_ab, c_ba, containment) with containment =
    max(c_ab, c_ba) >= threshold.

    Same cost shape as :func:`ngram_jaccard_pairs` — quadratic per
    shingle bucket, so the same two scale levers apply verbatim:
    ``block_by`` (compare only within language/source/length-band), or
    at full corpus scale run it on the suspect slice (e.g. docs whose
    spans already matched in ``substring_dup_spans``).
    """
    cols = [F.col(id_col), F.explode(shingle_array(text_col, n)).alias("shingle")]
    join_keys = ["shingle"]
    if block_by is not None:
        cols.append(F.col(block_by).alias("__blk"))
        join_keys = ["shingle", "__blk"]
    # sh feeds sizes AND both join sides: checkpoint the thin
    # (id, shingle) frame so the text explode runs once, not 3-4 times
    # (the set_similarity_join diamond-reuse fix, r10-opt; the before
    # plan carried 4 Generate + 8 scan nodes for one tokenization).
    sh = df.select(*cols).transform(_materialize)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed(id_col, "doc_a")
    b = sh.withColumnRenamed(id_col, "doc_b")
    common = (
        a.join(b, join_keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.toDF("doc_a", "na")
    sb = sizes.toDF("doc_b", "nb")
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("c_ab", F.round(F.col("n_common") / F.col("na"), 4))
        .withColumn("c_ba", F.round(F.col("n_common") / F.col("nb"), 4))
        .withColumn("containment", F.greatest("c_ab", "c_ba"))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "c_ab", "c_ba", "containment")
    )


def _band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band, band_hash) LSH bucket membership — the banding
    projection of :func:`minhash_candidate_pairs`, factored for callers
    that band TWO frames (incremental new-vs-history) instead of
    self-joining one. Same band hash construction (md5 of the
    comma-joined member minima), same one-generator-projection shape."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_structs = [
        F.struct(
            F.lit(bidx).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"h{bidx * rows + j}") for j in range(rows)]
                )
            ).alias("band_hash"),
        )
        for bidx in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"),
             F.col("__b.band_hash").alias("band_hash"))


def near_dup_against_history(
    new: DataFrame,
    history: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    max_history_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental NEAR-duplicate detection: which new-batch documents
    are near-dups of the already-ingested history — the fuzzy sibling
    of :func:`dedup_against_history` (exact) and the shape a daily
    corpus refresh actually runs: the history is never re-paired with
    itself (that work happened when those docs arrived); only the
    new x history bipartite candidates are generated.

    Both sides band identically (:func:`_band_rows`); candidates come
    from the (band, band_hash) equi-join of new bands against history
    bands — cost ~ |new| x bucket occupancy, independent of |history|²
    — then the exact n-gram Jaccard confirm runs on candidates only
    (array_intersect per pair, the near_dup_pairs discipline). Returns
    (new_id, hist_id, jaccard >= threshold).

    ``max_history_bucket`` is the boilerplate lever on the HISTORY side
    (a template bucket holding a million archived docs would fan every
    matching new doc out a million ways); oversized history buckets
    drop whole, same cap semantics as minhash_candidate_pairs. New-side
    buckets are per-batch small by construction.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"near_dup_against_history: num_hashes={num_hashes} must be "
            f"divisible by bands={bands}"
        )
    nb = _band_rows(new, text_col, id_col, n, num_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band", "band_hash"
    )
    hb = _band_rows(history, text_col, id_col, n, num_hashes, bands).select(
        F.col(id_col).alias("hist_id"), "band", "band_hash"
    )
    if max_history_bucket is not None:
        if max_history_bucket < 1:
            raise ValueError(
                f"near_dup_against_history: max_history_bucket="
                f"{max_history_bucket} must be >= 1"
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "band_hash")
        hb = (
            hb.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .where(F.col("__bsz") <= max_history_bucket)
            .drop("__bsz")
        )
    cands = (
        nb.join(hb, ["band", "band_hash"])
        .select("new_id", "hist_id")
        .distinct()
    )
    grams = shingle_array(text_col, n)
    sh_new = new.select(F.col(id_col).alias("new_id"), grams.alias("__sha"))
    sh_hist = history.select(
        F.col(id_col).alias("hist_id"), grams.alias("__shb")
    )
    return (
        cands.join(sh_new, "new_id")
        .join(sh_hist, "hist_id")
        .withColumn("n_common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("__sha") + F.size("__shb") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", F.round("jaccard", 4).alias("jaccard"))
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """Pairwise content-overlap matrix across sources/feeds in ONE pass —
    the N-way generalization of :func:`corpus_overlap_minhash`: per
    source, k salted min-hashes over the exact text fingerprints (one
    groupBy, map-side combined, k columns per source row); every source
    PAIR then compares sketches on the |sources|-row table — a
    broadcast self-join on rows of k hex strings, never anything
    corpus-sized. The provenance triage view ("which feeds duplicate
    each other?") that decides who shares an incremental-dedup history.

    Returns (src_a, src_b, k, n_match, jaccard_est) for src_a < src_b,
    estimate stderr ~= sqrt(J(1-J)/k). Same determinism/NULL contract
    as the two-corpus op: salted md5 minima compare lexicographically
    in any engine; an empty/NULL-text source has NULL minima which
    match nothing.
    """
    if num_hashes < 1:
        raise ValueError(
            f"source_overlap_matrix: num_hashes={num_hashes} must be >= 1"
        )
    fp = F.md5(F.col(text_col))
    sk = df.groupBy(F.col(group_col).alias("__g")).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), fp))).alias(f"__m{s}")
            for s in range(num_hashes)
        ]
    )
    a = sk.select(
        F.col("__g").alias("src_a"),
        *[F.col(f"__m{s}").alias(f"__a{s}") for s in range(num_hashes)],
    )
    b = sk.select(
        F.col("__g").alias("src_b"),
        *[F.col(f"__m{s}").alias(f"__b{s}") for s in range(num_hashes)],
    )
    matches = sum(
        (
            F.col(f"__a{s}").isNotNull()
            & F.col(f"__a{s}").eqNullSafe(F.col(f"__b{s}"))
        ).cast("long")
        for s in range(num_hashes)
    )
    return (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.lit(num_hashes).cast("long").alias("k"),
            matches.alias("n_match"),
        )
        .select(
            "src_a", "src_b", "k", "n_match",
            F.round(F.col("n_match") / F.col("k"), 4).alias("jaccard_est"),
        )
    )


def set_similarity_join(
    tokens: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "w",
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join with PREFIX FILTERING (the
    PPJoin family, Chaudhuri/Xiao 2006-2011) — the third point in the
    dedup design space beside the hash-exact groupBy (exact duplicates
    only) and MinHash LSH (probabilistic recall): every pair with
    Jaccard >= tn/td, no false negatives, without the quadratic join.

    The prefix-filter theorem: order each set by a GLOBAL token order
    (ascending document frequency, rarest first — ties on the token);
    two sets with Jaccard >= t MUST share a token among each set's
    first |s| - ceil(t*|s|) + 1 tokens. Candidates therefore come from
    an equi-join on PREFIX tokens only — rare tokens, so candidate
    lists are small where it matters — and each candidate is verified
    with the exact integer predicate (td+tn)*i >= tn*(|a|+|b|)
    (equivalent to i/union >= tn/td, no floats). Input is the distinct
    (id, token) table; returns (a, b, inter_n, union_n, jac_e6) for
    a < b, jac_e6 the exact floor-scaled Jaccard.

    Two further PPJoin filters prune candidates BEFORE the
    verification join (round-7, VERDICT r6 task 6), both exact:

    * LENGTH filter — Jaccard >= tn/td forces
      td*min(|a|,|b|) >= tn*max(|a|,|b|) (intersection <= min, union
      >= max), applied on the prefix-token equi-join output;
    * POSITIONAL filter — both sets are sorted by the SAME global
      order, so shared-token positions increase monotonically in
      both, and the first/last shared-PREFIX occurrences give two
      exact intersection bounds from one (a, b) aggregate:
      ub_first = 1 + min(|a|-i_min, |b|-j_min) (any shared token
      before the first shared-prefix token would itself sit in both
      prefixes and BE an earlier occurrence — so nothing precedes
      it), and ub_last = c + min(|a|-i_max, |b|-j_max) (every shared
      token <= the last shared-prefix token lies in both prefixes,
      so exactly c = the occurrence count precede-or-equal it). A
      pair is pruned when min(ub_first, ub_last) falls below
      minoverlap = ceil(tn*(|a|+|b|)/(tn+td)), compared as
      ub*(tn+td) >= tn*(|a|+|b|) — still no floats, still zero false
      negatives (the registry query hash-matches the quadratic
      oracle).

    Scale shape: one token-frequency aggregation, one per-set rank
    window, an equi-join keyed on prefix tokens (shuffle key = token;
    stop-word-like hot tokens are excluded from prefixes by
    construction — they rank LAST in the frequency order), and a
    verification join proportional to candidates, not pairs. The
    registry query certifies LOSSLESSNESS by hash-matching the
    quadratic oracle (the interval_overlap_join discipline)."""
    from pyspark.sql import Window

    # The distinct token table feeds FIVE consumers (sizes, dfreq, the
    # ranked prefix, and both sides of the verification join). Without a
    # materialization point Catalyst re-expands the whole upstream
    # subtree — typically a corpus-sized shingle explode — once per
    # consumer: the r10-opt plan audit measured 10 Generate + 20 scan
    # nodes in dedup_set_similarity_exact's physical plan for ONE
    # logical tokenization. localCheckpoint(eager=False) computes the
    # thin (id, tok) frame once on first use and lets every consumer
    # read the materialized blocks (guide §1.2 step 1: remove repeated
    # passes before tuning per-task work). Results are unchanged — only
    # the number of times the explode runs.
    t = tokens.select(
        F.col(id_col).alias("id"), F.col(token_col).alias("tok")
    ).distinct().transform(_materialize)
    sizes = t.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = t.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        t.join(dfreq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
        .join(sizes, "id")
    )
    # prefix length |s| - ceil(tn*|s|/td) + 1, ceil via (a+b-1) div b
    p = (
        F.col("sz")
        - F.expr(
            f"(sz * {threshold_num} + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    prefix = ranked.where(F.col("rn") <= p).select("id", "tok", "rn", "sz")
    tn, td = threshold_num, threshold_den
    occ = (
        prefix.alias("x")
        .join(prefix.alias("y"), "tok")
        .where(F.col("x.id") < F.col("y.id"))
        # length filter: a qualifying pair needs td*min_sz >= tn*max_sz
        .where(
            F.lit(td) * F.least(F.col("x.sz"), F.col("y.sz"))
            >= F.lit(tn) * F.greatest(F.col("x.sz"), F.col("y.sz"))
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.sz").alias("sa0"),
            F.col("y.sz").alias("sb0"),
            F.col("x.rn").alias("ia"),
            F.col("y.rn").alias("jb"),
        )
    )
    ub_first = F.lit(1) + F.least(
        F.col("sa0") - F.min("ia"), F.col("sb0") - F.min("jb")
    )
    ub_last = F.count(F.lit(1)) + F.least(
        F.col("sa0") - F.max("ia"), F.col("sb0") - F.max("jb")
    )
    cand = (
        occ.groupBy("a", "b", "sa0", "sb0")
        .agg(F.least(ub_first, ub_last).alias("ub"))
        # positional filter: the bound must reach minoverlap,
        # ub >= ceil(tn*(sa+sb)/(tn+td))  <=>  ub*(tn+td) >= tn*(sa+sb)
        .where(
            F.col("ub") * F.lit(tn + td)
            >= F.lit(tn) * (F.col("sa0") + F.col("sb0"))
        )
        .select("a", "b")
    )
    inter = (
        cand.join(t.select(F.col("id").alias("a"), "tok"), "a")
        .join(t.select(F.col("id").alias("b"), "tok"), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("a"),
                                F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("id").alias("b"),
                           F.col("sz").alias("sb")), "b")
        .where(
            (threshold_den + threshold_num) * F.col("inter_n")
            >= threshold_num * (F.col("sa") + F.col("sb"))
        )
        .select(
            "a", "b", "inter_n",
            (F.col("sa") + F.col("sb") - F.col("inter_n")).alias("union_n"),
            F.expr(
                "CAST(inter_n * 1000000 div (sa + sb - inter_n) AS BIGINT)"
            ).alias("jac_e6"),
        )
    )
    return out


def repeated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gram_len: int = 20,
) -> DataFrame:
    """EXACT cross-document repeated-substring spans at ARBITRARY
    alignment — the Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") exact-substring criterion that
    chunk-fingerprint span dedup (``substring_dup_spans``) only
    approximates: chunked fingerprints miss a copied passage shifted
    by one character; a ROLLING gram at every position cannot.

    Every ``gram_len``-char gram of every document is hashed; grams
    whose hash occurs in >= 2 DISTINCT documents mark their positions,
    and per document the marked [p, p+L-1] windows merge into MAXIMAL
    spans (the interval-union running-max idiom). Returns
    (id, span_start, span_end, span_len), 1-based inclusive char
    positions — the byte ranges an exact-substring dedup pass would
    cut.

    Scale shape: the gram explosion is O(total corpus chars) rows but
    carries only (id, pos, hash) — the shuffle is hash-keyed and THIN
    (never the text); duplicate detection is min(id) <> max(id) on one
    aggregate (no count-distinct state); the span merge windows are
    per-document (key-partitioned, document-length-bounded). At 100 TB
    the gram table is the dominant shuffle — gram_len trades recall
    floor against row count, and a Bloom pre-filter on hot hashes
    (dedup_incremental_bloom's helper) slots in front of the join
    unchanged.
    """
    from pyspark.sql import Window

    L = int(gram_len)
    if L < 2:
        raise ValueError(f"repeated_substring_spans: gram_len={L} < 2")
    g = (
        df.where(F.length(text_col) >= L)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - (L - 1))
            ).alias("p"),
            F.col(text_col).alias("__t"),
        )
        .select(
            "id", "p",
            F.md5(F.expr(f"substring(__t, p, {L})")).alias("h"),
        )
        # the gram table feeds BOTH the duplicate test and the marked
        # join — unpinned, the O(corpus-chars) explosion runs twice
        # (the fdr_bh replayed-corpus-frame lesson; this is the
        # operator's dominant cost at every scale)
        .transform(_materialize)
    )
    dup = g.groupBy("h").agg(
        F.min("id").alias("__mn"), F.max("id").alias("__mx")
    ).where(F.col("__mn") != F.col("__mx")).select("h")
    marked = g.join(dup, "h").select("id", "p")

    w = Window.partitionBy("id").orderBy("p")
    prev_end = F.max(F.col("p") + (L - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "__new",
        F.when(
            F.col("p") > F.coalesce(prev_end, F.lit(-1)) + 1, 1
        ).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("id", "__isl").agg(
        F.min("p").cast("bigint").alias("span_start"),
        (F.max("p") + (L - 1)).cast("bigint").alias("span_end"),
    ).select(
        "id", "span_start", "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
    )


def remove_repeated_substrings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gram_len: int = 20,
) -> DataFrame:
    """DESTRUCTIVE half of :func:`repeated_substring_spans` — the Lee
    et al. exact-substring dedup actually applied: every maximal
    cross-document repeated span is CUT from every document and the
    survivors re-assemble in order (the remove_dup_spans contract,
    upgraded from chunk alignment to arbitrary alignment).

    Mechanics are fully relational: spans lag-window into KEPT segments
    (the gap before each span + the tail after the last), each segment
    substrings out of the original text, and the ordered concat uses
    the array_sort + concat_ws idiom (never a collect). Documents with
    no repeated span pass through untouched; documents that are pure
    boilerplate (every char covered) come back as the empty string
    with everything counted in ``removed_chars``. Returns
    (id, n_spans, removed_chars, kept_text).

    Scale: repeated_substring_spans' gram shuffle dominates; the
    removal adds one per-document window over the (few) spans and one
    join back to the text — both keyed on the document id.
    """
    from pyspark.sql import Window

    # spans feed segmentation AND the per-doc stats — pin one evaluation
    spans = repeated_substring_spans(
        df, text_col, id_col, gram_len
    ).transform(_materialize)
    w = Window.partitionBy("id").orderBy("span_start")
    segs = spans.select(
        "id", "span_start", "span_end",
        (F.coalesce(
            F.lag("span_end").over(w), F.lit(0)
        ) + 1).alias("seg_start"),
        (F.col("span_start") - 1).alias("seg_end"),
    )
    stats = spans.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint").alias("removed_chars"),
        F.max("span_end").alias("__last_end"),
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    )
    # head/mid segments (may be empty when spans touch) + the tail
    mids = segs.where(F.col("seg_end") >= F.col("seg_start")).select(
        "id", "seg_start", "seg_end"
    )
    tails = stats.join(base, "id").select(
        "id",
        (F.col("__last_end") + 1).alias("seg_start"),
        F.length("__t").alias("seg_end"),
    ).where(F.col("seg_end") >= F.col("seg_start"))
    pieces = (
        mids.unionByName(tails)
        .join(base, "id")
        .select(
            "id",
            F.struct(
                F.col("seg_start"),
                F.expr(
                    "substring(__t, seg_start, seg_end - seg_start + 1)"
                ).alias("piece"),
            ).alias("sp"),
        )
        .groupBy("id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("sp")), lambda s: s["piece"]
                ),
            ).alias("kept_text")
        )
    )
    return (
        base.join(stats, "id", "left")
        .join(pieces, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("removed_chars"), F.lit(0))
            .alias("removed_chars"),
            F.coalesce(
                F.col("kept_text"),
                F.when(F.col("n_spans").isNull(), F.col("__t"))
                .otherwise(F.lit("")),
            ).alias("kept_text"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 5,
    max_distance: int = 2,
) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernández &
    Stolfo 1995): rank records by a sort key and compare each record
    only against its ``window`` nearest ranks, then confirm candidates
    with exact Levenshtein <= ``max_distance``. The classic COMPLEMENT
    to :func:`fuzzy_dup_pairs`' deletion neighborhood — SNM is
    recall-lossy by DESIGN (a typo in the first character sorts far
    away) but its candidate count is exactly n·w regardless of value
    distribution, which is the bound you want when a hot block would
    blow up a key-equality scheme. Returns (id_a, id_b, distance) with
    id_a < id_b over DISTINCT (key, id) records.

    Scale shape — no adjacency window over the global sort: the global
    rank is the distributed prefix COUNT (range repartition + broadcast
    per-partition offsets, the running_sum/fdr_bh machinery), and
    rank-adjacency becomes a BUCKET equi-join in rank space — each
    record lands in bucket rank div w and probes bucket+1 as well (the
    interval_overlap_join two-bucket trick: any pair within w ranks
    shares a bucket or sits in adjacent ones), pairs dedup by the
    |Δrank| <= w predicate plus u < v orientation, never a distinct
    pass. Shuffles: one range (rank), one hash (bucket join), one
    confirm filter — all thin (id, key, rank).
    """
    from gene_level_metadata_pipeline_spark.operators.selection import (
        running_sum,
    )

    w = int(window)
    if w < 1:
        raise ValueError(f"sorted_neighborhood_pairs: window={w} < 1")
    recs = (
        df.select(
            F.col(key_col).cast("string").alias("k"),
            F.col(id_col).alias("rid"),
        )
        .where(F.col("k").isNotNull())
        .distinct()
    )
    ranked = running_sum(
        recs.withColumn("__one", F.lit(1)),
        [F.col("k").asc(), F.col("rid").asc()],
        "__one",
        out_col="rnk",
    ).select("k", "rid", F.col("rnk").cast("bigint").alias("rnk"))
    probes = ranked.select(
        "k", "rid", "rnk",
        F.explode(
            F.array(
                F.call_function("div", F.col("rnk"), F.lit(w)),
                F.call_function("div", F.col("rnk"), F.lit(w)) + 1,
            )
        ).alias("bkt"),
    )
    home = ranked.select(
        F.col("k").alias("k2"), F.col("rid").alias("rid2"),
        F.col("rnk").alias("rnk2"),
        F.call_function("div", F.col("rnk"), F.lit(w)).alias("bkt"),
    )
    cands = (
        probes.join(home, "bkt")
        .where(
            (F.col("rnk2") > F.col("rnk"))
            & (F.col("rnk2") - F.col("rnk") <= w)
        )
        .select("k", "rid", "k2", "rid2")
    )
    return (
        cands.withColumn("distance", F.levenshtein("k", "k2"))
        .where(F.col("distance") <= int(max_distance))
        .select(
            F.least("rid", "rid2").alias("id_a"),
            F.greatest("rid", "rid2").alias("id_b"),
            "distance",
        )
    )
