"""Mergeable quantile sketches for unbounded-cardinality double measures.

The exact percentile machinery elsewhere in this repo
(incremental_percentiles, stream_quantile_histogram, equidepth_deciles)
rides a (value -> count) histogram, whose state is bounded only when the
MEASURE's cardinality is bounded. A high-cardinality DOUBLE measure
(latencies, losses, model scores) needs a sketch whose size is bounded
by something data-independent. Two mergeable constructions live here,
both pure DataFrame expressions (JVM-side, one bounded shuffle, no UDF):

1. **Log-gamma relative-error sketch** (:func:`dd_sketch`) — the
   DDSketch construction (Masson, Rim & Lee, "DDSketch: A Fast and
   Fully-Mergeable Quantile Sketch with Relative-Error Guarantees",
   PVLDB 12(12), 2019): bucket a value x>0 into index ceil(log_g(x))
   with g = (1+alpha)/(1-alpha). Bucket COUNTS are exact, so the bucket
   chosen for quantile q is exactly the one containing the rank-q value,
   and the bucket's midpoint estimate 2*g^i/(g+1) is within relative
   error alpha of it — a hard guarantee, not a statistical one. The
   bucket-index universe is FIXED by the double range (idx in
   [ceil(ln(5e-324)/ln(g)), ceil(ln(DBL_MAX)/ln(g))] ~ [-3.8e4, 3.6e4]
   at alpha=0.01 — asymmetric because subnormals reach further below 1
   than DBL_MAX reaches above it), so sketch size is
   data-independent: counts per (sign-section, index), mergeable by
   plain addition — sketch(A ++ B) EQUALS merge(sketch(A), sketch(B))
   row-for-row, the monoid law the streaming twin and partition-parallel
   build both lean on.

2. **Dyadic integer sketch** (:func:`dyadic_sketch`) — power-of-two
   buckets over an integer measure via the bit length of the value
   (length(bin(n))), <= 64 buckets for ANY bigint: integer-exact in
   every engine, so unlike the log-gamma form it is cross-engine
   hash-checkable (the oracle-attested face of the same mergeable-
   bounded-state design; relative error <= 1 i.e. factor-2 brackets,
   with exact [lo, hi] bucket bounds emitted).

Scale: the build is a scan-stage projection plus one groupBy over
bounded-cardinality keys (map-side partial aggregation shrinks every
partition to <= universe-size rows before the shuffle); quantile reads
are windows PARTITIONED BY the group key over the bounded bucket rows.
Nothing is collected; nothing grows with row count or value cardinality.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gamma_for_alpha(alpha: float) -> float:
    """DDSketch bucket base for a relative-error target alpha."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def _bucket_cols(value: Column, gamma: float) -> tuple[Column, Column]:
    """(sgn, idx) bucket key for a double measure.

    sgn in {-1, 0, 1} splits the line into the three DDSketch sections
    (mirrored negative store, exact-zero bucket, positive store); idx is
    ceil(log_gamma(|x|)) within a section, 0 in the zero section. Rows
    ordered by (sgn, sgn*idx) are in value order: negatives descend in
    magnitude as sgn*idx = -idx ascends, then zero, then positives.

    Infinities clamp into the outermost finite bucket (log(inf) would
    otherwise ride an inf double into cast-to-long, ANSI-erroring or
    saturating depending on session mode) — the DDSketch end-bucket
    convention, which also keeps the universe bound a true invariant.

    The clamps are asymmetric because the double range is: the upper cap
    comes from DBL_MAX (~1.8e308) but the lower floor from the smallest
    positive SUBNORMAL (~5e-324), whose index is ~5% more negative than
    -cap. Clamping at -cap would bin every |x| < ~1e-308 into one bucket
    and silently break the alpha relative-error guarantee there (round-10
    ADVICE); with the floor at the true minimum index, EVERY positive
    finite double's exact index is representable and no magnitude is
    ever mis-binned.
    """
    lg = math.log(gamma)
    # ceil(ln(DBL_MAX)/ln(gamma)): the largest index any finite double
    # maps to
    idx_cap = math.ceil(math.log(1.7976931348623157e308) / lg)
    # ceil(ln(DBL_TRUE_MIN)/ln(gamma)) with DBL_TRUE_MIN = 5e-324 (the
    # smallest positive subnormal): the most negative index any positive
    # double maps to
    idx_floor = math.ceil(math.log(5e-324) / lg)
    sgn = F.when(value > 0, F.lit(1)).when(value < 0, F.lit(-1)).otherwise(F.lit(0))
    # clamp as DOUBLE, before the long cast — inf must never reach cast
    idx = F.when(
        value != 0,
        F.least(
            F.lit(float(idx_cap)),
            F.greatest(
                F.lit(float(idx_floor)),
                F.ceil(F.log(F.abs(value)) / F.lit(lg)),
            ),
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return sgn.cast("int"), idx


def dd_sketch(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Build the log-gamma sketch: one row per (keys..., sgn, idx) with
    the exact count n. The returned DataFrame IS the sketch — bounded by
    the fixed index universe per key, mergeable via :func:`dd_merge`."""
    keys = keys or []
    gamma = gamma_for_alpha(alpha)
    v = F.col(value_col)
    sgn, idx = _bucket_cols(v, gamma)
    return (
        # NaN is dropped like NULL (it has no place on the ordered line;
        # silently binning it at zero would corrupt every quantile)
        df.where(v.isNotNull() & ~F.isnan(v))
        .select(*keys, sgn.alias("sgn"), idx.alias("idx"))
        .groupBy(*keys, "sgn", "idx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def dd_merge(a: DataFrame, b: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Merge two sketches over the same keys: bucket-wise count addition
    (the commutative-monoid merge — associative, exact)."""
    keys = keys or []
    return (
        a.unionAll(b)
        .groupBy(*keys, "sgn", "idx")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def dd_quantiles(
    sketch: DataFrame,
    qs: list[tuple[int, int]],
    keys: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Read discrete quantiles off a sketch: for each q = num/den the
    estimate for the bucket containing the rank-ceil(q*n) value
    (percentile_disc semantics on the bucketed line). Quantile targets
    are exact fractions so rank arithmetic stays integer-exact.

    Returns one row per key group: (keys..., n_rows, q_<num>_<den> ...).
    The cumulative scan is a window PARTITIONED BY the keys over the
    bounded bucket rows — never a one-task global window."""
    from pyspark.sql import Window

    keys = keys or []
    gamma = gamma_for_alpha(alpha)
    # value-order walk within each key group (bounded rows per group)
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        if keys
        else Window.partitionBy(F.lit(1))
    )
    order = [F.col("sgn").asc(), (F.col("sgn") * F.col("idx")).asc()]
    cum = sketch.select(
        *keys,
        "sgn",
        "idx",
        "n",
        F.sum("n").over(w.orderBy(*order)).alias("cum"),
        F.sum("n").over(w).alias("total"),
    )
    # midpoint estimate of the bucket (gamma^(i-1), gamma^i]: within
    # alpha of every value in it (0 for the exact-zero bucket)
    est = F.when(F.col("sgn") == 0, F.lit(0.0)).otherwise(
        F.col("sgn")
        * (2.0 * F.pow(F.lit(gamma), F.col("idx")) / F.lit(gamma + 1.0))
    )
    aggs = [F.max("total").cast("bigint").alias("n_rows")]
    for num, den in qs:
        # percentile_disc picks the smallest value with cum >= ceil(q*n);
        # for integer cum that is exactly cum*den >= num*total — pure
        # bigint arithmetic, no float rank to lose precision on
        qualifies = F.col("cum") * F.lit(den) >= F.lit(num) * F.col("total")
        aggs.append(F.min(F.when(qualifies, est)).alias(f"q_{num}_{den}"))
    # F.min over the conditional estimate picks the FIRST qualifying
    # bucket in value order because est is monotone in the walk order
    return cum.groupBy(*keys).agg(*aggs)


def dyadic_sketch(
    df: DataFrame, int_col: Column, keys: list[str] | None = None
) -> DataFrame:
    """Power-of-two sketch over a non-negative integer measure: bucket =
    bit length of the value (length(bin(n)); 0 keeps bucket 0), <= 64
    buckets for any bigint. Integer-exact in both Spark and DuckDB, so
    queries over it are fully oracle-checkable."""
    keys = keys or []
    bl = F.when(int_col > 0, F.length(F.bin(int_col))).otherwise(F.lit(0))
    return (
        df.select(*keys, bl.cast("bigint").alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# --------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005): the
# point-frequency face of the mergeable-sketch family. CM_DEPTH hash rows
# of CM_WIDTH counters; cell (j, h_j(x)) accumulates x's count; the
# estimate min_j CM[j, h_j(x)] NEVER undercounts (every cell holding x
# holds all of x's occurrences) and overcounts only by colliding mass —
# the one-sided bound the tests pin exactly. Merging sketches is
# cell-wise count addition, the same exact monoid as the DD sketch. The
# row hashes compose the repo's shared char-fold token hash (mod 2^31-1)
# with per-row integer affine constants, so the whole sketch — and the
# estimates read off it — are integer-exact cross-engine and fully
# oracle-checkable, unlike classical implementations whose murmur-style
# hashing is engine-private.
# --------------------------------------------------------------------------

CM_MOD = 2147483647  # the shared char-fold modulus (Mersenne prime)
CM_DEPTH = 3
CM_WIDTH = 1024
# per-row affine salts (odd multipliers, arbitrary fixed offsets): row j
# maps token hash h to column (h * CM_ROW_A[j] + CM_ROW_B[j]) % MOD % W
CM_ROW_A = (1000003, 2654435761, 40503)
CM_ROW_B = (907633385, 97, 8191)


def countmin_build(tokens: DataFrame, tok_col: str = "tok") -> DataFrame:
    """Build the sketch from a token relation: reduce to exact per-token
    counts FIRST (map-side combinable, the heavy shuffle shrinks to the
    vocabulary), then scatter each token's count into its CM_DEPTH cells
    and sum per cell. Returns the sketch as a DataFrame of
    (row, col, n) — <= CM_DEPTH * CM_WIDTH rows, data-independent."""
    tf = tokens.groupBy(tok_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    h = _charfold(F.col(tok_col))
    cells = tf.select(
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
        h.alias("_h"),
        "_n",
    )
    col = _cm_col(F.col("_h"), F.col("row"))
    return (
        cells.select("row", col.alias("col"), "_n")
        .groupBy("row", "col")
        .agg(F.sum("_n").cast("bigint").alias("n"))
    )


def _charfold(tok: Column) -> Column:
    """The repo's shared cross-engine token hash: left-fold
    (a*31 + ord(char)) % 2^31-1 — same law as content_defined_chunking
    and random_projection_sketch, written independently per dialect."""
    return F.when(F.length(tok) == 0, F.lit(0).cast("bigint")).otherwise(
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.length(tok)),
                lambda i: F.ascii(tok.substr(i, F.lit(1))).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda a, c: (a * 31 + c) % CM_MOD,
        )
    )


def _cm_col(h: Column, row: Column) -> Column:
    """Column index of token hash h in sketch row j: affine-salt then
    double mod — pure bigint arithmetic, identical in every engine."""
    a = F.element_at(F.array(*[F.lit(x) for x in CM_ROW_A]), row + 1)
    b = F.element_at(F.array(*[F.lit(x) for x in CM_ROW_B]), row + 1)
    return ((h * a + b) % CM_MOD % CM_WIDTH).cast("bigint")


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, tok_col: str = "tok"
) -> DataFrame:
    """Point-frequency estimates for a probe token relation: join each
    probe's CM_DEPTH cells against the sketch and take the row-min.
    Missing cells read as 0 (a token whose cell nobody touched has true
    count 0). The probe side is expected to be small (broadcast); the
    sketch is bounded at CM_DEPTH*CM_WIDTH rows, so the join never
    scales with the corpus."""
    h = _charfold(F.col(tok_col))
    pcells = probes.select(
        tok_col,
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
        h.alias("_h"),
    ).select(tok_col, "row", _cm_col(F.col("_h"), F.col("row")).alias("col"))
    joined = pcells.join(sketch, ["row", "col"], "left").select(
        tok_col, F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("_cell")
    )
    return joined.groupBy(tok_col).agg(
        F.min("_cell").cast("bigint").alias("n_est")
    )


# --------------------------------------------------------------------------
# HyperLogLog with a cross-engine-exact hash (Flajolet, Fusy, Gandouet &
# Meunier, AofA 2007): the distinct-count face of the mergeable-sketch
# family, and the oracle-checkable twin of Spark's native
# approx_count_distinct (whose xxhash64 registers are JVM-private, which
# is why O-12 was rows-only until now). Registers are max-rank per
# bucket — a max-monoid, merged by MAX — and the emitted summary is all
# integer except the raw estimator, which is ONE division of a shared
# float literal by the exact integer register sum: a single correctly-
# rounded op, bit-identical cross-engine (the welch_z_test discipline).
# The bias-corrected/linear-counting branch needs ln (libm), so it lives
# in the TESTS (tolerance-gated vs exact COUNT DISTINCT), not in the
# hashed row.
#
# Hash: the shared char-fold, then multiply / xor-shift / multiply mod
# the Mersenne prime — measured on the fixture key population to bring
# HLL bias within the +-1.04/sqrt(m) design error (one multiply alone
# left the high bits skewed: +25% bias on short numeric strings).
# --------------------------------------------------------------------------

HLL_M = 256  # registers (b = 8 index bits); rel std err = 1.04/16 = 6.5%
HLL_RANK_CAP = 24  # w has 31-8 = 23 entropy bits; rank(w=0) caps at 24
HLL_SCALE = 1 << 50  # integer register sum: sum of 2^(50-rank), exact
# alpha_256 * m^2 * 2^50 as a shared double literal — both engines parse
# the same shortest-repr decimal to the same double
HLL_ALPHA_NUM = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M * float(HLL_SCALE)


def hll_mixed_hash(tok: Column) -> Column:
    """Char-fold then multiply / xor-shift / multiply, all mod 2^31-1."""
    h = _charfold(tok)
    a = (h * F.lit(2654435761)) % CM_MOD
    b = a.bitwiseXOR(F.shiftright(a, 15)) % CM_MOD
    return (b * F.lit(1000003)) % CM_MOD


def hll_registers(
    df: DataFrame, item: Column, keys: list[str] | None = None
) -> DataFrame:
    """Register table (keys..., j, m_rank): bucket j = low 8 hash bits,
    rank = leading-zero count (+1) of the remaining 23 bits, max per
    bucket. <= HLL_M rows per key group, data-independent; merging
    shards is groupBy-MAX — the max monoid."""
    keys = keys or []
    h = hll_mixed_hash(item)
    w = F.floor(h / HLL_M).cast("bigint")
    rank = F.when(
        w > 0, F.lit(HLL_RANK_CAP) - F.length(F.bin(w))
    ).otherwise(F.lit(HLL_RANK_CAP))
    return (
        df.select(*keys, (h % HLL_M).cast("bigint").alias("j"), rank.alias("_r"))
        .groupBy(*keys, "j")
        .agg(F.max("_r").cast("bigint").alias("m_rank"))
    )


def hll_summary(regs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Collapse a register table to the deterministic estimator
    components: v_empty (registers never touched), s_scaled (the exact
    integer sum of 2^(50-rank), empty registers contributing 2^50), and
    raw_est = alpha*m^2*2^50 / s_scaled — the raw HLL estimator as one
    correctly-rounded division. The small-range (linear counting)
    correction is ln-based and intentionally NOT emitted; consumers
    apply it from v_empty (see tests/test_qsketch.py)."""
    keys = keys or []
    # coalesce: a keyless summary over an EMPTY register table emits one
    # row with count 0 and a NULL sum; the correct sketch of an empty
    # set is all-empty registers (v_empty = HLL_M, s_scaled =
    # HLL_M * HLL_SCALE), not NULLs (round-10 ADVICE)
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("_npres"),
        F.coalesce(
            F.sum(
                F.pow(F.lit(2.0), F.lit(50) - F.col("m_rank")).cast("bigint")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("_sp"),
    )
    v_empty = (F.lit(HLL_M) - F.col("_npres")).cast("bigint")
    s_scaled = (F.col("_sp") + v_empty * F.lit(HLL_SCALE)).cast("bigint")
    return agg.select(
        *keys,
        v_empty.alias("v_empty"),
        s_scaled.alias("s_scaled"),
        (F.lit(HLL_ALPHA_NUM) / s_scaled).alias("raw_est"),
    )


def hll_union(a: DataFrame, b: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Union of two HLL register tables: per-register MAX — the max
    monoid, so |A ∪ B| falls out of the merged summary with the same
    accuracy as a sketch built on the concatenated data (they are
    IDENTICAL tables, property-pinned in tests). Intersection has no
    register-level merge; consumers estimate it by inclusion-exclusion
    over the three summaries (|A| + |B| - |A ∪ B|), whose error
    compounds — fine for overlap-rate profiling, not for small
    intersections of huge sets (the classic caveat). The registry face
    of this algebra is hll_set_overlap (plans/tier2_stats.py), driver-attested
    since round 10."""
    keys = keys or []
    return (
        a.unionAll(b)
        .groupBy(*keys, "j")
        .agg(F.max("m_rank").cast("bigint").alias("m_rank"))
    )
