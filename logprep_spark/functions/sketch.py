"""Deterministic sketches: cross-engine-reproducible approximations.

Spark's builtin sketches (``approx_count_distinct`` = HLL++) are the
production path but can't hash-compare against another engine; these
md5-based sketches produce bit-identical results in any engine, so the
oracle gate can check the SKETCH itself, not just a tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logprep_spark.functions.dedup import h60, window_hashes

#: h60 values are uniform in [0, 2^60)
_H_MAX = float(1 << 60)


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count estimate of ``col``.

    The k smallest 60-bit hashes of the distinct values estimate the
    cardinality as ``(k-1) * H_MAX / kth_min`` (exact count when fewer
    than k distinct values exist). Scale shape: hash → distinct →
    ``orderBy().limit(k)`` is TakeOrderedAndProject — per-partition
    top-k then a single merge of k rows per partition; nothing
    unbounded ever reaches one node. Deterministic: same md5 hashes in
    every engine, so the estimate itself hash-compares in the oracle.
    """
    h: Column = h60(F.col(col).cast("string"))
    topk = df.select(h.alias("h")).distinct().orderBy("h").limit(k)
    agg = topk.agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("n"))
    return agg.select(
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise(F.round(F.lit(float(k - 1)) * F.lit(_H_MAX) / F.col("kth"), 2))
        .alias("distinct_estimate")
    )


def heavy_hitters(df: DataFrame, item_col: str, min_frac: float = 0.01) -> DataFrame:
    """Items with frequency share > ``min_frac`` of all rows, with
    EXACT counts — hot-key / hot-term detection (the precursor to
    salting a skewed join or pruning stop-words) at cardinalities
    where a full groupBy would blow the shuffle.

    Two phases. (1) Candidate discovery: per-partition Misra-Gries
    with ceil(1/min_frac) counters via Arrow-batched ``mapInPandas``
    — bounded memory per partition regardless of cardinality, emits
    each partition's surviving items. Guarantee (pigeonhole over
    partitions): an item with global count > n*min_frac must exceed
    the per-partition threshold somewhere, and MG never drops an item
    above its partition threshold — so the candidate union is a
    SUPERSET of every true heavy hitter. (2) Exact verify: semi-join
    the rows to the (tiny, broadcast) distinct candidate set, groupBy
    count — partial agg over |candidates| keys only — and filter by
    the exact global threshold (total row count rides a broadcast
    1-row frame, no driver action).

    The candidate set depends on arrival order inside partitions; the
    RESULT does not — false candidates die at the exact threshold,
    and true heavy hitters are always candidates. Hence oracle-able:
    identical to plain ``GROUP BY ... HAVING count > n*min_frac``.
    """
    import math
    from typing import Iterator

    import pandas as pd

    k = max(2, math.ceil(1.0 / min_frac))

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for batch in batches:
            for item in batch[item_col]:
                if item is None:
                    continue
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k - 1:
                    counters[item] = 1
                else:  # decrement-all step
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({item_col: list(counters.keys())})

    candidates = (
        df.select(item_col).mapInPandas(mg, schema=f"{item_col} string").distinct()
    )
    total = df.agg(F.count(item_col).alias("_total"))
    return (
        df.join(F.broadcast(candidates), item_col)
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("_total") * min_frac)
        .select(
            item_col,
            "n",
            F.expr("1000 * n div _total").alias("milli_share"),
        )
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str, rsd: float = 0.02) -> DataFrame:
    """Per-group approximate distinct counts via Spark's native
    HyperLogLog++ (``approx_count_distinct``) next to the exact
    count — the memory-bounded scale path for billion-cardinality
    distinct counting (exact distinct must shuffle every distinct
    value; HLL++ ships a fixed-size sketch per group through the
    partial agg). The exact column doubles as the in-query accuracy
    witness; cross-engine sketch values legitimately differ, so the
    driver gate is rows-only and the accuracy bound lives in pytest.
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.approx_count_distinct(value_col, rsd).alias("approx_distinct"),
            F.count_distinct(value_col).alias("exact_distinct"),
        )
        .withColumn(
            "err_milli",
            F.expr(
                "1000 * abs(approx_distinct - exact_distinct) div greatest(exact_distinct, 1)"
            ),
        )
    )


def quantile_sketch(
    df: DataFrame, group_col: str, value_col: str, accuracy: int = 1000
) -> DataFrame:
    """Per-group approximate quantiles via Spark's native
    Greenwald-Khanna sketch (``percentile_approx``) next to the exact
    percentiles — the scale path when a full sort per group is off the
    table. Same gating rationale as :func:`hll_distinct`: sketches
    are engine-specific, so rows-only driver check + pytest accuracy
    bound (GK guarantees rank error <= n/accuracy)."""
    qs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    return df.groupBy(group_col).agg(
        F.percentile_approx(value_col, qs, F.lit(accuracy)).alias("approx_q"),
        F.percentile(value_col, qs).alias("exact_q"),
        F.count(F.lit(1)).alias("n"),
    )


def hll_mergeable_distinct(
    df: DataFrame, part_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches the
    100 TB answer for distinct counting: build one Datasketches HLL
    per partition slice (per day here), then UNION the sketches and
    estimate, next to (a) the single-pass sketch estimate over all
    rows and (b) the exact distinct. In production the per-slice
    sketches are the stored artifact: yesterday's sketches never
    recompute, a new day merges in O(sketch size), and any ad-hoc
    slice union answers "distinct users over THIS date range" without
    touching raw data. One row: union estimate, direct estimate,
    exact, and milli errors — the accuracy witness discipline of
    hll_distinct. Engine-specific sketch bytes → rows-only driver
    gate; the bounds live in pytest."""
    per_slice = df.groupBy(part_col).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("_sk")
    )
    merged = per_slice.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("union_estimate"),
        F.count(F.lit(1)).alias("n_slices"),
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(value_col, F.lit(lg_k))).alias(
            "direct_estimate"
        ),
        F.count_distinct(value_col).alias("exact_distinct"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "n_slices",
        "union_estimate",
        "direct_estimate",
        "exact_distinct",
        F.expr(
            "1000 * abs(union_estimate - exact_distinct)"
            " div greatest(exact_distinct, 1)"
        ).alias("union_err_milli"),
        F.expr(
            "1000 * abs(union_estimate - direct_estimate)"
            " div greatest(direct_estimate, 1)"
        ).alias("merge_drift_milli"),
    )


def hll_audience_overlap(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    slice_a: str,
    slice_b: str,
    lg_k: int = 12,
) -> DataFrame:
    """Cross-slice audience overlap from stored sketches — the
    inclusion–exclusion answer to "how many users were active in BOTH
    weeks?" when only per-slice HLL sketches are kept: |A∩B| ≈
    |A| + |B| − |A∪B|, every term an HLL estimate and the union an
    O(sketch) merge of the two stored sketches (raw data never
    re-read). HLL cannot intersect directly (that is theta sketches'
    trick), so inclusion–exclusion is the standard HLL route; its
    error grows as the overlap shrinks relative to the union — the
    exact intersection and milli error ride along as the accuracy
    witness, pytest-bounded. One row out; both sketch aggs combine
    map-side; the exact check is two distinct aggs over the two
    slices only."""
    a = df.filter(F.col(slice_col) == slice_a)
    b = df.filter(F.col(slice_col) == slice_b)
    sk_a = a.agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("_sa"))
    sk_b = b.agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("_sb"))
    ests = (
        sk_a.crossJoin(F.broadcast(sk_b))
        .select(
            F.hll_sketch_estimate("_sa").alias("est_a"),
            F.hll_sketch_estimate("_sb").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("_sa", "_sb", True)
            ).alias("est_union"),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )
    exact = (
        a.select(F.col(value_col).alias("_v"))
        .intersect(b.select(F.col(value_col).alias("_v")))
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        "exact_intersection",
        F.expr(
            "1000 * abs(est_intersection - exact_intersection)"
            " div greatest(exact_intersection, 1)"
        ).alias("err_milli"),
    )


#: integer H_MAX twin of the float one for exact-mode theta sketches
_H_MAX_LONG = 1 << 60

#: deterministic-HLL defaults: p=9 -> m=512 registers, rsd ~ 4.6%
HLL_OWN_P = 9


def _hll_alpha_m2(p: int) -> float:
    """alpha_m * m**2 for the Flajolet et al. 2007 estimator, as a
    Python double embedded as the SAME literal in Spark and SQL."""
    m = 1 << p
    return (0.7213 / (1.0 + 1.079 / m)) * m * m


def hll_register_slices(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    p: int = HLL_OWN_P,
) -> DataFrame:
    """Per-slice DETERMINISTIC HyperLogLog registers (Flajolet et al.
    2007) — the md5 counterpart of the engine HLL++ rows: Spark's
    builtin sketch (sketch_hll_distinct) can only gate a tolerance
    witness because its seed/width are engine-specific; THESE
    registers are pure integer arithmetic on the shared h60 hash
    (top p bits -> register index, rank of the leading 1 in the
    remaining 60−p bits -> rho, computed EXACTLY via
    length(bin(w)) — both engines' ``bin`` renders minimal binary
    digits), so the registers AND the estimate hash-compare
    bit-for-bit cross-engine.

    Mergeable the HLL way: registers from disjoint row sets (or late
    batches) merge by per-register MAX — the same shape
    :func:`hll_own_union_range` exercises across a slice range.
    Returns (slice, reg, rho) — at most m rows per slice, O(slices·m)
    total however large the input: the map-side partial agg collapses
    every partition to ≤ m rows before the one tiny shuffle."""
    hb = 60 - p
    h = h60(F.col(value_col).cast("string"))
    staged = df.filter(F.col(value_col).isNotNull()).select(
        F.col(slice_col),
        F.shiftright(h, hb).cast("int").alias("reg"),
        F.pmod(h, F.lit(1 << hb)).alias("_w"),
    )
    rho = F.expr(
        f"CASE WHEN _w = 0 THEN {hb + 1}"
        f" ELSE {hb} - (length(bin(_w)) - 1) END"
    ).cast("int")
    return (
        staged.select(slice_col, "reg", rho.alias("_rho"))
        .groupBy(slice_col, "reg")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_own_union_range(
    regs: DataFrame,
    slice_col: str,
    lo,
    hi,
    p: int = HLL_OWN_P,
) -> DataFrame:
    """Ad-hoc range distinct-count from stored deterministic-HLL
    registers alone: merge the [lo, hi] slices by per-register MAX,
    then the Flajolet estimator — raw harmonic mean over all m
    registers with Σ 2^(−rho) carried EXACTLY (each term as
    2^(62−rho) in DECIMAL(38,0) — a double sum of dyadics is
    order-dependent, an integer sum is not), absent registers
    contributing 2^62 (rho = 0), and the small-range linear-counting
    regime (V zero registers, E ≤ 2.5m) via log2·ln2 with the SAME
    literal constants in both engines. The one double division and
    the log2 are fixed-structure IEEE ops on exact integers, so the
    ESTIMATE itself hash-gates — the claim the engine-HLL rows could
    not make. Returns (n_slices, n_regs_present, v_zero,
    est_distinct)."""
    m = 1 << p
    am2 = repr(_hll_alpha_m2(p))
    sel = regs.filter(
        (F.col(slice_col) >= lo) & (F.col(slice_col) <= hi)
    )
    ns = sel.agg(
        F.count_distinct(slice_col).cast("long").alias("n_slices")
    )
    merged = sel.groupBy("reg").agg(F.max("rho").alias("rho"))
    agg = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_present"),
        F.sum(
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(62 - rho AS INT)) AS DECIMAL(38,0))"
            )
        ).alias("_zp"),
    )
    est = (
        f"CASE WHEN v_zero > 0 AND ({am2} * 4.611686018427387904e18"
        f" / CAST(_z AS DOUBLE)) <= {2.5 * m}"
        f" THEN round({float(m)} * log2({float(m)} / v_zero)"
        f" * 0.6931471805599453, 2)"
        f" ELSE round({am2} * 4.611686018427387904e18"
        f" / CAST(_z AS DOUBLE), 2) END"
    )
    return (
        agg.select(
            "n_regs_present",
            (F.lit(m) - F.col("n_regs_present")).cast("long").alias(
                "v_zero"
            ),
            (
                F.col("_zp")
                + (F.lit(m) - F.col("n_regs_present")).cast(
                    "decimal(38,0)"
                )
                * F.lit(1 << 62).cast("decimal(38,0)")
            ).alias("_z"),
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "n_slices",
            "n_regs_present",
            "v_zero",
            F.expr(est).alias("est_distinct"),
        )
    )


def theta_sketch_slices(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-slice KMV/theta sketch: one row per slice holding
    ``(theta, sample)`` where ``theta`` is the k-th smallest 60-bit
    md5 hash of the slice's distinct values and ``sample`` the k-1
    hashes below it (exact mode — theta = 2^60, sample = everything —
    when the slice has fewer than k distinct values). Unlike HLL,
    theta sketches support direct SET ALGEBRA over the stored
    samples: intersection/difference estimates don't inherit the
    inclusion–exclusion error blowup when the overlap is small
    relative to the union (the documented hll_audience_overlap
    limitation this exists to fix).

    Deterministic: md5 hashing, so the sketch AND every estimate
    derived from it are bit-identical in any engine — the oracle gate
    hash-compares the estimates themselves, no tolerance band needed.

    Scale shape: a cardinality HINT (one map-side-combining
    approx_count_distinct per slice, broadcast back) prefilters
    candidate hashes to ``h < 2^60 · 8k / n̂`` before anything
    shuffles, so the per-slice top-k window sorts ~8k candidate
    hashes instead of every distinct value — at 10⁹ values/slice the
    shuffle stays O(k·slices). The 8× margin makes losing the true
    k-th smallest to the prefilter a <2⁻ᵏ Chernoff tail; slices whose
    hint is under 8k skip the prefilter entirely (cut = 2^60)."""
    from pyspark.sql import Window

    h = h60(F.col(value_col).cast("string"))
    hints = (
        df.groupBy(slice_col)
        .agg(F.approx_count_distinct(value_col).alias("_n_hint"))
        .select(
            slice_col,
            # double math for the cut (8k·2^60 overflows a long): the
            # prefilter is a safety-margined hint, not part of the
            # deterministic estimate, so float rounding is harmless
            F.when(
                F.col("_n_hint") > 8 * k,
                (F.lit(float(_H_MAX_LONG) * 8 * k) / F.col("_n_hint")).cast(
                    "long"
                ),
            )
            .otherwise(F.lit(_H_MAX_LONG))
            .alias("_cut"),
        )
    )
    cand = (
        df.select(F.col(slice_col), h.alias("_h"))
        .join(F.broadcast(hints), slice_col)
        .filter(F.col("_h") < F.col("_cut"))
        .select(slice_col, "_h")
        .distinct()
    )
    win = Window.partitionBy(slice_col).orderBy("_h")
    ranked = cand.withColumn("_rn", F.row_number().over(win)).filter(
        F.col("_rn") <= k
    )
    return ranked.groupBy(slice_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_kth"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rn") < k, F.col("_h")))
        ).alias("_sample"),
    ).select(
        slice_col,
        F.coalesce("_kth", F.lit(_H_MAX_LONG)).alias("_theta"),
        "_sample",
        "_n_kept",
    )


def theta_audience_overlap(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    slice_a: str,
    slice_b: str,
    k: int = 64,
) -> DataFrame:
    """Stored-sketch audience overlap by DIRECT theta-sketch
    intersection — the answer hll_audience_overlap documents it
    cannot give precisely: θ_AB = min(θ_A, θ_B), the intersection
    estimate is ``|{h ∈ sample_A ∩ sample_B : h < θ_AB}| · 2^60 /
    θ_AB``, whose relative error stays ~1/√k regardless of how small
    the overlap is (inclusion–exclusion error scales with the UNION,
    swamping small intersections). Per-slice estimates ride along;
    exact intersection + milli error are the in-query accuracy
    witness. Everything after the two 1-row sketches is broadcast
    arithmetic on ≤k-element arrays."""
    sk = theta_sketch_slices(
        df.filter(F.col(slice_col).isin(slice_a, slice_b)),
        slice_col,
        value_col,
        k,
    )

    def one_sketch(slice_val: str, suffix: str) -> DataFrame:
        # global .agg() so an EMPTY slice still yields one row — an
        # exact-mode default (theta=2^60, empty sample, n_kept=0)
        # that estimates 0.0, matching the always-1-row SQL oracle
        # (an absent groupBy row would otherwise empty the crossJoin)
        return sk.filter(F.col(slice_col) == slice_val).agg(
            F.coalesce(F.first("_theta"), F.lit(_H_MAX_LONG)).alias(
                f"_t{suffix}"
            ),
            F.coalesce(
                F.first("_sample"), F.array().cast("array<bigint>")
            ).alias(f"_s{suffix}"),
            F.coalesce(F.first("_n_kept"), F.lit(0)).alias(f"_n{suffix}"),
        )

    a = one_sketch(slice_a, "a")
    b = one_sketch(slice_b, "b")

    def est_one(theta: str, n_kept: str) -> Column:
        return (
            F.when(
                F.col(theta) == _H_MAX_LONG, F.col(n_kept).cast("double")
            ).otherwise(
                F.round(F.lit(float(k - 1)) * F.lit(_H_MAX) / F.col(theta), 2)
            )
        )

    ests = (
        a.crossJoin(F.broadcast(b))
        .withColumn("_tab", F.least("_ta", "_tb"))
        .withColumn(
            "_n_int",
            F.size(
                F.filter(
                    F.array_intersect("_sa", "_sb"),
                    lambda x: x < F.col("_tab"),
                )
            ),
        )
        .select(
            est_one("_ta", "_na").alias("est_a"),
            est_one("_tb", "_nb").alias("est_b"),
            F.round(
                F.col("_n_int") * F.lit(_H_MAX) / F.col("_tab"), 2
            ).alias("est_intersection"),
        )
    )
    va, vb = F.col(value_col), F.col(slice_col)
    exact = (
        df.filter(vb == slice_a)
        .select(va.alias("_v"))
        .intersect(df.filter(vb == slice_b).select(va.alias("_v")))
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return ests.crossJoin(F.broadcast(exact)).select(
        "est_a",
        "est_b",
        "est_intersection",
        "exact_intersection",
        F.floor(
            F.lit(1000.0)
            * F.abs(F.col("est_intersection") - F.col("exact_intersection"))
            / F.greatest(F.col("exact_intersection"), F.lit(1))
        )
        .cast("long")
        .alias("err_milli"),
    )


def theta_audience_diff(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    slice_a: str,
    slice_b: str,
    k: int = 64,
) -> DataFrame:
    """A\\B difference estimate over the same stored per-slice KMV
    rows as :func:`theta_audience_overlap` — the remaining direct
    set-algebra operation HLL cannot do. With θ_AB = min(θ_A, θ_B),
    KMV retains EVERY hash of a slice below its θ, so membership of
    any h < θ_AB is an exact test against sample_B:

        est(A\\B) = |{h ∈ sample_A : h < θ_AB, h ∉ sample_B}| · 2^60 / θ_AB

    (relative error ~1/√k like intersection — no subtracting two big
    inclusion–exclusion terms). Both directions + exact witnesses in one
    row; everything after the two 1-row sketches is broadcast
    arithmetic on ≤k-element arrays. Deterministic md5 → the
    estimates themselves are oracle-hashable."""
    sk = theta_sketch_slices(
        df.filter(F.col(slice_col).isin(slice_a, slice_b)),
        slice_col,
        value_col,
        k,
    )

    def one_sketch(slice_val: str, suffix: str) -> DataFrame:
        return sk.filter(F.col(slice_col) == slice_val).agg(
            F.coalesce(F.first("_theta"), F.lit(_H_MAX_LONG)).alias(
                f"_t{suffix}"
            ),
            F.coalesce(
                F.first("_sample"), F.array().cast("array<bigint>")
            ).alias(f"_s{suffix}"),
        )

    def diff_est(sa: str, sb: str) -> Column:
        n = F.size(
            F.filter(
                F.array_except(F.col(sa), F.col(sb)),
                lambda x: x < F.col("_tab"),
            )
        )
        return F.when(
            F.col("_tab") == _H_MAX_LONG, n.cast("double")
        ).otherwise(F.round(n * F.lit(_H_MAX) / F.col("_tab"), 2))

    ests = (
        one_sketch(slice_a, "a")
        .crossJoin(F.broadcast(one_sketch(slice_b, "b")))
        .withColumn("_tab", F.least("_ta", "_tb"))
        .select(
            diff_est("_sa", "_sb").alias("est_diff_ab"),
            diff_est("_sb", "_sa").alias("est_diff_ba"),
        )
    )
    va, vb = F.col(value_col), F.col(slice_col)

    def exact_diff(x: str, y: str, name: str) -> DataFrame:
        return (
            df.filter(vb == x)
            .select(va.alias("_v"))
            .join(
                df.filter(vb == y).select(va.alias("_v")),
                "_v",
                "left_anti",
            )
            .agg(F.count_distinct("_v").alias(name))
        )

    return (
        ests.crossJoin(F.broadcast(exact_diff(slice_a, slice_b, "exact_diff_ab")))
        .crossJoin(F.broadcast(exact_diff(slice_b, slice_a, "exact_diff_ba")))
        .select(
            "est_diff_ab",
            "exact_diff_ab",
            "est_diff_ba",
            "exact_diff_ba",
            F.floor(
                F.lit(1000.0)
                * F.abs(F.col("est_diff_ab") - F.col("exact_diff_ab"))
                / F.greatest(F.col("exact_diff_ab"), F.lit(1))
            )
            .cast("long")
            .alias("err_ab_milli"),
        )
    )


def bloom_positions(col: Column, m: int, j: int) -> list[Column]:
    """The ``j`` Bloom bit positions of value ``col``:
    ``h60(i || ':' || v) mod m`` for ``i < j``. The one position hash
    every Bloom build, probe, gate and stream twin uses, so a filter
    built anywhere answers probes made anywhere else."""
    return [
        F.pmod(h60(F.concat(F.lit(f"{i}:"), col.cast("string"))), F.lit(m))
        for i in range(j)
    ]


def cm_cells(col: Column, d: int, w: int) -> list[Column]:
    """The ``d`` Count-Min columns of item ``col``, one per hash row
    ``r``: ``h60(r || ':' || item) mod w`` — the Bloom position hash
    with the row as salt. Every CM build, probe and stream twin uses
    it."""
    return bloom_positions(col, w, d)


def cm_sketch(
    df: DataFrame,
    item_col: str,
    d: int = 3,
    w: int = 256,
) -> DataFrame:
    """Count-Min sketch of ``item_col`` frequencies as a DataFrame:
    one row per non-empty cell ``(row, col, cnt)``, at most ``d*w``
    rows total regardless of input cardinality — the mergeable
    FREQUENCY sketch completing the family (theta/HLL: cardinality,
    GK: quantiles, Misra-Gries: heavy hitters). Cell assignment for
    hash row ``r`` is ``h60(r || ':' || item) mod w``; each input row
    increments d cells, so a point query reads d counters and takes
    their min (Cormode & Muthukrishnan 2005: est >= true always,
    over-count <= 2n/w with prob 1-(1/2)^d per query).

    Deterministic md5 cells → the sketch AND every estimate derived
    from it are bit-identical in any engine; the oracle hash-compares
    the estimates themselves.

    Scale shape: the d-way cell explode is narrow (map-side), and the
    groupBy collapses it into <= d*w keys in the partial agg — the
    shuffle is O(d*w) bytes per partition at ANY input size, which is
    the whole point of a CM sketch. Merging sketches of two corpora
    is cell-wise addition (see pytest mergeability gate)."""
    cell = F.posexplode(F.array(*cm_cells(F.col(item_col), d, w)))
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(cell.alias("row", "col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_point_estimates(
    df: DataFrame,
    item_col: str,
    queries: DataFrame,
    d: int = 3,
    w: int = 256,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Point-frequency estimates for the items in ``queries`` (a
    1-column frame named ``item_col``) read from the Count-Min sketch
    of ``df`` — plus the exact count and over-count witness per item.

    The sketch (<= d*w rows) broadcasts; each query item derives its
    d cells narrowly and joins the broadcast sketch, so the probe
    never shuffles the corpus — at 100 TB the corpus is read once to
    build the sketch and every later point query is O(d) lookups.
    A cell the sketch never touched reads as 0 (left join coalesce):
    CM has no false negatives, so est >= exact always and
    ``overcount`` is the in-query accuracy witness. Pass ``sketch``
    to probe a PRE-BUILT cell frame (e.g. read back from a parquet
    store — the stored-round-trip rows) instead of rebuilding;
    ``df`` is then touched only by the exact witness."""
    if sketch is None:
        sketch = cm_sketch(df, item_col, d, w)
    probe_cell = F.posexplode(F.array(*cm_cells(F.col(item_col), d, w)))
    probes = queries.select(F.col(item_col), probe_cell.alias("row", "col"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )
    exact = (
        df.join(F.broadcast(queries), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, item_col, "left")
        .select(
            item_col,
            "est_count",
            F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
        )
        .withColumn("overcount", F.col("est_count") - F.col("exact_count"))
    )


def bloom_bits(
    df: DataFrame,
    value_col: str,
    m: int = 512,
    j: int = 3,
) -> DataFrame:
    """Bloom filter of the distinct ``value_col`` values as a
    DataFrame of SET bit positions — one row per set bit, at most
    ``m`` rows — the mergeable MEMBERSHIP sketch (union of two
    filters = distinct union of their position rows). Value ``v``
    sets the ``j`` positions ``h60(i || ':' || v) mod m``.

    Deterministic md5 positions → the filter and every probe verdict
    hash-compare cross-engine.

    Scale shape: the j-way position explode is narrow and the
    distinct collapses to <= m rows in the partial agg — O(m) shuffle
    bytes at any input cardinality. The stored artifact is the
    position frame; probing never re-reads the build-side raw data."""
    pos = F.explode(F.array(*bloom_positions(F.col(value_col), m, j)))
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(pos.alias("pos"))
        .distinct()
    )


def bloom_membership(
    build_df: DataFrame,
    probe_df: DataFrame,
    value_col: str,
    m: int = 512,
    j: int = 3,
    bits: DataFrame | None = None,
) -> DataFrame:
    """Probe the distinct ``probe_df`` values against the Bloom
    filter built from ``build_df`` and report the 1-row accuracy
    readout: bits set, probes, hits (all j positions present), the
    exact overlap witness, false positives = hits - exact (Bloom has
    NO false negatives, so hits >= exact always), and the measured
    false-positive rate in milli units over the true negatives.

    All-integer output → the oracle hash-compares the verdicts
    themselves. Scale: the <= m-row filter broadcasts to the probe
    side; each distinct probe value checks j positions via the
    broadcast join — the probe corpus is read once, never shuffled
    on anything but its own distinct. Pass ``bits`` to probe a
    PRE-BUILT position frame (e.g. read back from a parquet store —
    the stored-round-trip rows); ``build_df`` is then touched only
    by the exact-overlap witness."""
    if bits is None:
        bits = bloom_bits(build_df, value_col, m, j)
    probe_pos = F.posexplode(F.array(*bloom_positions(F.col(value_col), m, j)))
    probes = probe_df.filter(F.col(value_col).isNotNull()).select(
        value_col
    ).distinct()
    hits = (
        probes.select(F.col(value_col), probe_pos.alias("_i", "pos"))
        .join(F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce("_set", F.lit(0))).alias("_all_set"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("_all_set").alias("n_hits"),
        )
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    exact = (
        probes.join(
            build_df.select(F.col(value_col)).distinct(),
            value_col,
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        n_bits.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_bits_set",
            "n_probes",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "exact_overlap",
            (F.coalesce("n_hits", F.lit(0)) - F.col("exact_overlap")).alias(
                "false_positives"
            ),
            F.floor(
                F.lit(1000.0)
                * (F.coalesce("n_hits", F.lit(0)) - F.col("exact_overlap"))
                / F.greatest(
                    F.col("n_probes") - F.col("exact_overlap"), F.lit(1)
                )
            )
            .cast("long")
            .alias("fpr_milli"),
        )
    )


def theta_union_range(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    lo: str,
    hi: str,
    k: int = 64,
) -> DataFrame:
    """Distinct count over an AD-HOC slice range from stored per-slice
    theta sketches — the query hll_mergeable_distinct documents
    ("distinct users over THIS date range without touching raw data"),
    done with the deterministic KMV family so the estimate itself
    hash-compares cross-engine.

    Union of stored sketches: θ_U = min over selected slices' θ; the
    pooled retained hashes below θ_U are exactly the union's distinct
    hashes below θ_U (each slice retains ALL its hashes < θ_slice ≥
    θ_U), so  est = |{distinct h ∈ ∪ samples : h < θ_U}| · 2^60 / θ_U
    — the unbiased θ-sketch union estimator, variance ~1/√k. Each
    slice's k-th hash equals its own θ ≥ θ_U, so samples (rn < k)
    alone carry the pool.

    Scale shape: the per-slice sketch build is the one pass over raw
    data (prefilter-bounded, see :func:`theta_sketch_slices`) and is
    the STORED artifact; every ad-hoc range after that is O(slices·k)
    arithmetic on the sketch rows — here a ≤(slices·k)-row explode,
    one distinct, one 1-row agg. Empty range → exact-mode default
    (θ=2^60, empty pool) → est 0.0, matching an always-1-row oracle.

    The exact distinct + milli error ride along as the in-query
    accuracy witness (the verification scan a production run omits).
    """
    in_range = (F.col(slice_col) >= lo) & (F.col(slice_col) <= hi)
    sketches = theta_sketch_slices(
        df.filter(in_range), slice_col, value_col, k
    )
    # θ_U and slice count: one row even over zero slices
    theta_u = sketches.agg(
        F.coalesce(F.min("_theta"), F.lit(_H_MAX_LONG)).alias("_tu"),
        F.count(F.lit(1)).alias("n_slices"),
    )
    pool = (
        sketches.select(F.explode("_sample").alias("_h"))
        .distinct()
        .crossJoin(F.broadcast(theta_u))
        .filter(F.col("_h") < F.col("_tu"))
        .agg(F.count(F.lit(1)).alias("_n_pool"))
    )
    est = (
        theta_u.crossJoin(F.broadcast(pool))
        .select(
            "n_slices",
            F.when(
                F.col("_tu") == _H_MAX_LONG, F.col("_n_pool").cast("double")
            )
            .otherwise(
                F.round(F.col("_n_pool") * F.lit(_H_MAX) / F.col("_tu"), 2)
            )
            .alias("est_union"),
        )
    )
    exact = df.filter(in_range).agg(
        F.count_distinct(value_col).alias("exact_union")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_slices",
        "est_union",
        "exact_union",
        F.floor(
            F.lit(1000.0)
            * F.abs(F.col("est_union") - F.col("exact_union"))
            / F.greatest(F.col("exact_union"), F.lit(1))
        )
        .cast("long")
        .alias("err_milli"),
    )


def theta_stored_union_range(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    lo: str,
    hi: str,
    k: int = 64,
    store_path: str | None = None,
    witness_prefilter: Column | None = None,
) -> DataFrame:
    """The stored-sketch round trip the whole theta family is FOR —
    build → **write parquet** → **read back** → merge → estimate, in
    one query: per-slice sketches are built over the WHOLE frame (the
    write-once pass), persisted to ``store_path``, and the ad-hoc
    [lo, hi] union estimate is computed from the READ-BACK store alone
    — the raw data is touched again only by the exact-count accuracy
    witness (the verification scan a production run omits). Union math
    identical to :func:`theta_union_range`; `n_slices_stored` (total
    rows in the store, beyond the range) witnesses that the store
    holds every slice and the range filter ran against the STORE.

    Scale shape: the store is O(slices·k) rows — the range predicate
    is pushed into its parquet scan (slice_col is a stored column), so
    an ad-hoc range over a 100 TB corpus's sketch store reads KBs.
    Requires ``store_path``; the caller owns placement/retention.
    ``witness_prefilter`` — a redundant RAW-column predicate implied
    by the derived [lo, hi] range — keeps the exact-witness scan
    row-group-skippable (the derived slice_col expression alone
    defeats parquet pushdown on the raw frame)."""
    if store_path is None:
        raise ValueError("theta_stored_union_range requires store_path")
    sketches = theta_sketch_slices(df, slice_col, value_col, k)
    sketches.write.mode("overwrite").parquet(store_path)
    stored = df.sparkSession.read.parquet(store_path)
    n_stored = stored.agg(F.count(F.lit(1)).alias("n_slices_stored"))
    sel = stored.filter(
        (F.col(slice_col) >= lo) & (F.col(slice_col) <= hi)
    )
    theta_u = sel.agg(
        F.coalesce(F.min("_theta"), F.lit(_H_MAX_LONG)).alias("_tu"),
        F.count(F.lit(1)).alias("n_slices"),
    )
    pool = (
        sel.select(F.explode("_sample").alias("_h"))
        .distinct()
        .crossJoin(F.broadcast(theta_u))
        .filter(F.col("_h") < F.col("_tu"))
        .agg(F.count(F.lit(1)).alias("_n_pool"))
    )
    est = theta_u.crossJoin(F.broadcast(pool)).select(
        "n_slices",
        F.when(
            F.col("_tu") == _H_MAX_LONG, F.col("_n_pool").cast("double")
        )
        .otherwise(
            F.round(F.col("_n_pool") * F.lit(_H_MAX) / F.col("_tu"), 2)
        )
        .alias("est_union"),
    )
    in_range = (F.col(slice_col) >= lo) & (F.col(slice_col) <= hi)
    if witness_prefilter is not None:
        in_range = witness_prefilter & in_range
    exact = df.filter(in_range).agg(
        F.count_distinct(value_col).alias("exact_union")
    )
    return (
        est.crossJoin(F.broadcast(n_stored))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_slices_stored",
            "n_slices",
            "est_union",
            "exact_union",
            F.floor(
                F.lit(1000.0)
                * F.abs(F.col("est_union") - F.col("exact_union"))
                / F.greatest(F.col("exact_union"), F.lit(1))
            )
            .cast("long")
            .alias("err_milli"),
        )
    )


def bloom_suppress(
    df: DataFrame,
    bits: DataFrame,
    value_col: str,
    m: int = 512,
    j: int = 3,
    keep_hits: bool = False,
) -> DataFrame:
    """Gate ``df`` against a STORED Bloom filter (the ``bloom_bits``
    position frame): drop every row whose ``value_col`` hits the
    filter (all j positions set) — the suppression-list primitive
    (opt-out users, already-ingested doc fingerprints, eval-set
    contamination keys) applied WITHOUT re-reading the corpus the
    filter was built from. ``keep_hits=True`` inverts the gate
    (keep only probable members — the "seen before" view).

    Bloom has no false negatives, so suppression NEVER leaks a true
    member through; the cost is false-positive collateral (innocent
    rows suppressed), bounded by the filter's fpr — size m
    accordingly (m ~ 1.44*n*log2(1/p) bits).

    Scale shape: the filter is <= m position rows and BROADCASTS; the
    probe is j broadcast hash joins on derived positions — the gated
    corpus is never shuffled and the gate fuses into the scan stage.
    NULL keys cannot be members (hit requires all j probes present)
    and so pass a suppression gate untouched."""
    out = df
    hit = F.col(value_col).isNotNull()
    # ONE distinct subtree shared by the j probe joins (r15): the old
    # per-i ``bits.select(alias).distinct()`` made j canonically
    # DISTINCT broadcast subtrees (the alias sat under the distinct),
    # so neither exchange reuse nor AQE stage reuse could dedup them —
    # each gate rebuilt the <= m-row broadcast j times. Aliasing ABOVE
    # the shared distinct keeps the exchanged child identical, so the
    # broadcast materializes once per execution and the other j-1
    # probes ride stage reuse.
    b_shared = bits.select("pos").distinct()
    for i, probe in enumerate(bloom_positions(F.col(value_col), m, j)):
        b = b_shared.select(F.col("pos").alias(f"_bp{i}"))
        out = out.join(F.broadcast(b), probe == F.col(f"_bp{i}"), "left")
        hit = hit & F.col(f"_bp{i}").isNotNull()
    out = out.withColumn("_hit", hit)
    kept = out.filter(F.col("_hit") if keep_hits else ~F.col("_hit"))
    return kept.drop("_hit", *[f"_bp{i}" for i in range(j)])


def bloom_window_hits(
    wh: DataFrame, bits: DataFrame, m: int, j: int, id_col: str = "doc_id"
) -> DataFrame:
    """Docs with at least one k-gram window hitting the Bloom filter
    ``bits`` in all ``j`` positions — the decontamination verdict over
    a DISTINCT (id, window_hash) frame (dedup.window_hashes). Callers
    that reuse their window frame for another consumer (the exact-
    overlap witness) pass it here directly. Returns distinct (id_col)."""
    return (
        bloom_suppress(wh, bits, "window_hash", m=m, j=j, keep_hits=True)
        .select(id_col)
        .distinct()
    )


def bloom_window_gate(
    df: DataFrame,
    bits: DataFrame,
    m: int,
    j: int,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark DECONTAMINATION against a stored Bloom filter of the
    eval set's k-gram window hashes: drop every doc of ``df`` with a
    window hitting all ``j`` positions (:func:`bloom_window_hits`).
    No false negatives, so an exact-overlap doc never passes; the
    collateral is fp-bounded by the filter sizing. The filter
    broadcasts, the corpus is never shuffled. The one gate the corpus
    ``decontaminate`` step, the incremental pretrain flagship and the
    streaming corpus path share."""
    wh = window_hashes(df, k, text_col, id_col).distinct()
    hits = bloom_window_hits(wh, bits, m, j, id_col)
    return df.join(hits, id_col, "left_anti")


def sq_sketch_slices(
    df: DataFrame,
    slice_col: str,
    key_col: str,
    value_col: str,
    k: int = 512,
) -> DataFrame:
    """Per-slice SAMPLE-QUANTILE sketch — the quantile member of the
    stored deterministic-sketch family (theta: distinct, CM:
    frequency, Bloom: membership): one row per slice holding the k
    ROWS whose md5 row-key hashes are smallest, each as an (h, value)
    pair, plus the exact row count. Bottom-k by a uniform hash of a
    UNIQUE row key is a uniform random-but-DETERMINISTIC sample, so
    sample order statistics estimate population quantiles with rank
    error ~sqrt(p(1-p)/k) (Hoeffding) — and because the selection is
    md5-driven, the sketch AND every quantile read from it are
    bit-identical in any engine / run / partitioning: the oracle gate
    hash-compares the estimates themselves.

    Mergeable: pools from disjoint row sets merge by keeping the k
    smallest (h, value) pairs of the union — exactly the KMV
    discipline, so per-day pools answer "p99 over any ad-hoc range"
    without raw data (:func:`sq_union_range`). Exact mode when the
    slice has ≤ k rows (the pool IS the slice).

    Scale shape (theta_sketch_slices' prefilter, with the exact
    per-slice count as the hint): rows whose hash clears
    ``2^60·8k/n`` are dropped BEFORE the shuffle, so the per-slice
    top-k window sorts ~8k candidates at any slice size; the 8×
    margin makes losing a true bottom-k row a <2⁻ᵏ tail."""
    from pyspark.sql import Window

    from logprep_spark.functions.dedup import h60

    base = df.filter(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(slice_col),
        h60(F.concat(F.lit("sq:"), F.col(key_col).cast("string"))).alias(
            "_h"
        ),
        F.col(value_col).cast("double").alias("_v"),
    )
    hints = (
        base.groupBy(slice_col)
        .agg(F.count(F.lit(1)).alias("_n_rows"))
        .withColumn(
            "_cut",
            F.when(
                F.col("_n_rows") > 8 * k,
                (
                    F.lit(float(_H_MAX_LONG) * 8 * k) / F.col("_n_rows")
                ).cast("long"),
            ).otherwise(F.lit(_H_MAX_LONG)),
        )
    )
    cand = base.join(F.broadcast(hints), slice_col).filter(
        F.col("_h") < F.col("_cut")
    )
    win = Window.partitionBy(slice_col).orderBy("_h")
    ranked = cand.withColumn("_rn", F.row_number().over(win)).filter(
        F.col("_rn") <= k
    )
    return ranked.groupBy(slice_col).agg(
        F.first("_n_rows").alias("_n_rows"),
        F.count(F.lit(1)).alias("_n_kept"),
        F.sort_array(F.collect_list(F.struct("_h", "_v"))).alias("_pool"),
    )


def _sq_select(pool, n_kept, p_milli: int):
    """Nearest-rank selection from an (h, v) pool, fully integer:
    value at 1-based rank ceil(p·n) = (p_milli·n + 999) div 1000 in
    (value, h) order — total order, so ties select identically in
    any engine. NULL on an empty pool."""
    byv = F.sort_array(
        F.transform(
            pool, lambda x: F.struct(x["_v"].alias("_v"), x["_h"].alias("_h"))
        )
    )
    idx = F.greatest(
        (F.lit(p_milli) * n_kept + F.lit(999)) / F.lit(1000), F.lit(1)
    ).cast("long")
    return F.get(byv, (idx - 1).cast("int"))["_v"]


def sq_quantiles(
    sketch: DataFrame,
    slice_col: str,
    ps_milli: tuple = (500, 900, 990),
) -> DataFrame:
    """Per-slice quantile estimates read from stored
    :func:`sq_sketch_slices` rows — O(k log k) array arithmetic per
    slice, no raw data touched. Column ``q{p}`` per requested milli
    quantile."""
    return sketch.select(
        slice_col,
        F.col("_n_rows").alias("n_rows"),
        F.col("_n_kept").alias("n_kept"),
        *[
            _sq_select(F.col("_pool"), F.col("_n_kept"), p).alias(f"q{p}")
            for p in ps_milli
        ],
    )


def _sq_merge(sketch: DataFrame, slice_col: str, lo, hi, k: int):
    """Merge the pools of the slices in [lo, hi]: bottom-k (h, v)
    pairs of the union (the KMV merge — again a uniform deterministic
    sample of the range's rows). Returns two 1-row frames:
    (n_slices, n_rows) totals and the (n_kept, _pool) merged sample.
    The explode is ≤ slices·k rows and the merge is a TakeOrdered
    (per-partition heaps, no range shuffle)."""
    in_range = (F.col(slice_col) >= lo) & (F.col(slice_col) <= hi)
    sel = sketch.filter(in_range)
    totals = sel.agg(
        F.count(F.lit(1)).alias("n_slices"),
        F.coalesce(F.sum("_n_rows"), F.lit(0)).alias("n_rows"),
    )
    merged = (
        sel.select(F.explode("_pool").alias("_p"))
        .select(F.col("_p._h").alias("_h"), F.col("_p._v").alias("_v"))
        .orderBy("_h")
        .limit(k)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sort_array(F.collect_list(F.struct("_h", "_v"))).alias(
                "_pool"
            ),
        )
    )
    return totals, merged


def sq_union_range(
    sketch: DataFrame,
    slice_col: str,
    lo,
    hi,
    k: int = 256,
    ps_milli: tuple = (500, 900, 990),
) -> DataFrame:
    """Quantiles over an AD-HOC slice range from stored per-slice
    sample-quantile sketches — "p99 event value over ANY date range
    without raw data": pools of the selected slices merge by keeping
    the k smallest (h, value) pairs of the union (bottom-k of a union
    = bottom-k of the merged bottom-k's, the KMV merge), which is
    again a uniform deterministic sample of the range's rows.

    One row: n_slices, total rows, merged-pool size, and the
    selected quantiles. Scale: the explode is ≤ slices·k rows, the
    merge is a TakeOrdered (per-partition heaps, no range shuffle),
    the selection is one k-array sort."""
    totals, merged = _sq_merge(sketch, slice_col, lo, hi, k)
    return totals.crossJoin(F.broadcast(merged)).select(
        "n_slices",
        "n_rows",
        "n_kept",
        *[
            _sq_select(F.col("_pool"), F.col("n_kept"), p).alias(f"q{p}")
            for p in ps_milli
        ],
    )


def sq_stored_union_range(
    df: DataFrame,
    slice_col: str,
    key_col: str,
    value_col: str,
    lo,
    hi,
    k: int = 256,
    ps_milli: tuple = (500, 900, 990),
    store_path: str | None = None,
) -> DataFrame:
    """The quantile member's stored round trip — the SQ twin of
    :func:`theta_stored_union_range`: per-slice bottom-k pools over
    the WHOLE frame are built, WRITTEN to a parquet sketch store,
    READ BACK, and the ad-hoc [lo, hi] range quantiles are answered
    from the read-back store alone via :func:`sq_union_range` (KMV
    pool merge + nearest-rank selection — raw data never re-touched;
    the selection is deterministic so a lossy round trip of the
    (hash, double) pool structs could not hash-gate).
    `n_slices_stored` witnesses the store covers every slice. Scale:
    the store is O(slices·k) (h, v) pairs; the range predicate pushes
    into the store's parquet scan."""
    if store_path is None:
        raise ValueError("sq_stored_union_range requires store_path")
    sketch = sq_sketch_slices(df, slice_col, key_col, value_col, k)
    sketch.write.mode("overwrite").parquet(store_path)
    stored = df.sparkSession.read.parquet(store_path)
    n_stored = stored.agg(
        F.count(F.lit(1)).alias("n_slices_stored")
    )
    est = sq_union_range(stored, slice_col, lo, hi, k, ps_milli)
    return est.crossJoin(F.broadcast(n_stored)).select(
        "n_slices_stored",
        "n_slices",
        "n_rows",
        "n_kept",
        *[f"q{p}" for p in ps_milli],
    )


def sq_merge_late(
    df_a: DataFrame,
    df_b: DataFrame,
    slice_col: str,
    key_col: str,
    value_col: str,
    k: int = 64,
    ps_milli: tuple = (500, 900, 990),
) -> DataFrame:
    """SAME-SLICE late-data merge — the mergeability claim exercised
    where it actually bites (a late batch arrives for a day whose
    pool is already stored): per-slice pools built from each batch
    independently merge by keeping the k smallest (h, value) pairs of
    the union, and by KMV merge closure (bottom-k of a union =
    bottom-k of the merged bottom-k's — EXACT, not approximate) the
    merged pool is bit-identical to building from all data at once.
    The in-query ``merge_exact`` witness compares the merged pool
    against a from-scratch build per slice; the oracle replicates the
    FULL build, so the hash gate proves the merge path lands on it.
    Returns per-slice (slice, n_rows, n_kept, q{p}..., merge_exact).
    Scale: merging is an explode of ≤ 2k rows per slice + one
    per-slice window — the stored pools never re-touch raw data;
    only the witness rebuild does (the verification a production
    late-merge job omits)."""
    from pyspark.sql import Window

    sk_a = sq_sketch_slices(df_a, slice_col, key_col, value_col, k)
    sk_b = sq_sketch_slices(df_b, slice_col, key_col, value_col, k)
    both = sk_a.unionByName(sk_b)
    totals = both.groupBy(slice_col).agg(
        F.sum("_n_rows").alias("_n_rows")
    )
    # order by the FULL (hash, value) struct, not _p._h alone: if the
    # same key lands in both batches (or two keys collide at h60) the
    # hash-only order would tie-break nondeterministically and could
    # falsify the bit-identical merge_exact witness; struct order
    # matches the sort_array order the pools themselves use
    win = Window.partitionBy(slice_col).orderBy(F.col("_p"))
    pooled = (
        both.select(F.col(slice_col), F.explode("_pool").alias("_p"))
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .groupBy(slice_col)
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.sort_array(F.collect_list("_p")).alias("_pool"),
        )
    )
    merged = totals.join(pooled, slice_col)
    full = sq_sketch_slices(
        df_a.unionByName(df_b), slice_col, key_col, value_col, k
    ).select(
        F.col(slice_col),
        F.col("_n_rows").alias("_fn_rows"),
        F.col("_n_kept").alias("_fn_kept"),
        F.col("_pool").alias("_fpool"),
    )
    return (
        merged.join(full, slice_col)
        .select(
            F.col(slice_col),
            F.col("_n_rows").alias("n_rows"),
            F.col("_n_kept").alias("n_kept"),
            *[
                _sq_select(F.col("_pool"), F.col("_n_kept"), p).alias(
                    f"q{p}"
                )
                for p in ps_milli
            ],
            (
                (F.col("_pool") == F.col("_fpool"))
                & (F.col("_n_rows") == F.col("_fn_rows"))
                & (F.col("_n_kept") == F.col("_fn_kept"))
            ).alias("merge_exact"),
        )
    )


def sq_drift_psi(
    sketch: DataFrame,
    slice_col: str,
    base_lo,
    base_hi,
    cur_lo,
    cur_hi,
    k: int = 256,
    bins: int = 10,
) -> DataFrame:
    """Population-stability-index drift between TWO ad-hoc slice
    ranges computed entirely from stored sample-quantile pools — the
    monitoring query a 100 TB pipeline runs nightly WITHOUT touching
    raw data (the raw-data twin is analytics.drift_psi): equi-depth
    bin boundaries come from the baseline range's merged pool
    (nearest-rank selections at i/bins, the _sq_select rule), both
    ranges' bin shares come from their pools, and the per-bin PSI
    contribution uses the same add-1-smoothed micro-rounded formula
    as drift_psi_events. One row per bin: sample counts n_base/n_cur
    and psi_micro.

    Accuracy: shares are sample estimates with ±~1/√k absolute error
    per bin; the deterministic md5 pools make the OUTPUT bit-stable
    cross-engine (ln rounds at micro like the raw-data row).

    Scale: two bottom-k merges (TakeOrdered over ≤ slices·k rows)
    plus array arithmetic on two ≤k pools — the raw corpus is never
    read."""
    _, base = _sq_merge(sketch, slice_col, base_lo, base_hi, k)
    _, cur = _sq_merge(sketch, slice_col, cur_lo, cur_hi, k)
    bounds = F.array(
        *[
            _sq_select(F.col("_pool"), F.col("n_kept"), (1000 * i) // bins)
            for i in range(1, bins)
        ]
    )
    b = base.select(
        F.col("n_kept").alias("_nb"),
        F.expr("transform(_pool, p -> p._v)").alias("_bv"),
        bounds.alias("_bounds"),
    )
    c = cur.select(
        F.col("n_kept").alias("_nc"),
        F.expr("transform(_pool, p -> p._v)").alias("_cv"),
    )

    def bucket_counts(vals_col: str, out: str):
        # per-value bucket = #boundaries strictly below it (the same
        # `value > b` rule as drift_psi); counts per bin as an array
        return F.expr(
            f"""transform(sequence(0, {bins - 1}), i ->
                   size(filter({vals_col}, x ->
                       size(filter(_bounds, bd -> x > bd)) = i)))"""
        ).alias(out)

    joined = b.crossJoin(F.broadcast(c)).select(
        "_nb",
        "_nc",
        bucket_counts("_bv", "_cb"),
        bucket_counts("_cv", "_cc"),
    )
    per_bin = joined.select(
        "_nb",
        "_nc",
        F.posexplode(F.arrays_zip("_cb", "_cc")).alias("bucket", "_z"),
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("_z._cb").cast("long").alias("n_base"),
        F.col("_z._cc").cast("long").alias("n_cur"),
        "_nb",
        "_nc",
    )
    p = (F.col("n_cur") + 1) / (F.col("_nc") + bins)
    q = (F.col("n_base") + 1) / (F.col("_nb") + bins)
    return per_bin.select(
        "bucket",
        "n_base",
        "n_cur",
        F.round((p - q) * F.log(p / q) * 1e6)
        .cast("long")
        .alias("psi_micro"),
    )


def theta_retention_matrix(
    df: DataFrame,
    slice_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Cohort-retention matrix from stored per-slice theta sketches —
    the classic warehouse retention query ("of the users active in
    week c, what share was still active in week w?") answered by
    PAIRWISE sketch intersection instead of |slices|² raw self-joins:
    one row per ordered slice pair (a < b) with the estimated cohort
    size, estimated overlap, the derived retention in milli, and the
    exact witnesses + milli error the production run omits.

    Same math as :func:`theta_audience_overlap` applied to every
    pair: θ_ab = min(θ_a, θ_b), est = |{h ∈ S_a ∩ S_b : h < θ_ab}| ·
    2⁶⁰/θ_ab — relative error ~1/√k per cell at ANY overlap size, and
    md5-deterministic so the whole matrix hash-compares cross-engine.

    Scale: the sketch build is the one raw pass (prefilter-bounded);
    the matrix is a ≤|slices|²-row non-equi join over ≤k arrays —
    broadcast arithmetic, independent of data volume. At 1000 weekly
    slices that is ~500k cells of O(k) work, still no raw data."""
    sk_rows = theta_sketch_slices(df, slice_col, value_col, k)
    a = sk_rows.select(
        F.col(slice_col).alias("cohort"),
        F.col("_theta").alias("_ta"),
        F.col("_sample").alias("_sa"),
        F.col("_n_kept").alias("_na"),
    )
    b = sk_rows.select(
        F.col(slice_col).alias("week"),
        F.col("_theta").alias("_tb"),
        F.col("_sample").alias("_sb"),
        F.col("_n_kept").alias("_nb"),
    )

    def est_one(theta: str, n_kept: str) -> Column:
        return F.when(
            F.col(theta) == _H_MAX_LONG, F.col(n_kept).cast("double")
        ).otherwise(
            F.round(F.lit(float(k - 1)) * F.lit(_H_MAX) / F.col(theta), 2)
        )

    cells = (
        a.join(F.broadcast(b), F.col("cohort") < F.col("week"))
        .withColumn("_tab", F.least("_ta", "_tb"))
        .withColumn(
            "_n_int",
            F.size(
                F.filter(
                    F.array_intersect("_sa", "_sb"),
                    lambda x: x < F.col("_tab"),
                )
            ),
        )
        .select(
            "cohort",
            "week",
            est_one("_ta", "_na").alias("est_cohort"),
            F.round(
                F.col("_n_int") * F.lit(_H_MAX) / F.col("_tab"), 2
            ).alias("est_both"),
        )
    )
    du = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(slice_col).alias("_w"), F.col(value_col).alias("_v"))
        .distinct()
    )
    ex_c = du.groupBy(F.col("_w").alias("cohort")).agg(
        F.count(F.lit(1)).alias("exact_cohort")
    )
    ex_both = (
        du.select(F.col("_w").alias("cohort"), "_v")
        .join(du.select(F.col("_w").alias("week"), "_v"), "_v")
        .filter(F.col("cohort") < F.col("week"))
        .groupBy("cohort", "week")
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    est_ret = F.floor(
        F.lit(1000.0) * F.col("est_both")
        / F.greatest(F.col("est_cohort"), F.lit(1.0))
    ).cast("long")
    ex_ret = F.expr("1000 * exact_both div greatest(exact_cohort, 1)")
    return (
        cells.join(ex_c, "cohort")
        .join(ex_both, ["cohort", "week"], "left")
        .select(
            "cohort",
            "week",
            "est_cohort",
            "est_both",
            "exact_cohort",
            F.coalesce("exact_both", F.lit(0)).alias("exact_both"),
        )
        .select(
            "*",
            est_ret.alias("est_retention_milli"),
            ex_ret.alias("exact_retention_milli"),
            F.abs(est_ret - ex_ret).alias("err_milli"),
        )
    )
