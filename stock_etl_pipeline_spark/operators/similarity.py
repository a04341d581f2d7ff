"""Embedding similarity operators: exact blocked near-dup join and
LSH-bucketed approximate nearest neighbors.

Scale design (the 100 TB path — SURVEY.md §7 step 9):

- ``blocked_near_dup_pairs`` is EXACT all-pairs cosine ≥ τ, made sub-quadratic
  by grid blocking: on unit vectors, cos(u,v) ≥ τ ⟺ ‖u−v‖² ≤ 2(1−τ), so
  every coordinate differs by at most δ = √(2(1−τ)). Bucketing the leading
  coordinates on a grid of width ≥ δ means a qualifying pair is always in the
  same or adjacent cell per dim — the adjacent-cell equi-join has 100% recall
  BY CONSTRUCTION (no LSH probabilism), while pruning the quadratic candidate
  set to near-linear for spread-out embeddings. Vectors are normalized ONCE
  before the join (one narrow pass), so each surviving pair costs a single
  double dot product, not three cast-heavy ones.
- ``hyperplane_signature`` / ``ann_bucketed_topk`` is the approximate path:
  random-hyperplane signs (coefficients are fixed literals, seeded at module
  import) bucket the corpus; top-k search runs within each bucket only. The
  trade is recall for a shuffle-free-scan + per-bucket join; the same literal
  planes are baked into the SQL twin so an oracle can replay the construction.

All array math stays JVM-side (`zip_with`/`aggregate` higher-order functions
over ``array<double>``) — no Python in the hot path.
"""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# --- normalization ----------------------------------------------------------

_DOT_D = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

# ADC table lookup: {arr}[m][code_arr[m] + 1] (1-based positions) — shared by
# the IVF-PQ corpus-side (t_arr) and query-side (q_arr) scoring expressions.
_ADC_LOOKUP = "element_at(element_at({arr}, {m}), element_at(code_arr, {m}) + 1)"


def with_unit_vector(
    df: DataFrame, vec_col: str = "embedding", unit_col: str = "unit"
) -> DataFrame:
    """Append an L2-normalized ``array<double>`` copy of ``vec_col``.

    One narrow pass; downstream pair math then needs a single dot product per
    pair (cosine of units = dot of units).
    """
    as_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    norm = f"sqrt({_DOT_D.format(a=as_double, b=as_double)})"
    return df.withColumn(
        unit_col, F.expr(f"transform({as_double}, x -> x / {norm})")
    )


def unit_dot(a: str, b: str) -> F.Column:
    """Dot product of two unit-vector columns (≡ their cosine)."""
    return F.expr(_DOT_D.format(a=a, b=b))


# exact int64 fold — order-independent by exactness (see planes_to_int)
_IDOT_L = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
)

# Exact-integer contract ceiling: every product and partial sum in an
# integer dot must stay below 2^53 to be exactly representable in the
# float64 accumulations the DuckDB twins and Arrow GEMM kernels use.
_EXACT_LIMIT = 1 << 53

# The guards' own predicate (dim·mx·mx or dim·mx·pmax) is evaluated as the
# IEEE double product ((dim·mx)·mx) in EVERY backend — an int64 predicate
# silently wraps under default (non-ANSI) Spark for |v_int| ≳ 3e9, failing
# OPEN on exactly the inputs it exists to reject (ADVICE r8). Two double
# multiplications carry ≤ 2 ulp relative error, so the threshold is lowered
# by 4 = 2 ulp at 2^53: any true product ≥ 2^53 computes to at least
# 2^53·(1−2^−52) = 2^53−2 > threshold and is rejected; the only cost is
# conservatively rejecting boundary values in ~[2^53−8, 2^53), which the
# "< 2^53" contract never admitted as safely exact anyway. The identical
# op order in Spark SQL, DuckDB, and numpy keeps the reject set
# bit-identical across backends.
_GUARD_LIMIT = float(_EXACT_LIMIT - 4)
_SQL_GUARD_LIMIT = f"CAST({_EXACT_LIMIT - 4} AS DOUBLE)"


def _vvi_guarded(vint_col: str) -> str:
    """``vvi`` (exact integer squared norm) with the 2^53 contract guard.

    The Arrow kernels already raise when dim · max|v_int|² ≥ 2^53; without
    this twin the JVM int64 fold silently stays exact up to 2^63 while the
    DuckDB float64 oracle silently rounds — an asymmetric break of backend
    invariance (ADVICE r7). The per-row condition implies the kernels'
    per-batch one (the batch max IS some row's max), so all backends fail
    on the same inputs, loudly. The predicate itself is computed in DOUBLE
    (see ``_GUARD_LIMIT``) so it cannot wrap under non-ANSI int64
    arithmetic and fail open."""
    mx = f"array_max(transform({vint_col}, x -> abs(x)))"
    return (
        f"CASE WHEN CAST(size({vint_col}) AS DOUBLE) * {mx} * {mx} "
        f">= {_SQL_GUARD_LIMIT} "
        f"THEN CAST(raise_error('with_int_vector: dim * max|v_int|^2 "
        f"exceeds 2^53 - the exact integer-cosine contract breaks') AS BIGINT) "
        f"ELSE {_IDOT_L.format(a=vint_col, b=vint_col)} END"
    )


def micro_int_guard(vint_col: str, factor: int, ctx: str) -> str:
    """``vint_col`` guarded by dim · max|v_int| · factor < 2^53 — the JVM
    twin of the Arrow hyperplane kernel's per-batch guard (``factor`` is
    the plane set's max |p_int|). Raises USER_RAISED_EXCEPTION out of
    domain; the column unchanged inside it. DOUBLE predicate — see
    ``_GUARD_LIMIT``."""
    mx = f"array_max(transform({vint_col}, x -> abs(x)))"
    return (
        f"CASE WHEN CAST(size({vint_col}) AS DOUBLE) * {mx} * {factor}L "
        f">= {_SQL_GUARD_LIMIT} "
        f"THEN CAST(raise_error('{ctx}: dim * max|v_int| * max|p_int| "
        f"exceeds 2^53 - the exact integer contract breaks') "
        f"AS ARRAY<BIGINT>) ELSE {vint_col} END"
    )


def with_int_vector(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Append ``v_int`` (micro-unit int64 array) and ``vvi`` (its EXACT
    integer squared norm) — the integer-cosine scoring representation:

        cosine(a, b) = double(idot(aᵢ, bᵢ)) / (sqrt(double(vviₐ)) · sqrt(double(vvi_b)))

    Every term is an exact integer < 2^53 on this data (dim · max|v_int|²
    ≈ 2^44), so the dot is exact in ANY engine or fold order, and the
    ratio is a fixed sequence of IEEE ops on exact inputs — bit-identical
    everywhere. Same byte footprint as the unit-vector representation
    (one dim-length array + one scalar per row). Out-of-domain inputs
    (dim · max|v_int|² ≥ 2^53) raise via :func:`_vvi_guarded` — partial
    sums of any pairwise dot are bounded by √(vviₐ·vvi_b) (Cauchy–
    Schwarz), so in-domain rows keep every accumulation exact."""
    out = df.withColumn("v_int", F.expr(_as_micro_int(vec_col)))
    return out.withColumn("vvi", F.expr(_vvi_guarded("v_int")))


def int_cosine(a_int: str, a_vvi: str, b_int: str, b_vvi: str) -> F.Column:
    """The exact integer-ratio cosine of two :func:`with_int_vector` rows.

    Zero vectors (vvi = 0) yield SQL NULL in BOTH engines — guarded
    explicitly because the engines' native 0/0 disagree (Spark doubles
    give NaN, DuckDB gives NULL)."""
    return F.expr(
        f"CASE WHEN {a_vvi} = 0 OR {b_vvi} = 0 THEN NULL ELSE "
        f"CAST({_IDOT_L.format(a=a_int, b=b_int)} AS DOUBLE)"
        f" / (sqrt(CAST({a_vvi} AS DOUBLE)) * sqrt(CAST({b_vvi} AS DOUBLE)))"
        f" END"
    )


def sql_int_cosine(a_int: str, a_vvi: str, b_int: str, b_vvi: str) -> str:
    """DuckDB twin of :func:`int_cosine` (list_dot_product over BIGINT
    lists accumulates in float64 but every intermediate is an exact
    integer < 2^53 — the exact dot in any order). Same explicit
    zero-vector NULL guard as the Spark twin."""
    return (
        f"CASE WHEN {a_vvi} = 0 OR {b_vvi} = 0 THEN NULL ELSE "
        f"list_dot_product({a_int}, {b_int})"
        f" / (sqrt({a_vvi}) * sqrt({b_vvi})) END"
    )


def sql_with_int_vector(vec_col: str) -> tuple[str, str]:
    """(v_int_expr, vvi_expr) — the DuckDB twins of with_int_vector.

    Same 2^53 guard as the Spark side (``error()`` instead of
    ``raise_error()``): out-of-domain rows fail loudly in BOTH engines
    instead of the float64 accumulation silently rounding here."""
    v_int = (
        f"list_transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )
    mx = f"list_max(list_transform({v_int}, x -> abs(x)))"
    vvi = (
        f"CASE WHEN CAST(len({v_int}) AS DOUBLE) * {mx} * {mx} "
        f">= {_SQL_GUARD_LIMIT} "
        f"THEN CAST(error('with_int_vector: dim * max|v_int|^2 exceeds "
        f"2^53 - the exact integer-cosine contract breaks') AS DOUBLE) "
        f"ELSE list_dot_product({v_int}, {v_int}) END"
    )
    return v_int, vvi


# --- exact blocked near-dup -------------------------------------------------


def blocked_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_dims: int = 2,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, grid-blocked.

    Returns (vec_a, vec_b, cosine) with cosine the raw double (caller rounds).
    The left side is exploded to the 3^block_dims adjacent-cell keys; each
    qualifying unordered pair matches exactly once (the right side keeps its
    single home cell and ``vec_a < vec_b`` orients the pair).
    """
    delta = math.sqrt(2.0 * (1.0 - threshold))
    width = delta * 1.05  # grid width ≥ per-coordinate bound ⇒ adjacency exact
    u = with_unit_vector(df, vec_col).select(
        F.col(id_col), F.col("unit"),
        *[
            F.floor(F.expr(f"element_at(unit, {d + 1})") / F.lit(width))
            .cast("int").alias(f"cell{d}")
            for d in range(block_dims)
        ],
    )
    # Left: exploded to all 3^d neighbor-cell keys. Right: home cell only.
    offsets = [()]
    for _ in range(block_dims):
        offsets = [(*o, s) for o in offsets for s in (-1, 0, 1)]
    key = lambda cells: F.concat_ws(",", *[c.cast("string") for c in cells])  # noqa: E731
    left = u.select(
        F.col(id_col).alias("vec_a"),
        F.col("unit").alias("unit_a"),
        F.explode(
            F.array(
                *[
                    key([F.col(f"cell{d}") + F.lit(o[d]) for d in range(block_dims)])
                    for o in offsets
                ]
            )
        ).alias("cell_key"),
    )
    right = u.select(
        F.col(id_col).alias("vec_b"),
        F.col("unit").alias("unit_b"),
        key([F.col(f"cell{d}") for d in range(block_dims)]).alias("cell_key"),
    )
    cos = unit_dot("unit_a", "unit_b")
    return (
        left.join(right, "cell_key")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --- exact near-dup via distributed block matmul ----------------------------


def matmul_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, via distributed block GEMM.

    The corpus is split into ``n_blocks`` row blocks; every unordered block
    pair (i ≤ j) becomes one group, and a vectorized Arrow/numpy kernel
    computes the block-pair cosine matrix in one BLAS matmul — float64
    throughput instead of a per-pair interpreted fold. Replication factor is
    exactly ``n_blocks`` (each row joins B groups), so total shuffled bytes
    are B × corpus; pick B ≈ √(desired parallelism) so block pairs fill the
    cluster while each block still fits executor memory. This is the standard
    exact-kNN/GEMM sharding; at 100 TB it composes with the hyperplane-bucket
    prefilter below (bucket first, matmul within buckets).

    Cosines are the exact integer-ratio form (``with_int_vector``'s
    contract): the kernel micro-quantizes each block and computes the dot
    as a float64 GEMM whose every intermediate is an exact integer < 2^53
    (guarded) — bit-identical across engines, partitionings, and BLAS
    builds, and the shuffled payload is the raw float32 array (half the
    bytes of the unit-vector double array it replaced).

    Returns (vec_a, vec_b, cosine) with vec_a < vec_b, cosine float64.
    """
    import pandas as pd

    u = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        (F.col(id_col) % n_blocks).cast("int").alias("_bid"),
    )
    # Each row joins every unordered block pair containing its block.
    groups = F.array(
        *[
            F.struct(
                F.least(F.col("_bid"), F.lit(t)).alias("gi"),
                F.greatest(F.col("_bid"), F.lit(t)).alias("gj"),
            )
            for t in range(n_blocks)
        ]
    )
    replicated = u.select(
        "_id", "_vec", "_bid", F.explode(groups).alias("g")
    ).select("_id", "_vec", "_bid", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"))

    out_schema = "vec_a long, vec_b long, cosine double"

    # NOTE: deliberately un-annotated — applyInPandas infers eval type from
    # type hints when present, and a PARTIALLY annotated signature trips a
    # "Cannot infer the eval type" UserWarning on every run (the (key, pdf)
    # form is recognized positionally when no hints are given).
    def block_pair_cosines(key, pdf):
        import numpy as np

        gi, gj = key
        a = pdf[pdf["_bid"] == gi]
        b = pdf[pdf["_bid"] == gj] if gi != gj else a
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        def micro(m):
            # exact micro quantization; every GEMM intermediate below is
            # then an exactly-representable integer — see with_int_vector
            mi = np.floor(m.astype(np.float64) * 1e6 + 0.5)
            mx = int(np.abs(mi).max()) or 1
            if float(mi.shape[1]) * float(mx) * float(mx) >= _GUARD_LIMIT:
                raise ValueError(
                    "matmul near-dup: dim * max|v_int|^2 exceeds 2^53"
                )
            return mi

        ma = micro(np.stack(a["_vec"].to_numpy()))
        mb = micro(np.stack(b["_vec"].to_numpy())) if gi != gj else ma
        ids_a = a["_id"].to_numpy()
        ids_b = b["_id"].to_numpy()
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1)) if gi != gj else na
        cos = (ma @ mb.T) / np.outer(na, nb)
        ia, ib = np.nonzero(cos >= threshold)
        va, vb = ids_a[ia], ids_b[ib]
        keep = va != vb
        va, vb, c = va[keep], vb[keep], cos[ia, ib][keep]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        # same-block groups see each unordered pair twice (full matrix):
        # keep one orientation only.
        if gi == gj:
            keep2 = va < vb
            lo, hi, c = lo[keep2], hi[keep2], c[keep2]
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": c})

    return replicated.groupBy("gi", "gj").applyInPandas(block_pair_cosines, out_schema)


def bucketed_matmul_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_table: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    signature_backend: str | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: hyperplane-LSH buckets FIRST, exact GEMM
    within each bucket — the 100 TB composition `matmul_near_dup_pairs`'s
    docstring names, made concrete.

    Why: the exact block GEMM is O(n²) flops no matter how it is sharded.
    At near-dup similarity the per-plane agreement probability is
    p = 1 − θ/π ≈ 0.9 (cosine 0.95), so a b-bit table keeps a true pair
    with p^b (b=6: ≈ 0.53) and L OR-ed tables with 1 − (1 − p^b)^L
    (L=4: ≈ 0.95); background pairs (p ≈ 0.5) collide with p^b ≈ 0.016
    per table — the quadratic term collapses to Σ_bucket n_b² with
    2^b · L buckets. Replication factor is exactly L (each vector lives in
    ONE bucket per table), candidates dedup via `dropDuplicates` across
    tables, and each bucket group is one vectorized numpy matmul — the
    same Arrow kernel as the exact path. Precision is 1.0 by construction
    (every emitted cosine is exact and thresholded); only recall is
    approximate, tuned by (b, L) exactly like the ANN multi-table index.

    Skew note: a degenerate bucket (all-identical vectors) makes one big
    group; at scale cap bucket size by raising ``bits_per_table`` — each
    bit halves the expected bucket — or pre-split giant buckets with the
    block-GEMM sharding (compose both operators).

    Returns (vec_a, vec_b, cosine) with vec_a < vec_b, cosine float64.
    """
    import pandas as pd

    tables = [
        make_planes(dim, bits_per_table, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    base = df.select(id_col, vec_col)
    if _ann_sig_backend(signature_backend, bits_per_table * n_tables) == "arrow":
        sig = hyperplane_signatures_arrow(base, tables, vec_col=vec_col)
    else:
        pmax = (
            max(max(abs(c) for c in p) for t in tables for p in planes_to_int(t))
            or 1
        )
        sig = (
            base.withColumn("_vint", F.expr(_as_micro_int(vec_col)))
            .withColumn(
                "_vint",
                F.expr(micro_int_guard("_vint", pmax, "bucketed near-dup")),
            )
            .select(id_col, vec_col, *hyperplane_signature_cols(tables))
        )
    entries = F.array(
        *[
            F.struct(F.lit(t).alias("table_id"), F.col(f"_b{t}").alias("bucket"))
            for t in range(n_tables)
        ]
    )
    indexed = sig.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
        F.explode(entries).alias("e"),
    ).select("_id", "_vec", F.col("e.table_id").alias("table_id"), F.col("e.bucket").alias("bucket"))

    out_schema = "vec_a long, vec_b long, cosine double"

    # Un-annotated on purpose — see block_pair_cosines above.
    def bucket_cosines(key, pdf):
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        mi = np.floor(np.stack(pdf["_vec"].to_numpy()).astype(np.float64) * 1e6 + 0.5)
        mx = int(np.abs(mi).max()) or 1
        if float(mi.shape[1]) * float(mx) * float(mx) >= _GUARD_LIMIT:
            raise ValueError(
                "bucketed near-dup: dim * max|v_int|^2 exceeds 2^53"
            )
        ids = pdf["_id"].to_numpy()
        n = np.sqrt((mi * mi).sum(axis=1))
        cos = (mi @ mi.T) / np.outer(n, n)  # exact integer-ratio cosine
        ia, ib = np.nonzero(cos >= threshold)
        keep = ids[ia] < ids[ib]  # upper triangle once per unordered pair
        return pd.DataFrame(
            {"vec_a": ids[ia][keep], "vec_b": ids[ib][keep], "cosine": cos[ia, ib][keep]}
        )

    return (
        indexed.groupBy("table_id", "bucket")
        .applyInPandas(bucket_cosines, out_schema)
        # OR across tables: dedupe on the id pair only. The cosine is the
        # exact integer-ratio form — bit-identical no matter which table's
        # bucket matrix computed it — so the surviving copy is well-defined,
        # not merely last-ulp-stable.
        .dropDuplicates(["vec_a", "vec_b"])
    )


# --- IVF: inverted-file ANN over exact deterministic k-means ----------------

MICRO = 1_000_000.0


def _as_micro_int(vec_col: str) -> str:
    return (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {MICRO} + 0.5)"
        f" AS BIGINT))"
    )


def with_micro_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Append ``v_int`` (micro-unit int64 array — the exact representation),
    ``v_dbl`` (v_int / 1e6 — identical doubles in every engine), and ``vv``
    (squared norm)."""
    out = df.withColumn("v_int", F.expr(_as_micro_int(vec_col)))
    # NOTE: the divisor must be a DOUBLE literal ({MICRO}D): a bare float
    # literal in Spark SQL text parses as DECIMAL, and BIGINT/DECIMAL yields
    # DECIMAL(30,9) arrays whose decimal×decimal dot products overflow
    # precision 38 and get silently clamped to scale 6 — a 1e-6-level error
    # DuckDB (which divides to DOUBLE) does not replicate.
    out = out.withColumn("v_dbl", F.expr(f"transform(v_int, x -> x / {MICRO}D)"))
    return out.withColumn("vv", F.expr(_DOT_D.format(a="v_dbl", b="v_dbl")))


def kmeans_exact(
    vecs: DataFrame,
    *,
    k_clusters: int,
    iters: int,
    id_col: str = "vec_id",
    assign_backend: str = "jvm",
) -> DataFrame:
    """Fixed-iteration k-means whose every step is engine-portable exact:

    - inputs quantized to micro-unit int64 (``with_micro_vectors``);
    - centroid update sums int64 per dimension (order-independent exact) and
      divides once → identical centroid doubles everywhere;
    - assignment distance ‖v‖² + ‖c‖² − 2⟨v,c⟩ rounded to 1e-6 with centroid-id
      tiebreak → identical argmin everywhere.

    Initialization: the first ``k_clusters`` ids (deterministic). Iteration is
    a driver loop — assignment is a broadcast cross join (n×K rows, the
    standard IVF shape), update is one posexplode aggregate. Each iteration's
    centroids are MATERIALIZED (collected and recreated as a literal
    DataFrame): the model is O(K·dim) doubles by construction, and leaving it
    lazy would re-embed every prior iteration's full DAG into every consumer —
    the plan grows multiplicatively with iterations while the materialized
    form keeps each iteration one clean job (exactly how MLlib's KMeans
    returns its centers). Expects ``vecs`` to already carry v_int/v_dbl/vv.

    Returns centroids (cid, c_dbl, cc) as a materialized literal relation.
    """
    centroids = vecs.filter(F.col(id_col) < k_clusters).select(
        F.col(id_col).cast("int").alias("cid"),
        F.col("v_dbl").alias("c_dbl"),
        F.col("vv").alias("cc"),
    )
    # assign_backend="arrow" runs each Lloyd iteration as ONE shuffle-free
    # Arrow kernel job (assignment + per-partition int64 partial sums,
    # combined driver-side).
    if assign_backend == "arrow":
        return _kmeans_exact_arrow(
            vecs, k_clusters=k_clusters, iters=iters, id_col=id_col
        )
    # Round 14: the DEFAULT (oracle) backend is the Arrow iteration kernel
    # too — with the jvm-order dot fold (_np_dot_jvm_order) its assignment
    # arithmetic is BIT-IDENTICAL to the relational _DOT_D path, and its
    # partial-sum/update arithmetic was exact all along, so the last-ulp
    # caveat that kept it off the oracle path is gone (equality test-pinned
    # against the fused jvm path; driver-oracle green). One shuffle-free
    # job per Lloyd iteration instead of broadcast + two aggregate stages:
    # measured 0.66 s -> ~0.25 s per iteration at sf0.1, on each of the
    # three kmeans-bearing bench queries. Falls back to the fused jvm path
    # when the gemm dot arm is active (gemm keeps the ulp caveat) or under
    # SPARK_GRAFT_KMEANS_ARROW=0 (the A/B arm).
    if (
        _assign_dot_mode() == "fold"
        and os.environ.get("SPARK_GRAFT_KMEANS_ARROW", "1") != "0"
        and os.environ.get("SPARK_GRAFT_KMEANS_FUSE", "1") != "0"
    ):
        return _kmeans_exact_arrow(
            vecs, k_clusters=k_clusters, iters=iters, id_col=id_col
        )
    # Fused jvm path (round 8): one aggregate job per iteration,
    # bit-identical to the legacy loop below (equivalence test-pinned).
    # SPARK_GRAFT_KMEANS_FUSE=0 keeps the legacy loop as an A/B arm.
    if os.environ.get("SPARK_GRAFT_KMEANS_FUSE", "1") != "0":
        return _kmeans_exact_fused(
            vecs, k_clusters=k_clusters, iters=iters, id_col=id_col
        )
    for _ in range(iters):
        assigned = assign_to_centroids(vecs, centroids, id_col=id_col)
        # ONE consumer of the assignment join: the member count rides the
        # per-dim aggregate (count(*) per (cid, pos) equals the cell count
        # for every pos) — the separate counts aggregate used to recompute
        # the whole n×K assignment a second time per iteration (broadcast
        # joins leave no exchange for reuse to fire on).
        per_dim = (
            assigned.select("cid", F.posexplode("v_int").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
        dims = per_dim.select(
            "cid", "pos",
            (F.col("s").cast("double") / (F.lit(MICRO) * F.col("n"))).alias("dv"),
        )
        centroids = (
            dims.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "dv"))),
                    lambda s: s.dv,
                ).alias("c_dbl")
            )
            .withColumn("cc", F.expr(_DOT_D.format(a="c_dbl", b="c_dbl")))
        )
        centroids = _materialize_model(
            vecs.sparkSession, centroids, ["cid", "c_dbl", "cc"]
        )
    return centroids


def _kmeans_exact_fused(
    vecs: DataFrame,
    *,
    k_clusters: int,
    iters: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """kmeans_exact's fused jvm path (round 8): ONE aggregate job per Lloyd
    iteration — assignment and centroid update in the same plan.

    The legacy loop paid, per iteration: a broadcast cross join (n×K rows),
    a per-vector argmin shuffle, a posexplode per-(cid, pos) aggregate
    shuffle (n×dim rows), a collect_list re-assembly shuffle, and a
    materialize collect — at bench scale those fixed job/stage costs WERE
    the k-means wall (1.4–1.7 s of each of three tier-0 queries at sf0.1,
    on 2k rows). Here each iteration is:

    - the current model as a broadcast 1-row array of (cid, c_dbl, cc)
      structs (bounded — O(K·dim) doubles; local_frame's Arrow float64
      columns round-trip IEEE-exactly, the _materialize_model argument).
      Data, not plan literals, so every iteration reuses the same compiled
      plan;
    - per-row argmin as a narrow projection: ``array_min(transform(cents,
      c -> struct(dist, cid)))`` — the SAME ``_DOT_D`` fold, the same
      ``(vv + cc − 2·dot)`` operation order, the same 1e-6 floor quantize,
      and array_min's struct ordering is the same lexicographic (dist, cid)
      prefix comparison as the broadcast-join ``min(struct(...))`` — so the
      assignment is bit-identical to :func:`assign_to_centroids`;
    - ONE posexplode → groupBy(cid, pos) aggregate (map-side partial
      combine collapses the n×dim explode to ≤ partitions×K×dim rows
      before the single shuffle), collected at ≤ K×dim rows;
    - driver-side update with the jvm's own arithmetic: ``s / (1e6·n)`` per
      dim (same double cast / product / divide sequence) and the
      ``_py_dot`` norm fold (the ``_DOT_D`` IEEE order) — exactly how
      ``_kmeans_exact_arrow`` rebuilds, which test-pins to the legacy loop.

    Two measured dead ends (round 8), kept as comments because they look
    like improvements: (a) passing the model as PLAN LITERALS re-plans and
    re-codegens every iteration — the planning cost ate the whole shuffle
    saving; (b) replacing the posexplode with ``dim`` per-column
    ``sum(element_at(v_int, i))`` aggregates made the shuffle K rows
    instead of K×dim but cost ~0.85 s/iteration in query PLANNING (the
    65-aggregate plan) — the tier-0 floor is planner CPU, not rows.

    Empty cells drop (the legacy inner-aggregate behavior). Returns the
    same materialized literal relation shape as the legacy path.
    """
    spark = vecs.sparkSession
    init = (
        vecs.filter(F.col(id_col) < k_clusters)
        .select(F.col(id_col).cast("int").alias("cid"), "v_dbl", "vv")
        .collect()
    )
    cur = sorted(
        ((int(r["cid"]), list(r["v_dbl"]), float(r["vv"])) for r in init),
        key=lambda t: t[0],
    )
    schema = "cid int, c_dbl array<double>, cc double"
    if not cur:
        return local_frame(spark, [], schema)
    dim = len(cur[0][1])
    data = vecs.select("v_int", "v_dbl", "vv")
    cents_schema = (
        "cents array<struct<cid:int,c_dbl:array<double>,cc:double>>"
    )
    for _ in range(iters):
        # The model rides as broadcast DATA (a 1-row array relation), NOT
        # as plan literals: literal centroids change the plan every
        # iteration, defeating the analysis/codegen caches — measured
        # (round 8) the literal-tree variant recompiled per iteration and
        # lost its whole shuffle saving. As data, every iteration reuses
        # the same compiled plan. Python floats round-trip IEEE-exactly
        # through local_frame's float64 Arrow columns (the
        # _materialize_model argument).
        cents_df = local_frame(vecs.sparkSession, [(cur,)], cents_schema)

        def _dist(c):
            dot = F.aggregate(
                F.zip_with(F.col("v_dbl"), c["c_dbl"], lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            return (
                F.floor((F.col("vv") + c["cc"] - 2 * dot) * 1e6 + F.lit(0.5))
                / 1e6
            )

        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(_dist(c).alias("dist"), c["cid"].alias("cid")),
            )
        )
        assigned = data.crossJoin(F.broadcast(cents_df)).select(
            best["cid"].alias("cid"), "v_int"
        )
        # The assignment select is a BARRIER between the argmin HOF and the
        # generator on purpose: with both in one projection, Generate
        # re-evaluates the argmin once per exploded row — measured 64x the
        # assignment work (5.7 s/iteration instead of 0.65 at sf0.1).
        agg = (
            assigned.select("cid", F.posexplode("v_int").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in agg:
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        cur = []
        for cid in sorted(by_cid):
            d = by_cid[cid]
            n = d[0][1]
            c_dbl = [float(d[i][0]) / (MICRO * n) for i in range(dim)]
            cur.append((cid, c_dbl, _py_dot(c_dbl, c_dbl)))
    return local_frame(spark, cur, schema)


def _kmeans_exact_arrow(
    vecs: DataFrame,
    *,
    k_clusters: int,
    iters: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """kmeans_exact's Arrow backend: each Lloyd iteration is ONE shuffle-free
    ``mapInPandas`` job that fuses quantized-argmin assignment (BLAS, ties to
    lowest cid — the assign_to_centroids_arrow contract; two-level pruned at
    large K, see ``_assign_block``) with per-partition int64 partial sums per
    cell (sort + ``add.reduceat`` — exact, order-independent); the driver
    combines partials with an int64 scatter-add (exact — the same totals the
    jvm posexplode aggregate produces) and rebuilds centroids with the jvm's
    own update arithmetic (float(s) / (1e6·n) per dim, ``_DOT_D``-order norm
    fold). Replaces the jvm path's per-iteration shuffle +
    materialize-collect pair: at bench scale those fixed job costs are the
    whole k-means wall time.

    Round 14: with the default ``fold`` dot mode the assignment arithmetic
    is BIT-IDENTICAL to the jvm fold (see ``_np_dot_jvm_order``), so this
    kernel IS the oracle path now. The ``SPARK_GRAFT_ASSIGN_DOT=gemm`` arm
    restores BLAS dots and with them the old caveat (accumulation order
    can differ from the jvm fold by one ulp near a 0.5e-6 quantization
    boundary) — kmeans_exact routes the oracle default back to the fused
    jvm path whenever that arm is active.

    Returns centroids (cid, c_dbl, cc) as a literal relation, cells with no
    members dropped — the jvm inner-join behavior.
    """
    import numpy as np

    spark = vecs.sparkSession
    init = (
        vecs.filter(F.col(id_col) < k_clusters)
        .select(
            F.col(id_col).cast("int").alias("cid"),
            F.col("v_dbl").alias("c_dbl"),
            F.col("vv").alias("cc"),
        )
        .collect()
    )
    cur = sorted(
        ((int(r["cid"]), list(r["c_dbl"]), float(r["cc"])) for r in init),
        key=lambda t: t[0],
    )
    data = vecs.select("v_int", "v_dbl", "vv")
    for _ in range(iters):
        C = np.asarray([c for _, c, _ in cur], dtype=np.float64)
        cc = np.asarray([n for _, _, n in cur], dtype=np.float64)
        cids = np.asarray([cid for cid, _, _ in cur], dtype=np.int64)
        dim = C.shape[1]
        # rebuilt per iteration (centroids move) — O(K·√K·dim) driver flops
        hier = _hier_index(C) if _hier_backend(len(cids)) else None

        def partials(it):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v_dbl"].to_numpy())
                vv = pdf["vv"].to_numpy()
                _, j = _assign_block(V, vv, C, cc, hier)
                Vi = np.stack(pdf["v_int"].to_numpy()).astype(np.int64)
                # sort + reduceat: exact int64 per-cell sums, no Python loop
                # over cells (the old unique()-mask loop was O(cells·rows)
                # Python work — measured as part of the K4096 train bend)
                order = np.argsort(j, kind="stable")
                js = j[order]
                starts = np.r_[0, np.flatnonzero(np.diff(js)) + 1]
                sums = np.add.reduceat(Vi[order], starts, axis=0)
                counts = np.diff(np.r_[starts, len(js)])
                yield pd.DataFrame(
                    {
                        "cid": cids[js[starts]].astype("int32"),
                        "n": counts.astype("int64"),
                        "s": list(sums),
                    }
                )

        # Arrow collect + int64 scatter-add: the partial relation is
        # partitions×K rows of dim-length arrays — the old Python-int zip
        # combine was O(partitions·K·dim) interpreter work per iteration.
        # int64 adds are exact (batch partials bound far below 2^63), and
        # the update arithmetic below is unchanged: float(int64) / (1e6·n)
        # per dim + the _py_dot norm fold — bit-identical to the jvm path.
        pdf = data.mapInPandas(partials, "cid int, n long, s array<long>").toPandas()
        S_mat = np.zeros((len(cids), dim), dtype=np.int64)
        N_vec = np.zeros(len(cids), dtype=np.int64)
        if len(pdf):
            pos = np.searchsorted(cids, pdf["cid"].to_numpy().astype(np.int64))
            np.add.at(S_mat, pos, np.stack(pdf["s"].to_numpy()).astype(np.int64))
            np.add.at(N_vec, pos, pdf["n"].to_numpy().astype(np.int64))
        cur = []
        for p in range(len(cids)):
            n = int(N_vec[p])
            if n == 0:
                continue  # empty cells dropped — the jvm inner-join behavior
            c_dbl = [float(x) / (MICRO * n) for x in S_mat[p]]
            cur.append((int(cids[p]), c_dbl, _py_dot(c_dbl, c_dbl)))
    return local_frame(spark, cur, "cid int, c_dbl array<double>, cc double")


# --- two-level (hierarchical) coarse assignment — the large-K scale path ----
#
# The flat Arrow assignment kernel materializes a rows×K float64 distance
# block per batch; the round-8 K sweep at the 100x tier measured the
# train+encode assignment passes bending linearly in K with a large constant
# (K4096 ≈ 3-4x K1024 while pairs/CC stayed flat — SCALING.md round 8). A
# faiss-style two-level quantizer bounds that term: group the K centroids
# into ~√K super-cells (driver-side numpy k-means over the MODEL — O(K·√K)
# flops, rebuilt per Lloyd iteration for pennies), then per vector score the
# √K super-centroids and only open super-cells that pass a triangle-
# inequality bound. With per-super-cell radius R_s = max_{c∈s} ‖c − s‖:
#
#   d(v, c) ≥ d(v, s) − R_s            for every centroid c in super-cell s,
#   d_best  ≤ min_s (d(v, s) + R_s)    (some member of that cell is this close)
#
# so any super-cell with (max(0, d(v,s) − R_s))² > ub² + slack provably
# contains no centroid whose QUANTIZED distance can win the argmin — slack
# covers the 1e-6 floor quantization (a non-candidate would need true d²
# within 1e-6 of the best to tie after quantization) plus float rounding in
# the bounds. The candidate set therefore contains every possible winner and
# the pruned argmin equals the flat kernel's, modulo the same block-vs-full
# BLAS last-ulp caveat every Arrow kernel already documents vs the JVM fold
# (boundary coincidences at exact 0.5e-6 quantization edges).
#
# Assignment work drops from n×K to n×(√K + c·K/√K) where c is the mean
# number of opened super-cells (measured 1-3 on the embeddings corpus) — at
# the 10B-vector K≈14k point that is ~30x fewer distance evaluations, and
# the per-batch temp shrinks from rows×K to rows×√K + rows×candidate blocks.

_HIER_MIN_K = 512
_HIER_SLACK = 2e-6  # 1e-6 argmin quantization + conservative float margin


def _hier_backend(k_clusters: int) -> bool:
    """auto: two-level pruned assignment at/above _HIER_MIN_K cells, flat
    below (the flat kernel wins at small K — one GEMM beats bound math).
    SPARK_GRAFT_ASSIGN_HIER=1/0 forces either arm for A/B."""
    knob = os.environ.get("SPARK_GRAFT_ASSIGN_HIER", "")
    if knob == "1":
        return True
    if knob == "0":
        return False
    return k_clusters >= _HIER_MIN_K


def _hier_index(C, n_super: int | None = None, iters: int = 3):
    """Build the super-cell index over a cid-sorted centroid matrix: ~√K
    super-centroids (numpy Lloyd over the K model rows — determinism is NOT
    required here: any covering yields the identical pruned argmin, the
    structure only decides what gets pruned), member position lists, and
    conservatively inflated radii. Returns None when the model is too small
    to split.

    ``SPARK_GRAFT_HIER_SUPER`` overrides the ~√K super-cell count (an A/B
    knob for scripts/ab.py env arms — the bound proof is structure-
    independent, so ANY count yields the identical argmin; the count only
    moves the prune rate. The √K default was confirmed by a 3-point sweep
    at K=14336, SCALING.md round 9)."""
    import numpy as np

    K = C.shape[0]
    S_n = (
        n_super
        or int(os.environ.get("SPARK_GRAFT_HIER_SUPER", "0"))
        or max(2, int(round(K**0.5)))
    )
    if S_n >= K:
        return None
    cC = (C * C).sum(axis=1)
    S = C[:S_n].copy()
    for _ in range(iters):
        d2 = cC[:, None] + (S * S).sum(axis=1)[None, :] - 2.0 * (C @ S.T)
        a = d2.argmin(axis=1)
        for s in range(S_n):
            m = a == s
            if m.any():
                S[s] = C[m].mean(axis=0)
    d2 = cC[:, None] + (S * S).sum(axis=1)[None, :] - 2.0 * (C @ S.T)
    a = d2.argmin(axis=1)
    members = []
    keep_rows = []
    for s in range(S_n):
        m = np.flatnonzero(a == s)
        if len(m):
            members.append(m)
            keep_rows.append(s)
    S = S[keep_rows]
    d2 = np.maximum(
        cC[:, None] + (S * S).sum(axis=1)[None, :] - 2.0 * (C @ S.T), 0.0
    )
    radius = np.asarray(
        [
            float(np.sqrt(d2[m, i].max())) * (1.0 + 1e-9) + 1e-9
            for i, m in enumerate(members)
        ]
    )
    return S, (S * S).sum(axis=1), radius, members


def _assign_dot_mode() -> str:
    """``fold`` (default, round 14): dot products accumulate in the JVM
    fold's exact IEEE order — the Arrow assignment is then BIT-IDENTICAL
    to the relational ``_DOT_D`` path and loses the last-ulp caveat.
    ``SPARK_GRAFT_ASSIGN_DOT=gemm`` keeps the BLAS matmul as the A/B arm
    (same flop count, fewer memory passes, ulp-order caveat back)."""
    return os.environ.get("SPARK_GRAFT_ASSIGN_DOT", "fold")


def _np_dot_jvm_order(V, C):
    """rows×K dot-product block accumulated in the JVM fold's exact order:
    ``acc = ((0 + x0·y0) + x1·y1) + …`` — one vectorized rank-1 update per
    dimension, so every (row, centroid) pair performs the IDENTICAL
    sequence of IEEE-754 binary64 mul/add roundings as Catalyst's
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc + v)``
    (``_DOT_D``) and DuckDB's list fold. numpy ufuncs do not fuse
    multiply-add, matching the JVM's unfused double arithmetic. ~2-4× the
    memory traffic of one BLAS GEMM (the accumulator is written ``dim``
    times), bought back many times over by what bit-exactness enables:
    the shuffle-free Arrow iteration kernel on the oracle path."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i, None] * C[None, :, i]
    return acc


def _assign_block(V, vv, C, cc, hier):
    """Quantized-argmin nearest centroid for one Arrow batch. Returns
    (q, pos): the 1e-6-floor-quantized squared distance and the POSITION
    into the cid-sorted model, ties to the lowest position (= lowest cid —
    the JVM struct-min tiebreak). ``hier=None`` is the flat rows×K kernel;
    otherwise the triangle-inequality-pruned two-level path (see the block
    comment above) whose candidate set provably contains every quantized-
    argmin winner.

    With the default ``fold`` dot mode (``_assign_dot_mode``) the distance
    arithmetic — ``(vv + cc) − 2·dot`` with the JVM-order dot, then
    ``floor(d·1e6 + 0.5)/1e6`` — is the identical sequence of IEEE ops the
    relational path performs, so q and pos are bit-identical to the JVM
    argmin; the ``gemm`` arm keeps the documented last-ulp caveat."""
    import numpy as np

    dot = _np_dot_jvm_order if _assign_dot_mode() == "fold" else (
        lambda A, B: A @ B.T
    )
    if hier is None:
        d = vv[:, None] + cc[None, :] - 2.0 * dot(V, C)
        dq = np.floor(d * 1e6 + 0.5) / 1e6
        j = dq.argmin(axis=1)
        return dq[np.arange(len(j)), j], j
    S, ss, radius, members = hier
    # the PRUNING bounds only decide which blocks open (any covering set
    # yields the identical argmin) — plain BLAS stays correct here
    d2s = np.maximum(vv[:, None] + ss[None, :] - 2.0 * (V @ S.T), 0.0)
    ds = np.sqrt(d2s)
    ub = (ds + radius[None, :]).min(axis=1)
    lb = np.maximum(ds - radius[None, :], 0.0)
    # slack = argmin-quantization absolute term + a relative term so float
    # rounding in the bound arithmetic stays covered for large-magnitude
    # vectors (ulp of ub² scales with ub²; 1e-12 ≫ the ~1e-15 per-op error)
    ub2 = ub * ub
    cand = (lb * lb) <= (ub2 + _HIER_SLACK + 1e-12 * ub2)[:, None]
    n = len(V)
    best_q = np.full(n, np.inf)
    best_pos = np.full(n, C.shape[0], dtype=np.int64)
    for i, mem in enumerate(members):
        rows = np.flatnonzero(cand[:, i])
        if not len(rows):
            continue
        d = vv[rows, None] + cc[mem][None, :] - 2.0 * dot(V[rows], C[mem])
        dq = np.floor(d * 1e6 + 0.5) / 1e6
        j = dq.argmin(axis=1)
        q = dq[np.arange(len(rows)), j]
        pos = mem[j]  # members ascend, argmin keeps first → lowest cid in block
        cq = best_q[rows]
        cp = best_pos[rows]
        upd = (q < cq) | ((q == cq) & (pos < cp))
        r = rows[upd]
        best_q[r] = q[upd]
        best_pos[r] = pos[upd]
    return best_q, best_pos


def _materialize_model(spark, df: DataFrame, cols: list[str]) -> DataFrame:
    """Collect a BOUNDED model relation (centroids / codebooks — O(K·dim)
    doubles by construction) and recreate it as a literal DataFrame, cutting
    the training DAG out of every downstream plan. It lands through
    :func:`local_frame` as an Arrow ``LocalRelation`` (no Python worker per
    reading job); Python floats and Arrow float64 are both IEEE doubles,
    so the round-trip is bit-exact."""
    rows = df.select(*cols).collect()
    return local_frame(
        spark,
        [tuple(r[c] for c in cols) for r in rows], df.select(*cols).schema
    )


def assign_to_centroids_local(
    vecs: DataFrame,
    centroids: DataFrame,
    *,
    emit_dist: bool = False,
) -> DataFrame:
    """Row-local nearest-centroid assignment for BOUNDED centroid models
    (round 7): the materialized centroids collect driver-side (O(K·dim)
    doubles — the model contract) and become per-row literal expressions,
    so assignment is a NARROW projection: no broadcast cross join
    materializing n×K rows, no argmin aggregation shuffle, and n·K fold
    work runs inside the row's own stage.

    Bit-identical to :func:`assign_to_centroids` (nprobe=1) by
    construction: the same ``_DOT_D`` fold against the same centroid
    doubles (``F.lit`` round-trips IEEE-exactly, like _materialize_model),
    the same 1e-6 floor quantization, and ``array_min``'s struct ordering
    is the same lexicographic (dist, cid) prefix comparison as the
    ``min(struct(...))`` argmin — pinned by
    tests/test_ann_recall.py::test_local_assignment_matches_join.

    Appends ``cid`` (and ``cdist`` when ``emit_dist``) to ``vecs``
    unchanged. The JVM-exact sibling of assign_to_centroids_arrow.

    Measured and NOT defaulted (round 7): on this host the K×dim literal
    expression trees cost more in codegen than the argmin shuffle they
    remove — semantic_dedup 4.2 → 6.1 s min, ivf_topk 1.69 → 1.99 s min
    at sf0.1 (the same codegen-blowup economics that rejected the flat
    plane-dot projection in round 6). Kept because the trade reverses
    where shuffle is expensive relative to codegen (real clusters amortize
    codegen once per executor, while the argmin shuffle pays per row) —
    callers there can opt in; the join argmin stays the default.
    """
    rows = sorted(
        (
            (int(r["cid"]), [float(x) for x in r["c_dbl"]], float(r["cc"]))
            for r in centroids.select("cid", "c_dbl", "cc").collect()
        ),
        key=lambda t: t[0],
    )
    entries = []
    for cid, c_dbl, cc in rows:
        carr = F.array(*[F.lit(x) for x in c_dbl])
        dot = F.aggregate(
            F.zip_with(F.col("v_dbl"), carr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dist = F.floor(
            (F.col("vv") + F.lit(cc) - 2 * dot) * 1e6 + F.lit(0.5)
        ) / 1e6
        entries.append(F.struct(dist.alias("dist"), F.lit(cid).alias("cid")))
    m = F.array_min(F.array(*entries))
    out = vecs.withColumn("cid", m["cid"])
    if emit_dist:
        out = out.withColumn("cdist", m["dist"])
    return out


def assign_to_centroids(
    vecs: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """Nearest (or nprobe-nearest) centroid per vector from a broadcast
    cross join on the quantized distance.

    nprobe == 1 (the hot path: every k-means iteration + corpus encoding)
    is a hash-aggregate argmin — ``min(struct(dist, cid, payload…))`` with
    map-side partial aggregation. (dist, cid) is a unique prefix, so the
    struct ordering never reaches the payload fields and the argmin is
    deterministic; payload fields ride along instead of being re-joined.
    This replaces a windowed row_number, whose sort shuffled the full n×K
    scored relation (measured: k-means 8.3 s → hash-agg path ~halves it).
    nprobe > 1 (query-side probing, a small relation) keeps the window.
    """
    vc = F.expr(_DOT_D.format(a="v_dbl", b="c_dbl"))
    dist = F.floor((F.col("vv") + F.col("cc") - 2 * vc) * 1e6 + F.lit(0.5)) / 1e6
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn("dist", dist)
    payload = [c for c in vecs.columns if c != id_col]
    if nprobe == 1:
        m = F.min(F.struct("dist", "cid", *payload)).alias("m")
        agg = scored.groupBy(id_col).agg(m)
        return agg.select(
            id_col,
            F.col("m.cid").alias("cid"),
            *[F.col(f"m.{c}").alias(c) for c in payload],
        )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(), F.col("cid").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .drop("__r", "c_dbl", "cc", "dist")
    )


def assign_to_centroids_arrow(
    vecs: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment — the fast path for the
    a·n·K JVM-row term that dominates large-K compositions (semantic dedup
    measured the k=100 assignment cross join as its 100x bottleneck, and
    the cost ORDERING inverted with K: k50 < k100 < k200 end-to-end).

    One ``mapInPandas`` pass: centroids collect to a K×d numpy matrix (a
    bounded MODEL relation by construction), each Arrow batch computes
    ‖v‖² + ‖c‖² − 2·V@Cᵀ in float64 BLAS, floor-quantizes to 1e-6 — the
    same quantization as the JVM path — and argmins with ties to the
    LOWEST cid (centroid columns sorted by cid; np.argmin keeps the first
    occurrence), matching the JVM struct-min tiebreak. The narrow
    assignment never shuffles.

    vs the JVM path: bit-identical under the default ``fold`` dot mode
    (round 14, ``_np_dot_jvm_order`` — the same IEEE op sequence as the
    ``_DOT_D`` fold); the ``SPARK_GRAFT_ASSIGN_DOT=gemm`` A/B arm restores
    BLAS accumulation and with it the last-ulp quantization-boundary
    caveat. Returns (id_col, cid, cdist)
    followed by EVERY non-id input column unchanged (the jvm path's
    payload-passthrough contract, plus cdist), so the backends swap
    without changing a caller's downstream schema. Perf-sensitive callers
    should pre-select the columns they need — every payload column rides
    the Arrow transfer.
    """
    import numpy as np

    missing = [c for c in ("v_dbl", "vv") if c not in vecs.columns]
    if missing:
        raise ValueError(
            f"assign_to_centroids_arrow requires {missing} (see with_micro_vectors)"
        )
    model = sorted(
        centroids.select("cid", "c_dbl", "cc").collect(), key=lambda r: r["cid"]
    )
    C = np.stack([np.asarray(r["c_dbl"], dtype=np.float64) for r in model])
    cc = np.array([r["cc"] for r in model], dtype=np.float64)
    cids = np.array([r["cid"] for r in model], dtype=np.int64)
    # large-K: prune with the two-level super-cell index (same argmin, see
    # _assign_block) instead of materializing the rows×K distance block
    hier = _hier_index(C) if _hier_backend(len(cids)) else None

    dtypes = dict(vecs.dtypes)
    payload = [c for c in vecs.columns if c != id_col]

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf["v_dbl"].to_numpy())
            vv = pdf["vv"].to_numpy()
            q, j = _assign_block(V, vv, C, cc, hier)
            out = {
                id_col: pdf[id_col],
                "cid": cids[j].astype("int32"),
                "cdist": q,
            }
            for c in payload:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"{id_col} {dtypes[id_col]}, cid int, cdist double" + "".join(
        f", {c} {dtypes[c]}" for c in payload
    )
    return vecs.mapInPandas(batches, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rank_digits: int = 4,
    assign_backend: str = "jvm",
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer → corpus assigned to ONE cell each →
    queries probe their ``nprobe`` nearest cells → exact cosine top-k within
    probed cells.

    The 100 TB shape: centroids are tiny and broadcast; the corpus shuffles
    once on cell id to build the inverted file; a query touches nprobe/K of
    the data. Unlike sign-LSH, cells adapt to the data distribution —
    the right tool when neighbor similarity is moderate (see
    tests/test_ann_recall.py for the measured comparison).

    ``assign_backend="arrow"`` routes the k-means iterations AND the corpus
    encoding through the Arrow/BLAS assignment kernel — the large-K scale
    path (the a·n·K JVM-row term measured as the semantic-dedup 100x
    bottleneck applies identically to a large-K IVF build); the jvm default
    stays oracle-exact. Query probing keeps the JVM window path (the query
    relation is small by contract).
    """
    from pyspark.sql import Window

    # vvi rides beside the assignment columns: cell/probe distances stay on
    # the quantized-double contract (centroid rationals have per-cell
    # denominators — no common integer scale), but the neighbor SCORING
    # cosine is vector-vector and runs the exact integer-ratio contract
    # like every other pairwise cosine (round 7). k-means trains on the
    # vvi-FREE relation — cu is lazy, so a vvi column would re-fold on
    # every Lloyd materialization while only the final scoring reads it.
    # The corpus micro-vector relation IS a diamond here (k-means
    # iterations + init collect, the cell assignment, the returned scoring
    # plan), but pipeline-caching it was measured a LOSS at bench scale
    # (round 14 A/B, 7 interleaved reps: cache 1.81 s vs uncached 1.68 s
    # median on embedding_ivf_topk, wash on ivf_pq): the upstream is one
    # scan + HOF quantize of a small corpus, cheaper to recompute than to
    # persist-and-rescan — unlike semantic_dedup, whose cached relation
    # heads a pair stage that re-reads it per cell. Revisit only with a
    # tier gate if a SCALING-tier A/B shows the recompute dominating.
    cu0 = with_micro_vectors(corpus, vec_col)
    cu = cu0.withColumn("vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int")))
    qu = with_micro_vectors(queries, vec_col).withColumn(
        "vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int"))
    )
    centroids = kmeans_exact(
        cu0, k_clusters=k_clusters, iters=iters, id_col=id_col,
        assign_backend=assign_backend,
    )
    c_assign = (
        assign_to_centroids_arrow(
            cu.select(id_col, "v_dbl", "vv", "v_int", "vvi"),
            centroids, id_col=id_col,
        )
        if assign_backend == "arrow"
        else assign_to_centroids(cu, centroids, id_col=id_col)
    )
    c_cells = c_assign.select(
        F.col(id_col).alias("neighbor_id"), "cid",
        F.col("v_int").alias("n_int"), F.col("vvi").alias("n_vvi"),
    )
    q_cells = assign_to_centroids(qu, centroids, id_col=query_id_col, nprobe=nprobe).select(
        query_id_col, "cid", F.col("v_int").alias("q_int"), F.col("vvi").alias("q_vvi")
    )
    scale = float(10**rank_digits)
    qcos = F.floor(
        int_cosine("q_int", "q_vvi", "n_int", "n_vvi") * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    scored = (
        q_cells.join(c_cells, "cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", qcos.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --- IVF at rest: the inverted file realized as parquet layout ---------------
# ivf_topk builds its inverted file per query batch — correct when the corpus
# is already loaded, wasteful when the same corpus serves many ANN sessions.
# At 100 TB the embedding table lives in object storage; the scale move is to
# PERSIST the IVF structure as data layout: assign once, range-write by cell
# id (each parquet file = a contiguous cell range, footer min/max exact on
# cell_id), save the tiny centroid model as a sidecar. Every later query then
# assigns itself to nprobe cells against the sidecar (KBs) and scans ONLY the
# probed cells' row groups — ordinary parquet predicate pushdown does the
# index lookup; no index service, no re-train, nprobe/K of the table read.
# (The same layout doctrine as sinks.zorder_write, specialized to the
# IVF key; Faiss's IVF on-disk lists re-expressed as lakehouse layout.)


def ivf_clustered_write(
    corpus: DataFrame,
    path: str,
    *,
    k_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int | None = None,
    assign_backend: str = "jvm",
    centroids: DataFrame | None = None,
    record_stats: bool = False,
) -> dict:
    """Train the exact k-means coarse quantizer, assign every corpus vector
    its cell, and write the corpus parquet range-partitioned + sorted on
    ``cell_id`` with the centroid model in a ``<path>_model`` sidecar.
    Original columns round-trip unchanged (float32 embeddings re-derive
    bit-identical micro-int vectors on read), so ``ivf_probed_topk`` over
    the layout is BIT-EQUAL to ``ivf_topk`` at the same geometry — pinned
    in tests/test_zorder.py. Pass ``centroids`` (cid, c_dbl, cc) to skip
    training and lay out under an existing model — the one-shot twin of
    write + ``ivf_append`` chains."""
    cu0 = with_micro_vectors(corpus, vec_col)
    if centroids is None:
        centroids = kmeans_exact(
            cu0, k_clusters=k_clusters, iters=iters, id_col=id_col,
            assign_backend=assign_backend,
        )
    assigned = (
        assign_to_centroids_arrow(cu0, centroids, id_col=id_col)
        if assign_backend == "arrow"
        else assign_to_centroids(cu0, centroids, id_col=id_col)
    )
    out = assigned.select(*corpus.columns, F.col("cid").alias("cell_id"))
    n = n_files if n_files is not None else corpus.rdd.getNumPartitions()
    (
        out.repartitionByRange(max(1, n), "cell_id")
        .sortWithinPartitions("cell_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    # the model is O(K·dim) doubles by construction — one file
    centroids.coalesce(1).write.mode("overwrite").parquet(path + "_model")
    if record_stats:
        _ivf_record_stats(
            corpus.sparkSession, path, assigned, centroids, seq=0
        )
    return {
        "rows_loaded": corpus.count(),
        "destination": path,
        "mode": "overwrite",
        "k_clusters": k_clusters,
        "model_path": path + "_model",
    }


def _ivf_record_stats(spark, path: str, assigned, centroids, seq: int | None):
    """Append one quantization-distortion row to ``<path>_stats``: mean
    squared distance of the batch's vectors to their ASSIGNED centroid
    plus the top-cell occupancy fraction — ONE job (a per-cell count +
    d2-sum aggregate, ≤K rows to the driver; the broadcast cid join adds
    no shuffle, and both statistics derive from the same K rows).
    ``seq=0`` marks the build-time BASELINE row; appends pass None and
    are recorded as non-baseline even on a sidecar-less index, so
    ivf_index_health never mistakes a (possibly already-drifted) append
    for the build distortion."""
    dist = F.expr(_DOT_D.format(a="v_dbl", b="c_dbl"))
    cells = (
        assigned.join(F.broadcast(centroids), "cid")
        .select(
            F.col("cid"),
            (F.col("vv") + F.col("cc") - 2 * dist).alias("d2"),
        )
        .groupBy("cid")
        .agg(F.count("*").alias("n"), F.sum("d2").alias("sd2"))
        .collect()
    )
    n = sum(int(r["n"]) for r in cells)
    mean_d2 = (
        sum(float(r["sd2"]) for r in cells) / n if n else 0.0
    )
    top = max((int(r["n"]) for r in cells), default=0)
    is_baseline = seq == 0
    if seq is None:
        # strictly-increasing append ordinal; never 0 (reserved for a
        # real build baseline — on a sidecar-less index health reports
        # the missing baseline instead of adopting a drifted append)
        try:
            seq = spark.read.parquet(path + "_stats").count() + 1
        except Exception:
            seq = 1
    local_frame(
        spark,
        [(
            int(seq), bool(is_baseline), int(n), float(mean_d2),
            float(top) / max(1, n),
        )],
        "seq long, is_baseline boolean, n_vecs long, mean_d2 double, "
        "top_cell_frac double",
    ).coalesce(1).write.mode(
        "overwrite" if is_baseline else "append"
    ).parquet(path + "_stats")


def ivf_index_health(
    spark: SparkSession, path: str, *, dist_threshold: float = 1.5
) -> dict:
    """Evaluate the IVF model-drift retrain trigger from the ``_stats``
    sidecar written by ``ivf_clustered_write(record_stats=True)`` /
    ``ivf_append(record_stats=True)``.

    The coarse quantizer is FROZEN at build: appends assign against it,
    which keeps append == one-shot-write exact (the layout contract), but
    a shifted ingest distribution lands far from every frozen centroid —
    quantization distortion (mean squared distance to the assigned
    centroid) rises, cells fatten unevenly, and probed-recall decays
    because true neighbors scatter across more cells than nprobe reads.
    Distortion is the free statistic: the append's assignment already
    built (vector, cell) — one broadcast join re-derives the distance.

    Calibration (test-pinned): on CLUSTERED data, same-distribution
    appends hold mean_d2 within ~1.1x of the build baseline while an
    unseen cluster reads several-x — ``dist_threshold`` defaults between
    the two at 1.5x. Measured caveat: on ISOTROPIC vectors (the synthetic
    embeddings table — random directions, centroids near the origin,
    d2 ≈ ‖v‖² in every direction) even an antipodal shift reads ~1.02x.
    That is a property of the data, not a blind spot: with no cluster
    structure there is no "wrong cell" for a vector to land in, and
    probed recall is equally shift-invariant — distortion moves exactly
    when the structure IVF exploits exists to drift. A NORM shift (scale
    change in the embedding pipeline, e.g. a model swap that stops
    normalizing) moves mean_d2 directly and is caught regardless.
    ``retrain_recommended`` → rerun ``ivf_clustered_write`` WITHOUT
    ``centroids`` (fresh Lloyd) — the periodic compaction rewrite is the
    natural moment."""
    try:
        rows = sorted(
            spark.read.parquet(path + "_stats").collect(),
            key=lambda r: r["seq"],
        )
    except Exception:
        return {"stats_rows": 0, "retrain_recommended": False,
                "reason": "no _stats sidecar (record_stats never enabled)"}
    base = next((r for r in rows if r["is_baseline"]), None)
    if base is None:
        return {"stats_rows": len(rows), "retrain_recommended": False,
                "reason": "no build baseline recorded — rerun "
                          "ivf_clustered_write(record_stats=True); append "
                          "rows alone cannot anchor the ratio (the first "
                          "append may itself be drifted)"}
    appends = [r for r in rows if not r["is_baseline"]]
    if not appends:
        return {"stats_rows": len(rows), "retrain_recommended": False,
                "reason": "baseline only — need >=1 recorded append"}
    cur = appends[-1]
    ratio = cur["mean_d2"] / max(base["mean_d2"], 1e-12)
    return {
        "stats_rows": len(rows),
        "baseline_mean_d2": round(base["mean_d2"], 6),
        "current_mean_d2": round(cur["mean_d2"], 6),
        "ratio": round(ratio, 3),
        "dist_threshold": dist_threshold,
        "current_top_cell_frac": round(cur["top_cell_frac"], 4),
        "retrain_recommended": ratio > dist_threshold,
    }


def ivf_append(
    spark: SparkSession,
    path: str,
    new_vecs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int | None = None,
    assign_backend: str = "jvm",
    record_stats: bool = False,
) -> dict:
    """Ingest an embedding increment into an existing IVF layout: assign the
    new vectors against the FROZEN sidecar model (same quantized-distance
    contract as the original write — the cells are a property of the model,
    so appended files carry exactly the cell ids a one-shot write under
    that model would) and append them range-clustered on cell_id.
    ``ivf_probed_topk`` sees the increment immediately; per-file cell
    ranges stay tight (the increment is range-written too), so pruning
    degrades only with file COUNT until a periodic rewrite
    (``ivf_clustered_write(..., centroids=model)``) compacts the layout.
    Pinned: append == one-shot write under the same model, row for row."""
    centroids = _materialize_model(
        spark, spark.read.parquet(path + "_model"), ["cid", "c_dbl", "cc"]
    )
    cu0 = with_micro_vectors(new_vecs, vec_col)
    assigned = (
        assign_to_centroids_arrow(cu0, centroids, id_col=id_col)
        if assign_backend == "arrow"
        else assign_to_centroids(cu0, centroids, id_col=id_col)
    )
    out = assigned.select(*new_vecs.columns, F.col("cid").alias("cell_id"))
    n = n_files if n_files is not None else new_vecs.rdd.getNumPartitions()
    (
        out.repartitionByRange(max(1, n), "cell_id")
        .sortWithinPartitions("cell_id")
        .write.mode("append")
        .parquet(path)
    )
    if record_stats:
        _ivf_record_stats(spark, path, assigned, centroids, seq=None)
    return {"rows_loaded": new_vecs.count(), "destination": path, "mode": "append"}


def ivf_probed_read(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Probe the layout: assign ``queries`` to their nprobe nearest cells
    against the sidecar model (the same JVM quantized-distance contract as
    every other assignment), then return the corpus scan filtered to the
    probed cells — the IN-list reaches the parquet scan, so row groups
    outside the probed cells are never read.

    Returns ``(probed_corpus, q_cells)`` — the filtered scan and the
    (query, cell) probe relation the caller joins on. The probe-cid collect
    is bounded by |queries|·nprobe (the query relation is small by the same
    contract as ivf_topk's window)."""
    centroids = spark.read.parquet(path + "_model")
    qu = with_micro_vectors(queries, vec_col).withColumn(
        "vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int"))
    )
    q_cells = assign_to_centroids(
        qu, centroids, id_col=query_id_col, nprobe=nprobe
    ).select(
        query_id_col, "cid",
        F.col("v_int").alias("q_int"), F.col("vvi").alias("q_vvi"),
    )
    probe_cids = sorted({r["cid"] for r in q_cells.select("cid").distinct().collect()})
    probed = spark.read.parquet(path).filter(F.col("cell_id").isin(probe_cids))
    return probed, q_cells


def ivf_probed_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rank_digits: int = 4,
) -> DataFrame:
    """ANN top-k over the persisted IVF layout: probed scan → exact
    integer-ratio cosine within probed cells → per-query top-k. Same
    scoring contract (and therefore the same rows) as ``ivf_topk`` with the
    layout's geometry — the difference is WHAT GETS READ: nprobe/K of the
    table instead of all of it, with no per-session re-train/re-assign."""
    from pyspark.sql import Window

    probed, q_cells = ivf_probed_read(
        spark, path, queries,
        nprobe=nprobe, query_id_col=query_id_col, vec_col=vec_col,
    )
    cu = with_micro_vectors(probed, vec_col).withColumn(
        "vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int"))
    )
    c_cells = cu.select(
        F.col(id_col).alias("neighbor_id"), F.col("cell_id").alias("cid"),
        F.col("v_int").alias("n_int"), F.col("vvi").alias("n_vvi"),
    )
    scale = float(10**rank_digits)
    qcos = F.floor(
        int_cosine("q_int", "q_vvi", "n_int", "n_vvi") * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    scored = (
        q_cells.join(c_cells, "cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", qcos.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --- IVF-PQ: product-quantized residuals over the IVF cells ------------------


def _py_dot(a, b) -> float:
    """Pure-Python left-to-right dot product — the exact IEEE operation
    sequence of the ``_DOT_D`` fold (aggregate over zip_with, acc starts at
    0.0), so driver-side model math is bit-identical to the JVM expression.
    Bounded-model use only (K·dim / M·codes·dsub flops)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_q6(x: float) -> float:
    """floor(x * 1e6 + 0.5) / 1e6 exactly as the JVM expression evaluates it
    (double multiply, double add, floor to integral, double divide)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def _pq_driver_models(
    cu: DataFrame,
    centroids: DataFrame,
    *,
    n_subspaces: int,
    dsub: int,
    n_codes: int,
    id_col: str,
):
    """Driver-resident coarse model + init codebook shared by the PQ
    training paths (arrow kernels, fused jvm). Every output is bounded by
    construction — O(K·dim) centroid doubles and O(codes·dim) init
    residuals — and every double replays the JVM expressions' exact IEEE
    sequence (``_py_dot`` = the ``_DOT_D`` fold order; quantize/tiebreak =
    ``assign_to_centroids``'s).

    Returns (cids, c_dbl, cc, c_int, cq_dbl, cqq, coarse_py, cb) where
    ``coarse_py(v_dbl, vv) -> cell index`` and ``cb[m]`` is the sorted
    (code_id, w_dbl, ww) init codebook of subspace ``m``.
    """
    # Bounded models: centroids were just materialized as a literal
    # relation, so this collect scans a LocalRelation (no recompute).
    cent = sorted(centroids.collect(), key=lambda r: r["cid"])
    cids = [int(r["cid"]) for r in cent]
    c_dbl = [list(r["c_dbl"]) for r in cent]
    cc = [float(r["cc"]) for r in cent]
    # Re-quantized centroids (the jvm cq relation, driver-side, exact).
    c_int = [[int(math.floor(x * MICRO + 0.5)) for x in row] for row in c_dbl]
    cq_dbl = [[x / MICRO for x in row] for row in c_int]
    cqq = [_py_dot(row, row) for row in cq_dbl]

    def coarse_py(v_dbl, vv):
        """Driver-side coarse assignment replaying assign_to_centroids'
        quantized distance + lowest-cid tiebreak exactly (pure Python)."""
        best, best_i = None, None
        for i in range(len(cids)):
            d = _py_q6(vv + cc[i] - 2 * _py_dot(v_dbl, c_dbl[i]))
            if best is None or d < best:
                best, best_i = d, i
        return best_i

    # Codebook init = residual sub-vectors of the first n_codes ids (the jvm
    # subs.filter(id < n_codes) relation) — one bounded scan job.
    init_rows = (
        cu.filter(F.col(id_col) < n_codes)
        .select(id_col, "v_int", "v_dbl", "vv")
        .collect()
    )
    # cb: per sub_id, sorted (code_id, w_dbl, ww) lists.
    cb: list[list[tuple[int, list[float], float]]] = [[] for _ in range(n_subspaces)]
    for r in sorted(init_rows, key=lambda r: r[id_col]):
        i = coarse_py(list(r["v_dbl"]), float(r["vv"]))
        r_int = [v - c for v, c in zip(r["v_int"], c_int[i])]
        for m in range(n_subspaces):
            w = [x / MICRO for x in r_int[m * dsub : (m + 1) * dsub]]
            cb[m].append((int(r[id_col]), w, _py_dot(w, w)))
    return cids, c_dbl, cc, c_int, cq_dbl, cqq, coarse_py, cb


def _pq_qwt(spark, qu: DataFrame, cb, *, n_subspaces: int, dsub: int, query_id_col: str) -> DataFrame:
    """Bounded query-side ADC table (the jvm qwt relation), built on the
    driver with the exact ``_DOT_D`` fold: q_arr[m][c] = ⟨q_m, w_{m,c}⟩."""
    q_rows = qu.select(query_id_col, "v_dbl").collect()
    qwt_data = [
        (
            r[query_id_col],
            [
                [
                    _py_dot(list(r["v_dbl"])[m * dsub : (m + 1) * dsub], w)
                    for _, w, _ in cb[m]
                ]
                for m in range(n_subspaces)
            ],
        )
        for r in q_rows
    ]
    qid_type = dict(qu.dtypes)[query_id_col]
    return local_frame(
        spark,
        qwt_data, f"{query_id_col} {qid_type}, q_arr array<array<double>>"
    )


def _pq_train_encode_arrow(
    spark,
    cu: DataFrame,
    qu: DataFrame,
    centroids: DataFrame,
    *,
    dim: int,
    n_subspaces: int,
    dsub: int,
    n_codes: int,
    pq_iters: int,
    id_col: str,
    query_id_col: str,
):
    """Arrow/driver-side PQ training + corpus encoding — the large-scale
    build path for ``ivf_pq_topk`` (assign_backend="arrow").

    The JVM training chain is correct but pays ~6 sequential driver-blocking
    shuffle jobs on BOUNDED model relations (codebook init, each Lloyd step,
    the cwt/qwt ADC tables) — at bench scale those fixed costs ARE the query
    (measured: 5.3 s of 7.3 s at sf0.1). This path exploits the same fact
    the models' materialization already relies on: every model is O(K·dim)
    or O(M·codes·dsub) doubles BY CONSTRUCTION, so their math can run on the
    driver in pure Python using the exact ``_DOT_D`` fold order
    (bit-identical doubles), while the two data-sized passes —
    Lloyd-partials and final encoding — each run as ONE shuffle-free
    ``mapInPandas`` kernel over the corpus:

    - training: the kernel fuses coarse assignment (quantized argmin, ties
      to lowest cid — same contract as ``assign_to_centroids_arrow``),
      exact int64 residuals, per-subspace code argmin, and per-batch int64
      partial sums; the driver combines partials with Python ints (exact,
      order-independent) and rebuilds the codebook with the JVM's own
      update arithmetic (s / (1e6 · n) per dimension).
    - encoding: the same kernel shape emits (neighbor_id, cid, code_arr,
      aa) directly — the ADC norm ``aa`` is accumulated left-to-right from
      driver-built lookup tables, the same operation order as the JVM
      ``aa_expr`` — so the groupBy/collect_list encode relation and the
      cwt broadcast join disappear entirely.

    BLAS dot-product accumulation order inside the kernels differs from the
    JVM fold, so a distance within one ulp of a 0.5e-6 quantization
    boundary can round differently — the standard Arrow-kernel caveat; the
    JVM path remains the oracle-exact one and pins this path in
    tests/test_ann_recall.py.

    Returns (cq_sel, qwt, enc): the three relations the shared ADC scoring
    tail consumes.
    """
    import numpy as np

    cids, c_dbl, cc, c_int, cq_dbl, cqq, _coarse_py, cb = _pq_driver_models(
        cu, centroids, n_subspaces=n_subspaces, dsub=dsub,
        n_codes=n_codes, id_col=id_col,
    )

    C_np = np.asarray(c_dbl, dtype=np.float64)
    cc_np = np.asarray(cc, dtype=np.float64)
    cint_np = np.asarray(c_int, dtype=np.int64)
    cids_np = np.asarray(cids, dtype=np.int64)

    def _cb_np(cb):
        """Dense per-sub numpy views of the ragged codebook."""
        out = []
        for m in range(n_subspaces):
            codes = np.asarray([c for c, _, _ in cb[m]], dtype=np.int64)
            W = np.asarray([w for _, w, _ in cb[m]], dtype=np.float64)
            ww = np.asarray([n for _, _, n in cb[m]], dtype=np.float64)
            out.append((codes, W, ww))
        return out

    def _kernel_parts(pdf, cbn):
        """Shared per-batch math: coarse cells, int residuals, PQ codes.
        Returns (j cell-index, R int residuals (n,dim), code_idx (n,M))."""
        V = np.stack(pdf["v_dbl"].to_numpy())
        vv = pdf["vv"].to_numpy()
        d = vv[:, None] + cc_np[None, :] - 2.0 * (V @ C_np.T)
        j = (np.floor(d * 1e6 + 0.5) / 1e6).argmin(axis=1)
        Vi = np.stack(pdf["v_int"].to_numpy()).astype(np.int64)
        R = Vi - cint_np[j]
        Rd = (R / MICRO).reshape(len(R), n_subspaces, dsub)
        code_idx = np.empty((len(R), n_subspaces), dtype=np.int64)
        for m in range(n_subspaces):
            _, W, ww = cbn[m]
            rm = Rd[:, m, :]
            rr = np.einsum("nd,nd->n", rm, rm)
            dist = rr[:, None] + ww[None, :] - 2.0 * (rm @ W.T)
            dq = np.floor(dist * 1e6 + 0.5) / 1e6
            code_idx[:, m] = dq.argmin(axis=1)  # first min = lowest code_id
        return j, R, code_idx

    for _ in range(pq_iters):
        cbn = _cb_np(cb)

        def partials(it):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                _, R, code_idx = _kernel_parts(pdf, cbn)
                Rs = R.reshape(len(R), n_subspaces, dsub)
                rows = []
                for m in range(n_subspaces):
                    codes_m = cbn[m][0]
                    for ci in range(len(codes_m)):
                        mask = code_idx[:, m] == ci
                        n = int(mask.sum())
                        if n:
                            s = Rs[mask, m, :].sum(axis=0)
                            rows.append(
                                (m, int(codes_m[ci]), n, [int(x) for x in s])
                            )
                yield pd.DataFrame(
                    rows, columns=["sub_id", "code_id", "n", "s"]
                )

        # ONE data-sized job per Lloyd step: per-partition int64 partials
        # collect to the driver (≤ partitions × M × codes rows) and combine
        # with Python ints — exact and order-independent, the same totals
        # the jvm posexplode aggregate produces.
        acc: dict[tuple[int, int], tuple[int, list[int]]] = {}
        part_rows = cu.select("v_int", "v_dbl", "vv").mapInPandas(
            partials, "sub_id int, code_id int, n long, s array<long>"
        ).collect()
        for r in part_rows:
            key = (r["sub_id"], r["code_id"])
            n0, s0 = acc.get(key, (0, [0] * dsub))
            acc[key] = (n0 + r["n"], [a + b for a, b in zip(s0, r["s"])])
        new_cb: list[list[tuple[int, list[float], float]]] = [
            [] for _ in range(n_subspaces)
        ]
        for (m, code), (n, s) in sorted(acc.items()):
            # The jvm update: dv = CAST(s AS DOUBLE) / (1e6 * n) per dim;
            # codes with no assigned vectors drop out (the jvm inner join
            # drops them the same way).
            w = [float(x) / (MICRO * n) for x in s]
            new_cb[m].append((code, w, _py_dot(w, w)))
        cb = new_cb

    # Driver-built ADC tables (the jvm cwt/qwt relations):
    #   t[i][m][c] = 2⟨cq_m, w_{m,c}⟩ + ww   and   aa = cqq + Σ_m t[...]
    # accumulated left-to-right in the kernel, matching aa_expr's order.
    cbn = _cb_np(cb)
    T = [
        np.asarray(
            [
                [
                    2 * _py_dot(cq_dbl[i][m * dsub : (m + 1) * dsub], w) + ww
                    for _, w, ww in cb[m]
                ]
                for i in range(len(cids))
            ],
            dtype=np.float64,
        )
        for m in range(n_subspaces)
    ]
    cqq_np = np.asarray(cqq, dtype=np.float64)

    id_type = dict(cu.dtypes)[id_col]

    def encode(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            j, _, code_idx = _kernel_parts(pdf, cbn)
            aa = cqq_np[j].copy()
            codes_out = np.empty((len(j), n_subspaces), dtype=np.int32)
            for m in range(n_subspaces):
                aa = aa + T[m][j, code_idx[:, m]]
                codes_out[:, m] = cbn[m][0][code_idx[:, m]]
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "cid": cids_np[j].astype("int32"),
                    "code_arr": list(codes_out),
                    "aa": aa,
                }
            )

    enc = cu.select(id_col, "v_int", "v_dbl", "vv").mapInPandas(
        encode, f"neighbor_id {id_type}, cid int, code_arr array<int>, aa double"
    )

    qwt = _pq_qwt(
        spark, qu, cb, n_subspaces=n_subspaces, dsub=dsub,
        query_id_col=query_id_col,
    )
    cq_sel = local_frame(
        spark,
        list(zip(cids, cq_dbl)), "cid int, cq_dbl array<double>"
    )
    return cq_sel, qwt, enc


def _pq_train_encode_fused_jvm(
    spark,
    cu0: DataFrame,
    qu: DataFrame,
    centroids: DataFrame,
    *,
    dim: int,
    n_subspaces: int,
    dsub: int,
    n_codes: int,
    pq_iters: int,
    id_col: str,
    query_id_col: str,
):
    """Fused JVM PQ training + encoding (round 10) — the legacy chain's
    exact arithmetic with the fixed-cost orchestration removed.

    The legacy jvm chain pays, at tier 0, a driver-blocking materialize
    per model relation plus the per-(vector,subspace) ``subs`` persist and
    its argmin/aggregate/join shuffles — ~16 s of pure orchestration at
    sf0.001 (VERDICT r9 item 2) on KB-sized models. This path extends the
    ``_kmeans_exact_fused`` pattern across the PQ subspaces:

    - the whole model (centroids incl. re-quantized ints + ALL subspace
      codebooks) rides as ONE broadcast data row — bounded at
      O(K·dim + M·codes·dsub) doubles by construction;
    - per Lloyd iteration, ONE aggregate job: coarse argmin as a narrow
      ``array_min`` projection (the pattern pinned bit-identical to
      ``assign_to_centroids``), exact int64 residuals, per-subspace code
      argmin in the same stage, then a single
      posexplode → groupBy(sub, code, pos) aggregate whose map-side
      combine collapses the n×dim explode before its one shuffle,
      collected at ≤ M·codes·dsub rows and combined with Python ints;
    - encoding = the SAME narrow projection emitting (id, cid, code_arr)
      plus one broadcast join against the driver-built ``cwt`` literal for
      ``aa`` (the legacy ``aa_expr`` string, verbatim) — the n×M ``subs``
      relation, its persist fill, and the collect_list re-assembly all
      disappear; the corpus is scanned shuffle-free.

    At 100 TB the corpus is touched exactly ``pq_iters`` + 1 times with no
    data-sized shuffle; every model stays driver-resident KBs.

    Bit-exactness vs the legacy chain (pinned by
    tests/test_ann_recall.py::test_pq_fused_matches_legacy_chain): the
    coarse distance replays ``(vv + cc − 2·_DOT_D)`` with the 1e-6 floor
    quantize and (dist, cid) tiebreak; residuals are the same int64
    ``zip_with`` subtraction; code distance replays ``_assign_codes``'s
    ``(rr + ww − 2·wv)`` quantize with (dist, code_id) tiebreak; the
    driver codebook update is ``s / (1e6·n)`` per dimension (the jvm cast/
    multiply/divide sequence) with the ``_py_dot`` (= ``_DOT_D``) norm
    fold; cwt/qwt tables are single IEEE ops on exact inputs, the same
    operation order as the legacy ``tv``/``qv`` expressions. Unlike the
    arrow path there is NO BLAS accumulation anywhere — this path stays
    oracle-exact, same as the legacy chain it replaces.

    Returns (cq_sel, qwt, enc) for the shared ADC tail.
    """
    cids, c_dbl, cc, c_int, cq_dbl, cqq, _coarse, cb = _pq_driver_models(
        cu0, centroids, n_subspaces=n_subspaces, dsub=dsub,
        n_codes=n_codes, id_col=id_col,
    )

    model_schema = (
        "cents array<struct<cid:int,c_dbl:array<double>,cc:double,"
        "c_int:array<bigint>>>, "
        "books array<array<struct<code_id:int,w_dbl:array<double>,ww:double>>>"
    )
    cents_data = list(zip(cids, c_dbl, cc, c_int))

    def _model_df(cb_cur):
        # Model as broadcast DATA (one row), not plan literals: every
        # iteration and the encode pass reuse the same compiled plan
        # (the _kmeans_exact_fused argument; local_frame round-trips
        # doubles IEEE-exactly).
        return local_frame(spark, [(cents_data, cb_cur)], model_schema)

    def _coded(df: DataFrame, cb_cur, keep: list[str]) -> DataFrame:
        """Narrow coarse-assign + residual + per-subspace code argmin over
        the broadcast model; emits keep + (cid, code_0..code_{M-1}) and
        r_int. Each step is its own projection so the argmin HOFs are
        never inlined into a consumer that would re-evaluate them
        (the round-8 Generate-reevaluation hazard)."""

        def _dist(c):
            dot = F.aggregate(
                F.zip_with(F.col("v_dbl"), c["c_dbl"], lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            return (
                F.floor((F.col("vv") + c["cc"] - 2 * dot) * 1e6 + F.lit(0.5))
                / 1e6
            )

        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    _dist(c).alias("dist"),
                    c["cid"].alias("cid"),
                    c["c_int"].alias("c_int"),
                ),
            )
        )
        step = df.crossJoin(F.broadcast(_model_df(cb_cur))).select(
            *keep, "v_int", "books", best.alias("b")
        )
        step = step.select(
            *keep,
            F.col("b.cid").alias("cid"),
            F.zip_with("v_int", F.col("b.c_int"), lambda x, y: x - y).alias(
                "r_int"
            ),
            "books",
        )
        # Per-subspace residual doubles + their norms, hoisted into named
        # columns so the code-argmin folds below reference them instead of
        # re-deriving per codeword.
        for m in range(n_subspaces):
            step = step.withColumn(
                f"rs_{m}",
                F.transform(
                    F.slice("r_int", m * dsub + 1, dsub),
                    lambda x: x / F.lit(MICRO),
                ),
            )
        for m in range(n_subspaces):
            step = step.withColumn(
                f"rr_{m}",
                F.aggregate(
                    F.zip_with(
                        F.col(f"rs_{m}"), F.col(f"rs_{m}"), lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )

        def _code_sel(m):
            def _qd(w):
                wv = F.aggregate(
                    F.zip_with(
                        F.col(f"rs_{m}"), w["w_dbl"], lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                return (
                    F.floor(
                        (F.col(f"rr_{m}") + w["ww"] - 2 * wv) * 1e6
                        + F.lit(0.5)
                    )
                    / 1e6
                )

            return F.array_min(
                F.transform(
                    F.element_at("books", m + 1),
                    lambda w: F.struct(
                        _qd(w).alias("dist"), w["code_id"].alias("code_id")
                    ),
                )
            )["code_id"]

        return step.select(
            *keep,
            "cid",
            "r_int",
            *[_code_sel(m).alias(f"code_{m}") for m in range(n_subspaces)],
        )

    data = cu0.select("v_int", "v_dbl", "vv")
    for _ in range(pq_iters):
        coded = _coded(data, cb, keep=[])
        # ONE shuffle: the n×dim posexplode is map-side combined down to
        # ≤ partitions × M×codes×dsub rows before it, and the collect is
        # the bounded M×codes×dsub aggregate.
        agg = (
            coded.select(
                F.array(
                    *[F.col(f"code_{m}") for m in range(n_subspaces)]
                ).alias("codes_arr"),
                F.posexplode("r_int").alias("pos", "val"),
            )
            .select(
                F.expr(f"pos DIV {dsub}").alias("sub_id"),
                F.element_at(
                    "codes_arr", (F.expr(f"pos DIV {dsub}") + 1).cast("int")
                ).alias("code_id"),
                F.expr(f"pos % {dsub}").alias("pos_m"),
                "val",
            )
            .groupBy("sub_id", "code_id", "pos_m")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in agg:
            by.setdefault((int(r["sub_id"]), int(r["code_id"])), {})[
                int(r["pos_m"])
            ] = (int(r["s"]), int(r["n"]))
        new_cb: list[list[tuple[int, list[float], float]]] = [
            [] for _ in range(n_subspaces)
        ]
        for (m, code), d in sorted(by.items()):
            # The jvm update: dv = CAST(s AS DOUBLE) / (1e6 · n) per dim;
            # codes with no assigned vectors drop out (the jvm inner join
            # drops them the same way).
            n = d[0][1]
            w = [float(d[i][0]) / (MICRO * n) for i in range(dsub)]
            new_cb[m].append((code, w, _py_dot(w, w)))
        cb = new_cb

    # Driver-built ADC tables (the legacy cwt relation, as a literal):
    # t_arr[m][c] = 2⟨cq_m, w_{m,c}⟩ + ww — single IEEE ops on exact
    # inputs, the legacy tv expression's operation order.
    cwt = local_frame(
        spark,
        [
            (
                cid,
                cqq[i],
                [
                    [
                        2 * _py_dot(cq_dbl[i][m * dsub : (m + 1) * dsub], w)
                        + ww
                        for _, w, ww in cb[m]
                    ]
                    for m in range(n_subspaces)
                ],
            )
            for i, cid in enumerate(cids)
        ],
        "cid int, cqq double, t_arr array<array<double>>",
    )

    # Encoded corpus: the same narrow projection + one broadcast join for
    # aa (the legacy aa_expr string, verbatim — left-to-right fixed order).
    aa_expr = "cqq" + "".join(
        " + " + _ADC_LOOKUP.format(arr="t_arr", m=m + 1)
        for m in range(n_subspaces)
    )
    enc = (
        _coded(cu0.select(id_col, "v_int", "v_dbl", "vv"), cb, keep=[id_col])
        .select(
            F.col(id_col).alias("neighbor_id"),
            "cid",
            F.array(
                *[F.col(f"code_{m}") for m in range(n_subspaces)]
            ).alias("code_arr"),
        )
        .join(F.broadcast(cwt), "cid")
        .select("neighbor_id", "cid", "code_arr", F.expr(aa_expr).alias("aa"))
    )

    qwt = _pq_qwt(
        spark, qu, cb, n_subspaces=n_subspaces, dsub=dsub,
        query_id_col=query_id_col,
    )
    cq_sel = local_frame(
        spark,
        list(zip(cids, cq_dbl)), "cid int, cq_dbl array<double>"
    )
    return cq_sel, qwt, enc


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int = 64,
    k_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    pq_iters: int = 1,
    k: int = 10,
    shortlist_factor: int = 3,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rank_digits: int = 4,
    assign_backend: str = "jvm",
) -> DataFrame:
    """IVF-PQ ANN: the IVF coarse quantizer plus a product-quantization
    residual codebook, with an exact re-rank of the PQ shortlist.
    ``assign_backend="arrow"`` routes the coarse k-means and corpus cell
    assignment through the Arrow/BLAS kernel (see ivf_topk) — the large-K
    build path; jvm stays oracle-exact.

    Pipeline (every step exact + engine-portable, so the full construction
    carries a DuckDB oracle despite being an iterative compressed index):

    1. k-means coarse cells (``kmeans_exact``), centroids RE-QUANTIZED to the
       micro-int grid so residuals are exact int64 subtractions.
    2. Residuals split into ``n_subspaces`` sub-vectors; ONE subspace-keyed
       codebook DataFrame holds all subspaces (codebook training is a single
       Spark job over (sub_id, code_id), not a per-subspace driver loop).
       Init = residual sub-vectors of the first ``n_codes`` ids; ``pq_iters``
       Lloyd steps with int64 centroid sums (order-independent).
    3. Corpus vectors are ENCODED as (cid, code_0..code_m): storage per vector
       drops from dim×4 bytes to ~M log₂(codes) bits + the cell id — the PQ
       promise; at 100 TB the index fits where raw vectors do not.
    4. Queries probe ``nprobe`` cells; candidates scored by ADC (asymmetric
       distance computation): per-query and per-cell code→dot lookup tables
       replace any per-candidate vector math — n_subspaces lookups + adds
       per candidate instead of a dim-length fold, no raw-vector access.
    5. The top ``shortlist_factor × k`` by approximate cosine are re-ranked
       with the exact cosine against the raw vectors (the standard PQ
       shortlist+rerank), emitting both scores.

    Returns (query_id, neighbor_id, approx_cosine, cosine, rnk).
    """
    from pyspark.sql import Window

    assert dim % n_subspaces == 0, "dim must split evenly into subspaces"
    dsub = dim // n_subspaces

    # vvi: exact integer squared norm for the shortlist re-rank's
    # integer-ratio cosine (see ivf_topk; ADC approx scoring stays on the
    # fixed-order double expressions — it is centroid/codebook math).
    # k-means and the residual/codebook chain train on the vvi-FREE
    # relation; only the re-rank's raw relation and the query side fold it.
    # The corpus micro-vector diamond is deliberately NOT pipeline-cached
    # here either — same round-14 A/B evidence as ivf_topk (cache wash on
    # this query, loss on ivf_topk at bench scale).
    cu0 = with_micro_vectors(corpus, vec_col)
    cu = cu0.withColumn("vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int")))
    qu = with_micro_vectors(queries, vec_col).withColumn(
        "vvi", F.expr(_IDOT_L.format(a="v_int", b="v_int"))
    )
    centroids = kmeans_exact(
        cu0, k_clusters=k_clusters, iters=iters, id_col=id_col,
        assign_backend=assign_backend,
    )
    from ..caching import begin_pipeline, lazy_cache

    begin_pipeline()
    tail_kw = dict(
        n_subspaces=n_subspaces, nprobe=nprobe, k=k,
        shortlist_factor=shortlist_factor, rank_digits=rank_digits,
        id_col=id_col, query_id_col=query_id_col,
    )
    if assign_backend == "arrow":
        cq_sel, qwt, enc = _pq_train_encode_arrow(
            corpus.sparkSession, cu0, qu, centroids,
            dim=dim, n_subspaces=n_subspaces, dsub=dsub, n_codes=n_codes,
            pq_iters=pq_iters, id_col=id_col, query_id_col=query_id_col,
        )
        return _pq_adc_tail(cu, qu, centroids, cq_sel, qwt, enc, **tail_kw)
    # Fused jvm path (round 10): one aggregate job per PQ Lloyd iteration,
    # shuffle-free encode, bit-identical to the legacy chain below
    # (equivalence test-pinned). SPARK_GRAFT_PQ_FUSE=0 keeps the legacy
    # chain as an A/B arm.
    if os.environ.get("SPARK_GRAFT_PQ_FUSE", "1") != "0":
        cq_sel, qwt, enc = _pq_train_encode_fused_jvm(
            corpus.sparkSession, cu0, qu, centroids,
            dim=dim, n_subspaces=n_subspaces, dsub=dsub, n_codes=n_codes,
            pq_iters=pq_iters, id_col=id_col, query_id_col=query_id_col,
        )
        return _pq_adc_tail(cu, qu, centroids, cq_sel, qwt, enc, **tail_kw)
    # Re-quantize centroids to the micro grid → residual = exact int64 per dim.
    cq = (
        centroids.withColumn(
            "c_int",
            F.expr(f"transform(c_dbl, x -> CAST(floor(x * {MICRO} + 0.5) AS BIGINT))"),
        )
        .withColumn("cq_dbl", F.expr(f"transform(c_int, x -> x / {MICRO}D)"))
        .select("cid", "c_dbl", "cc", "c_int", "cq_dbl")
    )
    assigned = assign_to_centroids(cu0, centroids, id_col=id_col)
    withres = assigned.join(cq.select("cid", "c_int"), "cid").withColumn(
        "r_int", F.zip_with("v_int", "c_int", lambda x, y: x - y)
    )

    # One row per (vector, subspace): the codebook-training relation.
    # Persisted — codebook training and final encoding each scan it, and the
    # residual computation above embeds the coarse-assignment join.
    # Pool-tracked (caching.lazy_cache): released at the next pipeline entry.
    subs = lazy_cache(
        withres.select(
            id_col,
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("sub_id"),
                            F.slice("r_int", m * dsub + 1, dsub).alias("r_sub_int"),
                        )
                        for m in range(n_subspaces)
                    ]
                )
            ).alias("s"),
        )
        .select(id_col, "cid", "s.sub_id", "s.r_sub_int")
        .withColumn("r_sub_dbl", F.expr(f"transform(r_sub_int, x -> x / {MICRO}D)"))
        .withColumn("rr", F.expr(_DOT_D.format(a="r_sub_dbl", b="r_sub_dbl")))
    )
    spark = corpus.sparkSession

    def _codebook_with_norm(cb: DataFrame) -> DataFrame:
        # Codebooks are bounded (n_subspaces × n_codes rows) — materialized
        # like the k-means centroids so each Lloyd step is one clean job.
        return _materialize_model(
            spark,
            cb.withColumn("ww", F.expr(_DOT_D.format(a="w_dbl", b="w_dbl"))),
            ["sub_id", "code_id", "w_dbl", "ww"],
        )

    cb = _codebook_with_norm(
        subs.filter(F.col(id_col) < n_codes).select(
            "sub_id",
            F.col(id_col).cast("int").alias("code_id"),
            F.col("r_sub_dbl").alias("w_dbl"),
        )
    )

    def _assign_codes(cb_cur: DataFrame) -> DataFrame:
        """Nearest codeword per (vector, subspace) — hash-aggregate argmin
        (same structure as assign_to_centroids' nprobe=1 path: (dist,
        code_id) is a unique ordering prefix, payload rides in the struct),
        codebook broadcast (n_subspaces × n_codes rows)."""
        wv = F.expr(_DOT_D.format(a="r_sub_dbl", b="w_dbl"))
        dist = F.floor((F.col("rr") + F.col("ww") - 2 * wv) * 1e6 + F.lit(0.5)) / 1e6
        m = F.min(F.struct("dist", "code_id", "cid", "r_sub_int")).alias("m")
        return (
            subs.join(F.broadcast(cb_cur), "sub_id")
            .withColumn("dist", dist)
            .groupBy(id_col, "sub_id")
            .agg(m)
            .select(
                id_col,
                F.col("m.cid").alias("cid"),
                "sub_id",
                F.col("m.code_id").alias("code_id"),
                F.col("m.r_sub_int").alias("r_sub_int"),
            )
        )

    for _ in range(pq_iters):
        acb = _assign_codes(cb)
        per_dim = (
            acb.select("sub_id", "code_id", F.posexplode("r_sub_int").alias("pos", "val"))
            .groupBy("sub_id", "code_id", "pos")
            .agg(F.sum("val").alias("s"))
        )
        counts = acb.groupBy("sub_id", "code_id").agg(F.count("*").alias("n"))
        cb = _codebook_with_norm(
            per_dim.join(counts, ["sub_id", "code_id"])
            .select(
                "sub_id",
                "code_id",
                "pos",
                (F.col("s").cast("double") / (F.lit(MICRO) * F.col("n"))).alias("dv"),
            )
            .groupBy("sub_id", "code_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "dv"))),
                    lambda s: s.dv,
                ).alias("w_dbl")
            )
        )

    codes = _assign_codes(cb)

    # --- ADC (asymmetric distance computation) scoring ----------------------
    # The classic PQ lookup-table formulation: every dot product against an
    # encoded candidate decomposes per subspace, so scoring costs n_subspaces
    # array lookups + adds per candidate instead of a dim-length fold, and the
    # per-vector 64-dim reconstruction relation disappears entirely.
    #
    #   aa     = ⟨cq,cq⟩ + Σ_m (2⟨cq_m, w_{m,code_m}⟩ + ⟨w_{m,code_m},w_{m,code_m}⟩)
    #   ⟨q,a⟩  = ⟨q,cq⟩  + Σ_m ⟨q_m, w_{m,code_m}⟩
    #
    # aa is a property of the ENCODING — computed once per corpus vector from
    # bounded (cid × sub × code) tables, no query involvement. Every Σ_m is a
    # FIXED-ORDER left-to-right expression (never a float aggregation across
    # rows), so the DuckDB twin replays the identical IEEE operation sequence
    # and parity is structural, same as the rest of the pipeline.

    def _sub_explode(df: DataFrame, keep: str, vec: str, out: str) -> DataFrame:
        return df.select(
            keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("sub_id"),
                            F.slice(vec, m * dsub + 1, dsub).alias(out),
                        )
                        for m in range(n_subspaces)
                    ]
                )
            ).alias("s"),
        ).select(keep, "s.sub_id", f"s.{out}")

    def _nest(df: DataFrame, key: str, val: str, out: str) -> DataFrame:
        """(key, sub_id, code_id, val) → (key, out[sub_id+1][code_id+1])."""
        return (
            df.groupBy(key, "sub_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("code_id", val))),
                    lambda s: s[val],
                ).alias("__l")
            )
            .groupBy(key)
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("sub_id", "__l"))),
                    lambda s: s["__l"],
                ).alias(out)
            )
        )

    # Per-cell table: cqq = ⟨cq,cq⟩ and t_arr[m][c] = 2⟨cq_m, w_{m,c}⟩ + ww.
    cqq = cq.select("cid", F.expr(_DOT_D.format(a="cq_dbl", b="cq_dbl")).alias("cqq"))
    tv = 2 * F.expr(_DOT_D.format(a="cq_sub", b="w_dbl")) + F.col("ww")
    cwt = _nest(
        _sub_explode(cq, "cid", "cq_dbl", "cq_sub")
        .join(cb, "sub_id")
        .select("cid", "sub_id", "code_id", tv.alias("tv")),
        "cid", "tv", "t_arr",
    ).join(cqq, "cid")
    cwt = _materialize_model(spark, cwt, ["cid", "cqq", "t_arr"])

    # Encoded corpus: (vec, cid, code per subspace) + precomputed norm aa.
    aa_expr = "cqq" + "".join(
        " + " + _ADC_LOOKUP.format(arr="t_arr", m=m + 1) for m in range(n_subspaces)
    )
    enc = (
        codes.groupBy(id_col, "cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub_id", "code_id"))),
                lambda s: s.code_id,
            ).alias("code_arr")
        )
        .join(F.broadcast(cwt), "cid")
        .select(
            F.col(id_col).alias("neighbor_id"),
            "cid",
            "code_arr",
            F.expr(aa_expr).alias("aa"),
        )
    )

    # Per-query table q_arr[m][c] = ⟨q_m, w_{m,c}⟩ (n_queries rows, bounded).
    qv = F.expr(_DOT_D.format(a="q_sub", b="w_dbl"))
    qwt = _nest(
        _sub_explode(qu, query_id_col, "v_dbl", "q_sub")
        .join(cb, "sub_id")
        .select(query_id_col, "sub_id", "code_id", qv.alias("qv")),
        query_id_col, "qv", "q_arr",
    )
    qwt = _materialize_model(spark, qwt, [query_id_col, "q_arr"])

    return _pq_adc_tail(
        cu, qu, centroids, cq.select("cid", "cq_dbl"), qwt, enc, **tail_kw
    )


def _pq_adc_tail(
    cu: DataFrame,
    qu: DataFrame,
    centroids: DataFrame,
    cq_sel: DataFrame,
    qwt: DataFrame,
    enc: DataFrame,
    *,
    n_subspaces: int,
    nprobe: int,
    k: int,
    shortlist_factor: int,
    rank_digits: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF-PQ scoring tail: query-side cell probing, ADC approximate
    scoring from the lookup tables, shortlist window, exact re-rank. Both
    training backends (jvm chain, arrow kernels) feed the identical
    expressions here, so backend choice cannot change scoring semantics."""
    from pyspark.sql import Window

    # Queries probe nprobe cells; qcd = ⟨q, cq⟩ completes the decomposition.
    # q_dbl/q_vv feed the ADC approximation; q_int/q_vvi feed the exact
    # integer-ratio re-rank (the query relation is small by contract).
    q_cells = assign_to_centroids(qu, centroids, id_col=query_id_col, nprobe=nprobe).select(
        query_id_col, "cid", F.col("v_dbl").alias("q_dbl"), F.col("vv").alias("q_vv"),
        F.col("v_int").alias("q_int"), F.col("vvi").alias("q_vvi"),
    )
    q_score = (
        q_cells.join(F.broadcast(cq_sel), "cid")
        .withColumn("qcd", F.expr(_DOT_D.format(a="q_dbl", b="cq_dbl")))
        .join(F.broadcast(qwt), query_id_col)
    )
    scale = float(10**rank_digits)
    adot = F.expr(
        "qcd"
        + "".join(
            " + " + _ADC_LOOKUP.format(arr="q_arr", m=m + 1)
            for m in range(n_subspaces)
        )
    )
    acos = F.floor(
        adot / (F.sqrt(F.col("q_vv")) * F.sqrt(F.col("aa"))) * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    shortlisted = (
        q_score.join(enc, "cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col, "neighbor_id", "q_int", "q_vvi",
            acos.alias("approx_cosine"),
        )
    )
    ws = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    shortlist = (
        shortlisted.withColumn("__s", F.row_number().over(ws))
        .filter(F.col("__s") <= shortlist_factor * k)
        .drop("__s")
    )

    # Exact re-rank of the shortlist against raw vectors — the integer-ratio
    # cosine (vector-vector, so the round-7 contract applies; the ADC score
    # above stays double by construction).
    raw = cu.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v_int").alias("n_int"),
        F.col("vvi").alias("n_vvi"),
    )
    ecos = F.floor(
        int_cosine("q_int", "q_vvi", "n_int", "n_vvi") * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    wr = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.join(raw, "neighbor_id")
        .withColumn("cosine", ecos)
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, "neighbor_id", "approx_cosine", "cosine", "rnk")
    )


# --- random-hyperplane LSH buckets ------------------------------------------


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-gaussian hyperplane coefficients (plain literals —
    reproducible everywhere, embeddable in SQL twins). Rounded to 6 decimals
    so :func:`planes_to_int` recovers exact integer coefficients."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def planes_to_int(planes: list[list[float]]) -> list[list[int]]:
    """Exact 1e6-scaled integer coefficients of :func:`make_planes` output.

    make_planes rounds every coefficient to 6 decimals, so round(c·1e6)
    recovers the intended integer exactly — the basis of the integer sign
    contract: bit j = [Σᵢ v_intᵢ · p_intᵢⱼ ≥ 0] where v_int is the standard
    micro quantization (floor(x·1e6 + 0.5)). The dot is an exact integer
    (every product and partial sum < 2^53 — guarded where computed), so the
    sign is bit-identical in ANY engine, fold order, or BLAS build."""
    return [[int(round(c * 1e6)) for c in p] for p in planes]


def _plane_dot_int(vint_col: str, plane_int: list[int]) -> str:
    # Exact int64 fold of the micro vector against integer plane
    # coefficients — order-independent by exactness, so the interpreted HOF
    # shape is pure cost, not a determinism requirement (the Arrow kernel
    # below is the fast twin). NOT a flat `t1 + t2 + …` chain: measured
    # (round 6), the flat projection is 4-5x slower (codegen blow-up).
    arr = ", ".join(f"{c}L" for c in plane_int)
    return (
        f"aggregate(zip_with({vint_col}, array({arr}), (x, y) -> x * y), "
        f"0L, (acc, v) -> acc + v)"
    )


def hyperplane_signature(
    df: DataFrame,
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append an n-bit sign bucket: bit j = [idot(v_int, p_int_j) ≥ 0] —
    the integer sign contract (see :func:`planes_to_int`): micro-quantize
    the vector once, exact int64 dot per plane, no floating accumulation
    anywhere, so a boundary bit cannot flip between engines."""
    planes_int = planes_to_int(planes)
    pmax = max(max(abs(c) for c in p) for p in planes_int) or 1
    bits = [
        F.when(F.expr(_plane_dot_int("_vint", p)) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes_int
    ]
    return (
        df.withColumn("_vint", F.expr(_as_micro_int(vec_col)))
        .withColumn(
            "_vint",
            F.expr(micro_int_guard("_vint", pmax, "hyperplane signature")),
        )
        .withColumn(bucket_col, F.concat(*bits))
        .drop("_vint")
    )


def hyperplane_signature_cols(
    planes_by_table: list[list[list[float]]], vint_col: str = "_vint"
) -> list[F.Column]:
    """All tables' sign buckets as a list of Columns for ONE select — the
    multi-table indexer used to chain 8 ``withColumn`` calls, each paying
    analysis + optimization over the accumulated ~2.5k-node expression
    trees; a single projection analyzes once. Bit semantics identical to
    :func:`hyperplane_signature` (integer sign contract); the caller
    provides the micro-quantized ``vint_col`` so the quantization runs once
    for all tables."""
    cols = []
    for t, planes in enumerate(planes_by_table):
        bits = [
            F.when(F.expr(_plane_dot_int(vint_col, p)) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for p in planes_to_int(planes)
        ]
        cols.append(F.concat(*bits).alias(f"_b{t}"))
    return cols


def hyperplane_signatures_arrow(
    df: DataFrame,
    planes_by_table: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    prefix: str = "_b",
) -> DataFrame:
    """Arrow int-GEMM twin of the JVM sign-bucket expressions: ONE stacked
    numpy GEMM computes every table's every bit for a whole record batch —
    shuffle-free mapInPandas, bit-identical to :func:`hyperplane_signature`
    by the integer contract (the float64 GEMM is EXACT: every product and
    partial sum is an exactly-representable integer < 2^53, guarded, so no
    accumulation order can round). Appends ``{prefix}{t}`` string buckets
    to the input columns.

    This replaces the interpreted per-element HOF fold (~0.5 s warm /
    dominant cold across the three ANN queries at sf0.1) with a vectorized
    kernel whose per-row cost is a fused multiply-add row — the same escape
    the IVF-PQ train chain and the dedup signature kernels use."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    planes_int = [planes_to_int(p) for p in planes_by_table]
    bits_per = [len(p) for p in planes_int]
    flat = [row for table in planes_int for row in table]
    pmax = max(max(abs(c) for c in row) for row in flat) or 1
    dim = len(flat[0])
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(f"{prefix}{t}", StringType(), False)
            for t in range(len(planes_int))
        ]
    )

    def kernel(batches):
        import numpy as np

        P = np.array(flat, dtype=np.float64)  # (total_bits, dim)
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                for t in range(len(bits_per)):
                    out[f"{prefix}{t}"] = pd.Series([], dtype=str)
                yield out
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xi = np.floor(X * 1e6 + 0.5)  # the standard micro quantization
            mx = int(np.abs(Xi).max()) or 1
            if float(dim) * float(mx) * float(pmax) >= _GUARD_LIMIT:
                raise ValueError(
                    "hyperplane signature: dim * max|v_int| * max|p_int| "
                    "exceeds 2^53 — the exact-GEMM contract breaks"
                )
            S = Xi @ P.T  # exact integers, any order
            B = np.where(S >= 0, b"1", b"0").astype("S1")
            out = pdf.copy()
            ofs = 0
            for t, nb in enumerate(bits_per):
                sub = np.ascontiguousarray(B[:, ofs : ofs + nb])
                ofs += nb
                out[f"{prefix}{t}"] = sub.view(f"S{nb}").ravel().astype(str)
            yield out

    return df.mapInPandas(kernel, out_schema)


# Measured crossover for the hyperplane signature backends (SCALING.md
# round 7, interleaved A/Bs at sf0.1 AND the 100x tier): the stacked Arrow
# GEMM's per-row cost is ~flat in plane count while the interpreted JVM
# fold pays per element per plane — so arrow wins where the total sign-bit
# count is large (multitable 40 bits: 1.43x/1.10x; bucketed near-dup 24
# bits: 1.22x/1.30x) and loses to the fold's zero fixed cost at 6 bits
# (multiprobe 0.81x/0.80x; single-table a wash). Both backends are
# bit-identical by the integer sign contract, so the tier never changes
# results.
ARROW_MIN_SIGN_BITS = 12


def _ann_sig_backend(override: str | None, total_bits: int) -> str:
    """Signature backend for the hyperplane-LSH family: explicit argument,
    else the ``SPARK_GRAFT_ANN_SIG`` env knob, else ``auto`` — arrow at or
    above ARROW_MIN_SIGN_BITS total sign bits, the JVM fold below."""
    backend = override or os.environ.get("SPARK_GRAFT_ANN_SIG", "auto")
    if backend not in ("arrow", "jvm", "auto"):
        raise ValueError(f"unknown ANN signature backend {backend!r}")
    if backend == "auto":
        return "arrow" if total_bits >= ARROW_MIN_SIGN_BITS else "jvm"
    return backend


def sql_hyperplane_bucket(vec_col: str, planes: list[list[float]]) -> str:
    """DuckDB twin of hyperplane_signature's bucket expression — the same
    integer sign contract: DuckDB's list_dot_product accumulates the BIGINT
    products in float64, but every intermediate is an exact integer < 2^53,
    so the result is the exact integer dot regardless of order."""
    micro = (
        f"list_transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )
    planes_int = planes_to_int(planes)
    pmax = max(max(abs(c) for c in p) for p in planes_int) or 1
    # Empty-string guard bit: same 2^53 domain check as the Spark/Arrow
    # twins (error() instead of raise_error()) so all three backends fail
    # on the same inputs instead of float64 silently rounding here.
    mx = f"list_max(list_transform({micro}, x -> abs(x)))"
    bits = [
        f"CASE WHEN CAST(len({micro}) AS DOUBLE) * {mx} * {pmax} "
        f">= {_SQL_GUARD_LIMIT} "
        f"THEN CAST(error('hyperplane bucket: dim * max|v_int| * "
        f"max|p_int| exceeds 2^53 - the exact integer contract breaks') "
        f"AS VARCHAR) ELSE '' END"
    ]
    for p in planes_int:
        arr = ", ".join(str(c) for c in p)
        dot = f"list_dot_product({micro}, [{arr}])"
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def flip_bit_expr(bucket: F.Column, i: int, n_bits: int) -> F.Column:
    """The bucket string with bit i flipped (multi-probe neighbor)."""
    flipped = F.when(F.substring(bucket, i + 1, 1) == "1", F.lit("0")).otherwise(
        F.lit("1")
    )
    return F.concat(
        F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, n_bits - i - 1)
    )


def sql_flip_bit(bucket: str, i: int, n_bits: int) -> str:
    return (
        f"concat(substring({bucket}, 1, {i}), "
        f"CASE WHEN substring({bucket}, {i + 1}, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring({bucket}, {i + 2}, {n_bits - i - 1}))"
    )


def ann_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    bits_per_table: int = 5,
    n_tables: int = 8,
    k: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rank_digits: int = 4,
    signature_backend: str | None = None,
) -> DataFrame:
    """Multi-table LSH ANN (the OR-construction): L independent hash tables
    of b sign bits each; a vector lands in one bucket PER TABLE and a
    candidate pair only needs to agree in ANY one table.

    Recall math (p = per-plane agreement for a neighbor at angle θ,
    p = 1 − θ/π): single table hits with prob p^b; L tables with
    1 − (1 − p^b)^L. At moderate similarity (p ≈ 2/3, the top-k regime)
    b=5, L=8 gives ≈ 0.67 vs 0.09 for one 6-bit table; at near-dup
    similarity (p ≈ 0.97) recall is ≈ 1 − 1e-6. The price is indexing the
    corpus L times (explode ×L) — the classic LSH memory/recall trade,
    linear and shuffle-friendly, never quadratic.

    All 40 sign bits come from ONE pass over the data (stacked Arrow
    int-GEMM by default; a single-projection exact-int JVM fold under
    ``signature_backend="jvm"`` — bit-identical by the integer contract).
    """
    from pyspark.sql import Window

    tables = [
        make_planes(dim, bits_per_table, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    backend = _ann_sig_backend(signature_backend, bits_per_table * n_tables)

    def with_table_buckets(df: DataFrame, key: str) -> DataFrame:
        # minimal kernel payload: (key, vec); the scoring representation is
        # derived AFTER the signature pass so only the raw float32 array
        # crosses Arrow
        base = df.select(key, vec_col)
        if backend == "arrow":
            sig = hyperplane_signatures_arrow(base, tables, vec_col=vec_col)
        else:
            pmax = (
                max(
                    max(abs(c) for c in p)
                    for t in tables
                    for p in planes_to_int(t)
                )
                or 1
            )
            sig = (
                base.withColumn("_vint", F.expr(_as_micro_int(vec_col)))
                .withColumn(
                    "_vint",
                    F.expr(
                        micro_int_guard("_vint", pmax, "multitable ANN")
                    ),
                )
                .select(key, vec_col, *hyperplane_signature_cols(tables))
            )
        sig = with_int_vector(sig, vec_col)
        entries = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_id"), F.col(f"_b{t}").alias("bucket")
                )
                for t in range(n_tables)
            ]
        )
        return sig.select(
            key, "v_int", "vvi", F.explode(entries).alias("e")
        ).select(
            key, "v_int", "vvi", F.col("e.table_id").alias("table_id"),
            F.col("e.bucket").alias("bucket"),
        )

    c_idx = with_table_buckets(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("v_int").alias("vi_n"),
        F.col("vvi").alias("vvi_n"), "table_id", "bucket",
    )
    q_idx = with_table_buckets(queries, query_id_col).select(
        query_id_col, F.col("v_int").alias("vi_q"), F.col("vvi").alias("vvi_q"),
        "table_id", "bucket",
    )
    # Score BEFORE the OR-across-tables dedup: the quantized cosine is a
    # pure function of the pair (exact integer-ratio form — bit-stable, so
    # max-aggregating over table copies is exactly DISTINCT-then-score),
    # and the dedup shuffle carries (ids, one double) instead of two
    # dim-length arrays per row (at a 100x corpus: ~2.4M candidate rows ×
    # 1 KB of arrays vs 24 B).
    scale = float(10**rank_digits)
    qcos = F.floor(
        int_cosine("vi_q", "vvi_q", "vi_n", "vvi_n") * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    scored = (
        q_idx.join(c_idx, ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", qcos.alias("cosine"))
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ann_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int,
    *,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rank_digits: int = 4,
    multiprobe: bool = False,
    signature_backend: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket. Join is an equi-join on the bucket string — co-partitioned, no
    cross join; recall trades against n_planes (each plane halves the
    expected bucket).

    Ranks by the cosine QUANTIZED to ``rank_digits`` (floor-based) with
    neighbor-id tiebreak. The cosine is the exact integer-ratio form
    (:func:`with_int_vector`) — bit-identical in every engine and fold
    order, so the quantized rank keys need no cross-engine fold-order
    assumption at all (round 7; the unit-vector form relied on Spark's
    ``aggregate`` fold and the oracle's ``list_dot_product`` agreeing).

    ``multiprobe=True`` probes the query's home bucket plus every 1-bit-flip
    neighbor bucket (n_planes + 1 probes): recall rises sharply — a near
    neighbor only escapes if ≥ 2 hyperplanes separate it — while the probe
    fan-out stays linear in plane count (each corpus vector still lives in
    exactly ONE bucket, so probes never duplicate a candidate).

    ``signature_backend``: ``arrow`` (stacked int-GEMM kernel), ``jvm``
    (interpreted exact-int fold), or the default ``auto`` (tier by total
    sign bits — ARROW_MIN_SIGN_BITS); bit-identical by the integer sign
    contract (:func:`planes_to_int`).
    """
    from pyspark.sql import Window

    n_bits = len(planes)
    backend = _ann_sig_backend(signature_backend, n_bits)

    def sign(df: DataFrame, key: str) -> DataFrame:
        base = df.select(key, vec_col)
        if backend == "arrow":
            return hyperplane_signatures_arrow(
                base, [planes], vec_col=vec_col
            ).withColumnRenamed("_b0", "bucket")
        return hyperplane_signature(base, planes, vec_col=vec_col)

    cu = with_int_vector(sign(corpus, id_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("v_int").alias("vi_n"),
        F.col("vvi").alias("vvi_n"), "bucket",
    )
    qu = with_int_vector(sign(queries, query_id_col), vec_col).select(
        F.col(query_id_col), F.col("v_int").alias("vi_q"),
        F.col("vvi").alias("vvi_q"), "bucket",
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[flip_bit_expr(F.col("bucket"), i, n_bits) for i in range(n_bits)],
        )
        qu = qu.select(
            query_id_col, "vi_q", "vvi_q", F.explode(probes).alias("bucket")
        )
    scale = float(10**rank_digits)
    qcos = F.floor(
        int_cosine("vi_q", "vvi_q", "vi_n", "vvi_n") * F.lit(scale) + F.lit(0.5)
    ) / F.lit(scale)
    scored = (
        qu.join(cu, "bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", qcos.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --- recall-aware cell-count auto-probe (round 9) ----------------------------

_AUTO_PROBE_SAMPLE = 512

# Last auto-probe decision (tests / operational forensics): {"n": int,
# "true_pairs": int, "candidates": {K: {"recall", "rel_cost", "score"}},
# "chosen": int}. The probe also logs one line at INFO.
LAST_AUTO_PROBE: dict | None = None


def probe_cell_count(
    v: DataFrame,
    threshold: float,
    *,
    iters: int,
    id_col: str = "vec_id",
    sample_n: int = _AUTO_PROBE_SAMPLE,
    candidates: list[int] | None = None,
) -> int:
    """Measure recall@K across candidate cell counts and return the best
    recall-per-cost K — the operator form of ``scripts/recall_probe.py``
    (round 8 measured recall is NOT monotone in K: 0.16 at the √n/7
    default rising to 0.66 at K=1024 then falling to 0.09 at K=14336 on
    the 100x corpus, because recall is governed by how well cells match
    the corpus's intrinsic cluster structure). Opt-in via
    ``semantic_dedup(k_clusters="auto-probe")`` — the default stays √n/7
    (one synthetic corpus must not retune a data-dependent constant).

    Ground truth is scale-correct: the ``sample_n`` LOWEST ids (bounded,
    deterministic) are collected and broadcast; ONE ``mapInPandas`` pass
    scores sample × corpus with the exact fixed-point GEMM (the pair
    stage's own arithmetic: exact integer dot, floor-quantized to 1e-6
    BEFORE the threshold) — the corpus never collects, so the probe holds
    at any corpus size. For each candidate K the full ``kmeans_exact`` +
    Arrow assignment runs and recall = the co-assigned fraction of true
    pairs — exactly the pairs the within-cell search can possibly see.

    Scoring: recall / rel_cost with rel_cost(K) = ½·√(K/K0) + ½·(K0/K),
    K0 = √n/7 — the two-level-assignment cost law (a'·n·√K pruned
    assignment + g·n²/K per-cell GEMM, SCALING.md round 8) with the two
    terms anchored EQUAL at K0, where the flat model's optimum put them
    (K* = √(n·g/a)). The anchor is a modeling assumption, recorded here
    so the score is auditable; recall differences across the 4x-spaced
    candidates dominate the cost term in every measured case. Ties break
    to the smaller K. A corpus with no true sample pairs scores recall
    1.0 everywhere and picks K0.

    Cost of the probe itself: one sample×corpus Arrow pass plus one
    (train + assign + join) per candidate — the affordable-by-design
    large-K path (two-level pruned assignment auto-fires at K ≥ 512).
    """
    import numpy as np

    from ..caching import eager_cache

    n = v.count()
    k0 = max(2, round(n**0.5 / 7))
    if candidates is None:
        cap = max(2, n // 4)
        candidates = sorted({min(k, cap) for k in (k0, 4 * k0, 16 * k0)})

    samp = (
        v.orderBy(id_col).limit(sample_n).select(id_col, "v_dbl").collect()
    )
    if not samp:
        raise ValueError("probe_cell_count: empty corpus")
    s_ids = np.array([r[id_col] for r in samp], dtype=np.int64)
    Si = np.rint(
        np.stack([np.asarray(r["v_dbl"], np.float64) for r in samp]) * 1e6
    )
    smax = float(np.abs(Si).max()) or 1.0
    sn = np.sqrt((Si * Si).sum(axis=1))
    sn[sn == 0.0] = 1.0  # zero vectors: cosine 0 with everything
    thr = float(threshold)
    id_type = dict(v.dtypes)[id_col]

    def scan(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            Mi = np.rint(np.stack(pdf["v_dbl"].to_numpy()) * 1e6)
            bmax = float(np.abs(Mi).max()) or 1.0
            if float(Mi.shape[1]) * smax * bmax >= _GUARD_LIMIT:
                raise ValueError(
                    "probe_cell_count: dim * max|v_int|^2 exceeds 2^53 - "
                    "the exact integer contract breaks"
                )
            mn = np.sqrt((Mi * Mi).sum(axis=1))
            mn[mn == 0.0] = 1.0
            # exact integer dot (float64 GEMM, no rounding by the guard),
            # then the pair stage's quantize-before-compare rule
            G = (Si @ Mi.T) / np.outer(sn, mn)
            q = np.floor(G * 1e6 + 0.5) / 1e6
            a, b = np.nonzero(q >= thr)
            c_ids = pdf[id_col].to_numpy()
            keep = s_ids[a] != c_ids[b]
            yield pd.DataFrame(
                {"s_id": s_ids[a[keep]], "c_id": c_ids[b[keep]]}
            )

    pairs = eager_cache(
        v.select(id_col, "v_dbl").mapInPandas(
            scan, f"s_id {id_type}, c_id {id_type}"
        )
    )
    n_pairs = pairs.count()

    results: dict[int, dict] = {}
    best_k, best_score = None, -1.0
    for K in candidates:
        cent = kmeans_exact(
            v, k_clusters=K, iters=iters, id_col=id_col, assign_backend="arrow"
        )
        asg = assign_to_centroids_arrow(
            v.select(id_col, "v_dbl", "vv"), cent, id_col=id_col
        ).select(id_col, "cid")
        if n_pairs:
            co = (
                pairs.join(
                    asg.select(
                        F.col(id_col).alias("s_id"), F.col("cid").alias("ca")
                    ),
                    "s_id",
                )
                .join(
                    asg.select(
                        F.col(id_col).alias("c_id"), F.col("cid").alias("cb")
                    ),
                    "c_id",
                )
                .filter(F.col("ca") == F.col("cb"))
                .count()
            )
            recall = co / n_pairs
        else:
            recall = 1.0
        rel_cost = 0.5 * (K / k0) ** 0.5 + 0.5 * (k0 / K)
        score = recall / rel_cost
        results[K] = {
            "recall": round(recall, 4),
            "rel_cost": round(rel_cost, 4),
            "score": round(score, 4),
        }
        if score > best_score:  # strict: ties keep the smaller (earlier) K
            best_k, best_score = K, score

    global LAST_AUTO_PROBE
    LAST_AUTO_PROBE = {
        "n": n,
        "true_pairs": n_pairs,
        "candidates": results,
        "chosen": best_k,
    }
    import logging

    logging.getLogger(__name__).info(
        "cell-count auto-probe: %s", LAST_AUTO_PROBE
    )
    return best_k


# --- semantic dedup (SemDeDup composition) ----------------------------------


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    *,
    k_clusters: int | str = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    pair_backend: str = "int",
    propagation_rounds: int | None = None,
    assign_backend: str = "jvm",
) -> DataFrame:
    """Semantic deduplication over an embedding column — the SemDeDup shape
    (Abbas et al. 2023, arXiv:2303.09540): k-means the corpus into cells,
    find within-cell pairs with cosine ≥ ``threshold``, group them into
    duplicate components, keep ONE representative per component.

    Composition of three existing operators, no new machinery:
    ``kmeans_exact`` (deterministic coarse clustering) →
    per-cell exact pairwise cosine (the same Arrow GEMM kernel as the
    bucketed near-dup path, bounded by the cell) →
    ``dedup.connected_components`` (exact grouping for any component shape).

    Like the paper, duplicate search is WITHIN-CELL only: a near-dup pair
    split across two cells is missed (the paper accepts this). Recall vs
    ``k_clusters`` is NOT monotone — it is governed by how well the cell
    count matches the corpus's intrinsic cluster structure (measured on
    the 100x corpus: recall 0.16 at K=64 RISING to 0.66 at K=1024, then
    falling to 0.09 at K=14336 — SCALING.md round 8), so measure the
    recall probe before choosing K on a new corpus —
    ``k_clusters="auto-probe"`` (opt-in) runs :func:`probe_cell_count`
    to do exactly that: it scores {√n/7, 4x, 16x} by measured
    recall-per-cost on a deterministic sample and uses the winner. Cells
    bound the quadratic term at Σ n_cell² — the 100 TB story is the cell
    count growing with the corpus so cells stay executor-sized.

    Keeper policy:
    - ``min_id`` (default): smallest id in the component — cheap,
      deterministic, matches the text-dedup keeper convention.
    - ``far_from_centroid``: the paper's policy — keep the component member
      with the LARGEST distance to its cell centroid (low-redundancy
      representative); ties break to the smaller id. Distances are the
      same 1e-6-quantized values the assignment argmin uses, so the choice
      is engine-deterministic.

    Pair backends (``pair_backend``):
    - ``gemm``: per-cell Arrow-batched numpy GEMM on unit vectors;
      cosines are float64 with BLAS-order last-ulp variation, so
      consumers quantize before comparing. Kept for A/B — ``int`` is as
      fast and exact.
    - ``jvm``: co-partitioned self-join per cell with the engine's
      micro-quantized dot product, cosine floor-rounded to 1e-6 BEFORE the
      threshold — bit-identical in any engine, the oracle-checkable path
      (same machinery as the IVF family).
    - ``int`` (default): per-cell EXACT fixed-point GEMM over the
      micro-quantized vectors. Every product and partial sum is an exact
      integer < 2^53 (guarded), so the float64 GEMM performs NO rounding
      in any accumulation order — the dot is the exact integer dot,
      bit-deterministic across engines, partitionings, and BLAS builds
      (measured 8× faster than an int64 matmul, which numpy cannot BLAS).
      Norms/division are elementwise IEEE ops on exact inputs, making the
      quantized cosine fully portable: this is BOTH the fast path and the
      oracle-checked path (the driver's DuckDB oracle computes the same
      integer dot — the round-7 tier unification).

    Component grouping: ``dedup.connected_components`` by default (exact
    for any diameter); ``propagation_rounds=N`` switches to N-round
    min-label propagation (``near_dup_keepers``) — the cheap near-clique
    path whose fixed rounds a SQL oracle can replay as generated CTEs.

    Returns one row per input vector: (``id_col``, cid, group_id,
    keeper_id) where group_id is the component's min id (singletons:
    themselves) and keeper_id follows the policy. Rows to keep are
    ``keeper_id == id_col``; the relation is linear in the corpus.
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown keeper policy {keep!r}")
    if pair_backend not in ("gemm", "jvm", "int"):
        raise ValueError(f"unknown pair backend {pair_backend!r}")
    if assign_backend not in ("jvm", "arrow"):
        raise ValueError(f"unknown assign backend {assign_backend!r}")
    if isinstance(k_clusters, str) and k_clusters != "auto-probe":
        raise ValueError(f"unknown k_clusters mode {k_clusters!r}")
    import pandas as pd

    from ..caching import begin_pipeline, eager_cache
    from .dedup import connected_components, near_dup_keepers

    begin_pipeline()
    # The micro-quantized vector relation feeds every kmeans iteration, the
    # final assignment, and (via cells) both pair-join sides — uncached,
    # each consumer re-runs the scan + quantize chain. Same diamond-DAG
    # rule as the text-dedup signature relations; MEMORY_AND_DISK spills at
    # scale, and the pipeline pool releases it on the next entry.
    v = eager_cache(with_micro_vectors(df.select(id_col, vec_col), vec_col))
    if k_clusters == "auto-probe":
        k_clusters = probe_cell_count(
            v, threshold, iters=iters, id_col=id_col
        )
    centroids = kmeans_exact(
        v, k_clusters=k_clusters, iters=iters, id_col=id_col,
        assign_backend=assign_backend,
    )
    if assign_backend == "arrow":
        # the Arrow kernel emits cdist directly — no broadcast-join recompute
        cells = assign_to_centroids_arrow(
            v.select(id_col, "v_dbl", "vv"), centroids, id_col=id_col
        )
    else:
        assigned = assign_to_centroids(v, centroids, id_col=id_col)
        # distance to own centroid (same quantization as the assignment argmin)
        vc = F.expr(_DOT_D.format(a="v_dbl", b="c_dbl"))
        dist = F.floor(
            (F.col("vv") + F.col("cc") - 2 * vc) * 1e6 + F.lit(0.5)
        ) / 1e6
        cells = assigned.join(F.broadcast(centroids), "cid").withColumn(
            "cdist", dist
        )
    # the unit-vector column only feeds the gemm pair backend — the int
    # backend recovers exact micro ints from v_dbl and the jvm backend folds
    # v_dbl directly, so don't pay the per-row HOF transform (or cache the
    # extra dim-length array) on those paths
    if pair_backend == "gemm":
        cells = cells.withColumn(
            "unit", F.expr("transform(v_dbl, x -> x / sqrt(vv))")
        ).select(id_col, "cid", "cdist", "unit", "v_dbl", "vv")
    else:
        cells = cells.select(id_col, "cid", "cdist", "v_dbl", "vv")
    cells = eager_cache(cells)

    # Fused per-cell grouping (round 9): SemDeDup pairs are WITHIN-CELL by
    # construction (the search never crosses cells), so the pair graph is a
    # disjoint union of per-cell graphs and components ≡ per-cell
    # components. The GEMM-shaped backends therefore compute the exact
    # grouping INSIDE the pair kernel (vectorized min-label union-find on
    # the thresholded adjacency the GEMM just built) and emit one
    # (id, cid, cdist, group_id) row per vector — the O(dup-mass) pair
    # relation never materializes, never shuffles, and the global CC stage
    # disappears (at the 100x tier that relation was 1.58M edges and CC was
    # the largest K-flat term — SCALING.md round 9). Identical labels by
    # construction: same kept edges, same min-id component labeling
    # (equality test-pinned against the pairs+CC arm).
    # Round 10 (VERDICT r9 item 5): the gemm A/B arm fuses the SAME way —
    # its edges come from the unit-vector BLAS GEMM instead of the exact
    # int GEMM — so int-vs-gemm A/Bs compare pair kernels like-for-like
    # instead of confounding grouping strategy.
    # SPARK_GRAFT_SEM_FUSE_GROUPS=0 keeps the pairs+CC path as an A/B arm;
    # tier 0 (propagation_rounds) always takes the pairs path — it is the
    # oracle-replayed geometry and stays frozen. The jvm backend has no
    # in-kernel adjacency to fuse on (its pairs come from a relational
    # join) and always takes the pairs path.
    fuse_groups = (
        pair_backend in ("int", "gemm")
        and propagation_rounds is None
        and os.environ.get("SPARK_GRAFT_SEM_FUSE_GROUPS", "1") != "0"
    )
    if fuse_groups:
        from .dedup import _union_find_min_labels

        id_type = dict(df.dtypes)[id_col]
        grp_schema = (
            f"{id_col} {id_type}, cid int, cdist double, group_id {id_type}"
        )

        def _grouped_frame(pdf, ids, ea, eb):
            group = ids.copy()
            if len(ea):
                uids, ulabels = _union_find_min_labels(ea, eb)
                import numpy as np

                pos = np.searchsorted(uids, ids)
                pos_c = np.minimum(pos, len(uids) - 1)
                hit = uids[pos_c] == ids
                group[hit] = ulabels[pos_c[hit]]
            return pd.DataFrame(
                {
                    id_col: ids,
                    "cid": pdf["cid"],
                    "cdist": pdf["cdist"],
                    "group_id": group,
                }
            )

        def cell_groups_int(key, pdf):
            import numpy as np

            ids = pdf["_id"].to_numpy()
            ea = eb = ()
            if len(pdf) >= 2:
                vd = np.stack(pdf["v_dbl"].to_numpy())
                # identical arithmetic to cell_cosines_int below: exact
                # micro-int recovery, guarded exact GEMM, slack prefilter,
                # quantize survivors only
                Vf = np.rint(vd * 1e6)
                dim = Vf.shape[1]
                mx = int(np.abs(Vf).max()) or 1
                if float(dim) * float(mx) * float(mx) >= _GUARD_LIMIT:
                    raise ValueError(
                        "int pair backend: dim * max|v_int|^2 exceeds 2^53"
                    )
                S = Vf @ Vf.T
                n = np.sqrt(np.diag(S))
                cos = S / np.outer(n, n)
                ia, ib = np.nonzero(cos >= threshold - 1e-6)
                kp = ids[ia] < ids[ib]
                ia, ib = ia[kp], ib[kp]
                q = np.floor(cos[ia, ib] * 1e6 + 0.5) / 1e6
                keep_m = q >= threshold
                ea, eb = ids[ia][keep_m], ids[ib][keep_m]
            return _grouped_frame(pdf, ids, ea, eb)

        def cell_groups_gemm(key, pdf):
            import numpy as np

            ids = pdf["_id"].to_numpy()
            ea = eb = ()
            if len(pdf) >= 2:
                # identical edge arithmetic to cell_cosines below: unit
                # BLAS GEMM, direct threshold (no quantize) — same kept
                # edges as the gemm pairs+CC arm by construction
                m = np.stack(pdf["unit"].to_numpy())
                cos = m @ m.T
                ia, ib = np.nonzero(cos >= threshold)
                kp = ids[ia] < ids[ib]
                ea, eb = ids[ia][kp], ids[ib][kp]
            return _grouped_frame(pdf, ids, ea, eb)

        vec_field = "v_dbl" if pair_backend == "int" else "unit"
        kernel = cell_groups_int if pair_backend == "int" else cell_groups_gemm
        labeled = (
            cells.select(
                F.col(id_col).alias("_id"), "cid", "cdist", vec_field
            )
            .groupBy("cid")
            .applyInPandas(kernel, grp_schema)
        )
        if keep == "min_id":
            return labeled.select(
                id_col, "cid", "group_id", F.col("group_id").alias("keeper_id")
            )
        # two consumers below (reps agg + the join) — cache the linear
        # (id, cid, cdist, group_id) relation so the GEMM+UF kernel runs once
        labeled = eager_cache(labeled)
        reps = (
            labeled.groupBy("group_id")
            .agg(F.min(F.struct(-F.col("cdist"), F.col(id_col))).alias("m"))
            .select("group_id", F.col(f"m.{id_col}").alias("keeper_id"))
        )
        return labeled.join(reps, "group_id").select(
            id_col, "cid", "group_id", "keeper_id"
        )

    if pair_backend == "jvm":
        a = cells.select(
            F.col(id_col).alias("vec_a"), "cid",
            F.col("v_dbl").alias("da"), F.col("vv").alias("va"),
        )
        b = cells.select(
            F.col(id_col).alias("vec_b"), "cid",
            F.col("v_dbl").alias("db"), F.col("vv").alias("vb"),
        )
        qcos = F.floor(
            F.expr(_DOT_D.format(a="da", b="db"))
            / (F.sqrt(F.col("va")) * F.sqrt(F.col("vb")))
            * 1e6
            + F.lit(0.5)
        ) / 1e6
        pairs = (
            a.join(b, "cid")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", qcos)
            .filter(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b", "cosine")
        )
    elif pair_backend == "int":
        id_type = dict(df.dtypes)[id_col]
        out_schema = f"vec_a {id_type}, vec_b {id_type}, cosine double"

        def cell_cosines_int(key, pdf):
            import numpy as np

            if len(pdf) < 2:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
            vd = np.stack(pdf["v_dbl"].to_numpy())
            # v_dbl = v_int / 1e6 exactly, so rint recovers the int64 micro
            # vector exactly (ulp(v_dbl*1e6) << 0.5 at any realistic scale)
            Vf = np.rint(vd * 1e6)
            dim = Vf.shape[1]
            mx = int(np.abs(Vf).max()) or 1
            if float(dim) * float(mx) * float(mx) >= _GUARD_LIMIT:
                # above this, float64 partial sums round and the dot stops
                # being the exact integer the oracle contract requires
                raise ValueError(
                    "int pair backend: dim * max|v_int|^2 exceeds 2^53"
                )
            ids = pdf["_id"].to_numpy()
            # float64 GEMM, yet EXACT: every product (≤ mx² < 2^53) and
            # every partial sum (≤ dim·mx² < 2^53, guarded above) is an
            # exactly-representable integer, so no accumulation order —
            # FMA, blocking, threading — can introduce rounding.
            S = Vf @ Vf.T
            n = np.sqrt(np.diag(S))
            cos = S / np.outer(n, n)
            # slack prefilter on the raw exact cosine, quantize SURVIVORS
            # only: |q − cos| ≤ 5e-7, so q ≥ t ⇒ cos ≥ t − 1e-6 — the two
            # full-matrix quantize passes this replaces measured 1.5x of
            # the whole query at the 100x tier (SCALING.md round 7)
            ia, ib = np.nonzero(cos >= threshold - 1e-6)
            kp = ids[ia] < ids[ib]
            ia, ib = ia[kp], ib[kp]
            q = np.floor(cos[ia, ib] * 1e6 + 0.5) / 1e6
            keep = q >= threshold
            return pd.DataFrame(
                {"vec_a": ids[ia][keep], "vec_b": ids[ib][keep], "cosine": q[keep]}
            )

        pairs = (
            cells.select(F.col(id_col).alias("_id"), "cid", "v_dbl")
            .groupBy("cid")
            .applyInPandas(cell_cosines_int, out_schema)
        )
    else:
        # id type follows the input (string ids work on this path too — the
        # jvm backend and connected_components already handle them).
        id_type = dict(df.dtypes)[id_col]
        out_schema = f"vec_a {id_type}, vec_b {id_type}, cosine double"

        # Un-annotated on purpose — see block_pair_cosines above.
        def cell_cosines(key, pdf):
            import numpy as np

            if len(pdf) < 2:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
            m = np.stack(pdf["unit"].to_numpy())
            ids = pdf["_id"].to_numpy()
            cos = m @ m.T
            ia, ib = np.nonzero(cos >= threshold)
            kp = ids[ia] < ids[ib]
            return pd.DataFrame(
                {"vec_a": ids[ia][kp], "vec_b": ids[ib][kp], "cosine": cos[ia, ib][kp]}
            )

        pairs = (
            cells.select(F.col(id_col).alias("_id"), "cid", "unit")
            .groupBy("cid")
            .applyInPandas(cell_cosines, out_schema)
        )
    if propagation_rounds is None:
        comp = connected_components(pairs, id_a="vec_a", id_b="vec_b")
    else:
        # checkpoint_labels stays True: the unrolled (checkpoint-free)
        # variant won 1.51 → 1.25 s on a synthetic pair graph but showed
        # NO win on the real query (3.9-4.1 vs 3.4-3.5 s same-day) while
        # inflating the static plan budget 8 → 20 counted shuffles —
        # measured and not adopted (SCALING.md round 7).
        comp = near_dup_keepers(
            pairs, id_a="vec_a", id_b="vec_b", rounds=propagation_rounds
        )
    labeled = cells.join(
        comp.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(
        id_col,
        "cid",
        "cdist",
        F.coalesce(F.col("keeper_id"), F.col(id_col)).alias("group_id"),
    )
    if keep == "min_id":
        return labeled.select(
            id_col, "cid", "group_id", F.col("group_id").alias("keeper_id")
        )
    # far_from_centroid: per-component argmax distance, ties to smaller id —
    # hash-agg min(struct(-dist, id)) (no window sort over the corpus).
    reps = (
        labeled.groupBy("group_id")
        .agg(F.min(F.struct(-F.col("cdist"), F.col(id_col))).alias("m"))
        .select("group_id", F.col(f"m.{id_col}").alias("keeper_id"))
    )
    return labeled.join(reps, "group_id").select(
        id_col, "cid", "group_id", "keeper_id"
    )


def label_prototypicality(
    df: DataFrame,
    *,
    dim: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-vector prototypicality against its OWN label's centroid — the
    data-pruning signal (Sorscher et al.: drop the least prototypical
    examples first when shrinking a corpus; keep them when diversifying):
    (id, label, n_label, proto_cosine, is_prototypical = cosine ≥ tau).

    Determinism discipline: the centroid is computed in the exact
    integer-cosine representation (``with_int_vector`` micro-units) — the
    per-dim sums are exact BIGINTs (order-independent), the centroid is
    their floor-mean back in micro-units (one double division + floor on
    exact inputs — bit-identical everywhere; |sum| < 2^53 is the same
    contract the representation already carries), and the cosine is the
    exact-int ratio, so the τ verdict cannot flip across engines,
    partitionings, or fold orders — a float centroid would make boundary
    verdicts an artifact of summation order.

    Scale shape: one aggregate (``dim`` map-side-combined BIGINT sums per
    label — the shuffle carries dim longs per label per partition, never
    vectors), one join back on label (AQE broadcasts the centroid relation
    when small; no hint — label cardinality is data, not construction).
    """
    e = with_int_vector(df, vec_col)
    sums = e.groupBy(label_col).agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("v_int", i + 1)).alias(f"s{i}") for i in range(dim)],
    )
    c_int = F.array(
        *[
            F.expr(f"CAST(floor(CAST(s{i} AS DOUBLE) / n) AS BIGINT)")
            for i in range(dim)
        ]
    ).alias("c_int")
    cents = sums.select(label_col, "n", c_int).withColumn(
        "cvi", F.expr(_vvi_guarded("c_int"))
    )
    cos = int_cosine("v_int", "vvi", "c_int", "cvi")
    from ..functions import pround

    return e.join(cents, label_col).select(
        id_col,
        label_col,
        F.col("n").alias("n_label"),
        pround(cos, 6).alias("proto_cosine"),
        (cos >= F.lit(float(tau))).alias("is_prototypical"),
    )
