"""Near-duplicate detection operators: MinHash + banded LSH, and SimHash.

These are the scale paths for document dedup (SURVEY.md §7 step 9): the raw
shingle self-join in workload/docs.py is quadratic in hot shingles, while LSH
bounds the join fan-out to per-band buckets — at 100 TB the only shuffles are
(a) the distinct on (doc, shingle), (b) one aggregate per doc for the
signature, and (c) a self-equi-join on (band_id, band_key) whose keys are
uniformly distributed md5 digests (no skew by construction).

Hashing discipline — portable md5 everywhere:

- MinHash uses the *lexicographic minimum of md5 hex digests* as the hash
  minimum. ``min(varchar)`` over lowercase hex is a total order identical in
  every engine, so signatures (and therefore candidate sets and final results)
  are bit-identical between Spark and the DuckDB oracle — correctness does not
  depend on LSH recall, because the oracle runs the same construction.
- SimHash is 64-bit, two bits per hex nibble of ``md5(token)``: bit i < 32 is
  the high bit of nibble i (nibble ≥ 8), bit i ≥ 32 is its parity (odd
  nibble), each contributing ±token-frequency. The signature is materialized
  as a 64-char '0'/'1' string so banding and hamming distance are plain
  substring ops in both engines.

Reference parity: the reference's only dedup is exact keep-first
``drop_duplicates`` (dags/utils/transformers.py:109); these operators are the
engine's training-data-pipeline extension per the build plan.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


# Measured crossover for the Arrow signature kernels (SCALING.md round 6):
# below it, the shuffle-free Arrow pass wins on fixed cost (1.6x at sf0.1's
# 5k docs); above it, the relational chain's CORPUS-WIDE vocab dedup and
# JVM-side token mass win (128-bit at the 100x tier: relational 38 s vs
# arrow 77 s — the Arrow path pays per-occurrence string serialization that
# scales with token mass, the relational path per-DISTINCT-token work).
SIG_ARROW_MAX_DOCS = 50_000


def _sig_backend(env_var: str, override: str | None, kind: str) -> str:
    """Resolve a signature backend: explicit argument, else the env knob,
    else ``auto`` (tier by corpus size at the call site)."""
    backend = override or os.environ.get(env_var, "auto")
    if backend not in ("arrow", "jvm", "auto"):
        raise ValueError(f"unknown {kind} signature backend {backend!r}")
    return backend


def _resolve_auto_backend(
    backend: str, df: DataFrame, n_docs: int | None = None
) -> str:
    """``auto`` → arrow below SIG_ARROW_MAX_DOCS docs, relational above.

    ``n_docs`` (threaded from call sites that already know the corpus size)
    decides without touching the DataFrame. Only when it's absent does the
    resolver fall back to ``df.count()`` — the metadata-count pattern the
    LSH tier geometry uses (parquet-backed inputs resolve from footers);
    a caller holding an expensive DERIVED frame should pass ``n_docs`` or
    an explicit backend so resolution never executes the upstream plan.
    """
    if backend != "auto":
        return backend
    n = n_docs if n_docs is not None else df.count()
    return "arrow" if n <= SIG_ARROW_MAX_DOCS else "jvm"


def _simhash_sig_backend(override: str | None) -> str:
    return _sig_backend("SPARK_GRAFT_SIMHASH_SIG", override, "simhash")


# Single-partition spread floor: below this many docs the kernel finishes in
# one task anyway and the extra exchange just inflates small plans (the
# golden sf0.001/sf0.01 corpora stay untouched).
_SPREAD_MIN_DOCS = 4_000

# Spread-gate decision cache. The partition count of a PURE FILE SCAN is a
# function of the files and the split confs, not of the projected columns,
# so every projection of the same files shares one decision — and the exact
# probe (`df.rdd.getNumPartitions()`, which forces full physical planning
# incl. AQE finalization — ADVICE r8) runs at most ONCE per source instead
# of on every gated signature chain. But that function-of-files claim holds
# ONLY for scan-shaped plans (ADVICE r9): a post-shuffle/joined/aggregated
# relation over the same files has a partition count set by the exchange,
# so such plans bypass the cache and take the exact probe; and the split
# confs + defaultParallelism are part of the key, so a mid-session conf
# change re-probes instead of reusing a stale verdict. Bounded: cleared
# wholesale past _SPREAD_CACHE_MAX (file sets per session are few; the
# clear only costs one re-probe per live source).
_SPREAD_CACHE_MAX = 256
_spread_decisions: dict[tuple, bool] = {}

# Analyzed-logical-plan node heads that keep a plan "scan-shaped": narrow,
# exchange-free operators whose output partitioning is the scan's own.
_SCAN_SHAPED_NODES = frozenset(
    {"Project", "Filter", "SubqueryAlias", "View", "Relation", "LogicalRelation"}
)


def _scan_shaped(df: DataFrame) -> bool:
    """True when the analyzed logical plan is Project/Filter over a file
    relation only — the one shape whose partition count is a pure function
    of (file set, split confs). Logical-plan string walk: no physical
    planning, no AQE finalization."""
    plan = df._jdf.queryExecution().analyzed().toString()
    heads = re.findall(r"^[\s:+|-]*([A-Za-z]\w*)", plan, flags=re.M)
    return bool(heads) and all(h in _SCAN_SHAPED_NODES for h in heads)


def _spread_cache_key(df: DataFrame) -> tuple | None:
    """Cache key for the spread verdict, or None when the plan must take
    the exact uncached probe (non-file relation or not scan-shaped)."""
    files = tuple(sorted(df.inputFiles()))
    if not files or not _scan_shaped(df):
        return None
    spark = df.sparkSession

    def conf(key: str) -> str | None:
        # conf.get(key, default) type-validates the default against the
        # conf entry under Spark 4 — unset optional confs need the try.
        try:
            return spark.conf.get(key)
        except Exception:
            return None

    return (
        files,
        spark.sparkContext.defaultParallelism,
        conf("spark.sql.files.maxPartitionBytes"),
        conf("spark.sql.files.openCostInBytes"),
        conf("spark.sql.files.minPartitionNum"),
    )


def _total_row_groups(files: tuple[str, ...], *, max_files: int = 64) -> int | None:
    """Total parquet row groups across ``files`` from driver-side footer
    metadata (no Spark job), or None when not cheaply knowable: more than
    ``max_files`` fragments (a sequential footer loop stops being free),
    a non-local scheme, a non-parquet file, or missing pyarrow. Same
    footer discipline as ``datasets.table_row_count``."""
    if not files or len(files) > max_files:
        return None
    try:
        from urllib.parse import unquote, urlparse

        import pyarrow.parquet as pq

        total = 0
        for f in files:
            parsed = urlparse(f)
            if parsed.scheme not in ("", "file"):
                return None
            # read_metadata opens, reads the footer, and closes in one
            # call — ParquetFile left up to max_files handles open until
            # GC (ADVICE r13).
            total += pq.read_metadata(unquote(parsed.path) or f).num_row_groups
        return total
    except Exception:
        return None


def _spread_single_partition(df: DataFrame, n_docs: int | None) -> DataFrame:
    """Round-robin a SINGLE-partition relation across the cores before an
    Arrow signature kernel. A mid-size corpus often arrives as one parquet
    split (sf0.1: 6k docs, 1 partition), which serializes the whole kernel
    through ONE Python worker — measured 6.5 s cold / 0.9 s warm vs 1.7 /
    0.6 spread at sf0.1. Fires ONLY at one EFFECTIVE partition (==1
    planned, or one total parquet row group for scan-shaped file
    relations — split math can plan many splits whose data all lands in
    one task) AND a known
    corpus of ≥ _SPREAD_MIN_DOCS docs: the same repartition at the 100x
    tier (30 scan partitions) shuffled the token mass for a 2.4x LOSS
    (SCALING.md round 8) — text/token bytes must not shuffle when the scan
    already parallelizes. Per-doc kernels are partitioning-invariant, so
    results are unchanged (test-pinned).

    The single-partition probe forces physical planning, so its verdict is
    cached per (file set, split confs, defaultParallelism) — and ONLY for
    scan-shaped plans, where the partition count is a pure function of
    that key (ADVICE r9). Non-file relations, post-shuffle/joined inputs,
    and memory test frames take the exact uncached probe."""
    if n_docs is None or n_docs < _SPREAD_MIN_DOCS:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if par <= 1:
        return df
    key = _spread_cache_key(df)
    single = _spread_decisions.get(key) if key is not None else None
    if single is None:
        single = df.rdd.getNumPartitions() == 1
        if not single and key is not None:
            # Split math can plan many splits over a file whose data is ONE
            # parquet row group — the row group is the true unit of scan
            # parallelism, so those extra splits are empty and the kernel
            # still runs single-worker while the ==1 probe reads "many"
            # (this round's open-cost experiment hit exactly that: 32
            # planned splits, 1 nonempty, spread silently off, signature
            # kernels 1.5x slower). For scan-shaped file relations, read
            # the footers: one total row group == one effective partition.
            single = _total_row_groups(key[0]) == 1
        if key is not None:
            if len(_spread_decisions) >= _SPREAD_CACHE_MAX:
                _spread_decisions.clear()
            _spread_decisions[key] = single
    return df.repartition(par) if single else df

# --- shingling --------------------------------------------------------------


def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Narrow explode then one shuffle (distinct on (id, shingle)). The shingle
    string never travels further than the signature aggregate below.

    Documents with fewer than ``n`` words produce NO shingles (and are
    therefore absent downstream). The size guard is load-bearing: Spark's
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]`` (step defaults to -1
    when start > stop), so the unguarded ``sequence(1, greatest(...))``
    form crashes with INVALID_ARRAY_INDEX on any short document under ANSI
    mode — while DuckDB's ``generate_series(1, 0)`` is empty. Found by
    probing, not by the driver corpus (its shortest doc clears n).
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    parts = " , ' ', ".join(f"element_at(w, i+{j})" for j in range(n))
    return (
        df.select(F.col(id_col), words.alias("w"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"IF(size(w) >= {n}, "
                    f"transform(sequence(1, size(w) - {n - 1}), "
                    f"i -> concat({parts})), array())"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def sql_word_shingles(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out: str = "sh",
) -> str:
    """DuckDB twin of word_shingles as a CTE body ending in CTE ``out``."""
    parts = ", ' ', ".join(f"w[i+{j}]" for j in range(n))
    return f"""
  words AS (SELECT {id_col}, string_split_regex(lower({text_col}), '\\s+') AS w FROM {table}),
  pos AS (SELECT {id_col}, w, unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS i FROM words),
  {out} AS (SELECT DISTINCT {id_col}, concat({parts}) AS shingle FROM pos)
""".strip()


def word_shingles_b60(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document as 60-bit base hashes:
    (id, b60) — the narrow-key variant of :func:`word_shingles` for
    pipelines that never need the shingle STRING again (the df-capped
    MinHash chain): md5 folds to BIGINT BEFORE the distinct, so the one
    shuffle carries 16 bytes per row instead of the shingle text, and every
    downstream group/join key is an 8-byte int. A 60-bit collision merges
    two shingles deterministically — identically in the DuckDB twin, which
    derives b60 with the same fold — so cross-engine results stay bit-equal
    by construction (~1e-15 odds per pair regardless)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    parts = " , ' ', ".join(f"element_at(w, i+{j})" for j in range(n))
    b60 = (
        f"CAST(conv(substring(md5(concat({parts})), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        df.select(F.col(id_col), words.alias("w"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"IF(size(w) >= {n}, "
                    f"transform(sequence(1, size(w) - {n - 1}), "
                    f"i -> {b60}), array())"
                )
            ).alias("b60"),
        )
        .distinct()
    )


def sql_word_shingles_b60(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out: str = "sh",
) -> str:
    """DuckDB twin of word_shingles_b60 as a CTE chain ending in ``out``
    with columns (id, shingle BIGINT) — column named ``shingle`` so the
    shared minhash oracle template consumes it unchanged."""
    parts = ", ' ', ".join(f"w[i+{j}]" for j in range(n))
    return f"""
  words AS (SELECT {id_col}, string_split_regex(lower({text_col}), '\\s+') AS w FROM {table}),
  pos AS (SELECT {id_col}, w, unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS i FROM words),
  {out} AS (SELECT DISTINCT {id_col},
    (('0x' || substring(md5(concat({parts})), 1, 15))::BIGINT) AS shingle FROM pos)
""".strip()


# --- cluster-representative dedup output ------------------------------------


def near_dup_keepers(
    pairs: DataFrame,
    *,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    rounds: int = 3,
    verify_converged: bool = False,
    checkpoint_labels: bool = True,
) -> DataFrame:
    """Collapse a near-dup PAIR relation to one keeper per duplicate cluster.

    Why this exists: pair enumeration is OUTPUT-BOUND on dup-heavy corpora —
    a 100-copy boilerplate group is C(100,2) ≈ 5k true pairs, so a corpus
    that is mostly duplicates (the realistic web-crawl case) produces
    quadratically many pairs per group no matter how good the candidate
    generation is (measured: the 100x soak tier built from suffix-only
    replicas put minhash pair enumeration at 624 s, ~all of it emitting and
    verifying genuine pairs). The training-data pipeline wants "which doc do
    I keep" — per-doc output, linear in the corpus.

    Method: deterministic min-label propagation over the pair graph
    (symmetrized edges; each round every node takes the min of its own and
    its neighbors' labels). After ``rounds`` iterations labels are exact for
    components of diameter ≤ rounds — LSH dup clusters are near-cliques
    (diameter ~1-2), so the default 3 is conservative. Each round is FUSED
    to one join + one min-aggregate: min(own, min-over-neighbors) ≡ the min
    over {(id, label)} ∪ {(src, label(dst))}, so the label union feeds a
    single groupBy instead of the aggregate-then-left-join shape (round 7 —
    one fewer shuffle and join per round; at small SF the propagation cost
    is pure orchestration, so fewer stages is the whole lever).
    ``localCheckpoint`` truncates the iterative lineage so the plan stays
    one-round deep (the k-means model lesson — but labels are data-sized,
    so they checkpoint to executor storage instead of collecting to the
    driver).

    Returns (doc_id, keeper_id) for every doc that appears in ``pairs``;
    docs with no near-dup pair are their own keeper and are simply absent.

    ``checkpoint_labels=False`` skips the per-round label checkpoints and
    leaves the rounds as one lazily-unrolled plan (the EDGE checkpoint
    always stands, so nothing upstream of the pair relation ever re-runs).
    The label relation appears twice per round, so the plan holds 2^rounds
    label subtrees — fine for BOUNDED graphs (the semantic tier-0 path,
    ≤ 40k vectors, measured 1.51 → 1.25 s on its pair-graph shape); keep
    the default for unbounded text-dedup graphs where re-aggregating the
    label relation 2^r times loses.

    ``verify_converged`` runs ONE extra propagation round and raises if any
    label still changes — a convergence CERTIFICATE for the fixed round
    count: ``rounds`` iterations are exact only for components of diameter
    ≤ rounds, and while LSH dup clusters are near-cliques (diameter 1-2), a
    chain-shaped component at scale would otherwise mislabel silently. The
    certificate costs one join+aggregate+count — soak/CI runs enable it
    (SPARK_GRAFT_VERIFY_CC=1 on the registered query); the default path
    skips the extra action.
    """
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # partitioned by the per-round join key so every round's
        # edges⋈labels reads the checkpointed partitioning instead of
        # re-exchanging the edge relation three times
        .repartition("dst")
        # CHECKPOINTED: ``pairs`` is usually the tail of an expensive
        # pipeline (LSH banding + verification), and edges feed EVERY
        # propagation round — without the checkpoint each round re-executes
        # the whole upstream pipeline (measured: 86 s of minhash re-run per
        # round at the 100x tier, 505 s total for a 75k-pair graph).
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        # fused round: neighbors' labels (src takes dst's label) unioned
        # with every node's own label, one min-aggregate — no left join,
        # and absent-neighbor nodes keep their label via the union arm
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "label"
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if checkpoint_labels:
            labels = labels.localCheckpoint()
    if verify_converged:
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        changed = (
            labels.join(nbr, labels["id"] == nbr["src"])
            .filter(F.col("nbr_min") < F.col("label"))
            .count()
        )
        if changed:
            raise ValueError(
                f"near_dup_keepers: {changed} labels still changing after "
                f"{rounds} rounds — a component has diameter > {rounds}; "
                f"raise `rounds` or use connected_components() (exact for "
                f"any diameter)"
            )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("keeper_id"))


def sql_propagation_rounds(rounds: int) -> str:
    """Generated CTE rounds replaying :func:`near_dup_keepers`'s min-label
    propagation in SQL — expects an ``edges(src, dst)`` CTE (symmetrized)
    and emits ``l0 .. l{rounds}``; the final labels are ``l{rounds}(id,
    label)``. The oracle pattern doc_dedup_clusters established, factored
    for reuse (the semantic-dedup oracle replays the same algorithm)."""
    parts = ["l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)"]
    for k in range(1, rounds + 1):
        prev = f"l{k - 1}"
        parts.append(
            f"""l{k} AS (
    SELECT l.id, least(l.label, COALESCE(m.nm, l.label)) AS label
    FROM {prev} l LEFT JOIN (
      SELECT e.src AS id, min(nl.label) AS nm
      FROM edges e JOIN {prev} nl ON nl.id = e.dst
      GROUP BY e.src
    ) m ON m.id = l.id
  )"""
        )
    return ",\n  ".join(parts)


def _is_star_forest_df(e: DataFrame) -> bool:
    """Exact convergence test for the large-star/small-star alternation
    (round 8 — replaces the two-phase edge-set equality, which cost 2
    counts + 2 exceptAll anti-joins and could only detect a fixpoint one
    full alternation AFTER reaching it). A canonical (distinct, lo < hi)
    edge set is a fixpoint of BOTH phases iff it is a STAR FOREST: no hi
    repeats and no node is both a hi and a lo.

      star forest ⇒ fixpoint: for a star (r, v₁..vₖ), large-star at r
      re-emits every (r, vᵢ) and members have no larger neighbors;
      small-star's relink + self-link likewise re-emit exactly the star.
      fixpoint ⇒ star forest: if x is hi of (a,x) AND lo of (x,b),
      large-star at x emits (m,b) with m ≤ a < x and does NOT re-emit
      (x,b) (x isn't the min of Γ(x)∪{x}) — the set changed. If x is hi
      of (a,x) and (b,x) with a < b, both may survive large-star, but
      small-star at x relinks b to m = a, emitting (a,b) ∉ S. (The chain
      {(1,2),(1,3),(2,4)} is small-star-stable but fails the predicate
      via 2 ∈ hi ∩ lo — exactly the case the old code's "both phases"
      comparison guarded against.)

    ONE pass: per node, count hi-roles and lo-roles; short-circuits on
    the first violation."""
    roles = e.select(
        F.col("hi").alias("n"), F.lit(1).alias("h"), F.lit(0).alias("l")
    ).unionByName(
        e.select(F.col("lo").alias("n"), F.lit(0).alias("h"), F.lit(1).alias("l"))
    )
    return (
        roles.groupBy("n")
        .agg(F.sum("h").alias("h"), F.sum("l").alias("l"))
        .filter((F.col("h") > 1) | ((F.col("h") > 0) & (F.col("l") > 0)))
        .isEmpty()
    )


# Local-finish boundary for connected_components: once the (non-increasing)
# canonical edge count is at or under this, the edge set collects (bounded:
# 16 bytes/edge → 32 MB at the default) and a driver-side union-find
# finishes the grouping in one pass — late alternations are pure
# fixed-cost (jobs, AQE finalization, barriers) on tiny relations, the
# K-flat floor VERDICT r8 item 1 named. SPARK_GRAFT_CC_LOCAL overrides
# (0 disables — the pure-distributed arm for A/B and property tests).
CC_LOCAL_EDGE_MAX = 2_000_000


def _cc_local_threshold() -> int:
    knob = os.environ.get("SPARK_GRAFT_CC_LOCAL")
    return int(knob) if knob is not None else CC_LOCAL_EDGE_MAX


def _union_find_min_labels(lo, hi):
    """Exact min-label connected components over collected edge arrays —
    the driver-side finisher, fully VECTORIZED (Shiloach–Vishkin-style
    min-hooking + pointer-jumping; a per-edge Python union-find loop
    measured 3.2 s on the 100x tier's 1.6M-edge graph, this runs it in
    0.67 s). Per round: every edge hooks the larger of its endpoints'
    parents to the smaller (``np.minimum.at`` resolves write collisions
    to the min), then full pointer-jump compression; stop when no edge
    hooks. Parent values are non-increasing and bounded below, so the
    loop terminates; at the fixpoint every edge joins same-root nodes, so
    each component carries ONE root, and that root is the component's
    minimum index — the min index m can never be overwritten (all parent
    values in its component are ≥ m) and is its own root, and
    ``np.unique`` returns ids SORTED, so min index ⇔ min id (the keeper
    contract). Returns (ids, labels) covering every node in the edges."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
    a, b = inv[: len(lo)], inv[len(lo):]
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        pa, pb = parent[a], parent[b]
        hooked = bool(len(pa)) and bool((pa != pb).any())
        if hooked:
            np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        while True:  # pointer-jump to full compression
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if not hooked:
            break
    return ids, ids[parent]


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Exact connected components over a near-dup pair relation —
    alternating large-star / small-star (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"), the scale-correct sibling of
    :func:`near_dup_keepers`'s fixed-round min-label propagation.

    Propagation is exact only for components of diameter ≤ rounds; its
    convergence certificate can DETECT a deeper component but not fix it.
    Large-star/small-star converges for ANY diameter in O(log n)
    alternations (each round halves tree heights), so this is the right
    operator when the pair graph's shape is unknown — chain-shaped
    components arise in practice from transitive near-dup overlaps
    (A≈B≈C without A≈C).

    Each alternation is two co-partitioned groupBy+join rounds over the
    edge relation (linear, no broadcast); ``localCheckpoint`` truncates
    the iterative lineage exactly as in the propagation path. Convergence
    is the exact star-forest predicate (one aggregate pass; provably
    equivalent to the joint two-phase fixpoint — see ``_is_star_forest_df``),
    not a fingerprint. ``max_rounds`` is a runaway backstop (log₂ of any
    real corpus is < 50), raising instead of silently returning partial
    labels.

    Fixed-cost discipline (round 9 — CC was the largest K-flat term in
    semantic dedup at the 100x tier, ~25 jobs across alternations): ONE
    job per alternation. Both phases are LAZY localCheckpoints and the
    survivor's materializing action is a ``count()`` (lineage truncation
    and the edge count come out of the same job; the old shape paid two
    eager checkpoint jobs plus the convergence aggregate every round).
    The count doubles as a convergence pre-check: both phases map each
    input edge to at most one output edge (large-star images each (u,v),
    v>u; small-star emits |Γ≤(u)| edges per node — relink drops the
    min-edge, the self-link restores one), so the canonical edge count is
    NON-INCREASING and a strict drop proves the set changed — not a
    fixpoint, skip the star-forest aggregate. The aggregate runs only on
    a count plateau. Cost of the laziness: an alternation that both
    shrinks the set AND lands exactly on the star forest is detected one
    alternation later — but that extra alternation runs on the SMALLEST
    edge set of the whole run, while the skipped aggregates ran on the
    largest (measured at the 100x tier: see SCALING.md round 9).

    Hybrid local finish (round 9, second act): alternations on a small
    edge set are pure fixed cost, so once the in-hand count is ≤
    ``CC_LOCAL_EDGE_MAX`` (env ``SPARK_GRAFT_CC_LOCAL``; 0 = pure
    distributed) the canonical edges collect — bounded by the gate
    itself, ≤ 32 MB at the default, the centroid-model collect
    contract — and an exact min-label union-find finishes driver-side.
    Exact CC is unique, so the hybrid and distributed paths return
    identical labels (property- and equality-test-pinned). At 100 TB
    the distributed rounds shrink the graph log-fast until the gate
    opens; at the 100x tier the pair graph is already under the gate
    and CC collapses to one collect.

    Returns (doc_id, keeper_id): every node that appears in ``pairs``,
    labeled with its component's minimum id — identical contract and
    labeling to ``near_dup_keepers``, so the two are interchangeable
    downstream.
    """
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # Undirected edge set, kept canonical (lo < hi) between alternations.
    # Lazy checkpoint + count: one job materializes the truncated lineage
    # AND yields the baseline edge count for the plateau pre-check.
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()

    # Local finish: alternations on an already-small edge set are pure
    # per-round fixed cost, so once the count (already in hand — it IS the
    # materializing action) is under the bounded threshold, collect and
    # union-find driver-side. Same bounded-collect contract as the
    # centroid/codebook models: the gate bounds the transfer (≤ 32 MB at
    # the default), and at 100 TB the alternations shrink the graph
    # log-fast until the gate opens. Integer-id graphs only (the engine's
    # ids are int64 everywhere; a non-integral id type falls through to
    # the distributed loop rather than trusting numpy object semantics).
    id_type = dict(edges.dtypes)["lo"]
    thr = _cc_local_threshold() if id_type in ("bigint", "int") else 0

    def _finish_local(e: DataFrame) -> DataFrame:
        import pyarrow as pa

        pdf = e.select("lo", "hi").toPandas()
        ids, labels = _union_find_min_labels(
            pdf["lo"].to_numpy(), pdf["hi"].to_numpy()
        )
        # An Arrow table, not a pandas frame: pandas input takes the Arrow
        # path only under spark.sql.execution.arrow.pyspark.enabled, so the
        # plan would depend on session conf.
        lab = local_frame(
            pairs.sparkSession,
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "root": pa.array(labels, pa.int64()),
                }
            ),
            "id long, root long",
        ).select(
            F.col("id").cast(id_type).alias("id"),
            F.col("root").cast(id_type).alias("root"),
        )
        return nodes.join(lab, "id", "left").select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("root"), F.col("id")).alias("keeper_id"),
        )

    for _ in range(max_rounds):
        if thr and n_edges <= thr:
            return _finish_local(edges)
        # Large-star: for every node u, connect each STRICTLY LARGER
        # neighbor v to m = min(Γ(u) ∪ {u}).  Symmetrize, take per-u min
        # neighbor, emit (v, m) for v > u; (v, m) is already v > m.
        sym = edges.unionByName(
            edges.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
        ).select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        m_u = sym.groupBy("u").agg(F.min("v").alias("min_nbr"))
        m_u = m_u.select("u", F.least("u", "min_nbr").alias("m"))
        # lazy: materialized (and lineage-truncated) inside the survivor's
        # count job below — no standalone barrier job for the intermediate
        # phase (VERDICT r8: checkpoint only the survivor)
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_u, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
            .localCheckpoint(eager=False)
        )

        # Small-star: orient edges toward the smaller endpoint; for every u,
        # m = min(Γ≤(u) ∪ {u}) and every v ∈ Γ≤(u) ∪ {u} \ {m} links to m.
        down = large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m_u = down.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            down.join(m_u, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        )
        self_link = m_u.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
        small = (
            relink.unionByName(self_link).distinct().localCheckpoint(eager=False)
        )

        # ONE job: materializes large + small (truncating both lineages)
        # and returns the canonical edge count. A strict drop proves the
        # set changed — not a fixpoint — so the exact star-forest
        # aggregate runs only on a plateau (count is non-increasing
        # through both phases; proof in the docstring).
        n_small = small.count()
        edges = small
        if n_small == n_edges and _is_star_forest_df(small):
            break
        n_edges = n_small
    else:
        raise ValueError(
            f"connected_components: no fixpoint after {max_rounds} "
            f"alternations — pathological input (cycle in id ordering?)"
        )

    # At the fixpoint every edge is a star edge (root=lo, member=hi);
    # isolated-in-pairs nodes (self-pairs only) label themselves.
    stars = edges.select(F.col("hi").alias("id"), F.col("lo").alias("root"))
    return nodes.join(stars, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("id")).alias("keeper_id"),
    )


# --- MinHash + LSH ----------------------------------------------------------

# Universal-hash family over a single md5 base hash: h_j(x) = (a_j·b + c_j)
# mod M with b = md5(x)[:15 hex] mod M. M = 2^31−1 keeps every product under
# 2^62 — no int64 overflow in any engine (DuckDB errors on overflow, Java
# wraps; staying under 2^63 sidesteps both). ONE md5 per shingle instead of
# k — the k families are integer multiply-adds.
MINHASH_M = 2_147_483_647


def _mix_constants(num_hashes: int) -> list[tuple[int, int]]:
    return [(2 * j + 1, j * 912_367 + 7) for j in range(num_hashes)]


# Tiered band geometry (SCALING.md round-3 analysis, round-4 re-measure):
# with fixed (b, r) the background-candidate mass n²·(1-(1-j_bg^r)^b) grows
# quadratically in the corpus, so r must GROW with n (log-scale) to keep
# candidate ENUMERATION linear. What r does NOT need to protect anymore is
# verification cost: the set-resident verify (verified_jaccard_pairs_from_
# sets) made the per-candidate cost an O(|set|) array intersect, and the
# round-4 interleaved A/B at the 100x tier (500k docs) measured the sharper
# (48, 8) geometry SLOWER end-to-end than (20, 4) — 275 s vs 81-117 s —
# because 2.4x signature cost plus 48-column prefilter joins outweigh the
# now-cheap extra candidates. The tier boundaries are therefore set by when
# the band join's own output stops being ~O(1) per doc (n·j_bg^r per doc at
# j_bg ≈ 0.05: ~1.6 at the tier-0 boundary, ~7.8 at tier-1's), not by
# verify protection. Tier 0 is also the FROZEN oracle geometry: the DuckDB
# twins at driver SFs (≤ 5k docs) are generated with (20, 4, 10) and must
# keep matching.
LSH_GEOMETRY_TIERS: tuple[tuple[int | None, int, int, int], ...] = (
    # (max_docs, num_hashes, bands, est_min_matches); rows = k // b
    (5_000_000, 20, 4, 10),  # r=5, j* = 4^(-1/5) ≈ 0.76 — oracle geometry
    (500_000_000, 48, 8, 29),  # r=6, j* = 8^(-1/6) ≈ 0.71, prefilter ≥ 0.604
    (None, 96, 12, 58),  # r=8, j* = 12^(-1/8) ≈ 0.73, prefilter ≥ 0.604
)


def lsh_tier_geometry(n_docs: int) -> tuple[int, int, int]:
    """(num_hashes, bands, est_min_matches) for a corpus of ``n_docs``.

    Callers count the corpus (a parquet metadata-only job) and pass the
    result through to ``minhash_lsh_pairs`` — the plan itself stays static
    per tier, so golden-plan and oracle checks at driver SFs are unaffected
    (they all land in tier 0). Recall at the verify threshold is the usual
    LSH S-curve (~50-60% AT j = 0.7, →1 by j ≈ 0.85) in every tier; the
    tiers hold the band join's candidate enumeration ~linear in n, which
    after the set-resident verify is the only quadratic term left.
    """
    for max_docs, k, b, est_min in LSH_GEOMETRY_TIERS:
        if max_docs is None or n_docs <= max_docs:
            return k, b, est_min
    raise AssertionError("unreachable: last tier is unbounded")


def minhash_base_expr(col: str = "shingle") -> str:
    """SQL for the 60-bit md5 base hash folded to [0, M) — valid Spark SQL;
    the DuckDB twin differs only in hex parsing (sql_minhash_base)."""
    return f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT) % {MINHASH_M}"


def sql_minhash_base(col: str = "shingle") -> str:
    return f"(('0x' || substring(md5({col}), 1, 15))::BIGINT) % {MINHASH_M}"


def minhash_signature(
    sh: DataFrame,
    num_hashes: int,
    id_col: str = "doc_id",
    with_count: bool = False,
    with_hash_set: bool = False,
    base_col: str | None = None,
) -> DataFrame:
    """One row per document with BIGINT columns minh_0..minh_{k-1}.

    One md5 per shingle → k affine families → k int mins in ONE aggregate
    pass (map-side partial combine; the shuffle carries k longs per doc,
    not the shingle set).

    ``with_count`` adds the per-doc shingle-set size ``n_sh`` to the SAME
    aggregate — the exact-Jaccard verify needs it, and folding it here
    means the verify reads the (small, cached) signature relation instead
    of re-aggregating the full shingle relation a fourth time.

    ``with_hash_set`` additionally collects the doc's 60-bit shingle hashes
    (``hs``, the PRE-mod base hash — 60 bits keep within-doc and
    within-pair collision odds ~1e-15, vs ~1e-7 for the mod-2³¹ minhash
    domain) so exact-Jaccard verification can intersect two array columns
    per candidate pair instead of re-expanding candidate × shingle rows
    through a join + aggregation (measured at the 100x tier: the expansion
    verify was +115 s over 3.3M candidates).

    ``base_col`` names a column that already holds the 60-bit base hash
    (``word_shingles_b60``) — the md5 step is skipped and n_sh/hs are
    defined over the b60 relation (the capped pipeline's contract).
    """
    base60 = "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
    based = (
        sh.select(id_col, F.col(base_col).alias("b60"))
        if base_col is not None
        else sh.select(id_col, F.expr(base60).alias("b60"))
    )
    hashed = based.select(
        id_col,
        F.col("b60"),
        (F.col("b60") % MINHASH_M).alias("b"),
    ).select(
        id_col,
        "b60",
        *[
            ((F.lit(a) * F.col("b") + F.lit(c)) % MINHASH_M).alias(f"h{j}")
            for j, (a, c) in enumerate(_mix_constants(num_hashes))
        ],
    )
    aggs = [F.min(f"h{j}").alias(f"minh_{j}") for j in range(num_hashes)]
    if with_count:
        aggs.append(F.count("*").alias("n_sh"))
    if with_hash_set:
        aggs.append(F.collect_set("b60").alias("hs"))
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    sig: DataFrame, bands: int, rows: int, id_col: str = "doc_id"
) -> DataFrame:
    """Explode a signature into (id, band_id, band_key) — band_key is the md5
    of the band's concatenated minhashes (uniform join key, no skew)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"minh_{b * rows + r}") for r in range(rows)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(band_keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one LSH band bucket.

    Self-equi-join on (band_id, band_key): both sides hash-partition on the
    same key, so Spark co-partitions with a single exchange per side.
    """
    a = band_keys.select(
        F.col(id_col).alias("doc_a"), "band_id", "band_key"
    )
    b = band_keys.select(
        F.col(id_col).alias("doc_b"), "band_id", "band_key"
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verified_jaccard_pairs(
    candidates: DataFrame,
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    cnt: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    Joins candidates back to the shingle relation (shuffle on doc id — small:
    candidates only), counts intersections, and filters by true Jaccard.

    ``cnt`` (optional): a precomputed (id, n) shingle-count relation —
    minhash_lsh_pairs passes the signature aggregate's fused ``n_sh`` so the
    full shingle relation is not re-aggregated here.

    The shingle-count relation is joined WITHOUT a broadcast hint: it has one
    row per document, so a forced broadcast is a driver OOM waiting for a
    bigger corpus (found by the 10x soak — scripts/soak.py). AQE broadcasts
    it at runtime when it is actually small.
    """
    if cnt is None:
        cnt = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingle").alias("sh_b"))
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("inter") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "n_a", "n_b", "inter", jac.alias("jaccard"))
    )


def verified_jaccard_pairs_from_sets(
    candidates: DataFrame,
    sig: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard verification from signature-resident hash sets.

    ``sig`` must carry ``n_sh`` and ``hs`` (minhash_signature with
    with_count/with_hash_set): each candidate pair joins the two per-doc
    hash-set arrays and computes the intersection size JVM-side
    (array_intersect) — same exact-set semantics as the shingle-expansion
    verify (60-bit hashes: collision odds ~1e-15 per pair), but the cost
    is two joins on the candidate relation + O(|set|) per pair, with no
    candidate × shingle row expansion and no second aggregation. Measured
    at the 100x tier (3.3M candidates, ~40-shingle docs): expansion verify
    +115 s → set verify replaces a 140M-row join+groupBy with a 3.3M-row
    map stage.

    At 100 TB the trade is: the signature relation grows by the hash set
    (~8B × shingles/doc — order of the compressed corpus), but the verify
    stops shuffling candidate × shingle rows, and the shingle relation
    itself is consumed exactly once (no cache barrier).
    """
    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("hs").alias("hs_a"),
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("hs").alias("hs_b"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    jac = F.col("inter") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", inter)
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "n_a", "n_b", "inter", jac.alias("jaccard"))
    )


def signature_estimate_filter(
    candidates: DataFrame,
    sig: DataFrame,
    *,
    num_hashes: int,
    min_matches: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop candidate pairs whose MINHASH-ESTIMATED Jaccard is below
    ``min_matches / num_hashes`` before the exact verify.

    Exact verification expands every candidate pair by its full shingle
    sets (the first join alone is |candidates| × avg-shingles rows — the
    dominant cost at scale), while the signatures are ALREADY computed and
    k integer comparisons per pair estimate Jaccard unbiasedly. For true
    pairs at j ≈ 0.9 the false-drop probability at min_matches = k/2 is
    ~1e-5 (Binomial(20, 0.9) < 10); the mid-similarity candidate mass that
    survives banding dies here for the price of two joins on doc id.
    """
    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"minh_{j}").alias(f"a_{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"minh_{j}").alias(f"b_{j}") for j in range(num_hashes)],
    )
    matches = sum(
        (
            F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
            for j in range(num_hashes)
        ),
        F.lit(0),
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("__est", matches)
        .filter(F.col("__est") >= min_matches)
        .select("doc_a", "doc_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    num_hashes: int = 20,
    bands: int = 4,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    est_min_matches: int | None = None,
    shingle_df_cap: int | None = None,
    banned_b60: DataFrame | None = None,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs with exact-Jaccard verification.

    ``banned_b60`` replaces the df-cap STATISTIC with a frozen stop-list: a
    (b60) relation of banned shingle hashes anti-joined out before
    signatures, with no df aggregate over this corpus. This is how a run is
    made reproducible against an index written earlier (the
    ``minhash_index_write`` ``<path>_banned`` sidecar) — the capped
    pipeline's ban set depends on the corpus at hand, a frozen list does
    not. Mutually exclusive with ``shingle_df_cap``.

    ``est_min_matches`` (default: num_hashes // 2) inserts the
    signature-estimate prefilter between banding and exact verification;
    pass 0 to disable it. The signature relation feeds banding AND the
    prefilter, so it is persisted and eagerly filled (the diamond-DAG rule:
    exchange reuse does not fire across these join shapes).

    ``shingle_df_cap`` drops shingles whose document frequency exceeds the
    cap BEFORE signatures are computed (Jaccard — both the minhash estimate
    and the exact verify — is then over the capped sets on both engines).
    This is the structural fix for the n²·j_bg^r background-candidate term:
    the background similarity j_bg between UNRELATED documents comes almost
    entirely from ubiquitous boilerplate shingles (df ≫ cap), so removing
    them drives j_bg toward 0 and the quadratic candidate mass with it,
    while near-dup signal lives in low-df shingles that all survive. Band
    geometry can then stay fixed as the corpus grows instead of needing
    r ~ log n. The capped relation is persisted (it feeds the signature
    aggregate, the per-doc counts, and both exact-verify join sides, and
    the df window makes recomputation non-trivial).
    """
    from ..caching import begin_pipeline, eager_cache, lazy_cache

    begin_pipeline()
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    if est_min_matches is None:
        est_min_matches = num_hashes // 2
    # auto → arrow at EVERY scale for minhash (unlike simhash): the
    # relational chain shuffles the distinct (doc, shingle) STRING relation
    # and collect_set-aggregates the hash sets — costs that grow with gram
    # mass — while simhash's relational cost is a small per-token vocab.
    # Interleaved A/B: wash at sf0.1, arrow 1.39x faster at the 100x tier.
    assert shingle_df_cap is None or banned_b60 is None, (
        "shingle_df_cap computes the ban set from THIS corpus; banned_b60 "
        "freezes it — pass one or the other"
    )
    mh_backend = _minhash_sig_backend(signature_backend)
    if mh_backend == "auto":
        mh_backend = "arrow"
    if shingle_df_cap is None and banned_b60 is None and mh_backend == "arrow":
        # Uncapped path: the whole shingle→signature chain collapses to one
        # shuffle-free Arrow pass (minhash_signature_arrow). The capped path
        # below cannot — the df cap needs the global shingle-frequency
        # relation, which is exactly the shuffle the kernel removes.
        sig = eager_cache(
            minhash_signature_arrow(
                df, num_hashes, id_col, text_col, shingle_n,
                with_count=True, with_hash_set=True, n_docs=n_docs,
            )
        )
        cand = lsh_candidate_pairs(lsh_band_keys(sig, bands, rows, id_col), id_col)
        if est_min_matches:
            cand = signature_estimate_filter(
                cand, sig, num_hashes=num_hashes, min_matches=est_min_matches,
                id_col=id_col,
            )
        return verified_jaccard_pairs_from_sets(cand, sig, threshold, id_col)
    # Relational chain: the explode + md5 stage inherits the scan's
    # partitioning, so a one-split corpus runs it on ONE core — same
    # pathology (and same size gate) as the Arrow kernels' spread;
    # measured 2.9 → 1.9 s warm / 7.2 → 2.8 cold at sf0.1 on the capped
    # chain.
    df = _spread_single_partition(df, n_docs)
    base_col = None
    if banned_b60 is not None:
        sh = word_shingles_b60(df, id_col, text_col, shingle_n)
        sh = sh.join(banned_b60.select("b60"), "b60", "left_anti")
        base_col = "b60"
    elif shingle_df_cap is not None:
        # Narrow-key capped chain: shingles fold to 60-bit BIGINTs BEFORE
        # the distinct (word_shingles_b60), so the distinct, the df
        # aggregate, the anti-join, and the signature chain all move 8-byte
        # int keys — the shingle STRING never leaves the explode stage.
        # NOT a count().over(partitionBy(shingle)) window: that sends a hot
        # shingle's entire posting list to one task — the exact skew the cap
        # exists to kill. Instead: hash-aggregate the df (map-side partial
        # combine collapses the hot key before the shuffle) and anti-join
        # the ≤ |sh|/cap hot keys back out (AQE broadcasts the hot relation
        # when small, skew-splits the join when not).
        sh = word_shingles_b60(df, id_col, text_col, shingle_n)
        # The raw shingle relation has TWO consumers here — the df
        # aggregate and the anti-join's left side — so without a cache the
        # text → explode → md5-fold pass runs twice (no exchange below it
        # for reuse to fire on; the broadcast anti-join streams its left
        # side straight off the scan). Pipeline-cache it (r13): the cached
        # rows are the narrow (id, b60) pairs — 16 bytes each, the same
        # order of storage the sig relation's hash sets already pin —
        # and MEMORY_AND_DISK spills at scale. Measured at sf0.1: the
        # capped pipeline's signature fill drops ~0.8 s of its ~2.5 s.
        # SPARK_GRAFT_MHC_SHINGLE_CACHE=0 keeps the two-pass arm for A/B.
        if os.environ.get("SPARK_GRAFT_MHC_SHINGLE_CACHE", "1") != "0":
            sh = lazy_cache(sh)
        hot = (
            sh.groupBy("b60")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > shingle_df_cap)
            .select("b60")
        )
        sh = sh.join(hot, "b60", "left_anti")
        base_col = "b60"
    else:
        sh = word_shingles(df, id_col, text_col, shingle_n)
    # The shingle relation has exactly ONE consumer (the signature
    # aggregate, which also carries the per-doc size and 60-bit hash set)
    # — no cache barrier needed; it streams straight into the aggregate.
    # The signature relation feeds banding, the prefilter, and the
    # set-resident verify — the one cached relation in the pipeline.
    sig = eager_cache(
        minhash_signature(
            sh, num_hashes, id_col, with_count=True, with_hash_set=True,
            base_col=base_col,
        )
    )
    cand = lsh_candidate_pairs(lsh_band_keys(sig, bands, rows, id_col), id_col)
    if est_min_matches:
        # Two-phase on purpose: the estimate joins slim k-column signature
        # projections and kills the sub-threshold mass BEFORE the verify
        # joins attach the (wider) hash-set arrays to the survivors.
        cand = signature_estimate_filter(
            cand, sig, num_hashes=num_hashes, min_matches=est_min_matches,
            id_col=id_col,
        )
    return verified_jaccard_pairs_from_sets(cand, sig, threshold, id_col)


# --- SimHash ----------------------------------------------------------------

_HIGH_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")
_ODD_NIBBLES = ("1", "3", "5", "7", "9", "b", "d", "f")
SIMHASH_BITS = 64


def _bit_nibbles(i: int) -> tuple[int, tuple[str, ...]]:
    """Bit i → (1-based nibble position in the md5 hex string, nibble set that
    makes the bit 1). Bits 0-31 use the nibble's high bit, 32-63 its parity."""
    if i < 32:
        return i + 1, _HIGH_NIBBLES
    return i - 32 + 1, _ODD_NIBBLES


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document 64-bit SimHash: a '0'/'1' string column ``simhash`` plus
    the same bits packed into two ints (``simhash_hi`` = bits 0-31,
    ``simhash_lo`` = bits 32-63) for bit-parallel hamming.

    bit i = sign of Σ_tokens freq(token) × (±1 by bit i of md5(token), see
    ``_bit_nibbles``). The ±1 signs are a pure function of the token, so they
    are computed ONCE per distinct token (the vocabulary relation — orders of
    magnitude smaller than the (doc, token) relation) and joined back.

    The hot aggregate is PACKED, 2 bit-lanes of 32 bits per long: the vocab
    pre-packs bit i (lane 0) and bit i+32 (lane 1) of each token into
    ``p_i = bit_i + (bit_{i+32} << 32)`` with bits as 0/1, and because
    multiplication distributes over the lanes, ``freq * p_i`` accumulates
    ``S⁺_i = Σ freq·bit_i`` in the low lane and ``S⁺_{i+32}`` in the high
    lane of ONE sum — 32 packed sums + 1 total-frequency sum instead of 64
    signed sums (sign recovers exactly as s_i = 2·S⁺_i − T, so bit i =
    [2·S⁺_i > T]; integer arithmetic, bit-identical to the unpacked form
    and to the DuckDB oracle's per-bit formulation). Lanes are non-negative
    and bounded by T (the doc's token mass), so there is no inter-lane
    carry while T < 2³¹ — enforced below rather than assumed.
    """
    toks = (
        df.select(
            id_col,
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("freq"))
    )
    n_packed = SIMHASH_BITS // 2
    # Vocabulary: per-token packed 0/1 bit pair for each of the 32 lanes-pairs.
    packed_cols = []
    for i in range(n_packed):
        pos_lo, nib_lo = _bit_nibbles(i)
        pos_hi, nib_hi = _bit_nibbles(i + n_packed)
        in_lo = ", ".join(f"'{c}'" for c in nib_lo)
        in_hi = ", ".join(f"'{c}'" for c in nib_hi)
        packed_cols.append(
            F.expr(
                f"CAST(CASE WHEN substring(th, {pos_lo}, 1) IN ({in_lo})"
                f" THEN 1 ELSE 0 END AS BIGINT)"
                f" + (CAST(CASE WHEN substring(th, {pos_hi}, 1) IN ({in_hi})"
                f" THEN 1 ELSE 0 END AS BIGINT) * {1 << 32})"
            ).alias(f"p{i}")
        )
    vocab = (
        toks.select("tok")
        .distinct()
        .withColumn("th", F.md5(F.col("tok")))
        .select("tok", *packed_cols)
    )
    # no broadcast hint: the vocabulary is sublinear in the corpus but still
    # unbounded (web-scale text → billions of distinct tokens); AQE
    # broadcasts it when it is actually small
    weighted = toks.join(vocab, "tok")
    agg = weighted.groupBy(id_col).agg(
        F.sum("freq").alias("t"),
        *[F.sum(F.col("freq") * F.col(f"p{i}")).alias(f"q{i}") for i in range(n_packed)],
    )
    # Lane-overflow guard: packing is exact only while the doc's token mass
    # stays under the lane width. assert_true fails the job loudly instead
    # of wrapping silently (a >2^31-token document is pathological input,
    # not a rounding case).
    agg = agg.withColumn(
        "t",
        F.when(
            F.col("t") < F.lit(1 << 31), F.col("t")
        ).otherwise(F.raise_error(F.lit("simhash: doc token mass >= 2^31 overflows packed lanes"))),
    )
    # Integer DIV, not `/`: float division rounds the 53-bit mantissa on
    # packed values near 2^63 and corrupts the high lane.
    s_plus = {}
    for i in range(n_packed):
        s_plus[i] = F.expr(f"q{i} % {1 << 32}")
        s_plus[i + n_packed] = F.expr(f"q{i} DIV {1 << 32}")
    bit = [
        F.when(s_plus[i] * 2 > F.col("t"), 1).otherwise(0)
        for i in range(SIMHASH_BITS)
    ]
    bits_str = F.concat(*[b.cast("string") for b in bit])
    hi = sum((bit[i] * F.lit(1 << i) for i in range(32)), F.lit(0))
    lo = sum((bit[i + 32] * F.lit(1 << i) for i in range(32)), F.lit(0))
    return agg.select(
        id_col,
        bits_str.alias("simhash"),
        hi.cast("long").alias("simhash_hi"),
        lo.cast("long").alias("simhash_lo"),
    )


def sql_simhash_signatures(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of simhash_signatures as CTE bodies ending in ``sig``."""
    contrib_terms = []
    for i in range(SIMHASH_BITS):
        pos, nibbles = _bit_nibbles(i)
        in_list = ", ".join(f"'{c}'" for c in nibbles)
        contrib_terms.append(
            f"sum(CASE WHEN substring(th, {pos}, 1) IN ({in_list})"
            f" THEN freq ELSE -freq END) AS s{i}"
        )
    contribs = ",\n    ".join(contrib_terms)
    bits = ", ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(SIMHASH_BITS)
    )
    return f"""
  toks AS (
    SELECT {id_col}, tok, count(*) AS freq, md5(tok) AS th
    FROM (SELECT {id_col}, unnest(string_split_regex(lower({text_col}), '\\s+')) AS tok FROM {table})
    WHERE tok <> ''
    GROUP BY {id_col}, tok, md5(tok)
  ),
  sums AS (SELECT {id_col},
    {contribs}
    FROM toks GROUP BY {id_col}),
  sig AS (SELECT {id_col}, concat({bits}) AS simhash FROM sums)
""".strip()


def hamming_expr(a: str, b: str, n_bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two equal-length bit-string columns (pure
    substring comparison — portable to any SQL engine)."""
    terms = " + ".join(
        f"(CASE WHEN substring({a}, {i + 1}, 1) = substring({b}, {i + 1}, 1)"
        f" THEN 0 ELSE 1 END)"
        for i in range(n_bits)
    )
    return F.expr(terms)


def sql_hamming(a: str, b: str, n_bits: int = SIMHASH_BITS) -> str:
    # Chunked into parenthesized groups of 16: a flat left-nested chain of
    # 128 `+` terms exceeds DuckDB's 128-deep expression-binder recursion
    # limit; grouping bounds the tree depth at ~16 + n_bits/16.
    terms = [
        f"(CASE WHEN substring({a}, {i + 1}, 1) = substring({b}, {i + 1}, 1)"
        f" THEN 0 ELSE 1 END)"
        for i in range(n_bits)
    ]
    groups = [
        "(" + " + ".join(terms[j : j + 16]) + ")" for j in range(0, n_bits, 16)
    ]
    return " + ".join(groups)


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_signatures: bool = True,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming.

    Banding is EXACT here (pigeonhole): hamming ≤ bands−1 guarantees at least
    one of ``bands`` equal-width substrings matches, so with bands = 4 and
    max_hamming = 3 the band join has 100% recall — no verification misses.

    Scale structure (the order matters):

    1. The doc-level signature relation is PERSISTED: the DAG below is a
       diamond (banding, identical-signature pairing, and re-expansion all
       consume it) and Spark's exchange-reuse does not fire across these
       join shapes — without the persist the whole token/vocab/64-sum
       aggregate pipeline runs once per consumer. The cached relation is
       (id, 64-char string, 2 longs) per doc — orders of magnitude smaller
       than the corpus; MEMORY_AND_DISK spills if it still doesn't fit.
    2. Identical signatures COLLAPSE to one row before banding
       (``distinct()``): a dup-heavy corpus (the common case at 100 TB —
       boilerplate, mirrored pages) bands one row per distinct signature,
       so N copies of a page contribute 1 row to the band join instead of
       N rows producing N² candidate pairs inside their bucket.
    3. The band self-join runs on distinct signatures with int keys and
       bit-parallel ``bit_count(xor)`` hamming BEFORE the distinct, so the
       collision-heavy candidate mass dies before any wide operator.
    4. Re-expansion to doc pairs is JOIN-based (signature-pair relation ⋈
       signatures, twice) — no collect_list of doc ids, so a pathological
       million-copy group never materializes as one giant array row.
    """
    assert max_hamming <= bands - 1, "banding exact only for hamming <= bands-1"
    assert bands == 4 and SIMHASH_BITS == 64, "band slicing below assumes 4×16 bits"
    from ..caching import begin_pipeline, eager_cache

    begin_pipeline()
    backend = _resolve_auto_backend(
        _simhash_sig_backend(signature_backend), df, n_docs
    )
    if backend == "arrow":
        sig = simhash_signatures_arrow(df, id_col, text_col, n_docs)
    else:
        sig = simhash_signatures(df, id_col, text_col)
    if persist_signatures:
        # Persist AND eagerly fill (caching.eager_cache): the three consumers
        # below land in concurrent stages of one job, and concurrent stages
        # race to fill a lazy cache — each recomputes the full signature
        # pipeline and the persist saves nothing.
        sig = eager_cache(sig)

    # --- identical-signature pairs (hamming 0) directly from the doc level
    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        F.col("simhash").alias("simhash_a"),
        F.col("simhash_hi").alias("hi"),
        F.col("simhash_lo").alias("lo"),
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash_hi").alias("hi"),
        F.col("simhash_lo").alias("lo"),
    )
    intra = (
        sa.join(sb, ["hi", "lo"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "simhash_a",
            F.col("simhash_a").alias("simhash_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )

    # --- banded candidate generation over DISTINCT signatures
    dsig = sig.select("simhash", "simhash_hi", "simhash_lo").distinct()
    # Band keys are 16-bit slices of the packed signature (int compare beats
    # 16-char string compare in the join).
    band_key = [
        (F.col("simhash_hi") % 65536),
        (F.col("simhash_hi") / 65536).cast("long") % 65536,
        (F.col("simhash_lo") % 65536),
        (F.col("simhash_lo") / 65536).cast("long") % 65536,
    ]
    bk = dsig.select(
        "simhash",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), band_key[b].alias("band_key")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "simhash", "simhash_hi", "simhash_lo",
        F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"),
    )
    a = bk.select(
        F.col("simhash").alias("simhash_a"),
        F.col("simhash_hi").alias("hi_a"), F.col("simhash_lo").alias("lo_a"),
        "band_id", "band_key",
    )
    b = bk.select(
        F.col("simhash").alias("simhash_b"),
        F.col("simhash_hi").alias("hi_b"), F.col("simhash_lo").alias("lo_b"),
        "band_id", "band_key",
    )
    ham = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    # Deterministic signature ordering (hi, lo) lexicographic so each
    # unordered signature pair appears exactly once.
    lex_lt = (F.col("hi_a") < F.col("hi_b")) | (
        (F.col("hi_a") == F.col("hi_b")) & (F.col("lo_a") < F.col("lo_b"))
    )
    spairs = (
        a.join(b, ["band_id", "band_key"])
        .filter(lex_lt)
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("simhash_a", "hi_a", "lo_a", "simhash_b", "hi_b", "lo_b", "hamming")
        .distinct()
    )

    # --- re-expand signature pairs to doc pairs, normalized to doc_a < doc_b
    da = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash_hi").alias("hi_a"),
        F.col("simhash_lo").alias("lo_a"),
    )
    db = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash_hi").alias("hi_b"),
        F.col("simhash_lo").alias("lo_b"),
    )
    a_first = F.col("id_a") < F.col("id_b")
    inter = (
        spairs.join(da, ["hi_a", "lo_a"])
        .join(db, ["hi_b", "lo_b"])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.when(a_first, F.col("simhash_a")).otherwise(F.col("simhash_b")).alias("simhash_a"),
            F.when(a_first, F.col("simhash_b")).otherwise(F.col("simhash_a")).alias("simhash_b"),
            "hamming",
        )
    )
    return inter.unionByName(intra)


# --- SimHash-128: the wide-band scale variant --------------------------------
# The 64-bit pair query's banding stage dominates at the 100x tier because a
# template corpus CORRELATES signatures: 16-bit band keys concentrate into
# hot buckets whose in-bucket comparisons are quadratic (SCALING.md round-3
# stage split: banding +141 s of ~220). Widening the signature to the full
# 128 md5 bits gives 4 × 32-bit bands — the same pigeonhole exactness for
# hamming ≤ 3, with 2^16x more key space per band — for 2x the signature
# aggregate (64 packed sums instead of 32). Hamming-on-128-bits is a
# DIFFERENT metric than hamming-on-64 (roughly double the distance for the
# same edit), so like the df-capped minhash this sits BESIDE the 64-bit
# query as its scale sibling, not in place of it.

SIMHASH128_BITS = 128


def _hex_chars_with_bit(j: int) -> tuple[str, ...]:
    return tuple("0123456789abcdef"[v] for v in range(16) if (v >> j) & 1)


def simhash128_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document 128-bit SimHash: bit i = sign of Σ freq(token) × (±1 by
    bit (i mod 4) of md5-nibble (i div 4)) — ALL 128 md5 bits, where the
    64-bit variant uses only each nibble's high bit and parity.

    Same packed 2-lane aggregate as the 64-bit form (bit i with bit i+64
    per long): 64 packed sums + 1 total, sign recovered as 2·S⁺ > T, same
    T < 2³¹ overflow guard. Output: ``simhash128`` (128-char '0'/'1'
    string for tests/portability) and four 32-bit band ints ``sb0..sb3``
    (bits 0-31, 32-63, 64-95, 96-127) — each band int IS its LSH band key.
    """
    toks = (
        df.select(
            id_col,
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("freq"))
    )
    n_packed = SIMHASH128_BITS // 2
    packed_cols = []
    for i in range(n_packed):
        pos_lo, j_lo = i // 4 + 1, i % 4
        pos_hi, j_hi = (i + n_packed) // 4 + 1, (i + n_packed) % 4
        in_lo = ", ".join(f"'{c}'" for c in _hex_chars_with_bit(j_lo))
        in_hi = ", ".join(f"'{c}'" for c in _hex_chars_with_bit(j_hi))
        packed_cols.append(
            F.expr(
                f"CAST(CASE WHEN substring(th, {pos_lo}, 1) IN ({in_lo})"
                f" THEN 1 ELSE 0 END AS BIGINT)"
                f" + (CAST(CASE WHEN substring(th, {pos_hi}, 1) IN ({in_hi})"
                f" THEN 1 ELSE 0 END AS BIGINT) * {1 << 32})"
            ).alias(f"p{i}")
        )
    vocab = (
        toks.select("tok")
        .distinct()
        .withColumn("th", F.md5(F.col("tok")))
        .select("tok", *packed_cols)
    )
    weighted = toks.join(vocab, "tok")
    agg = weighted.groupBy(id_col).agg(
        F.sum("freq").alias("t"),
        *[
            F.sum(F.col("freq") * F.col(f"p{i}")).alias(f"q{i}")
            for i in range(n_packed)
        ],
    )
    agg = agg.withColumn(
        "t",
        F.when(F.col("t") < F.lit(1 << 31), F.col("t")).otherwise(
            F.raise_error(
                F.lit("simhash128: doc token mass >= 2^31 overflows packed lanes")
            )
        ),
    )
    s_plus = {}
    for i in range(n_packed):
        s_plus[i] = F.expr(f"q{i} % {1 << 32}")
        s_plus[i + n_packed] = F.expr(f"q{i} DIV {1 << 32}")
    bit = [
        F.when(s_plus[i] * 2 > F.col("t"), 1).otherwise(0)
        for i in range(SIMHASH128_BITS)
    ]
    bits_str = F.concat(*[b.cast("string") for b in bit])
    bands = [
        sum((bit[32 * k + r] * F.lit(1 << r) for r in range(32)), F.lit(0))
        .cast("long")
        .alias(f"sb{k}")
        for k in range(4)
    ]
    return agg.select(id_col, bits_str.alias("simhash128"), *bands)


def sql_simhash128_signatures(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of simhash128_signatures as CTE bodies ending in ``sig``
    — a mechanical doubling of :func:`sql_simhash_signatures`: bit i reads
    bit (i mod 4) of md5 hex char (i div 4) instead of the 64-bit variant's
    high-bit/parity pair, and the per-bit sign sum s_i > 0 recovers the
    identical bit to the packed-lane 2·S⁺ > T form."""
    contrib_terms = []
    for i in range(SIMHASH128_BITS):
        pos = i // 4 + 1
        in_list = ", ".join(f"'{c}'" for c in _hex_chars_with_bit(i % 4))
        contrib_terms.append(
            f"sum(CASE WHEN substring(th, {pos}, 1) IN ({in_list})"
            f" THEN freq ELSE -freq END) AS s{i}"
        )
    contribs = ",\n    ".join(contrib_terms)
    bits = ", ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(SIMHASH128_BITS)
    )
    return f"""
  toks AS (
    SELECT {id_col}, tok, count(*) AS freq, md5(tok) AS th
    FROM (SELECT {id_col}, unnest(string_split_regex(lower({text_col}), '\\s+')) AS tok FROM {table})
    WHERE tok <> ''
    GROUP BY {id_col}, tok, md5(tok)
  ),
  sums AS (SELECT {id_col},
    {contribs}
    FROM toks GROUP BY {id_col}),
  sig AS (SELECT {id_col}, concat({bits}) AS simhash128 FROM sums)
""".strip()


def simhash128_near_dup_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """128-bit SimHash near-dup pairs with hamming ≤ max_hamming — the
    wide-band scale sibling of simhash_near_dup_pairs (same four-step
    structure: cached signatures, identical-signature collapse, banded
    self-join over DISTINCT signatures with bit-parallel hamming, join-based
    re-expansion). Banding is pigeonhole-exact for hamming ≤ 3 over the
    4 × 32-bit bands; each band's key is its band int — no slicing, and the
    32-bit key space keeps template-corpus buckets ~2^16x sparser than the
    64-bit variant's 16-bit keys (the measured hot-bucket term).
    """
    assert max_hamming <= 3, "4-band pigeonhole exact only for hamming <= 3"
    from ..caching import begin_pipeline, eager_cache

    begin_pipeline()
    backend = _resolve_auto_backend(
        _simhash_sig_backend(signature_backend), df, n_docs
    )
    if backend == "arrow":
        sig = eager_cache(simhash128_signatures_arrow(df, id_col, text_col, n_docs))
    else:
        sig = eager_cache(simhash128_signatures(df, id_col, text_col))
    sbs = [f"sb{k}" for k in range(4)]

    # identical signatures (hamming 0) straight from the doc level
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("simhash128").alias("sig_a"), *sbs)
    sb_ = sig.select(F.col(id_col).alias("doc_b"), *sbs)
    intra = (
        sa.join(sb_, sbs)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sig_a").alias("simhash_a"),
            F.col("sig_a").alias("simhash_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )

    dsig = sig.select("simhash128", *sbs).distinct()
    bk = dsig.select(
        "simhash128",
        *sbs,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"), F.col(f"sb{k}").alias("band_key")
                    )
                    for k in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "simhash128", *sbs,
        F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"),
    )
    a = bk.select(
        F.col("simhash128").alias("sig_a"),
        *[F.col(f"sb{k}").alias(f"a{k}") for k in range(4)],
        "band_id", "band_key",
    )
    b = bk.select(
        F.col("simhash128").alias("sig_b"),
        *[F.col(f"sb{k}").alias(f"b{k}") for k in range(4)],
        "band_id", "band_key",
    )
    ham = sum(
        (
            F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
            for k in range(4)
        ),
        F.lit(0),
    )
    lex_lt = F.struct(*[F.col(f"a{k}") for k in range(4)]) < F.struct(
        *[F.col(f"b{k}") for k in range(4)]
    )
    spairs = (
        a.join(b, ["band_id", "band_key"])
        .filter(lex_lt)
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "sig_a", *[f"a{k}" for k in range(4)],
            "sig_b", *[f"b{k}" for k in range(4)], "hamming",
        )
        .distinct()
    )

    da = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"sb{k}").alias(f"a{k}") for k in range(4)]
    )
    db = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"sb{k}").alias(f"b{k}") for k in range(4)]
    )
    a_first = F.col("id_a") < F.col("id_b")
    inter = (
        spairs.join(da, [f"a{k}" for k in range(4)])
        .join(db, [f"b{k}" for k in range(4)])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.when(a_first, F.col("sig_a")).otherwise(F.col("sig_b")).alias("simhash_a"),
            F.when(a_first, F.col("sig_b")).otherwise(F.col("sig_a")).alias("simhash_b"),
            "hamming",
        )
    )
    return inter.unionByName(intra)


# --- SimHash index at rest: incremental near-dup against a persisted index ---
# The daily-increment workflow at 100 TB: a new batch must be near-dup-checked
# against the whole corpus, and re-signing (or even re-READING) the corpus per
# batch is the non-starter — the text is ~KBs/doc while a 128-bit signature +
# its 4 band keys is ~40 bytes/doc. Persist the signatures once; every
# increment then signs ONLY its own documents and makes one narrow pass over
# the signature index (≈0.1% of the corpus bytes, zero text reads). SimHash
# is the right family for this: the hamming metric is computed ENTIRELY from
# the stored signatures, so the incremental flags are exactly the batch
# pairs' — no estimate, no stored shingle sets (MinHash would need the sets
# for exact verify). The batch-vs-stream siblings of this contract live in
# streaming/pipeline.py; this is the batch-at-rest form.


def simhash128_index_write(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> dict:
    """Sign the corpus (same 128-bit signatures as the pair query, arrow/jvm
    backend auto like every signature site) and persist (id, simhash128,
    sb0..sb3) as the near-dup index. Rows are range-clustered on sb0 — a
    mild locality win for band-0 probes; the index's contract is its SIZE,
    not its layout (every increment scans it once)."""
    backend = _resolve_auto_backend(_simhash_sig_backend(signature_backend), df, n_docs)
    sig = (
        simhash128_signatures_arrow(df, id_col, text_col, n_docs)
        if backend == "arrow"
        else simhash128_signatures(df, id_col, text_col)
    )
    if id_col != "doc_id":  # the index schema is fixed: doc_id, simhash128, sb0..sb3
        sig = sig.withColumnRenamed(id_col, "doc_id")
    n = n_files if n_files is not None else df.rdd.getNumPartitions()
    (
        sig.repartitionByRange(max(1, n), "sb0")
        .sortWithinPartitions("sb0")
        .write.mode("overwrite")
        .parquet(path)
    )
    return {"destination": path, "mode": "overwrite", "backend": backend}


def _sig128_bands(sig: DataFrame, id_alias: str, side: str) -> DataFrame:
    bands = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("band_id"), F.col(f"sb{k}").alias("band_key"))
                for k in range(4)
            ]
        )
    ).alias("bk")
    return sig.select(
        F.col("doc_id").alias(id_alias),
        F.col("simhash128").alias(f"sig_{side}"),
        *[F.col(f"sb{k}").alias(f"{side}{k}") for k in range(4)],
        bands,
    ).select(
        id_alias, f"sig_{side}", *[f"{side}{k}" for k in range(4)],
        F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"),
    )


def simhash128_index_increment(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = True,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the increment — (doc_a, doc_b, simhash_a,
    simhash_b, hamming), the batch pair query's exact schema and exact
    flags restricted to new×old ∪ new×new (pinned against
    simhash128_near_dup_pairs over the unioned corpus). Document ids must
    be unique across the corpus and all increments (the same contract
    every keyed operator in this module carries).

    One banded join: increment bands (4·|new| rows) against increment ∪
    stored bands, pigeonhole-exact for hamming ≤ 3 like the batch form;
    the pair distinct collapses band multiplicity and the two directions
    a new-new pair is found from. ``append=True`` adds the increment's
    signatures to the index so the next increment sees them.
    """
    assert max_hamming <= 3, "4-band pigeonhole exact only for hamming <= 3"
    from ..caching import begin_pipeline, eager_cache

    begin_pipeline()
    backend = _resolve_auto_backend(
        _simhash_sig_backend(signature_backend), new_docs, n_docs
    )
    sig_new = eager_cache(
        simhash128_signatures_arrow(new_docs, id_col, text_col, n_docs)
        if backend == "arrow"
        else simhash128_signatures(new_docs, id_col, text_col)
    )
    if id_col != "doc_id":
        sig_new = sig_new.withColumnRenamed(id_col, "doc_id")
    stored = spark.read.parquet(path)
    pairs = simhash128_flags_from_signatures(
        sig_new, stored.unionByName(sig_new), max_hamming=max_hamming
    )
    if append:
        sig_new.write.mode("append").parquet(path)
    return pairs


def simhash128_flags_from_signatures(
    sig_new: DataFrame, sig_all: DataFrame, *, max_hamming: int = 3
) -> DataFrame:
    """The increment's flag core over signature relations (doc_id,
    simhash128, sb0..sb3): banded join of ``sig_new``'s bands against
    ``sig_all``'s, pigeonhole-exact for hamming ≤ 3. Shared by the batch
    index increment and streaming index maintenance — the caller decides
    what "all" means (stored ∪ new, a replay-filtered tree, ...)."""
    assert max_hamming <= 3, "4-band pigeonhole exact only for hamming <= 3"
    a = _sig128_bands(sig_new, "id_a", "a")
    b = _sig128_bands(sig_all, "id_b", "b")
    ham = sum(
        (F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}"))) for k in range(4)),
        F.lit(0),
    )
    a_first = F.col("id_a") < F.col("id_b")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.when(a_first, F.col("sig_a")).otherwise(F.col("sig_b")).alias("simhash_a"),
            F.when(a_first, F.col("sig_b")).otherwise(F.col("sig_a")).alias("simhash_b"),
            "hamming",
        )
        .distinct()
    )


# --- exact-dedup digest index: the log-structured sibling --------------------
# Same daily-increment economics as the SimHash index for EXACT dedup: the
# corpus text is hashed once, and every increment joins its own digests
# against the stored digest relation (16 bytes + keeper/count per DISTINCT
# document). Append-only with merge-on-read: each increment appends one
# delta row per distinct fingerprint it saw (min-id keeper + copy count),
# readers aggregate min(keeper)/sum(n) per fingerprint — so keeper-min
# semantics hold under ANY id order across increments (least(old_min,
# new_min) IS the union min; no monotone-id contract needed), and the index
# never rewrites on ingest. Compaction folds the log back to one row per
# fingerprint with the same staged swap as sinks.compact_parquet.

def _exact_fp(text_col: str) -> F.Column:
    # whitespace-canonicalized md5 — byte-identical to doc_exact_dedup's
    # fingerprint (workload/docs.py) and its DuckDB oracle
    return F.md5(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))


def _exact_delta(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        df.select(_exact_fp(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_index_write(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
) -> dict:
    """Hash the corpus once and persist the digest index: one row per
    distinct fingerprint — (fingerprint, keeper_doc_id, n_copies)."""
    delta = _exact_delta(df, id_col, text_col)
    n = n_files if n_files is not None else df.rdd.getNumPartitions()
    delta.repartition(max(1, n)).write.mode("overwrite").parquet(path)
    return {"destination": path, "mode": "overwrite"}


def exact_dedup_index_read(spark: SparkSession, path: str) -> DataFrame:
    """Merge-on-read canonical view: min(keeper)/sum(n) over the delta log —
    exactly doc_exact_dedup's relation for everything ingested so far."""
    return (
        spark.read.parquet(path)
        .groupBy("fingerprint")
        .agg(
            F.min("keeper_doc_id").alias("keeper_doc_id"),
            F.sum("n_copies").alias("n_copies"),
        )
    )


def exact_dedup_index_increment(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = True,
) -> DataFrame:
    """Per-document exact-dup verdicts for the increment — (doc_id,
    fingerprint, keeper_doc_id, is_dup) where keeper is the min id across
    EVERYTHING ingested so far plus this batch (pinned equal to the batch
    hash-groupBy over the union). ``append=True`` logs this batch's delta
    rows so the next increment sees it. The corpus text is never re-read —
    only the digest log is."""
    from pyspark.sql import Window

    fp = new_docs.select(
        F.col(id_col).alias("doc_id"), _exact_fp(text_col).alias("fingerprint")
    )
    new_min = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    scored = fp.withColumn("new_min", new_min)
    stored = exact_dedup_index_read(spark, path).select(
        "fingerprint", F.col("keeper_doc_id").alias("stored_keeper")
    )
    out = (
        scored.join(stored, "fingerprint", "left")
        .withColumn(
            "keeper_doc_id",
            F.least(F.coalesce("stored_keeper", "new_min"), F.col("new_min")),
        )
        .select(
            "doc_id", "fingerprint", "keeper_doc_id",
            (F.col("doc_id") != F.col("keeper_doc_id")).alias("is_dup"),
        )
    )
    if append:
        _exact_delta(new_docs, id_col, text_col).write.mode("append").parquet(path)
    return out


def exact_dedup_index_compact(spark: SparkSession, path: str) -> dict:
    """Fold the delta log to one row per fingerprint (staged rewrite +
    recoverable swap — the data always exists under some path)."""
    from ..sinks import _swap_into_place

    folded = exact_dedup_index_read(spark, path)
    tmp = path.rstrip("/") + "__compacting"
    folded.write.mode("overwrite").parquet(tmp)
    _swap_into_place(spark, tmp, path)
    return {"destination": path, "rows": spark.read.parquet(path).count()}


def exact_dedup_index_health(
    spark: SparkSession,
    path: str,
    *,
    max_files: int = 256,
    max_fold: float = 8.0,
) -> dict:
    """When to run :func:`exact_dedup_index_compact` — the exact family's
    drift is purely PHYSICAL (no frozen statistic to go stale: merge-on-read
    is exact forever), so health is the two costs the log-structured layout
    accretes: file COUNT (every increment appends parts; listing + footer
    reads tax every stored read) and the FOLD factor rows/distinct
    fingerprints (how many delta rows the merge-on-read aggregate folds per
    key — pure overhead a compact removes). One metadata listing + one
    aggregate over the 16-byte digest log; corpus text is never touched."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    n_files = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n_files += 1
    agg = (
        spark.read.parquet(path)
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("fingerprint").alias("distinct"),
        )
        .collect()[0]
    )
    fold = agg["rows"] / max(1, agg["distinct"])
    return {
        "files": n_files,
        "rows": int(agg["rows"]),
        "distinct_fingerprints": int(agg["distinct"]),
        "fold_factor": round(fold, 2),
        "max_files": max_files,
        "max_fold": max_fold,
        "compact_recommended": n_files > max_files or fold > max_fold,
    }


# --- duplicate-span analysis (exact substring-dedup shape) -------------------


def duplicate_span_stats(
    df: DataFrame, *, n: int = 8, id_col: str = "doc_id", text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document duplicated-span statistics — the exact-substring-dedup
    shape of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed for Spark: instead of a suffix array, a
    position-indexed word n-gram relation whose corpus-wide occurrence
    counts mark every position that participates in a span appearing ≥ 2
    times anywhere in the corpus (other documents OR elsewhere in the same
    document). Consecutive duplicated positions are grouped into runs with
    the gaps-and-islands window (pos − row_number), giving the longest
    duplicated span per document — the signal exact-substring dedup
    pipelines cut on.

    Output: (id, n_grams, n_dup_grams, dup_frac, max_dup_run) for every
    document with at least ``n`` words. Linear in the corpus.

    Scale shape (round-9 dup-only rewrite): narrow posexplode (grams are
    the first 60 bits of the md5 digest folded to BIGINT — 8-byte
    join/aggregate keys instead of 32-char strings; a 60-bit collision is
    deterministic and identical in every engine, so results stay
    bit-equal to the oracle twin by construction) → hash-aggregate
    occurrence counts FILTERED to duplicated grams only (measured at the
    100x tier: 4.7M of 36.9M distinct grams — the join's build side
    shrinks 8x) → join back on the uniform digest key (a boilerplate
    gram IS a hot join key; AQE skew-split applies) keeping ONLY dup
    positions (9.7M of 41.9M rows at 100x) → ONE per-document window
    pass whose run lengths carry BOTH outputs (n_dup_grams = Σ run
    lengths — every dup position is in exactly one maximal run —
    max_dup_run = max). ``n_grams`` never needed the gram relation at
    all: it is size(words) − n + 1 straight off the document scan, so
    the old full-width count join and the 41.9M-row per-doc aggregate
    are gone. The position-gram relation feeds the count aggregate and
    the join probe side, so it is pipeline-cached.
    """
    from ..caching import begin_pipeline, eager_cache

    begin_pipeline()
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    parts = " , ' ', ".join(f"element_at(w, i+{j})" for j in range(n))
    # one-split corpora run the posexplode + md5 stage on ONE core — same
    # gated spread as the signature kernels (results are per-row, invariant)
    occ = (
        _spread_single_partition(
            df.select(F.col(id_col), words.alias("w")), n_docs
        )
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"IF(size(w) >= {n}, "
                    f"transform(sequence(1, size(w) - {n - 1}), "
                    f"i -> CAST(conv(substring(md5(concat({parts})), 1, 15), 16, 10)"
                    f" AS BIGINT)), array())"
                )
            ).alias("pos0", "gram"),
        )
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "gram")
    )
    occ = eager_cache(occ)
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    dup_pos = occ.join(dup_grams, "gram").select(id_col, "pos")
    from pyspark.sql import Window

    w_doc = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w_doc))
        .groupBy(id_col, "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy(id_col)
        .agg(
            F.max("rl").alias("max_dup_run"),
            F.sum("rl").alias("n_dup_grams"),
        )
    )
    per_doc = df.select(
        F.col(id_col), (F.size(words) - (n - 1)).cast("long").alias("n_grams")
    ).filter(F.col("n_grams") >= 1)
    from ..functions import pround

    return per_doc.join(runs, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        pround(
            F.coalesce(F.col("n_dup_grams"), F.lit(0)) * 1.0 / F.col("n_grams"), 6
        ).alias("dup_frac"),
        F.coalesce(F.col("max_dup_run"), F.lit(0)).cast("long").alias("max_dup_run"),
    )



# --- per-row SimHash: the streaming-safe formulation -------------------------


def with_rowwise_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a 64-bit SimHash computed entirely WITHIN each row — one
    higher-order `aggregate` over packed 2-lane sums (split → md5 per
    token → fold), no groupBy, no vocabulary relation, no shuffle.

    Bit-identical to :func:`simhash_signatures` (equivalence test-pinned):
    same packed-lane arithmetic and the same T < 2³¹ overflow guard; the
    batch form deduplicates md5 work through the vocab relation while this
    recomputes md5 per token occurrence. The trade makes it legal where
    streaming forbids a stateful aggregation ahead of the stateful
    operator — per-row signatures are a narrow stateless projection, so a
    stream can band-key and route documents with no pre-aggregation.

    Appends: ``simhash_hi``/``simhash_lo`` (bits 0-31 / 32-63, matching
    simhash_signatures) and ``sb0..sb3`` 16-bit band-key ints (sb0 = bits
    0-15 … sb3 = bits 48-63 — integer equality ⟺ the batch banding's
    substring-of-bit-string equality). The packed fold lands in interim
    ``_p``/``_t`` columns that are dropped; referencing them from 68 bit
    expressions keeps Catalyst from inlining the fold (CollapseProject
    refuses to duplicate non-cheap expressions), so the aggregate runs
    once per row.
    """
    n_packed = SIMHASH_BITS // 2
    lane_terms = []
    for i in range(n_packed):
        pos_lo, nib_lo = _bit_nibbles(i)
        pos_hi, nib_hi = _bit_nibbles(i + n_packed)
        in_lo = ", ".join(f"'{c}'" for c in nib_lo)
        in_hi = ", ".join(f"'{c}'" for c in nib_hi)
        lane_terms.append(
            f"CAST(CASE WHEN substring(h, {pos_lo}, 1) IN ({in_lo})"
            f" THEN 1 ELSE 0 END AS BIGINT)"
            f" + (CAST(CASE WHEN substring(h, {pos_hi}, 1) IN ({in_hi})"
            f" THEN 1 ELSE 0 END AS BIGINT) * {1 << 32})"
        )
    lanes = ", ".join(lane_terms)
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    hashes = f"transform({toks}, t -> md5(t))"
    packed = (
        f"aggregate({hashes}, array_repeat(CAST(0 AS BIGINT), {n_packed}),"
        f" (acc, h) -> zip_with(acc, array({lanes}), (a, b) -> a + b))"
    )
    t_guarded = (
        f"CASE WHEN size({toks}) < {1 << 31} THEN size({toks}) ELSE"
        f" CAST(raise_error('simhash: doc token mass >= 2^31 overflows packed"
        f" lanes') AS INT) END"
    )

    def bit(i: int) -> str:
        if i < n_packed:
            s_plus = f"(element_at(_p, {i + 1}) % {1 << 32})"
        else:
            s_plus = f"(element_at(_p, {i - n_packed + 1}) DIV {1 << 32})"
        return f"(CASE WHEN {s_plus} * 2 > _t THEN 1 ELSE 0 END)"

    def packed_int(lo_bit: int, n_bits: int) -> str:
        return " + ".join(
            f"CAST({bit(lo_bit + r)} AS BIGINT) * {1 << r}" for r in range(n_bits)
        )

    out = (
        df.withColumn("_p", F.expr(packed))
        .withColumn("_t", F.expr(t_guarded))
        .withColumn("simhash_hi", F.expr(packed_int(0, 32)))
        .withColumn("simhash_lo", F.expr(packed_int(32, 32)))
        .withColumn("sb0", F.expr(packed_int(0, 16)))
        .withColumn("sb1", F.expr(packed_int(16, 16)))
        .withColumn("sb2", F.expr(packed_int(32, 16)))
        .withColumn("sb3", F.expr(packed_int(48, 16)))
    )
    return out.drop("_p", "_t")


def with_rowwise_simhash_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow twin of :func:`with_rowwise_simhash`: same output columns
    (``simhash_hi``/``simhash_lo``/``sb0..sb3``), bit-identical signatures,
    but md5 + majority vote run in a vectorized numpy kernel instead of the
    interpreted higher-order-function fold.

    Why: Spark evaluates lambda HOFs (``aggregate``/``zip_with``) per
    element in the interpreter, outside whole-stage codegen — the round-6
    streaming probe measured the JVM fold at ~1.4 ms/doc, the single
    largest per-micro-batch term (bigger than all state machinery
    combined). hashlib's C md5 plus numpy column sums cut that to ~40
    µs/doc at the same bit contract.

    Split-semantics safety: tokenization stays JVM-SIDE (``split(lower())``
    with Java regex ``\\s+`` and Java lowercasing) and the kernel receives
    the token array — so the only cross-language surface is md5 itself,
    which is standard. bit i<32 = high bit of md5 hex nibble i; bit i>=32 =
    parity of nibble i-32 (see ``_bit_nibbles``); majority = count*2 > n.
    """
    import numpy as np
    import pandas as pd

    toks_expr = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    with_toks = df.withColumn("_toks", F.expr(toks_expr))
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema = (
        f"{in_fields}, simhash_hi bigint, simhash_lo bigint, "
        "sb0 bigint, sb1 bigint, sb2 bigint, sb3 bigint"
    )
    in_cols = [f.name for f in df.schema]
    w32 = (1 << np.arange(32, dtype=np.int64)).astype(np.int64)
    w16 = (1 << np.arange(16, dtype=np.int64)).astype(np.int64)

    def kernel(it):
        import hashlib

        for pdf in it:
            n_rows = len(pdf)
            if not n_rows:
                continue
            toks_col = pdf["_toks"]
            lens = np.fromiter((len(t) for t in toks_col), dtype=np.int64, count=n_rows)
            starts = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            n_flat = int(starts[-1])
            digests = np.empty((n_flat, 16), dtype=np.uint8)
            pos = 0
            md5 = hashlib.md5
            for toks in toks_col:
                for t in toks:
                    digests[pos] = np.frombuffer(md5(t.encode("utf-8")).digest(), dtype=np.uint8)
                    pos += 1
            # hex nibbles 0..31 of each digest
            nib = np.empty((n_flat, 32), dtype=np.uint8)
            nib[:, 0::2] = digests >> 4
            nib[:, 1::2] = digests & 0xF
            bits_lo = ((nib & 8) >> 3).astype(np.int64)  # simhash bits 0-31
            bits_hi = (nib & 1).astype(np.int64)         # simhash bits 32-63
            # per-doc column sums via cumsum difference (reduceat misreads
            # empty docs); empty docs get count 0 -> 0*2 > 0 false -> bit 0,
            # matching the JVM fold's zero-accumulator behavior
            def doc_counts(bits):
                c = np.zeros((n_flat + 1, 32), dtype=np.int64)
                if n_flat:
                    np.cumsum(bits, axis=0, out=c[1:])
                return c[starts[1:]] - c[starts[:-1]]
            cnt_lo = doc_counts(bits_lo)
            cnt_hi = doc_counts(bits_hi)
            t_tot = lens[:, None]
            b_lo = (cnt_lo * 2 > t_tot).astype(np.int64)  # bits 0-31
            b_hi = (cnt_hi * 2 > t_tot).astype(np.int64)  # bits 32-63
            out = pdf[in_cols].copy()
            out["simhash_hi"] = b_lo @ w32
            out["simhash_lo"] = b_hi @ w32
            out["sb0"] = b_lo[:, :16] @ w16
            out["sb1"] = b_lo[:, 16:] @ w16
            out["sb2"] = b_hi[:, :16] @ w16
            out["sb3"] = b_hi[:, 16:] @ w16
            yield out

    return with_toks.mapInPandas(kernel, out_schema)


# --- Arrow batch signature backend -------------------------------------------
# The relational signature forms above (explode → vocab join → 64/128 packed
# sums) pay three shuffles per corpus: (doc, tok) groupBy, vocab distinct, and
# the per-doc aggregate. That construction is what the DuckDB oracle replays,
# so it stays as the correctness anchor — but signatures are a pure per-row
# function of the text, and the streaming probe measured the same md5+majority
# math at ~40 µs/doc in a numpy kernel vs ~1.4 ms/doc interpreted. The batch
# backend below computes the IDENTICAL signature relation in ONE shuffle-free
# mapInPandas pass (equivalence test-pinned bit-for-bit), with a per-batch
# unique-token digest cache standing in for the vocab relation's md5 dedup.
# Select per call (``signature_backend=``) or per session
# (``SPARK_GRAFT_SIMHASH_SIG`` ∈ {arrow, jvm}; default arrow).


def _simhash_signatures_arrow(
    df: DataFrame, id_col: str, text_col: str, n_bits: int,
    n_docs: int | None = None,
) -> DataFrame:
    """Shared Arrow kernel behind :func:`simhash_signatures_arrow` (64-bit)
    and :func:`simhash128_signatures_arrow`.

    Bit contracts (identical to the relational forms):
    - 64:  bit i<32 = high bit of md5 hex nibble i; bit i≥32 = parity of
      nibble i−32 (``_bit_nibbles``).
    - 128: bit i = bit (i mod 4) of nibble (i div 4)
      (``_hex_chars_with_bit``).

    Tokenization stays JVM-side (``filter(split(lower(text), '\\s+'), ...)``
    — Java regex + Java lowercasing, the exact explode+filter semantics of
    the relational path); docs with zero tokens are dropped BEFORE the
    kernel because the relational form's explode emits no row for them.
    Majority is 2·count > token-mass with the same t < 2³¹ overflow guard
    (ValueError here, raise_error there). Per-doc bit counts run over
    bounded sub-chunks via ``np.add.reduceat`` (legal: empty docs are
    pre-filtered, so every reduceat segment is non-empty).
    """
    import numpy as np
    import pandas as pd

    assert n_bits in (64, 128)
    toks_expr = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    with_toks = _spread_single_partition(
        df.select(id_col, F.expr(toks_expr).alias("_toks"))
        .filter(F.size("_toks") > 0),
        n_docs,
    )
    id_type = dict(df.dtypes)[id_col]
    sig_name = "simhash" if n_bits == 64 else "simhash128"
    band_names = (
        ["simhash_hi", "simhash_lo"] if n_bits == 64 else [f"sb{k}" for k in range(4)]
    )
    out_schema = f"{id_col} {id_type}, {sig_name} string, " + ", ".join(
        f"{b} bigint" for b in band_names
    )
    w32 = (1 << np.arange(32, dtype=np.int64)).astype(np.int64)
    shifts128 = np.tile(np.arange(4, dtype=np.uint8), 32)
    SUB = 4096  # docs per reduceat sub-chunk — bounds the (flat × n_bits) bits array

    def kernel(it):
        import hashlib

        md5 = hashlib.md5
        for pdf in it:
            n_rows = len(pdf)
            if not n_rows:
                continue
            toks_col = pdf["_toks"]
            lens = np.fromiter((len(t) for t in toks_col), dtype=np.int64, count=n_rows)
            if (lens >= (1 << 31)).any():
                raise ValueError(
                    "simhash: doc token mass >= 2^31 overflows packed lanes"
                )
            # unique-token digest cache: md5 runs once per distinct token in
            # the batch (the vocab relation's dedup, without the join).
            # Vectorized round 14 (guide §4.2 — per-batch Python cost): the
            # per-token dict loop was ~0.45 s per 270k-token batch of pure
            # interpreter work; pd.factorize computes the IDENTICAL
            # first-appearance code assignment in C (~10x), leaving Python
            # only one md5 per DISTINCT token.
            flat_toks = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks_col]
            )
            tok_idx, uniq_toks = pd.factorize(flat_toks)
            tok_idx = tok_idx.astype(np.int64, copy=False)
            uniq = [md5(t.encode("utf-8")).digest() for t in uniq_toks]
            dig = np.frombuffer(b"".join(uniq), dtype=np.uint8).reshape(-1, 16)
            nib = np.empty((len(uniq), 32), dtype=np.uint8)
            nib[:, 0::2] = dig >> 4
            nib[:, 1::2] = dig & 0xF
            if n_bits == 64:
                bits_u = np.concatenate([(nib >> 3) & 1, nib & 1], axis=1)
            else:
                bits_u = (np.repeat(nib, 4, axis=1) >> shifts128) & 1
            bits_u = bits_u.astype(np.int32)

            starts = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            b_all = np.empty((n_rows, n_bits), dtype=bool)
            for c0 in range(0, n_rows, SUB):
                c1 = min(c0 + SUB, n_rows)
                flat = bits_u[tok_idx[starts[c0] : starts[c1]]]
                seg = (starts[c0:c1] - starts[c0]).astype(np.int64)
                cnt = np.add.reduceat(flat, seg, axis=0)
                b_all[c0:c1] = cnt * 2 > lens[c0:c1, None]

            chars = (b_all.astype(np.uint8) + 48).tobytes()
            out = pd.DataFrame({id_col: pdf[id_col].to_numpy()})
            out[sig_name] = [
                chars[i * n_bits : (i + 1) * n_bits].decode("ascii")
                for i in range(n_rows)
            ]
            bi = b_all.astype(np.int64)
            for k, b in enumerate(band_names):
                out[b] = bi[:, 32 * k : 32 * (k + 1)] @ w32
            yield out

    return with_toks.mapInPandas(kernel, out_schema)


def simhash_signatures_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Arrow twin of :func:`simhash_signatures` — identical output relation
    (id, 64-char ``simhash``, ``simhash_hi``/``simhash_lo``), one
    shuffle-free mapInPandas pass instead of three shuffles."""
    return _simhash_signatures_arrow(df, id_col, text_col, SIMHASH_BITS, n_docs)


def simhash128_signatures_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Arrow twin of :func:`simhash128_signatures` — identical output relation
    (id, 128-char ``simhash128``, ``sb0..sb3``)."""
    return _simhash_signatures_arrow(df, id_col, text_col, SIMHASH128_BITS, n_docs)


def _minhash_sig_backend(override: str | None) -> str:
    """Resolve the batch MinHash signature backend (uncapped path only)."""
    return _sig_backend("SPARK_GRAFT_MINHASH_SIG", override, "minhash")


def minhash_signature_arrow(
    df: DataFrame,
    num_hashes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    with_count: bool = False,
    with_hash_set: bool = False,
    n_docs: int | None = None,
) -> DataFrame:
    """Arrow twin of ``word_shingles → minhash_signature``: the identical
    signature relation (minh_0..k, optional ``n_sh``/``hs``) in ONE
    shuffle-free mapInPandas pass over the docs — no shingle explode, no
    (id, shingle) distinct shuffle, no per-doc aggregate shuffle.

    Bit contract matches the relational chain exactly:
    - words = JVM ``split(lower(text), '\\s+')`` (Java regex + lowercase,
      empty leading/middle tokens preserved — the split array crosses to
      the kernel, so tokenization never re-implements Java semantics);
    - shingles = distinct space-joined word n-grams; docs with < n words
      emit nothing (the relational explode's empty-array case);
    - b60 = first 15 md5 hex digits as int (md5 cached per distinct
      shingle per batch); minh_j = min over shingles of
      (a_j·(b60 mod M) + c_j) mod M with ``_mix_constants``;
    - ``n_sh`` = distinct-shingle count; ``hs`` = the doc's b60 set,
      SORTED (collect_set order is undefined; downstream array_intersect
      is order-insensitive, sorting just makes the relation deterministic).

    APPLIES ONLY to the uncapped path: a shingle_df_cap needs the global
    shingle document-frequency relation, which is precisely the shuffle
    this kernel removes.
    """
    import numpy as np
    import pandas as pd

    words_expr = f"split(lower({text_col}), '\\\\s+')"
    with_toks = _spread_single_partition(
        df.select(id_col, F.expr(words_expr).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n),
        n_docs,
    )
    id_type = dict(df.dtypes)[id_col]
    fields = [f"{id_col} {id_type}"] + [f"minh_{j} bigint" for j in range(num_hashes)]
    if with_count:
        fields.append("n_sh bigint")
    if with_hash_set:
        fields.append("hs array<bigint>")
    out_schema = ", ".join(fields)
    ac = _mix_constants(num_hashes)
    a_vec = np.array([a for a, _ in ac], dtype=np.int64)
    c_vec = np.array([c for _, c in ac], dtype=np.int64)
    SUB = 2048  # docs per reduceat sub-chunk bounds the (flat × k) h array

    def kernel(it):
        import hashlib

        md5 = hashlib.md5
        for pdf in it:
            n_rows = len(pdf)
            if not n_rows:
                continue
            b60_of: dict = {}
            doc_b60: list = []
            # n_sh counts distinct shingle STRINGS (the relational count(*)
            # over the distinct (id, shingle) relation); hs is the b60 SET —
            # they differ only on a 60-bit collision, but the contract is
            # bit-exactness, so track both.
            n_sh_list: list = []
            for toks in pdf["_toks"]:
                sset = set()
                seen = set()
                for i in range(len(toks) - shingle_n + 1):
                    s = " ".join(toks[i : i + shingle_n])
                    if s in sset:
                        continue
                    sset.add(s)
                    b = b60_of.get(s)
                    if b is None:
                        b = int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                        b60_of[s] = b
                    seen.add(b)
                doc_b60.append(np.fromiter(seen, dtype=np.int64, count=len(seen)))
                n_sh_list.append(len(sset))
            lens = np.fromiter((len(s) for s in doc_b60), dtype=np.int64, count=n_rows)
            starts = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            minh = np.empty((n_rows, num_hashes), dtype=np.int64)
            flat_all = np.concatenate(doc_b60) if n_rows else np.empty(0, np.int64)
            for c0 in range(0, n_rows, SUB):
                c1 = min(c0 + SUB, n_rows)
                flat = flat_all[starts[c0] : starts[c1]]
                h = (flat[:, None] % MINHASH_M) * a_vec[None, :] + c_vec[None, :]
                h %= MINHASH_M
                seg = (starts[c0:c1] - starts[c0]).astype(np.int64)
                minh[c0:c1] = np.minimum.reduceat(h, seg, axis=0)
            out = pd.DataFrame({id_col: pdf[id_col].to_numpy()})
            for j in range(num_hashes):
                out[f"minh_{j}"] = minh[:, j]
            if with_count:
                out["n_sh"] = np.asarray(n_sh_list, dtype=np.int64)
            if with_hash_set:
                out["hs"] = [np.sort(s) for s in doc_b60]
            yield out

    return with_toks.mapInPandas(kernel, out_schema)


# --- MinHash index at rest ---------------------------------------------------
# The last dedup family to get an at-rest increment story (SimHash:
# simhash128_index_*, exact: exact_dedup_index_*, ANN: similarity.ivf_*).
# MinHash differs from SimHash in one structural way: hamming is computable
# from the 16-byte signature alone, but EXACT Jaccard verification needs the
# shingle hash SETS — so this index stores three column groups with three
# read profiles, and parquet column pruning is what makes each stage pay
# only for what it touches:
#   doc_id + bk0..bk{b-1}   (~8 + 32b bytes/doc)  -> the banded candidate join
#   minh_0..minh_{k-1}      (k x 8 bytes/doc)     -> the signature-estimate
#                                                    prefilter
#   n_sh + hs               (~8 bytes x shingles) -> exact verify, read last,
#                                                    after two pruning stages
# An increment therefore near-dup-checks a daily batch against the full
# corpus with ZERO corpus text reads and zero re-shingling/re-signing; the
# widest column (hs, ~compressed-corpus order) is only scanned by the final
# verify join over estimate-surviving candidates.
#
# Geometry is FROZEN at write time in a `<path>_model` sidecar (like the IVF
# centroid sidecar, similarity.py:1201): increments must sign with the SAME
# hash family (num_hashes fixes _mix_constants), band split, estimate
# threshold and shingle width, or flags would not be comparable to a batch
# run. With a shingle_df_cap, the banned hot-shingle set (df > cap at write
# time) persists as a `<path>_banned` RELATION (distributed anti-join on
# read — the hot set is |shingles|/cap-bounded, not driver-bounded) and is
# frozen like a production stop-list: shingles that only cross the cap after
# later increments stay un-banned until a same-geometry rewrite, the
# documented (and deterministic) drift of any incremental df statistic.

def _bk_cols(bands: int, rows: int) -> list[Column]:
    """Band keys as COLUMNS (md5 of the band's minhashes — identical bytes
    to lsh_band_keys' exploded form) so the index scan can prune to them."""
    return [
        F.md5(
            F.concat_ws("|", *[F.col(f"minh_{b * rows + r}") for r in range(rows)])
        ).alias(f"bk{b}")
        for b in range(bands)
    ]


def _bk_bands(sig: DataFrame, bands: int, id_alias: str) -> DataFrame:
    """(id, band_id, band_key) from stored bk columns — the explode the
    batch derives from minh columns, but reading only 32-byte keys."""
    arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), F.col(f"bk{b}").alias("band_key"))
            for b in range(bands)
        ]
    )
    return sig.select(F.col("doc_id").alias(id_alias), F.explode(arr).alias("bk")).select(
        id_alias, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


def minhash_index_write(
    df: DataFrame,
    path: str,
    *,
    num_hashes: int = 20,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
    est_min_matches: int | None = None,
    shingle_df_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> dict:
    """Sign the corpus (signature bytes identical to minhash_lsh_pairs at
    the same geometry — same b60 fold, same _mix_constants family) and
    persist (doc_id, minh_*, bk*, n_sh, hs) as the near-dup index, plus the
    frozen geometry in ``<path>_model`` and, when capped, the banned
    hot-shingle relation in ``<path>_banned``. Rows are range-clustered on
    bk0 (band-0 locality; the contract is the index's SIZE and column
    pruning, not its row order). Increments append one row per doc — no
    merge-on-read needed (keyed rows are immutable); compact files with
    sinks.compact_parquet when the file count grows."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    if est_min_matches is None:
        est_min_matches = num_hashes // 2
    spark = df.sparkSession
    capped = shingle_df_cap is not None
    if capped:
        # Frozen ban list: the batch pipeline's hot-key aggregate, persisted.
        # Spread first (ADVICE r10): a one-split corpus would otherwise run
        # the explode+md5 chain on one core — the pathology
        # minhash_lsh_pairs's relational chain guards against.
        sh = word_shingles_b60(
            _spread_single_partition(df, n_docs), id_col, text_col, shingle_n
        )
        hot = (
            sh.groupBy("b60")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > shingle_df_cap)
            .select("b60")
        )
        hot.write.mode("overwrite").parquet(path + "_banned")
        sh = sh.join(spark.read.parquet(path + "_banned"), "b60", "left_anti")
        sig = minhash_signature(
            sh, num_hashes, id_col, with_count=True, with_hash_set=True,
            base_col="b60",
        )
        backend = "relational"
    else:
        backend = _minhash_sig_backend(signature_backend)
        if backend == "auto":
            backend = "arrow"
        if backend == "arrow":
            sig = minhash_signature_arrow(
                df, num_hashes, id_col, text_col, shingle_n,
                with_count=True, with_hash_set=True, n_docs=n_docs,
            )
        else:
            sig = minhash_signature(
                _spread_single_partition(
                    word_shingles(df, id_col, text_col, shingle_n), n_docs
                ),
                num_hashes, id_col, with_count=True, with_hash_set=True,
            )
    if id_col != "doc_id":  # fixed index schema, like simhash128_index_write
        sig = sig.withColumnRenamed(id_col, "doc_id")
    sig = sig.select("*", *_bk_cols(bands, rows))
    n = n_files if n_files is not None else df.rdd.getNumPartitions()
    (
        sig.repartitionByRange(max(1, n), "bk0")
        .sortWithinPartitions("bk0")
        .write.mode("overwrite")
        .parquet(path)
    )
    model = local_frame(
        spark,
        [
            (
                int(num_hashes), int(bands), float(threshold),
                int(est_min_matches), int(shingle_n),
                int(shingle_df_cap) if capped else None,
            )
        ],
        "num_hashes int, bands int, threshold double, est_min_matches int, "
        "shingle_n int, shingle_df_cap int",
    )
    model.coalesce(1).write.mode("overwrite").parquet(path + "_model")
    # a (re)write re-freezes the ban set from today's dfs: reset the drift
    # _stats history so minhash_index_health baselines on post-rewrite
    # increments (only when a sidecar exists — never create clutter; a
    # metadata existence probe, not a Spark read job, and a transiently
    # unreadable sidecar cannot masquerade as absent)
    jvm = spark._jvm
    stats_p = jvm.org.apache.hadoop.fs.Path(path + "_stats")
    stats_fs = stats_p.getFileSystem(spark._jsc.hadoopConfiguration())
    if stats_fs.exists(stats_p):
        local_frame(
            spark,
            [], "seq long, n_docs long, n_cand long, cand_per_doc double"
        ).coalesce(1).write.mode("overwrite").parquet(path + "_stats")
    return {
        "destination": path,
        "mode": "overwrite",
        "backend": backend,
        "model_path": path + "_model",
        "banned_path": path + "_banned" if capped else None,
    }


def minhash_index_increment(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    append: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    signature_backend: str | None = None,
    n_docs: int | None = None,
    record_stats: bool = False,
) -> DataFrame:
    """Verified near-dup pairs INVOLVING the increment — (doc_a, doc_b, n_a,
    n_b, inter, jaccard), minhash_lsh_pairs' exact schema and exact flags
    restricted to new x old ∪ new x new (pinned against the batch query over
    the unioned corpus at the frozen geometry). Document ids must be unique
    across the corpus and all increments.

    One banded join: increment bands (b·|new| rows) against increment ∪
    stored bands; then the frozen-geometry signature-estimate prefilter and
    the set-resident exact verify, both reading ONLY their column group
    from the index. ``append=True`` adds the increment's signature rows so
    the next increment sees them."""
    from ..caching import begin_pipeline, eager_cache

    begin_pipeline()
    meta = spark.read.parquet(path + "_model").collect()[0]
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    rows = num_hashes // bands
    if meta["shingle_df_cap"] is not None:
        sh = word_shingles_b60(
            _spread_single_partition(new_docs, n_docs),
            id_col, text_col, meta["shingle_n"],
        )
        sh = sh.join(spark.read.parquet(path + "_banned"), "b60", "left_anti")
        sig_new = minhash_signature(
            sh, num_hashes, id_col, with_count=True, with_hash_set=True,
            base_col="b60",
        )
    else:
        backend = _minhash_sig_backend(signature_backend)
        if backend == "auto":
            backend = "arrow"
        if backend == "arrow":
            sig_new = minhash_signature_arrow(
                new_docs, num_hashes, id_col, text_col, meta["shingle_n"],
                with_count=True, with_hash_set=True, n_docs=n_docs,
            )
        else:
            sig_new = minhash_signature(
                _spread_single_partition(
                    word_shingles(new_docs, id_col, text_col, meta["shingle_n"]),
                    n_docs,
                ),
                num_hashes, id_col, with_count=True, with_hash_set=True,
            )
    if id_col != "doc_id":
        sig_new = sig_new.withColumnRenamed(id_col, "doc_id")
    sig_new = eager_cache(sig_new.select("*", *_bk_cols(bands, rows)))
    stored = spark.read.parquet(path)
    pairs = minhash_flags_from_signatures(
        sig_new, stored.unionByName(sig_new),
        num_hashes=num_hashes, bands=bands,
        est_min_matches=meta["est_min_matches"], threshold=meta["threshold"],
    )
    if record_stats:
        # Stop-list-drift statistic (scripts/drift_lab.py calibration): the
        # banded candidate count of this increment against the index — the
        # first stage of the flag join, re-counted on the cached signature
        # relations (one extra count, no extra signing). Unbanned
        # newly-hot shingles inflate exactly this number;
        # minhash_index_health turns its growth into the rewrite trigger.
        n_new = sig_new.count()
        n_cand = (
            _bk_bands(sig_new, bands, "id_a")
            .join(
                _bk_bands(stored.unionByName(sig_new), bands, "id_b"),
                ["band_id", "band_key"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        try:
            seq = spark.read.parquet(path + "_stats").count()
        except Exception:
            seq = 0
        local_frame(
            spark,
            [(int(seq), int(n_new), int(n_cand),
              float(n_cand) / max(1, n_new))],
            "seq long, n_docs long, n_cand long, cand_per_doc double",
        ).coalesce(1).write.mode("append").parquet(path + "_stats")
    if append:
        sig_new.write.mode("append").parquet(path)
    return pairs


def minhash_index_health(
    spark: SparkSession, path: str, *, ratio_threshold: float = 2.0
) -> dict:
    """Evaluate the stop-list-drift rewrite trigger from the ``_stats``
    sidecar that ``minhash_index_increment(record_stats=True)`` appends.

    Statistic: candidates per increment doc in the banded join. The ban
    set is frozen at build time, so boilerplate that crosses the df cap
    only AFTER later increments keeps minhashing — and every unbanned hot
    shingle shows up as extra band collisions before any verify work.

    Measured (scripts/drift_lab.py, 100x tier — SCALING.md round 11),
    there are TWO drift modes and this trigger covers one of them:

    - adversarial boilerplate is COST-visible long before it is
      recall-visible: a template-spam stream tripped the 2x line at 150
      spam docs (0.03% of the corpus) while frozen-vs-fresh flag recall
      was still 0.97 — THIS trigger's mode;
    - organic drift is NOT cost-visible: cand/doc held 1.00x while
      recall walked 0.976 → 0.904 over +10% corpus growth (the per-doc
      collision rate is constant; only totals grow). Cover it with the
      free growth fraction — appended rows / indexed rows, a metadata
      count — and rewrite on ~+5% growth to hold recall above ~0.95.

    Baseline = median cand_per_doc of the first 3 recorded increments;
    current = the latest. ``rewrite_recommended`` when current/baseline >
    ``ratio_threshold`` (default 2x — roughly the point where the extra
    candidate mass rivals the signing cost a rewrite would pay once).
    Run :func:`minhash_index_rewrite` with the full corpus to re-freeze
    the ban set from today's dfs; stats history is cleared by the rewrite
    (a fresh baseline starts with the next increment)."""
    import statistics as _st

    try:
        rows = sorted(
            spark.read.parquet(path + "_stats").collect(),
            key=lambda r: r["seq"],
        )
    except Exception:
        return {"stats_rows": 0, "rewrite_recommended": False,
                "reason": "no _stats sidecar (record_stats never enabled)"}
    if not rows:
        return {"stats_rows": 0, "rewrite_recommended": False,
                "reason": "empty _stats sidecar"}
    baseline = _st.median(r["cand_per_doc"] for r in rows[:3])
    current = rows[-1]["cand_per_doc"]
    ratio = current / max(baseline, 1e-9)
    return {
        "stats_rows": len(rows),
        "baseline_cand_per_doc": round(baseline, 3),
        "current_cand_per_doc": round(current, 3),
        "ratio": round(ratio, 3),
        "ratio_threshold": ratio_threshold,
        "rewrite_recommended": ratio > ratio_threshold,
    }


def minhash_flags_from_signatures(
    sig_new: DataFrame,
    sig_all: DataFrame,
    *,
    num_hashes: int,
    bands: int,
    est_min_matches: int,
    threshold: float,
) -> DataFrame:
    """The MinHash increment's flag core over signature relations carrying
    bk* band-key columns plus minh_*/n_sh/hs: banded candidates (new ×
    all), the signature-estimate prefilter, the set-resident exact verify.
    Shared by the batch index increment and streaming index maintenance."""
    cand = (
        _bk_bands(sig_new, bands, "id_a")
        .join(_bk_bands(sig_all, bands, "id_b"), ["band_id", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .distinct()
    )
    if est_min_matches:
        cand = signature_estimate_filter(
            cand, sig_all, num_hashes=num_hashes, min_matches=est_min_matches
        )
    return verified_jaccard_pairs_from_sets(cand, sig_all, threshold)


# --- benchmark decontamination ----------------------------------------------

def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark-contamination report — the decontamination
    pass a training corpus runs against its eval sets (word n-gram overlap,
    the GPT-3/PaLM-style discipline; ``n`` = 8 by default, smaller for
    stricter recall): (id, n_grams, n_overlap, overlap_frac,
    is_contaminated), one row per training doc including gram-less shorts
    (n_grams = 0, frac NULL, never contaminated).

    Scale shape: the BENCHMARK side is bounded by construction (eval sets
    are thousands of documents, not corpora) — its distinct 60-bit gram-hash
    set broadcasts, so the training corpus is one narrow scan + explode with
    NO shuffle of text or gram strings (the b60 fold from word_shingles_b60
    keeps every key 8 bytes); the per-doc aggregate partial-combines
    map-side. Contamination is membership against the UNION of benchmark
    grams — which benchmark doc matched doesn't change the keep/drop
    verdict, so no train×bench pair relation ever materializes.
    """
    tg = word_shingles_b60(train, id_col, text_col, n)
    bg = (
        word_shingles_b60(bench, bench_id_col, bench_text_col, n)
        .select("b60")
        .distinct()
    )
    hits = (
        tg.join(F.broadcast(bg.withColumn("__hit", F.lit(1))), "b60", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_overlap"),
        )
    )
    from ..functions import pround

    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            pround(
                F.col("n_overlap").cast("double") / F.nullif(F.col("n_grams"), F.lit(0)),
                6,
            ).alias("overlap_frac"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("is_contaminated"),
        )
    )


def minhash_index_rewrite(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int | None = None,
    signature_backend: str | None = None,
    n_docs: int | None = None,
) -> dict:
    """Same-geometry rebuild of a MinHash index — the repair verb for
    stop-list drift: the frozen ``<path>_banned`` set only knows shingles
    that were hot at WRITE time, so after enough increments the real df of
    some boilerplate crosses the cap unbanned. Re-signing the (current)
    corpus under the geometry frozen in ``<path>_model`` recomputes the
    ban set from today's df statistic while keeping every knob that makes
    flags comparable (hash family, band split, estimate threshold,
    shingle width) — increments before and after the rewrite speak the
    same geometry. ``df`` must be the full corpus the index should cover;
    the index stores signatures, not text, so a rebuild is the one
    operation that re-reads the corpus."""
    spark = df.sparkSession
    meta = spark.read.parquet(path + "_model").collect()[0]
    return minhash_index_write(
        df, path,
        num_hashes=meta["num_hashes"], bands=meta["bands"],
        threshold=meta["threshold"], shingle_n=meta["shingle_n"],
        est_min_matches=meta["est_min_matches"],
        shingle_df_cap=meta["shingle_df_cap"],
        id_col=id_col, text_col=text_col, n_files=n_files,
        signature_backend=signature_backend, n_docs=n_docs,
    )
