"""Similarity search over embedding columns (array<float>).

Every top-k tier is one skeleton (SURVEY.md §2.11): a candidate
generator pairs each query with corpus rows, a scorer attaches a
similarity, :func:`_top` keeps the k best per query (ties to the
lowest id), and an optional exact re-rank re-scores that shortlist
with the float dot and ranks it again::

    candidates -> score -> _top -> [exact dot -> _top]

The seven tiers are compositions of it:
  * ``cosine_topk``  — all pairs (broadcast queries), exact dot. The
    exactness baseline: O(|corpus| * |queries|), one pass, no state.
  * ``ann_topk_lsh`` — pairs sharing a random-hyperplane bucket, exact
    dot. Planes are pseudo-random vectors derived from the portable
    hash, so the oracle re-derives them.
  * ``ivf_topk``     — pairs in the query's ``n_probe`` nearest IVF
    lists (:func:`_probes`), exact dot.
  * ``sq8_topk``     — all pairs, int8 scalar-quantized dot.
  * ``ivf_sq8_topk`` — IVF probe, int8 dot down to ``rerank * k``,
    exact re-rank.
  * ``pq_topk``      — all codes, product-quantization lookup-table dot
    (:func:`_pq_lut`) down to ``rerank * k``, exact re-rank
    (:func:`_pq_rerank`).
  * ``ivf_pq_topk``  — IVF probe, PQ lookup-table dot, exact re-rank.

The pair generators — :func:`similarity_pairs` and
:func:`incremental_semantic_pairs` here, the six in ``dedup`` and
``fuzzy_pairs`` in ``linkage`` — share a second skeleton, a bounded
candidate set per block, then verify::

    stage sides -> [cap] -> _pair_join -> verify -> project

  * :func:`_pair_join` — the blocked candidate join: equality on the
    block (or candidate-key) columns, an id order (``<``; ``!=`` for a
    directed measure; none between two populations) and the caller's
    cheap prunes.
  * the cap — :func:`cap_blocks` drops every block over a population
    cap; :func:`_cap_probed` does the same for an incremental probe,
    counting index and batch together.
  * verify — either on the join's own columns (:func:`_dot_pairs` for
    vectors; n-gram Jaccard, SimHash and edit distance likewise), or by
    id when the sets are too wide to ship through every block
    (:func:`_verify_by_id`: distinct id pairs, sets joined back, the
    score bound once as a column).

The text side stages its sets with :func:`_shingle_sets` and, for the
prefix filters, :func:`_rarity_keyed` / :func:`_elements`. Each
generator keeps its own threshold predicate, because each is pinned to
its oracle's.

Dot products run as JVM expressions in double precision — no Python
UDF, no collect. Embeddings in the fixtures are L2-normalized, so dot
== cosine; ``cosine=True`` divides by norms for the general case.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streaming_parquet_spark.functions.portable import (
    MERSENNE31,
    dot_expr,
    ordered_words_expr,
    round_to_col,
    shingles_expr,
    word_hashes_expr,
)
from streaming_parquet_spark.staging import (
    release_materialized,  # noqa: F401  re-export, see _materialize
    spread_input,
    stage,
)

#: The names staging had before ``staging.py``, kept as plain
#: re-exports only for ``perfbench/``: ``spans.py`` wraps both by module
#: attribute in traced runs and ``workloads.py`` imports
#: ``release_materialized`` from here. Everything else stages through
#: ``streaming_parquet_spark.staging``.
_materialize = stage


def _dot(a: str, b: str, dims: int | None = None) -> F.Column:
    """Fixed-width ``dims`` unrolls the dot into a codegen-able sum (see
    dot_expr) — ~5x over the interpreted HOF fold on pair joins."""
    return F.expr(dot_expr("spark", a, b, dims))


def _norm(a: str, dims: int | None = None) -> F.Column:
    return F.sqrt(F.expr(dot_expr("spark", a, a, dims)))


def _at(dialect: str, arr: str, pos: int) -> str:
    """The 1-based element ``pos`` of array ``arr``: ``element_at`` in
    Spark, a subscript in the DuckDB oracle dialect."""
    return f"element_at({arr}, {pos})" if dialect == "spark" else f"{arr}[{pos}]"


def _flat(v: str, dims: int, prefix: str = "") -> list[F.Column]:
    """Vector column ``v`` as ``dims`` double columns ``{prefix}x{i}``.
    One F.expr parse per column, not per-dim Column folds: 64 dims x
    several Py4J-wrapped calls each is measurable DRIVER time per gate
    build (see kmeans_step)."""
    return [
        F.expr(f"CAST({_at('spark', v, i + 1)} AS DOUBLE) AS {prefix}x{i}")
        for i in range(dims)
    ]


def _flat_dot(a: str, b: str, dims: int) -> F.Column:
    """Dot of two :func:`_flat` vectors given their column prefixes —
    SQL ``+`` associates left, the same summation order as the array
    dot, so the result is bit-identical to it."""
    return F.expr(" + ".join(f"({a}{i} * {b}{i})" for i in range(dims)))


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The query side every tier ranks for: (query_id, qv)."""
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )


def _top(
    df: DataFrame, score: str, k: int, by: str, rank: str = "rank"
) -> DataFrame:
    """The ranking rule of every tier: number each query's rows by
    ``score`` descending, ties to the lowest ``by``, and keep ranks
    ``<= k``. The window is partitioned by query_id, so Spark plans a
    WindowGroupLimit that keeps only k rows per partition before the
    shuffle."""
    w = W.partitionBy("query_id").orderBy(F.col(score).desc(), F.col(by))
    return df.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def _neighbors(df: DataFrame, k: int, by: str) -> DataFrame:
    """:func:`_top` on ``sim_raw``, projected to the tiers' output:
    query_id, neighbor_id (from ``by``), sim (rounded 4dp), rank."""
    return _top(df, "sim_raw", k, by).select(
        "query_id",
        # no self-alias: it would add a rename to the gate plans
        by if by == "neighbor_id" else F.col(by).alias("neighbor_id"),
        round_to_col("sim_raw", 4).alias("sim"),
        "rank",
    )


def cap_blocks(
    df: DataFrame, block_cols: list[str], max_rows: int
) -> DataFrame:
    """Drop every row of a block whose population exceeds ``max_rows`` —
    the hot-bucket guard for blocked pairwise stages (LSH band buckets,
    simhash blocks, embedding LSH buckets).

    Why a hard cap and not AQE: AQE's skew-join splits a hot partition's
    WORK across tasks, but a self-join on the block key still emits
    |block|^2 candidate pairs — a single 10M-row boilerplate bucket at
    100 TB is 10^14 pairs no matter how it's parallelized. The standard
    pipeline mitigation (used by the big web-corpus dedup runs) is to
    exclude over-full buckets from the pairwise stage entirely: a bucket
    that large is near-always boilerplate that exact/span dedup already
    handles, or a sign the banding parameters are undersized
    (:func:`planes_for` / raise the band rows ``r``).

    Plan: groupBy(block) count (map-side partial agg — one row per
    distinct block per input partition moves) -> filter -> left_semi
    back on the block key. Both sides hash-partition on the SAME key the
    downstream self-join uses, so the exchange aligns with the join's.
    Deterministic (population counts, no sampling) — oracle-able.

    NULL block keys never match an equi-join (here or in the downstream
    pairwise join), so NULL-keyed rows drop out either way."""
    keep = _blocks_within(df, block_cols, max_rows)
    return df.join(keep, list(block_cols), "left_semi")


def _blocks_within(df: DataFrame, on: list[str], max_rows: int) -> DataFrame:
    """The distinct ``on`` keys of ``df`` whose population is at most
    ``max_rows`` — the one hot-block rule of every capped pair stage."""
    return (
        df.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__block_n"))
        .filter(F.col("__block_n") <= max_rows)
        .select(*on)
    )


def _cap_probed(
    index: DataFrame, batch: DataFrame, on: list[str], max_rows: int
) -> tuple[DataFrame, DataFrame]:
    """:func:`cap_blocks` for an incremental probe: the cap counts the
    COMBINED index ∪ batch population of each block (append-safe — it
    matches capping the self-join over corpus ∪ batch), and returns the
    (index, batch) pair with over-full blocks removed from both.

    Only PROBED blocks are counted: the index is first pruned to the
    batch's blocks by a batch-sized broadcast semi-join. A block the
    batch never touches can neither produce a candidate nor change a
    probed block's count, and aggregating it would cost an O(index) key
    shuffle per probe (on a partitioned index the prune also lets
    partition pruning cover the count)."""
    probed = batch.select(*on).dropDuplicates()
    index = index.join(F.broadcast(probed), on, "left_semi")
    ok = _blocks_within(
        index.select(*on).unionByName(batch.select(*on)), on, max_rows
    )
    return (
        index.join(F.broadcast(ok), on, "left_semi"),
        batch.join(F.broadcast(ok), on, "left_semi"),
    )


def _pair_join(
    a: DataFrame,
    b: DataFrame,
    on: Sequence[str] = (),
    order: str | None = "<",
    blocks: Sequence[str] = (),
    prune: Sequence[str | F.Column] = (),
) -> DataFrame:
    """The blocked candidate join of every pair generator: ``a`` and
    ``b`` (aliased ``a`` / ``b``) equal on each candidate-key column
    ``on``, then ``a.id {order} b.id`` (``<`` for symmetric pairs,
    ``!=`` for directed ones, None when the ids come from two
    populations), then equal on each caller ``blocks`` column, then the
    caller's cheap prune predicates (Columns or SQL over ``a.*`` /
    ``b.*``). The equalities become the join keys, so the quadratic
    term is bounded by the largest block; the conjunct order fixes the
    order of the null filters Spark infers from them."""
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in on]
    if order is not None:
        cond.append(F.expr(f"a.id {order} b.id"))
    cond += [F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocks]
    cond += [F.expr(p) if isinstance(p, str) else p for p in prune]
    return a.alias("a").join(b.alias("b"), reduce(and_, cond))


def _verify_by_id(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    name: str,
    score: F.Column,
    keep: F.Column,
    ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Verify a :func:`_pair_join` by id: its distinct (``a.id``,
    ``b.id``) pairs as ``ids``, each side's set joined back by id
    (``sets_a`` / ``sets_b`` are (id, set) relations; the sets arrive as
    ``wa`` / ``wb``), the score bound once as column ``name``, then the
    caller's ``keep`` predicate, projected to (*ids, name).

    The candidate join carries only ids (and block keys), never the
    sets: a document sits in many blocks, and shipping its set through
    every one of them would multiply the shuffle by that fan-out."""
    ia, ib = ids

    def payload(p: str, sets: DataFrame) -> F.Column:
        col = F.col(f"s{p}.{sets.columns[1]}")
        # no self-alias: it would add a rename to the gate plans
        return col if sets.columns[1] == f"w{p}" else col.alias(f"w{p}")

    return (
        cand.select(F.col("a.id").alias(ia), F.col("b.id").alias(ib))
        .dropDuplicates([ia, ib])
        .join(sets_a.alias("sa"), F.col(ia) == F.col("sa.id"))
        .join(sets_b.alias("sb"), F.col(ib) == F.col("sb.id"))
        .select(ia, ib, payload("a", sets_a), payload("b", sets_b))
        .withColumn(name, score)
        .filter(keep)
        .select(ia, ib, name)
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, blocks: list[str]
) -> DataFrame:
    """Stage (id, *blocks, sh): each document's distinct 32-bit word
    ``n``-gram shingle hashes. Set operations on bigint hashes are
    several times cheaper per pair than on shingle strings, and the
    oracle hashes identically."""
    sh = word_hashes_expr(
        "spark", shingles_expr("spark", ordered_words_expr("spark", text_col), n)
    )
    return stage(  # "bytes": input already spread_input'd
        spread_input(df).select(
            F.col(id_col).alias("id"),
            *blocks,
            F.array_distinct(F.expr(sh)).alias("sh"),
        ),
    )


def _rarity_keyed(raw: DataFrame, blocks: list[str]) -> DataFrame:
    """Stage the :func:`_shingle_sets` ``raw`` as (id, *blocks, sh) with
    every element re-keyed as df(h)*2^32 + h and sorted: the prefix
    filters' global order, ASCENDING DOCUMENT FREQUENCY. The key is
    injective and a bijection on the corpus's element set, so
    intersection and union sizes over the keyed arrays equal those over
    the raw hashes (exact while per-corpus df < 2^31). Empty sets drop.

    width=("hash", "id"), an explicit hash(id) repartition at the
    parallelism width before the persist: keeps the co-partitioning the
    verify join back on id reuses (a round-robin respread measured
    SLOWER — it destroys it) while pinning the cached width against
    cached-plan AQE coalescing, which would otherwise collapse this
    byte-tiny keyed-array staging to one partition and serialize the
    prefix/verify stages."""
    # filter AFTER the persist: pushed below the projection it would
    # inline the whole shingle pipeline a second time (no CSE across a
    # substituted alias), doubling the staging pass
    ex = raw.filter(F.expr("size(sh) > 0")).select(
        "id", *blocks, F.explode("sh").alias("h")
    )
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return stage(
        ex.join(dfreq, "h")
        .groupBy("id", *blocks)
        .agg(
            F.sort_array(
                F.collect_list(F.expr("df * CAST(4294967296 AS BIGINT) + h"))
            ).alias("sh")
        ),
        width=("hash", "id"),
    )


def _ceil_frac(num: int, den: int, x: str) -> str:
    """ceil(num * x / den) in pure integer arithmetic."""
    return f"({num} * {x} + {den} - 1) DIV {den}"


def _elements(
    keyed: DataFrame, blocks: list[str], num: int | None = None,
    den: int | None = None,
) -> DataFrame:
    """(id, *blocks, sz, pos, h): the elements of each
    :func:`_rarity_keyed` set with their 1-based rank ``pos`` in the
    global order and the set size ``sz``. With ``num``/``den`` only the
    PREFIX of length |s| - ceil(num/den * |s|) + 1: any pair whose
    overlap reaches ceil(num/den * |s|) shares an element inside it."""
    arr = "sh" if num is None else (
        f"slice(sh, 1, size(sh)"
        f" - CAST({_ceil_frac(num, den, 'size(sh)')} AS INT) + 1)"
    )
    return keyed.select(
        "id",
        *blocks,
        F.expr("size(sh)").alias("sz"),
        F.posexplode(F.expr(arr)).alias("pos0", "h"),
    ).select("id", *blocks, "sz", (F.col("pos0") + 1).alias("pos"), "h")


def _dot_pairs(
    joined: DataFrame, sim_raw: F.Column, threshold: float,
    ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Score a :func:`_pair_join` of vector sides: (*ids, sim) for every
    pair whose rounded dot reaches ``threshold``.

    The dot is bound ONCE as the named column ``sim_raw`` and every
    later reference (round, NaN guard, threshold) goes through the
    column, not the tree: with the 64-term sum inlined into the join
    condition and the round_to_col projection, the plan carried ~9
    copies of the 256-node expression and its whole-stage-codegen unit
    took >1 s to compile — paid on every run whose generated class had
    been evicted from the codegen cache by the surrounding query sweep.
    Catalyst's CollapseProject keeps the binding (it does not inline
    non-cheap aliases referenced more than once), so the generated
    source stays small and the dot is still evaluated once per
    candidate pair."""
    return (
        joined.withColumn("sim_raw", sim_raw)
        .withColumn("sim", round_to_col("sim_raw", 4))
        .filter(F.col("sim") >= threshold)
        .select(F.col("a.id").alias(ids[0]), F.col("b.id").alias(ids[1]), "sim")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine: bool = False,
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Output: query_id, neighbor_id, sim (rounded 4dp), rank.
    Plan: broadcast(queries) nested-loop join -> window top-k. The window
    is partitioned by query_id, so WindowGroupLimit keeps only k rows per
    partition before the final shuffle.
    """
    q = _queries(queries, id_col, vec_col)
    # The probe side does all the dot-product work — spread it when the
    # source scan is unsplittable (no-op on production layouts).
    c = spread_input(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
    )
    sim = _dot("qv", "cv", dims)
    if cosine:
        sim = sim / (_norm("qv", dims) * _norm("cv", dims))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim_raw", sim)
    )
    return _neighbors(scored, k, "neighbor_id")


def similarity_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    dims: int | None = None,
    max_block_rows: int | None = None,
) -> DataFrame:
    """All pairs with dot similarity >= threshold (optionally blocked).
    Unblocked is O(n^2) — test/bench scale only; at 100 TB always pass a
    block (an LSH bucket from ``with_lsh_signature``, a label, ...) and
    a ``max_block_rows`` hot-bucket cap (see :func:`cap_blocks` — a
    near-identical-embedding pile makes one bucket quadratic no matter
    how well :func:`planes_for` sized the average).

    The signature relation is staged once (see ``staging.stage``) so
    the self-join does not recompute it per branch and the join strategy
    is chosen from exact stats.

    With ``dims`` the vectors are flattened to one primitive double
    column per component before the join: the pair similarity is then a
    64-term multiply-add over flat doubles — fully codegen-friendly —
    instead of element_at over array data inside the join condition
    (measured 3x on a bucketed pair join; results bit-identical, same
    left-to-right summation). The id inequality is listed before the
    similarity conjunct so the cheap predicate culls half the candidate
    pairs before any arithmetic runs."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    if dims is not None:
        # width="cluster" (explicit repartition — AQE never coalesces it):
        # this staging feeds BOTH sides of the pairwise dot join with no
        # exchange in between, so the cached partition count IS the
        # quadratic stage's parallelism. spread_input alone does not
        # guarantee width here — on a DERIVED input (e.g. an ivf_assign
        # aggregate) it declines to repartition, and the byte-tiny
        # flattened staging then collapses under cached-plan AQE
        # coalescing, serializing the pair scoring (measured: the
        # semantic-dedup gate's exec tripled).
        base = stage(
            spread_input(df.select(*cols)).select(
                "id", *(["blk"] if block_col else []), *_flat("v", dims)
            ),
            width="cluster",
        )
        sim_raw = _flat_dot("a.x", "b.x", dims)
    else:
        # width="cluster" for the same reason. No inner spread_input
        # here — unlike the flattened branch (whose inner spread
        # parallelizes the 64-way flatten projection), the projection is
        # trivial, so the staging's repartition alone guarantees width
        # and a second round-robin would just chain an identical
        # exchange.
        base = stage(df.select(*cols), width="cluster")
        sim_raw = F.expr(dot_expr("spark", "a.v", "b.v"))
    blocks = ["blk"] if block_col else []
    if block_col and max_block_rows is not None:
        base = cap_blocks(base, blocks, max_block_rows)
    return _dot_pairs(
        _pair_join(base, base, blocks=blocks), sim_raw, threshold
    )


def _plane_component(plane: int, dim: int) -> str:
    """Deterministic pseudo-random plane component in [-1, 1): a portable
    arithmetic PRN from (plane, dim) — reproducible in the oracle."""
    h = f"(CAST({plane * 1_000_003 + 7} AS BIGINT) * {dim + 1} * 2654435761) % {MERSENNE31}"
    return f"(CAST({h} AS DOUBLE) / {MERSENNE31} * 2 - 1)"


def lsh_plane_dot(vec_col: str, plane: int, dims: int, dialect: str = "spark") -> str:
    """dot(vec, plane_p) as a portable expression (plane derived
    arithmetically, never materialized)."""
    terms = " + ".join(
        f"CAST({_at(dialect, vec_col, d + 1)} AS DOUBLE)"
        f" * {_plane_component(plane, d)}"
        for d in range(dims)
    )
    return f"({terms})"


def planes_for(n_rows: int, target_bucket_rows: int = 256,
               lo: int = 2, hi: int = 30) -> int:
    """Size the random-hyperplane signature width to the corpus so the
    expected bucket population (n / 2^planes) stays ~``target_bucket_rows``.

    This is the fix for the one genuine cliff the sf1 scale smoke ever
    caught (BENCH_DETAIL sf1_note): a FIXED plane count means bucket
    population grows linearly with the corpus and within-bucket pairwise
    work quadratically — 10x data ran 37x slower.  Growing planes by
    ~log2(scale_factor) bits keeps per-bucket verify cost constant and
    restores near-linear scaling.  Rounded (not ceil'd) log2 so the
    population lands within 0.7–1.4x of the target either side."""
    import math

    if n_rows <= target_bucket_rows:
        return lo
    p = round(math.log2(n_rows / target_bucket_rows))
    return max(lo, min(hi, p))


def n_centroids_for(n_rows: int, target_cluster_rows: int = 250,
                    lo: int = 2) -> int:
    """Size an IVF / SemDeDup centroid count so the expected cluster
    population stays ~``target_cluster_rows``: k = n / target.  Same
    principle as :func:`planes_for` — per-cluster pairwise (SemDeDup) or
    per-posting-list scan (IVF probe) cost is quadratic/linear in
    cluster population, so k must grow linearly with the corpus for the
    per-cluster budget to hold.  At 100 TB feed this to
    :func:`fit_ivf_centroids` (k is also the KMeans sample's k)."""
    return max(lo, round(n_rows / max(1, target_cluster_rows)))


def with_lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 8,
    dims: int = 64,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """b-bit random-hyperplane signature: bucket id in [0, 2^planes).
    Vectors in the same bucket are ANN candidates; expected bucket
    population is n / 2^planes — tune ``planes`` so buckets fit the
    pairwise verify budget."""
    bits = []
    for p in range(planes):
        d = lsh_plane_dot(vec_col, p, dims, "spark")
        bits.append(f"(CASE WHEN {d} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return df.withColumn(out_col, F.expr("(" + " + ".join(bits) + ")"))


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (max dot). Output: id, cluster, v.

    Plan: broadcast(centroids) nested-loop -> per-id argmax via max_by
    aggregation — one narrow shuffle on id. At 100 TB the centroid set
    comes from a sampled KMeans fit (pyspark.ml.clustering.KMeans) and
    the assignment pass writes a partitioned-by-cluster table (the
    posting lists); the query path below is unchanged.
    """
    c = centroids.select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    )
    v = spread_input(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    scored = v.join(F.broadcast(c)).withColumn(
        "aff", F.expr(dot_expr("spark", "v", "cent_v", dims))
    )
    # Argmax as a partial-aggregating max_by rather than a rank window:
    # the NLJ output combines map-side (n rows shuffle instead of
    # n * n_centroids), and the generated code is one agg stage instead
    # of sort + window (~1.5 s less one-time codegen/JIT on first run).
    # Tie-break matches the previous orderBy(aff desc, cent_id asc):
    # struct ordering is lexicographic, so max(aff, -cent_id) picks the
    # highest affinity and then the LOWEST centroid id.
    return (
        scored.groupBy("id")
        .agg(
            F.max_by(
                F.struct(F.col("cent_id"), F.col("v")),
                F.struct(F.col("aff"), (-F.col("cent_id")).alias("nc")),
            ).alias("m")
        )
        .select("id", F.col("m.cent_id").alias("cluster"), F.col("m.v").alias("v"))
    )


def fit_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_pct: int | None = None,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """TRAINED IVF coarse centroids: a deterministic-sample KMeans fit
    (``pyspark.ml.clustering.KMeans``, fixed seed) returning a
    centroid DataFrame in the exact shape every IVF operator accepts
    as ``centroids=`` — (id_col, vec_col) with centroid ids
    0..n_centroids-1.  This is the real-centroid path the
    lowest-id stand-in documents (`ivf_topk` docstring): at 100 TB
    recall hinges on centroids that follow the data distribution, and
    the fit runs on a SAMPLE (KMeans cost is O(sample * k * iters),
    independent of corpus size) while assignment stays a full
    broadcast pass.

    ``sample_pct``: deterministic percentage sample via the portable
    id hash (NOT df.sample — that depends on partition layout, so the
    fit would not be reproducible across cluster sizes). None = fit on
    the full corpus (fixtures / small corpora).

    Not DuckDB-oracle-able: KMeans' float reductions are not
    bit-portable across engines, so the gate for this path is the
    pytest recall floor (tests/test_operators.py), not a value hash.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from streaming_parquet_spark.functions.portable import hash_bucket_expr

    sample = corpus.select(F.col(id_col), F.col(vec_col))
    if sample_pct is not None:
        bucket = hash_bucket_expr("spark", id_col, 100)
        sample = sample.filter(F.expr(bucket) < int(sample_pct))
    vecs = sample.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(
        k=int(n_centroids), seed=int(seed), maxIter=int(max_iter),
        initMode="k-means||",
    ).fit(vecs)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        rows, f"{id_col} bigint, {vec_col} array<double>"
    )


def write_posting_lists(
    assigned: DataFrame,
    table: str,
) -> None:
    """Materialize an IVF coarse assignment as the ingest-time
    POSTING-LIST table: one partition directory per cluster, so a
    probe of ``n_probe`` clusters reads ``n_probe / n_centroids`` of
    the data — via static partition pruning for literal cluster sets
    and dynamic partition pruning (DPP) for the broadcast probe join
    the ANN tiers build.  This is the declared at-scale layout in
    `ivf_sq8_topk`/`ivf_pq_topk`: build the assignment once at ingest,
    query it many times through ``assigned=``."""
    (
        assigned.select("id", "cluster", "v")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .format("parquet")
        .saveAsTable(table)
    )


def read_posting_lists(spark: SparkSession, table: str) -> DataFrame:
    """Read a posting-list table written by ``write_posting_lists``
    back into the (id, cluster, v) shape the ANN tiers accept as
    ``assigned=``."""
    return spark.table(table).select("id", "cluster", "v")


def write_ann_index(
    corpus: DataFrame,
    table: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus's IVF state as the persisted INCREMENTAL
    SEMANTIC-DEDUP / ANN INDEX: ``{table}_centroids`` (the frozen
    coarse quantizer) and ``{table}_postings`` (id, v, cluster — one
    partition directory per cluster, the :func:`write_posting_lists`
    layout).  The embedding-side twin of the text index
    (``dedup.write_lsh_index``): a new ingest batch probes the stored
    posting lists (:func:`incremental_semantic_pairs`) instead of
    re-running the corpus self-join, so per-batch cost scales with the
    batch and the touched clusters — the corpus is assigned exactly
    once, at its own ingest.

    ``dims`` (the flattened-dot width) is pinned as a table property
    and every probe/append reads it back: a probe whose dot expression
    differed from the build's would break the bit-equality contract
    with ``similarity_pairs`` over corpus ∪ batch.  The CENTROIDS are
    frozen at build time — that is what makes increments composable
    (an append under re-fit centroids would strand earlier postings in
    stale clusters); re-fit (:func:`fit_ivf_centroids`) and rebuild
    when drift matters.

    ``mode="append"`` (via :func:`append_to_ann_index`) assigns a
    batch under the STORED centroids and appends its posting rows."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode: {mode}")
    spark = corpus.sparkSession
    cent_t, post_t = f"{table}_centroids", f"{table}_postings"
    if mode == "append":
        stored_dims = _ann_index_dims(spark, table)
        if stored_dims != dims:
            raise ValueError(
                f"append dims={dims} != index dims={stored_dims}"
            )
        cents = read_ann_centroids(spark, table, id_col, vec_col)
    else:
        cents = centroids
        (
            centroids.select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).cast("array<double>").alias("cent_v"),
            )
            .write.mode("overwrite")
            .format("parquet")
            .saveAsTable(cent_t)
        )
    assigned = ivf_assign(corpus, cents, id_col, vec_col, dims)
    (
        assigned.select("id", "v", "cluster")
        .write.mode(mode)
        .partitionBy("cluster")
        .format("parquet")
        .saveAsTable(post_t)
    )
    if mode == "overwrite":
        spark.sql(
            f"ALTER TABLE {post_t} SET TBLPROPERTIES "
            f"('maw.ann.dims'='{'' if dims is None else int(dims)}')"
        )


def _ann_index_dims(spark: SparkSession, table: str) -> int | None:
    """Read back the flattened-dot width pinned on ``{table}_postings``."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}_postings").collect()
    props = {r["key"]: r["value"] for r in rows}
    try:
        raw = props["maw.ann.dims"]
    except KeyError:
        raise ValueError(
            f"{table}_postings is not an ANN index (missing maw.ann.dims)"
        ) from None
    return int(raw) if raw else None


def read_ann_centroids(
    spark: SparkSession,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The frozen coarse quantizer of an ANN index, in the shape every
    IVF operator accepts as ``centroids=``."""
    return spark.table(f"{table}_centroids").select(
        F.col("cent_id").alias(id_col), F.col("cent_v").alias(vec_col)
    )


def append_to_ann_index(
    batch: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch (typically :func:`incremental_semantic_dedup`
    survivors) to an existing ANN index under the index's OWN frozen
    centroids and pinned dims — the maintenance half of the incremental
    loop: probe, keep survivors, append survivors, repeat per batch."""
    spark = batch.sparkSession
    write_ann_index(
        batch, table, centroids=None, id_col=id_col, vec_col=vec_col,
        dims=_ann_index_dims(spark, table), mode="append",
    )


def incremental_semantic_pairs(
    new_df: DataFrame,
    table: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate embedding pairs between a NEW batch and a
    persisted ANN index (:func:`write_ann_index`) — the incremental
    ingest path: (new_id, corpus_id, sim), bit-identical to the cross
    pairs ``similarity_pairs(corpus ∪ batch, block_col='cluster')``
    would emit under the same centroids, without touching the corpus
    embeddings outside the probed clusters.

    Plan (batch << corpus, the production shape): the stored centroids
    broadcast into the batch's assignment pass; the batch's assigned
    relation then BROADCASTS into the postings scan, so the candidate
    join prunes posting-list partitions dynamically (DPP on the
    partition column ``cluster``) and the corpus never shuffles.  The
    exact dot re-verifies every candidate — the flattened
    one-primitive-column-per-component form when the index pinned
    ``dims``, matching ``similarity_pairs`` bit-for-bit.

    ``max_block_rows``: hot-cluster guard computed over the COMBINED
    postings ∪ batch population (append-safe, matching the self-join
    semantics of ``similarity_pairs(corpus ∪ batch,
    max_block_rows=...)``)."""
    spark = new_df.sparkSession
    dims = _ann_index_dims(spark, table)
    cents = read_ann_centroids(spark, table, id_col, vec_col)
    batch = stage(ivf_assign(new_df, cents, id_col, vec_col, dims))
    postings = read_posting_lists(spark, f"{table}_postings")
    if max_block_rows is not None:
        # The uncapped path needs no explicit prune to probed clusters:
        # the candidate join's broadcast handles it (DPP).
        postings, batch = _cap_probed(
            postings, batch, ["cluster"], max_block_rows
        )

    def side(df: DataFrame) -> DataFrame:
        vec = _flat("v", dims) if dims is not None else ["v"]
        return df.select("id", F.col("cluster").alias("blk"), *vec)

    sim_raw = (
        _flat_dot("a.x", "b.x", dims) if dims is not None
        else F.expr(dot_expr("spark", "a.v", "b.v"))
    )
    # No id order: a re-ingested identical id pairs with its own
    # indexed copy at sim 1.0, so incremental_semantic_dedup treats
    # exact re-ingest as a duplicate for free (the LSH index makes the
    # same choice); on disjoint id populations this emits exactly the
    # a.id<b.id cross pairs of the self-join. The dot is symmetric term
    # by term, so it is bit-identical to the self-join's.
    joined = _pair_join(
        F.broadcast(side(batch)), side(postings), ["blk"], order=None
    )
    return _dot_pairs(joined, sim_raw, threshold, ("new_id", "corpus_id"))


def incremental_semantic_dedup(
    new_df: DataFrame,
    table: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = None,
) -> DataFrame:
    """The embedding-side ingest-batch filter: drop every new vector
    whose similarity to some indexed vector reaches ``threshold``,
    return the survivors (full original rows).  Compose with
    :func:`semantic_dedup_drops` on the batch alone for within-batch
    near-dups, then :func:`append_to_ann_index` to fold survivors into
    the index — per-batch cost scales with the batch, never the
    corpus."""
    matched = (
        incremental_semantic_pairs(
            new_df, table, threshold=threshold, id_col=id_col,
            vec_col=vec_col, max_block_rows=max_block_rows,
        )
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(matched, id_col, "left_anti")


def _centroids(
    corpus: DataFrame, centroids: DataFrame | None, n_centroids: int,
    id_col: str,
) -> DataFrame:
    """``centroids``, or the deterministic training stand-in: the
    corpus vectors with id below ``n_centroids`` (oracle-reproducible)."""
    if centroids is not None:
        return centroids
    return corpus.filter(F.col(id_col) < n_centroids)


def _probes(
    q: DataFrame, cents: DataFrame, n_probe: int, id_col: str,
    vec_col: str, dims: int | None, *keep: str,
) -> DataFrame:
    """IVF candidate generator: each query of ``q`` (query_id, qv, ...)
    with its ``n_probe`` nearest centroids by dot affinity, ties to the
    lowest centroid id, as (query_id, *keep, cluster). The centroids
    broadcast into the query side."""
    c = cents.select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    )
    qaff = q.join(F.broadcast(c)).withColumn(
        "aff", F.expr(dot_expr("spark", "qv", "cent_v", dims))
    )
    return _top(qaff, "aff", n_probe, "cent_id", rank="crank").select(
        "query_id", *keep, F.col("cent_id").alias("cluster")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` inverted lists, probe the query's ``n_probe``
    nearest lists, exact-rank candidates.

    Deterministic 'training' stand-in: centroids default to the
    n_centroids lowest-id vectors (oracle-reproducible); pass
    ``centroids=fit_ivf_centroids(...)`` for the trained KMeans set —
    every other plan node stays identical. Search cost drops from
    O(|corpus|) to O(|corpus| * n_probe / n_centroids) per query.
    """
    cents = _centroids(corpus, centroids, n_centroids, id_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, dims)
    q = _queries(queries, id_col, vec_col)
    probes = _probes(q, cents, n_probe, id_col, vec_col, dims, "qv")
    cand = assigned.join(F.broadcast(probes), on="cluster").filter(
        F.col("id") != F.col("query_id")
    )
    sim = F.expr(dot_expr("spark", "qv", "v", dims))
    return _neighbors(cand.withColumn("sim_raw", sim), k, "id")


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact-ranked. Recall trades off with ``planes``."""
    c = with_lsh_signature(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv", planes, dims,
    )
    q = with_lsh_signature(
        _queries(queries, id_col, vec_col), "qv", planes, dims,
    )
    joined = c.join(
        F.broadcast(q),
        (c.lsh_bucket == q.lsh_bucket)
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    sim = F.expr(dot_expr("spark", "qv", "cv", dims))
    return _neighbors(joined.withColumn("sim_raw", sim), k, "neighbor_id")


def semantic_dedup_drops(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse-cluster the corpus (IVF
    assignment to the nearest centroid), then within each cluster mark
    every vector whose similarity to a lower-id vector exceeds
    ``threshold`` as a drop. Output: (dropped_id, rep_id) where rep_id
    is the smallest lower-id WITNESS of the drop — under similarity
    chains (1~2, 2~3, 1!~3) that witness can itself be dropped; resolve
    reps transitively via ``operators.cluster.connected_components``
    when a surviving representative is required.

    Keep-lowest-id is the deterministic tie-break (matches the exact
    dedup operator's representative rule). Scale: clustering bounds the
    quadratic stage to within-cluster blocks — the same shape as
    similarity_pairs(block_col=...); at 100 TB centroids come from a
    sampled KMeans fit and clusters are sized to the pairwise budget."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, dims)
    pairs = similarity_pairs(
        assigned, threshold=threshold, id_col="id", vec_col="v",
        block_col="cluster", dims=dims,
    )
    return (
        pairs.groupBy(F.col("id_b").alias("dropped_id"))
        .agg(F.min("id_a").alias("rep_id"))
    )


def sq8_quantize_exprs(vec_col: str, dims: int, dialect: str = "spark") -> tuple[str, str]:
    """Symmetric int8 scalar quantization: per-vector scale =
    max(|v_i|)/127, q_i = floor(v_i / scale + 0.5). Returns (scale_expr,
    quant_array_expr) in the given dialect — plain arithmetic, so the
    DuckDB oracle reproduces the quantization bit-for-bit (max is
    order-independent; each division/round is a single FP op).

    At 100 TB this is the memory lever for ANN: int8 vectors are 4x
    smaller than float32, and the quantized dot runs in exact integer
    arithmetic (64 products of |q| <= 127 cannot overflow BIGINT)."""
    comps = [
        f"CAST({_at(dialect, vec_col, i + 1)} AS DOUBLE)" for i in range(dims)
    ]
    mx = "greatest(" + ", ".join(f"abs({x})" for x in comps) + ")"
    codes = ", ".join(
        f"CAST(floor({x} / __sq8_scale + 5e-1) AS BIGINT)" for x in comps
    )
    quant = f"array({codes})" if dialect == "spark" else f"[{codes}]"
    return f"({mx} / 127.0)", quant


def sq8_dot_expr(qa: str, qb: str, sa: str, sb: str, dims: int,
                 dialect: str = "spark") -> str:
    """Approximate dot from symmetric int8 codes: sa*sb*sum(qa_i*qb_i).
    The integer sum is exact in any order; the two scale multiplies are
    single FP ops — bit-identical across engines."""
    s = " + ".join(
        f"{_at(dialect, qa, i + 1)} * {_at(dialect, qb, i + 1)}"
        for i in range(dims)
    )
    return f"({sa} * {sb} * CAST(({s}) AS DOUBLE))"


def with_sq8(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    scale_col: str = "sq8_scale",
    code_col: str = "sq8",
) -> DataFrame:
    """Attach int8 quantization columns (per-vector scale + code array).
    All-zero vectors get scale 0 and all-zero codes (0/0 guarded).

    The scale is LET-BOUND via the single-element transform idiom
    (portable.py): written as a withColumn alias, CollapseProject
    inlines the 64-term max-abs expression into all 65 references in
    the code array (+ its zero guard) — ~4,000 ops/row instead of
    ~130. The lambda variable is evaluated once per row; measured ~2x
    on the SQ8 query family."""
    scale, quant = sq8_quantize_exprs(vec_col, dims, "spark")
    quant_let = (
        f"element_at(transform(array({scale}), __sq8_scale -> "
        f"CASE WHEN __sq8_scale = 0"
        f" THEN array_repeat(CAST(0 AS BIGINT), {dims})"
        f" ELSE {quant} END), 1)"
    )
    return df.withColumn(scale_col, F.expr(scale)).withColumn(
        code_col, F.expr(quant_let)
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF x SQ8 composed ANN — the actual 100 TB design: IVF posting
    lists bound the candidate set to ``n_probe / n_centroids`` of the
    corpus, the int8 quantized dot (4x smaller codes, exact integer
    arithmetic) ranks candidates down to a ``rerank * k`` shortlist,
    and only the shortlist touches float vectors for the exact re-rank.

    Per query the float-dot cost drops from O(|corpus|) (sq8_topk alone
    re-ranks nothing; ivf_topk alone float-scores every probed row) to
    O(rerank * k); the probed posting lists are scanned with int8 codes
    only. At 100 TB: centroids from a sampled KMeans fit, posting lists
    stored as a cluster-partitioned table with (scale, code) columns —
    the float column is only fetched for shortlist rows (lazy column
    read in parquet via the id join-back, here kept inline since the
    fixture vectors are small).

    Every stage is portable arithmetic (deterministic centroid stand-in,
    integer quantized dot, tie-breaks on id), so the DuckDB oracle
    reproduces the full approximate pipeline bit-for-bit.  Passing
    ``centroids=`` (a ``fit_ivf_centroids`` result) swaps the stand-in
    for trained centroids — that path is gated by the pytest recall
    floor instead (KMeans is not bit-portable)."""
    cents = _centroids(corpus, centroids, n_centroids, id_col)
    if assigned is None:
        # ``assigned`` lets callers composing several quantization
        # tiers (the merged gates; at 100 TB the ingested posting-list
        # table) build the coarse assignment ONCE and share it.
        assigned = ivf_assign(corpus, cents, id_col, vec_col, dims)
    coded = with_sq8(assigned, "v", dims, "c_scale", "c_q")
    q = with_sq8(
        _queries(queries, id_col, vec_col), "qv", dims, "q_scale", "q_q"
    )
    probes = _probes(
        q, cents, n_probe, id_col, vec_col, dims, "qv", "q_scale", "q_q"
    )
    cand = coded.join(F.broadcast(probes), on="cluster").filter(
        F.col("id") != F.col("query_id")
    )
    qsim = F.expr(sq8_dot_expr("q_q", "c_q", "q_scale", "c_scale", dims))
    shortlist = _top(
        cand.withColumn("qsim", qsim), "qsim", rerank * k, "id", rank="qrank"
    )
    sim = F.expr(dot_expr("spark", "qv", "v", dims))
    return _neighbors(shortlist.withColumn("sim_raw", sim), k, "id")


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k over int8-quantized vectors: both sides
    quantized, candidates ranked by the reconstructed dot. The 4x
    memory cut is what lets a 100 TB corpus' codes stay cacheable; an
    exact float re-rank of the top candidates bolts on as a second
    broadcast join when recall must be exact."""
    c = with_sq8(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv")),
        "cv", dims, "c_scale", "c_q",
    ).drop("cv")
    q = with_sq8(
        _queries(queries, id_col, vec_col), "qv", dims, "q_scale", "q_q"
    ).drop("qv")
    sim = F.expr(sq8_dot_expr("q_q", "c_q", "q_scale", "c_scale", dims))
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("sim_raw", sim)
    return _neighbors(scored, k, "neighbor_id")


def kmeans_step(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """One Lloyd iteration of k-means, the iterative-training primitive
    behind real IVF/semantic-dedup centroids: assign every vector to its
    nearest centroid (ivf_assign), then re-estimate each centroid as the
    per-dimension mean of its members.

    Per-dimension sums are taken over FLOOR(v_i * scale) fixed-point
    integers: integer sums are exact and order-independent, so the
    result is bit-identical regardless of partial-aggregation order —
    float sums would make the oracle comparison flaky (double addition
    is not associative) and make runs nondeterministic at high core
    counts. Output: cluster, n, centroid_norm (the L2 norm of the new
    mean, in original units, 4dp) — the scalar a training loop watches
    for convergence.

    Plan: broadcast(centroids) NLJ -> max_by argmax (one narrow shuffle
    on id) -> one partial-aggregated shuffle on cluster with 64 exact
    integer sums. Two shuffles total, both narrow."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, dims)
    # Single-string expressions, not per-dim Column composition: 64
    # dims x ~6 Py4J-wrapped calls each put ~1.5 s of DRIVER-side
    # DataFrame construction ahead of a ~2 s execution (measured on the
    # embed_iterative gate); one F.expr parse per column is ~6x fewer
    # gateway round-trips for the identical analyzed expression.
    sums = [
        F.expr(
            f"sum(CAST(floor(CAST(element_at(v, {i + 1}) AS DOUBLE)"
            f" * {int(scale)}) AS BIGINT)) AS s{i}"
        )
        for i in range(dims)
    ]
    agg = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), *sums
    )
    # explicit multiply, not pow(x, 2): pow() is engine-libm and can
    # differ from DuckDB in the last ulp; x*x is correctly rounded and
    # identical cross-engine. SQL + is left-associative, matching the
    # former Column fold term by term.
    sq = " + ".join(
        f"((s{i} / n / {int(scale)}) * (s{i} / n / {int(scale)}))"
        for i in range(dims)
    )
    return agg.select(
        "cluster", "n",
        round_to_col(F.expr(f"sqrt({sq})"), 4).alias("centroid_norm"),
    )


def random_projection(
    df: DataFrame,
    out_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Deterministic random-projection dimensionality reduction:
    y_j = dot(v, plane_j) over the same arithmetically-derived
    pseudo-random hyperplanes as the LSH signature (Johnson-
    Lindenstrauss style; sign(y_j) IS the LSH bit, so this is the
    continuous form of with_lsh_signature). Use it to cut embedding
    width before pairwise stages — distances are preserved within
    ~(1 +/- eps) at out_dims = O(log n / eps^2).

    Output: id, p0..p{out_dims-1} (rounded 4dp). Shuffle-free: a pure
    per-row projection evaluated inside the scan stage; the planes are
    never materialized (each component is a constant-folded arithmetic
    literal), so nothing broadcasts and the oracle replays the exact
    same doubles."""
    cols = [
        round_to_col(
            F.expr(lsh_plane_dot(vec_col, p, dims, "spark")), 4
        ).alias(f"p{p}")
        for p in range(out_dims)
    ]
    return df.select(F.col(id_col), *cols)


# --- Product quantization (PQ) tier ---------------------------------------

#: PQ layout: PQ_M subspaces of PQ_SUB dims, PQ_K codewords each.
#: 64-dim vectors compress to 8 bytes (one code per subspace) — the
#: memory tier below SQ8's 64 bytes; see pq_topk.
PQ_M, PQ_K, PQ_SUB = 8, 16, 8


def pq_codeword(s: int, c: int, d: int) -> int:
    """Deterministic fixed-point codeword component in [-350, 350]
    (~ the per-subspace component range of L2-normalized 64-dim
    vectors x1000). A real deployment fits the codebook with k-means
    per subspace (kmeans_step is the fitting primitive); the
    arithmetic stand-in keeps the full PQ pipeline oracle-exact."""
    h = (s * 1_000_003 + c * 7_919 + d * 104_729 + 13) * 2_654_435_761
    return h % MERSENNE31 % 701 - 350


def pq_codebook_df(spark) -> DataFrame:
    """The PQ_M x PQ_K codebook as a tiny DataFrame (s, c, w) — 128
    rows; always broadcast."""
    rows = [
        (s, c, [pq_codeword(s, c, d) for d in range(PQ_SUB)])
        for s in range(PQ_M)
        for c in range(PQ_K)
    ]
    return spark.createDataFrame(rows, "s int, c int, w array<bigint>")


def _pq_subvectors(df: DataFrame, id_col: str, vec_col: str,
                   out_id: str) -> DataFrame:
    """Explode vectors to (id, s, sub) fixed-point subvector rows —
    sub[d] = floor(v[s*8+d] * 1000), exact integers both engines."""
    structs = [
        F.struct(
            F.lit(s).alias("s"),
            F.array(*[
                F.floor(
                    F.element_at(vec_col, s * PQ_SUB + d + 1).cast("double")
                    * 1000
                ).cast("long")
                for d in range(PQ_SUB)
            ]).alias("sub"),
        )
        for s in range(PQ_M)
    ]
    return df.select(
        F.col(id_col).alias(out_id), F.explode(F.array(*structs)).alias("e")
    ).select(out_id, "e.s", "e.sub")


_PQ_IDOT = " + ".join(
    f"(element_at(sub, {d + 1}) - element_at(w, {d + 1}))"
    f" * (element_at(sub, {d + 1}) - element_at(w, {d + 1}))"
    for d in range(PQ_SUB)
)
_PQ_ADC = " + ".join(
    f"element_at(sub, {d + 1}) * element_at(w, {d + 1})"
    for d in range(PQ_SUB)
)


def pq_encode(df: DataFrame, cb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ encoding: (id, s, code) — per subspace, the codeword with
    the minimum exact-integer squared distance (ties to the lowest
    code). Plan: explode to subvectors (narrow, x8) -> broadcast-join
    the 128-row codebook -> partial-aggregated argmin (min over a
    (dist, c) struct — lexicographic, so the tie rule is explicit).
    No shuffle of vectors: the exchange carries (id, s, code) only."""
    sub = _pq_subvectors(df, id_col, vec_col, "id")
    cand = sub.join(F.broadcast(cb), "s").withColumn(
        "dist", F.expr(_PQ_IDOT)
    )
    return (
        cand.groupBy("id", "s")
        .agg(F.min(F.struct("dist", "c")).alias("m"))
        .select("id", "s", F.col("m.c").alias("code"))
    )


def _pq_lut(
    queries: DataFrame, cb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-query PQ lookup table (query_id, s, code, adc): the
    exact-integer partial dot of each query subvector with each
    codeword of its subspace — PQ_M x PQ_K rows per query."""
    return (
        _pq_subvectors(queries, id_col, vec_col, "query_id")
        .join(F.broadcast(cb), "s")
        .withColumn("adc", F.expr(_PQ_ADC))
        .select("query_id", "s", F.col("c").alias("code"), "adc")
    )


def _pq_rerank(
    scored: DataFrame, corpus: DataFrame, queries: DataFrame, k: int,
    rerank: int, id_col: str, vec_col: str, dims: int,
) -> DataFrame:
    """Keep each query's ``rerank * k`` best lookup-table scores
    (``adc_sim`` on (query_id, id) rows), then re-rank that shortlist
    with the exact float dot."""
    shortlist = _top(scored, "adc_sim", rerank * k, "id", rank="arank")
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cv"))
    q = _queries(queries, id_col, vec_col)
    sim = F.expr(dot_expr("spark", "qv", "cv", dims))
    return _neighbors(
        shortlist.join(c, "id")
        .join(F.broadcast(q), "query_id")
        .withColumn("sim_raw", sim),
        k, "id",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance ANN: corpus vectors live as 8 one-byte
    codes (8 bytes/vector — 4x below SQ8, 32x below float32); each
    query builds a PQ_M x PQ_K lookup table of exact-integer partial
    dots (query subvector x codeword), candidate score = sum of 8 LUT
    entries; an ADC shortlist of rerank*k rows is re-ranked with the
    exact float dot.

    Plan: codes equi-join the broadcast LUT on (s, code) -> partial-
    aggregated per-(query, vec) sum -> WindowGroupLimit shortlist ->
    float re-rank on shortlist rows only. Like sq8_topk this is the
    full-scan memory tier (every code row is touched per query); the
    scale path composes it behind IVF probing exactly as ivf_sq8_topk
    does — same shape, smaller codes.

    All ranking arithmetic is exact integers with explicit (score, id)
    tie rules, so the DuckDB oracle reproduces the approximate
    pipeline bit-for-bit."""
    cb = pq_codebook_df(corpus.sparkSession)
    codes = pq_encode(corpus, cb, id_col, vec_col)
    lut = _pq_lut(queries, cb, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("adc").alias("adc_sim"))
    )
    return _pq_rerank(
        scored, corpus, queries, k, rerank, id_col, vec_col, dims
    )


def power_iteration_step(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1_000_000,
    v0: list[float] | None = None,
) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: y = G v0 where G = sum_x x x^T is the (uncentered) Gram
    matrix — computed WITHOUT materializing G, as y_i = sum_x x_i (x.v0)
    with a deterministic start vector v0 (the arithmetic plane-0
    components, reproducible in any engine). The iterative primitive
    behind PCA whitening / spectral embedding fits, analogous to
    kmeans_step for IVF: a training loop re-invokes it with v0 <- y.

    Determinism: the per-row projection s = x.v0 is one left-associated
    double dot (bit-stable); each contribution is fixed-pointed as
    FLOOR(x_i * s * scale) BEFORE the cross-row sum, so the 64 sums are
    exact integers under any partial-aggregation order. Normalization
    happens on the 64-row output (a window over dims rows, not corpus
    rows).

    Plan: one scan, one partial-aggregated shuffle to a single row of
    64 integer sums, exploded to (dim, y, y_norm) for inspection.
    Overflow budget: |x_i * s| <= ~8 with 1e6 scaling -> 8e6 per row;
    exact up to ~1e12 rows per partial sum; shard-and-reaggregate (the
    same integer identity) beyond that."""
    # Single-string expressions (see kmeans_step): the 64-term Column
    # folds cost more driver-side Py4J time than the job itself. SQL +
    # and * parse left-associative, so the double sequence is the same
    # term-by-term fold as the former Column loop; float literals are
    # emitted with repr (shortest round-trip — parses back to the
    # identical double).
    if v0 is None:
        v0c = [f"({_plane_component(0, d)})" for d in range(dims)]
    else:
        v0c = [f"CAST({float(x)!r} AS DOUBLE)" for x in v0]
    s = " + ".join(
        f"(CAST(element_at({vec_col}, {d + 1}) AS DOUBLE) * {v0c[d]})"
        for d in range(dims)
    )
    df = corpus.withColumn("__s", F.expr(s))
    sums = [
        F.expr(
            f"sum(CAST(floor(CAST(element_at({vec_col}, {i + 1})"
            f" AS DOUBLE) * __s * {int(scale)}) AS BIGINT)) AS y{i}"
        )
        for i in range(dims)
    ]
    one = df.agg(F.count(F.lit(1)).alias("n"), *sums)
    pairs = ", ".join(f"{i + 1}, y{i}" for i in range(dims))
    exploded = one.select(
        "n", F.expr(f"stack({dims}, {pairs}) AS (dim, y_fixed)")
    )
    _yf = F.col("y_fixed") / scale
    # x*x, not pow(x,2): see kmeans note — libm pow is not portable
    norm = F.sqrt(F.sum(_yf * _yf).over(W.partitionBy()))
    return exploded.select(
        F.col("dim").cast("int").alias("dim"),
        "y_fixed",
        round_to_col(F.col("y_fixed") / scale / norm, 4).alias("y_norm"),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF x PQ composed ANN — the PQ-tier 100 TB design (product
    quantization per Jegou, Douze & Schmid 2011, "Product Quantization
    for Nearest Neighbor Search"; public paper): posting lists bound
    the candidate set to n_probe/n_centroids of the corpus, the 8-byte
    PQ codes rank candidates via the per-query integer LUT (asymmetric
    distance), and only the rerank*k shortlist touches float vectors.
    Identical shape to ivf_sq8_topk with 4x smaller codes — at 100 TB
    the probed posting lists are scanned with 8 bytes per vector, so a
    billion-vector cluster's codes fit in one executor's page cache.

    All ranking arithmetic is exact integers with explicit tie rules —
    the DuckDB oracle replays the full approximate pipeline."""
    cb = pq_codebook_df(corpus.sparkSession)
    cents = _centroids(corpus, centroids, n_centroids, id_col)
    if assigned is None:
        # Materialized once: the assignment feeds BOTH the PQ encoding
        # and the cluster map below — without this the centroid-affinity
        # argmax (a broadcast NLJ over the corpus) executes twice. A
        # caller-supplied ``assigned`` (merged gates; the ingested
        # posting-list table at 100 TB) shares one build across tiers.
        # width="cluster" (an EXPLICIT repartition, which AQE never
        # coalesces): the staged assignment feeds pq_encode's
        # compute-dense subspace scoring directly — no exchange in
        # between — so the cached partition count IS that stage's
        # parallelism. With width="bytes" the post-shuffle staging is
        # byte-sized tiny and AQE's cached-plan coalescing collapses it
        # to one partition, serializing the encode (measured +1.3 s on
        # the ivf gate when the cached-plan coalescing flag landed).
        assigned = stage(
            ivf_assign(corpus, cents, id_col, vec_col, dims), width="cluster"
        )
    codes = pq_encode(
        assigned.select(F.col("id").alias(id_col), F.col("v").alias(vec_col)),
        cb, id_col, vec_col,
    )
    coded = codes.join(assigned.select("id", "cluster"), "id")
    q = _queries(queries, id_col, vec_col)
    probes = _probes(q, cents, n_probe, id_col, vec_col, dims)
    lut = _pq_lut(queries, cb, id_col, vec_col)
    scored = (
        coded.join(F.broadcast(probes), "cluster")
        .filter(F.col("id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "id")
        .agg(F.sum("adc").alias("adc_sim"))
    )
    return _pq_rerank(
        scored, corpus, queries, k, rerank, id_col, vec_col, dims
    )
