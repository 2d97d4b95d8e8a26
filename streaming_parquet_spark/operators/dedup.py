"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
prefix-filter Jaccard and containment.

All fuzzy variants are built from the portable hash expressions in
``functions.portable`` so the DuckDB oracle can reproduce them bit-for-bit
— and, more importantly, so the hot path is pure JVM expression code
(transform/aggregate lambdas are Catalyst expressions, not Python UDFs).

Every pair generator is the pair skeleton of ``similarity`` (its module
docstring): stage the sides, optionally cap hot blocks, one blocked
candidate join (``_pair_join``), verify, project. They differ in the
candidate key and in where verification runs:

  * exact_dedup — not a pair generator: hash partial-agg per partition,
    one shuffle on the normalized key.
  * minhash_lsh_pairs — candidates from an equi-join on (band,
    band_hash) over (id, band, bh) only, verified by id
    (``_verify_by_id``) on the 32-bit shingle-hash sets. With b bands of
    r rows, P(candidate) ≈ 1-(1-j^r)^b. Band buckets are skew-prone on
    boilerplate-heavy corpora — AQE skew-join spreads a hot bucket's
    WORK, but the candidate count stays |bucket|^2, so the real guard is
    ``max_bucket_rows`` (``similarity.cap_blocks``) or raising r.
  * incremental_lsh_pairs — the same probe of a new batch against the
    persisted index (``write_lsh_index``); its cap counts index and
    batch together (``similarity._cap_probed``).
  * ngram_jaccard_pairs — exact pairwise Jaccard within caller blocks,
    scored on the join's own columns (never unblocked at scale).
  * prefix_jaccard_pairs / containment_pairs — exact-recall prefix
    filters (PPJoin family): candidates from an equi-join on a rarity-
    ordered prefix element, position and length prunes in the join,
    verified by id.
  * simhash_pairs — one signature per doc; Hamming distance within
    blocks, scored on the join's own columns.

Reference parity note: the reference has no dedup of any kind (grep
`dedup|distinct` over /root/reference/src: only input-path dedup,
discover.rs:88-90); these are north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from streaming_parquet_spark.operators.similarity import (
    _cap_probed,
    _ceil_frac,
    _elements,
    _pair_join,
    _rarity_keyed,
    _shingle_sets,
    _verify_by_id,
    cap_blocks,
)
from streaming_parquet_spark.staging import spread_input, stage
from streaming_parquet_spark.functions.portable import (
    ascii_lower_expr,
    band_hash_expr,
    round_to_col,
    jaccard_expr,
    minhash_sig_expr,
    ordered_words_expr,
    shingles_expr,
    simhash_single_pass_expr,
    word_hashes_expr,
    words_expr,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup with deterministic representative: min id per
    normalized text. Output: representative id, n_copies, key length.

    The shuffle key is md5(normalized text), not the text itself — at
    100 TB the groupBy exchange moves 32-byte digests instead of
    kilobyte documents (the length is projected out before the shuffle).
    A 128-bit digest collision (~2^-64) is the standard trade for this.

    Normalization = trim + ASCII case fold (portable.ascii_lower_expr):
    full lower() is locale/context-sensitive and engine-specific, so a
    lower()-keyed digest cannot be reproduced bit-for-bit elsewhere.
    """
    key = F.expr(ascii_lower_expr("spark", f"trim({text_col})"))
    return (
        df.select(
            F.col(id_col),
            F.md5(key).alias("dedup_key"),
            F.length(key).alias("key_len"),
        )
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("key_len").alias("key_len"),
        )
        .select("rep_id", "n_copies", "key_len")
    )


def basis_expr(dialect: str, text_col: str, basis: str = "shingle3") -> str:
    """The element set a document is hashed over: distinct word 3-gram
    shingles (default — discriminative for near-dup detection) or
    distinct words (coarser, catches bag-of-words similarity)."""
    if basis == "word":
        return words_expr(dialect, text_col)
    if basis == "shingle3":
        return shingles_expr(dialect, ordered_words_expr(dialect, text_col), 3)
    raise ValueError(f"unknown basis: {basis}")


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    out_col: str = "minhash",
    basis: str = "shingle3",
) -> DataFrame:
    """Attach an array<bigint> MinHash signature column (JVM expressions
    only; one md5 per distinct shingle, then cheap affine permutations —
    a single aggregate pass for all components, see minhash_sig_expr)."""
    hashes = word_hashes_expr("spark", basis_expr("spark", text_col, basis))
    return df.withColumn(
        out_col, F.expr(minhash_sig_expr("spark", hashes, num_hashes))
    )


def _minhash_bands(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """The (id, band, bh) LSH band-hash relation from a (id, wh) base
    (wh = 32-bit shingle hashes).  Shared by the self-join pair search
    (:func:`minhash_lsh_pairs`) and the persisted incremental index
    (:func:`write_lsh_index` / :func:`incremental_lsh_pairs`) so both
    paths compute bit-identical band hashes from identical expressions."""
    rows = num_hashes // bands
    sig = base.withColumn(
        "minhash", F.expr(minhash_sig_expr("spark", "wh", num_hashes))
    )
    band_structs = []
    for b in range(bands):
        ms = [f"element_at(minhash, {b * rows + i + 1})" for i in range(rows)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(band_hash_expr(ms)).alias("bh"),
            )
        )
    return (
        sig.select("id", F.explode(F.array(*band_structs)).alias("e"))
        .select("id", "e.band", "e.bh")
    )


class _LshStaging(tuple):
    """A (base, exploded) staging pair that also pins the parameters it
    was built with (``params`` = (id_col, text_col, num_hashes, bands,
    basis)), so :func:`minhash_lsh_pairs` can refuse a staged tuple
    whose construction disagrees with the probe's — the self-join
    analog of the pinned-table-properties check ``write_lsh_index``
    does for the persisted index (a mismatch would silently return
    garbage pairs: wrong banding, or shingles over a different
    column).  Unpacks like a plain 2-tuple."""

    params: tuple[str, str, int, int, str]


def minhash_lsh_staging(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    basis: str = "shingle3",
) -> tuple[DataFrame, DataFrame]:
    """Stage the two materialized relations :func:`minhash_lsh_pairs`
    builds — (base = (id, wh) shingle hashes, exploded = (id, band, bh)
    band buckets) — so several pair searches over the SAME corpus and
    banding parameters (e.g. one capped and one uncapped run) share one
    shingling/signature pass instead of staging identical copies each.
    The expressions are exactly the ones the self-contained path uses,
    so results are bit-identical either way."""
    df = spread_input(df)
    elems = basis_expr("spark", text_col, basis)
    hashed = word_hashes_expr("spark", elems)
    base = stage(  # "bytes": input already spread_input'd
        df.select(F.col(id_col).alias("id"), F.expr(hashed).alias("wh")),
    )
    exploded = stage(_minhash_bands(base, num_hashes, bands))
    staged = _LshStaging((base, exploded))
    staged.params = (id_col, text_col, num_hashes, bands, basis)
    return staged


def _rounded_jaccard() -> F.Column:
    """The 4dp Jaccard of the verify sets ``wa`` / ``wb``."""
    return round_to_col(F.expr(jaccard_expr("spark", "wa", "wb")), 4)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.2,
    basis: str = "shingle3",
    max_bucket_rows: int | None = None,
    staged: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    ``max_bucket_rows`` (the 100 TB guard): exclude any (band, hash)
    bucket whose population exceeds the cap from candidate generation —
    see ``similarity.cap_blocks`` for why AQE cannot fix this class
    (a hot boilerplate bucket emits |bucket|^2 candidates however it is
    parallelized). Deterministic: population counts, no sampling.

    Plan shape: scan -> signatures (narrow) -> explode bands (xB) ->
    equi-join on (band, hash) over (id, band, bh) ONLY -> distinct
    candidate pairs -> join the hashed shingle sets back by id -> exact
    Jaccard -> filter. Keeping the band join narrow matters at scale:
    the exploded relation is 3 integers per (doc, band), never the
    shingle arrays (which would be shuffled xB otherwise). The verify
    Jaccard runs on 32-bit shingle hashes, not shingle strings — bigint
    set-intersection, no string comparisons in the hot loop.

    Banding defaults (16 hashes, 8 bands of 2): P(candidate | j) =
    1-(1-j^2)^8 — 0.90 at j=0.5, 0.99+ at j=0.7; tune bands per corpus.

    ``staged``: a :func:`minhash_lsh_staging` result for this corpus
    and banding — lets multiple searches (different thresholds/caps)
    share one staging pass.  The staging is materialized once either
    way (see staging.stage for the stats/broadcast win); without it the
    shingling lineage would execute four times per search.
    """
    if staged is None:
        staged = minhash_lsh_staging(
            df, id_col, text_col, num_hashes, bands, basis
        )
    else:
        pinned = getattr(staged, "params", None)
        asked = (id_col, text_col, num_hashes, bands, basis)
        if pinned is None:
            raise ValueError(
                "minhash_lsh_pairs: staged= carries no pinned "
                "parameters — pass a minhash_lsh_staging(...) result, "
                "not a bare (base, exploded) pair, so the probe can "
                "check the staging matches it."
            )
        if pinned != asked:
            raise ValueError(
                "minhash_lsh_pairs: staged= was built with "
                f"(id_col, text_col, num_hashes, bands, basis)={pinned} "
                f"but this probe asks for {asked} — a mismatched "
                "staging would silently return wrong pairs. "
                "Re-stage with the probe's parameters."
            )
    base, exploded = staged
    if max_bucket_rows is not None:
        exploded = cap_blocks(exploded, ["band", "bh"], max_bucket_rows)
    sets = base.select(F.col("id"), F.array_distinct("wh").alias("ws"))
    return _verify_by_id(
        _pair_join(exploded, exploded, ["band", "bh"]), sets, sets,
        "jaccard", _rounded_jaccard(),
        F.col("jaccard") >= jaccard_threshold,
    )


def write_lsh_index(
    corpus: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    basis: str = "shingle3",
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus's MinHash-LSH state as the persisted
    INCREMENTAL-DEDUP INDEX: two tables, ``{table}_sets`` (id, ws — the
    distinct 32-bit shingle hashes, for the exact-Jaccard verify) and
    ``{table}_bands`` (id, band, bh — the band-hash buckets, for
    candidate generation).  This is the 100 TB ingest-path layout: a
    new batch probes the index (:func:`incremental_lsh_pairs`) instead
    of re-running the corpus self-join, so per-batch cost scales with
    the BATCH, never the corpus — the corpus is shingled exactly once,
    at its own ingest.

    The banding parameters are pinned as table properties and every
    probe/append reads them back (:func:`incremental_lsh_pairs`,
    :func:`append_to_lsh_index`) — a probe with mismatched parameters
    would silently return garbage band-hash matches, so the index is
    authoritative and a mismatched append raises.

    Shingle once: one materialized shingling pass feeds BOTH tables
    (MinHash over the distinct set equals MinHash over the multiset,
    so signatures are bit-identical to :func:`minhash_lsh_pairs`'s,
    via the same ``_minhash_bands`` expressions), written BANDS FIRST,
    SETS SECOND — the order is load-bearing for crash recovery; see
    the in-code note.

    ``mode="append"`` (via :func:`append_to_lsh_index`) adds a batch's
    rows to both tables; the hot-bucket cap is applied at PROBE time
    over the combined population (append-safe — a build-time cap would
    only see one batch at a time).

    Contract: document ids are unique across the index and every
    append.  The probe/survivors/append loop preserves this by itself
    (an id re-ingested with its original text self-pairs at jaccard
    1.0 and never reaches the append), but appending the SAME id with
    DIFFERENT text would leave two shingle sets under one id and make
    the verify join fan out."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode: {mode}")
    spark = corpus.sparkSession
    sets_t, bands_t = f"{table}_sets", f"{table}_bands"
    if mode == "append":
        stored = _lsh_index_params(spark, table)
        mine = {"num_hashes": num_hashes, "bands": bands, "basis": basis}
        if stored != mine:
            raise ValueError(
                f"append parameters {mine} != index parameters {stored}"
            )
    hashed = word_hashes_expr("spark", basis_expr("spark", text_col, basis))
    # Shingle ONCE: the materialized sets relation feeds both the bands
    # derivation and the sets write (MinHash over the distinct set
    # equals MinHash over the multiset, so band hashes are
    # bit-identical to minhash_lsh_pairs').
    sets = stage(
        spread_input(corpus).select(
            F.col(id_col).alias("id"),
            F.array_distinct(F.expr(hashed)).alias("ws"),
        ),
    )
    # WRITE ORDER IS LOAD-BEARING: bands first, sets second, so a crash
    # between the two table appends leaves ids that are in bands but
    # NOT in sets.  Such an id generates candidates whose verify join
    # finds no shingle set (inner join drops them) — it does NOT
    # self-pair, so a replayed ingest re-appends it and the index
    # self-heals with one correct sets row (the duplicate bands rows
    # are benign: candidates are dropDuplicates'd; cap counts inflate
    # slightly until a rebuild).  The reverse order would instead leave
    # a duplicate SETS row on replay, fanning out every future verify
    # join against that id — permanent corruption.  Crash-recovery
    # callers key idempotence off the SETS table (the last written):
    # see streaming.ingest.
    bands_rel = _minhash_bands(
        sets.select("id", F.col("ws").alias("wh")), num_hashes, bands
    )
    bands_rel.write.mode(mode).format("parquet").saveAsTable(bands_t)
    sets.write.mode(mode).format("parquet").saveAsTable(sets_t)
    if mode == "overwrite":
        spark.sql(
            f"ALTER TABLE {sets_t} SET TBLPROPERTIES ("
            f"'maw.lsh.num_hashes'='{int(num_hashes)}', "
            f"'maw.lsh.bands'='{int(bands)}', "
            f"'maw.lsh.basis'='{basis}')"
        )


def _lsh_index_params(spark: SparkSession, table: str) -> dict:
    """Read the banding parameters pinned on ``{table}_sets`` back as
    {"num_hashes": int, "bands": int, "basis": str}."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}_sets").collect()
    props = {r["key"]: r["value"] for r in rows}
    try:
        return {
            "num_hashes": int(props["maw.lsh.num_hashes"]),
            "bands": int(props["maw.lsh.bands"]),
            "basis": props["maw.lsh.basis"],
        }
    except KeyError as exc:
        raise ValueError(
            f"{table}_sets is not an LSH index (missing property {exc})"
        ) from None


def append_to_lsh_index(
    batch: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a batch (typically :func:`incremental_dedup` survivors)
    to an existing LSH index under the index's OWN pinned banding
    parameters — the maintenance half of the incremental-dedup loop:
    probe, keep survivors, append survivors, repeat per ingest batch."""
    params = _lsh_index_params(batch.sparkSession, table)
    write_lsh_index(
        batch, table, id_col=id_col, text_col=text_col,
        num_hashes=params["num_hashes"], bands=params["bands"],
        basis=params["basis"], mode="append",
    )


def incremental_lsh_pairs(
    new_df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.2,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a NEW batch and a persisted corpus
    index (:func:`write_lsh_index`) — the incremental ingest path:
    (new_id, corpus_id, jaccard), bit-identical to the cross pairs
    :func:`minhash_lsh_pairs` would emit on corpus ∪ batch, without
    ever touching the corpus text again.

    Banding parameters come from the index's table properties — the
    caller cannot desynchronize them.

    Plan (batch << corpus, the production shape): the batch's band
    relation BROADCASTS into the index's bands scan (the corpus never
    shuffles), candidates are distinct (new, corpus) id pairs, and the
    verify joins pull just the candidates' shingle sets from the sets
    table.  A re-ingested identical id pairs with itself at jaccard
    1.0, so :func:`incremental_dedup` treats exact re-ingest as a
    duplicate for free.

    Cost honesty at scale: the probe's SHUFFLE volume is O(batch), but
    its I/O includes one column-pruned, shuffle-free pass over the
    bands and sets tables — and because band hashes (and doc ids) are
    uniformly distributed, no sort/bucket layout can row-group-skip
    that pass once the probe set exceeds the chunk count (a min/max or
    bucket filter over uniform hashes degenerates to "read
    everything").  The scan term is amortized by TRIGGER SIZING: probe
    bigger batches less often (``maxFilesPerTrigger`` in
    `streaming.ingest.dedup_ingest_stream`) — per-document index-scan
    cost is index_bytes / batch_docs.  Contrast the embedding index
    (`similarity.write_ann_index`), whose cluster-partitioned postings
    DO prune genuinely under DPP because cluster ids are low-
    cardinality and locality-bearing, which hash buckets are not.

    ``max_bucket_rows``: the hot-bucket guard computed over the
    COMBINED index ∪ batch population (append-safe, matches the
    self-join semantics of ``minhash_lsh_pairs(corpus ∪ batch,
    max_bucket_rows=...)``); over-full buckets generate no candidates
    on either side.  The counts aggregate only PROBED buckets (index
    rows first pruned by a batch-sized broadcast semi-join) — a bucket
    the batch never touches cannot produce a candidate, so its count
    is irrelevant and aggregating it would cost an O(index) key
    shuffle per probe."""
    spark = new_df.sparkSession
    params = _lsh_index_params(spark, table)
    hashed = word_hashes_expr(
        "spark", basis_expr("spark", text_col, params["basis"])
    )
    base_new = stage(
        spread_input(new_df).select(
            F.col(id_col).alias("id"), F.expr(hashed).alias("wh")
        ),
    )
    new_bands = _minhash_bands(
        base_new, params["num_hashes"], params["bands"]
    )
    # new_bands is consumed by 2-3 branches below but stays UNPERSISTED:
    # it derives from the materialized base_new by expressions only, and
    # recompute beats persist at batch size (the same A/B result as the
    # DSIR and IVF shared-stage experiments).
    idx_bands = spark.table(f"{table}_bands")
    if max_bucket_rows is not None:
        idx_bands, new_bands = _cap_probed(
            idx_bands, new_bands, ["band", "bh"], max_bucket_rows
        )
    return _verify_by_id(
        _pair_join(
            F.broadcast(new_bands), idx_bands, ["band", "bh"], order=None
        ),
        base_new.select("id", F.array_distinct("wh").alias("ws")),
        spark.table(f"{table}_sets"),
        "jaccard", _rounded_jaccard(), F.col("jaccard") >= jaccard_threshold,
        ids=("new_id", "corpus_id"),
    )


def incremental_dedup(
    new_df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.2,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """The ingest-batch filter: drop every new document that near-
    duplicates the persisted corpus index, return the survivors (full
    original rows).  Compose with :func:`minhash_lsh_pairs` on the
    batch alone for within-batch dups, then
    :func:`append_to_lsh_index` to fold survivors into the index —
    per-batch cost scales with the batch, never the corpus."""
    matched = (
        incremental_lsh_pairs(
            new_df, table, id_col=id_col, text_col=text_col,
            jaccard_threshold=jaccard_threshold,
            max_bucket_rows=max_bucket_rows,
        )
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(matched, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard pairs within blocks.

    ``block_cols`` is mandatory thinking at scale: the pairwise join is
    quadratic per block, so blocks must be bounded (a lang/source bucket,
    an LSH band, a length band...). None = single block (test scale only).
    ``max_block_rows`` additionally excludes over-full blocks entirely
    (see ``similarity.cap_blocks``).

    Jaccard runs over 32-bit shingle *hashes* (distinct), not shingle
    strings: bigint set-intersection is several times cheaper per pair
    and the oracle hashes identically, so results still match bit-exact.
    """
    blocks = list(block_cols or [])
    base = _shingle_sets(df, id_col, text_col, n, blocks)
    if blocks and max_block_rows is not None:
        base = cap_blocks(base, blocks, max_block_rows)
    j = F.expr(jaccard_expr("spark", "a.sh", "b.sh"))
    # Length filter from the similarity-join literature: J(a,b) >= t
    # forces min(|a|,|b|) >= t * max(|a|,|b|) (the intersection can't
    # exceed the smaller set, the union can't be smaller than the
    # larger). A cheap integer predicate inside the join skips the
    # set-intersection for every length-mismatched pair.
    length = (
        f"least(size(a.sh), size(b.sh))"
        f" >= {threshold} * greatest(size(a.sh), size(b.sh))"
    )
    # Threshold on the RAW jaccard (a pure predicate — IEEE division is
    # correctly rounded, so fl(i/u) >= t is engine-independent); the
    # 4dp rounding is display-only. Filtering on the rounded value
    # would admit a borderline band [t-5e-5, t) that the prefix-filter
    # variant's prunes don't guarantee recall for, making the two
    # operators disagree at the same threshold.
    return _pair_join(
        base, base, blocks=blocks, prune=[length, j >= threshold]
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        round_to_col(j, 4).alias("jaccard"),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin-family construction, Chaudhuri et al. 2006 / Xiao et al.
    2008 — public literature): all pairs with shingle Jaccard >=
    t = threshold_num/threshold_den, with NO false negatives — the
    deterministic alternative to MinHash-LSH candidates (which trade
    recall for speed probabilistically).

    Prefix filter: under a GLOBAL element order, J(a,b) >= t forces
    |a∩b| >= ceil(t*max(|a|,|b|)), and two sets with overlap >= o must
    share an element among the first |s| - o + 1 elements of each.
    Each set therefore explodes only its PREFIX of length
    |s| - ceil(t*|s|) + 1 (a superset of the tight pairwise prefix, so
    recall is exact); candidates come from an equi-join on the prefix
    element — never an all-pairs join. The threshold is a RATIONAL
    (num/den), so the prefix length is pure integer arithmetic
    (ceil(num*|s|/den) = (num*|s| + den - 1) DIV den) and the oracle
    reproduces it exactly.

    The global order is ASCENDING DOCUMENT FREQUENCY (the literature's
    load-bearing trick): prefixes then hold each document's RAREST
    shingles, so a shared prefix element implicates few documents and
    the hottest join key's fan-out is bounded by the rarest-shingle
    df, not by boilerplate frequency. (On the synthetic fixture —
    no boilerplate skew — hash order measures similar; the rarity
    order is what survives real web corpora where one template
    shingle can appear in millions of documents.) A second candidate
    prune, the POSITION filter, bounds overlap by the matched
    element's rank (first-shared-element argument, recall-exact;
    measured -34% candidates on the fixture). Rarity order is
    realized portably as one injective bigint key per
    element, df(h)*2^32 + h, sorted as plain integers in both engines
    (exact while per-corpus df < 2^31 — beyond ~2e9 documents, bucket
    the df term, e.g. by bit length, to keep the key in int64).
    Jaccard over the keyed arrays equals Jaccard over the raw hashes
    (the keying is a bijection on each corpus's element set).

    Scale: one vocab-sized df aggregate + one per-document array
    rebuild (explode -> keyed sort), then ~(1-t)·|shingles| prefix
    rows; the verify Jaccard runs only on deduplicated candidates that
    also pass the length filter (min >= t*max — evaluated inside the
    candidate join). High thresholds prune hardest (prefix ~(1-t)|s|):
    this operator is the t >= 0.5 workhorse; below that, LSH banding
    wins.

    Output: id_a < id_b, jaccard (4dp, >= t)."""
    tn, td = threshold_num, threshold_den
    # Materialized: the exploded (id, h) pairs feed BOTH the df
    # aggregate and the keyed rebuild join — without this the md5
    # shingling lineage executes twice (measured ~2x on the gate).
    base = _rarity_keyed(_shingle_sets(df, id_col, text_col, n, []), [])
    pref = _elements(base, [], tn, td)
    cand = _pair_join(pref, pref, ["h"], prune=[
        # length filter inside the join: min >= t * max
        f"least(a.sz, b.sz) >= {tn} / {td} * greatest(a.sz, b.sz)",
        # PPJoin position filter: for the pair's FIRST shared element
        # (in global order) nothing earlier overlaps, so overlap <= 1 +
        # min(elements after it on each side); a true pair always
        # survives via that first-shared row, which the prefix lemma
        # keeps inside both prefixes
        f"1 + least(a.sz - a.pos, b.sz - b.pos)"
        f" >= {_ceil_frac(tn, td, 'greatest(a.sz, b.sz)')}",
    ])
    # The threshold predicate is PURE INTEGER (td*|a∩b| >= tn*|a∪b|) —
    # exactly the rational J >= t the prefix/position/length prunes
    # guarantee recall for. Rounding is display-only: filtering on the
    # 4dp-rounded value would admit a borderline band [t-5e-5, t) whose
    # members survive pruning only data-dependently.
    keep = F.expr(
        f"{td} * size(array_intersect(wa, wb))"
        f" >= {tn} * size(array_union(wa, wb))"
    )
    return _verify_by_id(
        cand,
        base.select(F.col("id"), F.col("sh").alias("wa")),
        base.select(F.col("id"), F.col("sh").alias("wb")),
        "jaccard", _rounded_jaccard(), keep,
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    out_col: str = "simhash",
    basis: str = "shingle3",
) -> DataFrame:
    """Attach a SimHash signature (bit-majority over shingle hashes,
    single-pass array-accumulator aggregate)."""
    hashes = word_hashes_expr("spark", basis_expr("spark", text_col, basis))
    return df.withColumn(out_col, F.expr(simhash_single_pass_expr(hashes, bits)))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    block_cols: list[str] | None = None,
    basis: str = "shingle3",
    max_block_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within blocks
    (bit_count(xor) — both engines have bit_count). ``max_block_rows``
    excludes over-full blocks (see ``similarity.cap_blocks``)."""
    blocks = list(block_cols or [])
    sh = stage(  # "bytes": input already spread_input'd
        with_simhash(
            spread_input(df.select(id_col, text_col, *blocks)),
            text_col, bits, basis=basis,
        ).select(F.col(id_col).alias("id"), *blocks, "simhash"),
    )
    if blocks and max_block_rows is not None:
        sh = cap_blocks(sh, blocks, max_block_rows)
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        _pair_join(sh, sh, blocks=blocks)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def span_dedup(
    spans: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    span_col: str = "para",
    sep: str = "\n\n",
) -> DataFrame:
    """Global first-occurrence span dedup over an exploded
    (doc, position, span) relation — the C4-style rule (Raffel et al.
    2020 §2.2 dedup three-sentence spans; public paper): a span is kept
    only at its first occurrence in (doc id, position) order and removed
    everywhere else, then each document is reassembled from its
    surviving spans. One row per input document (possibly empty text).

    Output: id, text (kept spans joined by ``sep``), n_kept, n_dropped.

    Scale shape: two shuffles, both unavoidable for a *global* rule —
    (1) a window over md5(span) (the 16-byte digest is the partition
    key; span text rides as payload exactly once) picks the winner per
    distinct span; (2) a groupBy on the doc id reassembles. Skewed
    boilerplate spans (the reason this operator exists) concentrate in
    single window partitions but each holds one distinct span's
    occurrences — AQE splits any remaining hot partition. The reassembly sorts
    each doc's surviving spans by position inside the aggregate
    (array_sort on (pos, span) structs), so output is deterministic
    under any partitioning."""
    ranked = spans.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy(F.md5(F.col(span_col))).orderBy(id_col, pos_col)
        ),
    )
    kept = F.when(
        F.col("__rn") == 1,
        F.struct(F.col(pos_col).alias("p"), F.col(span_col).alias("s")),
    )
    return ranked.groupBy(F.col(id_col)).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["s"]),
            sep,
        ).alias("text"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("__rn") == 1, 0).otherwise(1))
        .cast("bigint")
        .alias("n_dropped"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-level exact dedup: split each document on ``sep``
    (regex), keep every paragraph only at its global first occurrence,
    reassemble. The standard pre-training scrub for boilerplate
    (headers, footers, licence blocks) that exact whole-doc dedup
    misses. See span_dedup for the plan shape."""
    spans = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    return span_dedup(spans, id_col, "pos", "para", sep)


def cross_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark decontamination: which training documents share >=
    ``min_overlap`` distinct word n-grams with a held-out benchmark
    document (the n-gram-overlap test used to scrub eval sets out of
    pretraining corpora).

    Plan: explode each side's DISTINCT shingles, equi-join on the
    shingle string, count matches per (corpus doc, benchmark doc).
    The join key is the shingle — at 100 TB this is the same narrow
    shuffle shape as the MinHash band join (never corpus x benchmark),
    and the benchmark side is typically small enough that its exploded
    relation broadcasts. Output: doc_id, bench_id, n_shared."""
    shingles = shingles_expr(
        "spark", ordered_words_expr("spark", text_col), n
    )
    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(shingles)).alias("shingle"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.expr(shingles)).alias("shingle"),
    )
    return (
        c.join(F.broadcast(b), "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs: |shingles(a) ∩ shingles(b)| /
    |shingles(a)| >= threshold means document a is (near-)contained in
    document b — the boilerplate-inclusion / quote-expansion case that
    symmetric Jaccard misses entirely (a tiny doc fully embedded in a
    huge one has low Jaccard but containment ~1).

    Output is DIRECTED: (id_a contained-in id_b, containment).

    Candidate generation is the PREFIX FILTER adapted to containment
    (the asymmetric member of the PPJoin family, Xiao et al. 2008 /
    Chaudhuri et al. 2006 — public literature), NOT a within-block
    self-join: C(a,b) >= t forces overlap o >= ceil(t*|a|), and under a
    global element order any pair with overlap >= o shares an element
    among a's first |a| - o + 1 elements. Only the CONTAINED side
    explodes that prefix; the containing side must index ALL its
    elements (|b| is unbounded relative to |a|, so b has no prefix —
    the known asymmetry of containment joins). Candidates come from an
    equi-join on (element, block), never an all-pairs join: probe side
    ~(1-t)·|shingles| rows, index side |shingles| rows, fan-out per key
    bounded by element document-frequency under the ascending-df global
    order (prefixes hold each document's RAREST shingles — see
    prefix_jaccard_pairs for why that survives boilerplate-heavy
    corpora). A position filter prunes further: at the pair's first
    shared element nothing earlier overlaps on either side, so
    o <= 1 + min(|a|-pos_a, |b|-pos_b); a true pair always survives via
    that first-shared row. Recall is EXACT — both prunes are lower
    bounds a qualifying pair always satisfies.

    The final predicate matches the blocked-pairwise semantics
    bit-for-bit: the output containment is rounded to 4dp and compared
    to ``threshold``, so raw values down to t - 5e-5 can round up and
    qualify. The candidate prunes therefore run at the slightly lower
    rational bound (t*1e5 - 10)/1e5 — a 5e-5 safety margin below the
    rounding boundary, far beyond any double-rounding slack — so the
    borderline band is never pruned. The size prune |b| >= t*|a| is a
    SEMANTIC filter (kept from the pairwise form and mirrored by the
    oracle): it can exclude borderline round-up pairs (o = |b| just
    under t*|a|) and so is applied at full threshold on the verified
    output, not as a candidate heuristic."""
    # rational prune threshold: (t*1e5 - 10) / 1e5, exact integers
    p_num = int(round(threshold * 100000)) - 10
    p_den = 100000
    blocks = list(block_cols or [])
    # Materialized: the exploded (id, h) pairs feed the df aggregate AND
    # the keyed rebuild join (same staging as prefix_jaccard_pairs).
    base = _rarity_keyed(_shingle_sets(df, id_col, text_col, n, blocks), blocks)
    # contained side: the prefix under the prune threshold (the first
    # shared element of any qualifying pair lies inside it); containing
    # side: the full inverted index (no prefix exists for b)
    probe = _elements(base, blocks, p_num, p_den)
    index = _elements(base, blocks)
    # minimum overlap under the prune threshold, pure integer arithmetic
    o_min_a = f"CAST({_ceil_frac(p_num, p_den, 'a.sz')} AS INT)"
    cand = _pair_join(probe, index, ["h"], "!=", blocks, prune=[
        # |a ∩ b| <= |b|, so o_min <= |b| — cheap integer prune
        f"b.sz >= {o_min_a}",
        # position filter at the pair's first shared element
        f"1 + least(a.sz - a.pos, b.sz - b.pos) >= {o_min_a}",
    ])
    contain = F.expr(
        "CAST(size(array_intersect(wa, wb)) AS DOUBLE) / size(wa)"
    )
    return _verify_by_id(
        cand,
        base.select(F.col("id"), F.col("sh").alias("wa")),
        base.select(F.col("id"), F.col("sh").alias("wb")),
        "containment", round_to_col(contain, 4),
        # semantic size prune at FULL threshold (mirrors the pairwise
        # form / oracle exactly — see docstring)
        F.expr(f"size(wb) >= {threshold} * size(wa)")
        & (F.col("containment") >= threshold),
    )


def cluster_size_histogram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup QA report:
    how many exact-duplicate clusters exist at each multiplicity, and
    how many documents they hold (n_copies=1 is the unique mass; the
    tail is boilerplate). Two partial-aggregated shuffles, both on
    compact keys (md5 digest, then the integer multiplicity) — the
    histogram is at most |distinct sizes| rows at any corpus scale.

    Output: n_copies, n_clusters, n_docs."""
    return (
        exact_dedup(df, text_col, id_col)
        .groupBy("n_copies")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n_copies").cast("bigint").alias("n_docs"),
        )
    )


def compact_lsh_index(spark: SparkSession, table: str) -> dict:
    """Index maintenance: rewrite ``{table}_bands`` with duplicate
    rows removed and verify ``{table}_sets`` id uniqueness.  The
    crash-window self-heal (see :func:`write_lsh_index`'s write-order
    note and ``streaming.ingest``) can leave duplicate bands rows —
    harmless for pair results (candidates are dropDuplicates'd) but
    they inflate hot-bucket cap counts and waste probe I/O; run this
    opportunistically, like any table compaction.

    Returns {"bands_before": n, "bands_after": n, "sets_ids": n}.
    Raises if the sets table holds duplicate ids — that is real
    corruption (the unique-id contract was broken upstream), not
    crash residue, and deduping it here would silently pick an
    arbitrary shingle set.

    Crash safety (matching the ingest loop's discipline): the deduped
    relation is written to a STAGING table first — the index is never
    the only copy of itself — then swapped in via drop + rename.  A
    crash before the swap leaves the index untouched; a crash between
    the drop and the rename leaves the data intact under
    ``{bands}__compact`` (recover by renaming manually).  Run under
    single-writer exclusivity: an ingest batch appending bands rows
    between the staging read and the swap would lose those rows."""
    bands_t, sets_t = f"{table}_bands", f"{table}_sets"
    staging_t = f"{bands_t}__compact"
    sets_total = spark.table(sets_t).count()
    sets_ids = spark.table(sets_t).select("id").distinct().count()
    if sets_ids != sets_total:
        raise ValueError(
            f"{sets_t} holds {sets_total} rows over {sets_ids} ids — "
            "duplicate shingle sets are corruption, not crash residue"
        )
    before = spark.table(bands_t).count()
    spark.sql(f"DROP TABLE IF EXISTS {staging_t}")
    deduped = spark.table(bands_t).dropDuplicates(["id", "band", "bh"])
    deduped.write.format("parquet").saveAsTable(staging_t)
    after = spark.table(staging_t).count()
    if after != before:
        spark.sql(f"DROP TABLE {bands_t}")
        spark.sql(f"ALTER TABLE {staging_t} RENAME TO {bands_t}")
    else:
        spark.sql(f"DROP TABLE {staging_t}")
    return {
        "bands_before": before, "bands_after": after, "sets_ids": sets_ids
    }


def exact_substring_dedup(
    df: DataFrame,
    window_tokens: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING dedup at token-window granularity (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better";
    public paper — their ExactSubstr: remove every duplicated run of
    ``window_tokens`` tokens, keeping the first occurrence).  The
    suffix-array construction of the paper does not distribute; this
    is the standard big-data rendering (rolling window hashes +
    first-occurrence-wins), the same shape Bloom-filter pipelines use,
    but with exact population counts instead of a filter's false
    positives.

    A token is DROPPED iff it lies inside some non-first occurrence of
    a duplicated window; first occurrence = min (doc id, position)
    over the window's hash.  Output: (id, text_clean, n_tokens,
    n_dropped_tokens) — one row per input document, token order
    preserved, words joined by single spaces (the engine's ASCII-space
    token rule; runs of whitespace do not round-trip).

    Scale shape: window hashes explode to (id, pos, 16-byte BINARY
    digest) — never window text — so shuffle volume is tokens x
    ~16 bytes; the winner-per-hash aggregate is map-side combined;
    drop intervals come back per doc as MERGED disjoint [s, e) ranges
    (a fully-duplicated chapter is ONE interval however many window
    starts cover it), so token filtering is O(tokens x intervals),
    not O(tokens x window-starts).  The hash relation is materialized
    so the O(tokens x window) md5 pass — the dominant cost, the
    accepted price of windowed exactness (the paper pays a suffix
    array; Bloom pipelines pay the same hashing and add false
    positives) — runs once for its two consumers; at ingest scale
    stage it to a table instead.

    Within-document repeats are deduplicated too (second occurrence
    in the SAME doc has a later position, hence is non-first) —
    matching the paper, which removes self-repetition as well.

    Contract: ids are unique — two rows sharing an id would have
    their window positions merged and each other's duplicated ranges
    deleted from both texts."""
    w = int(window_tokens)
    words = f"filter({ordered_words_expr('spark', text_col)}, x -> x != '')"
    base = stage(
        spread_input(df).select(
            F.col(id_col).alias("id"), F.expr(words).alias("ws")
        ),
    )
    # (id, pos, window-hash) for every window start; docs shorter than
    # the window emit none and pass through untouched
    win_hash = (
        f"transform(sequence(0, size(ws) - {w}),"
        f" p -> unhex(md5(concat_ws(' ', slice(ws, p + 1, {w})))))"
    )
    # Materialized: the winner aggregate AND the join probe both read
    # this relation, and the windowed hashing is the dominant cost —
    # unpersisted it would run twice (the two exchanges are different
    # subtrees, so ReuseExchange cannot dedupe them).
    wins = stage(
        base.filter(F.expr(f"size(ws) >= {w}")).select(
            "id",
            F.posexplode(F.expr(win_hash)).alias("pos", "wh"),
        ),
    )
    # winner per duplicated hash = min (id, pos); every other
    # occurrence contributes a drop interval [pos, pos + w)
    agg = wins.groupBy("wh").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("n"),
    )
    # Sorted window starts fold into MERGED disjoint [s, e) intervals:
    # a long duplicated run is one interval, so the per-token check
    # below is O(intervals), immune to the tokens^2 blowup a raw
    # starts list would hit on chapter-sized duplicates.
    merge_ivals = (
        f"aggregate(array_sort(collect_set(pos)),"
        f" CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),"
        f" (acc, x) -> CASE"
        f"   WHEN size(acc) > 0 AND x <= element_at(acc, -1).e THEN"
        f"     concat(slice(acc, 1, size(acc) - 1),"
        f"            array(named_struct('s', element_at(acc, -1).s,"
        f"                  'e', greatest(element_at(acc, -1).e,"
        f"                                x + {w}))))"
        f"   ELSE concat(acc, array(named_struct('s', x, 'e', x + {w})))"
        f" END)"
    )
    drops = (
        wins.join(agg.filter(F.col("n") > 1), "wh")
        .filter(
            (F.col("id") != F.col("first.id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .groupBy("id")
        .agg(F.expr(merge_ivals).alias("drop_ivals"))
    )
    kept = (
        "filter(ws, (x, i) -> NOT exists(drop_ivals,"
        " v -> v.s <= i AND i < v.e))"
    )
    return (
        base.join(drops, "id", "left")
        .withColumn(
            "drop_ivals",
            F.coalesce(
                F.col("drop_ivals"),
                F.expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)"),
            ),
        )
        .select(
            F.col("id").alias(id_col),
            F.expr(f"concat_ws(' ', {kept})").alias("text_clean"),
            F.expr("size(ws)").cast("bigint").alias("n_tokens"),
            F.expr(f"size(ws) - size({kept})")
            .cast("bigint")
            .alias("n_dropped_tokens"),
        )
    )
