"""Training-data pipeline operators: deterministic sampling, dataset
splits, and context-window sequence packing.

These are the corpus-management steps a large-scale LLM-data pipeline
runs between cleaning and training-shard write-out. None exist in the
reference (SURVEY.md §2.11 — extension surface); each is expressed as
pure built-in DataFrame ops (zero Python in the hot path) and is
deterministic from the data alone, so the DuckDB oracle reproduces it
bit-for-bit with the same portable arithmetic.

Scale notes:
  * hash sampling / splitting is a stateless per-row filter — no
    shuffle, fully pushed into the scan stage, identical on resume and
    across cluster sizes (unlike ``df.sample``, whose output depends on
    partitioning).
  * sequence packing is a running-sum window per (ordered) partition
    key: one shuffle on the partition column. At 100 TB you pack within
    shards (partition key = shard id) — exactly this plan with the
    shard column as ``part_col`` — rather than one global stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from streaming_parquet_spark.functions.portable import (
    hash_bucket_expr,
    round_to_col,
)
from streaming_parquet_spark.sources.readers import (
    error_condition,
    read_parquet_or_none,
)
from streaming_parquet_spark.staging import stage


def hash_sample(
    df: DataFrame, pct: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ``pct``-percent sample: keep rows whose hash bucket
    < pct. Reproducible across runs, cluster sizes, and engines —
    the property ``df.sample`` cannot give (its output depends on
    partition layout). One scan, filter pushed down, no shuffle."""
    return df.filter(
        F.expr(hash_bucket_expr("spark", id_col, 100)) < F.lit(pct)
    )


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket:
    [0, train) -> train, [train, train+val) -> val, rest -> test.
    Because membership is a pure function of the id, late-arriving data
    lands in a stable split and no leakage occurs across reruns."""
    b = F.expr(hash_bucket_expr("spark", id_col, 100))
    return df.withColumn(
        out_col,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
    components: DataFrame | None = None,
) -> DataFrame:
    """:func:`with_split` made near-duplicate-aware: documents
    connected by ``pairs`` (near-dup pairs from the LSH / prefix /
    semantic operators) are split by the hash of their CLUSTER id —
    the component's min doc id — so two near-duplicates can never land
    one in train and one in test, the eval-set leakage that per-doc
    hashing permits whenever the corpus keeps more than one member per
    cluster (keep-all-with-cluster-label pipelines, contamination
    studies, dedup-threshold sweeps).  Isolated documents key by their
    own id, so with an empty pair set this IS ``with_split``.

    Determinism: the component id is the min reachable doc id — a pure
    function of the pair set — and the bucket hash is the portable
    unseeded hash ``with_split`` uses, so membership is reproducible
    across runs and partitionings.  The assignment is stable under a
    FROZEN pair set; late-arriving edges that merge two clusters merge
    their splits on the next run (the merged component keys by the
    smaller min id) — at ingest scale the deduplicated-ingest loop
    keeps such late near-dups out of the corpus in the first place.

    Scale: clusters are computed on the PAIR graph only (dup-rate x
    corpus edges, never the corpus itself); the corpus pays one
    broadcast-or-shuffle join against that small relation.  A pipeline
    that already materialized ``connected_components(pairs)`` (keep-one
    dedup does) should pass it as ``components=`` — recomputing it
    here would re-run the iterative CC loop AND the pair lineage
    (LSH shingle/band joins) a second time."""
    if components is not None:
        comp = components
    else:
        if pairs is None:
            raise ValueError(
                "leakage_safe_split needs pairs= or components="
            )
        from streaming_parquet_spark.operators.cluster import (
            connected_components,
        )

        comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    # the join key lands under a RESERVED name (same convention as
    # __split_key): the keep-all-with-cluster-label pipelines this
    # function cites may already carry a 'component' column, which a
    # bare F.col("component") would hit with AMBIGUOUS_REFERENCE (and
    # the final drop would eat the caller's column)
    keyed = df.join(
        comp.select(
            F.col("id").alias(id_col),
            F.col("component").alias("__split_component"),
        ),
        id_col,
        "left",
    ).withColumn(
        "__split_key",
        F.coalesce(F.col("__split_component"), F.col(id_col)),
    )
    b = F.expr(hash_bucket_expr("spark", "__split_key", 100))
    return (
        keyed.withColumn(
            out_col,
            F.when(b < train_pct, F.lit("train"))
            .when(b < train_pct + val_pct, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .drop("__split_key", "__split_component")
    )


def _unique_order_guard(keys: list, order_col: str, fn_name: str):
    """Duplicate-order-key detector for the packers, at ZERO extra
    shuffle: their determinism contract requires ``order_col`` unique
    per partition (duplicate keys make the running-sum offsets
    tie-order-dependent — silently different window contents across
    runs of the same data).  Within the packing window's own sort
    duplicates are ADJACENT, so one ``lag()`` over the SAME
    partition/order spec (the existing Exchange + Sort are reused;
    plan-asserted in tests) catches every duplicate and raises at run
    time instead of emitting nondeterministic training windows.
    Returns a bigint column that is 0 on every valid row — the
    callers ADD it to their running sum so column pruning cannot
    eliminate the check."""
    w = W.partitionBy(*keys).orderBy(order_col)
    dup = F.lag(order_col).over(w).eqNullSafe(F.col(order_col))
    return (
        F.when(
            dup,
            F.raise_error(
                F.concat(
                    F.lit(f"{fn_name}: duplicate order key "),
                    F.coalesce(
                        F.col(order_col).cast("string"), F.lit("NULL")
                    ),
                    F.lit(
                        " within a partition — running-sum offsets "
                        "would be tie-order-dependent; make order_col "
                        "unique per part_col (assign_stable_ids does)"
                    ),
                )
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    part_col: str | None = None,
    out_col: str = "bin",
    validate_order: bool = True,
) -> DataFrame:
    """Concat-then-chunk sequence packing: stream documents in
    ``order_col`` order (within ``part_col`` if given), accumulate
    token counts, and cut a new bin every ``budget`` tokens —
    bin = floor((running_sum - tokens) / budget), i.e. the bin a
    document *starts* in. This is GPT-style packing (documents
    concatenated into a token stream, chunked into fixed context
    windows), not first-fit bin packing — the standard shape for
    pretraining shard prep.

    Deterministic: token counts are integers, the running sum is exact,
    and the order is total — ``order_col`` must be unique per
    partition, which ``validate_order`` (default on) ENFORCES at run
    time via an adjacent-duplicate check riding the packing window's
    own sort (no extra shuffle — see :func:`_unique_order_guard`);
    pass False only when uniqueness is already guaranteed upstream
    and the extra window pass matters.
    Scale: one shuffle on part_col; the window is a running sum, which
    Spark evaluates streaming per partition — no buffering beyond the
    frame row."""
    keys = [part_col] if part_col else []
    w = (
        W.partitionBy(*keys).orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum(token_col).over(w)
    if validate_order:
        running = running + _unique_order_guard(
            keys, order_col, "pack_sequences"
        )
    return df.withColumn(
        out_col,
        F.floor((running - F.col(token_col)) / F.lit(budget)).cast("long"),
    )


def pack_token_windows(
    df: DataFrame,
    ids_col: str,
    budget: int,
    order_col: str = "doc_id",
    part_col: str | None = None,
    pad_id: int = 0,
    out_col: str = "ids",
    eos_id: int | None = None,
    validate_order: bool = True,
) -> DataFrame:
    """MATERIALIZE the fixed-length training windows
    :func:`pack_sequences` only assigns: documents' id arrays
    concatenate into one token stream (``order_col`` order, within
    ``part_col``) and re-cut into windows of exactly ``budget`` ids —
    each partition's final partial window right-padded with
    ``pad_id``.  This is the actual trainable payload (GPT-style
    concat-then-chunk): ``pack_sequences`` answers "which bin does doc
    X start in", this emits the bins' contents.

    Output: (*part_col, win, ``out_col`` array of exactly ``budget``
    ids, n_tokens, doc_starts) — n_tokens the REAL (pre-pad) id count,
    equal to ``budget`` everywhere except each partition's last
    window; doc_starts the sorted in-window slots where a DOCUMENT
    BEGINS (the block-diagonal attention-mask boundaries — a window
    continuing a document that started earlier has no 0 entry, which
    is exactly what cross-document masking needs).  Deterministic:
    offsets are exact integer running sums over a total order —
    ``order_col`` unique per partition, ENFORCED at run time by
    ``validate_order`` (default on; an adjacent-duplicate check on
    the packing window's own sort, no extra shuffle — see
    :func:`_unique_order_guard`) — window/slot assignment is integer
    division, and the regroup sorts by slot: the same windows from
    any partitioning.  Empty/null id arrays contribute
    nothing (their documents occupy zero stream positions).

    ``eos_id``: when given, every non-empty document contributes its
    ids PLUS one trailing separator — the GPT packing recipe that
    gives :func:`with_causal_labels` supervised document boundaries
    (each last content token's label becomes the EOS, and an EOS not
    at the window edge gets the next document's first id; only the
    one window-final position stays masked, as always).  The
    separator belongs to the PRECEDING document: ``doc_starts`` still
    marks each document's first CONTENT token.

    Plan (pure Catalyst, no UDF): one doc-level window shuffle on
    ``part_col`` for the running offsets, then posexplode ->
    TOKEN-level hash aggregate on (part, win) with array_sort over
    budget-bounded groups.  The token-level shuffle is the honest,
    irreducible cost of re-cutting documents into windows; at 100 TB
    run it per training shard (``part_col`` = the shard key from
    ``shard_manifest``), which bounds every shuffle group and window
    partition at shard size and lets shards pack in parallel —
    windows never cross shards, exactly what shard-local training
    files need."""
    keys = [part_col] if part_col else []
    elem_t = df.schema[ids_col].dataType.elementType
    b = int(budget)
    src = df
    if eos_id is not None:
        # append the separator per NON-empty document before any
        # offset math — it then flows through windowing/labels/starts
        # as an ordinary (document-final) token
        src = df.withColumn(
            ids_col,
            F.when(
                F.size(ids_col) > 0,
                F.concat(
                    F.col(ids_col),
                    F.array(F.lit(int(eos_id)).cast(elem_t)),
                ),
            ).otherwise(F.col(ids_col)),
        )
    w = (
        W.partitionBy(*keys).orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    n = F.coalesce(F.size(ids_col).cast("bigint"), F.lit(0).cast("bigint"))
    # size() is -1 on NULL arrays under legacy behavior and coalesce
    # misses that; clamp so a null-ids doc occupies zero positions
    n = F.greatest(n, F.lit(0).cast("bigint"))
    off = F.sum(n).over(w) - n
    if validate_order:
        off = off + _unique_order_guard(
            keys, order_col, "pack_token_windows"
        )
    tok = src.withColumn("__off", off).select(
        *keys, "__off", F.posexplode(ids_col).alias("__pos", "__id")
    )
    tok = tok.select(
        *keys,
        F.expr(f"CAST((__off + __pos) DIV {b} AS BIGINT)").alias("win"),
        F.expr(f"CAST((__off + __pos) % {b} AS BIGINT)").alias("__slot"),
        (F.col("__pos") == 0).alias("__is_start"),
        "__id",
    )
    grouped = tok.groupBy(*keys, "win").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__slot", "__id"))),
            lambda s: s["__id"],
        ).alias("__ids"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        # collect_list skips nulls: only document-initial slots land
        F.array_sort(
            F.collect_list(
                F.when(F.col("__is_start"), F.col("__slot"))
            )
        ).alias("doc_starts"),
    )
    pad = F.array_repeat(
        F.lit(pad_id).cast(elem_t), b - F.size("__ids")
    )
    return grouped.select(
        *keys,
        "win",
        F.concat(F.col("__ids"), pad).alias(out_col),
        "n_tokens",
        "doc_starts",
    )


def with_causal_labels(
    df: DataFrame,
    ids_col: str = "ids",
    n_tokens_col: str = "n_tokens",
    out_col: str = "labels",
    ignore_index: int = -100,
) -> DataFrame:
    """Next-token training labels for :func:`pack_token_windows`
    output: ``labels[i] = ids[i+1]`` while position ``i+1`` is still a
    REAL token, ``ignore_index`` everywhere else — the last real token
    of each window and every pad slot are masked (the standard
    ``-100`` convention loss functions ignore).

    Labels are WINDOW-LOCAL: the final real token's next-token target
    lives in the NEXT window and is deliberately ignored here — the
    standard, tiny training-signal cost of chunked packing (1/budget
    of positions), not a defect; a pipeline that wants boundary
    supervision should pack with an EOS id between documents upstream.

    One JVM array transform per row — no UDF, no shuffle; composes
    with ``doc_starts`` for block-diagonal attention masks."""
    elem_t = df.schema[ids_col].dataType.elementType
    ign = F.lit(int(ignore_index)).cast(elem_t)
    labels = F.transform(
        F.col(ids_col),
        lambda x, i: F.when(
            i + 1 < F.col(n_tokens_col),
            F.element_at(F.col(ids_col), (i + 2).cast("int")),
        ).otherwise(ign),
    )
    return df.withColumn(out_col, labels)


def with_completion_labels(
    df: DataFrame,
    prompt_len_col: str,
    ids_col: str = "ids",
    n_tokens_col: str = "n_tokens",
    out_col: str = "labels",
    ignore_index: int = -100,
) -> DataFrame:
    """Prompt-masked next-token labels — the instruction-tuning (SFT)
    analog of :func:`with_causal_labels`: ``labels[i] = ids[i+1]``
    only where the TARGET position is a completion token, i.e.
    ``prompt_len <= i+1 < n_tokens``; every prompt target, the final
    real token, and all padding mask to ``ignore_index`` (the
    standard -100 loss-mask convention).  The model still ATTENDS to
    the prompt — masking is loss-side only, exactly the
    completion-only-loss recipe instruction tuning uses.

    Expects one EXAMPLE per row (prompt ++ completion ids, right-
    padded), not cross-document packed windows — SFT examples are
    trained unpacked or packed example-whole, and ``prompt_len`` is
    per example.  ``n_tokens_col``: the real (pre-pad) length; pass
    the array size via a prior ``withColumn`` if rows are unpadded.
    One JVM array transform per row — no UDF, no shuffle."""
    elem_t = df.schema[ids_col].dataType.elementType
    ign = F.lit(int(ignore_index)).cast(elem_t)
    labels = F.transform(
        F.col(ids_col),
        lambda x, i: F.when(
            (i + 1 < F.col(n_tokens_col))
            & (i + 1 >= F.col(prompt_len_col)),
            F.element_at(F.col(ids_col), (i + 2).cast("int")),
        ).otherwise(ign),
    )
    return df.withColumn(out_col, labels)


def assemble_turns(
    df: DataFrame,
    turns_col: str,
    ids_out: str = "ids",
    spans_out: str = "loss_spans",
    n_tokens_out: str = "n_tokens",
    loss_roles: tuple[str, ...] = ("assistant",),
) -> DataFrame:
    """Assemble a multi-turn conversation into ONE training example:
    ``turns_col`` is an ``array<struct<role:string, ids:array<T>>>``
    (each turn already tokenized, role markers included in its ids —
    the chat template is the tokenizer's business, not this op's);
    the turns' id arrays concatenate in order into ``ids_out``, and
    every turn whose role is in ``loss_roles`` contributes one
    [start, end) span (token positions in the assembled example) to
    ``spans_out`` — the loss regions :func:`with_span_labels` masks
    to.  Empty and null turn id arrays occupy zero positions and
    contribute no span.

    This is the multi-turn generalization of the prompt/completion
    arrangement: SFT on conversations trains loss on ASSISTANT turns
    only, while user/system/tool turns are attended to but never
    targets — one span per assistant turn, however many the
    conversation has.

    Plan: one ``F.aggregate`` over the turns array per row — a
    stateless JVM projection, no UDF, no shuffle, free at any scale
    (conversations are row-local by construction)."""
    field = {f.name: f for f in df.schema[turns_col].dataType.elementType}
    if "role" not in field or "ids" not in field:
        raise ValueError(
            f"assemble_turns: {turns_col!r} elements need 'role' and "
            f"'ids' fields (got {sorted(field)})"
        )
    ids_t = field["ids"].dataType.simpleString()
    roles = F.array(*[F.lit(r) for r in loss_roles])
    acc0 = F.struct(
        F.expr(f"CAST(array() AS {ids_t})").alias("ids"),
        F.expr(
            "CAST(array() AS array<struct<start:int,end:int>>)"
        ).alias("spans"),
    )
    n = lambda t: F.coalesce(F.size(t["ids"]), F.lit(0))  # noqa: E731

    def step(acc, t):
        at = F.size(acc["ids"])
        span = F.struct(
            at.alias("start"), (at + n(t)).cast("int").alias("end")
        )
        return F.struct(
            F.when(n(t) > 0, F.concat(acc["ids"], t["ids"]))
            .otherwise(acc["ids"])
            .alias("ids"),
            F.when(
                F.array_contains(roles, t["role"]) & (n(t) > 0),
                F.concat(acc["spans"], F.array(span)),
            )
            .otherwise(acc["spans"])
            .alias("spans"),
        )

    agg = F.aggregate(F.col(turns_col), acc0, step)
    return (
        df.withColumn("__asm", agg)
        .withColumn(ids_out, F.col("__asm")["ids"])
        .withColumn(spans_out, F.col("__asm")["spans"])
        .withColumn(
            n_tokens_out, F.size(ids_out).cast("bigint")
        )
        .drop("__asm")
    )


def with_span_labels(
    df: DataFrame,
    spans_col: str,
    ids_col: str = "ids",
    n_tokens_col: str = "n_tokens",
    out_col: str = "labels",
    ignore_index: int = -100,
) -> DataFrame:
    """Span-masked next-token labels — the multi-turn generalization
    of :func:`with_completion_labels`: ``labels[i] = ids[i+1]`` only
    where the TARGET position ``i+1`` falls inside one of the
    [start, end) loss spans (and is still a real token); everything
    else — non-loss turns, each span's final transition into a
    non-loss region, padding — masks to ``ignore_index``.  A single
    span [prompt_len, n_tokens) reproduces completion-only labels
    exactly (pinned by test).

    The model still ATTENDS everywhere; masking is loss-side only.
    One JVM array transform with an EXISTS over the row's spans per
    position (spans are per-conversation, single digits — row-local
    work, no UDF, no shuffle)."""
    elem_t = df.schema[ids_col].dataType.elementType
    ign = F.lit(int(ignore_index)).cast(elem_t)
    in_span = lambda pos: F.exists(  # noqa: E731
        F.col(spans_col),
        lambda s: (pos >= s["start"]) & (pos < s["end"]),
    )
    labels = F.transform(
        F.col(ids_col),
        lambda x, i: F.when(
            (i + 1 < F.col(n_tokens_col)) & in_span(i + 1),
            F.element_at(F.col(ids_col), (i + 2).cast("int")),
        ).otherwise(ign),
    )
    return df.withColumn(out_col, labels)


def assemble_preference_pairs(
    df: DataFrame,
    prompt_col: str,
    chosen_col: str,
    rejected_col: str,
    budget: int,
    max_prompt_len: int,
    id_col: str = "pair_id",
    pad_id: int = 0,
    ignore_index: int = -100,
) -> DataFrame:
    """Arrange preference data (DPO/RLHF reward modeling) into
    trainable examples: each input row (prompt ids, chosen ids,
    rejected ids) emits TWO rows — ``side`` 'chosen'/'rejected' —
    each ``budget``-long right-padded, with ``prompt_len`` /
    ``n_tokens`` and completion-only ``labels``
    (:func:`with_completion_labels` semantics).

    Truncation is the standard pair-safe recipe: the prompt
    LEFT-truncates to ``max_prompt_len`` FIRST (keeping the most
    recent context), then each completion right-truncates into the
    remaining ``budget - prompt_len`` slots.  Capping the prompt at a
    fixed length — rather than at whatever its own completion leaves
    room for — is what keeps the two sides of a pair byte-identical
    on the prompt; a per-side prompt cut would let the preference
    loss compare completions conditioned on DIFFERENT contexts.

    Plan: one ``inline`` fanout (2 rows per pair) of stateless
    slice/concat projections — no UDF, no shuffle.  Pairs whose
    completion truncates to zero tokens survive (all-masked labels,
    ``n_tokens == prompt_len``); filter on
    ``n_tokens > prompt_len`` downstream if the loss cannot skip
    them."""
    b, mp = int(budget), int(max_prompt_len)
    if not (0 <= mp < b):
        raise ValueError(
            f"assemble_preference_pairs: need 0 <= max_prompt_len "
            f"< budget (got {mp}, {b})"
        )
    elem_t = df.schema[prompt_col].dataType.elementType
    empty = F.expr(f"CAST(array() AS array<{elem_t.simpleString()}>)")
    src_prompt = F.coalesce(df[prompt_col], empty)
    np = F.coalesce(F.size(df[prompt_col]), F.lit(0))
    # clamp: size() is -1 on NULL arrays under legacy behavior
    np = F.greatest(np, F.lit(0))
    kept = F.least(np, F.lit(mp))
    prompt = F.slice(src_prompt, np - kept + 1, kept)
    # Column-API construction, not SQL-text interpolation: a column
    # name needing backticks (dot, space, hyphen) would break F.expr
    # parsing or resolve as a struct-field access; df[name] resolves
    # the literal name.  Both completion slots cast to the prompt's
    # array type so the struct branches unify even when the two input
    # columns inferred different integer widths.
    comp_t = f"array<{elem_t.simpleString()}>"
    sides = F.array(
        F.struct(
            F.lit("chosen").alias("side"),
            df[chosen_col].cast(comp_t).alias("comp"),
        ),
        F.struct(
            F.lit("rejected").alias("side"),
            df[rejected_col].cast(comp_t).alias("comp"),
        ),
    )
    out = df.select(
        df[id_col].alias(id_col),
        prompt.alias("__prompt"),
        kept.cast("int").alias("prompt_len"),
        F.inline(sides),
    )
    room = F.lit(b) - F.col("prompt_len")
    ncomp = F.greatest(F.coalesce(F.size("comp"), F.lit(0)), F.lit(0))
    comp = F.slice(
        F.coalesce(F.col("comp"), empty),
        F.lit(1),
        F.least(ncomp, room),
    )
    ex = out.select(
        id_col,
        "side",
        "prompt_len",
        F.concat(F.col("__prompt"), comp).alias("__real"),
    ).select(
        id_col,
        "side",
        "prompt_len",
        F.size("__real").cast("bigint").alias("n_tokens"),
        F.concat(
            F.col("__real"),
            F.array_repeat(
                F.lit(pad_id).cast(elem_t), b - F.size("__real")
            ),
        ).alias("ids"),
    )
    return with_completion_labels(
        ex, "prompt_len", ignore_index=ignore_index
    )


#: Purpose salt for stratified sampling — distinct from the unseeded
#: (seed=0) hash used by hash_sample/with_split so composing a stratum
#: filter with a later split over the same id stays unbiased (see
#: functions.portable.hash_bucket_expr).
STRATIFIED_SEED = 1


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = STRATIFIED_SEED,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash
    bucket (out of 1000) falls under the stratum's rate. The membership
    test is a pure function of (id, stratum) — no RNG state, no
    partition-layout dependence — so upsampling low-resource languages
    or downsampling a dominant source is reproducible run-to-run and
    engine-to-engine. One scan, filter only, no shuffle; the CASE
    branches are a broadcast-free way to attach per-stratum thresholds
    when the stratum set is small and known (a join against a rates
    table is the dynamic-rate variant).

    The hash is salted with ``seed`` so this stage's buckets are
    independent of the unseeded hash_sample/with_split buckets — an
    unsalted 1000-bucket filter would leak into a later 100-bucket
    split because (h % 1000) % 100 == h % 100."""
    b = F.expr(hash_bucket_expr("spark", id_col, 1000, seed=seed))
    expr = F.lit(int(default_rate * 1000))
    for val, rate in sorted(rates.items(), reverse=True):
        expr = F.when(
            F.col(strat_col) == val, F.lit(int(rate * 1000))
        ).otherwise(expr)
    return df.filter(b < expr)


#: Purpose salts (see hash_bucket_expr): 2 = fixed-size per-stratum
#: sampling, 3 = domain-mix resampling — independent of each other and
#: of the unseeded sample/split hash and the stratified seed 1.
TOPN_SEED = 2
RESAMPLE_SEED = 3
BUDGET_SEED = 4


def topn_per_stratum(
    df: DataFrame,
    n: int,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = TOPN_SEED,
    safety: int = 4,
) -> DataFrame:
    """Deterministic EXACT-size per-stratum sample: the ``n`` rows of
    each stratum with the smallest salted hash (ties by id). Unlike
    rate-based sampling, output size is exactly min(n, stratum size) —
    the shape for carving fixed eval/calibration sets.

    Scale design: a naive window over each stratum puts a dominant
    stratum's 100 TB of rows through one partition. Instead: (1) one
    narrow count per stratum; (2) broadcast per-stratum hash thresholds
    ~ safety * n / count of the million-bucket space, pruning the
    corpus to ~safety*n rows per stratum at the scan; (3) the exact
    row_number window runs on that tiny survivor set. Strata with
    count <= safety*n keep threshold 1M (no pruning), so the result is
    exact whenever the hash spreads at most ``safety``x worse than
    uniform over the stratum — the deterministic analogue of reservoir
    sampling's union bound, and the same integer arithmetic the DuckDB
    oracle replays."""
    h = F.expr(hash_bucket_expr("spark", id_col, 1_000_000, seed=seed))
    counts = df.groupBy(strat_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # Integer division (DIV) on both engines — double division + CAST
    # would truncate in Spark but round in DuckDB. The numerator is
    # precomputed in Python: written inline it would be an INT-literal
    # product that overflows under ANSI for large n.
    numer = 1_000_000 * int(n) * int(safety)
    thresholds = counts.select(
        strat_col,
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(f"CAST({numer} DIV __cnt AS BIGINT)"),
        ).alias("__th"),
    )
    pruned = (
        df.withColumn("__h", h)
        .join(F.broadcast(thresholds), strat_col)
        .filter(F.col("__h") < F.col("__th"))
    )
    w = W.partitionBy(strat_col).orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__h", "__th", "__rn")
    )


def domain_resample(
    df: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = RESAMPLE_SEED,
) -> DataFrame:
    """Materialize a mixture: keep each row iff its salted hash bucket
    (of 1000) falls under its domain's weight — the application step
    for ``domain_mix_weights`` output (weights in [0, 1], column
    ``weight``). Broadcast join against the domain-count weights table
    (tiny), then a pure filter: no corpus shuffle, deterministic, and
    composable with later splits because the hash is purpose-salted."""
    b = F.expr(hash_bucket_expr("spark", id_col, 1000, seed=seed))
    w = weights.select(group_col, F.floor(F.col("weight") * 1000).alias("__wth"))
    return (
        df.join(F.broadcast(w), group_col)
        .filter(b < F.col("__wth"))
        .drop("__wth")
    )


def domain_mix_weights(
    df: DataFrame,
    group_col: str = "source",
    token_col: str = "est_tokens",
    cap: bool = True,
) -> DataFrame:
    """Per-domain sampling weights toward a UNIFORM target mixture:
    weight_g = min(1, (total_tokens / n_groups) / group_tokens). A
    domain above its uniform share is downsampled by its weight; a
    domain below keeps everything (weight 1 — upsampling is an epoch
    multiplier decided downstream). With ``cap=False`` the raw ratio is
    emitted instead (weights > 1 mean "this domain repeats w times") —
    the input epoch_upsample materializes. Output: group, n_docs,
    n_tokens, weight.

    Plan: one partial-aggregated shuffle to per-group totals (narrow —
    one row per domain), then a scalar total broadcast back via a
    window over the unpartitioned frame of GROUP ROWS (domain count,
    not corpus rows — safe single-partition window)."""
    grouped = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col).cast("bigint")).alias("n_tokens"),
    )
    w = W.partitionBy()
    total = F.sum("n_tokens").over(w)
    n_groups = F.count(F.lit(1)).over(w)
    raw = (total / n_groups) / F.col("n_tokens")
    if cap:
        raw = F.least(F.lit(1.0), raw)
    return grouped.select(
        group_col,
        "n_docs",
        "n_tokens",
        round_to_col(raw, 4).alias("weight"),
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    token_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = BUDGET_SEED,
) -> DataFrame:
    """Deterministic per-domain token-budget selection: stream each
    domain's documents in salted-hash order (a stable uniform shuffle)
    and keep documents until the domain's token budget is exhausted —
    the "take N tokens per source" step that turns mixture weights into
    an actual corpus. A document is kept iff it STARTS under budget, so
    realized tokens may overshoot by at most one document (the standard
    convention — never undershoots a non-empty domain).

    Deterministic: order is (salted hash, id) — a pure function of the
    id, reproducible across engines and cluster sizes, and independent
    of other pipeline stages' buckets (purpose seed 4).

    Scale: one shuffle on group_col; the running sum is a streaming
    frame (no buffering). A domain is one window partition — right
    whenever per-domain volume fits a partition's scan budget; for a
    single domain at 100 TB, pre-shard the domain (salt the group key
    mod k, budget/k per shard) — same plan, composed twice."""
    h = F.expr(hash_bucket_expr("spark", id_col, 1_000_000, seed=seed))
    w = (
        W.partitionBy(group_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum(F.col(token_col).cast("bigint")).over(w)
    return (
        df.withColumn("cum_tokens", running)
        .filter(F.col("cum_tokens") - F.col(token_col) < budget)
    )


def rank_filter(
    df: DataFrame,
    score_col: str,
    group_col: str,
    min_pct: float = 0.5,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Per-group percentile filter: keep rows whose ``score_col``
    percent_rank within their group is >= ``min_pct`` — "drop the
    bottom half of every domain by quality" without hand-picking
    absolute thresholds per domain. Ties share a rank (percent_rank =
    (rank-1)/(n-1), identical rational arithmetic in any ANSI engine),
    so the kept set is deterministic.

    Scale note: exact ranks sort each group once (one shuffle on
    group_col). When a single domain outweighs a partition's sort
    budget, the one-line swap is approx thresholds — aggregate
    approx_percentile(score, min_pct) per group, broadcast, filter —
    trading exactness at the boundary for a shuffle-free scan."""
    pr = F.percent_rank().over(
        W.partitionBy(group_col).orderBy(F.col(score_col).asc())
    )
    return df.withColumn(out_col, round_to_col(pr, 4)).filter(
        F.col(out_col) >= min_pct
    )


EPOCH_SEED = 5


def epoch_upsample(
    df: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = EPOCH_SEED,
) -> DataFrame:
    """Materialize UPSAMPLING epochs: a row with domain weight w
    appears floor(w) times, plus once more iff its salted hash bucket
    falls under the fractional part — so a 2.3x domain emits each doc
    2 times and every ~3rd doc (deterministically chosen by id hash) a
    3rd time. The complement of domain_resample (which only keeps/
    drops); together they materialize any mixture weight. Output rows
    carry ``epoch`` (1-based copy index) so shard writers can spread
    copies across epochs.

    Deterministic: copy count is a pure function of (id, weight); no
    RNG state. Plan: broadcast the tiny weights table, per-row
    sequence explode — a narrow map-side fanout, no shuffle; output
    volume = sum(w_g x |g|), exactly the mixture's token budget."""
    b = F.expr(hash_bucket_expr("spark", id_col, 1000, seed=seed))
    w = weights.select(
        group_col,
        F.floor("weight").cast("int").alias("__full"),
        ((F.col("weight") - F.floor("weight")) * 1000).alias("__fr"),
    )
    copies = F.col("__full") + F.when(b < F.col("__fr"), 1).otherwise(0)
    return (
        df.join(F.broadcast(w), group_col)
        .withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(
            "epoch", F.explode(F.expr("sequence(1, __copies)"))
        )
        .drop("__full", "__fr", "__copies")
    )


SHARD_SEED = 6


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    token_col: str | None = None,
    bytes_col: str | None = None,
    text_col: str | None = None,
    seed: int = SHARD_SEED,
) -> DataFrame:
    """Training-shard write plan: assign every row a deterministic
    shard by salted id hash and emit one manifest row per shard
    (n_docs, n_tokens, n_bytes, id range) — the pre-write audit that
    catches shard skew BEFORE the job writes 100 TB, and the sharding
    function the writer then reuses (`.repartition(n_shards, shard)`
    followed by a partitioned write puts every row exactly where the
    manifest promised).

    Hash sharding makes shard volume multinomial-uniform in expectation
    regardless of input order or skew in the id space; the manifest
    proves it for the actual corpus. One partial-aggregated shuffle of
    manifest-sized rows.

    ``text_col``: when given, each manifest row also carries the
    shard's order-insensitive content fingerprint (fp_a/fp_b — the
    same two XOR'd md5 words as ``profile.corpus_fingerprint``), so a
    written shard can be read back, fingerprinted, and checked against
    what the manifest PROMISED before the write — end-to-end shard
    integrity with no sort and no second full-corpus pass."""
    from streaming_parquet_spark.functions.portable import hex_word_expr

    shard = F.expr(hash_bucket_expr("spark", id_col, n_shards, seed=seed))
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ]
    if token_col:
        aggs.append(
            F.sum(F.col(token_col).cast("bigint")).alias("n_tokens")
        )
    if bytes_col:
        aggs.append(F.sum(F.col(bytes_col).cast("bigint")).alias("n_bytes"))
    if text_col:
        # same NULL-as-'' digest rule and empty-group coalesce as
        # corpus_fingerprint — the two MUST agree for the
        # manifest-vs-readback comparison to mean anything
        d = (
            f"md5(concat(CAST({id_col} AS STRING), ':',"
            f" coalesce({text_col}, '')))"
        )
        zero = "CAST(0 AS BIGINT)"
        aggs.append(
            F.expr(
                f"coalesce(bit_xor({hex_word_expr(d, 1)}), {zero})"
            ).alias("fp_a")
        )
        aggs.append(
            F.expr(
                f"coalesce(bit_xor({hex_word_expr(d, 9)}), {zero})"
            ).alias("fp_b")
        )
    return (
        df.withColumn("shard", shard.cast("int"))
        .groupBy("shard")
        .agg(*aggs)
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """Deterministic weight-biased top-k selection: each row gets the
    integer priority hash(id) * 1000 DIV max(weight, 1) (hash uniform
    in [0, 1e6)); the k smallest priorities win, ties broken by id.
    Inclusion likelihood rises monotonically with weight — the
    hash-as-clock analog of priority (A-ES) sampling, kept in exact
    integer arithmetic so any engine reproduces the same sample (an
    exact exponential-clock scheme needs ln(), which is not
    bit-portable across engines).

    Scale: priority is a stateless per-row expression; top-k compiles
    to TakeOrderedAndProject (per-partition heap + k-row driver-side
    merge), so no global sort and no shuffle of non-winners. Salted
    with its own purpose seed so composing with hash_sample/splits
    stays independent."""
    pr = F.expr(
        f"({hash_bucket_expr('spark', id_col, 1_000_000, seed=seed)}"
        f" * 1000) DIV greatest(CAST({weight_col} AS BIGINT), 1)"
    )
    return (
        df.withColumn("priority", pr)
        .orderBy("priority", id_col)
        .limit(k)
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic pseudo-random TRAINING ORDER for a corpus: every
    row gets a portable hash sort key and a shard assignment; the
    training order is ORDER BY (shard, sort_key, id). Seeding gives
    independent permutations per epoch.

    Scale design: deliberately NO global row_number — a corpus-wide
    window would funnel 100 TB through one sort partition. The key and
    shard are stateless per-row expressions (zero shuffles here);
    writers partition output by shard, and each reader sorts its own
    shard — the standard sharded-shuffle contract. The key is the
    FULL-WIDTH portable hash (two Knuth stages over coprime prime
    moduli packed into 62 bits — see functions.portable.wide_hash_expr:
    the single-stage bucket hash reduces ids mod 1000003 first, which
    as a sort key would tie every >1M-doc corpus into deterministic
    stride runs), so the permutation is reproducible from the data
    alone on resume and across cluster sizes — unlike
    ``df.orderBy(rand())``, whose output depends on partitioning.

    Output: id, sort_key, shard."""
    from streaming_parquet_spark.functions.portable import wide_hash_expr

    key = wide_hash_expr("spark", id_col, seed=seed or 0)
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(key).cast("bigint").alias("sort_key"),
        F.expr(f"CAST(({key}) % {int(n_shards)} AS INT)").alias("shard"),
    )


def interleave_domains(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic round-robin INTERLEAVING of domains into one
    training-stream order: reading the output sorted by
    ``interleave_key`` visits domains in rotation (a, b, c, a, b, c,
    ...) — the standard mitigation for domain-ordered gradient drift
    when shards were written per-source.

    Guarantee, stated precisely: the rotation holds while every domain
    still has rows — position p of each live domain precedes position
    p+1 of any domain. With UNEQUAL domain sizes the stream's tail
    (positions past the smaller domains' ends) is carried by the
    remaining domains alone, ending in a contiguous run of the largest
    domain — inherent to any key of the form pos*n+domain, not a bug;
    cap-and-resample first (``domain_mix``) when the tail run matters.

    key = position_within_domain * n_domains + domain_index, with the
    domain index a dense rank over the sorted domain names and the
    position a rank over ids within each domain — both total orders,
    so the permutation is reproducible from the data alone.

    Scale: the per-domain position is computed as SHARDED ranks plus
    per-shard offsets, not one window partition per domain (which
    would funnel each domain's entire corpus through a single task —
    few huge domains is the common corpus shape). The input is
    range-partitioned on (domain, id); each task ranks its contiguous
    slice locally, and a tiny (domain, shard)->count relation,
    cumulative-summed and broadcast back, lifts local ranks to global
    positions. Partition boundaries come from sampling and may vary
    run to run, but the OUTPUT is invariant: pos is exactly the number
    of same-domain rows with a smaller id, whatever the boundaries.
    Output: id, group, interleave_key."""
    from pyspark.sql import Window as W

    base = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"))
    spark = base.sparkSession
    n_shards = spark.sparkContext.defaultParallelism or 8
    domains = (
        base.select(F.col("grp").alias("g")).distinct()
        .withColumn(
            "gi",
            F.row_number().over(W.orderBy("g")).cast("bigint") - 1,
        )
    )
    n = domains.agg(F.count(F.lit(1)).alias("__n"))
    # Order-preserving shards: after a range partition on (grp, id),
    # every task holds a contiguous id-slice of each domain it sees.
    # MATERIALIZED before fan-out: the local-rank and offset subtrees
    # below both consume ``p``; without the persist their alignment
    # would rest on Spark's exchange-reuse firing (range boundaries are
    # sampled, so two independent evaluations may shard differently and
    # silently misalign rank against offset). The persisted frame pins
    # ``p`` to one physical evaluation.
    sharded = stage(
        base.repartitionByRange(n_shards, "grp", "id").withColumn(
            "p", F.spark_partition_id()
        ),
    )
    # local rank within (domain, shard) — bounded by the shard size,
    # never by the domain size
    local = sharded.withColumn(
        "lrank",
        F.row_number().over(W.partitionBy("grp", "p").orderBy("id"))
        .cast("bigint") - 1,
    )
    # tiny (domain, shard) -> row-count relation; exclusive running sum
    # over shard order gives each shard's global offset within its domain
    offsets = (
        sharded.groupBy("grp", "p").agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("c").over(
                    W.partitionBy("grp").orderBy("p")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .select("grp", "p", "off")
    )
    return (
        local.join(F.broadcast(offsets), ["grp", "p"])
        .withColumn("pos", F.col("off") + F.col("lrank"))
        .join(F.broadcast(domains), F.col("grp") == F.col("g"))
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "grp",
            (F.col("pos") * F.col("__n") + F.col("gi"))
            .cast("bigint")
            .alias("interleave_key"),
        )
    )


TEMPERATURE_SEED = 8


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha_num: int = 1,
    alpha_sqrts: int = 1,
    target_total: int | None = None,
    seed: int = TEMPERATURE_SEED,
) -> DataFrame:
    """Deterministic TEMPERATURE-scaled domain mixing — the standard
    multilingual / multi-domain LM sampling recipe (p_d proportional to
    c_d^alpha, per XLM-R / mT5; public literature): alpha < 1 upweights
    small domains relative to proportional sampling without letting any
    one domain dominate, alpha = 1 reproduces proportional, alpha -> 0
    approaches uniform.

    ``alpha = alpha_num / 2^alpha_sqrts`` — the exponent is expressed
    as repeated IEEE square roots followed by an integer power
    (c^(m/2^k) = (sqrt^k c)^m), because sqrt is correctly rounded and
    multiplication order is fixed, so BOTH engines produce the same
    double bit-for-bit; libm pow() would not be portable. Defaults give
    alpha = 0.5. After one floor to millionths, ALL arithmetic is exact
    BIGINT — the domain-weight total is an integer sum (order-free),
    shares and keep-rates are integer div — so the kept set is a pure
    function of the data, reproducible across engines, partitionings,
    and cluster sizes.

    rate_d = min(1, target * share_d / c_d), share_d = w_d / sum(w);
    a row is kept iff its purpose-salted hash bucket (of 1e6) falls
    under rate_d * 1e6. ``target_total`` defaults to the corpus size
    (reshape the mixture at constant scale).

    Scale: one partial-aggregated shuffle to per-domain counts (one row
    per domain), rates broadcast back, then a pure filter — the corpus
    itself never shuffles. Output: the kept rows of ``df``."""
    if alpha_num < 1 or alpha_sqrts < 0:
        raise ValueError("alpha must be positive: alpha_num/2^alpha_sqrts")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c"))
    s = F.col("__c").cast("double")
    for _ in range(alpha_sqrts):
        s = F.sqrt(s)
    w = s
    for _ in range(alpha_num - 1):
        w = w * s
    win = W.partitionBy()
    rates = (
        counts.withColumn(
            "__w", F.floor(w * F.lit(1000000.0)).cast("bigint")
        )
        .withColumn("__tw", F.sum("__w").over(win))
        .withColumn("__n", F.sum("__c").over(win))
        .withColumn(
            "__share_ppm",
            F.expr("(__w * 1000000) DIV __tw"),
        )
        .withColumn(
            "__target",
            F.lit(int(target_total)).cast("bigint")
            if target_total is not None
            else F.col("__n"),
        )
        .withColumn(
            "__rate_ppm",
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr("(__target * __share_ppm) DIV __c"),
            ),
        )
        .select(group_col, "__rate_ppm")
    )
    b = F.expr(hash_bucket_expr("spark", id_col, 1000000, seed=seed))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(b < F.col("__rate_ppm"))
        .drop("__rate_ppm")
    )


def dsir_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """Hashed bag-of-words features: (id, bucket, count) with ALL token
    multiplicity, bucket = md5-hash(word) % ``buckets`` via the
    portable hex parse (bit-identical in DuckDB). The explode shuffles
    (id, bucket) pairs, never documents, and the groupBy's map-side
    partial aggregation collapses a document's repeated buckets inside
    its scan partition before the exchange."""
    from streaming_parquet_spark.functions.portable import (
        ordered_words_expr,
        word_hashes_expr,
    )

    words = f"filter({ordered_words_expr('spark', text_col)}, w -> w != '')"
    bkts = (
        f"transform({word_hashes_expr('spark', words)},"
        f" h -> h % {int(buckets)})"
    )
    return (
        df.select(F.col(id_col), F.explode(F.expr(bkts)).alias("bkt"))
        .groupBy(id_col, "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
    sqrts: int = 20,
    scale_bits: int = 20,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit two smoothed
    multinomial bag models over hashed word features — the TARGET
    domain vs the RAW corpus — and score every raw document by its
    per-token log-likelihood ratio

        w(doc) = sum_b n_b(doc) * [ln p_target(b) - ln p_raw(b)]

    Output: (id, n_tokens, dsir_weight) with dsir_weight the exact
    BIGINT fixed-point sum (2^scale_bits per ln unit). Select the
    corpus by taking the top rows by weight (deterministic id
    tie-break) or by resampling proportionally downstream.

    Bit-portable by construction: the per-bucket log-ratio comes from
    ``fixed_ln_expr`` (chained correctly-rounded sqrts — no libm ln in
    any hashed column), its double operand is a single correctly-
    rounded division of EXACT integer products, and everything after
    is BIGINT arithmetic — so a DuckDB oracle reproduces every weight
    bit-for-bit.

    Exactness bound: (count+1) * (total+buckets) must stay below 2^53
    (exact-double products). That holds for model fits up to ~9e7
    tokens per side; at 100 TB fit the models on a deterministic hash
    sample under that bound — exactly the paper's own recipe (the bag
    models are estimated from a sample; only the SCORING pass must see
    every document) — and the B-row model broadcast-scores the full
    corpus with no extra shuffle. The corpus feature relation feeds
    BOTH the raw model fit and the scoring join; it is RECOMPUTED per
    consumer rather than persisted — A/B at sf0.1 measured the staged
    variant (staging.stage) at 3.3 s vs 2.4 s pipelined, the same
    persist-overhead-exceeds-recompute result as the IVF shared
    -assignment experiment (queries_ext.py, embed_ann_ivf_quantized
    note). At ingest scale the right form is a feature TABLE written
    once and read by both passes, not an in-session cache."""
    from streaming_parquet_spark.functions.portable import fixed_ln_expr

    b = int(buckets)
    feats = dsir_features(corpus, text_col, id_col, buckets=b)
    tfeats = dsir_features(target, text_col, id_col, buckets=b)
    raw = feats.groupBy("bkt").agg(F.sum("cnt").alias("cr"))
    tgt = tfeats.groupBy("bkt").agg(F.sum("cnt").alias("ct"))
    # coalesce the totals too: SUM over an EMPTY side (a target with no
    # docs, or none with any token) is NULL, which would otherwise
    # poison every ratio -> every weight -> silently drop the whole
    # corpus downstream; with 0 the +1 smoothing degrades gracefully to
    # a uniform model, which is the honest no-information answer.
    n_raw = raw.agg(
        F.expr("coalesce(sum(cr), CAST(0 AS BIGINT))").alias("nr")
    )
    n_tgt = tgt.agg(
        F.expr("coalesce(sum(ct), CAST(0 AS BIGINT))").alias("nt")
    )
    ratio = (
        f"CAST((coalesce(ct, CAST(0 AS BIGINT)) + 1) * (nr + {b})"
        f" AS DOUBLE) / CAST((cr + 1) * (nt + {b}) AS DOUBLE)"
    )
    model = (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "bkt",
            F.expr(
                fixed_ln_expr("spark", f"({ratio})", sqrts, scale_bits)
            ).alias("lr"),
        )
    )
    return (
        feats.join(F.broadcast(model), "bkt")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lr")).alias("dsir_weight"),
        )
    )


def verify_shards(
    spark,
    manifest: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    prepare=None,
    shard_type: str = "int",
) -> DataFrame:
    """Check written shards against what a ``text_col``-bearing
    :func:`shard_manifest` PROMISED: ONE partition-discovering scan of
    ``path`` (``shard`` read as the partition column) computes every
    shard's fingerprint in a single distributed job — the same
    ``batch_manifest``-shaped groupBy digest the manifest rows carry —
    then a full-outer join against the manifest yields one row per
    shard with promised and observed values plus ``ok``.

    Absence vs corruption are DIFFERENT answers: a shard directory
    that is missing (or a wholly absent ``path``) falls out of the
    join as nulls and reports n_docs_observed = 0 with ok = false —
    partial writes show exactly which shards are absent — while a
    shard that EXISTS but cannot be read (corrupt footer, permission
    failure) RAISES from the scan.  The previous per-shard driver
    loop's catch-all reported both as "missing, 0 docs", hiding
    corruption behind the absence answer; only the narrow
    empty/missing-path classes are caught now
    (``sources.readers.read_parquet_or_none``).  A shard present on
    disk but absent from the manifest also surfaces (promised nulls
    -> 0, ok = false): stray data is an integrity failure too.

    Scale: one column-pruned, partition-discovered scan + a map-side-
    combined groupBy of manifest-sized output — 10k shards cost one
    job, not 10k sequential driver-launched jobs whose launch latency
    dominates long before data does.

    ``prepare``: optional frame -> frame hook applied to the scanned
    shards before digesting — the token-shard verifier uses it to
    derive its (key, payload) digest columns from array-typed window
    rows, reusing this function's scan/join/ok machinery instead of
    copying it.  ``shard_type``: the shard key's SQL type (int for
    hash-planned doc shards; the token shards' part key is a string
    column)."""
    # the whole point is verifying files that may have JUST been
    # (re)written — drop any cached listing for the path first, or a
    # prior read of the same location serves stale file names
    # (FAILED_READ_FILE.FILE_NOT_EXIST)
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass
    promised = manifest.select(
        F.col("shard").cast(shard_type).alias("shard"),
        F.col("n_docs").alias("n_docs_promised"),
        F.col("fp_a").alias("fp_a_promised"),
        F.col("fp_b").alias("fp_b_promised"),
    )
    obs_schema = (
        f"shard {shard_type}, n_docs_observed bigint,"
        " fp_a_observed bigint, fp_b_observed bigint"
    )
    scanned = read_parquet_or_none(spark.read, path)
    if scanned is None:
        # an entirely absent / empty output root: every shard is
        # missing, which the join below reports per row
        observed = spark.createDataFrame([], obs_schema)
    else:
        if prepare is not None:
            scanned = prepare(scanned)
        if "shard" not in scanned.columns:
            # a populated path with no shard= partition layout is a
            # WRONG path (or an unpartitioned write), not a set of
            # missing shards — say so instead of letting the groupBy
            # die on an unresolved column
            raise ValueError(
                f"verify_shards: {path!r} has no shard= partition "
                f"column — not a shard_manifest-planned output"
            )
        # the digest is profile.batch_manifest's, REUSED (not a fourth
        # inline copy of the md5/bit_xor/NULL-collapse logic): the
        # manifest and the readback must agree on the digest
        # definition by construction, not by parallel maintenance
        from streaming_parquet_spark.operators.profile import (
            batch_manifest,
        )

        observed = batch_manifest(
            scanned.withColumn("shard", F.col("shard").cast(shard_type)),
            batch_col="shard",
            id_col=id_col,
            text_col=text_col,
        ).select(
            "shard",
            F.col("n_docs").alias("n_docs_observed"),
            F.col("fp_a").alias("fp_a_observed"),
            F.col("fp_b").alias("fp_b_observed"),
        )
    z = F.lit(0).cast("bigint")
    ok = (
        F.col("n_docs_promised").isNotNull()
        & F.col("n_docs_observed").isNotNull()
        & (F.col("n_docs_promised") == F.col("n_docs_observed"))
        & (F.col("fp_a_promised") == F.col("fp_a_observed"))
        & (F.col("fp_b_promised") == F.col("fp_b_observed"))
    )
    return promised.join(observed, "shard", "full_outer").select(
        F.col("shard").cast(shard_type).alias("shard"),
        F.coalesce("n_docs_promised", z).alias("n_docs_promised"),
        F.coalesce("n_docs_observed", z).alias("n_docs_observed"),
        F.coalesce("fp_a_promised", z).alias("fp_a_promised"),
        F.coalesce("fp_a_observed", z).alias("fp_a_observed"),
        F.coalesce("fp_b_promised", z).alias("fp_b_promised"),
        F.coalesce("fp_b_observed", z).alias("fp_b_observed"),
        ok.alias("ok"),
    )


# ---------------------------------------------------------------------------
# Persisted training shards: the write/read/verify leg between
# pack_token_windows' trainable tensors and an actual training run.
# The same pinned-contract discipline as every other persisted artifact
# here (tokenize.write_subword_ids, dedup.write_lsh_index): the
# parameters that silently corrupt training if they drift — window
# budget, pad/eos ids, and ABOVE ALL the vocabulary the ids were
# encoded under — are stored with the data, and the reader fails fast
# on a mismatch instead of feeding one tokenizer's ids to another
# tokenizer's embedding matrix.
#
# Layout: path/<shard_col>=<value>/part-*.parquet (one partitioned
# write, shards readable independently by training workers) plus
# path/_manifest/ — an underscore-prefixed sidecar Spark's file
# discovery ignores on the data read — holding one row per shard
# (n_windows, n_tokens, fp_a/fp_b content digests) with the contract
# pinned as constant columns.
# ---------------------------------------------------------------------------

#: contract format version pinned on the manifest sidecar; readers
#: refuse anything else, so the digest/layout can evolve without
#: silently misreading old shard sets.  v2 (r11): the digest renders
#: nulls EXPLICITLY — v1's concat_ws/array_join silently skipped null
#: elements and rendered null arrays like empty ones, so two windows
#: differing only by null-vs-empty ids/doc_starts (or a value
#: corrupted to null) digested identically and passed verification.
TOKEN_SHARD_FORMAT = "token-shards-v2"


def _window_digest_frame(
    frame: DataFrame,
    shard_col: str,
    win_col: str,
    ids_col: str,
    n_tokens_col: str,
    starts_col: str,
) -> DataFrame:
    """Project window rows to the (shard, key, payload) digest space
    shared by :func:`token_shard_manifest` (the promise) and
    :func:`verify_token_shards`' prepare hook (the readback) — one
    definition, so the two sides agree by construction.  The payload
    folds EVERY trainable field (real-token count, the full id array,
    the document-boundary slots) into the fingerprint; a flipped id
    or a lost boundary slot changes it.  Nulls render EXPLICITLY
    (null element -> 'NULL', null array -> '<NULLARR>', null count ->
    'NULL'): the default concat_ws/array_join null-skipping would let
    a value corrupted to null — or a null array vs an empty one —
    digest identically to the clean window and slip past verify."""
    null_arr = F.lit("<NULLARR>")

    def arr(col_name: str):
        return F.coalesce(
            F.array_join(
                F.col(col_name).cast("array<string>"), ",", "NULL"
            ),
            null_arr,
        )

    return frame.select(
        F.col(shard_col).cast("string").alias("shard"),
        F.col(win_col).cast("string").alias("__win_key"),
        F.concat_ws(
            "|",
            F.coalesce(
                F.col(n_tokens_col).cast("string"), F.lit("NULL")
            ),
            arr(ids_col),
            arr(starts_col),
        ).alias("__win_payload"),
        F.col(n_tokens_col).cast("bigint").alias("__win_n_tokens"),
    )


def token_shard_manifest(
    windows: DataFrame,
    shard_col: str = "shard",
    win_col: str = "win",
    ids_col: str = "ids",
    n_tokens_col: str = "n_tokens",
    starts_col: str = "doc_starts",
) -> DataFrame:
    """Per-shard manifest of a packed-window frame: one row per shard
    with n_windows, n_tokens (real, pre-pad), and the same
    order-insensitive fp_a/fp_b XOR digests as
    ``profile.batch_manifest`` (REUSED, not re-implemented) over the
    (win, n_tokens|ids|doc_starts) digest space.  One
    map-side-combined pass, manifest-sized output — the promise
    :func:`verify_token_shards` later checks the written files
    against."""
    from streaming_parquet_spark.operators.profile import batch_manifest

    derived = _window_digest_frame(
        windows, shard_col, win_col, ids_col, n_tokens_col, starts_col
    )
    m = batch_manifest(
        derived,
        batch_col="shard",
        id_col="__win_key",
        text_col="__win_payload",
        extra_aggs=[
            F.coalesce(
                F.sum("__win_n_tokens"), F.lit(0).cast("bigint")
            ).alias("n_tokens")
        ],
    )
    return m.select(
        "shard",
        F.col("n_docs").alias("n_windows"),
        "n_tokens",
        "fp_a",
        "fp_b",
    )


def _vocab_fp(vocab_ids: DataFrame):
    """(n_docs, fp_a, fp_b) fingerprint of a frozen id table — the
    vocabulary identity the shard contract pins (one model-sized
    ``corpus_fingerprint`` pass over (id, piece))."""
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )

    return corpus_fingerprint(
        vocab_ids, id_col="id", text_col="piece"
    ).first()


def _budget_guard(
    windows: DataFrame,
    budget: int,
    win_col: str,
    ids_col: str,
    n_tokens_col: str,
    fn_name: str,
):
    """The write-scan budget enforcement shared by the shard writers:
    a window whose id array is not exactly ``budget`` long, or whose
    real-token count is outside [0, budget], RAISES from the
    projection itself — no extra validation pass."""
    arr_t = windows.schema[ids_col].dataType
    bad = (
        (F.size(ids_col) != budget)
        | (F.col(n_tokens_col) > budget)
        | (F.col(n_tokens_col) < 0)
    )
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"{fn_name}: window {win_col}="),
                F.col(win_col).cast("string"),
                F.lit(
                    f" violates the budget={budget} contract "
                    f"(size(ids) must equal budget and "
                    f"0 <= {n_tokens_col} <= budget)"
                ),
            )
        ).cast(arr_t),
    ).otherwise(F.col(ids_col))


def write_token_shards(
    windows: DataFrame,
    path: str,
    vocab_ids: DataFrame,
    budget: int,
    shard_col: str = "shard",
    win_col: str = "win",
    ids_col: str = "ids",
    n_tokens_col: str = "n_tokens",
    starts_col: str = "doc_starts",
    pad_id: int = 0,
    eos_id: int | None = None,
    mode: str = "error",
) -> DataFrame:
    """Persist packed training windows as a verified shard set: one
    partitioned parquet write under ``path`` (shards land in
    ``<shard_col>=<value>/`` directories training workers read
    independently) plus the ``_manifest`` sidecar pinning the
    contract — window ``budget``, ``pad_id``/``eos_id``, the column
    names, and the VOCABULARY FINGERPRINT (``profile.
    corpus_fingerprint`` over the frozen id table) — so
    :func:`read_token_shards` can refuse a shard set encoded under a
    different tokenizer artifact, the failure mode that silently
    scrambles every embedding lookup.

    A window whose id array is not exactly ``budget`` long, or whose
    real-token count exceeds it, RAISES from the write scan itself
    (a ``raise_error`` guard riding the projection — no extra pass):
    a half-packed frame must never become a shard set.

    Returns the per-shard manifest (with contract columns) that was
    written.  Scale: the manifest is one map-side-combined pass and
    the write is one partitioned scan — two computations of the
    windows lineage total; persist the windows first when their
    lineage is expensive (tokenizer UDFs), same advice as
    ``subword_vocab``.  ``mode``: "error" (default) refuses an
    existing ``path``; "overwrite" replaces the whole shard set
    atomically enough for reruns (both legs use the same mode)."""
    v = _vocab_fp(vocab_ids)
    b = int(budget)
    guard = _budget_guard(
        windows, b, win_col, ids_col, n_tokens_col, "write_token_shards"
    )
    manifest = token_shard_manifest(
        windows, shard_col, win_col, ids_col, n_tokens_col, starts_col
    ).select(
        "*",
        F.lit(TOKEN_SHARD_FORMAT).alias("format"),
        F.lit(b).alias("budget"),
        F.lit(int(pad_id)).alias("pad_id"),
        F.lit(None if eos_id is None else int(eos_id))
        .cast("int")
        .alias("eos_id"),
        F.lit(shard_col).alias("shard_col"),
        F.lit(win_col).alias("win_col"),
        F.lit(ids_col).alias("ids_col"),
        F.lit(n_tokens_col).alias("n_tokens_col"),
        F.lit(starts_col).alias("starts_col"),
        F.lit(v["n_docs"]).alias("vocab_size"),
        F.lit(v["fp_a"]).alias("vocab_fp_a"),
        F.lit(v["fp_b"]).alias("vocab_fp_b"),
    )
    (
        windows.withColumn(ids_col, guard)
        .write.mode(mode)
        .partitionBy(shard_col)
        .parquet(path)
    )
    # sidecar AFTER the data: a crash between the two leaves data with
    # no manifest — loudly incomplete (read_token_shards raises) —
    # never a manifest promising data that was not written
    import os as _os

    manifest.write.mode(mode).parquet(_os.path.join(path, "_manifest"))
    return manifest


_CONTRACT_COLS = (
    "format budget pad_id eos_id shard_col win_col ids_col "
    "n_tokens_col starts_col vocab_size vocab_fp_a vocab_fp_b"
).split()


def _contract_manifest(
    windows: DataFrame, contract: dict, side_t: dict
) -> DataFrame:
    """:func:`token_shard_manifest` rows plus the pinned contract
    literals, typed from ``side_t`` (a sidecar's dtypes — literal
    types are value-dependent and an untyped None eos_id would land
    as VOID, so mixed-type parquet appends would corrupt the contract
    read).  The one construction every sidecar writer shares:
    :func:`append_token_shards`, :func:`compact_token_shards`, and
    ``streaming.shards.shard_ingest_stream``."""
    m = token_shard_manifest(
        windows,
        contract["shard_col"], contract["win_col"],
        contract["ids_col"], contract["n_tokens_col"],
        contract["starts_col"],
    )
    return m.select(
        "*",
        *[
            F.lit(contract[c]).cast(side_t[c]).alias(c)
            for c in _CONTRACT_COLS
        ],
    )


def _read_shard_contract(
    spark, path: str, caller: str = "read_token_shards"
) -> tuple[DataFrame, dict]:
    """Load a shard set's manifest sidecar and its single pinned
    contract; raises on an absent sidecar (incomplete or non-shard
    path), a mixed contract (two writes interleaved), or a foreign
    format version.  ``caller`` names the API the user actually hit
    in every error — an append/compact/rank-read failure must not
    report itself as a read_token_shards problem."""
    manifest = _manifest_frame(spark, path, caller)
    return manifest, _single_contract(manifest, repr(path), caller)


class ManifestAbsent(ValueError):
    """The ``_manifest`` sidecar does not exist at all (PATH_NOT_FOUND
    shape) — a never-written set or a reclaimed generation. Typed so
    the audit verbs can classify benign-drop vs integrity-incident
    without string-matching another module's message (review r13)."""


class ManifestUnreadable(ValueError):
    """The ``_manifest`` directory EXISTS but holds no readable
    parquet — a truncated or tampered write, never a benign drop."""


def _manifest_frame(spark, path: str, caller: str) -> DataFrame:
    """The manifest sidecar as a frame, with the absent-sidecar
    refusal every contract reader shares."""
    import os as _os

    from pyspark.errors import AnalysisException

    mpath = _os.path.join(path, "_manifest")
    try:
        return spark.read.parquet(mpath)
    except AnalysisException as exc:
        marker = error_condition(exc)
        if "PATH_NOT_FOUND" in marker:
            raise ManifestAbsent(
                f"{caller}: {path!r} has no _manifest sidecar "
                f"— not a (completely) written token-shard set"
            ) from exc
        if "UNABLE_TO_INFER_SCHEMA" in marker:
            # the sidecar DIRECTORY exists but holds no readable
            # parquet — a truncated or tampered write, not mere
            # absence; audit_generation classifies the two differently
            # (benign drop vs integrity incident)
            raise ManifestUnreadable(
                f"{caller}: {path!r} has an EMPTY _manifest sidecar "
                f"(directory present, no readable parquet) — a "
                f"truncated or tampered write"
            ) from exc
        raise


def _sidecar_snapshot(
    spark, path: str, caller: str
) -> tuple[DataFrame, list, dict]:
    """ONE collect of the manifest sidecar: (manifest frame, rows,
    contract), where each row is a dict carrying the string shard
    key, bigint n_windows/n_tokens (nulls coalesced to 0), and the
    contract columns.  The rank and mixture readers need the
    contract, the key list, AND per-shard counts — reading them as
    three separate driver jobs triples the sequential
    manifest-round-trip latency per set (an object-store listing +
    scan each time at 100 TB); the snapshot pays it once.  Refusal
    semantics are identical to :func:`_read_shard_contract`."""
    manifest = _manifest_frame(spark, path, caller)
    missing = [
        c
        for c in ("shard", "n_windows", "n_tokens", *_CONTRACT_COLS)
        if c not in manifest.columns
    ]
    if missing:
        raise ValueError(
            f"{caller}: {path!r} is not a token-shard manifest "
            f"(missing contract column(s) {missing}) — a payload "
            f"store reads through the payload plane's verbs (format "
            f"{TOKEN_SHARD_FORMAT!r} expected)"
        )
    rows = [
        r.asDict()
        for r in manifest.select(
            F.col("shard").cast("string").alias("shard"),
            F.coalesce(F.col("n_windows").cast("bigint"), F.lit(0)).alias(
                "n_windows"
            ),
            F.coalesce(F.col("n_tokens").cast("bigint"), F.lit(0)).alias(
                "n_tokens"
            ),
            *_CONTRACT_COLS,
        ).collect()
    ]
    return manifest, rows, _contract_from_rows(rows, repr(path), caller)


def _single_contract(
    manifest: DataFrame, what: str, caller: str = "read_token_shards"
) -> dict:
    """The one pinned contract a manifest frame carries; raises on
    empty (no shards), mixed (two writes interleaved), or a foreign
    format version — errors prefixed with ``caller``, the API the
    user invoked.  A sidecar LACKING the token contract columns (a
    payload-store manifest — the cross-plane mistake) refuses by name
    instead of surfacing an unresolved-column analysis error."""
    missing = [c for c in _CONTRACT_COLS if c not in manifest.columns]
    if missing:
        raise ValueError(
            f"{caller}: {what} is not a token-shard manifest (missing "
            f"contract column(s) {missing}) — a payload store reads "
            f"through the payload plane's verbs (format "
            f"{TOKEN_SHARD_FORMAT!r} expected)"
        )
    rows = manifest.select(*_CONTRACT_COLS).distinct().collect()
    return _contract_from_rows(
        [r.asDict() for r in rows], what, caller
    )


def _contract_from_rows(
    rows: list, what: str, caller: str = "read_token_shards"
) -> dict:
    """:func:`_single_contract`'s refusal semantics over
    already-collected manifest rows (each a dict carrying at least
    the contract columns) — empty, mixed, and foreign-format sets
    refuse identically whether the contract came from its own
    distinct-collect or rode a :func:`_sidecar_snapshot`."""
    if not rows:
        raise ValueError(
            f"{caller}: {what} has an EMPTY manifest — "
            f"no shards were written (write_token_shards over zero "
            f"windows, or a truncated sidecar)"
        )
    seen = {tuple(r[c] for c in _CONTRACT_COLS) for r in rows}
    if len(seen) > 1:
        raise ValueError(
            f"{caller}: {what} carries "
            f"{len(seen)} distinct contracts — refusing to guess"
        )
    contract = dict(zip(_CONTRACT_COLS, next(iter(seen))))
    if contract["format"] != TOKEN_SHARD_FORMAT:
        raise ValueError(
            f"{caller}: {what} is format "
            f"{contract['format']!r}; this build reads "
            f"{TOKEN_SHARD_FORMAT!r}"
        )
    return contract


def read_token_shards(
    spark, path: str, vocab_ids: DataFrame | None = None
) -> tuple[DataFrame, dict]:
    """Load a persisted token-shard set: returns (windows, contract).
    Pass the id table the TRAINING RUN will embed with as
    ``vocab_ids`` and the read refuses a shard set whose pinned
    vocabulary fingerprint disagrees — ids are meaningless integers
    without the exact vocabulary that assigned them, and nothing else
    in the pipeline would catch the swap (every id is "valid"; the
    model just trains on scrambled tokens).  The scan is the plain
    partitioned parquet read (`shard` partition pruning works as
    usual); validation costs one model-sized fingerprint pass."""
    _, contract = _read_shard_contract(spark, path)
    if vocab_ids is not None:
        _check_vocab(contract, vocab_ids, path, "read_token_shards")
    return spark.read.parquet(path), contract


def _check_vocab(
    contract: dict, vocab_ids: DataFrame, path: str, fn_name: str
) -> None:
    v = _vocab_fp(vocab_ids)
    got = (v["n_docs"], v["fp_a"], v["fp_b"])
    want = (
        contract["vocab_size"],
        contract["vocab_fp_a"],
        contract["vocab_fp_b"],
    )
    if got != want:
        raise ValueError(
            f"{fn_name}: {path!r} was encoded under a "
            f"DIFFERENT vocabulary (pinned size/fp {want}, "
            f"supplied {got}) — training on these ids with this "
            f"vocab would silently scramble every token"
        )


def append_token_shards(
    windows: DataFrame,
    path: str,
    vocab_ids: DataFrame,
    marker_store=None,
) -> DataFrame:
    """Append NEW shards to an existing token-shard set — the
    incremental form :func:`write_token_shards`'s overwrite/error
    modes deliberately lack, mirroring ``dedup.append_to_lsh_index``:
    a snapshot pipeline adds this month's shards without rewriting
    last month's.  The existing contract is AUTHORITATIVE — budget,
    pad/eos ids, and column names come from the sidecar, never from
    the caller (restating is where drift lives), and the supplied
    ``vocab_ids`` must fingerprint-match the pinned vocabulary or the
    append refuses: mixing two tokenizers' ids in one shard set is
    the silent-scramble failure the contract exists to stop.

    Shard keys must be DISJOINT from the existing set's — appending
    into an existing shard would interleave two writes' windows under
    one fingerprint (and replayed appends would double data), so
    overlap refuses loudly; give each ingest wave its own shard keys
    (e.g. suffix the wave id).  A replayed append therefore fails
    fast instead of silently duplicating — idempotence by refusal,
    same stance as the ingest loop's id anti-joins.

    Scale: contract + overlap checks are manifest-sized; the append
    is the same two windows-lineage passes as the initial write (the
    budget guard rides the write scan); the sidecar gains one parquet
    file of new rows — existing shard files are never touched.
    Returns the appended shards' manifest rows (contract columns
    included).  For just-this-wave verification pass them as the
    in-memory promise and keep only the promised rows —
    ``verify_token_shards(spark, path, manifest=wave).filter(
    "n_windows_promised > 0")`` — the full-outer check deliberately
    reports every OTHER shard on disk as unmanifested; whole-set
    verification (no ``manifest=``) uses the appended sidecar and
    covers all waves at once.

    ``marker_store``: the MarkerStore the deployment's catalog verbs
    use, so the retirement probe sees markers written through a
    non-POSIX backend (``_refuse_retired``'s contract)."""
    import os as _os

    spark = windows.sparkSession
    _refuse_retired(path, "append_token_shards", marker_store)
    sidecar, contract = _read_shard_contract(
        spark, path, "append_token_shards"
    )
    _check_vocab(contract, vocab_ids, path, "append_token_shards")
    shard_col = contract["shard_col"]
    win_col = contract["win_col"]
    ids_col = contract["ids_col"]
    n_tokens_col = contract["n_tokens_col"]
    starts_col = contract["starts_col"]
    b = int(contract["budget"])
    manifest = _contract_manifest(windows, contract, dict(sidecar.dtypes))
    existing = {r["shard"] for r in sidecar.select("shard").collect()}
    incoming = {r["shard"] for r in manifest.select("shard").collect()}
    overlap = sorted(existing & incoming)
    if overlap:
        raise ValueError(
            f"append_token_shards: shard keys {overlap[:10]} already "
            f"exist in {path!r} — appending into an existing shard "
            f"would interleave two writes under one fingerprint "
            f"(a REPLAYED append hits this too, by design); use "
            f"fresh shard keys per wave"
        )
    guard = _budget_guard(
        windows, b, win_col, ids_col, n_tokens_col,
        "append_token_shards",
    )
    (
        windows.withColumn(ids_col, guard)
        .write.mode("append")
        .partitionBy(shard_col)
        .parquet(path)
    )
    manifest.write.mode("append").parquet(
        _os.path.join(path, "_manifest")
    )
    return manifest


def _refuse_retired(path: str, caller: str, store=None) -> None:
    """Producer-side guard for the catalog's retire marker
    (``operators.catalog``): appending to a RETIRED generation would
    grow a set the catalog already compacted past — the windows would
    never reach a reader and would be destroyed at drop.  One marker
    probe; reads deliberately do NOT check (retired data stays
    readable through the drop-grace window).  ``store``: the SAME
    MarkerStore the deployment's catalog verbs use — a retirement
    recorded through an object-store backend is invisible to the
    default POSIX probe, so producers must probe through the same
    plane the catalog writes (r15 review)."""
    from streaming_parquet_spark.operators.catalog import is_retired

    if is_retired(path, store):
        raise ValueError(
            f"{caller}: {path!r} is a RETIRED generation (catalog "
            f"marker present) — its successor already replaced it; "
            f"produce into the catalog's current generation instead"
        )


def verify_token_shards(
    spark, path: str, manifest: DataFrame | None = None
) -> DataFrame:
    """Check a written shard set against its manifest: one
    partition-discovered scan re-digests every window (same
    key/payload definition as the write — :func:`_window_digest_frame`
    is shared) and full-outer joins against the promise, via
    :func:`verify_shards`' machinery (absent shards report
    n_windows_observed=0/ok=false; corrupt files RAISE; stray
    unmanifested shards surface).  ``manifest`` defaults to the
    ``_manifest`` sidecar; pass the frame
    :func:`write_token_shards` returned to verify against the
    in-memory promise instead — that path needs NO sidecar, which is
    exactly what auditing a write that crashed between its data and
    manifest legs requires (the contract rides the returned frame)."""
    if manifest is None:
        manifest, contract = _read_shard_contract(
            spark, path, "verify_token_shards"
        )
    else:
        contract = _single_contract(manifest, "the supplied manifest")

    def prep(scanned: DataFrame) -> DataFrame:
        return _window_digest_frame(
            scanned,
            contract["shard_col"],
            contract["win_col"],
            contract["ids_col"],
            contract["n_tokens_col"],
            contract["starts_col"],
        )

    out = verify_shards(
        spark,
        manifest.select(
            F.col("shard").cast("string").alias("shard"),
            F.col("n_windows").alias("n_docs"),
            "fp_a",
            "fp_b",
        ),
        path,
        id_col="__win_key",
        text_col="__win_payload",
        prepare=prep,
        shard_type="string",
    )
    # the _manifest sidecar is invisible to the data scan (underscore
    # prefix), so it can never read back as a stray shard
    return out.select(
        "shard",
        F.col("n_docs_promised").alias("n_windows_promised"),
        F.col("n_docs_observed").alias("n_windows_observed"),
        "fp_a_promised",
        "fp_a_observed",
        "fp_b_promised",
        "fp_b_observed",
        "ok",
    )


#: Purpose salt for the FIM rate decision (salts +1/+2 pick the two
#: cut points) — distinct from every other pipeline salt so composing
#: FIM with sampling/splits/shard assignment over the same ids stays
#: independent (see functions.portable.hash_bucket_expr on why).
FIM_SEED = 23


def fim_transform(
    df: DataFrame,
    ids_col: str,
    pre_id: int,
    mid_id: int,
    suf_id: int,
    id_col: str = "doc_id",
    rate_pct: int = 90,
    min_ids: int = 4,
    out_col: str | None = None,
    applied_col: str = "fim_applied",
    mode: str = "psm",
) -> DataFrame:
    """Fill-in-the-middle transformation of tokenized documents
    (Bavarian et al. 2022, "Efficient Training of Language Models to
    Fill in the Middle" — the document-level recipe): for a
    deterministic ``rate_pct``% of documents, cut the id array at two
    hash-chosen points into prefix P / middle M / suffix S and emit

        mode='psm':  [pre_id] P [suf_id] S [mid_id] M
        mode='spm':  [pre_id] [suf_id] S [mid_id] P M

    so an autoregressive model learns to infill — the standard data
    augmentation for code models (SPM is the paper's variant with the
    suffix moved ahead of the prefix; its joined sentinel prefix
    improves some infilling setups).  The remaining documents (and
    any shorter than ``min_ids``) pass through unchanged;
    ``applied_col`` records which.  Apply BETWEEN tokenization and
    :func:`pack_token_windows`, exactly where the paper puts it
    (document-level FIM, then concat-and-chunk packing; the paper's
    50/90% rates both work — default 90).

    The three sentinels must be RESERVED ids that tokenization can
    never emit — declare them via ``subword_vocab(extra_specials=
    ("<fim_prefix>", "<fim_middle>", "<fim_suffix>"))`` and pass
    those pinned ids; a sentinel colliding with a corpus id would
    make the arrangement unparseable downstream.

    Deterministic: the apply decision is the portable bucket hash of
    ``id_col`` under :data:`FIM_SEED` and the two cut points are
    independent full-width portable hashes mod (n+1) — pure functions
    of the id, so the same document transforms identically across
    runs, partitionings, and engines.  Plan: stateless per-row
    projection (slice + concat), no shuffle, no UDF — the transform
    is free at any scale."""
    from streaming_parquet_spark.functions.portable import wide_hash_expr

    out_col = out_col or ids_col
    elem_t = df.schema[ids_col].dataType.elementType
    n = F.size(ids_col)
    rate = F.expr(
        hash_bucket_expr("spark", id_col, 100, seed=FIM_SEED)
    )
    apply = (rate < int(rate_pct)) & (n >= int(min_ids))
    nn = (n + F.lit(1)).cast("bigint")
    a = F.expr(wide_hash_expr("spark", id_col, seed=FIM_SEED + 1)) % nn
    b = F.expr(wide_hash_expr("spark", id_col, seed=FIM_SEED + 2)) % nn
    lo = F.least(a, b).cast("int")
    hi = F.greatest(a, b).cast("int")
    sent = lambda i: F.array(F.lit(int(i)).cast(elem_t))  # noqa: E731
    prefix = F.slice(F.col(ids_col), F.lit(1), lo)
    suffix = F.slice(F.col(ids_col), hi + 1, n - hi)
    middle = F.slice(F.col(ids_col), lo + 1, hi - lo)
    if mode == "psm":
        arranged = F.concat(
            sent(pre_id), prefix, sent(suf_id), suffix,
            sent(mid_id), middle,
        )
    elif mode == "spm":
        arranged = F.concat(
            sent(pre_id), sent(suf_id), suffix,
            sent(mid_id), prefix, middle,
        )
    else:
        raise ValueError(
            f"fim_transform: unknown mode {mode!r} (psm or spm)"
        )
    return df.withColumn(
        applied_col, F.coalesce(apply, F.lit(False))
    ).withColumn(
        out_col,
        F.when(F.col(applied_col), arranged).otherwise(F.col(ids_col)),
    )


def assign_shards_to_ranks(
    manifest: DataFrame,
    world_size: int,
    weight_col: str = "n_tokens",
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic balanced assignment of training shards to
    data-parallel trainer ranks: LPT greedy (longest-processing-time —
    heaviest shard first onto the least-loaded rank, ties to the
    lowest rank), the classic 4/3-approximation whose per-rank token
    loads provably stay within one shard of each other
    (max_load <= min_load + max(weight): when the heaviest-loaded
    rank received its last shard it was the LIGHTEST — every test
    pins this bound).  Output: (shard, rank, weight), every input
    shard exactly once, ranks in [0, world_size).

    Deterministic and COORDINATION-FREE: the assignment is a pure
    function of (manifest contents, world_size) — every rank
    recomputes it locally from the shared sidecar and reads only its
    own shards (:func:`read_rank_shards`); no assignment service, no
    shared mutable state.  Elastic: a changed ``world_size`` is just
    a recompute — shards never rewrite.

    Scale: one collect of the MANIFEST (one row per shard — ~10^5
    rows for 100 TB of GB-sized shards, driver-trivial like the
    tokenizer vocab collects) and an O(n log n) greedy; the shard
    DATA is never touched.  Null weights count 0; negative weights
    and duplicate shard keys refuse."""
    return manifest.sparkSession.createDataFrame(
        _lpt_assign(
            _shard_weight_pairs(manifest, shard_col, weight_col),
            world_size,
        ),
        "shard string, rank int, weight bigint",
    )


def _shard_weight_pairs(
    manifest: DataFrame, shard_col: str, weight_col: str
) -> list:
    """[(shard, weight)] from a manifest frame — the one collection
    both :func:`assign_shards_to_ranks` and :func:`read_rank_shards`
    feed into :func:`_lpt_assign` (shared so null/cast semantics
    cannot diverge between the two paths)."""
    return [
        (r["shard"], r["w"])
        for r in manifest.select(
            F.col(shard_col).cast("string").alias("shard"),
            F.coalesce(F.col(weight_col).cast("bigint"), F.lit(0)).alias(
                "w"
            ),
        ).collect()
    ]


def _lpt_assign(
    pairs: list, world_size: int
) -> list:
    """The pure LPT greedy :func:`assign_shards_to_ranks` documents,
    shared with :func:`read_rank_shards` (which needs the assignment
    driver-local and must not round-trip it through a DataFrame):
    [(shard, rank, weight)] from [(shard, weight)]."""
    if int(world_size) <= 0:
        raise ValueError(
            f"assign_shards_to_ranks: world_size must be positive "
            f"(got {world_size})"
        )
    seen = set()
    for shard, w in pairs:
        if w < 0:
            raise ValueError(
                f"assign_shards_to_ranks: shard {shard!r} has "
                f"negative weight {w}"
            )
        if shard in seen:
            raise ValueError(
                f"assign_shards_to_ranks: duplicate shard key "
                f"{shard!r} in the manifest"
            )
        seen.add(shard)
    import heapq

    heap = [(0, rank) for rank in range(int(world_size))]
    out = []
    for shard, w in sorted(pairs, key=lambda p: (-p[1], p[0])):
        load, rank = heapq.heappop(heap)
        out.append((shard, rank, w))
        heapq.heappush(heap, (load + w, rank))
    return out


def compact_token_shards(
    spark,
    src: str,
    dst: str,
    n_shards: int | None = None,
    shard_tokens: int | None = None,
    shard_prefix: str = "compact-",
) -> DataFrame:
    """Re-bucket a token-shard set into fewer, larger shards — the
    maintenance step a CONTINUOUS producer eventually needs: months
    of small per-wave shards (``shard_ingest_stream`` makes one or a
    few per trigger) compact into training-sized units, the same role
    ``dedup.compact_lsh_index`` plays for the LSH tables.  The
    contract (budget, pad/eos ids, column names, VOCABULARY pins)
    carries over verbatim from the source sidecar — compaction moves
    windows, it never re-encodes.  Window CONTENT is untouched:
    every (ids, n_tokens, doc_starts) row lands in ``dst`` exactly
    once, under a fresh deterministic (shard, win) identity.

    Sizing: pass ``n_shards`` directly, or ``shard_tokens`` (target
    real tokens per shard — n = ceil(total/target), from the
    sidecar's manifest-sized totals).  Assignment is an md5 bucket of
    the OLD (shard, win) identity — deterministic across runs and
    partitionings, multinomial-balanced regardless of wave-size skew
    (sequential packing would need a global running sum — one sort
    partition at 100 TB; hash bucketing needs none).  New ``win``
    numbers are a row_number per NEW shard over the old identity:
    one shuffle on the new key, per-group sorts bounded by target
    shard size.  ``dst`` must not exist (the data write is
    mode='error' — compaction is write-once; the atomic src->dst
    promotion lives in ``operators.catalog`` —
    ``promote_compaction`` chains compact -> verify -> publish ->
    retire).  Source files are never touched; delete ``src`` only
    after ``verify_token_shards(dst)`` reports every shard ok (the
    catalog's ``retire_generation`` + ``drop_generation`` gate this).
    The source's shard-key set is PINNED at entry (published shards
    never rewrite, so both the data and manifest legs are exact under
    concurrent appends) and rechecked before the dst manifest write —
    a source that grew mid-compaction refuses, leaving dst loudly
    incomplete and the new wave intact for the next compaction.
    Returns the written manifest."""
    import math
    import os as _os

    if (n_shards is None) == (shard_tokens is None):
        raise ValueError(
            "compact_token_shards: pass exactly one of n_shards / "
            "shard_tokens"
        )
    sized = n_shards if n_shards is not None else shard_tokens
    if int(sized) < 1:
        raise ValueError(
            f"compact_token_shards: n_shards/shard_tokens must be "
            f">= 1 (got {sized})"
        )
    a, b = _os.path.abspath(src), _os.path.abspath(dst)
    if a == b or b.startswith(a + _os.sep) or a.startswith(b + _os.sep):
        raise ValueError(
            f"compact_token_shards: src and dst must be disjoint "
            f"paths (got {src!r}, {dst!r}) — a nested dst corrupts "
            f"src's partition layout and the post-verify src cleanup "
            f"would delete the compacted output"
        )
    sidecar, contract = _read_shard_contract(
        spark, src, "compact_token_shards"
    )
    # refuse a torn source OUTRIGHT: unmanifested wave data (a writer
    # crashed between its data and sidecar legs) would otherwise be
    # silently laundered into a green dst manifest — and the
    # documented src cleanup would then destroy the torn evidence
    # while the producer's checkpoint could replay it elsewhere
    torn = verify_token_shards(spark, src).filter("NOT ok").count()
    if torn:
        raise ValueError(
            f"compact_token_shards: {src!r} has {torn} shard(s) "
            f"failing verification (absent, stray, or tampered) — "
            f"repair or remove them before compacting; compaction "
            f"must never promise windows the source never promised"
        )
    sc, wc = contract["shard_col"], contract["win_col"]
    ic, nc, stc = (
        contract["ids_col"], contract["n_tokens_col"],
        contract["starts_col"],
    )
    if n_shards is None:
        total = sidecar.agg(F.sum("n_tokens")).first()[0] or 0
        n_shards = max(1, math.ceil(total / int(shard_tokens)))
    n = int(n_shards)
    width = max(4, len(str(n - 1)))
    # PIN the source at entry: the sidecar's shard-key set.  The data
    # write and the manifest derivation below are two separate
    # evaluations (two file listings) of the src scan — a producer
    # appending mid-compaction would otherwise let the manifest
    # listing see windows the data listing didn't, i.e. a dst sidecar
    # promising windows absent from dst data.  Filtering both legs to
    # the pinned keys makes them exact regardless of concurrent
    # appends (published shards never rewrite, and append/stream
    # enforce fresh keys per wave, so pinned shards' contents are
    # immutable); the recheck before the dst manifest write then
    # REFUSES a grown source outright, because the caller's next step
    # — retire src after verify — would destroy the new wave.
    pinned = sorted(r["shard"] for r in sidecar.select("shard").collect())
    windows = _pinned_key_filter(spark.read.parquet(src), sc, pinned)
    old_key = f"concat(CAST({sc} AS STRING), ':', CAST({wc} AS STRING))"
    bucket = F.expr(
        f"CAST(conv(substring(md5({old_key}), 1, 15), 16, 10) "
        f"AS BIGINT) % {n}"
    )
    keyed = windows.withColumn(
        "__new_shard",
        F.concat(
            F.lit(shard_prefix),
            F.lpad(bucket.cast("string"), width, "0"),
        ),
    ).withColumn("__old_key", F.expr(old_key))
    renum = (
        F.row_number()
        .over(W.partitionBy("__new_shard").orderBy("__old_key"))
        .cast("bigint")
        - 1
    )
    extras = [
        c for c in windows.columns if c not in (sc, wc, ic, nc, stc)
    ]
    out = keyed.select(
        F.col("__new_shard").alias(sc),
        renum.alias(wc),
        ic, nc, stc, *extras,
    )
    guard = _budget_guard(
        out, int(contract["budget"]), wc, ic, nc, "compact_token_shards"
    )
    out.withColumn(ic, guard).write.mode("error").partitionBy(
        sc
    ).parquet(dst)
    # quiescence recheck BEFORE the dst manifest write: a source that
    # grew (or shrank) during compaction refuses loudly — dst stays
    # data-without-sidecar (read_token_shards raises on it), and the
    # new wave's data survives for the NEXT compaction instead of
    # being retired with src
    now = sorted(
        r["shard"]
        for r in _read_shard_contract(spark, src, "compact_token_shards")[
            0
        ].select("shard").collect()
    )
    if now != pinned:
        grew = sorted(set(now) - set(pinned))
        gone = sorted(set(pinned) - set(now))
        raise ValueError(
            f"compact_token_shards: {src!r} changed during compaction "
            f"(+{grew[:5]}, -{gone[:5]}) — refusing to publish the dst "
            f"manifest; quiesce the producer (or retire the generation "
            f"via the catalog layer) and re-run against a fresh dst"
        )
    # the PROMISE comes from the plan, not the written files (the
    # renumber is deterministic, so re-deriving it is exact) —
    # verify_token_shards(dst) stays a real write-path check
    manifest = _contract_manifest(out, contract, dict(sidecar.dtypes))
    manifest.write.mode("error").parquet(_os.path.join(dst, "_manifest"))
    return manifest


def _mix_affine(epoch: int, name: str, total: int) -> tuple[int, int]:
    """Affine permutation parameters for one mixture set at one
    epoch: (a, c) with ``a`` coprime to ``total`` (so ``pos' =
    (a·pos + c) mod total`` is a bijection on [0, total)), both a
    pure function of md5(epoch, set name) — driver-side integer
    math, identical across engines and restarts.  ``a`` stays below
    ``total`` so the int64 product guard is ``total² < 2^62``
    (~2.1e9 windows per set — ~10^13 tokens at 4k budgets; split the
    set before that)."""
    import hashlib
    import math as _math

    if total <= 1:
        return 1, 0
    if total * total >= 1 << 62:
        raise ValueError(
            f"read_mixture_shards: epoch permutation over {total} "
            f"windows would overflow int64 (total^2 >= 2^62) — split "
            f"the set"
        )
    h = int(
        hashlib.md5(f"{int(epoch)}@{name}".encode()).hexdigest()[:15],
        16,
    )
    a = (h % total) or 1
    while _math.gcd(a, total) != 1:
        a = (a + 1) % total or 1
    c = (h >> 20) % total
    return a, c


def shard_set_content_fp(
    spark, path: str, keys=None, contract: dict | None = None
) -> dict:
    """Identity-FREE content fingerprint of a token-shard set:
    {n_windows, n_tokens, fp_a, fp_b} over the MULTISET of window
    payloads (n_tokens|ids|doc_starts — shard/win identities
    excluded), so the value is invariant under compaction's
    (shard, win) renumbering: src and dst fingerprint equal iff
    compaction preserved every window's trainable content exactly.
    The sidecar's own per-shard fps cannot serve here — they digest
    ``win`` (deliberately: verify must catch a renumbered window
    in-place), so they change under any rebucketing.

    Duplicate payloads get a content RANK (row_number within the
    payload-digest group) before the XOR fold — without it two copies
    of the same window XOR-cancel and a compaction that duplicated
    one window while dropping another identical pair would
    fingerprint clean (the even-cancellation weakness
    ``corpus_fingerprint`` documents; the rank closes it the way the
    id does there).  Cost: one scan plus a digest-only shuffle
    (16-byte rows, groups are payload-duplicates — almost always 1) —
    paid per catalog promotion, not per read.  ``keys`` optionally
    scopes the scan to a pinned shard-key set
    (:func:`shard_snapshot` semantics); ``contract`` lets a caller
    that already read the set's manifest (the audit verbs) skip the
    second manifest round trip."""
    from streaming_parquet_spark.functions.portable import hex_word_expr

    if contract is None:
        _, contract = _read_shard_contract(
            spark, path, "shard_set_content_fp"
        )
    scanned = spark.read.parquet(path)
    if keys is not None:
        scanned = _pinned_key_filter(
            scanned, contract["shard_col"], keys
        )
    d = _window_digest_frame(
        scanned,
        contract["shard_col"],
        contract["win_col"],
        contract["ids_col"],
        contract["n_tokens_col"],
        contract["starts_col"],
    ).select(
        F.expr("md5(__win_payload)").alias("__dig"),
        F.col("__win_n_tokens"),
    )
    ranked = d.withColumn(
        "__rn",
        F.row_number().over(W.partitionBy("__dig").orderBy("__dig")),
    )
    fp = f"md5(concat(__dig, ':', CAST(__rn AS STRING)))"
    zero = "CAST(0 AS BIGINT)"
    row = ranked.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.coalesce(
            F.sum("__win_n_tokens"), F.lit(0).cast("bigint")
        ).alias("n_tokens"),
        F.expr(
            f"coalesce(bit_xor({hex_word_expr(fp, 1)}), {zero})"
        ).alias("fp_a"),
        F.expr(
            f"coalesce(bit_xor({hex_word_expr(fp, 9)}), {zero})"
        ).alias("fp_b"),
    ).first()
    return {
        "n_windows": row["n_windows"],
        "n_tokens": row["n_tokens"],
        "fp_a": row["fp_a"],
        "fp_b": row["fp_b"],
    }


def with_epoch_order(
    windows: DataFrame,
    epoch: int,
    shard_col: str = "shard",
    win_col: str = "win",
    out_col: str = "epoch_key",
    granularity: str = "shard",
) -> DataFrame:
    """A DIFFERENT deterministic training order per epoch with ZERO
    data movement: stamps ``out_col`` so that ``ORDER BY (out_col,
    shard, win)`` is the epoch's consumption order — the per-epoch
    reshuffle every multi-epoch run needs, as a stateless projection
    (no shuffle job, nothing re-materialized; at 100 TB re-writing the
    corpus per epoch is exactly what this avoids).  The key is the
    same 60-bit md5-prefix integer ``compact_token_shards`` buckets
    with (``conv(substring(md5(..),1,15),16,10)`` — DuckDB-replayable
    via the established hex15 arithmetic), seeded by ``epoch``, so
    the order is a pure function of (data identity, epoch): identical
    across partitionings, restarts, and engines.

    ``granularity``:

    * ``'shard'`` (default): one key per (shard, epoch) — epochs
      permute the SHARD visit order while windows stay sequential
      within each shard.  This is the standard large-scale loader
      discipline (shard-shuffle + in-order shard reads): storage
      reads remain sequential per shard directory, and the epoch
      still decorrelates batch composition.
    * ``'window'``: one key per (shard, win, epoch) — full
      window-level decorrelation, at the cost of random access
      within every shard (fine when shards fit worker memory or the
      reader buffers; say so before choosing it at scale).

    Composes downstream of :func:`read_rank_shards` (each rank
    reorders its own slice — ranks stay disjoint) and upstream of a
    trainer's ``ORDER BY``.  Mid-epoch resume: the triple
    (out_col, shard, win) is a unique total order; checkpoint the
    last consumed triple and cut with :func:`resume_epoch_order`.
    Ties on the 60-bit key are broken by (shard, win) — a collision
    degrades nothing."""
    if granularity not in ("shard", "window"):
        raise ValueError(
            f"with_epoch_order: granularity must be 'shard' or "
            f"'window' (got {granularity!r})"
        )
    seed = (
        f"CAST({shard_col} AS STRING)"
        if granularity == "shard"
        else f"concat(CAST({shard_col} AS STRING), ':', "
             f"CAST({win_col} AS STRING))"
    )
    key = (
        f"CAST(conv(substring(md5(concat({seed}, '@', "
        f"CAST({int(epoch)} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    # Stamp (epoch, granularity) as column metadata on the key: a
    # projection-level mark that travels with the frame, so a resume
    # carrying a state bundle can refuse a triple minted under a
    # different epoch/granularity (resume_epoch_order state=).
    return windows.withColumn(
        out_col,
        F.expr(key).alias(
            out_col,
            metadata={"epoch": int(epoch), "granularity": granularity},
        ),
    )


def epoch_order_state(
    epoch: int,
    cursor: tuple | list | None,
    granularity: str = "shard",
    out_col: str = "epoch_key",
    shard_col: str = "shard",
    win_col: str = "win",
    base: dict | None = None,
) -> dict:
    """Mint the checkpoint bundle for an epoch-ordered read: the
    (epoch_key, shard, win) triple PLUS the (epoch, granularity,
    column names) it is only meaningful under — so a resume through
    :func:`resume_epoch_order` ``state=`` refuses a triple minted for
    a different epoch instead of silently cutting the wrong order.
    ``base`` optionally chains the underlying rank read's own state
    bundle (its identity fingerprint rides along integrity-protected;
    validate the base itself by resuming its reader with ``state=``).
    Advance the triple with :func:`advance_reader_state`."""
    identity = {
        "kind": "epoch_order",
        "epoch": int(epoch),
        "granularity": granularity,
        "cols": [out_col, shard_col, win_col],
        "base_identity": None if base is None else base["identity_fp"],
    }
    return _mint_reader_state(
        identity, None if cursor is None else list(cursor)
    )


def resume_epoch_order(
    windows: DataFrame,
    cursor: tuple | None = None,
    out_col: str = "epoch_key",
    shard_col: str = "shard",
    win_col: str = "win",
    state: dict | None = None,
) -> DataFrame:
    """Resume an epoch-ordered read: ``cursor`` is the (epoch_key,
    shard, win) triple of the LAST CONSUMED window; returns the rows
    strictly after it under the (key, shard, win) total order —
    consumed ⊎ resumed = the epoch's full set, exactly once, for
    any cut (the composite-key analogue of the rank and mixture
    cursors, needed here because the 60-bit key alone may tie).

    The shard tiebreak compares the RAW column — the same order
    :func:`with_epoch_order` documents for consumption (``ORDER BY
    (out_col, shard, win)``) — so the cursor's shard value must be
    the raw value the trainer read, in the column's own type.  A
    string-typed comparison here would silently diverge for numeric
    shard columns ('10' < '9' as strings) at a shard-boundary cut.

    Cursor-format note: before r12 this tiebreak compared string
    CASTS, so a checkpoint whose shard value was stored as the cast
    string over a NUMERIC shard column predates the contract above —
    resuming such a cursor through this code can skip/repeat at a
    shard-boundary cut. The one-tuple checkpoint rule covers the fix
    (re-checkpoint under the current reader), but the shard value's
    TYPE is now part of the cursor contract: string shard columns
    (the shipped writers' layout) are unaffected either way.

    ``state=`` (exclusive with ``cursor``): an
    :func:`epoch_order_state` bundle — the triple plus the (epoch,
    granularity, columns) it was minted under, validated against the
    stamp :func:`with_epoch_order` leaves on the key column, so a
    wrong-epoch resume refuses instead of cutting a different
    order."""
    if (cursor is None) == (state is None):
        raise ValueError(
            "resume_epoch_order: pass exactly one of cursor= (the "
            "raw triple) or state= (an epoch_order_state bundle)"
        )
    if state is not None:
        md = dict(windows.schema[out_col].metadata or {})
        minted = {
            "kind": "epoch_order",
            "epoch": md.get("epoch", "<unstamped frame>"),
            "granularity": md.get("granularity", "<unstamped frame>"),
            "cols": [out_col, shard_col, win_col],
            # the base identity rides integrity-protected; the base
            # reader validates it for real when resumed with state=
            "base_identity": state.get("base_identity"),
        }
        cursor = _validate_reader_state(
            state, minted, "resume_epoch_order"
        )
        if cursor is None:
            raise ValueError(
                "resume_epoch_order: the state bundle carries no "
                "cursor yet — nothing was consumed; read from the "
                "start instead of resuming"
            )
    k, s, w = cursor
    kc = F.col(out_col)
    sc = F.col(shard_col)
    wc = F.col(win_col)
    return windows.where(
        (kc > int(k))
        | ((kc == int(k)) & ((sc > F.lit(s)) | ((sc == F.lit(s)) & (wc > w))))
    )


def latest_shard_key(spark, path: str) -> str:
    """The lexicographically greatest shard key in a set's sidecar —
    a convenience ``snapshot`` pin for :func:`read_rank_shards`
    (streamed wave keys sort by batch number, so 'latest' is also
    newest).  Caveat: a max-key <= filter pins a PREDICATE, not a
    set — if the launcher reads while a producer's multi-file
    sidecar append is mid-flight, a key of the in-flight wave that
    sorts BELOW the pin can become visible to later ranks only.
    When the producer may be live, pin :func:`shard_snapshot`'s
    explicit key list instead — set equality cannot race."""
    sidecar, _ = _read_shard_contract(spark, path, "latest_shard_key")
    return max(r["shard"] for r in sidecar.select("shard").collect())


def shard_snapshot(spark, path: str) -> list[str]:
    """The sidecar's current shard keys as a sorted list — the
    AIRTIGHT ``snapshot`` pin for :func:`read_rank_shards`: the
    launcher materializes this once and hands the same list to every
    rank, so all ranks assign over an identical key set no matter
    what a live producer appends (or how non-atomically its sidecar
    files become visible) in between."""
    sidecar, _ = _read_shard_contract(spark, path, "shard_snapshot")
    return sorted(r["shard"] for r in sidecar.select("shard").collect())


#: reader-state bundle format version (bump on layout change so a
#: pickled state from a future layout refuses instead of misreading)
#: v2: mixture identities gained the "consumed" watermark field
#: (elastic mixture resize) — a v1 mixture bundle would otherwise
#: refuse with a confusing field-mismatch instead of "re-mint"
READER_STATE_VERSION = 2

#: oldest accepted bundle version PER KIND: only the mixture layouts
#: changed in v2, so a fleet mid-run on single-set or epoch-order
#: bundles keeps its cursors across the upgrade instead of paying a
#: blanket re-mint (review r14 pass 2)
_MIN_STATE_VERSION = {"mixture": 2, "mixture_rank": 2}


def _state_fp(payload) -> str:
    """Canonical fingerprint of a JSON-able payload: the order- and
    whitespace-independent md5 every reader-state comparison uses."""
    import hashlib
    import json as _json

    return hashlib.md5(
        _json.dumps(
            payload, sort_keys=True, separators=(",", ":"), default=str
        ).encode()
    ).hexdigest()


def _effective_set_fp(rows, keys) -> str:
    """Fingerprint of an EFFECTIVE shard set: the sorted
    (shard, n_tokens, n_windows) triples of the post-pin sidecar rows
    — exactly the inputs the LPT assignment (tokens) and window
    positions (counts) are pure functions of, so equal fingerprints
    mean an identical positional space and a cursor transfers
    exactly."""
    want = set(keys)
    return _state_fp(
        sorted(
            [str(r["shard"]), int(r["n_tokens"]), int(r["n_windows"])]
            for r in rows
            if r["shard"] in want
        )
    )


def _mint_reader_state(identity: dict, cursor) -> dict:
    """Seal a reader-state bundle: ``identity`` holds every field the
    resumed read must agree on; ``cursor`` is the ONE mutable slot
    (advance it with :func:`advance_reader_state`). ``identity_fp``
    covers the identity fields so a hand-edited bundle refuses."""
    state = dict(identity)
    state["version"] = READER_STATE_VERSION
    state["identity_fp"] = _state_fp(
        {**identity, "version": READER_STATE_VERSION}
    )
    state["cursor"] = cursor
    return state


def _check_payload_pin(payload_store, state, with_state,
                       caller: str) -> None:
    """Shared guard: ``payload_store=`` is a resume-identity pin and
    does nothing on a plain read — refuse instead of silently
    ignoring it (the caller believes the store is guarded).  One
    definition for all three readers (r15 review pass 2)."""
    if payload_store is not None and state is None and not with_state:
        raise ValueError(
            f"{caller}: payload_store= pins the RESUME identity — it "
            f"only does anything with with_state=True (mint) or "
            f"state= (resume); a plain read would silently ignore "
            f"the pin"
        )


def _with_payload_pin(spark, identity: dict, payload_store) -> dict:
    """Fold the pixel-plane pin into a reader identity (in place):
    the store's contract identity under the ``payload_store`` key —
    the ONE mint every reader shares, so the pin's layout cannot
    drift between them."""
    if payload_store is not None:
        from streaming_parquet_spark.operators.multimodal import (
            payload_store_identity,
        )

        identity["payload_store"] = payload_store_identity(
            spark, payload_store
        )
    return identity


def advance_reader_state(state: dict, cursor) -> dict:
    """A COPY of ``state`` with its cursor moved — the checkpoint a
    trainer writes after consuming up to ``cursor``. Refuses a bundle
    whose identity fields were edited (the fingerprint no longer
    covers them); the identity itself is immutable by construction —
    a world resize or repin mints a fresh state through its reader."""
    _check_state_integrity(state, "advance_reader_state")
    out = dict(state)
    out["cursor"] = cursor
    return out


def _check_state_integrity(state: dict, caller: str) -> None:
    if not isinstance(state, dict) or "identity_fp" not in state:
        raise ValueError(
            f"{caller}: not a reader-state bundle (expected the dict "
            f"a reader minted with with_state=True)"
        )
    identity = {
        k: v for k, v in state.items()
        if k not in ("cursor", "identity_fp")
    }
    if _state_fp(identity) != state["identity_fp"]:
        raise ValueError(
            f"{caller}: reader-state identity fields were modified "
            f"after minting (fingerprint mismatch) — only the cursor "
            f"may change, via advance_reader_state"
        )


def _validate_reader_state(state: dict, minted: dict, caller: str):
    """Field-by-field refusal: the state a trainer checkpointed must
    agree with the identity of THIS call on every field — a cursor is
    only meaningful inside the positional space it was minted in, and
    a foreign cursor that happens to be in range resumes over the
    WRONG windows with no in-band signal (VERDICT r12 item 2). Returns
    the state's cursor on agreement."""
    _check_state_integrity(state, caller)
    floor = _MIN_STATE_VERSION.get(minted.get("kind"), 1)
    v = state.get("version")
    if not isinstance(v, int) or v > READER_STATE_VERSION or v < floor:
        raise ValueError(
            f"{caller}: reader-state version {v!r} is outside this "
            f"build's accepted range [{floor}, {READER_STATE_VERSION}] "
            f"for kind {minted.get('kind')!r} — re-mint the state "
            f"under the running code"
        )
    # compare over the UNION of field names: a bundle carrying a field
    # this call does not mint (e.g. a payload_store pin checkpointed,
    # then resumed without payload_store=) must refuse exactly like a
    # minted field the bundle lacks — one-sided iteration would let
    # the stamped half of the contract silently drop on resume.
    # "version" is state-only by construction (checked above).
    fields = set(minted) | (
        set(state) - {"cursor", "identity_fp", "version"}
    )
    mismatched = {
        k: (state.get(k, "<absent>"), minted.get(k, "<absent>"))
        for k in sorted(fields)
        if k not in ("cursor", "identity_fp")
        and state.get(k, "<absent>") != minted.get(k, "<absent>")
    }
    if mismatched:
        raise ValueError(
            f"{caller}: reader state does not resume here — "
            f"disagreeing fields (checkpointed, this call): "
            f"{mismatched} — a cursor transfers only under the exact "
            f"(snapshot, weights, world, epoch, vocab) it was minted "
            f"with; re-mint via with_state=True after any change"
        )
    return state["cursor"]


def read_rank_shards(
    spark,
    path: str,
    rank: int,
    world_size: int,
    vocab_ids: DataFrame | None = None,
    snapshot: str | list | set | tuple | None = None,
    cursor: int = 0,
    pos_col: str | None = None,
    state: dict | None = None,
    with_state: bool = False,
    consumed: dict | None = None,
    payload_store: str | None = None,
):
    """One trainer rank's slice of a persisted token-shard set:
    recompute the :func:`assign_shards_to_ranks` assignment from the
    ``_manifest`` sidecar (token-weighted, deterministic — every rank
    agrees without coordination) and return
    (:func:`read_token_shards` windows pruned to this rank's shards,
    contract).  The filter is on the shard PARTITION column, so each
    rank's scan touches only its own shard directories.  Union over
    all ranks = the whole set, each window exactly once.

    ``snapshot``: the assignment is a pure function of the WHOLE
    sidecar, so ranks reading around a concurrent producer append
    would compute assignments over different manifests — one heavy
    new shard can reshuffle the greedy globally, double-reading some
    shards and orphaning others.  Pin it: the launcher materializes
    :func:`shard_snapshot` (an explicit key LIST — set equality, so
    a mid-flight sidecar append cannot make two ranks see different
    participants) and passes the same list to every rank.  A single
    string is also accepted as a <= max-key filter
    (:func:`latest_shard_key`) — convenient, but see that function's
    mid-append caveat.  Omit ``snapshot`` only when the producer is
    quiescent (and nothing enforces that — prefer pinning).  A
    pinned key that no longer matches any sidecar row (a compacted
    or foreign key) raises rather than silently training on less.

    **Mid-epoch resume** (``pos_col`` / ``cursor``): pass ``pos_col``
    to pin a deterministic within-rank iteration order — ``pos`` runs
    0..n-1 over the rank's windows in (shard ascending by string key,
    win ascending) order, the natural sequential-read order of the
    rank's shard directories.  A preempted trainer that consumed
    windows ``pos < c`` resumes EXACTLY with ``cursor=c``:
    resume(cursor) disjoint-unions with the consumed prefix to the
    rank's full set, every window exactly once, for any cut point and
    any world_size (hypothesis-gated).  Positions derive from the
    SIDECAR's per-shard window counts (per-shard offsets, driver-side
    over the rank's own manifest rows) plus a per-shard row_number —
    shuffle groups bounded by shard size, no global sort, identical
    across restarts because both inputs are pinned artifacts.

    **Self-validating checkpoints** (``with_state`` / ``state``):
    positions are a pure function of (sidecar, world_size, snapshot),
    and a raw integer cursor carries none of that — a cursor minted
    under a different snapshot or world that happens to be <= this
    rank's total would resume silently over the WRONG windows.  Pass
    ``with_state=True`` to get (windows, contract, state): a bundle
    carrying the cursor plus a fingerprint of the effective shard set
    (keys + token/window counts), rank, world_size, vocabulary, and
    position column.  Checkpoint the bundle (advance its cursor with
    :func:`advance_reader_state`) and resume with ``state=`` — ANY
    disagreeing field refuses loudly, naming the fields.

    **Elastic restart** (``consumed``): a per-shard watermark dict
    from :func:`migrate_rank_cursors` — each shard's first k windows
    (consumed under the OLD world size) are dropped from this rank's
    stream, so a resized world finishes the same epoch exactly once.
    The watermark joins the state identity when both are used.

    **Pixel-plane pin** (``payload_store``): when this set's windows
    carry multimodal spans, pass the payload-store path their refs
    resolve against — ``multimodal.payload_store_identity`` (root,
    format, n_shards, columns) joins the minted identity, so a resume
    after the store was swapped, re-sharded, or compacted refuses BY
    NAME instead of resolving refs against a different contract
    (VERDICT r14 Missing 2).  Both halves are covered: a bundle minted
    with the pin refuses a resume without ``payload_store=``, and vice
    versa.  For catalog-managed stores pass the pinned GENERATION path
    (``current_payload_store``'s) — retired data outlives the swap
    through the drop-grace window, so the pinned resume keeps working
    until the catalog reclaims it."""
    if not (0 <= int(rank) < int(world_size)):
        raise ValueError(
            f"read_rank_shards: rank {rank} outside [0, {world_size})"
        )
    if state is not None and int(cursor) > 0:
        raise ValueError(
            "read_rank_shards: pass cursor= or state=, not both — "
            "the state bundle carries its own cursor"
        )
    _check_payload_pin(payload_store, state, with_state,
                       "read_rank_shards")
    if int(cursor) < 0:
        raise ValueError(
            f"read_rank_shards: cursor must be >= 0 (got {cursor})"
        )
    sidecar, srows, contract = _sidecar_snapshot(
        spark, path, "read_rank_shards"
    )
    if vocab_ids is not None:
        _check_vocab(contract, vocab_ids, path, "read_rank_shards")
    # (shard, n_tokens) pairs ride the snapshot's single collect —
    # same null/cast semantics as _shard_weight_pairs
    pairs = [(r["shard"], r["n_tokens"]) for r in srows]
    if snapshot is not None:
        if isinstance(snapshot, str):
            pairs = [p for p in pairs if p[0] <= snapshot]
        else:
            want = set(snapshot)
            have = {p[0] for p in pairs}
            missing = sorted(want - have)
            if missing:
                raise ValueError(
                    f"read_rank_shards: snapshot keys {missing[:5]} "
                    f"are not in {path!r}'s sidecar — the pinned set "
                    f"must be a subset of the published shards"
                )
            pairs = [p for p in pairs if p[0] in want]
        if not pairs:
            raise ValueError(
                f"read_rank_shards: snapshot {snapshot!r} matches "
                f"no shard key in {path!r}"
            )
    identity = None
    if state is not None or with_state:
        out_col = pos_col or "pos"
        identity = {
            "kind": "rank",
            "rank": int(rank),
            "world_size": int(world_size),
            "set_fp": _effective_set_fp(srows, [p[0] for p in pairs]),
            "vocab": [contract["vocab_size"], contract["vocab_fp_a"],
                      contract["vocab_fp_b"]],
            "pos_col": out_col,
            # a migration watermark is part of the resume identity: a
            # state minted over the filtered stream must not resume an
            # unfiltered one (or vice versa) — re-reads would be
            # silent. Lists, not tuples: the bundle must survive a
            # JSON checkpoint round trip and compare equal.
            "consumed": None if consumed is None else sorted(
                [str(k), int(v)] for k, v in consumed.items()
            ),
        }
        _with_payload_pin(spark, identity, payload_store)
        if state is not None:
            cursor = _validate_reader_state(
                state, identity, "read_rank_shards"
            )
            pos_col = out_col  # the cursor's order must ride the frame
    mine = [
        shard
        for shard, r, _w in _lpt_assign(pairs, world_size)
        if r == int(rank)
    ]
    windows = _pinned_key_filter(
        spark.read.parquet(path), contract["shard_col"], mine
    )
    if pos_col is not None or int(cursor) > 0 or with_state \
            or consumed is not None:
        out_col = pos_col or "pos"
        windows, total = _with_window_positions(
            windows, sidecar, contract, mine, out_col,
            counts={r["shard"]: r["n_windows"] for r in srows},
            consumed=consumed,
        )
        if int(cursor) > int(total):
            raise ValueError(
                f"read_rank_shards: cursor {cursor} is past this "
                f"rank's {total} windows — a stale cursor from a "
                f"different snapshot/world_size does not resume here"
            )
        if int(cursor) > 0:
            windows = windows.where(F.col(out_col) >= int(cursor))
    if with_state:
        return windows, contract, _mint_reader_state(identity, int(cursor))
    return windows, contract


def _snapshot_filter_pairs(
    srows, snapshot, path: str, caller: str
) -> list:
    """Restrict a sidecar snapshot's (shard, n_tokens) pairs to the
    pinned ``snapshot`` — the ONE filter both halves of the elastic
    migration use, so the unknown-key refusal cannot drift between
    them (review r13: migrate silently dropped keys the watermark
    half refused by name)."""
    pairs = [(r["shard"], r["n_tokens"]) for r in srows]
    if snapshot is None:
        return pairs
    if isinstance(snapshot, str):
        return [p for p in pairs if p[0] <= snapshot]
    want = set(snapshot)
    missing = sorted(want - {p[0] for p in pairs})
    if missing:
        raise ValueError(
            f"{caller}: snapshot keys {missing[:5]} are not in "
            f"{path!r}'s sidecar"
        )
    return [p for p in pairs if p[0] in want]


def consumed_shard_watermarks(
    spark,
    path: str,
    world_size: int,
    cursors: dict,
    snapshot: str | list | set | tuple | None = None,
    consumed: dict | None = None,
    _srows: list | None = None,
) -> dict:
    """Collapse per-rank consumed prefixes under (snapshot,
    ``world_size``) into per-shard consumed-window counts — the
    world-size-free representation of mid-epoch progress, and the
    first half of the elastic migration (:func:`migrate_rank_cursors`).

    Why this is exact: a rank's iteration order is shard-by-shard
    sequential (shard ascending by string key, win ascending — the
    pinned order :func:`read_rank_shards` positions), so the prefix
    ``pos < c_r`` is a run of FULLY consumed shards plus at most one
    partially consumed one, and the union over ranks (whose shard
    slices are disjoint) is exactly a per-shard prefix watermark
    ``{shard: windows consumed}``.  Pure manifest math: one sidecar
    collect, no data scan.

    ``cursors`` maps rank -> consumed position (missing ranks read
    nothing); a cursor past its rank's total raises, same as the
    reader's own range check.

    ``consumed``: the PRIOR migration's world-level watermarks, when
    the run being collapsed was itself resumed elastically (a second
    resize — review r14 pass 2).  The ranks' streams then had
    per-shard holes; a cursor's position prefix covers the holes
    BEFORE it (positions are unfiltered), and holes AFTER it belong
    to windows consumed under the earlier world, so the union of the
    two per-shard prefixes — a per-shard ``max`` — is exactly the
    total consumed set.  Without it, a second resize would re-read
    every window the first migration skipped.  Union over ranks of
    :func:`migrate_rank_cursors`' per-rank dicts (disjoint) IS the
    world-level dict."""
    if int(world_size) < 1:
        raise ValueError(
            f"consumed_shard_watermarks: world_size must be >= 1 "
            f"(got {world_size})"
        )
    for r in cursors:
        if not (0 <= int(r) < int(world_size)):
            raise ValueError(
                f"consumed_shard_watermarks: cursor rank {r} outside "
                f"[0, {world_size})"
            )
    if _srows is None:
        _sidecar, _srows, _contract = _sidecar_snapshot(
            spark, path, "consumed_shard_watermarks"
        )
    srows = _srows
    counts = {r["shard"]: int(r["n_windows"]) for r in srows}
    pairs = _snapshot_filter_pairs(
        srows, snapshot, path, "consumed_shard_watermarks"
    )
    # ONE assignment for the whole world (it is a pure function of
    # (pairs, world_size)); re-running it per cursor entry would make
    # this O(ranks * S log S) driver work for no reason (review r13)
    by_rank: dict = {}
    for shard, rr, _w in _lpt_assign(pairs, int(world_size)):
        by_rank.setdefault(rr, []).append(shard)
    watermarks: dict = {}
    for r, c in cursors.items():
        c = int(c)
        if c < 0:
            raise ValueError(
                f"consumed_shard_watermarks: cursor for rank {r} "
                f"must be >= 0 (got {c})"
            )
        mine = sorted(by_rank.get(int(r), []))
        total = sum(counts[s] for s in mine)
        if c > total:
            raise ValueError(
                f"consumed_shard_watermarks: rank {r}'s cursor {c} is "
                f"past its {total} windows under world_size "
                f"{world_size} — wrong (snapshot, world) for these "
                f"cursors"
            )
        remaining = c
        for s in mine:
            if remaining <= 0:
                break
            take = min(counts[s], remaining)
            if take:
                watermarks[s] = take
            remaining -= take
    if consumed:
        known = {p[0] for p in pairs}
        unknown = sorted(set(map(str, consumed)) - known)
        if unknown:
            raise ValueError(
                f"consumed_shard_watermarks: prior watermarks name "
                f"shards {unknown[:5]} outside this snapshot — wrong "
                f"(snapshot, migration) pairing"
            )
        for shard, k in consumed.items():
            shard, k = str(shard), int(k)
            if k < 0 or k > counts[shard]:
                raise ValueError(
                    f"consumed_shard_watermarks: prior watermark "
                    f"{k} for shard {shard!r} outside "
                    f"[0, {counts[shard]}]"
                )
            # two per-shard prefixes union to the larger prefix
            watermarks[shard] = max(watermarks.get(shard, 0), k)
    return watermarks


def migrate_rank_cursors(
    spark,
    path: str,
    old_world: int,
    cursors: dict,
    new_world: int,
    snapshot: str | list | set | tuple | None = None,
    consumed: dict | None = None,
) -> dict:
    """Elastic mid-epoch restart (VERDICT r12 item 5): map the
    per-rank consumed positions of a (snapshot, ``old_world``) run to
    per-rank ``consumed`` watermark dicts under (snapshot,
    ``new_world``), so a resized world resumes the SAME epoch with
    every window still read exactly once — pure manifest math, no
    data scan, no shuffle (the watermark rides the position
    machinery's existing broadcast join).

    Usage::

        mig = migrate_rank_cursors(spark, path, W_old,
                                   {r: pos_r, ...}, W_new,
                                   snapshot=snap)
        part, c = read_rank_shards(spark, path, r2, W_new,
                                   snapshot=snap,
                                   consumed=mig[r2])

    Exactly-once (hypothesis-gated): the old ranks' consumed prefixes
    ⊎ the union over new ranks of the migrated reads = the snapshot's
    full window multiset, for ANY resize point and any W_old/W_new.
    Returns ``{new_rank: {shard: consumed_count}}`` with every new
    rank present (possibly ``{}``).  The watermark becomes part of
    the resume identity when combined with ``with_state=True`` —
    a later checkpoint under the new world refuses to resume without
    it.

    **Resizing AGAIN mid-epoch**: pass the FIRST migration's
    world-level watermarks as ``consumed`` (the union of its per-rank
    dicts — rank slices are disjoint, so a plain dict-merge), or the
    already-consumed windows the cursors cannot see (holes beyond
    each rank's cut, and whole ranks that died before their first
    checkpoint) would be silently re-read (review r14 pass 2)."""
    _sidecar, srows, _contract = _sidecar_snapshot(
        spark, path, "migrate_rank_cursors"
    )
    # ONE sidecar collect feeds both halves (review r13: the watermark
    # call re-collected the same snapshot a second time)
    marks = consumed_shard_watermarks(
        spark, path, old_world, cursors, snapshot=snapshot,
        consumed=consumed, _srows=srows,
    )
    pairs = _snapshot_filter_pairs(
        srows, snapshot, path, "migrate_rank_cursors"
    )
    out: dict = {r: {} for r in range(int(new_world))}
    for shard, r, _w in _lpt_assign(pairs, int(new_world)):
        if shard in marks:
            out[r][shard] = marks[shard]
    return out


def consumed_mixture_watermarks(
    spark,
    sets: dict,
    weights: dict,
    world_size: int,
    cursors: dict,
    snapshots: dict | None = None,
    epoch: int | None = None,
    consumed: dict | None = None,
    _srows_by: dict | None = None,
) -> dict:
    """Collapse per-rank consumed MIXTURE prefixes under
    ((sets, weights, snapshots), ``world_size``) into per-set,
    per-shard consumed-window counts — the world-size-free
    representation of mid-epoch mixture progress, and the first half
    of :func:`migrate_mixture_cursors` (VERDICT r13 item 1: the
    single-set collapse, applied once per set).

    Why this is exact, in two steps.  (1) A rank consuming its
    stream in ``mix_key`` order up to cursor ``k`` has consumed, of
    set ``i`` (sorted-name index) with stride ``stride_i``, exactly
    the windows with ``(pos+1)*stride_i*n_sets + i <= k`` — i.e. the
    first ``floor((k - i) / (stride_i * n_sets))`` rank-local
    positions of that set (clamped to the rank's total): the
    interleave key is a strictly increasing function of each set's
    position, so a key prefix IS a per-set position prefix.  Pure
    integer arithmetic — no data scan.  (2) Each set's rank-local
    position order is (shard asc by string key, win asc) over the
    rank's LPT key slice — the same pinned order the single-set
    reader positions — so the per-set prefix collapses to per-shard
    watermarks, and the union over ranks (disjoint slices per set)
    is the set's full watermark dict.  Exactly the
    :func:`consumed_shard_watermarks` argument, once per set.

    ``cursors`` maps rank -> last consumed ``mix_key``
    (RANK-LOCAL, :func:`read_mixture_rank` semantics; missing ranks
    consumed nothing); a cursor past its rank's largest key raises —
    wrong (sets, weights, snapshots, world) for these cursors.

    ``epoch`` must be None: an epoch-permuted mixture's consumed
    prefix maps to SCATTERED original positions (the affine bijection
    runs before the stride schedule), which no per-shard watermark
    can express — and the permutation parameters are functions of
    each rank's local total, so they do not survive a resize either.
    The refusal names the recipe: pause at an epoch boundary and
    resize there, or finish the epoch under the old world, or restart
    the epoch under the new world (the loss is at most one partial
    epoch's ordering, never data).

    ``consumed``: the PRIOR migration's world-level watermarks
    (``{set: {shard: k}}``) when the run being collapsed was itself
    an elastic resume — a rank's position prefix covers the holes
    before its cursor and the per-shard ``max`` unions in the holes
    beyond it, exactly the single-set argument once per set; without
    it a second resize re-reads what the first skipped (review r14
    pass 2).  Union of :func:`migrate_mixture_cursors`' per-rank
    dicts (disjoint per set) IS the world-level dict.

    Returns ``{set_name: {shard: consumed_count}}`` (sets with no
    consumption map to ``{}``)."""
    import math

    if int(world_size) < 1:
        raise ValueError(
            f"consumed_mixture_watermarks: world_size must be >= 1 "
            f"(got {world_size})"
        )
    if epoch is not None:
        raise ValueError(
            "consumed_mixture_watermarks: an epoch-permuted mixture's "
            "consumed prefix is not expressible as per-shard "
            "watermarks (the affine within-set permutation scatters "
            "it, and its parameters depend on each rank's local "
            "total) — resize at an epoch boundary, finish the epoch "
            "under the old world, or restart the epoch under the new "
            "world"
        )
    names = sorted(sets)
    if not names:
        raise ValueError("consumed_mixture_watermarks: no sets given")
    if sorted(weights) != names:
        raise ValueError(
            f"consumed_mixture_watermarks: sets and weights must "
            f"carry the same names (sets {names}, weights "
            f"{sorted(weights)})"
        )
    w = {}
    for n in names:
        w[n] = int(weights[n])
        if w[n] < 1:
            raise ValueError(
                f"consumed_mixture_watermarks: weight for {n!r} must "
                f"be a positive integer (got {weights[n]!r})"
            )
    for r in cursors:
        if not (0 <= int(r) < int(world_size)):
            raise ValueError(
                f"consumed_mixture_watermarks: cursor rank {r} "
                f"outside [0, {world_size})"
            )
    if snapshots is not None:
        for n in names:
            if isinstance(snapshots.get(n), str):
                raise ValueError(
                    f"consumed_mixture_watermarks: snapshot for set "
                    f"{n!r} is a single string — the mixture readers "
                    f"take explicit key LISTS per set (a string is "
                    f"the single-set reader's max-key cutoff, which "
                    f"read_mixture_shards/read_mixture_rank refuse), "
                    f"so watermarks minted under it would describe a "
                    f"shard universe no mixture read uses"
                )
    lcm = math.lcm(*w.values())
    n_sets = len(names)
    if consumed is not None:
        unknown_sets = sorted(set(consumed) - set(names))
        if unknown_sets:
            raise ValueError(
                f"consumed_mixture_watermarks: prior watermarks name "
                f"sets {unknown_sets[:5]} that are not in this "
                f"mixture ({names})"
            )
    counts_by: dict = {}
    universe_by: dict = {}
    rank_keys: dict = {n: {} for n in names}
    for n in names:
        if _srows_by is not None and n in _srows_by:
            srows = _srows_by[n]
        else:
            _sidecar, srows, _contract = _sidecar_snapshot(
                spark, sets[n], "consumed_mixture_watermarks"
            )
        counts_by[n] = {r["shard"]: int(r["n_windows"]) for r in srows}
        pairs = _snapshot_filter_pairs(
            srows,
            None if snapshots is None else snapshots.get(n),
            sets[n], "consumed_mixture_watermarks",
        )
        universe_by[n] = {p[0] for p in pairs}
        # ONE LPT per set per world — a pure function of (pairs, W)
        for shard, rr, _wt in _lpt_assign(pairs, int(world_size)):
            rank_keys[n].setdefault(rr, []).append(shard)
    out: dict = {n: {} for n in names}
    for r, k in cursors.items():
        k = int(k)
        if k < 0:
            raise ValueError(
                f"consumed_mixture_watermarks: cursor for rank {r} "
                f"must be >= 0 (got {k})"
            )
        max_key = 0
        per_set: list = []
        for i, n in enumerate(names):
            stride = lcm // w[n]
            mine = sorted(rank_keys[n].get(int(r), []))
            total = sum(counts_by[n][sh] for sh in mine)
            c = max(0, min(total, (k - i) // (stride * n_sets)))
            per_set.append((n, mine, c))
            if total:
                max_key = max(max_key, total * stride * n_sets + i)
        if k > max_key:
            raise ValueError(
                f"consumed_mixture_watermarks: rank {r}'s cursor {k} "
                f"is past its largest key {max_key} under world_size "
                f"{world_size} — wrong (sets, weights, snapshots, "
                f"world) for these cursors"
            )
        for n, mine, c in per_set:
            remaining = c
            for sh in mine:
                if remaining <= 0:
                    break
                take = min(counts_by[n][sh], remaining)
                if take:
                    out[n][sh] = take  # slices are disjoint per set
                remaining -= take
    if consumed:
        for n, marks in consumed.items():
            unknown = sorted(set(map(str, marks)) - universe_by[n])
            if unknown:
                raise ValueError(
                    f"consumed_mixture_watermarks: prior watermarks "
                    f"for set {n!r} name shards {unknown[:5]} outside "
                    f"this snapshot — wrong (snapshots, migration) "
                    f"pairing"
                )
            for sh, k in marks.items():
                sh, k = str(sh), int(k)
                if k < 0 or k > counts_by[n][sh]:
                    raise ValueError(
                        f"consumed_mixture_watermarks: prior "
                        f"watermark {k} for {n!r}/{sh!r} outside "
                        f"[0, {counts_by[n][sh]}]"
                    )
                out[n][sh] = max(out[n].get(sh, 0), k)
    return out


def migrate_mixture_cursors(
    spark,
    sets: dict,
    weights: dict,
    old_world: int,
    cursors: dict,
    new_world: int,
    snapshots: dict | None = None,
    epoch: int | None = None,
    consumed: dict | None = None,
) -> dict:
    """Elastic mid-epoch restart for a weighted MIXTURE (VERDICT r13
    item 1): map the per-rank consumed ``mix_key`` cursors of a
    ((sets, weights, snapshots), ``old_world``) run to per-rank
    ``consumed`` watermark dicts under the same mixture at
    ``new_world``, so a resized world resumes the SAME mixture epoch
    with every window still read exactly once — pure manifest math
    (one sidecar collect per set), no data scan, no added shuffle
    (the watermarks ride the position machinery's existing broadcast
    joins).

    Usage::

        mig = migrate_mixture_cursors(spark, sets, weights, W_old,
                                      {r: key_r, ...}, W_new,
                                      snapshots=snaps)
        part, c = read_mixture_rank(spark, sets, weights, r2, W_new,
                                    snapshots=snaps,
                                    consumed=mig[r2])

    Exactly-once (hypothesis-gated): the old ranks' consumed key
    prefixes ⊎ the union over new ranks of the migrated reads = the
    mixture's full window multiset, for ANY per-rank cut points and
    any W_old/W_new.  ``epoch`` must be None — see
    :func:`consumed_mixture_watermarks` for why and for the named
    restart recipe.  Resizing AGAIN mid-epoch: pass the first
    migration's world-level watermarks as ``consumed`` (the per-set
    dict-merge of its per-rank outputs), or the holes the cursors
    cannot see would be re-read — see
    :func:`consumed_mixture_watermarks`.  Returns
    ``{new_rank: {set: {shard: count}}}`` with every new rank present
    (possibly all-empty)."""
    names = sorted(sets)
    # ONE sidecar collect per set feeds both halves (the single-set
    # migration learned the same lesson, review r13)
    srows_by = {
        n: _sidecar_snapshot(spark, sets[n], "migrate_mixture_cursors")[1]
        for n in names
    }
    marks = consumed_mixture_watermarks(
        spark, sets, weights, old_world, cursors,
        snapshots=snapshots, epoch=epoch, consumed=consumed,
        _srows_by=srows_by,
    )
    out: dict = {r: {} for r in range(int(new_world))}
    for n in names:
        if not marks[n]:
            continue
        pairs = _snapshot_filter_pairs(
            srows_by[n],
            None if snapshots is None else snapshots.get(n),
            sets[n], "migrate_mixture_cursors",
        )
        for shard, r, _wt in _lpt_assign(pairs, int(new_world)):
            if shard in marks[n]:
                out[r].setdefault(n, {})[shard] = marks[n][shard]
    return out


#: past this many pinned shard keys, key filters switch from a
#: literal IN-list to a broadcast semi-join (see _pinned_key_filter)
_PIN_ISIN_LIMIT = 1024


def _pinned_key_filter(df: DataFrame, shard_col: str, keys) -> DataFrame:
    """Restrict ``df`` to rows whose shard key (cast to string) is in
    ``keys`` — the shared filter shape of the compaction pin, the
    rank read, and the mixture read.  Small pins stay a literal
    IN-list (static partition pruning at planning time); past
    ``_PIN_ISIN_LIMIT`` keys the filter becomes a broadcast LEFT SEMI
    join against a one-column keys frame, because a pin over a
    100k-shard set must not carry 100k literals through analysis and
    codegen (plan size grows with the literal count; the semi-join
    plan is constant-size and partition pruning still happens at
    runtime — DPP on the partition column).  Row semantics are
    identical in both shapes."""
    keys = sorted(keys)
    if not keys:
        return df.where(F.lit(False))
    col = F.col(shard_col).cast("string")
    if len(keys) <= _PIN_ISIN_LIMIT:
        return df.where(col.isin(keys))
    kdf = df.sparkSession.createDataFrame(
        [(k,) for k in keys], "__pin_key string"
    )
    # bind the key column through the frame reference, not F.col: a
    # caller-shaped input that already carries a __pin_key column
    # would otherwise make the condition an ambiguous reference
    return df.join(
        F.broadcast(kdf), col == kdf["__pin_key"], "left_semi"
    )


def _with_window_positions(
    windows: DataFrame,
    sidecar: DataFrame,
    contract: dict,
    keys: list,
    out_col: str,
    counts: dict | None = None,
    consumed: dict | None = None,
) -> tuple[DataFrame, int]:
    """Deterministic 0..n-1 positions over ``keys``' windows in
    (shard ascending by string key, win ascending) order — the shared
    machinery of :func:`read_rank_shards`' resume cursor and
    :func:`read_mixture_shards`' interleave.  Per-shard offsets come
    from the SIDECAR's n_windows (an exclusive running sum computed
    driver-side over the manifest rows — pinned artifact, identical
    across restarts), broadcast back and added to a per-shard
    row_number: shuffle groups bounded by shard size, no global sort.
    ``consumed`` optionally drops each shard's first k windows (the
    elastic-migration watermark — see :func:`migrate_rank_cursors`):
    the threshold rides the SAME broadcast join as the offsets, zero
    added shuffle.  Returns (windows + out_col, total window count
    over keys — the UNFILTERED total, so cursor range checks stay
    world-stable)."""
    spark = sidecar.sparkSession
    if counts is None:
        # callers holding a _sidecar_snapshot pass its counts instead
        # of paying a second manifest round trip here
        counts = {
            r["shard"]: r["nw"]
            for r in sidecar.select(
                F.col("shard").cast("string").alias("shard"),
                F.coalesce(
                    F.col("n_windows").cast("bigint"), F.lit(0)
                ).alias("nw"),
            ).collect()
        }
    offsets, off = [], 0
    for s in sorted(keys):
        skip = 0 if consumed is None else int(consumed.get(s, 0))
        offsets.append((s, off, off + skip))
        off += counts[s]
    offdf = spark.createDataFrame(
        offsets, "__shard_key string, __off bigint, __min bigint"
    )
    rn = (
        F.row_number()
        .over(
            W.partitionBy(contract["shard_col"]).orderBy(
                contract["win_col"]
            )
        )
        .cast("bigint")
        - 1
    )
    out = (
        windows.withColumn("__rn", rn)
        .join(
            F.broadcast(offdf),
            F.col(contract["shard_col"]).cast("string")
            == F.col("__shard_key"),
        )
        .withColumn(out_col, F.col("__off") + F.col("__rn"))
    )
    if consumed is not None:
        out = out.where(F.col(out_col) >= F.col("__min"))
    out = out.drop("__shard_key", "__off", "__min", "__rn")
    return out, off


def read_mixture_shards(
    spark,
    sets: dict,
    weights: dict,
    vocab_ids: DataFrame | None = None,
    snapshots: dict | None = None,
    cursor: int | None = None,
    epoch: int | None = None,
    name_col: str = "mix_source",
    key_col: str = "mix_key",
    pos_col: str = "mix_pos",
    state: dict | None = None,
    with_state: bool = False,
    consumed: dict | None = None,
    payload_store: str | None = None,
):
    """Weighted deterministic INTERLEAVE over N token-shard sets under
    ONE pinned vocabulary — the multi-set mixture read training
    actually runs (code/web/books packed separately, mixed by weight
    at read time; VERDICT r10 item 6).  ``sets`` maps a mixture name
    to a shard-set path, ``weights`` the same names to positive
    INTEGER parts (e.g. ``{"web": 7, "code": 2, "books": 1}``);
    reading the result ordered by ``key_col`` visits windows in
    stride-scheduled weighted-fair order (the classic WFQ / stride
    virtual-finish-time discipline, public literature): every prefix
    carries each live set in proportion to its weight within one
    window per set, and a set that runs dry hands its slots to the
    rest.  Each source window appears EXACTLY once (hypothesis-gated
    against a pure-Python reference merge).

    Determinism is pure integer arithmetic, identical across engines,
    partitionings, and restarts: within-set positions are
    :func:`read_rank_shards`' pinned (shard, win) order (sidecar
    offsets + per-shard row_number — :func:`_with_window_positions`),
    the virtual time of window ``pos`` of set ``s`` is
    ``(pos+1) * (lcm(weights)/w_s)``, and
    ``key = vt * n_sets + set_index`` breaks cross-set ties by sorted
    set name.  No floats anywhere — a float virtual time would let
    two engines order ties differently.

    The contract must be IDENTICAL across sets — above all the
    vocabulary fingerprint (mixing two tokenizers' ids is the
    silent-scramble failure every shard contract exists to stop, and
    the refusal message says which set disagrees), but also
    budget/pad/eos/column names, since the union is one trainable
    frame.  ``snapshots`` optionally pins a key list per set
    (:func:`shard_snapshot` semantics, validated the same way) so a
    live producer on any one set cannot skew the mixture mid-epoch.

    **Mid-epoch resume** (``cursor``): a trainer consuming the
    mixture in ``key_col`` order checkpoints the last key it
    consumed and resumes with ``cursor=<that key>`` — keys are a
    unique total order derived only from pinned artifacts, so the
    resumed read is exactly the strictly-greater remainder, every
    window still exactly once (the mixture-order analogue of
    :func:`read_rank_shards`' ``cursor``).  Keys are a pure function
    of (sets, weights, snapshots, epoch) — a foreign cursor lands
    between valid keys and silently skips or repeats, and nothing in
    the key alone can detect it: pass ``with_state=True`` to get
    (windows, contract, state) — a bundle carrying the cursor plus a
    fingerprint of every identity field (per-set effective shard
    sets, weights, epoch, vocabulary, column names) — checkpoint the
    bundle (:func:`advance_reader_state` moves its cursor), resume
    with ``state=``, and any disagreeing field refuses loudly.

    **Per-epoch variation** (``epoch``): :func:`with_epoch_order`
    cannot reorder a mixture (it would destroy the weighted
    interleave), so ``epoch`` permutes each set's WITHIN-SET
    positions through an affine bijection ``pos' = (a·pos + c) mod
    n`` (``a`` odd and coprime to n, derived from md5(epoch, set) —
    pure integer driver math, engine/restart-invariant) before the
    stride schedule runs.  The interleave's fairness is untouched —
    every prefix still carries each set in weight proportion; what
    changes is WHICH window fills each of a set's slots — and
    exactly-once is preserved because a bijection is.  Affine is a
    deliberately weak (structured) shuffle bought at zero data
    movement; when batch-level decorrelation must be strong,
    materialize a real permutation with ``global_shuffle`` instead.
    ``epoch=None`` is bit-identical to the pre-epoch order.

    **Elastic restart** (``consumed``): ``{set_name: {shard: k}}``
    watermark dicts from :func:`migrate_mixture_cursors` — each named
    set drops its shards' first k windows (consumed under the OLD
    world) while the remaining windows KEEP their original positions
    and therefore their original interleave keys, so a resized world
    finishes the same mixture epoch exactly once.  Unknown set names
    refuse; combining with ``epoch`` refuses (no valid migration
    mints an epoch-permuted watermark — see
    :func:`consumed_mixture_watermarks`); the watermark joins the
    state identity when both are used.

    ``payload_store``: the pixel-plane pin for mixtures whose windows
    carry multimodal span refs — the store's contract identity joins
    the minted state so a resume against a swapped or re-sharded
    store refuses by name (semantics in :func:`read_rank_shards`'
    docstring; one shared store per mixture, matching the one-contract
    rule above).

    Scale: positions/offsets are manifest-sized driver work per set;
    the data-side cost is one per-shard row_number and a broadcast
    join per set — no cross-set shuffle at all (the interleave key is
    a projection; ordering happens at consumption).  Multi-node
    training rank-slices the mixture with :func:`read_mixture_rank`
    (each set sliced by the deterministic LPT assignment, then
    interleaved rank-locally — exactly-once across the world and
    per-rank fairness are hypothesis-gated there).  Output: the
    union frame plus
    (``name_col``, ``pos_col``, ``key_col``); returns
    (windows, shared contract)."""
    import math
    import os as _os

    names = sorted(sets)
    if not names:
        raise ValueError("read_mixture_shards: no sets given")
    if state is not None and cursor is not None:
        raise ValueError(
            "read_mixture_shards: pass cursor= or state=, not both — "
            "the state bundle carries its own cursor"
        )
    _check_payload_pin(payload_store, state, with_state,
                       "read_mixture_shards")
    if sorted(weights) != names:
        raise ValueError(
            f"read_mixture_shards: sets and weights must carry the "
            f"same names (sets {names}, weights {sorted(weights)})"
        )
    w = {}
    for n in names:
        w[n] = int(weights[n])
        if w[n] < 1:
            raise ValueError(
                f"read_mixture_shards: weight for {n!r} must be a "
                f"positive integer (got {weights[n]!r}) — weights are "
                f"PARTS, not floats; scale them up"
            )
    if consumed is not None:
        unknown = sorted(set(consumed) - set(names))
        if unknown:
            raise ValueError(
                f"read_mixture_shards: consumed watermarks name sets "
                f"{unknown[:5]} that are not in this mixture "
                f"({names}) — wrong migration for these sets"
            )
        if epoch is not None:
            raise ValueError(
                "read_mixture_shards: consumed= cannot combine with "
                "epoch= — watermarks describe prefixes of the pinned "
                "(shard asc, win asc) order, and an epoch-permuted "
                "mixture's consumed prefix is not a per-shard "
                "watermark; no valid migration mints one (see "
                "migrate_mixture_cursors)"
            )
    real = {}
    for n in names:
        rp = _os.path.realpath(sets[n])
        if rp in real:
            raise ValueError(
                f"read_mixture_shards: {n!r} and {real[rp]!r} name the "
                f"same shard set ({sets[n]!r}) — each window would "
                f"appear twice"
            )
        real[rp] = n
    lcm = math.lcm(*w.values())
    contracts, sidecars, snaps = {}, {}, {}
    for n in names:
        # ONE manifest collect per set (contract + keys + counts)
        sidecars[n], snaps[n], contracts[n] = _sidecar_snapshot(
            spark, sets[n], "read_mixture_shards"
        )
    base = contracts[names[0]]
    vkeys = ("vocab_size", "vocab_fp_a", "vocab_fp_b")
    for n in names[1:]:
        if tuple(contracts[n][k] for k in vkeys) != tuple(
            base[k] for k in vkeys
        ):
            raise ValueError(
                f"read_mixture_shards: set {n!r} was encoded under a "
                f"DIFFERENT vocabulary than {names[0]!r} "
                f"({[contracts[n][k] for k in vkeys]} vs "
                f"{[base[k] for k in vkeys]}) — mixing two tokenizers' "
                f"ids silently scrambles every token"
            )
        if contracts[n] != base:
            drift = {
                k: (base[k], contracts[n][k])
                for k in base
                if contracts[n][k] != base[k]
            }
            raise ValueError(
                f"read_mixture_shards: set {n!r} pins a different "
                f"contract than {names[0]!r} ({names[0]!r} vs {n!r}): "
                f"{drift} — one mixture trains under one contract"
            )
    if vocab_ids is not None:
        _check_vocab(
            base, vocab_ids, sets[names[0]], "read_mixture_shards"
        )
    parts = []
    set_fps = {}
    n_sets = len(names)
    for i, n in enumerate(names):
        keys = sorted(r["shard"] for r in snaps[n])
        if snapshots is not None and n in snapshots:
            want = set(snapshots[n])
            missing = sorted(want - set(keys))
            if missing:
                raise ValueError(
                    f"read_mixture_shards: snapshot keys "
                    f"{missing[:5]} for set {n!r} are not in its "
                    f"sidecar — the pinned set must be a subset of "
                    f"the published shards"
                )
            keys = sorted(want)
        set_fps[n] = _effective_set_fp(snaps[n], keys)
        stride = lcm // w[n]
        windows = _pinned_key_filter(
            spark.read.parquet(sets[n]), base["shard_col"], keys
        )
        positioned, total = _with_window_positions(
            windows, sidecars[n], base, keys, pos_col,
            counts={r["shard"]: r["n_windows"] for r in snaps[n]},
            consumed=None if consumed is None else consumed.get(n),
        )
        # integer-overflow guard on the key space: (pos+1) * stride *
        # n_sets must stay inside int64 (manifest-sized arithmetic,
        # checked once per set)
        if (total + 1) * stride * n_sets >= 1 << 62:
            raise ValueError(
                f"read_mixture_shards: set {n!r} ({total} windows, "
                f"stride {stride}, {n_sets} sets) would overflow the "
                f"int64 interleave key — reduce the weight spread "
                f"(lcm {lcm})"
            )
        if epoch is not None:
            # affine within-set permutation (see docstring): with the
            # permuted position in pos_col, the stride schedule below
            # interleaves a different window into each of this set's
            # slots while the slot pattern (the fairness) is untouched
            a, c = _mix_affine(epoch, n, total)
            positioned = positioned.withColumn(
                pos_col,
                (
                    F.col(pos_col) * F.lit(a).cast("bigint")
                    + F.lit(c)
                ) % F.lit(max(total, 1)).cast("bigint"),
            )
        parts.append(
            positioned.withColumn(name_col, F.lit(n)).withColumn(
                key_col,
                (F.col(pos_col) + 1)
                * F.lit(int(stride)).cast("bigint")
                * F.lit(n_sets)
                + F.lit(i),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    identity = None
    if state is not None or with_state:
        identity = {
            "kind": "mixture",
            "weights": {n: w[n] for n in names},
            "epoch": None if epoch is None else int(epoch),
            "set_fps": set_fps,
            "vocab": [base["vocab_size"], base["vocab_fp_a"],
                      base["vocab_fp_b"]],
            "cols": [name_col, key_col, pos_col],
            # a migration watermark joins the resume identity, same
            # as read_rank_shards: a state minted over the filtered
            # stream must not resume an unfiltered one. JSON-stable
            # nested lists, so a checkpointed bundle compares equal.
            "consumed": None if consumed is None else sorted(
                [n, str(k), int(v)]
                for n, d in consumed.items()
                for k, v in d.items()
            ),
        }
        # the pixel-plane pin (read_rank_shards' docstring): spans
        # carrying refs resume only against the exact store contract
        # they were minted over
        _with_payload_pin(spark, identity, payload_store)
        if state is not None:
            cursor = _validate_reader_state(
                state, identity, "read_mixture_shards"
            )
    if cursor is not None:
        # mid-epoch resume, mirroring read_rank_shards' pos cursor:
        # mix_key is a UNIQUE total order over pinned artifacts, so a
        # trainer that checkpointed the last key it consumed resumes
        # with exactly the strictly-greater remainder — the filter is
        # a projection-level predicate per set (keys never shuffle).
        # Strictly greater, not >=: the cursor names a CONSUMED key.
        out = out.where(F.col(key_col) > int(cursor))
    if with_state:
        return out, base, _mint_reader_state(
            identity, None if cursor is None else int(cursor)
        )
    return out, base


def read_mixture_rank(
    spark,
    sets: dict,
    weights: dict,
    rank: int,
    world_size: int,
    vocab_ids: DataFrame | None = None,
    snapshots: dict | None = None,
    cursor: int | None = None,
    epoch: int | None = None,
    name_col: str = "mix_source",
    key_col: str = "mix_key",
    pos_col: str = "mix_pos",
    state: dict | None = None,
    with_state: bool = False,
    consumed: dict | None = None,
    payload_store: str | None = None,
):
    """One trainer rank's slice of a weighted MIXTURE — the composition
    ``read_mixture_shards``' docstring promises, made first-class:
    multi-node training is the normal consumer of a mixture, and this
    is how each rank reads its share without coordination.

    Each SET is sliced by the same deterministic token-weighted LPT
    assignment :func:`read_rank_shards` uses (a pure function of the
    set's sidecar, ``world_size``, and the optional per-set
    ``snapshots`` pin — every rank recomputes it identically), then
    the rank's slices interleave under the standard stride schedule.
    Properties (hypothesis-gated):

    * **Exactly-once across the world**: the union over all ranks of
      ``read_mixture_rank(..., r, W)`` is the full mixture's window
      multiset — shard assignments partition each set's keys, and the
      interleave visits each slice's windows exactly once.
    * **Per-rank weighted fairness**: a rank consuming its stream in
      ``key_col`` order sees every set it holds shards of in weight
      proportion (the stride property holds over whatever key lists
      feed it).  A set with fewer shards than ranks is simply dry on
      the unlucky ranks — fairness is per-rank over its LIVE sets,
      while token-weighted LPT keeps the per-set token totals
      balanced across ranks, which is what evens the mixture out at
      the world level.
    * **Rank-local keys**: positions (and therefore ``key_col``) are
      computed over the RANK's keys, so each rank's stream is its own
      dense total order — keys are not comparable across ranks and
      differ from the ``world_size=1`` keys by construction.
      ``cursor`` is accordingly rank-local, and the one-tuple
      checkpoint rule is ENFORCEABLE here: ``with_state=True``
      returns (windows, contract, state) with the rank, world_size,
      weights, epoch, vocabulary, and each set's rank-local effective
      shard set fingerprinted together; resuming with ``state=``
      refuses any disagreeing field instead of trusting the raw
      cursor.  The identity is rank-LOCAL on purpose: a global pin
      change that only touches OTHER ranks' shards leaves this
      rank's positional space bit-identical, and its resume is
      accepted — the ranks whose slices actually changed refuse, so
      a launcher remint is still forced before the world can drift.  ``epoch`` permutes within the rank-local position
      space — ranks stay disjoint, so the bijection argument is
      unchanged.

    Cost: two manifest collects per set (one here for the assignment,
    one inside the mixture read, both marker-sized driver work); the
    data-side plan is identical to ``read_mixture_shards`` over the
    rank's shard directories only — partition pruning does the
    slicing, no shuffle is added.  ``consumed`` passes elastic-restart
    watermarks through (:func:`migrate_mixture_cursors` returns them
    per NEW rank — pass ``mig[rank]``); shards outside this rank's
    slices are ignored, same as the single-set reader.  Returns
    (windows, shared contract)."""
    if not (0 <= int(rank) < int(world_size)):
        raise ValueError(
            f"read_mixture_rank: rank {rank} outside [0, {world_size})"
        )
    rank_keys = {}
    for n in sorted(sets):
        _sidecar, srows, _contract = _sidecar_snapshot(
            spark, sets[n], "read_mixture_rank"
        )
        pairs = [(r["shard"], r["n_tokens"]) for r in srows]
        if snapshots is not None and n in snapshots:
            want = set(snapshots[n])
            missing = sorted(want - {p[0] for p in pairs})
            if missing:
                raise ValueError(
                    f"read_mixture_rank: snapshot keys {missing[:5]} "
                    f"for set {n!r} are not in its sidecar — the "
                    f"pinned set must be a subset of the published "
                    f"shards"
                )
            pairs = [p for p in pairs if p[0] in want]
        rank_keys[n] = sorted(
            shard
            for shard, r, _w in _lpt_assign(pairs, int(world_size))
            if r == int(rank)
        )
    if state is not None and cursor is not None:
        raise ValueError(
            "read_mixture_rank: pass cursor= or state=, not both — "
            "the state bundle carries its own cursor"
        )
    _check_payload_pin(payload_store, state, with_state,
                       "read_mixture_rank")
    # the rank's key lists ride the snapshots parameter: the mixture
    # read re-validates them (subset check), positions them 0..n-1
    # rank-locally, and applies weights/epoch unchanged; the cursor is
    # applied HERE (same strictly-greater filter) so the state bundle
    # can be validated against this reader's identity — which is the
    # inner mixture identity (whose set fingerprints are already
    # rank-local) plus the explicit (rank, world_size) pair.
    out, base, inner = read_mixture_shards(
        spark, sets, weights, vocab_ids=vocab_ids,
        snapshots=rank_keys, cursor=None, epoch=epoch,
        name_col=name_col, key_col=key_col, pos_col=pos_col,
        with_state=True, consumed=consumed,
        payload_store=payload_store,
    )
    identity = {
        k: v for k, v in inner.items()
        if k not in ("cursor", "identity_fp", "version")
    }
    identity.update(
        {"kind": "mixture_rank", "rank": int(rank),
         "world_size": int(world_size)}
    )
    if state is not None:
        cursor = _validate_reader_state(state, identity, "read_mixture_rank")
    if cursor is not None:
        out = out.where(F.col(key_col) > int(cursor))
    if with_state:
        return out, base, _mint_reader_state(
            identity, None if cursor is None else int(cursor)
        )
    return out, base
