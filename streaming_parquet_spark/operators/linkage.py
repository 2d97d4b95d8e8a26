"""Record linkage: blocked fuzzy (edit-distance) self-join — the
entity-resolution primitive for catalog/identity data (find records
that are ALMOST the same string: typos, OCR noise, transliteration
drift). Complements the shingle/minhash dedup family, which targets
long documents; edit distance is the right metric for short keys
(names, addresses, SKUs).

Scale shape: NEVER the all-pairs O(n^2) join. It is the pair skeleton
of ``similarity`` (its module docstring): candidates come from one
blocked join (``_pair_join``) on a caller-supplied blocking key (prefix,
length band, phonetic code), so the quadratic term is bounded by the
largest block, and ``max_block`` drops every block over that population
(``cap_blocks``) so the worst task stays bounded. The Levenshtein runs
as a JVM built-in only on within-block pairs, guarded by an id order
and a length band. At 100 TB, choose blocks like any other skew
problem: multiple redundant blocking passes (prefix + suffix) catch
pairs a single key misses. Blocking is exact-recall only for pairs
sharing the key — the standard precision/recall trade every linkage
system documents.

Reference parity: none (SURVEY §2.11 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from streaming_parquet_spark.operators.similarity import _pair_join, cap_blocks
from streaming_parquet_spark.staging import spread_input


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_expr: str,
    max_dist: int = 1,
    max_block: int | None = None,
    unit: str = "char",
) -> DataFrame:
    """Within-block record pairs with levenshtein(text_a, text_b) <=
    ``max_dist``. Output: id_a, id_b (id_a < id_b), text_a, text_b,
    dist. ``block_expr`` is a SQL expression over the input columns
    producing the blocking key (e.g. ``substr(name, 1, 16)`` or
    ``concat(length(name), soundex(name))``).

    ``max_block`` (MANDATORY at scale) drops blocks with more members
    than the cap before the self-join — a degenerate key ("", "n/a", a
    boilerplate title) otherwise turns one task into |block|^2 work.
    Dropping trades recall inside oversized blocks for a bounded worst
    task, and the right response to a dropped block is a sharper
    blocking key for it, not a bigger cap.

    ``unit`` picks the edit-distance alphabet. ``"char"`` (default) is
    Spark's native character-level distance — the linguistically right
    metric, but ENGINE-LOCAL: DuckDB's levenshtein counts UTF-8 bytes,
    so char distances cannot be verified bit-for-bit there ('café' vs
    'cafe' is 1 char edit, 2 byte edits). ``"byte"`` computes distance
    over the UTF-8 byte string on both engines (each byte re-read as
    one latin-1 character, so the JVM's char-level routine walks bytes)
    — slightly heavier weights for multi-byte scripts, in exchange for
    a cross-engine-exact metric; the oracle gate runs this mode."""
    if unit not in ("byte", "char"):
        raise ValueError(f"unit must be 'char' or 'byte', got {unit!r}")
    # A single-row-group parquet source scans as ONE task, which would
    # serialize every within-block DP onto one core; round-robin the
    # narrow input first (metadata-only probe — no-op on any multi-split
    # production layout).
    side = spread_input(df).select(
        F.col(id_col), F.col(text_col), F.expr(block_expr).alias("__blk")
    )
    if max_block is not None:
        side = cap_blocks(side, ["__blk"], max_block)
    # Precomputed length in the distance's own alphabet: a pair whose
    # lengths differ by more than ``max_dist`` cannot be within
    # ``max_dist`` edits (every length change costs one edit), so the
    # LENGTH BAND |len_a - len_b| <= max_dist prunes candidates BEFORE
    # the DP runs — a one-integer compare versus an O(len * max_dist)
    # loop. On typo-shaped data most within-block pairs differ wildly
    # in length, so the band removes the bulk of the DP work.
    if unit == "byte":
        side = side.withColumn("__len", F.octet_length(F.col(text_col)))
        # Latin-1 re-read of the UTF-8 bytes, computed ONCE PER ROW
        # here rather than per candidate pair inside the join
        # condition: the encode/decode round-trip costs as much as a
        # short DP, and a row participates in O(|block|) pairs.
        side = side.withColumn(
            "__lv",
            F.expr(
                f"decode(encode({text_col}, 'UTF-8'), 'ISO-8859-1')"
            ),
        )
    else:
        side = side.withColumn("__len", F.length(F.col(text_col)))
    # char mode compares the text column itself — aliasing it into a
    # separate __lv column would ship two copies of every string
    # through the block-join shuffle (Spark does not deduplicate
    # identical-content attributes in an exchange); only the byte mode
    # needs a distinct hoisted latin-1 rendering.
    lv = "__lv" if unit == "byte" else "text"

    def named(p: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"id_{p}"),
            F.col(text_col).alias(f"text_{p}"),
            F.col("__len").alias(f"__len_{p}"),
            *([F.col("__lv").alias(f"__lv_{p}")] if unit == "byte" else []),
            "__blk",
        )

    # THRESHOLDED distance (levenshtein's 3-arg form): the banded DP is
    # O(len * max_dist) per pair instead of O(len^2) and bails out the
    # moment the band exceeds the bound, returning -1 — the hot loop of
    # a blocked linkage join is exactly this computation, and most
    # candidate pairs are far apart. Kept pairs carry the exact
    # distance, so results are identical to the unthresholded form
    # (and to the oracle, which computes the full distance and
    # filters).
    lev = F.levenshtein(F.col(f"{lv}_a"), F.col(f"{lv}_b"), int(max_dist))
    # The cheap predicates (id order, length band) are the CONDITION of
    # a `when` guarding the Levenshtein, not join conjuncts: Catalyst
    # folds post-join filters into the join condition and does not
    # order conjuncts by cost, so as plain conjuncts the DP can land
    # FIRST and run on every within-block ordered pair (observed: the
    # optimizer emitted `(band AND lev >= 0) AND id_a < id_b`, costing
    # ~2x on a fixture where the band prunes nothing). CaseWhen
    # guarantees the branch is evaluated only when the condition holds,
    # so the one-integer compares always short-circuit the DP,
    # independent of conjunct placement. Hence no id order in the join.
    guard = (F.col("id_a") < F.col("id_b")) & (
        F.abs(F.col("__len_a") - F.col("__len_b")) <= int(max_dist)
    )
    return (
        _pair_join(named("a"), named("b"), ["__blk"], order=None)
        .withColumn("dist", F.when(guard, lev).otherwise(F.lit(-1)))
        # -1 == guard failed or distance exceeded max_dist
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )
