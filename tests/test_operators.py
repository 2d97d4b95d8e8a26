"""Semantic property tests for the extension operators (dedup /
similarity / text) — complements the DuckDB oracle-parity suite with
invariants: LSH recall vs exact pairs, identical-doc signatures,
ANN-vs-exact overlap, fingerprint collision behavior."""

import os

import pytest
from pyspark.sql import functions as F

from streaming_parquet_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    with_minhash,
    with_simhash,
)
from streaming_parquet_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    with_lsh_signature,
)
from streaming_parquet_spark.operators.text import with_fingerprint, with_langid


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_exact_dedup_counts(docs):
    out = exact_dedup(docs)
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_identical_docs_have_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["minhash"] for r in with_minhash(df).collect()}
    assert sig[1] == sig[2] and sig[1] != sig[3]
    sh = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert sh[1] == sh[2]
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert fp[1] != fp[2]


def test_lsh_recall_against_exact_pairs(docs):
    """Every high-similarity pair (j >= 0.5) must be caught by the band
    join with the default banding (P(miss) = (1-j^2)^8 <= 0.1 at j=0.5;
    on the fixture's near-dup pairs j ~ 1.0 so recall must be total)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, block_cols=None, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert exact, "fixture should contain at least one j>=0.5 pair"
    assert exact <= lsh | exact  # sanity
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_hot_bucket_cap_excludes_only_overfull_blocks(spark):
    """max_bucket_rows / cap_blocks: a boilerplate pile whose bucket
    exceeds the cap contributes NO candidate pairs, while pairs from
    within-cap buckets are untouched — and capping is deterministic
    (exclusion by exact population counts, not sampling)."""
    from streaming_parquet_spark.operators.dedup import simhash_pairs
    from streaming_parquet_spark.operators.similarity import cap_blocks

    # 6 identical boilerplate docs (one hot bucket) + 2 near-dup docs.
    rows = [(i, "cookie policy accept terms of service page") for i in range(6)]
    rows += [(10, "the quick brown fox jumps over dogs"),
             (11, "the quick brown fox jumps over dogs")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs(
                  df, jaccard_threshold=0.5, max_bucket_rows=5
              ).collect()}
    boiler = {(a, b) for a in range(6) for b in range(6) if a < b}
    assert boiler <= uncapped and (10, 11) in uncapped
    assert capped == uncapped - boiler  # hot bucket gone, rest intact

    # Same guard on the simhash block join: boilerplate block over the
    # cap drops out, the small block's pair survives.
    blocked = df.withColumn(
        "src", F.when(F.col("doc_id") < 6, F.lit("boiler")).otherwise("fox")
    )
    sh_capped = {(r["id_a"], r["id_b"])
                 for r in simhash_pairs(
                     blocked, block_cols=["src"], max_hamming=32,
                     max_block_rows=5,
                 ).collect()}
    assert sh_capped == {(10, 11)}

    # cap_blocks itself: exact boundary semantics (<= cap kept).
    blk = spark.createDataFrame(
        [(i, "hot") for i in range(4)] + [(i, "ok") for i in range(3)],
        "id long, b string",
    )
    kept = {r["b"] for r in cap_blocks(blk, ["b"], 3).collect()}
    assert kept == {"ok"}
    kept4 = {r["b"] for r in cap_blocks(blk, ["b"], 4).collect()}
    assert kept4 == {"hot", "ok"}


def test_ann_overlaps_bruteforce(emb):
    """LSH-ANN top-10 should agree with brute force on a decent fraction
    of neighbors for same-bucket queries (recall tradeoff, not exactness)."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_lsh(emb, q, k=10, planes=2).collect()
    }
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.2, f"ANN recall collapsed: {overlap}"


def test_lsh_signature_buckets_bounded(emb):
    sig = with_lsh_signature(emb, planes=6)
    n_buckets = sig.select("lsh_bucket").distinct().count()
    assert 2 <= n_buckets <= 64


def test_langid_und_on_no_stopwords(spark):
    df = spark.createDataFrame(
        [(1, "zz qq ww"), (2, "the cat of and dog the is it")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in with_langid(df).collect()}
    assert out[1] == "und" and out[2] == "en"


def test_salted_join_matches_plain_join(spark, sf_dir):
    from streaming_parquet_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust, ["o_custkey"], "inner")
    salted = salted_join(orders, cust, ["o_custkey"], "inner", salt=4)
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)
    ps = plain.agg(F.sum("o_totalprice")).collect()[0][0]
    ss = salted.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(ps - ss) < 1e-6


def test_write_partitioned(spark, sf_dir, tmp_path):
    import os
    from streaming_parquet_spark.sinks.writers import write_partitioned

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "part_out")
    res = write_partitioned(li, out, ["l_returnflag"])
    assert res.files_written >= 2
    subdirs = {d for d in os.listdir(out) if d.startswith("l_returnflag=")}
    assert len(subdirs) >= 2
    # partition pruning: reading one partition only touches that subdir
    back = spark.read.parquet(out)
    one = back.filter(F.col("l_returnflag") == "A")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert back.count() == li.count()
    assert one.count() == li.filter(F.col("l_returnflag") == "A").count()


def test_progress_reporter_samples(spark):
    from streaming_parquet_spark.progress import ProgressReporter

    with ProgressReporter(spark, input_bytes=10**6, interval_sec=0.05) as rep:
        spark.range(0, 20_000_000, 1, 64).selectExpr(
            "sum(crc32(cast(id as string)))"
        ).collect()
    # A multi-second job must yield at least one sample with sane fields.
    assert rep.samples, "no progress samples captured"
    s = rep.samples[-1]
    assert 0 <= s.percent <= 100 and s.tasks_total > 0


def test_connected_components_chain_and_clique(spark):
    from streaming_parquet_spark.operators.cluster import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2-3-4 (diameter 3) + triangle 10-11-12 + pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    clusters = {
        r["rep_id"]: r["cluster_size"] for r in dedup_clusters(pairs).collect()
    }
    assert clusters == {1: 4, 10: 3, 20: 2}


def test_star_cc_matches_label_cc(spark):
    """Large-star/small-star reaches the same fixpoint as min-label
    propagation on a mixed graph (chain + clique + random edges +
    self-pair)."""
    import random

    from streaming_parquet_spark.operators.cluster import (
        connected_components,
        connected_components_star,
        dedup_clusters,
    )

    rng = random.Random(7)
    rows = [(i, i + 1) for i in range(20)]
    rows += [(a, b) for a in range(100, 108) for b in range(a + 1, 108)]
    rows += [
        (rng.randrange(200, 320), rng.randrange(200, 320)) for _ in range(80)
    ]
    rows.append((400, 400))  # self-pair: node appears, no connectivity
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    a = sorted(map(tuple, connected_components(pairs, max_iter=60).collect()))
    b = sorted(map(tuple, connected_components_star(pairs).collect()))
    assert a == b and (400, 400) in b
    # the two dedup_clusters algorithms agree row-for-row
    c1 = sorted(map(tuple, dedup_clusters(pairs).collect()))
    c2 = sorted(map(tuple, dedup_clusters(pairs, algorithm="star").collect()))
    assert c1 == c2


def test_star_cc_converges_where_label_cannot(spark):
    """Iteration-count comparison: on a diameter-60 chain, the star
    contraction converges within 8 rounds (O(log^2 n)) while min-label
    propagation — one hop per round — provably cannot (needs ~60)."""
    from streaming_parquet_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    star = connected_components_star(chain, max_iter=8).collect()
    assert len(star) == 61 and all(r["component"] == 0 for r in star)
    label = connected_components(chain, max_iter=8).collect()
    assert any(r["component"] != 0 for r in label)


def test_ann_recall_floor(spark, sf_dir):
    """Documented quality floor for the tiered ANN path (n_centroids=8,
    n_probe=2, rerank=4 vs exact cosine): per-query recall@10 >= 0.7,
    mean >= 0.85. The gate query embed_ann_recall pins the exact values
    via the DuckDB oracle; this is the human-readable bound."""
    import streaming_parquet_spark.queries_ext  # noqa: F401  (registers)
    from streaming_parquet_spark.queries import QUERIES

    rows = QUERIES["embed_ann_recall"](spark, sf_dir).collect()
    recalls = [r["recall_sq8"] for r in rows]
    assert len(recalls) == 5
    assert min(recalls) >= 0.7, recalls
    assert sum(recalls) / len(recalls) >= 0.85, recalls


def test_star_cc_empty_pairs(spark):
    from streaming_parquet_spark.operators.cluster import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).collect() == []


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed tables join with zero shuffles — the scale payoff of
    bucketing: each task reads bucket i of both sides."""
    from streaming_parquet_spark.sinks.writers import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        write_bucketed(orders, "b_orders", ["o_orderkey"], buckets=8,
                       sort_by=["o_orderkey"])
        write_bucketed(li, "b_lineitem", ["l_orderkey"], buckets=8,
                       sort_by=["l_orderkey"])
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert joined.count() == li.count()  # every lineitem has an order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_asof_join_semantics(spark):
    from streaming_parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10.0), (2, 100, 20.0), (3, 200, 5.0)],
        "id long, k long, t double",
    )
    right = spark.createDataFrame(
        [(100, 10.0, "at_tie"), (100, 15.0, "mid"), (200, 99.0, "future")],
        "k long, t double, tag string",
    )
    out = {
        r["id"]: r["tag_asof"]
        for r in asof_join(left, right, on=["k"], left_time="t",
                           right_time="t", payload=["tag"]).collect()
    }
    assert out[1] == "at_tie"   # tie at equal time -> right row included
    assert out[2] == "mid"      # latest prior
    assert out[3] is None       # right row is in the future -> no match


def test_asof_join_null_payload_atomic(spark):
    """A matched right row's NULL payload must be attached as NULL (not
    skipped for an older row), and multi-column payloads must all come
    from the same matched right row."""
    from streaming_parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 30.0), (2, 200, 30.0)], "id long, k long, t double"
    )
    right = spark.createDataFrame(
        [
            (100, 10.0, "old", 1.0),
            (100, 20.0, None, 2.0),   # latest match for id=1: tag is NULL
            (200, 10.0, "x", None),   # latest match for id=2: num is NULL
            (200, 5.0, "older", 9.0),
        ],
        "k long, t double, tag string, num double",
    )
    rows = {
        r["id"]: (r["tag_asof"], r["num_asof"])
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            payload=["tag", "num"],
        ).collect()
    }
    # id=1 matched (100, 20.0): tag NULL preserved, num from SAME row.
    assert rows[1] == (None, 2.0)
    # id=2 matched (200, 10.0): num NULL preserved, not 9.0 from the older row.
    assert rows[2] == ("x", None)


def test_range_join_overlapping_bands(spark):
    from streaming_parquet_spark.operators.range_join import range_join

    vals = spark.createDataFrame([(1, 5), (2, 15), (3, 27), (4, 60)],
                                 "id long, v long")
    bands = spark.createDataFrame(
        [("a", 1, 20), ("b", 10, 30)], "band string, lo long, hi long"
    )
    out = {(r["id"], r["band"]) for r in
           range_join(vals, bands, "v", bucket_width=8).collect()}
    assert out == {(1, "a"), (2, "a"), (2, "b"), (3, "b")}  # 60 matches none


def test_pii_scrub_masks_patterns(spark):
    from streaming_parquet_spark.operators.text import with_pii_scrubbed

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@corp.io or visit https://a.b/c?d=1 "
             "or call 555-123-4567 thanks")],
        "doc_id long, text string",
    )
    out = with_pii_scrubbed(df).collect()[0]["text_clean"]
    assert "<EMAIL>" in out and "<URL>" in out and "<PHONE>" in out
    assert "corp.io" not in out and "a.b" not in out and "4567" not in out


def test_pii_scrub_oracle_parity_on_pii_text(spark, tmp_path):
    """Run the Spark scrub AND the generated DuckDB oracle on documents
    that actually contain emails/URLs/phone numbers — non-vacuous parity
    (the shared fixtures contain no PII-shaped text, so the driver-level
    parity alone can't catch an oracle that silently no-ops)."""
    import duckdb

    from streaming_parquet_spark.operators.text import with_pii_scrubbed
    from streaming_parquet_spark.queries_ext import _duck_pii

    rows = [
        (1, "reach a.b-c_d%e+f@sub.domain.org today"),
        (2, "see http://x.io/p?q=1#frag and https://y.z/path, ok?"),
        (3, "call 555-123-4567 or 555.9876.4321 x99"),
        (4, "mixed j@k.co http://m.n 123-456-7890 end"),
        (5, "no pii here at all"),
        (6, ""),
        (7, "almost@ an email, 12-345-6789 short phone, ftp://not.http"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "documents.parquet")
    df.toPandas().to_parquet(pq)

    spark_out = {
        r["doc_id"]: r["text_clean"]
        for r in with_pii_scrubbed(df).select("doc_id", "text_clean").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')"
    )
    duck_out = dict(con.execute(_duck_pii()).fetchall())
    assert spark_out == duck_out
    # The oracle must actually mask, not no-op.
    assert "<EMAIL>" in duck_out[1] and "domain.org" not in duck_out[1]
    assert duck_out[2].count("<URL>") == 2
    assert duck_out[3].count("<PHONE>") == 2
    assert duck_out[5] == "no pii here at all"


def test_ngram_counts_document_frequency(spark):
    from streaming_parquet_spark.operators.text import ngram_counts

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x y")],
        "doc_id long, text string",
    )
    # 'a b' appears in docs 1 and 2 (dedup within doc 1) -> df = 2
    out = {r["ngram"]: r["n"] for r in ngram_counts(df, n=2, min_count=2).collect()}
    assert out == {"a b": 2}


def test_hash_sample_deterministic_and_stable(spark):
    from streaming_parquet_spark.operators.pipeline import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    ids1 = sorted(r["doc_id"] for r in hash_sample(df, pct=10).collect())
    # Same ids regardless of partition layout — the property df.sample lacks.
    ids2 = sorted(
        r["doc_id"] for r in hash_sample(df.repartition(7), pct=10).collect()
    )
    assert ids1 == ids2
    assert 100 < len(ids1) < 350  # ~10% of 2000, hash-uniform
    # Sample at a higher pct is a superset (bucket < p is monotone in p).
    ids20 = set(r["doc_id"] for r in hash_sample(df, pct=20).collect())
    assert set(ids1) <= ids20


def test_with_split_partitions_completely(spark):
    from streaming_parquet_spark.operators.pipeline import with_split

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["n"]
        for r in with_split(df).groupBy("split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert sum(counts.values()) == 1000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_pack_sequences_budget_and_order(spark):
    from streaming_parquet_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(i, 600) for i in range(10)], "doc_id long, tok long"
    )
    rows = pack_sequences(df, "tok", budget=2048, order_col="doc_id").orderBy(
        "doc_id"
    ).collect()
    bins = [r["bin"] for r in rows]
    # 600-token docs, 2048 budget: doc i starts at offset 600*i.
    assert bins == [600 * i // 2048 for i in range(10)]
    assert bins == sorted(bins)  # packing never goes backwards


def test_semantic_dedup_drops_keep_lowest(spark):
    from streaming_parquet_spark.operators.similarity import (
        semantic_dedup_drops,
    )

    # Two orthogonal directions; ids 0/1 are the centroids. 2 and 4
    # duplicate direction x, 3 duplicates y.
    vecs = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = df.filter(F.col("vec_id") < 2)
    out = {
        r["dropped_id"]: r["rep_id"]
        for r in semantic_dedup_drops(
            df, cents, threshold=0.9, dims=2
        ).collect()
    }
    assert out == {2: 0, 4: 0, 3: 1}


def test_blocking_param_sizing_helpers():
    """planes_for / n_centroids_for encode the sf1-smoke lesson: blocking
    parameters must grow with the corpus (planes ~ +log2(factor) bits,
    centroids ~ linear) to keep expected bucket/cluster population — and
    therefore within-block quadratic work — constant."""
    from streaming_parquet_spark.operators.similarity import (
        n_centroids_for,
        planes_for,
    )

    # The exact values the bench scale smoke names in its entry keys.
    assert planes_for(2000) == 3 and planes_for(20000) == 6
    assert n_centroids_for(2000) == 8 and n_centroids_for(20000) == 80

    # 10x data adds ~log2(10) ~ 3.3 bits; rounded, always 3 or 4.
    for n in (1_000, 10_000, 100_000, 10_000_000):
        assert planes_for(10 * n) - planes_for(n) in (3, 4)
        assert n_centroids_for(10 * n) == 10 * n_centroids_for(n) or n <= 250 * 2

    # Expected bucket population n / 2^p stays within ~[0.7, 1.5]x of
    # the target once n is past the floor region.
    for n in (10_000, 1_000_000, 10**9):
        pop = n / 2 ** planes_for(n, target_bucket_rows=256)
        assert 0.7 * 256 <= pop <= 1.5 * 256

    # Floors and ceiling hold.
    assert planes_for(10) == 2
    assert planes_for(10**30, hi=30) == 30
    assert n_centroids_for(1) == 2


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized equivalence against pandas.merge_asof — an independent
    reference implementation of backward/forward + tolerance as-of
    semantics (ties inclusive both directions)."""
    import random

    import pandas as pd

    from streaming_parquet_spark.operators.asof import asof_join

    rng = random.Random(7)
    left_rows = [
        (i, rng.randrange(3), rng.randrange(0, 1000))
        for i in range(120)
    ]
    right_rows = [
        (rng.randrange(3), t, float(i))
        for i, t in enumerate(sorted(rng.sample(range(1000), 80)))
    ]
    left = spark.createDataFrame(left_rows, "lid long, k long, t long")
    right = spark.createDataFrame(right_rows, "k long, t long, v double")

    lpd = pd.DataFrame(left_rows, columns=["lid", "k", "t"]).sort_values("t")
    rpd = pd.DataFrame(right_rows, columns=["k", "t", "v"]).sort_values("t")

    for direction, tol_sql, tol_pd in [
        ("backward", None, None),
        ("forward", None, None),
        ("backward", "50 SECONDS", 50),
        ("forward", "25 SECONDS", 25),
    ]:
        # The operator's time columns accept any orderable type; use
        # timestamps on the Spark side (interval tolerance), ints in pandas.
        sl = left.withColumn("ts", F.timestamp_seconds("t"))
        sr = right.withColumn("ts", F.timestamp_seconds("t"))
        got = {
            r["lid"]: r["v_asof"]
            for r in asof_join(
                sl, sr, on=["k"], left_time="ts", right_time="ts",
                payload=["v"], direction=direction, tolerance=tol_sql,
            ).collect()
        }
        exp_df = pd.merge_asof(
            lpd, rpd, on="t", by="k", direction=direction,
            tolerance=tol_pd,
        )
        exp = {
            int(r.lid): (None if pd.isna(r.v) else float(r.v))
            for r in exp_df.itertuples()
        }
        assert got == exp, f"direction={direction} tolerance={tol_sql}"


def test_sq8_quantization_bounds_and_recall(spark):
    from streaming_parquet_spark.operators.similarity import (
        cosine_topk,
        sq8_topk,
        with_sq8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coded = with_sq8(emb, dims=64).select("sq8_scale", "sq8").collect()
    for r in coded[:50]:
        assert all(-127 <= int(v) <= 127 for v in r["sq8"])
        assert r["sq8_scale"] >= 0
    # int8 approximation must agree with exact float top-k on most of
    # the top-10 (normalized 64-dim vectors; SQ8 recall is high).
    q = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10, dims=64).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(emb, q, k=10, dims=64).collect()
    }
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.7, f"SQ8 recall@10 too low: {overlap}"


def test_ivf_sq8_compose_recall_and_rerank(spark):
    """Composed IVF x SQ8: recall vs exact top-k must be within the IVF
    probe budget's reach, and the reported sim must be the EXACT float
    dot (re-rank touched the float column), not the quantized score."""
    from streaming_parquet_spark.operators.similarity import (
        cosine_topk,
        ivf_sq8_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    exact_rows = cosine_topk(emb, q, k=10, dims=64).collect()
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    composed_rows = ivf_sq8_topk(
        emb, q, k=10, n_centroids=8, n_probe=2, rerank=4, dims=64
    ).collect()
    composed = {(r["query_id"], r["neighbor_id"]) for r in composed_rows}
    overlap = len(exact & composed) / len(exact)
    assert overlap >= 0.5, f"IVF x SQ8 recall@10 too low: {overlap}"
    # sim values for shared (query, neighbor) pairs equal the exact dot
    exact_sim = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact_rows}
    for r in composed_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 1e-9, key
    # same probe budget: composed recall should not fall below the
    # float-IVF path (identical candidate sets, shortlist >= k survivors)
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, k=10, n_centroids=8, n_probe=2, dims=64).collect()
    }
    assert len(composed & ivf) / len(ivf) >= 0.8


_TIERS = {
    "cosine": lambda S, c, q, k: S.cosine_topk(c, q, k=k, dims=64),
    "lsh": lambda S, c, q, k: S.ann_topk_lsh(c, q, k=k, planes=2, dims=64),
    "ivf": lambda S, c, q, k: S.ivf_topk(
        c, q, k=k, n_centroids=4, n_probe=2, dims=64),
    "sq8": lambda S, c, q, k: S.sq8_topk(c, q, k=k, dims=64),
    "ivf_sq8": lambda S, c, q, k: S.ivf_sq8_topk(
        c, q, k=k, n_centroids=4, n_probe=2, rerank=2, dims=64),
    "pq": lambda S, c, q, k: S.pq_topk(c, q, k=k, rerank=2),
    "ivf_pq": lambda S, c, q, k: S.ivf_pq_topk(
        c, q, k=k, n_centroids=4, n_probe=2, rerank=2),
}


@pytest.mark.parametrize("tier", sorted(_TIERS))
def test_topk_tiers_share_the_ranking_contract(spark, tier):
    """Every top-k tier emits (query_id, neighbor_id, sim, rank) with
    ranks 1..n <= k per query, never the query itself, sim descending
    and, among equal sim, ascending neighbor_id. The corpus holds each
    of 16 sign vectors three times; components are +-1/8, so every dot
    is an exact multiple of 1/32 and equal sims are true ties."""
    import random

    from streaming_parquet_spark.operators import similarity as S

    rnd = random.Random(5)
    base = [[rnd.choice((0.125, -0.125)) for _ in range(64)]
            for _ in range(16)]
    corpus = spark.createDataFrame(
        [(i, base[i % 16]) for i in range(48)],
        "vec_id bigint, embedding array<float>",
    )
    k = 5
    out = _TIERS[tier](S, corpus, corpus.filter(F.col("vec_id") < 4), k)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    rows = sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"]))
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3}
    ties = 0
    for qid in range(4):
        got = [r for r in rows if r["query_id"] == qid]
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
        assert len(got) <= k
        assert all(r["neighbor_id"] != qid for r in got)
        for a, b in zip(got, got[1:]):
            assert a["sim"] >= b["sim"], (tier, a, b)
            if a["sim"] == b["sim"]:
                ties += 1
                assert a["neighbor_id"] < b["neighbor_id"], (tier, a, b)
    assert ties, f"{tier}: the fixture produced no tie"


# The pair-generator fixture: per block, ``hot`` holds one block over
# the cap _CAP (4 identical rows), ``ok`` one exactly at it (3 identical
# rows), ``var`` rows of graded similarity. The incremental generators
# probe a batch (_BATCH ids) against an index of the other rows, so the
# combined population of each block is the same as in the self-join.
_CAP = 3
_HOT, _OK = (0, 1, 2, 3), (10, 11, 12)
_BATCH = {2, 3, 12, 22}
_DOCS = [(i, "hot", "cookie policy accept terms of service page now")
         for i in _HOT]
_DOCS += [(i, "ok", "the quick brown fox jumps over the lazy dog")
          for i in _OK]
_DOCS += [
    (20, "var", "alpha beta gamma delta epsilon zeta eta theta"),
    (21, "var", "alpha beta gamma delta epsilon zeta eta iota"),
    (22, "var", "alpha beta gamma delta epsilon"),
    (23, "var", "one two three four five six seven eight"),
]
# vectors over three disjoint 4-dim groups: hot, ok and var point into
# one group each; every component is a multiple of 1/8, so each dot is
# exact in double precision
_VECS = [(i, "hot", [0.5] * 4 + [0.0] * 8) for i in _HOT]
_VECS += [(i, "ok", [0.0] * 4 + [0.5] * 4 + [0.0] * 4) for i in _OK]
_VECS += [
    (20, "var", [0.0] * 8 + [0.5, 0.5, 0.5, 0.5]),
    (21, "var", [0.0] * 8 + [0.5, 0.5, 0.5, 0.25]),
    (22, "var", [0.0] * 8 + [0.5, 0.5, -0.5, 0.0]),
    (23, "var", [0.0] * 8 + [0.5, 0.5, 0.5, 0.375]),
]
_NAMES = [(i, "hot", f"aaaa{i}") for i in _HOT]
_NAMES += [(i, "ok", f"bbbb{i}") for i in _OK]
_NAMES += [(20, "var", "cccc0"), (21, "var", "cccc00"),
           (22, "var", "cccc123"), (23, "var", "cccc9")]


def _round4(x):
    import math

    return math.floor(x * 1e4 + 0.5) / 1e4


def _shingle_set(text, n=3):
    w = text.split()
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingle_set(_DOC_TEXT[a]), _shingle_set(_DOC_TEXT[b])
    return len(sa & sb) / len(sa | sb)


def _levenshtein(x, y):
    prev = list(range(len(y) + 1))
    for i, cx in enumerate(x, 1):
        cur = [i]
        for j, cy in enumerate(y, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (cx != cy)))
        prev = cur
    return prev[-1]


_DOC_TEXT = {i: t for i, _, t in _DOCS}
_VEC = {i: v for i, _, v in _VECS}
_NAME = {i: t for i, _, t in _NAMES}


def _dot(a, b):
    return sum(x * y for x, y in zip(_VEC[a], _VEC[b]))


def _frame(spark, rows, cols, ids=None):
    df = spark.createDataFrame(rows, cols)
    if ids is None:
        return df
    key = cols.split()[0]
    return df.filter(F.col(key).isin(sorted(ids)))


_DOC_COLS = "doc_id bigint, blk string, text string"
_VEC_COLS = "vec_id bigint, blk string, embedding array<float>"
_ALL_IDS = {r[0] for r in _DOCS}


def _lsh_index(spark, cap):
    from streaming_parquet_spark.operators import dedup as D

    D.write_lsh_index(
        _frame(spark, _DOCS, _DOC_COLS, _ALL_IDS - _BATCH),
        "maw_pair_contract_lsh", num_hashes=16, bands=8,
    )
    return D.incremental_lsh_pairs(
        _frame(spark, _DOCS, _DOC_COLS, _BATCH), "maw_pair_contract_lsh",
        jaccard_threshold=0.5, max_bucket_rows=cap,
    )


def _ann_index(spark, cap):
    from streaming_parquet_spark.operators import similarity as S

    cents = spark.createDataFrame(
        [(0, _VEC[0]), (1, _VEC[10]), (2, _VEC[20])],
        "vec_id bigint, embedding array<float>",
    )
    S.write_ann_index(
        _frame(spark, _VECS, _VEC_COLS, _ALL_IDS - _BATCH),
        "maw_pair_contract_ann", centroids=cents, dims=12,
    )
    return S.incremental_semantic_pairs(
        _frame(spark, _VECS, _VEC_COLS, _BATCH), "maw_pair_contract_ann",
        threshold=0.8, max_block_rows=cap,
    )


def _dedup(name, **kw):
    def run(spark, cap):
        from streaming_parquet_spark.operators import dedup as D

        capped = {} if cap is None else {
            "max_bucket_rows" if name == "minhash_lsh_pairs"
            else "max_block_rows": cap
        }
        return getattr(D, name)(
            _frame(spark, _DOCS, _DOC_COLS), **kw, **capped
        )
    return run


def _similarity(spark, cap):
    from streaming_parquet_spark.operators.similarity import similarity_pairs

    return similarity_pairs(
        _frame(spark, _VECS, _VEC_COLS), threshold=0.8, block_col="blk",
        dims=12, max_block_rows=cap,
    )


def _fuzzy(spark, cap):
    from streaming_parquet_spark.operators.linkage import fuzzy_pairs

    return fuzzy_pairs(
        _frame(spark, _NAMES, "id bigint, blk string, name string"),
        "id", "name", "substr(name, 1, 4)", max_dist=1, max_block=cap,
    ).select("id_a", "id_b", "dist")


# generator -> (run(spark, cap), id order, "does the row meet the
# threshold?", capped); ``order`` is "<", "!=" or "batch" (new_id from
# _BATCH, corpus_id from the index)
_PAIRS = {
    "minhash_lsh_pairs": (
        _dedup("minhash_lsh_pairs", jaccard_threshold=0.5), "<",
        lambda a, b, s: s >= 0.5 and s == _round4(_jaccard(a, b)), True),
    "incremental_lsh_pairs": (
        _lsh_index, "batch",
        lambda a, b, s: s >= 0.5 and s == _round4(_jaccard(a, b)), True),
    "ngram_jaccard_pairs": (
        _dedup("ngram_jaccard_pairs", block_cols=["blk"], threshold=0.5),
        "<", lambda a, b, s: _jaccard(a, b) >= 0.5
        and s == _round4(_jaccard(a, b)), True),
    "prefix_jaccard_pairs": (
        _dedup("prefix_jaccard_pairs", threshold_num=1, threshold_den=2),
        "<", lambda a, b, s: 2 * len(_shingle_set(_DOC_TEXT[a])
                                     & _shingle_set(_DOC_TEXT[b]))
        >= len(_shingle_set(_DOC_TEXT[a]) | _shingle_set(_DOC_TEXT[b]))
        and s == _round4(_jaccard(a, b)), False),
    "simhash_pairs": (
        _dedup("simhash_pairs", block_cols=["blk"], max_hamming=3), "<",
        lambda a, b, s: 0 <= s <= 3, True),
    "containment_pairs": (
        _dedup("containment_pairs", block_cols=["blk"], threshold=0.8),
        "!=", lambda a, b, s: s >= 0.8 and s == _round4(
            len(_shingle_set(_DOC_TEXT[a]) & _shingle_set(_DOC_TEXT[b]))
            / len(_shingle_set(_DOC_TEXT[a]))), False),
    "fuzzy_pairs": (
        _fuzzy, "<",
        lambda a, b, s: s == _levenshtein(_NAME[a], _NAME[b]) <= 1, True),
    "similarity_pairs": (
        _similarity, "<",
        lambda a, b, s: s >= 0.8 and s == _round4(_dot(a, b)), True),
    "incremental_semantic_pairs": (
        _ann_index, "batch",
        lambda a, b, s: s >= 0.8 and s == _round4(_dot(a, b)), True),
}


@pytest.mark.parametrize("generator", sorted(_PAIRS))
def test_pair_generators_share_the_contract(spark, generator):
    """Every pair generator emits (id, id, score) rows with no self
    pair, ids in its order (id_a < id_b; id_a != id_b for the directed
    containment; for the incremental probes new_id from the batch and
    corpus_id from the index), and only rows that meet its threshold,
    re-scored here in Python. Under a block cap, a block over the cap
    contributes no pair and a block exactly at the cap keeps them all
    (for the probes the cap counts the index and the batch together)."""
    run, order, holds, capped = _PAIRS[generator]
    try:
        rows = [tuple(r) for r in run(spark, None).collect()]
        assert rows and len(set(rows)) == len(rows)
        for a, b, s in rows:
            assert a != b, (generator, a, b)
            if order == "<":
                assert a < b, (generator, a, b)
            elif order == "batch":
                assert a in _BATCH and b in _ALL_IDS - _BATCH, (a, b)
            assert holds(a, b, s), (generator, a, b, s)
        if not capped:
            return

        def block(ids):
            if order == "batch":
                return {(a, b) for a in ids if a in _BATCH
                        for b in ids if b not in _BATCH}
            return {(a, b) for a in ids for b in ids if a < b}

        got = {(a, b) for a, b, _ in run(spark, _CAP).collect()}
        assert not got & block(_HOT), generator
        assert block(_OK) <= got, generator
        assert block(_OK) <= {(a, b) for a, b, _ in rows}
    finally:
        for t in ("maw_pair_contract_lsh_sets", "maw_pair_contract_lsh_bands",
                  "maw_pair_contract_ann_centroids",
                  "maw_pair_contract_ann_postings"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_partitioned_jsonl(spark, sf_dir, tmp_path):
    """jsonl out-format must dispatch to DataFrameWriter.json (ADVICE r2:
    getattr(writer, 'jsonl') raised AttributeError)."""
    import os
    from streaming_parquet_spark.sinks.writers import write_partitioned

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "part_jsonl_out")
    res = write_partitioned(li, out, ["l_returnflag"], out_format="jsonl")
    assert res.files_written >= 2
    subdirs = {d for d in os.listdir(out) if d.startswith("l_returnflag=")}
    assert len(subdirs) >= 2
    back = spark.read.json(out)
    assert back.count() == li.count()

    import pytest
    with pytest.raises(ValueError, match="unsupported partitioned"):
        write_partitioned(li, out, ["l_returnflag"], out_format="avro")
    # ORC is a supported partitioned format since round 4
    out2 = str(tmp_path / "part_orc_out")
    res2 = write_partitioned(li, out2, ["l_returnflag"], out_format="orc")
    assert res2.files_written >= 2
    assert spark.read.orc(out2).count() == li.count()


def test_asof_join_null_times_stay_unmatched(spark):
    """NULL time keys: a left row with NULL time matches nothing; a right
    row with NULL time is never attached (pandas merge_asof rejects null
    keys outright; we degrade to no-match). ADVICE r2."""
    from streaming_parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10.0), (2, 100, None), (3, 100, 3.0)],
        "id long, k long, t double",
    )
    right = spark.createDataFrame(
        [(100, None, "null_time"), (100, 5.0, "real")],
        "k long, t double, tag string",
    )
    for direction, expect in (
        ("backward", {1: "real", 2: None, 3: None}),
        ("forward", {1: None, 2: None, 3: "real"}),
    ):
        out = {
            r["id"]: r["tag_asof"]
            for r in asof_join(
                left, right, on=["k"], left_time="t", right_time="t",
                payload=["tag"], direction=direction,
            ).collect()
        }
        assert out == expect, direction


def test_jsonl_inference_rejects_json_documents(tmp_path):
    """A .json file holding an array / pretty-printed doc must raise, not
    silently infer an empty schema (ADVICE r2)."""
    import pytest
    from streaming_parquet_spark.sources.readers import (
        infer_jsonl_schema_prefix,
    )

    arr = tmp_path / "arr.json"
    arr.write_text('[\n  {"a": 1},\n  {"a": 2}\n]\n')
    with pytest.raises(ValueError, match="JSON array"):
        infer_jsonl_schema_prefix(str(arr))

    pretty = tmp_path / "pretty.json"
    pretty.write_text('{\n  "a": 1,\n  "b": {"c": 2}\n}\n')
    with pytest.raises(ValueError, match="pretty-printed"):
        infer_jsonl_schema_prefix(str(pretty))

    # malformed first record still degrades PERMISSIVE-style
    ragged = tmp_path / "ragged.jsonl"
    ragged.write_text('{"a": \n{"a": 1}\n{"a": 2}\n')
    schema = infer_jsonl_schema_prefix(str(ragged))
    assert [f.name for f in schema.fields] == ["a"]


def test_repetition_stats_known_values(spark):
    """Hand-computed repetition stats on a constructed doc."""
    from streaming_parquet_spark.operators.text import with_repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b c"), (2, "x y"), (3, ""), (4, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 5
    assert r1["top_word_frac"] == 0.6          # 'a' x3 of 5
    assert r1["top_bigram_frac"] == 0.5        # 'a a' x2 of 4
    assert r1["frac_unique_words"] == 0.6      # {a,b,c} of 5
    assert r1["mean_word_len"] == 1.0
    assert rows[2]["top_bigram_frac"] == 1.0   # single bigram
    assert rows[3]["n_words"] == 0 and rows[3]["top_word_frac"] == 0.0
    assert rows[4]["top_bigram_frac"] == 0.0   # no bigrams


def test_cross_contamination_detects_planted_overlap(spark):
    """A doc sharing a long n-gram run with a benchmark doc is flagged;
    unrelated docs are not."""
    from streaming_parquet_spark.operators.dedup import cross_contamination

    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (0, bench_text),                          # the benchmark doc
            (1, "prefix alpha beta gamma delta end"), # 2 shared trigrams
            (2, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = cross_contamination(docs, bench, n=3, min_overlap=2).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in out] == [(1, 0)]
    assert out[0]["n_shared"] == 2


def _expected_bucket(doc_id: int, buckets: int, seed: int) -> int:
    """Python replica of functions.portable.hash_bucket_expr."""
    return (
        ((doc_id % 1000003 + seed) % 1000003) * 2654435761 % (2**31 - 1)
    ) % buckets


def test_stratified_sample_exact_membership(docs):
    """The kept set is EXACTLY the rows whose salted 1000-bucket falls
    under the stratum rate — no tolerance, the hash is deterministic."""
    from streaming_parquet_spark.operators.pipeline import (
        STRATIFIED_SEED,
        stratified_sample,
    )

    rates = {"en": 0.10, "de": 0.50, "fr": 0.50, "es": 0.50, "zh": 0.25}
    s1 = stratified_sample(docs, rates, strat_col="lang")
    got = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    src = docs.select("doc_id", "lang").collect()
    expect = sorted(
        r["doc_id"]
        for r in src
        if _expected_bucket(r["doc_id"], 1000, STRATIFIED_SEED)
        < int(rates.get(r["lang"], 0) * 1000)
    )
    assert got == expect and got  # exact and non-empty
    # deterministic across invocations
    got2 = sorted(
        r["doc_id"]
        for r in stratified_sample(docs, rates, strat_col="lang")
        .select("doc_id").collect()
    )
    assert got == got2


def test_stratified_sample_empty_rates_uses_default(docs):
    from streaming_parquet_spark.operators.pipeline import stratified_sample

    assert stratified_sample(docs, {}, strat_col="lang").count() == 0
    half = stratified_sample(docs, {}, strat_col="lang", default_rate=0.5)
    n, total = half.count(), docs.count()
    assert 0 < n < total


def test_stratified_buckets_independent_of_split_buckets(docs):
    """The purpose salt decorrelates the stratum filter from a later
    split: within the stratified-kept set, the unseeded 100-bucket
    residues stay near-uniform (unsalted, a 0.25 stratum rate would
    give residues 0-49 ~3x the mass of 50-99)."""
    from streaming_parquet_spark.operators.pipeline import (
        STRATIFIED_SEED,
        stratified_sample,
    )

    kept = stratified_sample(
        docs, {"en": 0.25}, strat_col="lang"
    ).select("doc_id").collect()
    lo = sum(1 for r in kept if _expected_bucket(r["doc_id"], 100, 0) < 50)
    hi = len(kept) - lo
    assert len(kept) > 50
    assert hi > 0.5 * lo, (lo, hi)  # unsalted composition gives hi ~= lo/3
    # sanity: the salt actually changes the assignment
    assert any(
        _expected_bucket(r["doc_id"], 1000, STRATIFIED_SEED)
        != _expected_bucket(r["doc_id"], 1000, 0)
        for r in kept
    )


def test_topn_per_stratum_exact_size_and_determinism(docs):
    from streaming_parquet_spark.operators.pipeline import topn_per_stratum

    out = topn_per_stratum(
        docs.select("doc_id", "lang"), n=10, strat_col="lang"
    )
    sizes = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    totals = dict(docs.groupBy("lang").count().collect())
    assert sizes == {k: min(10, v) for k, v in totals.items()}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in topn_per_stratum(
            docs.select("doc_id", "lang"), n=10, strat_col="lang"
        ).collect()
    )
    assert a == b
    # n larger than every stratum -> identity
    n_all = topn_per_stratum(
        docs.select("doc_id", "lang"), n=10**6, strat_col="lang"
    ).count()
    assert n_all == docs.count()


def test_domain_resample_respects_weights(docs):
    from streaming_parquet_spark.operators.pipeline import (
        domain_mix_weights,
        domain_resample,
    )
    from streaming_parquet_spark.operators.text import with_token_stats

    weights = domain_mix_weights(
        with_token_stats(docs), group_col="source", token_col="est_tokens"
    )
    kept = domain_resample(docs.select("doc_id", "source"), weights)
    w = {r["source"]: r["weight"] for r in weights.collect()}
    totals = dict(docs.groupBy("source").count().collect())
    got = dict(kept.groupBy("source").count().collect())
    for src, total in totals.items():
        if w[src] >= 1.0:  # weight-1 domains keep everything
            assert got.get(src, 0) == total
        else:  # realized rate tracks the weight (binomial-ish bound)
            rate = got.get(src, 0) / total
            assert abs(rate - w[src]) < 0.15 + 2.0 / total**0.5, (src, rate)


def test_tfidf_topk_ranks_rare_terms_higher(spark):
    from streaming_parquet_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common common rare common"),
            (2, "common filler filler"),
            (3, "common other words"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: 'rare' (df=1) outranks 'common' (df=3) despite tf 1 vs 3?
    # rational key: rare 1*4/2=2.0, common 3*4/4=3.0 -> common first,
    # rare second; both in top-2 and ranks deterministic
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["common", "rare"]
    assert d1[0]["df"] == 3 and d1[1]["df"] == 1
    # every doc yields exactly min(k, n_distinct_terms) rows
    assert len(by_doc[2]) == 2 and len(by_doc[3]) == 2
    # ranks are 1..k with no gaps
    for rows in by_doc.values():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))


def test_domain_mix_weights_uniform_target(docs):
    from streaming_parquet_spark.operators.pipeline import domain_mix_weights
    from streaming_parquet_spark.operators.text import with_token_stats

    d = with_token_stats(docs)
    out = domain_mix_weights(d, group_col="source", token_col="est_tokens")
    rows = out.collect()
    assert len(rows) == d.select("source").distinct().count()
    assert all(0 < r["weight"] <= 1.0 for r in rows)
    # weighted token mass per domain never exceeds the uniform share
    total = sum(r["n_tokens"] for r in rows)
    share = total / len(rows)
    for r in rows:
        assert r["n_tokens"] * r["weight"] <= share * 1.001


def test_kmeans_step_masses_and_norms(emb):
    from streaming_parquet_spark.operators.similarity import kmeans_step

    cents = emb.filter(F.col("vec_id") < 8)
    out = kmeans_step(emb, cents, dims=64).collect()
    assert sum(r["n"] for r in out) == emb.count()
    # fixture embeddings are L2-normalized; a mean of unit vectors has
    # norm in (0, 1]
    assert all(0 < r["centroid_norm"] <= 1.0 + 1e-6 for r in out)


# ---------------------------------------------------------------------------
# round 4: span/paragraph dedup, chunking, token budget, reps, projection
# ---------------------------------------------------------------------------


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from streaming_parquet_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared block\n\ngamma"),
            (2, "shared block\n\ndelta"),
            (3, "shared block"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # doc 1 saw "shared block" first -> keeps all three paragraphs
    assert out[1]["text"] == "alpha beta\n\nshared block\n\ngamma"
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    # docs 2 and 3 lose the duplicate, keep the rest in order
    assert out[2]["text"] == "delta"
    assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    # every input doc appears exactly once
    assert sorted(out) == [1, 2, 3]


def test_paragraph_dedup_order_preserved_within_doc(spark):
    from streaming_parquet_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(7, "z last\n\na first\n\nm middle")], "doc_id long, text string"
    )
    row = paragraph_dedup(df).collect()[0]
    # reassembly follows document position, not span sort order
    assert row["text"] == "z last\n\na first\n\nm middle"


def test_chunk_documents_boundaries(spark):
    from streaming_parquet_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 words
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "solo")], "doc_id long, text string"
    )
    out = chunk_documents(df, size=4, stride=3)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk"])
        for r in out.collect()
    }
    # doc 1: starts at words 0,3,6 -> 3 chunks; last one short (4 words
    # from index 6 of 10 = 4 words exactly)
    assert got[(1, 0)] == (4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (4, "w3 w4 w5 w6")
    assert got[(1, 2)] == (4, "w6 w7 w8 w9")
    assert (1, 3) not in got
    # doc 2 shorter than size -> one chunk, n_tokens = 3
    assert got[(2, 0)] == (3, "a b c")
    # single word
    assert got[(3, 0)] == (1, "solo")


def test_chunk_documents_covers_every_word(docs):
    """Every word position of every doc is covered by >= 1 chunk and
    total chunk tokens == n + overlap contributions (invariant:
    sum(n_tokens) >= n_words, == when stride >= size)."""
    from streaming_parquet_spark.operators.text import chunk_documents

    out = chunk_documents(docs, size=50, stride=50)  # disjoint chunks
    per_doc = {
        r["doc_id"]: r["s"]
        for r in out.groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.expr(
                "size(filter(split(trim(text), ' +'), w -> w != ''))"
            ).alias("n"),
        ).collect()
    }
    for d, n in words.items():
        assert per_doc.get(d, 0) == n, d


def test_token_budget_select_overshoot_at_most_one_doc(docs):
    from streaming_parquet_spark.operators.pipeline import (
        token_budget_select,
    )
    from streaming_parquet_spark.operators.text import with_token_stats

    budget = 3000
    d = with_token_stats(docs)
    kept = token_budget_select(
        d, budget=budget, token_col="est_tokens", group_col="source"
    )
    rows = kept.select("source", "est_tokens", "cum_tokens").collect()
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    for src, rs in per_src.items():
        total = max(r["cum_tokens"] for r in rs)
        biggest = max(r["est_tokens"] for r in rs)
        # never undershoots while docs remain; overshoot < one doc
        assert total >= min(
            budget, sum(r["est_tokens"] for r in rs)
        ), src
        assert total < budget + biggest, src
    # deterministic across invocations
    again = token_budget_select(
        d, budget=budget, token_col="est_tokens", group_col="source"
    ).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"]
        for r in kept.select("doc_id").collect()
    )


def test_cluster_representatives_argmax(spark):
    from streaming_parquet_spark.operators.cluster import (
        cluster_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2)],
        "doc_id long, quality long",
    )
    out = {
        r["component"]: r
        for r in cluster_representatives(
            pairs, docs, quality_col="quality"
        ).collect()
    }
    # cluster {1,2,3}: quality tie 9 between 2 and 3 -> min id 2 wins
    assert out[1]["rep_id"] == 2 and out[1]["best_quality"] == 9
    assert out[1]["cluster_size"] == 3
    # cluster {10,11}: 10 has higher quality
    assert out[10]["rep_id"] == 10 and out[10]["cluster_size"] == 2


def test_random_projection_sign_matches_lsh_bits(emb):
    """sign(p_j) must equal bit j of the LSH signature — the projection
    IS the continuous form of the bucket hash."""
    from streaming_parquet_spark.operators.similarity import (
        random_projection,
        with_lsh_signature,
    )

    sub = emb.limit(50)
    proj = {
        r["vec_id"]: r
        for r in random_projection(sub, out_dims=8, dims=64).collect()
    }
    sig = {
        r["vec_id"]: r["lsh_bucket"]
        for r in with_lsh_signature(sub, planes=8, dims=64).collect()
    }
    assert proj and sorted(proj) == sorted(sig)
    for vid, row in proj.items():
        for j in range(8):
            bit = (sig[vid] >> j) & 1
            # rounding to 4dp can zero a tiny positive dot; skip exact 0
            if row[f"p{j}"] != 0.0:
                assert (row[f"p{j}"] > 0) == (bit == 1), (vid, j)


def test_hypertable_rollup_reaggregation_identity(spark, sf_dir):
    """Daily tier computed from the hourly tier must equal a daily
    aggregate computed directly from raw rows (summable-measure
    identity), and per-tier totals must all equal the corpus total."""
    from streaming_parquet_spark.operators.timeseries import (
        hypertable_rollup,
    )
    from streaming_parquet_spark.queries import _events

    e = _events(spark, sf_dir).select(
        "ts", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = hypertable_rollup(
        e, ts_col="ts", keys=["event_type"], sum_col="cents",
        granularities=("hour", "day"),
    )
    day_from_hour = {
        (r["bucket_ts"], r["event_type"]): (r["n"], r["total"])
        for r in out.filter("granularity = 'day'").collect()
    }
    direct = {
        (r["b"], r["event_type"]): (r["n"], r["t"])
        for r in e.groupBy(
            F.date_trunc("day", "ts").alias("b"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("t"),
        )
        .collect()
    }
    assert day_from_hour == direct and direct
    total_rows = e.count()
    for g in ("hour", "day"):
        assert (
            out.filter(f"granularity = '{g}'").agg(F.sum("n")).collect()[0][0]
            == total_rows
        ), g


def test_hypertable_rollup_rejects_bad_grain_order(spark, sf_dir):
    from streaming_parquet_spark.operators.timeseries import (
        hypertable_rollup,
    )
    from streaming_parquet_spark.queries import _events

    e = _events(spark, sf_dir)
    with pytest.raises(ValueError):
        hypertable_rollup(e, granularities=("day", "hour"))
    with pytest.raises(ValueError):
        hypertable_rollup(e, granularities=("hour", "fortnight"))


def test_upsert_latest_matches_window_rendering(spark, sf_dir):
    from streaming_parquet_spark.operators.cdc import upsert_latest
    from streaming_parquet_spark.queries import _events
    from pyspark.sql import Window as W

    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    agg = upsert_latest(
        e, keys=["user_id", "event_type"], seq_cols=["ts", "event_id"],
        payload_cols=["value"],
    )
    win = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = (
        e.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .drop("rn")
    )
    cols = ["user_id", "event_type", "ts", "event_id", "value"]
    assert sorted(map(repr, agg.select(cols).collect())) == sorted(
        map(repr, expect.select(cols).collect())
    )


def test_rank_filter_keeps_top_half_per_group(docs):
    from streaming_parquet_spark.operators.pipeline import rank_filter

    kept = rank_filter(
        docs.select("doc_id", "source", "n_chars"),
        score_col="n_chars", group_col="source",
    )
    totals = dict(docs.groupBy("source").count().collect())
    got = dict(kept.groupBy("source").count().collect())
    for src, total in totals.items():
        n = got.get(src, 0)
        # percent_rank >= 0.5 keeps ~half (ties can push either way)
        assert 0.3 * total <= n <= 0.7 * total, (src, n, total)
    # kept min length >= dropped max length is false in general (ties),
    # but within a source every kept doc is >= that source's median-ish
    row = kept.groupBy("source").agg(F.min("n_chars").alias("m")).collect()
    meds = {
        r["source"]: r["m"]
        for r in docs.groupBy("source")
        .agg(F.expr("percentile(n_chars, 0.4)").alias("m"))
        .collect()
    }
    for r in row:
        assert r["m"] >= meds[r["source"]], r


def test_pq_recall_and_code_shape(emb):
    """PQ-ADC top-10 with 4x rerank must recover a reasonable fraction
    of the exact neighbors (approximation bound, not exactness), and
    the encoding must emit exactly PQ_M codes in [0, PQ_K) per vector."""
    from streaming_parquet_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_codebook_df,
        pq_encode,
        pq_topk,
    )

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10, dims=64).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, q, k=10, rerank=4).collect()
    }
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.2, f"PQ recall collapsed: {overlap}"

    codes = pq_encode(
        emb.limit(20), pq_codebook_df(emb.sparkSession)
    ).collect()
    per_vec: dict = {}
    for r in codes:
        per_vec.setdefault(r["id"], []).append(r)
        assert 0 <= r["code"] < PQ_K
    assert all(len(v) == PQ_M for v in per_vec.values())


def test_power_iteration_matches_numpy_and_converges(emb):
    """y must equal the numpy rendering of sum_x floor(x_i (x.v0) S)
    exactly (integer fixed point), y_norm must be unit-norm, and
    iterating v0 <- y_norm must raise the Rayleigh quotient toward the
    top eigenvalue (power-method monotonicity)."""
    import numpy as np

    from streaming_parquet_spark.operators.similarity import (
        _plane_component,
        power_iteration_step,
    )

    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    # replicate the arithmetic start vector
    M = 2_147_483_647
    v0 = np.array(
        [((7 * (d + 1) * 2654435761) % M) / M * 2 - 1 for d in range(64)]
    )
    out = {r["dim"]: r for r in power_iteration_step(emb).collect()}
    s = X @ v0
    y_fixed = np.floor(X * s[:, None] * 1_000_000).astype(np.int64).sum(0)
    for d in range(64):
        assert out[d + 1]["y_fixed"] == y_fixed[d], d
    norm_sq = sum(r["y_norm"] ** 2 for r in out.values())
    assert abs(norm_sq - 1.0) < 1e-2
    # one more step via the v0 parameter: Rayleigh quotient must not drop
    G = X.T @ X
    y1 = np.array([out[d + 1]["y_norm"] for d in range(64)])
    out2 = {
        r["dim"]: r
        for r in power_iteration_step(emb, v0=list(y1)).collect()
    }
    y2 = np.array([out2[d + 1]["y_norm"] for d in range(64)])
    r1 = y1 @ G @ y1
    r2 = y2 @ G @ y2
    assert r2 >= r1 - 1e-6, (r1, r2)


def test_epoch_upsample_copy_counts(spark, docs):
    """Copy count per doc == floor(w) + {0,1} by the deterministic
    fractional hash; realized per-group volume tracks weight * size."""
    from streaming_parquet_spark.operators.pipeline import (
        domain_mix_weights,
        epoch_upsample,
    )
    from streaming_parquet_spark.operators.text import with_token_stats

    d = with_token_stats(docs)
    w = domain_mix_weights(d, group_col="lang", token_col="est_tokens",
                           cap=False)
    out = epoch_upsample(d.select("doc_id", "lang"), w, group_col="lang")
    weights = {r["lang"]: r["weight"] for r in w.collect()}
    per_doc = {
        r["doc_id"]: r["n"]
        for r in out.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    import math

    for doc, n in per_doc.items():
        wv = weights[langs[doc]]
        assert n in (math.floor(wv), math.floor(wv) + 1), (doc, wv, n)
    # epochs are 1..copies with no gaps
    bad = out.groupBy("doc_id").agg(
        F.max("epoch").alias("mx"), F.count(F.lit(1)).alias("n")
    ).filter("mx != n").count()
    assert bad == 0
    # realized volume tracks the weight (within hash noise)
    totals = dict(docs.groupBy("lang").count().collect())
    got = dict(out.groupBy("lang").count().collect())
    for lang, total in totals.items():
        expect = weights[lang] * total
        assert abs(got.get(lang, 0) - expect) < 0.2 * total + 10, lang


def test_anomaly_zscore_moments_exact(spark):
    """z-scores must match a direct computation from exact moments on a
    small handcrafted group (one wild outlier)."""
    from streaming_parquet_spark.operators.timeseries import anomaly_zscore

    vals = [10.0] * 20 + [1000.0]
    rows = [(i, "a", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, grp string, value double")
    out = anomaly_zscore(df, value_col="value", keys=["grp"], threshold=3.0)
    got = out.collect()
    assert len(got) == 1 and got[0]["event_id"] == 20
    import math

    f = [math.floor(v * 100) for v in vals]
    n = len(f)
    mean = sum(f) / n
    var = sum(x * x for x in f) / n - mean * mean
    z = (f[20] - mean) / math.sqrt(var)
    assert abs(got[0]["zscore"] - round(z, 4)) < 1e-9
    # constant group flags nothing (zero variance guard)
    const = spark.createDataFrame(
        [(i, "c", 5.0) for i in range(10)],
        "event_id long, grp string, value double",
    )
    assert anomaly_zscore(const, "value", ["grp"]).count() == 0


def test_bigram_lm_score_ranks_formulaic_above_salad(spark):
    """A document made of the corpus's dominant bigram pattern must
    outscore a doc of unique one-off bigrams, and scores stay in
    (0, 1]."""
    from streaming_parquet_spark.operators.text import bigram_lm_score

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((100, "zq xv bn mk lp qw"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["lm_score"] for r in bigram_lm_score(df).collect()}
    assert out[0] > out[100]
    assert all(0 < v <= 1.0 + 1e-9 for v in out.values())
    # single-word docs have no bigrams and drop out
    one = spark.createDataFrame(
        [(1, "solo"), (2, "a b")], "doc_id long, text string"
    )
    got = {r["id"] for r in bigram_lm_score(one).collect()}
    assert got == {2}


def test_span_dedup_properties_random(spark):
    """Property check over randomized corpora: (1) every distinct span
    survives in exactly one document (its first occurrence); (2) kept +
    dropped == total spans per doc; (3) reassembled text contains only
    that doc's kept spans in position order."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.dedup import span_dedup

    spans_strategy = st.lists(
        st.tuples(
            st.integers(0, 5),  # doc id
            st.integers(0, 9),  # pos (deduped per doc below)
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        ),
        min_size=1,
        max_size=30,
    )

    @given(raw=spans_strategy)
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(raw):
        seen = set()
        rows = []
        for d, p, s in raw:
            if (d, p) not in seen:
                seen.add((d, p))
                rows.append((d, p, s))
        df = spark.createDataFrame(rows, "doc_id long, pos long, para string")
        out = {
            r["doc_id"]: r
            for r in span_dedup(df, "doc_id", "pos", "para", sep="|").collect()
        }
        # conservation per doc
        per_doc: dict = {}
        for d, p, s in rows:
            per_doc.setdefault(d, []).append((p, s))
        assert sorted(out) == sorted(per_doc)
        for d, items in per_doc.items():
            assert out[d]["n_kept"] + out[d]["n_dropped"] == len(items)
        # each distinct span survives exactly once, at its first site
        first = {}
        for d, p, s in sorted(rows):
            first.setdefault(s, (d, p))
        survivors = []
        for d, r in out.items():
            for s in (r["text"].split("|") if r["text"] else []):
                survivors.append((d, s))
        assert sorted(survivors) == sorted(
            (d, s) for s, (d, p) in first.items()
        )
        # position order within each doc
        for d, r in out.items():
            kept = [
                s for p, s in sorted(per_doc[d]) if first.get(s) == (d, p)
            ]
            assert (r["text"].split("|") if r["text"] else []) == kept

    check()


def test_ivf_pq_recall_within_pq_budget(emb):
    """IVF x PQ must recover a reasonable share of exact neighbors and
    never return a neighbor outside the probed clusters' membership."""
    from streaming_parquet_spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10, dims=64).collect()
    }
    composed = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(emb, q, k=10).collect()
    }
    full_scan = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, q, k=10, rerank=4).collect()
    }
    # composed recall floor (posting lists cut the candidate pool)
    overlap = len(exact & composed) / len(exact)
    assert overlap >= 0.15, f"IVF x PQ recall collapsed: {overlap}"
    # probing can only SHRINK the PQ candidate pool, never add to it —
    # but rerank slots freed by pruned candidates may admit new ids, so
    # just require composed results to be plausible (nonempty per query)
    per_q: dict = {}
    for qid, nid in composed:
        per_q.setdefault(qid, set()).add(nid)
    assert len(per_q) == 5 and all(len(v) == 10 for v in per_q.values())


def test_ts_similarity_invariant_to_affine_transform(spark):
    """z-normalized distance must be 0 between a window and an affine
    copy of it (v -> a*v + b), the defining property of the metric."""
    from streaming_parquet_spark.operators.timeseries import (
        ts_similarity_topk,
    )

    base = [3.0, 7.0, 1.0, 9.0, 4.0, 6.0, 2.0, 8.0]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, 1, f"2024-01-01 00:{i:02d}:00", v))
        rows.append((100 + i, 2, f"2024-01-01 00:{i:02d}:00", 2.0 * v + 5.0))
        rows.append((200 + i, 3, f"2024-01-01 00:{i:02d}:00", float(i % 2)))
    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = ts_similarity_topk(df, query_user=1, query_win=0, k=5, m=8)
    got = {(r["user_id"], r["win"]): r for r in out.collect()}
    # affine copy is rank 1 with distance 0
    assert got[(2, 0)]["rank"] == 1 and got[(2, 0)]["dist"] == 0.0
    # the query window itself is excluded
    assert (1, 0) not in got
    # the alternating series is farther
    assert got[(3, 0)]["dist"] > 0


def test_sparse_cosine_identical_docs_are_top_neighbors(spark):
    from streaming_parquet_spark.operators.text import sparse_cosine_topk

    rows = [
        (1, "quantum flux capacitor resonance chamber alpha"),
        (2, "quantum flux capacitor resonance chamber alpha"),
        (3, "banana smoothie recipe with yogurt and honey"),
        (4, "banana smoothie recipe with yogurt and berries"),
        (5, "unrelated solitary document about nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id"], r["rank"]): (r["nbr"], r["cos"])
        for r in sparse_cosine_topk(df, k=2, topk_terms=8).collect()
    }
    # identical docs: cosine 1.0, mutual rank-1
    assert out[(1, 1)][0] == 2 and abs(out[(1, 1)][1] - 1.0) < 1e-9
    assert out[(2, 1)][0] == 1
    # near-identical recipes pair up
    assert out[(3, 1)][0] == 4 and out[(4, 1)][0] == 3
    assert 0 < out[(3, 1)][1] < 1.0
    # doc 5 shares no top term with anyone -> absent or low
    assert (5, 1) not in out or out[(5, 1)][1] < 0.5


def test_sparse_cosine_max_df_drops_stop_terms(spark):
    """A term present in every doc must vanish from the index under
    max_df, removing pairs that only share it."""
    from streaming_parquet_spark.operators.text import sparse_cosine_topk

    rows = [
        (1, "common alpha beta"),
        (2, "common alpha beta"),
        (3, "common gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = sparse_cosine_topk(df, k=2, topk_terms=8)
    pruned = sparse_cosine_topk(df, k=2, topk_terms=8, max_df=2)
    full_pairs = {(r["id"], r["nbr"]) for r in full.collect()}
    pruned_pairs = {(r["id"], r["nbr"]) for r in pruned.collect()}
    # with 'common' indexed, doc 3 pairs with 1 and 2; without it,
    # doc 3 shares no indexed term and drops out entirely
    assert (3, 1) in full_pairs and (1, 3) in full_pairs
    assert all(3 not in p for p in pruned_pairs)
    assert (1, 2) in pruned_pairs  # alpha/beta still pair 1-2


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment ~1 while
    Jaccard is small — the asymmetric case the operator exists for."""
    from streaming_parquet_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    rows = [(1, small), (2, small + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert cont[(1, 2)] >= 0.99          # 1 contained in 2
    assert (2, 1) not in cont            # 2 NOT contained in 1
    assert jac[(1, 2)] < 0.2             # Jaccard blind to inclusion


def test_histogram_quantiles_overflow_guard_fires(spark):
    """Past width*bins*count ~ 2^62 the interpolation numerator would
    silently overflow IDENTICALLY in both engines (so the oracle gate
    can't catch it) — the operator must raise instead. Width ~1e17
    keeps the binning multiply inside int64 (that region already fails
    loudly under ANSI) but puts the interpolation product past the
    bound."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from streaming_parquet_spark.operators.sketch import histogram_quantiles

    wide = spark.createDataFrame(
        [("g", 0), ("g", 5 * 10**16), ("g", 10**17)], "g string, v long"
    )
    with _pytest.raises(Exception, match="int64 interpolation bound"):
        histogram_quantiles(wide, ["g"], "v", [50]).collect()


def test_containment_prefix_join_matches_brute_force(spark):
    """The prefix-filter candidate stage must have EXACT recall: on a
    random word-soup corpus (many borderline overlaps) the operator's
    output equals a brute-force all-pairs computation of the same
    predicate, including the 4dp round-up band and the semantic
    |b| >= t*|a| size prune."""
    import itertools
    import math
    import random

    from streaming_parquet_spark.operators.dedup import containment_pairs

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(40)]
    rows = []
    for i in range(50):
        k = rng.randint(5, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8, n=2).collect()
    }

    def shingles(text, n=2):
        w = text.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        sa, sb = sets[a], sets[b]
        if not sa or len(sb) < 0.8 * len(sa):
            continue
        c = math.floor(len(sa & sb) / len(sa) * 1e4 + 0.5) / 1e4
        if c >= 0.8:
            want[(a, b)] = c
    assert got == want


def test_fixed_point_ops_partition_invariant(spark, emb, sf_dir):
    """The integer fixed-point designs claim bit-identical results
    under ANY partitioning — verify by running each op over 1-partition
    and 17-partition layouts of the same data."""
    from streaming_parquet_spark.operators.similarity import (
        kmeans_step,
        power_iteration_step,
    )
    from streaming_parquet_spark.operators.timeseries import anomaly_zscore
    from streaming_parquet_spark.queries import _events

    def rows(df):
        return sorted(map(repr, df.collect()))

    e1 = emb.repartition(1)
    e17 = emb.repartition(17)
    cents = emb.filter(F.col("vec_id") < 8)
    assert rows(kmeans_step(e1, cents, dims=64)) == rows(
        kmeans_step(e17, cents, dims=64)
    )
    assert rows(power_iteration_step(e1)) == rows(power_iteration_step(e17))

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    assert rows(
        anomaly_zscore(ev.repartition(1), "value", ["event_type"])
    ) == rows(anomaly_zscore(ev.repartition(17), "value", ["event_type"]))


def test_scd2_intervals_chain(spark):
    """Versions per key are contiguous: version i's valid_to equals
    version i+1's valid_from; exactly one is_current per key."""
    from streaming_parquet_spark.operators.cdc import scd2_intervals

    rows = [
        (1, 10, "a"), (1, 20, "b"), (1, 30, "c"),
        (2, 5, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, payload string")
    out = scd2_intervals(
        df, keys=["k"], seq_cols=["seq"], payload_cols=["payload"]
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(
            range(1, len(versions) + 1)
        )
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert not a["is_current"]
        assert versions[-1]["is_current"]
        assert versions[-1]["valid_to"] is None
    assert by_key[1][0]["payload"] == "a"
    assert by_key[2][0]["is_current"]


def test_ohlc_bars_tie_break(spark):
    """open/close are deterministic under timestamp ties (tiebreak id)
    and match the time-ordered first/last points."""
    import datetime as dt

    from streaming_parquet_spark.operators.timeseries import ohlc_bars

    t0 = dt.datetime(2024, 1, 1, 10, 5)
    rows = [
        (t0, 2, 300), (t0, 1, 100),              # same ts: id 1 opens
        (t0.replace(minute=30), 3, 50),
        (t0.replace(minute=59), 5, 400),
        (t0.replace(minute=59), 4, 250),         # id 5 closes
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_id long, cents long")
    [bar] = ohlc_bars(df, keys=[], tiebreak_col="event_id").collect()
    assert (bar["open"], bar["high"], bar["low"], bar["close"]) == (
        100, 400, 50, 400,
    )
    assert (bar["n"], bar["volume"]) == (5, 1100)


def test_funnel_steps_strict_order(spark):
    """A step event BEFORE the previous step's match must not count;
    ts ties do not advance (strictly-after semantics)."""
    import datetime as dt

    from streaming_parquet_spark.operators.timeseries import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: full ordered funnel
        (1, t(0), "signup", 1), (1, t(1), "view", 2), (1, t(2), "click", 3),
        # user 2: click precedes view -> stops after signup+view
        (2, t(0), "signup", 4), (2, t(1), "click", 5), (2, t(2), "view", 6),
        # user 3: view shares signup's ts -> strictly-after fails
        (3, t(0), "signup", 7), (3, t(0), "view", 8),
        # user 4: never signs up
        (4, t(0), "view", 9), (4, t(1), "click", 10),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = {
        r["step_name"]: r["users"]
        for r in funnel_steps(df, ["signup", "view", "click"]).collect()
    }
    assert got == {"signup": 3, "view": 2, "click": 1}


def test_bloom_semi_join_exact_and_reducing(spark):
    """Bloom prefilter admits every true match (no false negatives),
    rejects most non-matches, and the composed operator equals the
    plain semi join exactly."""
    from streaming_parquet_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prefilter,
        bloom_semi_join,
    )

    fact = spark.range(0, 5000).select(F.col("id").alias("k"))
    build = spark.createDataFrame(
        [(i * 37,) for i in range(40)], "bk long"
    )  # 40 keys inside [0, 1480]
    got = sorted(
        r["k"] for r in bloom_semi_join(fact, build, "k", "bk").collect()
    )
    assert got == sorted(i * 37 for i in range(40))

    bitmap = bloom_bitmap(build.select(F.col("bk").alias("__k")), "__k")
    kept = bloom_prefilter(fact, bitmap, "k").count()
    assert kept >= 40                     # no false negatives
    assert kept < 5000 * 0.05             # >95% of non-matches rejected


def test_zorder_key_interleave_and_locality(spark):
    """The Morton key interleaves bits exactly, and neighbours on the
    curve are close in BOTH dimensions (locality property that makes
    min/max pruning work per dimension)."""
    from streaming_parquet_spark.operators.layout import zorder_key

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
    )
    rows = {(r["x"], r["y"]): r["z"] for r in df.collect()}

    def morton(x, y):
        z = 0
        for b in range(4):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert all(rows[(x, y)] == morton(x, y) for x, y in pts)
    # curve locality: any 16 consecutive curve positions span <= 8
    # distinct values in each dimension (vs 16 for a row-major sort's
    # trailing dimension)
    by_z = sorted(pts, key=lambda p: rows[p])
    for i in range(0, 256, 16):
        chunk = by_z[i:i + 16]
        assert len({x for x, _ in chunk}) <= 8
        assert len({y for _, y in chunk}) <= 8


def test_ewma_fixed_recurrence(spark):
    """EWMA matches the floor recurrence independent of partitioning
    and input order."""
    import datetime as dt

    from streaming_parquet_spark.operators.timeseries import ewma_fixed

    rows = []
    expect = {}
    for u in (1, 2):
        acc = 0
        for i in range(7):
            v = (u * 31 + i * 17) % 100
            acc = v if i == 0 else (v + acc) // 2
            rows.append((u, dt.datetime(2024, 1, 1, 0, i), i, v))
            expect[(u, i)] = acc
    import random

    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, cents long"
    ).repartition(5)
    out = ewma_fixed(
        df, keys=["user_id"], seq_cols=["ts", "event_id"],
        value_col="cents",
    )
    got = {(r["user_id"], r["event_id"]): r["ewma"] for r in out.collect()}
    assert got == expect


def test_hll_accuracy_and_merge(spark):
    """HLL estimate lands within the ~1.04/sqrt(64)=13% standard-error
    band (3 sigma) of the true cardinality, and register files built
    from disjoint halves merge by max() to the full-data registers."""
    from streaming_parquet_spark.functions.portable import hex_to_i32
    from streaming_parquet_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"),
        F.expr(hex_to_i32("md5(CAST(id AS STRING))")).alias("h"),
    )
    [row] = hll_estimate(hll_registers(df, ["g"], "h"), ["g"]).collect()
    assert abs(row["hll_est"] - n) / n < 0.39  # 3 sigma at m=64

    half1 = df.filter(F.col("h") % 2 == 0)
    half2 = df.filter(F.col("h") % 2 == 1)
    merged = (
        hll_registers(half1, ["g"], "h")
        .unionAll(hll_registers(half2, ["g"], "h"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    full = {
        (r["bucket"]): r["rho"]
        for r in hll_registers(df, ["g"], "h").collect()
    }
    got = {(r["bucket"]): r["rho"] for r in merged.collect()}
    assert got == full


def test_cms_one_sided_error(spark):
    """CMS estimates never undercount, and exact-for-unique-hash terms
    are exact when no collision lands in all d rows."""
    from streaming_parquet_spark.functions.portable import hex_to_i32
    from streaming_parquet_spark.operators.sketch import (
        cms_counters,
        cms_probe,
    )

    # zipf-ish: term t_i appears (50 - i) times
    rows = [(f"t{i}",) for i in range(50) for _ in range(50 - i)]
    df = spark.createDataFrame(rows, "word string").select(
        "word", F.expr(hex_to_i32("md5(word)")).alias("h")
    )
    counters = cms_counters(df, "h")
    cand = df.groupBy("word").agg(
        F.count(F.lit(1)).alias("n"), F.min("h").alias("h")
    )
    est = cms_probe(counters, cand, "h").collect()
    assert len(est) == 50
    assert all(r["cms_est"] >= r["n"] for r in est)
    # with 50 distinct terms in 3x1024 counters, most are collision-free
    exact = sum(1 for r in est if r["cms_est"] == r["n"])
    assert exact >= 45


def test_cms_counters_weighted_equals_per_occurrence(spark):
    """cms_counters(weight_col=) over a (hash, count) aggregate must be
    counter-for-counter identical to the per-occurrence build: the
    bucket is a function of the hash alone, so summing pre-aggregated
    counts and counting occurrences reach the same cells with the same
    totals. (The fused sketch_family gate relies on this.)"""
    from streaming_parquet_spark.functions.portable import hex_to_i32
    from streaming_parquet_spark.operators.sketch import cms_counters

    rows = [(f"t{i}",) for i in range(40) for _ in range(40 - i)]
    df = spark.createDataFrame(rows, "word string").select(
        "word", F.expr(hex_to_i32("md5(word)")).alias("h")
    )
    per_occurrence = sorted(
        map(tuple, cms_counters(df, "h").collect())
    )
    agg = df.groupBy("word", "h").agg(F.count(F.lit(1)).alias("n"))
    weighted = sorted(
        map(tuple, cms_counters(agg, "h", weight_col="n").collect())
    )
    assert weighted == per_occurrence
    # dtype parity: sum(bigint) must stay bigint like count()
    assert (
        dict(cms_counters(agg, "h", weight_col="n").dtypes)["c"]
        == dict(cms_counters(df, "h").dtypes)["c"]
    )


def test_prefix_join_exact_recall(spark):
    """The prefix-filter join finds EXACTLY the pairs the unblocked
    all-pairs Jaccard finds at the same threshold — the zero-false-
    negative guarantee LSH banding does not give."""
    from streaming_parquet_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    words = base.split()
    rows = []
    for i in range(30):
        w = list(words)
        # progressively mutate: i substitutions
        for k in range(i % 7):
            w[(k * 3) % len(w)] = f"mut{i}_{k}"
        rows.append((f"d{i}", " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    pf = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_jaccard_pairs(
            df, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert pf == exact and len(exact) > 10


def test_merge_rollup_identity_and_corrections(spark):
    """merge(rollup(base), rollup(delta)) == rollup(base ∪ delta);
    negated measures retract (the late-correction path); mismatched
    schemas are rejected."""
    import datetime

    import pytest as _pytest

    from streaming_parquet_spark.operators.timeseries import (
        hypertable_rollup,
        merge_rollup,
    )

    rows = [
        (
            datetime.datetime(2024, 1, 1 + h % 3, h % 24, 5),
            f"t{h % 3}", h, 100 + h,
        )
        for h in range(200)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, event_id long, cents long"
    )
    def roll(d):
        return hypertable_rollup(
            d, ts_col="ts", keys=["event_type"], sum_col="cents",
            granularities=("hour", "day"),
        )
    base = df.filter("event_id % 5 != 0")
    delta = df.filter("event_id % 5 = 0")
    merged = {
        tuple(r[:3]): (r["n"], r["total"])
        for r in merge_rollup(roll(base), roll(delta)).collect()
    }
    full = {
        tuple(r[:3]): (r["n"], r["total"]) for r in roll(df).collect()
    }
    assert merged == full
    # retraction: merging the NEGATED delta back removes it exactly
    neg = roll(delta).withColumn("n", -F.col("n")).withColumn(
        "total", -F.col("total")
    )
    reverted = {
        tuple(r[:3]): (r["n"], r["total"])
        for r in merge_rollup(merge_rollup(roll(base), roll(delta)), neg)
        .filter("n != 0")
        .collect()
    }
    assert reverted == {
        tuple(r[:3]): (r["n"], r["total"]) for r in roll(base).collect()
    }
    with _pytest.raises(ValueError, match="schemas differ"):
        merge_rollup(roll(base), roll(delta).drop("total"))


def test_chi2_terms_single_class_degenerates_to_empty(spark):
    """A class containing every document has (b+d)=0 — chi2 undefined;
    the class is dropped on both sides rather than emitting NULL/NaN
    (which sort oppositely under the DESC ranking window)."""
    from streaming_parquet_spark.operators.text import chi2_terms

    rows = [(f"d{i}", "only", "alpha beta gamma") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    assert chi2_terms(df, class_col="source", min_df=2).count() == 0


def test_round_to_nan_passthrough(spark):
    """NaN passes through round_to unchanged on both engines (Spark's
    bare floor would swallow it to 0 via the bigint conversion)."""
    import math

    import duckdb

    from streaming_parquet_spark.functions.portable import (
        round_to_col,
        round_to_expr,
    )

    sdf = spark.createDataFrame([(float("nan"),), (1.2345,)], "v double")
    got = [
        (r[0], r[1])
        for r in sdf.select(
            round_to_col("v", 2),
            F.expr(round_to_expr("spark", "v", 2)),
        ).collect()
    ]
    assert math.isnan(got[0][0]) and math.isnan(got[0][1])
    assert got[1] == (1.23, 1.23)
    d = duckdb.connect().execute(
        f"SELECT {round_to_expr('duckdb', 'v', 2)} FROM "
        "(SELECT 'nan'::DOUBLE AS v)"
    ).fetchone()[0]
    assert math.isnan(d)


def test_domain_similarity_bounds_and_identity(spark):
    """Identical domains -> cosine 1.0; orthogonal vocabularies ->
    no pair row (zero shared terms never reaches the join); partially
    overlapping domains land strictly between."""
    from streaming_parquet_spark.operators.text import domain_similarity

    rows = (
        [(f"a{i}", "x", "alpha beta gamma delta") for i in range(5)]
        + [(f"b{i}", "y", "alpha beta gamma delta") for i in range(5)]
        + [(f"c{i}", "z", "alpha beta omega omega") for i in range(5)]
        + [(f"d{i}", "w", "zeta eta theta iota") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {
        (r["cls_a"], r["cls_b"]): r["cosine"]
        for r in domain_similarity(df, class_col="source").collect()
    }
    assert out[("x", "y")] == 1.0
    assert 0.0 < out[("x", "z")] < 1.0
    assert ("w", "x") not in out and ("x", "w") not in out  # disjoint
    assert all(0.0 < v <= 1.0 for v in out.values())


def test_chi2_terms_picks_class_markers(spark):
    """A term concentrated in one class tops that class's ranking; a
    term present in EVERY document is excluded (chi2 undefined); ranks
    are dense from 1."""
    from streaming_parquet_spark.operators.text import chi2_terms

    rows = []
    for i in range(40):
        rows.append((f"a{i}", "web", "common alpha filler " + "alpha " * 3))
    for i in range(40):
        rows.append((f"b{i}", "code", "common beta filler " + "beta " * 3))
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = chi2_terms(df, class_col="source", k=3, min_df=5).collect()
    top = {r["source"]: r["term"] for r in out if r["rank"] == 1}
    assert top["web"] == "alpha" and top["code"] == "beta"
    terms = {r["term"] for r in out}
    assert "common" not in terms and "filler" not in terms  # in all docs
    for src in ("web", "code"):
        ranks = sorted(r["rank"] for r in out if r["source"] == src)
        assert ranks == list(range(1, len(ranks) + 1))
    # the marker term's contingency is exact
    [r] = [x for x in out if x["term"] == "alpha" and x["source"] == "web"]
    assert (r["df_in"], r["df_out"]) == (40, 0)
    assert r["chi2"] == 80.0  # full separation: chi2 == N


def test_histogram_quantiles_accuracy_and_merge(spark):
    """Sketch estimates land within one bin width of the exact
    percentile, ranks cover each percent exactly once per group, and
    bin counts built from disjoint halves on a SHARED grid merge by
    addition to the whole-data histogram (the mergeability that makes
    the sketch shuffle-light at scale)."""
    from streaming_parquet_spark.operators.sketch import histogram_quantiles

    n, bins = 4000, 64
    df = spark.range(n).select(
        "id",
        (F.col("id") % 2).cast("string").alias("g"),
        # deterministic non-uniform values in [0, ~125k) "cents"
        ((F.col("id") * 31) % 1000 * ((F.col("id") % 5) + 1) * 25)
        .cast("bigint")
        .alias("v"),
    )
    out = histogram_quantiles(df, ["g"], "v", [25, 50, 75, 95], bins=bins)
    rows = out.collect()
    assert sorted((r["g"], r["pct"]) for r in rows) == [
        (g, p) for g in ("0", "1") for p in (25, 50, 75, 95)
    ]
    pdf = df.toPandas()
    for r in rows:
        vals = sorted(pdf[pdf.g == r["g"]].v)
        lo, hi = vals[0], vals[-1]
        width = (hi - lo + 1) / bins / 100  # est is scaled /100
        rank = -(-r["pct"] * len(vals) // 100)  # ceil
        exact = vals[rank - 1] / 100
        assert abs(r["est"] - exact) <= width + 1e-9, (
            r, exact, width,
        )

    # mergeability: per-(g, bin) counts from disjoint halves, computed
    # against the SHARED full-data bounds, sum to the full histogram
    bounds = df.groupBy("g").agg(
        F.min("v").alias("__mn"), F.max("v").alias("__mx")
    )
    def bin_counts(part):
        return (
            part.join(F.broadcast(bounds), "g")
            .select(
                "g",
                F.expr(
                    f"CAST(((v - __mn) * {bins}) DIV (__mx - __mn + 1)"
                    " AS INT)"
                ).alias("bin"),
            )
            .groupBy("g", "bin")
            .count()
        )
    whole = {(r["g"], r["bin"]): r["count"]
             for r in bin_counts(df).collect()}
    merged: dict = {}
    for half in (df.filter("id % 3 = 0"), df.filter("id % 3 != 0")):
        for r in bin_counts(half.select("g", "v")).collect():
            k = (r["g"], r["bin"])
            merged[k] = merged.get(k, 0) + r["count"]
    assert merged == whole


def test_snapshot_diff_change_types(spark):
    """All four change labels, null-safe payload compare."""
    from streaming_parquet_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40)], "k long, v long"
    )
    new = spark.createDataFrame(
        [(1, 10), (2, 25), (3, None), (5, 50)], "k long, v long"
    )
    got = {
        r["k"]: (r["change"], r["old_v"], r["new_v"])
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got[1] == ("unchanged", 10, 10)
    assert got[2] == ("update", 20, 25)
    assert got[3] == ("unchanged", None, None)   # null == null (null-safe)
    assert got[4] == ("delete", 40, None)
    assert got[5] == ("insert", None, 50)


def test_weighted_sample_bias_and_determinism(spark):
    """Heavier rows are sampled more often; the sample is identical
    across partitionings."""
    from streaming_parquet_spark.operators.pipeline import weighted_sample

    rows = [(i, 1000 if i % 2 == 0 else 10) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [
        r["doc_id"]
        for r in weighted_sample(df, k=200, weight_col="w").collect()
    ]
    heavy = sum(1 for i in got if i % 2 == 0)
    assert heavy > 150  # heavy rows (100x weight) dominate the sample
    got17 = [
        r["doc_id"]
        for r in weighted_sample(
            df.repartition(17), k=200, weight_col="w"
        ).collect()
    ]
    assert sorted(got) == sorted(got17)


def test_profile_columns_counts_nulls(spark):
    from streaming_parquet_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, s string"
    )
    got = {r["col_name"]: r for r in profile_columns(df, ["id", "s"]).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 0
    assert got["s"]["n_null"] == 2
    assert (got["id"]["min_s"], got["id"]["max_s"]) == ("1", "4")
    assert (got["s"]["min_s"], got["s"]["max_s"]) == ("a", "c")
    assert got["s"]["distinct_est"] is not None


def test_fuzzy_pairs_blocked(spark):
    """Edit-distance pairs respect the block (cross-block near-misses
    are not candidates) and the threshold."""
    from streaming_parquet_spark.operators.linkage import fuzzy_pairs

    rows = [
        (1, "alpha-001"), (2, "alpha-002"), (3, "alpha-012"),
        (4, "betaa-001"),  # 1 sub from alpha-001 ... but different block
        (5, "alpha-xyz"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(
            df, "id", "name", "substr(name, 1, 5)", max_dist=2
        ).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(2, 3)] == 1
    assert got[(1, 3)] == 2
    assert all(4 not in pair for pair in got)  # blocked out
    assert all(5 not in pair for pair in got)  # dist > 2


def test_stream_upsert_sink_resumes(spark, sf_dir):
    """Second invocation in the same process resumes the checkpointed
    stream (no new files -> no new table version) and returns the
    identical merged table."""
    import streaming_parquet_spark.queries_tpch  # noqa: F401
    from streaming_parquet_spark.queries import QUERIES

    first = sorted(
        map(repr, QUERIES["stream_upsert_sink"](spark, sf_dir).collect())
    )
    second = sorted(
        map(repr, QUERIES["stream_upsert_sink"](spark, sf_dir).collect())
    )
    assert first == second and len(first) == 5


def test_pagerank_step_conservation_and_sink(spark):
    """On a cycle graph ranks stay uniform; a sink-pointing star
    concentrates mass on the hub; totals never exceed SCALE."""
    from streaming_parquet_spark.operators.graph import (
        SCALE,
        pagerank_step,
        uniform_ranks,
    )

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 4, 1) for i in range(4)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "n long")
    r = uniform_ranks(nodes, "n", 4)
    for _ in range(3):
        r = pagerank_step(cycle, r, n_nodes=4)
    vals = [x["rank"] for x in r.collect()]
    assert len(set(vals)) == 1                       # symmetric fixpoint
    assert abs(vals[0] - SCALE // 4) <= 3            # floor drift only

    star = spark.createDataFrame(
        [(i, 0, 1) for i in range(1, 4)], "src long, dst long, w long"
    )
    r2 = pagerank_step(star, uniform_ranks(nodes, "n", 4), n_nodes=4)
    got = {x["node"]: x["rank"] for x in r2.collect()}
    assert got[0] > got[1] == got[2] == got[3]
    assert sum(got.values()) <= SCALE


def test_assign_contiguous_ids_matches_global_order(spark):
    """Ids are gapless 0..n-1 and equal the global sort order, across
    partitionings."""
    import random

    from streaming_parquet_spark.operators.layout import (
        assign_contiguous_ids,
    )

    rows = [(i, f"s{i % 7}") for i in range(500)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "id long, s string").repartition(13)
    got = {
        (r["s"], r["id"]): r["row_id"]
        for r in assign_contiguous_ids(df, ["s", "id"]).collect()
    }
    expected = {
        key: i for i, key in enumerate(sorted(got))
    }
    assert got == expected


def test_running_total_matches_global_window(spark):
    """Two-phase prefix sum equals the single-partition global window
    on any partitioning."""
    import random

    from streaming_parquet_spark.operators.scan import running_total

    rows = [(i, (i * 37) % 100 - 50) for i in range(1000)]
    random.Random(5).shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = {
        r["k"]: r["running"]
        for r in running_total(df, ["k"], "v").collect()
    }
    acc, expect = 0, {}
    for k, v in sorted(rows):
        acc += v
        expect[k] = acc
    assert got == expect


def test_sweepline_concurrency_handcrafted(spark):
    """Half-open intervals: an interval ending exactly when another
    starts does not overlap it."""
    import datetime as dt

    from streaming_parquet_spark.operators.scan import (
        sweepline_concurrency,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (t(0), t(10)),   # A [0,10)
        (t(5), t(15)),   # B [5,15)  -> overlap with A during [5,10)
        (t(10), t(20)),  # C [10,20) -> starts as A ends: no overlap w/ A
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {r["t"]: r["concurrent"] for r in sweepline_concurrency(df, "s", "e").collect()}
    assert got[t(0)] == 1
    assert got[t(5)] == 2      # A + B
    assert got[t(10)] == 2     # A ends, C starts -> B + C
    assert got[t(15)] == 1     # C only
    assert got[t(20)] == 0


def test_bucketed_orphan_cleanup_guards(spark, tmp_path):
    """write_bucketed's orphan cleanup must (a) derive db-qualified
    managed paths with the Hive layout (wh/db.db/tbl, not wh/db.tbl)
    and (b) never delete a same-named warehouse directory whose
    contents are not Spark table output (ADVICE r5)."""
    import os

    from streaming_parquet_spark.operators.layout import (
        _looks_like_spark_table_dir,
        _managed_location,
        write_bucketed,
    )

    wh = str(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).removeprefix("file:")
    assert _managed_location(spark, "mydb.tbl") == os.path.join(
        wh, "mydb.db", "tbl"
    )
    assert _managed_location(spark, "default.tbl") == os.path.join(wh, "tbl")
    assert _managed_location(spark, "tbl") == os.path.join(wh, "tbl")

    # a user directory that merely shares the table's name is not
    # "Spark table output" and must survive an overwrite
    victim = os.path.join(wh, "bucket_guard_probe")
    os.makedirs(victim, exist_ok=True)
    keep = os.path.join(victim, "precious.txt")
    with open(keep, "w") as f:
        f.write("not a table")
    assert not _looks_like_spark_table_dir(victim)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    # Either outcome is acceptable — the write lands beside the foreign
    # file, or Spark refuses the non-empty location — but the foreign
    # file itself must never be deleted.
    try:
        write_bucketed(df, "bucket_guard_probe", "k", buckets=2)
    except Exception:
        pass
    finally:
        spark.sql("DROP TABLE IF EXISTS bucket_guard_probe")
    assert os.path.exists(keep), "unrelated same-named dir was deleted"
    os.remove(keep)
    if os.path.isdir(victim) and not os.listdir(victim):
        os.rmdir(victim)


def test_zorder_repartition_narrows_file_stats(spark, tmp_path):
    """The write-layout claim, tested at the file level: after
    zorder_repartition, each parquet file's min/max footer range is
    narrow in BOTH dimensions (so predicates on either column prune
    files); a hash-partitioned write has full-range files."""
    import pyarrow.parquet as pq

    from streaming_parquet_spark.operators.layout import (
        zorder_repartition,
    )

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)],
        "x long, y long",
    )

    def file_spans(path):
        spans = []
        for f in path.glob("*.parquet"):
            md = pq.read_metadata(str(f))
            mins = {"x": 1 << 30, "y": 1 << 30}
            maxs = {"x": -1, "y": -1}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    mins[name] = min(mins[name], st.min)
                    maxs[name] = max(maxs[name], st.max)
            spans.append((maxs["x"] - mins["x"], maxs["y"] - mins["y"]))
        return spans

    zdir = tmp_path / "z"
    zorder_repartition(
        df, [F.col("x"), F.col("y")], bits=6, num_files=16
    ).write.parquet(str(zdir))
    hdir = tmp_path / "h"
    df.repartition(16).write.parquet(str(hdir))

    z_spans = file_spans(zdir)
    h_spans = file_spans(hdir)
    assert len(z_spans) >= 8
    # Every z-ordered file spans at most half the domain in each dim;
    # hash-partitioned files span (nearly) the full 0..63 domain.
    assert all(sx <= 32 and sy <= 32 for sx, sy in z_spans), z_spans
    assert all(sx > 48 and sy > 48 for sx, sy in h_spans), h_spans


def test_weighted_sample_plan_is_take_ordered(spark):
    """Top-k compiles to TakeOrderedAndProject, not a global sort."""
    from streaming_parquet_spark.operators.pipeline import weighted_sample

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    plan = (
        weighted_sample(df, k=50, weight_col="w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort [priority" not in plan


def test_compact_files_preserves_rows_and_reduces_files(spark, tmp_path):
    from streaming_parquet_spark.operators.maintenance import (
        compact_files,
    )

    path = str(tmp_path / "frag")
    spark.range(20000).selectExpr(
        "id", "id * 2 AS v"
    ).repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    before_sum = before.selectExpr("sum(v)").first()[0]

    res = compact_files(spark, path, target_mb=128)
    assert res.files_before == 40
    assert res.files_after == 1       # tiny data -> one target file
    assert res.rows == 20000
    after = spark.read.parquet(path)
    assert after.count() == 20000
    assert after.selectExpr("sum(v)").first()[0] == before_sum

    # idempotent: already compact -> no rewrite
    res2 = compact_files(spark, path, target_mb=128)
    assert res2.files_before == res2.files_after == 1


def test_cms_join_size_estimate(spark):
    """Sketch-product join-size estimate never undercounts the true
    join cardinality and is close when collisions are rare."""
    from streaming_parquet_spark.functions.portable import hex_to_i32
    from streaming_parquet_spark.operators.sketch import (
        cms_counters,
        cms_join_size,
    )

    # A: keys 0..99 each 3x; B: keys 50..149 each 2x
    a = spark.createDataFrame(
        [(k,) for k in range(100) for _ in range(3)], "k long"
    ).select(F.expr(hex_to_i32("md5(CAST(k AS STRING))")).alias("h"))
    b = spark.createDataFrame(
        [(k,) for k in range(50, 150) for _ in range(2)], "k long"
    ).select(F.expr(hex_to_i32("md5(CAST(k AS STRING))")).alias("h"))
    true_size = 50 * 3 * 2  # overlapping keys 50..99

    est = cms_join_size(
        cms_counters(a, "h"), cms_counters(b, "h")
    ).first()["join_size_est"]
    assert est >= true_size            # one-sided (collisions add)
    assert est <= true_size * 1.5      # tight at this density

    # width must scale with |A|*|B| (error ~ |A|*|B|/w): the fixture
    # orders x lineitem join resolves to ~+25% at w=65536 but is
    # noise-dominated at the probe default w=1024
    o = spark.createDataFrame(
        [(k,) for k in range(5000)], "k long"
    ).select(F.expr(hex_to_i32("md5(CAST(k AS STRING))")).alias("h"))
    l4 = spark.createDataFrame(
        [(k,) for k in range(5000) for _ in range(4)], "k long"
    ).select(F.expr(hex_to_i32("md5(CAST(k AS STRING))")).alias("h"))
    est_w = cms_join_size(
        cms_counters(o, "h", w=65536), cms_counters(l4, "h", w=65536)
    ).first()["join_size_est"]
    assert 20000 <= est_w <= 20000 * 1.3


def test_ann_recall_pq_floor(spark, sf_dir):
    """Quality floor for the IVF x PQ tier (8-byte codes): lower than
    SQ8's (coarser quantization), but bounded — per-query recall@10
    >= 0.3, mean >= 0.5 on the fixtures. embed_ann_recall (recall_pq
    column) pins the exact values via the DuckDB oracle; this is the
    readable bound."""
    import streaming_parquet_spark.queries_ext  # noqa: F401  (registers)
    from streaming_parquet_spark.queries import QUERIES

    rows = QUERIES["embed_ann_recall"](spark, sf_dir).collect()
    recalls = [r["recall_pq"] for r in rows]
    assert len(recalls) == 5
    assert min(recalls) >= 0.3, recalls
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_fuzzy_pairs_max_block_cap(spark):
    """Oversized blocks are dropped wholesale (bounded worst task);
    well-sized blocks are unaffected."""
    from streaming_parquet_spark.operators.linkage import fuzzy_pairs

    rows = [(i, f"aaaa-{i:03d}") for i in range(50)]          # one 50-block
    rows += [(100 + i, f"bbbb-{i:03d}") for i in range(5)]    # one 5-block
    df = spark.createDataFrame(rows, "id long, name string")
    capped = fuzzy_pairs(
        df, "id", "name", "substr(name, 1, 4)", max_dist=2, max_block=10
    ).collect()
    assert capped                                  # bbbb pairs survive
    assert all(r["text_a"].startswith("bbbb") for r in capped)
    uncapped = fuzzy_pairs(
        df, "id", "name", "substr(name, 1, 4)", max_dist=2
    ).collect()
    assert any(r["text_a"].startswith("aaaa") for r in uncapped)


def test_hypertable_rejects_week_to_month(spark):
    import pytest as _pytest

    from streaming_parquet_spark.operators.timeseries import (
        hypertable_rollup,
    )

    df = spark.createDataFrame([], "ts timestamp, cents long")
    with _pytest.raises(ValueError, match="week -> month"):
        hypertable_rollup(
            df, sum_col="cents", granularities=("day", "week", "month")
        )


def test_cms_probe_absent_candidate_is_zero(spark):
    """A candidate absent from the sketched corpus gets cms_est = 0
    (empty bucket = exact zero evidence), not silently dropped."""
    from streaming_parquet_spark.functions.portable import hex_to_i32
    from streaming_parquet_spark.operators.sketch import (
        cms_counters,
        cms_probe,
    )

    corpus = spark.createDataFrame(
        [("a",), ("b",)], "word string"
    ).select("word", F.expr(hex_to_i32("md5(word)")).alias("h"))
    counters = cms_counters(corpus, "h")
    cand = spark.createDataFrame(
        [("zzz-not-there", 0)], "word string, n long"
    ).select("word", "n", F.expr(hex_to_i32("md5(word)")).alias("h"))
    rows = cms_probe(counters, cand, "h").collect()
    assert len(rows) == 1
    assert rows[0]["cms_est"] == 0


def test_compact_files_csv_headers(spark, tmp_path):
    from streaming_parquet_spark.operators.maintenance import (
        compact_files,
    )

    path = str(tmp_path / "csvfrag")
    spark.createDataFrame(
        [(i, f"n{i}") for i in range(100)], "id long, name string"
    ).repartition(10).write.option("header", "true").csv(path)
    res = compact_files(spark, path, target_mb=128, fmt="csv")
    assert res.files_before == 10 and res.files_after == 1
    assert res.rows == 100                      # headers NOT counted
    got = spark.read.option("header", "true").csv(path)
    assert got.count() == 100
    assert sorted(got.columns) == ["id", "name"]


def test_normalize_text_strips_controls_and_collapses(spark):
    from streaming_parquet_spark.operators.text import normalize_text

    rows = [
        (1, "a\x00b\tc   d "),
        (2, "  clean text  "),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_norm"], r["n_removed"])
           for r in normalize_text(df).collect()}
    assert got[1] == ("a b c d", 3)
    assert got[2] == ("clean text", 4)
    assert got[3] == ("", 0)


def test_novelty_scores_separates_unique_from_copied(spark):
    from streaming_parquet_spark.operators.text import novelty_scores

    boiler = "standard footer text repeated across every document here"
    rows = [
        (1, boiler),
        (2, boiler),
        (3, "completely original musings about rare topics nobody covers"),
        (4, "xy"),  # < n words -> no shingles -> no output row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["novelty"] for r in novelty_scores(df).collect()}
    assert got[1] == 0.0 and got[2] == 0.0     # fully shared shingles
    assert got[3] == 1.0                       # fully unique
    assert 4 not in got


def test_global_shuffle_deterministic_and_seeded(spark):
    from streaming_parquet_spark.operators.pipeline import global_shuffle

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {r["id"]: (r["sort_key"], r["shard"])
         for r in global_shuffle(df, seed=7).collect()}
    b = {r["id"]: (r["sort_key"], r["shard"])
         for r in global_shuffle(df, seed=7).collect()}
    c = {r["id"]: (r["sort_key"], r["shard"])
         for r in global_shuffle(df, seed=8).collect()}
    assert a == b                               # reproducible
    assert a != c                               # seed changes permutation
    for k, (key, shard) in a.items():
        assert shard == key % 64                # shard derives from key
    # the order is actually shuffled: ids sorted by key differ from id order
    order = [k for k, _ in sorted(a.items(), key=lambda kv: (kv[1][0], kv[0]))]
    assert order != sorted(order)


def test_global_shuffle_key_is_full_width(spark):
    """Sort keys must NOT collapse past 1M docs: the single-stage
    bucket hash reduces ids mod 1000003, so ids 1000003 apart would
    share a key and tie back to ascending-id order — stride structure,
    not a permutation (ADVICE r5). The wide key (two coprime prime
    stages) keeps such ids distinct: spot-check the exact collision
    pattern plus global uniqueness over a boundary-straddling range."""
    from pyspark.sql import functions as F

    from streaming_parquet_spark.operators.pipeline import global_shuffle

    ids = list(range(0, 256)) + [i + 1000003 for i in range(0, 256)] + [
        i + 2 * 1000003 for i in range(0, 256)
    ]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = global_shuffle(df, seed=7)
    n_keys = out.select(F.countDistinct("sort_key")).collect()[0][0]
    assert n_keys == len(ids), (
        f"sort_key collapsed: {n_keys} distinct of {len(ids)} ids"
    )


def test_lsh_recall_bounds_and_floor(spark, sf_dir):
    """The gate's recall figure is a genuine probability: hits are a
    subset of truth, and on the fixture the 16x8 banding must clear the
    theoretical ~0.90-at-j=0.5 curve's practical floor."""
    import streaming_parquet_spark.queries_ext  # noqa: F401  (registers)
    from streaming_parquet_spark.queries import QUERIES

    row = QUERIES["dedup_lsh_recall"](spark, sf_dir).collect()[0]
    assert 0 <= row["n_hit"] <= row["n_true"]
    assert row["n_true"] > 0
    assert row["recall"] >= 0.6


def test_cluster_size_histogram_conserves_documents(spark):
    from streaming_parquet_spark.operators.dedup import cluster_size_histogram

    rows = [(1, "same text"), (2, "same text"), (3, "Same Text"),
            (4, "unique one"), (5, "unique two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["n_copies"]: (r["n_clusters"], r["n_docs"])
           for r in cluster_size_histogram(df).collect()}
    # 'same text' x2 + case-folded 'Same Text' -> one cluster of 3
    assert got[3] == (1, 3)
    assert got[1] == (2, 2)
    assert sum(d for _, d in got.values()) == 5   # every doc accounted


def test_quality_deciles_rank_within_group(spark):
    from streaming_parquet_spark.operators.text import quality_deciles

    rows = []
    for g in ("a", "b"):
        for i in range(20):
            # Vary quality: longer, punctuation-free texts score higher
            words = ["word"] * (2 + i)
            rows.append((len(rows), " ".join(words), g))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = quality_deciles(df).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append((r["quality_score"], r["decile"]))
    for grp, vals in by_grp.items():
        assert len(vals) == 20
        assert set(d for _, d in vals) == set(range(1, 11))  # 20/10 = 2 each
        for (s1, d1) in vals:
            for (s2, d2) in vals:
                if s1 < s2:
                    assert d1 <= d2, grp  # deciles monotone in score


@pytest.mark.parametrize("seed", [7, 19, 133])
def test_prefix_join_brute_force_fuzz(spark, seed):
    """Multi-seed randomized corpora: the prefix-filter join equals a
    brute-force Jaccard >= 2/3 computation exactly (the raw integer
    predicate, rounding display-only) — the zero-false-negative claim
    under adversarial overlap structure."""
    import itertools
    import random

    from streaming_parquet_spark.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    base_words = [rng.choice(vocab) for _ in range(24)]
    rows = []
    for i in range(40):
        w = list(base_words)
        for _ in range(rng.randint(0, 10)):      # random mutations
            w[rng.randrange(len(w))] = rng.choice(vocab)
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           prefix_jaccard_pairs(df, threshold_num=2, threshold_den=3).collect()}

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if sets[a] and sets[b]
        and 3 * len(sets[a] & sets[b]) >= 2 * len(sets[a] | sets[b])
    }
    assert got == want and want  # non-trivial fixture


@pytest.mark.parametrize("seed", [11, 97])
def test_containment_prefix_fuzz(spark, seed):
    """Randomized doc-inside-doc corpora: prefix-filter containment
    equals brute force including the rounded threshold band and the
    semantic size prune."""
    import itertools
    import math
    import random

    from streaming_parquet_spark.operators.dedup import containment_pairs

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(25)]
    rows = []
    for i in range(35):
        k = rng.randint(4, 20)
        words = [rng.choice(vocab) for _ in range(k)]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.4:   # plant a (near-)containing superdoc
            extra = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
            rows.append((1000 + i, " ".join(words + extra)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in containment_pairs(df, threshold=0.8, n=2).collect()}

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 2]) for i in range(len(w) - 1)}

    sets = {i: shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        sa, sb = sets[a], sets[b]
        if not sa or len(sb) < 0.8 * len(sa):
            continue
        c = math.floor(len(sa & sb) / len(sa) * 1e4 + 0.5) / 1e4
        if c >= 0.8:
            want[(a, b)] = c
    assert got == want and want


def test_cooccurrence_lift_ranks_planted_pair(spark):
    """A planted always-together pair must outrank independent terms,
    and max_df must drop stop-terms from the pair space."""
    from streaming_parquet_spark.operators.text import cooccurrence_topk

    rows = []
    for i in range(30):
        words = ["common"]
        if i < 10:
            words += ["anchor", "satellite"]        # always co-occur
        if i % 2 == 0:
            words += ["evens"]
        if i % 3 == 0:
            words += ["thirds"]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cooccurrence_topk(df, k=10, min_count=3).collect()
    top = out[0]
    assert (top["wa"], top["wb"]) == ("anchor", "satellite")
    assert top["lift"] == 3.0                        # 10*30/(10*10)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    pruned = cooccurrence_topk(df, k=10, min_count=3, max_df=15).collect()
    assert all("common" not in (r["wa"], r["wb"]) for r in pruned)


def test_retention_cohorts_known_matrix(spark):
    import datetime

    from streaming_parquet_spark.operators.timeseries import retention_cohorts

    def ts(day):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)

    rows = [
        ("u1", ts(0)), ("u1", ts(7)), ("u1", ts(15)),   # cohort c, w0/w1/w2
        ("u2", ts(1)), ("u2", ts(9)),                    # same cohort, w0/w1
        ("u3", ts(8)),                                   # next cohort, w0
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {(r["cohort"], r["week_offset"]): r["n_users"]
           for r in retention_cohorts(df).collect()}
    cohorts = sorted({c for c, _ in got})
    c0, c1 = cohorts[0], cohorts[-1]
    assert got[(c0, 0)] == 2 and got[(c0, 1)] == 2 and got[(c0, 2)] == 1
    assert got[(c1, 0)] == 1
    assert sum(v for (c, o), v in got.items() if o == 0) == 3


def test_dataset_card_statistics(spark):
    from streaming_parquet_spark.operators.profile import dataset_card

    rows = [
        (1, "one two three four five six", "en", "a"),
        (2, "one two three four five six", "en", "b"),   # exact dup
        (3, "sieben acht neun zehn elf zwolf", "de", "a"),
        (4, "", "en", "a"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    card = dataset_card(df).collect()[0]
    assert card["n_docs"] == 4
    assert card["n_langs"] == 2 and card["n_sources"] == 2
    assert card["n_unique_docs"] == 3
    assert card["dup_rate"] == 0.25
    assert 0.0 <= card["mean_quality"] <= 1.0


def test_rfm_scores_ordering_semantics(spark):
    import datetime

    from streaming_parquet_spark.operators.timeseries import rfm_scores

    def ts(day):
        return datetime.datetime(2024, 3, 1) + datetime.timedelta(days=day)

    rows = []
    # whale: recent, frequent, big spend
    for d in range(20, 30):
        rows.append(("whale", ts(d), 50.0))
    # lapsed: old, one small purchase
    rows.append(("lapsed", ts(0), 1.0))
    # middling
    for d in (5, 15, 25):
        rows.append(("mid", ts(d), 5.0))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    got = {r["user"]: r for r in rfm_scores(df).collect()}
    w, l, m = got["whale"], got["lapsed"], got["mid"]
    assert w["recency_days"] == 0 and l["recency_days"] == 29
    assert w["frequency"] == 10 and w["monetary_cents"] == 50000
    # higher score = better on every axis
    assert w["r_score"] > l["r_score"]
    assert w["f_score"] > l["f_score"]
    assert w["m_score"] > l["m_score"]
    assert l["m_score"] <= m["m_score"] <= w["m_score"]


def test_interleave_domains_round_robin(spark):
    from streaming_parquet_spark.operators.pipeline import interleave_domains

    rows = [(i, "abc"[i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sorted(
        interleave_domains(df).collect(), key=lambda r: r["interleave_key"]
    )
    # keys are unique and the stream rotates domains a,b,c,a,b,c...
    keys = [r["interleave_key"] for r in out]
    assert len(set(keys)) == 30
    assert [r["grp"] for r in out[:6]] == ["a", "b", "c", "a", "b", "c"]
    # no two consecutive entries share a domain
    assert all(x["grp"] != y["grp"] for x, y in zip(out, out[1:]))


def test_interleave_positions_exact_across_shards(spark):
    """The sharded-rank path (range partition + local rank + offset)
    must produce EXACTLY pos = #same-domain rows with smaller id, even
    when one domain spans many shards (few-huge-domains is the shape
    the old one-window-per-domain implementation serialized on). Two
    domains, 400 rows each, interleaved ids, 8+ shards."""
    from streaming_parquet_spark.operators.pipeline import interleave_domains

    rows = [(i, "ab"[i % 2]) for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["id"]: r["interleave_key"]
           for r in interleave_domains(df).collect()}
    # domain 'a' = even ids (gi=0), 'b' = odd ids (gi=1); pos within
    # domain = id//2 for both -> key = (id//2)*2 + (id%2) == id
    assert got == {i: i for i in range(800)}


def test_fit_ivf_centroids_recall_floor(emb):
    """The sampled-KMeans IVF fit (fit_ivf_centroids) must produce
    centroids whose tiered recall@10 is at least the lowest-id
    stand-in's recall on the same fixture — the documented bar for the
    trained path (VERDICT r6 item 3). KMeans is not bit-portable, so
    this pytest floor IS the gate (no DuckDB oracle).

    The query set is DISJOINT from the stand-in centroid id range
    (vec_id 200-209 vs < 8): the oracle gates reuse the lowest ids as
    both queries and centroids, where probing the cell centered
    exactly on the query trivially captures its neighborhood (recall
    ~0.9 that says nothing about centroid quality). On disjoint
    queries over this unstructured fixture the stand-in drops to
    ~0.43 and the trained fit reaches ~0.55 at the same probe
    budget."""
    from streaming_parquet_spark.operators.similarity import (
        cosine_topk,
        fit_ivf_centroids,
        ivf_sq8_topk,
    )

    q = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 210))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10, dims=64).collect()
    }
    cents = fit_ivf_centroids(emb, n_centroids=8, seed=7)
    assert cents.count() == 8
    row = cents.first()
    assert len(row["embedding"]) == 64

    def recall(centroids=None):
        rows = ivf_sq8_topk(
            emb, q, k=10, n_centroids=8, n_probe=2, rerank=4, dims=64,
            centroids=centroids,
        ).collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return len(exact & got) / len(exact)

    standin = recall()
    trained = recall(centroids=cents)
    assert trained >= standin, (
        f"trained-centroid recall {trained} fell below the lowest-id "
        f"stand-in's {standin}"
    )
    assert trained >= 0.5, trained


def test_fit_ivf_centroids_deterministic(emb):
    """The fit is reproducible: same corpus + seed -> identical
    centroids (KMeans is seeded and the hash sample is a pure function
    of the ids), and sample_pct selects by the portable id hash —
    membership independent of partition layout (df.sample is not)."""
    from streaming_parquet_spark.functions.portable import (
        hash_bucket_expr,
    )
    from streaming_parquet_spark.operators.similarity import (
        fit_ivf_centroids,
    )

    a = fit_ivf_centroids(emb, n_centroids=4, sample_pct=50, seed=3)
    b = fit_ivf_centroids(emb, n_centroids=4, sample_pct=50, seed=3)
    ca = sorted(tuple(r["embedding"]) for r in a.collect())
    cb = sorted(tuple(r["embedding"]) for r in b.collect())
    assert len(ca) == 4
    assert ca == cb, "same corpus + seed must reproduce the centroids"
    # sample membership is layout-independent: the hash filter picks
    # the same ids whatever the partitioning
    bucket = hash_bucket_expr("spark", "vec_id", 100)
    ids1 = {r["vec_id"] for r in emb.filter(F.expr(bucket) < 50)
            .select("vec_id").collect()}
    ids2 = {r["vec_id"] for r in emb.repartition(7)
            .filter(F.expr(bucket) < 50).select("vec_id").collect()}
    assert ids1 == ids2 and 0 < len(ids1) < emb.count()


def test_posting_list_table_roundtrip(emb):
    """write_posting_lists/read_posting_lists: the ingest-time
    cluster-partitioned layout round-trips and feeds the ANN tiers via
    assigned= with results identical to the pipelined assignment; the
    on-disk layout is one partition directory per cluster (the probe's
    pruning unit)."""
    import os

    from streaming_parquet_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_assign,
        ivf_sq8_topk,
        read_posting_lists,
        write_posting_lists,
    )

    spark = emb.sparkSession
    cents = fit_ivf_centroids(emb, n_centroids=8, seed=7)
    assigned = ivf_assign(emb, cents)
    table = "maw_posting_lists_test"
    write_posting_lists(assigned, table)
    try:
        # one directory per cluster — static/dynamic partition pruning
        # reads n_probe of them at query time
        loc = next(
            r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
            if r["col_name"] == "Location"
        )
        path = loc[len("file:"):] if loc.startswith("file:") else loc
        part_dirs = {
            d for d in os.listdir(path) if d.startswith("cluster=")
        }
        assert len(part_dirs) >= 2, part_dirs

        q = emb.filter(F.col("vec_id") < 5)
        from_table = ivf_sq8_topk(
            emb, q, k=10, dims=64, centroids=cents,
            assigned=read_posting_lists(spark, table),
        ).collect()
        pipelined = ivf_sq8_topk(
            emb, q, k=10, dims=64, centroids=cents,
        ).collect()
        assert sorted(map(tuple, from_table), key=str) == sorted(
            map(tuple, pipelined), key=str
        ), "table-backed and pipelined assignments diverged"
        assert len(from_table) == 50
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_dsir_weights_target_affinity(spark):
    """Docs written in the target model's vocabulary must outscore docs
    in a disjoint vocabulary (the sign of the log-likelihood ratio),
    and every weight must be reproducible under a different input
    partitioning (integer fixed-point sums are order-independent)."""
    from streaming_parquet_spark.operators.pipeline import dsir_weights

    rows = []
    # target-flavored corpus docs 0-4, off-target docs 5-9
    for i in range(5):
        rows.append((i, "alpha beta gamma alpha beta"))
        rows.append((5 + i, "zork quux blarg zork quux"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(8)],
        "doc_id long, text string",
    )
    w = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_weights(corpus, target, buckets=64).collect()
    }
    assert len(w) == 10
    assert min(w[i] for i in range(5)) > max(w[i] for i in range(5, 10))

    w2 = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_weights(
            corpus.repartition(7), target.repartition(3), buckets=64
        ).collect()
    }
    assert w == w2, "weights must be partitioning-invariant"


def test_dsir_weights_token_counts_and_smoothing(spark):
    """n_tokens is the exact whitespace token count, and a bucket seen
    only in the target still contributes through +1 smoothing rather
    than dropping the doc."""
    from streaming_parquet_spark.operators.pipeline import dsir_weights

    corpus = spark.createDataFrame(
        [(1, "a a b"), (2, "c")], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(9, "a b d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dsir_weights(corpus, target).collect()}
    assert out[1]["n_tokens"] == 3
    assert out[2]["n_tokens"] == 1
    # 'c' never occurs in the target: its smoothed ratio is below 1, so
    # the pure-'c' doc carries a negative log weight
    assert out[2]["dsir_weight"] < 0


def _cross_pairs(all_pairs, batch_ids):
    """Map (id_a, id_b, jaccard) self-join pairs to the incremental
    (new_id, corpus_id, jaccard) orientation, keeping only pairs with
    exactly one side in the batch."""
    out = set()
    for r in all_pairs:
        a_in, b_in = r["id_a"] in batch_ids, r["id_b"] in batch_ids
        if a_in != b_in:
            new_id = r["id_a"] if a_in else r["id_b"]
            corpus_id = r["id_b"] if a_in else r["id_a"]
            out.add((new_id, corpus_id, r["jaccard"]))
    return out


def test_incremental_lsh_pairs_matches_self_join(docs):
    """The persisted-index probe (write_lsh_index +
    incremental_lsh_pairs) must emit bit-identical cross pairs to the
    minhash_lsh_pairs self-join over corpus ∪ batch — uncapped AND
    under the hot-bucket cap (whose population is defined over the
    combined corpus ∪ batch, append-safe)."""
    from streaming_parquet_spark.operators.dedup import (
        incremental_lsh_pairs,
        write_lsh_index,
    )

    spark = docs.sparkSession
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert batch_ids and corpus.count() > 0
    table = "maw_lsh_index_test"
    write_lsh_index(corpus, table, num_hashes=16, bands=8)
    try:
        for cap in (None, 2):
            expected = _cross_pairs(
                minhash_lsh_pairs(
                    docs, num_hashes=16, bands=8, jaccard_threshold=0.2,
                    max_bucket_rows=cap,
                ).collect(),
                batch_ids,
            )
            got = {
                (r["new_id"], r["corpus_id"], r["jaccard"])
                for r in incremental_lsh_pairs(
                    batch, table, jaccard_threshold=0.2,
                    max_bucket_rows=cap,
                ).collect()
            }
            assert got == expected, f"cap={cap}"
        assert expected, "fixture produced no cross pairs at cap=2"
        # plan shape: the batch's band relation BROADCASTS into the
        # index scan — no cartesian anywhere, no shuffle of the index
        # bands on the candidate join
        plan = (
            incremental_lsh_pairs(batch, table, jaccard_threshold=0.2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_sets")
        spark.sql(f"DROP TABLE IF EXISTS {table}_bands")


def test_incremental_dedup_append_loop(docs):
    """The full ingest loop: probe → survivors → append survivors →
    a re-ingest of the same batch is fully recognized (every row pairs
    with its appended self at jaccard 1.0 → zero survivors), and an
    append under mismatched banding parameters raises."""
    import pytest as _pytest

    from streaming_parquet_spark.operators.dedup import (
        append_to_lsh_index,
        incremental_dedup,
        write_lsh_index,
    )

    spark = docs.sparkSession
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    table = "maw_lsh_loop_test"
    write_lsh_index(corpus, table, num_hashes=16, bands=8)
    try:
        survivors = incremental_dedup(batch, table, jaccard_threshold=0.2)
        n_batch, n_surv = batch.count(), survivors.count()
        assert 0 < n_surv <= n_batch
        assert survivors.columns == batch.columns
        append_to_lsh_index(survivors, table)
        # survivors are now IN the index: re-ingesting them finds each
        # row's own appended copy (jaccard 1.0) — nothing survives
        assert incremental_dedup(survivors, table).count() == 0
        with _pytest.raises(ValueError, match="parameters"):
            write_lsh_index(
                batch, table, num_hashes=8, bands=4, mode="append"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_sets")
        spark.sql(f"DROP TABLE IF EXISTS {table}_bands")


def test_incremental_semantic_pairs_matches_self_join(emb):
    """The embedding-side persisted-index probe (write_ann_index +
    incremental_semantic_pairs) must emit bit-identical cross pairs to
    similarity_pairs(corpus ∪ batch, block_col='cluster') under the
    same frozen centroids — uncapped AND under the hot-cluster cap
    (whose population is defined over the combined postings ∪ batch,
    append-safe)."""
    from streaming_parquet_spark.operators.similarity import (
        incremental_semantic_pairs,
        ivf_assign,
        similarity_pairs,
        write_ann_index,
    )

    spark = emb.sparkSession
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    cents = emb.filter(F.col("vec_id") < 8)
    table = "maw_ann_index_test"
    write_ann_index(corpus, table, centroids=cents, dims=64)
    try:
        union_assigned = ivf_assign(emb, cents, dims=64)
        sizes = sorted(
            r["n"]
            for r in union_assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # a cap that keeps some clusters and excludes at least one
        cap = sizes[len(sizes) // 2]
        assert sizes[0] <= cap < sizes[-1]
        for this_cap in (None, cap):
            expected = set()
            for r in similarity_pairs(
                union_assigned, threshold=0.4, id_col="id", vec_col="v",
                block_col="cluster", dims=64, max_block_rows=this_cap,
            ).collect():
                a_in, b_in = r["id_a"] in batch_ids, r["id_b"] in batch_ids
                if a_in != b_in:
                    new_id = r["id_a"] if a_in else r["id_b"]
                    corpus_id = r["id_b"] if a_in else r["id_a"]
                    expected.add((new_id, corpus_id, r["sim"]))
            got = {
                (r["new_id"], r["corpus_id"], r["sim"])
                for r in incremental_semantic_pairs(
                    batch, table, threshold=0.4, max_block_rows=this_cap,
                ).collect()
            }
            assert got == expected, f"cap={this_cap}"
        assert expected, "fixture produced no cross pairs under the cap"
        # plan shape: the batch's assigned relation BROADCASTS into the
        # postings scan — no cartesian, no shuffle of the corpus side
        plan = (
            incremental_semantic_pairs(batch, table, threshold=0.4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")
        spark.sql(f"DROP TABLE IF EXISTS {table}_postings")


def test_incremental_semantic_dedup_append_loop(emb):
    """The embedding ingest loop: probe → survivors → append survivors
    → a re-ingest of the survivors is fully recognized (each row pairs
    with its appended self at sim 1.0 → zero survivors), and an append
    under mismatched dims raises."""
    import pytest as _pytest

    from streaming_parquet_spark.operators.similarity import (
        append_to_ann_index,
        incremental_semantic_dedup,
        write_ann_index,
    )

    spark = emb.sparkSession
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    cents = emb.filter(F.col("vec_id") < 8)
    table = "maw_ann_loop_test"
    write_ann_index(corpus, table, centroids=cents, dims=64)
    try:
        survivors = incremental_semantic_dedup(batch, table, threshold=0.4)
        n_batch, n_surv = batch.count(), survivors.count()
        assert 0 < n_surv <= n_batch
        assert survivors.columns == batch.columns
        append_to_ann_index(survivors, table)
        # survivors are now IN the index: re-ingesting them finds each
        # row's own appended copy (sim 1.0, embeddings L2-normalized)
        assert incremental_semantic_dedup(survivors, table).count() == 0
        with _pytest.raises(ValueError, match="dims"):
            write_ann_index(
                batch, table, centroids=None, dims=32, mode="append"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")
        spark.sql(f"DROP TABLE IF EXISTS {table}_postings")


def _gibberish(i):
    toks = ["zqx", "vvk", "jjw", "qqz", "xxv", "kkj", "wwq", "zzx"]
    return " ".join(toks[(i + j) % len(toks)] for j in range(12))


def _clean(i):
    toks = ["the", "quick", "brown", "fox", "jumps", "over", "a",
            "lazy", "dog", "and", "runs", "home"]
    return " ".join(toks[(i + j) % len(toks)] for j in range(12))


def test_text_classifier_fit_scores_heldout(spark):
    """fastText-shaped quality classifier: fit on labeled clean vs
    gibberish docs, require held-out separation (every clean doc's
    logit above every gibberish doc's), and classifier_filter keeps
    exactly the clean side at the 0.5 boundary."""
    from streaming_parquet_spark.operators.text import (
        classifier_filter,
        classifier_score,
        fit_text_classifier,
    )

    pos = spark.createDataFrame(
        [(i, _clean(i)) for i in range(40)], "doc_id long, text string"
    )
    neg = spark.createDataFrame(
        [(100 + i, _gibberish(i)) for i in range(40)],
        "doc_id long, text string",
    )
    model = fit_text_classifier(pos, neg, buckets=256)
    held = spark.createDataFrame(
        [(200 + i, _clean(7 * i + 3)) for i in range(10)]
        + [(300 + i, _gibberish(5 * i + 1)) for i in range(10)],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["logit"]
        for r in classifier_score(held, model, buckets=256).collect()
    }
    clean_min = min(v for k, v in scores.items() if k < 300)
    gib_max = max(v for k, v in scores.items() if k >= 300)
    assert clean_min > gib_max, (clean_min, gib_max)
    assert clean_min > 0 > gib_max  # separated around probability 0.5
    kept = {
        r["doc_id"]
        for r in classifier_filter(held, model, 0.0, buckets=256).collect()
    }
    assert kept == {200 + i for i in range(10)}
    # model relation shape: one intercept row, weights within buckets
    assert model.filter(F.col("bkt") == -1).count() == 1
    assert model.filter(F.col("bkt") >= 256).count() == 0


def test_classifier_score_is_exact_integer_dot(spark):
    """Under a FIXED model relation the scoring path is exact integer
    arithmetic + two correctly-rounded float ops: verify logit_num and
    logit against a python recomputation, feature-by-feature, and that
    zero-token docs are absent."""
    from streaming_parquet_spark.functions.portable import (
        ordered_words_expr,
        word_hashes_expr,
    )
    from streaming_parquet_spark.operators.text import classifier_score

    docs = [(1, "aa bb aa cc"), (2, "dd dd"), (3, ""), (4, "aa")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    b, s = 64, 20
    # deterministic synthetic weights: w_k = (k - 32) * 1000, intercept 3<<18
    model = spark.createDataFrame(
        [(k, (k - 32) * 1000) for k in range(b)] + [(-1, 3 << 18)],
        "bkt bigint, w bigint",
    )
    out = {
        r["doc_id"]: r
        for r in classifier_score(df, model, buckets=b, scale_bits=s).collect()
    }
    assert set(out) == {1, 2, 4}  # empty doc absent
    # recompute buckets with the SAME portable hash via a probe query
    probe = df.filter(F.col("doc_id") != 3).select(
        "doc_id",
        F.expr(
            "transform("
            + word_hashes_expr(
                "spark",
                f"filter({ordered_words_expr('spark', 'text')}, w -> w != '')",
            )
            + f", h -> h % {b})"
        ).alias("bkts"),
    ).collect()
    for r in probe:
        n = len(r["bkts"])
        num = sum((k - 32) * 1000 for k in r["bkts"])
        logit = (3 << 18) / float(1 << s) + (num / float(1 << s)) / n
        got = out[r["doc_id"]]
        assert got["n_tokens"] == n
        assert got["logit_num"] == num
        assert got["logit"] == logit  # bit-equal, not approx


def test_bpe_fit_matches_worked_example(spark):
    """fit_bpe_merges reproduces the Sennrich-style worked example:
    over {low:5, lower:2, newest:6, widest:3} with deterministic
    (count DESC, pair ASC) tie-breaks, the first merges build 'est</w>'
    from the shared suffix; fit is deterministic across calls."""
    from streaming_parquet_spark.operators.tokenize import fit_bpe_merges

    rows = (
        [(i, "low") for i in range(5)]
        + [(100 + i, "lower") for i in range(2)]
        + [(200 + i, "newest") for i in range(6)]
        + [(300 + i, "widest") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m1 = [(r["rank"], r["left"], r["right"])
          for r in fit_bpe_merges(df, n_merges=4).orderBy("rank").collect()]
    m2 = [(r["rank"], r["left"], r["right"])
          for r in fit_bpe_merges(df, n_merges=4).orderBy("rank").collect()]
    assert m1 == m2  # deterministic
    # counts: (e,s)=9, (s,t)=9, (t,</w>)=9 ... tie broken lexicographically
    assert m1[0] == (0, "e", "s")
    assert m1[1] == (1, "es", "t")
    assert m1[2] == (2, "est", "</w>")


def test_bpe_apply_roundtrip_and_invariance(docs):
    """apply_bpe: concatenated subwords reconstruct each word exactly
    (with one </w> per word), token counts match the whitespace word
    rule for texts without merges, and the pass is partitioning-
    invariant (pure per-row function)."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
    )

    spark = docs.sparkSession
    merges = fit_bpe_merges(docs, n_merges=64, max_words=5_000)
    assert merges.count() == 64
    sample = docs.limit(50)
    out = apply_bpe(sample, merges).select(
        "doc_id", "text", "bpe_tokens", "n_bpe_tokens"
    )
    import re

    for r in out.collect():
        words = [w for w in re.split(" +", r["text"].strip(" ")) if w]
        joined = "".join(r["bpe_tokens"])
        assert joined == "".join(w + "</w>" for w in words)
        assert r["n_bpe_tokens"] == len(r["bpe_tokens"])
        # subword segmentation never crosses a word boundary: the
        # number of </w>-terminated units equals the word count
        assert sum(1 for t in r["bpe_tokens"] if t.endswith("</w>")) == len(
            words
        )
    # partitioning invariance
    a = {
        (r["doc_id"], tuple(r["bpe_tokens"]))
        for r in apply_bpe(sample.repartition(7), merges).select(
            "doc_id", "bpe_tokens"
        ).collect()
    }
    b = {
        (r["doc_id"], tuple(r["bpe_tokens"]))
        for r in out.select("doc_id", "bpe_tokens").collect()
    }
    assert a == b
    # merges actually fire on fixture text: some multi-char token exists
    assert any(
        len(t.removesuffix("</w>")) > 1
        for r in out.limit(10).collect()
        for t in r["bpe_tokens"]
    )


def test_subword_ids_roundtrip_bpe(docs):
    """Token IDS close the trainable-shard gap: ids -> pieces -> text
    reproduces the normalized text exactly, the id assignment is a
    deterministic pure function of the encoded corpus, unseen pieces
    map to unk, and the n_ count composes unchanged."""
    from streaming_parquet_spark.operators.tokenize import (
        UNK_ID,
        apply_bpe,
        fit_bpe_merges,
        ids_to_tokens,
        subword_vocab,
        tokens_to_text,
    )

    spark = docs.sparkSession
    merges = fit_bpe_merges(docs, n_merges=64, max_words=5_000)
    encoded = apply_bpe(docs, merges)
    vocab = subword_vocab(encoded, "bpe_tokens")
    rows = vocab.orderBy("id").collect()
    assert [r["id"] for r in rows] == list(range(len(rows)))
    assert rows[0]["piece"] == "<pad>" and rows[1]["piece"] == "<unk>"
    # determinism: a second build over a repartitioned encode is equal
    again = subword_vocab(
        apply_bpe(docs.repartition(7), merges), "bpe_tokens"
    ).orderBy("id").collect()
    assert [(r["id"], r["piece"]) for r in rows] == [
        (r["id"], r["piece"]) for r in again
    ]
    sample = docs.limit(40)
    out = apply_bpe(sample, merges, ids=vocab)
    back = tokens_to_text(
        ids_to_tokens(out, vocab, "bpe_tokens_ids", "pieces_back"),
        "pieces_back",
        "text_back",
    )
    import re

    for r in back.select(
        "text", "bpe_tokens", "bpe_tokens_ids", "n_bpe_tokens", "text_back"
    ).collect():
        norm = " ".join(
            w for w in re.split(" +", r["text"].strip(" ")) if w
        )
        assert r["text_back"] == norm
        assert len(r["bpe_tokens_ids"]) == len(r["bpe_tokens"])
        assert r["n_bpe_tokens"] == len(r["bpe_tokens_ids"])
        assert UNK_ID not in r["bpe_tokens_ids"]  # fit corpus: all known
    # a character never seen at vocab time maps to unk, and decodes as
    # the unk marker rather than vanishing
    alien = spark.createDataFrame([(1, "éé")], "doc_id bigint, text string")
    got = ids_to_tokens(
        apply_bpe(alien, merges, ids=vocab), vocab,
        "bpe_tokens_ids", "pieces_back",
    ).first()
    assert UNK_ID in got["bpe_tokens_ids"]
    assert "<unk>" in got["pieces_back"]


def test_subword_ids_roundtrip_unigram(docs):
    """The unigram twin: ids land beside pieces with equal counts and
    the id pass stays Arrow-batched (no row-at-a-time BatchEvalPython
    in the plan)."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_unigram,
        fit_unigram_vocab,
        subword_vocab,
    )

    vocab = fit_unigram_vocab(docs, vocab_size=128, max_words=5_000)
    encoded = apply_unigram(docs, vocab)
    ids = subword_vocab(encoded, "unigram_tokens")
    out = apply_unigram(docs.limit(30), vocab, ids=ids)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    for r in out.select(
        "unigram_tokens", "unigram_tokens_ids", "n_unigram_tokens"
    ).collect():
        assert len(r["unigram_tokens_ids"]) == len(r["unigram_tokens"])
        assert r["n_unigram_tokens"] == len(r["unigram_tokens_ids"])


def test_subword_vocab_survives_deep_udf_lineage(spark, docs):
    """The Spark 4 optimizer can collapse the tokenizer's pandas UDF
    into subword_vocab's explode+distinct aggregate over a deep
    higher-order-lambda lineage (exact_substring_dedup output) and
    fail with INTERNAL_ERROR 'Cannot evaluate expression' — the
    function's internal localCheckpoint retry must absorb it, and the
    result must equal the persisted-upstream path."""
    from streaming_parquet_spark.operators.dedup import (
        exact_substring_dedup,
    )
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
        subword_vocab,
    )

    scrubbed = exact_substring_dedup(
        docs, window_tokens=20, id_col="doc_id", text_col="text"
    ).select("doc_id", F.col("text_clean").alias("text"))
    deep = docs.drop("text").join(scrubbed, "doc_id")
    merges = fit_bpe_merges(deep, n_merges=32, max_words=2_000)
    # deep lineage, no persist — the guarded path
    v1 = subword_vocab(apply_bpe(deep, merges), "bpe_tokens")
    # persisted upstream — the recommended path
    enc = apply_bpe(deep, merges).persist()
    try:
        v2 = subword_vocab(enc, "bpe_tokens")
        assert sorted(
            (r["id"], r["piece"]) for r in v1.collect()
        ) == sorted((r["id"], r["piece"]) for r in v2.collect())
    finally:
        enc.unpersist()


def test_subword_ids_artifact_table(spark, docs):
    """write/read_subword_ids pin the contract: round trip preserves
    the table and pad/unk ids; a non-ids artifact, a foreign
    id-assignment rule, a ragged id space, and misplaced specials all
    fail fast."""
    import pytest

    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
        read_subword_ids,
        subword_vocab,
        write_bpe_merges,
        write_subword_ids,
    )

    merges = fit_bpe_merges(docs, n_merges=32, max_words=2_000)
    vocab = subword_vocab(apply_bpe(docs, merges), "bpe_tokens")
    tbl = "maw_test_subword_ids"
    write_subword_ids(vocab, tbl)
    try:
        got, pad_id, unk_id = read_subword_ids(spark, tbl)
        assert (pad_id, unk_id) == (0, 1)
        assert sorted(
            (r["id"], r["piece"]) for r in got.collect()
        ) == sorted((r["id"], r["piece"]) for r in vocab.collect())
        # a different artifact kind refuses
        write_bpe_merges(merges, f"{tbl}_merges")
        with pytest.raises(ValueError, match="not a persisted ids"):
            read_subword_ids(spark, f"{tbl}_merges")
        # a foreign id-assignment rule refuses
        spark.sql(
            f"ALTER TABLE {tbl} SET TBLPROPERTIES ("
            f"'maw.subword.id_assign' = 'piece-freq-v9')"
        )
        with pytest.raises(ValueError, match="id_assign|assigns ids"):
            read_subword_ids(spark, tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_merges")
    # ragged ids refuse at write time
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="dense"):
        write_subword_ids(
            vocab.filter(F.col("id") != 3), "maw_test_subword_ids_bad"
        )
    # specials misplaced refuse
    with pytest.raises(ValueError, match="specials"):
        write_subword_ids(
            vocab.withColumn(
                "piece",
                F.when(F.col("id") == 0, F.lit("x0")).otherwise(
                    F.col("piece")
                ),
            ),
            "maw_test_subword_ids_bad",
        )


def test_incremental_lsh_probe_property(spark):
    """Hypothesis: for ANY corpus/batch split of random small documents
    (including duplicate texts, near-empty docs, and empty sides), the
    persisted-index probe emits exactly the cross pairs of the
    minhash_lsh_pairs self-join over the union — the fixture-based
    equality test generalized to adversarial corpora."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.dedup import (
        incremental_lsh_pairs,
        write_lsh_index,
    )

    word = st.sampled_from(["red", "blue", "green", "gold", "gray"])
    doc = st.lists(word, min_size=4, max_size=10).map(" ".join)
    corpus_strategy = st.lists(doc, min_size=1, max_size=8)

    @given(texts=corpus_strategy, batch_mod=st.integers(2, 3))
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(texts, batch_mod):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = df.filter(F.col("doc_id") % batch_mod != 0)
        batch = df.filter(F.col("doc_id") % batch_mod == 0)
        if corpus.count() == 0:
            return  # write_lsh_index needs a seedable side; skip
        batch_ids = {i for i, _ in rows if i % batch_mod == 0}
        table = "maw_lsh_prop_test"
        write_lsh_index(corpus, table, num_hashes=8, bands=4)
        try:
            expected = set()
            for r in minhash_lsh_pairs(
                df, num_hashes=8, bands=4, jaccard_threshold=0.1
            ).collect():
                a_in = r["id_a"] in batch_ids
                if a_in != (r["id_b"] in batch_ids):
                    new_id = r["id_a"] if a_in else r["id_b"]
                    corpus_id = r["id_b"] if a_in else r["id_a"]
                    expected.add((new_id, corpus_id, r["jaccard"]))
            got = {
                (r["new_id"], r["corpus_id"], r["jaccard"])
                for r in incremental_lsh_pairs(
                    batch, table, jaccard_threshold=0.1
                ).collect()
            }
            assert got == expected
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}_sets")
            spark.sql(f"DROP TABLE IF EXISTS {table}_bands")

    check()


def test_c4_line_filters_rules(spark):
    """C4 line rules, rule by rule: terminal punctuation required,
    min-words-per-line, blocklist phrases (case-insensitive), curly
    braces, CRLF tolerance, and the min-kept-lines document gate."""
    from streaming_parquet_spark.operators.text import c4_line_filters

    good = "this line has enough words and punctuation."
    docs = [
        # 3 good lines -> keep_doc
        (1, "\n".join([good, "another full sentence with six words!",
                       'a quoted sentence ends with a mark."'])),
        # only 2 good lines -> not kept as doc, lines still cleaned
        (2, "\n".join([good, "too short line.", good])),
        # rule violations, one per line
        (3, "\n".join([
            "no terminal punctuation so this drops",
            "enable JavaScript to view this content.",
            "see our Cookie Policy for more details.",
            "function f() { return 1; }.",
            "Lorem Ipsum dolor sit amet consectetur.",
            good,
        ])),
        # CRLF endings still match terminal punctuation
        (4, good + "\r\n" + "another full sentence with six words!\r"),
        (5, ""),
        # a closing brace whose opener sat on a dropped line must not
        # leak (stray-code rule covers BOTH brackets)
        (6, "this sentence closes the earlier code block } neatly.\n"
            + good),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filters(df).collect()}
    assert out[1]["n_lines_kept"] == 3 and out[1]["keep_doc"]
    assert out[2]["n_lines_kept"] == 2 and not out[2]["keep_doc"]
    assert out[2]["text_clean"] == good + "\n" + good
    assert out[3]["n_lines_kept"] == 1  # only the final good line
    assert out[3]["text_clean"] == good
    assert out[3]["n_lines_dropped"] == 5
    assert out[4]["n_lines_kept"] == 2  # \r stripped before the check
    assert out[4]["n_lines_dropped"] == 0
    assert "\r" not in out[4]["text_clean"]  # CRLF normalized on output
    assert out[5]["n_lines_kept"] == 0 and not out[5]["keep_doc"]
    assert out[6]["n_lines_kept"] == 1 and out[6]["text_clean"] == good
    # the pass is pure expressions: no BatchEvalPython in the plan
    plan = (
        c4_line_filters(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_semantic_probe_property(spark):
    """Hypothesis twin of the LSH probe property: for ANY corpus/batch
    split of random small unit vectors, the persisted ANN-index probe
    emits exactly similarity_pairs' cross pairs over the union under
    the same frozen centroids."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.similarity import (
        incremental_semantic_pairs,
        ivf_assign,
        similarity_pairs,
        write_ann_index,
    )

    # unit vectors in 4 dims from a small deterministic pool (axes and
    # diagonals) -- collisions and near-dups are likely by design
    h = 0.7071067811865476
    pool = [
        [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0],
        [h, h, 0.0, 0.0], [0.0, h, h, 0.0], [0.0, 0.0, h, h],
    ]
    vecs_strategy = st.lists(
        st.integers(0, len(pool) - 1), min_size=2, max_size=10
    )

    @given(picks=vecs_strategy, batch_mod=st.integers(2, 3))
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(picks, batch_mod):
        rows = [(i, pool[p]) for i, p in enumerate(picks)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        corpus = df.filter(F.col("vec_id") % batch_mod != 0)
        batch = df.filter(F.col("vec_id") % batch_mod == 0)
        if corpus.count() == 0 or batch.count() == 0:
            return
        batch_ids = {i for i, _ in rows if i % batch_mod == 0}
        cents = spark.createDataFrame(
            [(0, pool[0]), (1, pool[1])], "vec_id long, embedding array<float>"
        )
        table = "maw_ann_prop_test"
        write_ann_index(corpus, table, centroids=cents, dims=4)
        try:
            assigned = ivf_assign(df, cents, dims=4)
            expected = set()
            for r in similarity_pairs(
                assigned, threshold=0.5, id_col="id", vec_col="v",
                block_col="cluster", dims=4,
            ).collect():
                a_in = r["id_a"] in batch_ids
                if a_in != (r["id_b"] in batch_ids):
                    new_id = r["id_a"] if a_in else r["id_b"]
                    corpus_id = r["id_b"] if a_in else r["id_a"]
                    expected.add((new_id, corpus_id, r["sim"]))
            got = {
                (r["new_id"], r["corpus_id"], r["sim"])
                for r in incremental_semantic_pairs(
                    batch, table, threshold=0.5
                ).collect()
            }
            assert got == expected
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")
            spark.sql(f"DROP TABLE IF EXISTS {table}_postings")

    check()


def _ess_reference(docs, w):
    """Brute-force reference for exact_substring_dedup: first
    occurrence of every duplicated w-token window wins; tokens inside
    any other occurrence drop."""
    toks = {i: t.split() for i, t in docs}
    occ = {}
    for i, ts in sorted(toks.items()):
        for p in range(len(ts) - w + 1):
            occ.setdefault(tuple(ts[p:p + w]), []).append((i, p))
    dropped = {i: set() for i in toks}
    for sites in occ.values():
        if len(sites) > 1:
            for (i, p) in sites[1:] if sites == sorted(sites) else sorted(sites)[1:]:
                dropped[i].update(range(p, p + w))
    out = {}
    for i, ts in toks.items():
        kept = [t for j, t in enumerate(ts) if j not in dropped[i]]
        out[i] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def test_exact_substring_dedup_matches_bruteforce(spark):
    """exact_substring_dedup == the brute-force first-occurrence-wins
    reference on corpora with cross-doc shared runs, within-doc
    repetition, short docs, and empty docs; and the pass is
    partitioning-invariant."""
    from streaming_parquet_spark.operators.dedup import (
        exact_substring_dedup,
    )

    v = "a b c d e f g h i j".split()
    shared = " ".join(v)  # a 10-token run
    docs = [
        (1, shared + " k1 k2 k3"),               # first occurrence: kept
        (2, "x1 x2 " + shared + " x3"),          # later: run dropped
        (3, "y1 " + shared),                      # later still: dropped
        (4, "z1 z2 z3 z4 " + shared + " " + shared),  # cross + within-doc
        (5, "p q r"),                              # shorter than window
        (6, ""),                                   # empty
        (7, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"),     # unique run: untouched
    ]
    w = 5
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_dropped_tokens"])
        for r in exact_substring_dedup(df, window_tokens=w).collect()
    }
    want = _ess_reference(docs, w)
    assert got == want
    assert got[1][2] == 0                   # first occurrence untouched
    assert got[2][2] == 10 and got[3][2] == 10
    assert got[7][2] == 0
    assert got[6] == ("", 0, 0)
    # partitioning invariance
    got7 = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_dropped_tokens"])
        for r in exact_substring_dedup(
            df.repartition(7), window_tokens=w
        ).collect()
    }
    assert got7 == got
    # no UDF in the plan
    plan = (
        exact_substring_dedup(df, window_tokens=w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_tokens_feed_token_budget(docs):
    """The documented composition: apply_bpe's n_bpe_tokens drives
    token_budget_select — per-source realized token sums respect the
    budget (overshoot bounded by one document) and the selection is
    reproducible."""
    from streaming_parquet_spark.operators.pipeline import (
        token_budget_select,
    )
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
    )

    merges = fit_bpe_merges(docs, n_merges=64, max_words=5_000)
    tokenized = apply_bpe(docs, merges).drop("bpe_tokens")
    budget = 800
    sel = token_budget_select(
        tokenized, budget=budget, token_col="n_bpe_tokens",
        group_col="source",
    )
    rows = sel.select("source", "doc_id", "n_bpe_tokens").collect()
    assert rows, "selection should keep something"
    per_src = {}
    maxdoc = {}
    for r in rows:
        per_src[r["source"]] = per_src.get(r["source"], 0) + r["n_bpe_tokens"]
        maxdoc[r["source"]] = max(
            maxdoc.get(r["source"], 0), r["n_bpe_tokens"]
        )
    for s, total in per_src.items():
        assert total < budget + maxdoc[s], (s, total)
    # every source with any tokens is represented (never undershoots
    # a non-empty domain)
    n_sources = tokenized.filter(F.col("n_bpe_tokens") > 0).select(
        "source"
    ).distinct().count()
    assert len(per_src) == n_sources
    # reproducible across partitionings
    again = {
        (r["source"], r["doc_id"])
        for r in token_budget_select(
            tokenized.repartition(7), budget=budget,
            token_col="n_bpe_tokens", group_col="source",
        ).select("source", "doc_id").collect()
    }
    assert again == {(r["source"], r["doc_id"]) for r in rows}


def test_unigram_fit_worked_example_and_determinism(spark):
    """fit_unigram_vocab over {low:5, lower:2, newest:6, widest:3}:
    every observed character survives pruning (words stay
    segmentable), frequent whole words earn high-probability pieces,
    an UNSEEN word segments through shared subword structure rather
    than pure chars, and two fits over the same table are identical
    (the determinism contract a persisted vocab requires)."""
    from streaming_parquet_spark.operators.tokenize import (
        _viterbi_segment,
        fit_unigram_vocab,
    )

    rows = (
        [(i, "low") for i in range(5)]
        + [(100 + i, "lower") for i in range(2)]
        + [(200 + i, "newest") for i in range(6)]
        + [(300 + i, "widest") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fit = lambda: [  # noqa: E731
        (r["piece"], r["logp"])
        for r in fit_unigram_vocab(
            df, vocab_size=12, max_piece_len=6, em_iters=2
        ).orderBy(F.desc("logp"), F.asc("piece")).collect()
    ]
    v1, v2 = fit(), fit()
    assert v1 == v2  # deterministic fit
    logp = dict(v1)
    assert len(logp) <= 12
    assert set("lowernwidest") <= {p for p in logp if len(p) == 1}
    # the two dominant words are fitted as whole pieces
    assert "low" in logp and "newest" in logp
    # unseen word reuses the fitted 'low' piece, not pure chars
    floor = min(logp.values()) - 10.0
    seg = _viterbi_segment("lowest", logp, 6, floor)
    assert seg[0] == "low" and "".join(seg) == "lowest"


def test_unigram_apply_roundtrip_and_invariance(docs):
    """apply_unigram mirrors apply_bpe's contract: concatenated pieces
    reconstruct each word with one </w> per word, unknown characters
    fall back to single-char pieces instead of failing, and the pass
    is partitioning-invariant."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_unigram,
        fit_unigram_vocab,
    )

    spark = docs.sparkSession
    vocab = fit_unigram_vocab(docs, vocab_size=256, max_words=5_000)
    assert vocab.count() <= 256
    sample = docs.limit(50)
    out = apply_unigram(sample, vocab).select(
        "doc_id", "text", "unigram_tokens", "n_unigram_tokens"
    )
    import re

    for r in out.collect():
        words = [w for w in re.split(" +", r["text"].strip(" ")) if w]
        assert "".join(r["unigram_tokens"]) == "".join(
            w + "</w>" for w in words
        )
        assert r["n_unigram_tokens"] == len(r["unigram_tokens"])
        assert sum(
            1 for t in r["unigram_tokens"] if t.endswith("</w>")
        ) == len(words)
    # multi-char pieces actually fire on fixture text
    assert any(
        len(t.removesuffix("</w>")) > 1
        for r in out.limit(10).collect()
        for t in r["unigram_tokens"]
    )
    # unknown characters segment at the floor, never raise
    odd = spark.createDataFrame(
        [(1, "über café low")], "doc_id long, text string"
    )
    got = apply_unigram(odd, vocab).collect()[0]
    assert "".join(got["unigram_tokens"]).endswith("low</w>")
    # partitioning invariance
    a = {
        (r["doc_id"], tuple(r["unigram_tokens"]))
        for r in apply_unigram(sample.repartition(7), vocab).select(
            "doc_id", "unigram_tokens"
        ).collect()
    }
    b = {
        (r["doc_id"], tuple(r["unigram_tokens"]))
        for r in out.select("doc_id", "unigram_tokens").collect()
    }
    assert a == b


def test_unigram_tokens_feed_token_budget(docs):
    """The same composition pin as BPE's: n_unigram_tokens drives
    token_budget_select with bounded overshoot and reproducible
    selection — the two tokenizers are interchangeable upstream of the
    budget operators."""
    from streaming_parquet_spark.operators.pipeline import (
        token_budget_select,
    )
    from streaming_parquet_spark.operators.tokenize import (
        apply_unigram,
        fit_unigram_vocab,
    )

    vocab = fit_unigram_vocab(docs, vocab_size=256, max_words=5_000)
    tokenized = apply_unigram(docs, vocab).drop("unigram_tokens")
    budget = 800
    sel = token_budget_select(
        tokenized, budget=budget, token_col="n_unigram_tokens",
        group_col="source",
    )
    rows = sel.select("source", "doc_id", "n_unigram_tokens").collect()
    assert rows
    per_src, maxdoc = {}, {}
    for r in rows:
        per_src[r["source"]] = (
            per_src.get(r["source"], 0) + r["n_unigram_tokens"]
        )
        maxdoc[r["source"]] = max(
            maxdoc.get(r["source"], 0), r["n_unigram_tokens"]
        )
    for s, total in per_src.items():
        assert total < budget + maxdoc[s], (s, total)
    again = {
        (r["source"], r["doc_id"])
        for r in token_budget_select(
            tokenized.repartition(7), budget=budget,
            token_col="n_unigram_tokens", group_col="source",
        ).select("source", "doc_id").collect()
    }
    assert again == {(r["source"], r["doc_id"]) for r in rows}


def test_unigram_train_properties():
    """Hypothesis over random word-frequency tables: the fit is
    deterministic, respects the vocab bound (modulo the never-pruned
    character alphabet), keeps every observed character reachable, and
    Viterbi under the fitted vocab reconstructs ANY word — seen,
    unseen, or containing unseen characters — exactly."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.tokenize import (
        _unigram_train,
        _viterbi_segment,
    )

    word = st.text(alphabet="abcdef", min_size=1, max_size=10)
    table = st.dictionaries(word, st.integers(1, 50), min_size=1, max_size=20)

    @given(wf=table, vocab_size=st.integers(3, 24))
    @settings(max_examples=60, deadline=None)
    def check(wf, vocab_size):
        fit = lambda: _unigram_train(  # noqa: E731
            wf, vocab_size=vocab_size, max_piece_len=6, em_iters=2,
            seed_size=4 * vocab_size,
        )
        logp = fit()
        assert logp == fit()  # deterministic
        chars = {c for w in wf for c in w}
        assert chars <= {p for p in logp if len(p) == 1}
        assert len(logp) <= max(vocab_size, len(chars))
        # every multi-char piece is a substring of some training word
        for p in logp:
            if len(p) > 1:
                assert any(p in w for w in wf), p
        floor = min(logp.values()) - 10.0
        for w in list(wf)[:5] + ["zebra", "aaaaaaaaaaaa", "fedcba"]:
            seg = _viterbi_segment(w, logp, 6, floor)
            assert "".join(seg) == w
            for piece in seg:
                assert piece in logp or len(piece) == 1

    check()


def test_tokenizer_artifact_tables(spark, docs):
    """Persisted tokenizer artifacts follow the index tables' pinned-
    parameter discipline: write/read round-trips reproduce the exact
    tokenization, a wrong-kind read fails fast, a word-split-rule
    drift fails fast, and the unigram reader hands back the fit-time
    max_piece_len — the parameter whose silent mismatch re-segments
    text without any Spark error."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        apply_bpe_table,
        apply_unigram,
        apply_unigram_table,
        fit_bpe_merges,
        fit_unigram_vocab,
        read_bpe_merges,
        read_unigram_vocab,
        write_bpe_merges,
        write_unigram_vocab,
    )

    sample = docs.limit(30)
    merges = fit_bpe_merges(docs, n_merges=48, max_words=5_000)
    vocab = fit_unigram_vocab(docs, vocab_size=128, max_piece_len=6,
                              max_words=5_000)
    for t in ("maw_tok_bpe", "maw_tok_uni"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bpe_merges(merges, "maw_tok_bpe")
    write_unigram_vocab(vocab, "maw_tok_uni", max_piece_len=6)
    try:
        # bit-identical tokenization through the table path
        direct = {
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe(sample, merges).select(
                "doc_id", "bpe_tokens").collect()
        }
        via_table = {
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe_table(sample, "maw_tok_bpe").select(
                "doc_id", "bpe_tokens").collect()
        }
        assert direct == via_table
        udirect = {
            (r["doc_id"], tuple(r["unigram_tokens"]))
            for r in apply_unigram(sample, vocab, max_piece_len=6).select(
                "doc_id", "unigram_tokens").collect()
        }
        uvia = {
            (r["doc_id"], tuple(r["unigram_tokens"]))
            for r in apply_unigram_table(sample, "maw_tok_uni").select(
                "doc_id", "unigram_tokens").collect()
        }
        assert udirect == uvia
        _, max_len = read_unigram_vocab(spark, "maw_tok_uni")
        assert max_len == 6
        # wrong kind fails fast
        with pytest.raises(ValueError, match="not a persisted unigram"):
            read_unigram_vocab(spark, "maw_tok_bpe")
        with pytest.raises(ValueError, match="not a persisted bpe"):
            read_bpe_merges(spark, "maw_tok_uni")
        # a future word-split rule drift fails fast instead of
        # silently composing mismatched token counts
        spark.sql(
            "ALTER TABLE maw_tok_bpe SET TBLPROPERTIES "
            "('maw.subword.word_split' = 'unicode-ws-v2')"
        )
        with pytest.raises(ValueError, match="word-split rule"):
            read_bpe_merges(spark, "maw_tok_bpe")
    finally:
        for t in ("maw_tok_bpe", "maw_tok_uni"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_with_causal_labels(spark):
    """Next-token labels over packed windows: shifted ids while the
    next position is real, ignore_index on the window-final real token
    and on every pad slot; plan stays UDF-free."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        with_causal_labels,
    )

    df = spark.createDataFrame(
        [("a", 1, [1, 2, 3]), ("a", 2, [4, 5])],
        "part string, doc_id bigint, tok array<int>",
    )
    out = with_causal_labels(
        pack_token_windows(df, "tok", budget=4, part_col="part", pad_id=0)
    )
    got = {r["win"]: (r["ids"], r["labels"]) for r in out.collect()}
    # window 0: [1,2,3,4] all real -> labels [2,3,4,-100] (4's target
    # lives in window 1 — window-local by design)
    assert got[0] == ([1, 2, 3, 4], [2, 3, 4, -100])
    # window 1: [5,0,0,0], one real token -> all masked
    assert got[1] == ([5, 0, 0, 0], [-100, -100, -100, -100])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pack_token_windows_eos(spark):
    """The eos_id separator (GPT packing recipe): every non-empty
    document contributes a trailing EOS, boundaries inside a window
    become supervised (content -> EOS -> next doc's first id), empty
    docs contribute nothing, and doc_starts still marks CONTENT-first
    tokens."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        with_causal_labels,
    )

    df = spark.createDataFrame(
        [("a", 1, [1, 2, 3]), ("a", 2, []), ("a", 3, [4, 5])],
        "part string, doc_id bigint, tok array<int>",
    )
    out = with_causal_labels(
        pack_token_windows(
            df, "tok", budget=4, part_col="part", pad_id=0, eos_id=9
        )
    )
    got = {
        r["win"]: (r["ids"], r["labels"], list(r["doc_starts"]))
        for r in out.collect()
    }
    # stream: 1,2,3,9 | 4,5,9 -> [1,2,3,9] + [4,5,9,pad]
    # window 0: content 3's label is the EOS; the window-final EOS
    # masks (its next, 4, lives in window 1)
    assert got[0] == ([1, 2, 3, 9], [2, 3, 9, -100], [0])
    assert got[1] == ([4, 5, 9, 0], [5, 9, -100, -100], [0])
    # an in-window boundary IS supervised: budget 8 packs everything
    whole = with_causal_labels(
        pack_token_windows(
            df, "tok", budget=8, part_col="part", pad_id=0, eos_id=9
        )
    ).first()
    # ids [1,2,3,9,4,5,9,pad]: EOS at slot 3 labels 4 (the next doc)
    assert whole["ids"] == [1, 2, 3, 9, 4, 5, 9, 0]
    assert whole["labels"] == [2, 3, 9, 4, 5, 9, -100, -100]
    assert list(whole["doc_starts"]) == [0, 4]


def test_pack_token_windows_property(spark):
    """Hypothesis: for ANY mix of documents (empty/null arrays,
    duplicate contents, single parts or many) and any budget/eos
    combination, pack_token_windows + with_causal_labels reproduce a
    pure-Python reference: window contents, padding, n_tokens,
    doc_starts, and labels."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        with_causal_labels,
    )

    docs_strategy = st.lists(
        st.tuples(
            st.sampled_from(["p", "q"]),
            st.one_of(
                st.none(),
                st.lists(st.integers(1, 99), min_size=0, max_size=7),
            ),
        ),
        min_size=1,
        max_size=8,
    )

    def reference(rows, budget, eos, pad=0, ign=-100):
        out = {}
        for part in sorted({p for p, _ in rows}):
            stream, starts = [], []
            for i, (p, ids) in enumerate(rows):
                if p != part or not ids:
                    continue
                starts.append(len(stream))
                stream.extend(ids)
                if eos is not None:
                    stream.append(eos)
            for w in range((len(stream) + budget - 1) // budget):
                chunk = stream[w * budget:(w + 1) * budget]
                n = len(chunk)
                ids = chunk + [pad] * (budget - n)
                labels = [
                    ids[i + 1] if i + 1 < n else ign
                    for i in range(budget)
                ]
                ds = sorted(
                    s - w * budget for s in starts
                    if w * budget <= s < (w + 1) * budget
                )
                out[(part, w)] = (ids, n, ds, labels)
        return out

    @given(
        raw=docs_strategy,
        budget=st.sampled_from([1, 3, 5]),
        eos=st.sampled_from([None, 77]),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(raw, budget, eos):
        rows = [(p, i, ids) for i, (p, ids) in enumerate(raw)]
        df = spark.createDataFrame(
            rows, "part string, doc_id long, tok array<int>"
        )
        got = {
            (r["part"], r["win"]): (
                r["ids"], r["n_tokens"], list(r["doc_starts"]),
                r["labels"],
            )
            for r in with_causal_labels(
                pack_token_windows(
                    df, "tok", budget=budget, part_col="part",
                    pad_id=0, eos_id=eos,
                )
            ).collect()
        }
        want = reference(
            [(p, ids) for p, _, ids in rows], budget, eos
        )
        assert got == want, (raw, budget, eos)

    check()


def test_tokens_to_text_marker_collision(spark):
    """The DOCUMENTED decode limitation, pinned: a word whose content
    contains the literal '</w>' marker decodes with that substring
    replaced by a space (piece arrays and counts stay exact; only the
    decode-to-text leg is lossy on marker-bearing content)."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
        tokens_to_text,
    )

    df = spark.createDataFrame(
        [(1, "foo</w>bar ok")], "doc_id bigint, text string"
    )
    merges = fit_bpe_merges(df, n_merges=4)
    out = tokens_to_text(apply_bpe(df, merges), "bpe_tokens", "back")
    r = out.first()
    # the concatenated representation is exact (the contract holds)...
    assert "".join(r["bpe_tokens"]) == "foo</w>bar</w>ok</w>"
    # ...but the decode leg collapses the CONTENT marker to a space —
    # the documented behavior, not an accident
    assert r["back"] == "foo bar ok"


def test_pack_token_windows(spark):
    """pack_token_windows materializes the concat-then-chunk stream
    exactly: flattened windows (minus padding) reproduce the
    concatenated documents in order, every window is exactly budget
    long, only each partition's last window is padded, composition
    with pack_sequences' bin arithmetic holds, and the result is
    partitioning-invariant."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_sequences,
        pack_token_windows,
    )

    rows = [
        ("a", 1, [1, 2, 3]),
        ("a", 2, [4, 5, 6, 7, 8]),
        ("a", 3, []),          # empty: occupies zero positions
        ("a", 4, [9]),
        ("b", 7, [10, 11, 12, 13]),
    ]
    df = spark.createDataFrame(
        rows, "part string, doc_id bigint, tok array<int>"
    )
    out = pack_token_windows(
        df, "tok", budget=4, part_col="part", pad_id=-1
    )
    got = {
        (r["part"], r["win"]): (r["ids"], r["n_tokens"])
        for r in out.collect()
    }
    # stream a: 1..9 -> [1,2,3,4], [5,6,7,8], [9,-1,-1,-1]
    assert got[("a", 0)] == ([1, 2, 3, 4], 4)
    assert got[("a", 1)] == ([5, 6, 7, 8], 4)
    assert got[("a", 2)] == ([9, -1, -1, -1], 1)
    # stream b: one exact window, NO padded tail
    assert got[("b", 0)] == ([10, 11, 12, 13], 4)
    assert len(got) == 4
    assert all(len(ids) == 4 for ids, _ in got.values())
    # doc_starts: the block-diagonal mask boundaries — doc(a,1) starts
    # at (0,slot0), doc(a,2) at (0,slot3); window (a,1) CONTINUES
    # doc(a,2) (no 0 entry); doc(a,4) starts window 2 at slot 0
    starts = {
        (r["part"], r["win"]): list(r["doc_starts"])
        for r in out.collect()
    }
    assert starts[("a", 0)] == [0, 3]
    assert starts[("a", 1)] == []
    assert starts[("a", 2)] == [0]
    assert starts[("b", 0)] == [0]
    # composition: each doc's start bin from pack_sequences is the
    # window its first id landed in
    sized = df.withColumn("n", F.size("tok"))
    bins = {
        (r["part"], r["doc_id"]): r["bin"]
        for r in pack_sequences(
            sized, "n", budget=4, part_col="part"
        ).collect()
    }
    first_id = {("a", 1): 1, ("a", 2): 4, ("a", 4): 9, ("b", 7): 10}
    for (part, doc), fid in first_id.items():
        win = bins[(part, doc)]
        ids, _ = got[(part, win)]
        assert fid in ids, (part, doc, win, ids)
    # partitioning invariance
    again = {
        (r["part"], r["win"]): (r["ids"], r["n_tokens"])
        for r in pack_token_windows(
            df.repartition(7), "tok", budget=4, part_col="part",
            pad_id=-1,
        ).collect()
    }
    assert again == got
    # no UDF anywhere in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_tokenizer_cjk_word_split_rule(spark):
    """The cjk-char-v1 rule end-to-end: a spaceless CJK corpus fits
    and applies per-character (ascii-space-v1 would see one word per
    line), the artifact pins the rule and threads it back through the
    table apply, and an EXPLICIT conflicting rule at apply time raises
    instead of silently mis-segmenting."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_unigram,
        apply_unigram_table,
        fit_unigram_vocab,
        write_unigram_vocab,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["東京は晴れ", "京都は雨", "東京の天気", "雨の京都"] * 5
        )],
        "doc_id bigint, text string",
    )
    rule = "cjk-char-v1"
    vocab = fit_unigram_vocab(
        docs, vocab_size=64, max_words=1_000, word_split=rule
    )
    # the fit CARRIES its rule
    assert {r["word_split"] for r in vocab.collect()} == {rule}
    # per-character words: every piece is a single char (+ optional
    # </w>), never a whole line
    assert all(
        len(r["piece"]) == 1 for r in vocab.collect()
    ), [r["piece"] for r in vocab.collect()]
    # apply DERIVES the rule from the carried column — no re-statement
    out = apply_unigram(docs.limit(4), vocab)
    for r in out.select("text", "unigram_tokens").collect():
        # one </w>-terminated unit per CHARACTER of the line
        assert sum(
            1 for t in r["unigram_tokens"] if t.endswith("</w>")
        ) == len(r["text"])
    # fitting the same corpus under ascii-space-v1 sees whole lines
    # as words — the degradation the rule exists to avoid
    v1 = fit_unigram_vocab(docs, vocab_size=64, max_words=1_000)
    assert max(len(r["piece"]) for r in v1.collect()) > 1
    # an explicit CONFLICTING rule at apply raises instead of
    # mis-segmenting
    with pytest.raises(ValueError, match="word-split rule"):
        apply_unigram(docs.limit(4), vocab, word_split="ascii-space-v1")
    # artifact pinning round trip under the non-default rule: the
    # writer DERIVES the pin from the carried column (the r9-review
    # trap was a caller forgetting to re-state the rule here)
    tbl = "maw_tok_cjk"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    write_unigram_vocab(vocab, tbl)
    with pytest.raises(ValueError, match="word-split rule"):
        write_unigram_vocab(vocab, tbl, word_split="ascii-space-v1")
    try:
        direct = {
            (r["doc_id"], tuple(r["unigram_tokens"]))
            for r in out.select("doc_id", "unigram_tokens").collect()
        }
        via = {
            (r["doc_id"], tuple(r["unigram_tokens"]))
            for r in apply_unigram_table(docs.limit(4), tbl).select(
                "doc_id", "unigram_tokens"
            ).collect()
        }
        assert direct == via
        # explicit conflicting rule raises rather than mis-segmenting
        with pytest.raises(ValueError, match="word-split rule"):
            apply_unigram_table(
                docs.limit(4), tbl, word_split="ascii-space-v1"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_leakage_safe_split(spark, docs):
    """Near-dup cluster members never straddle splits: every connected
    component lands whole in one split, isolated docs reproduce
    with_split's per-doc assignment exactly, and the assignment is
    partitioning-invariant."""
    from streaming_parquet_spark.operators.dedup import minhash_lsh_pairs
    from streaming_parquet_spark.operators.pipeline import (
        leakage_safe_split,
        with_split,
    )

    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.3)
    out = leakage_safe_split(docs, pairs)
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(rows) == {r["doc_id"] for r in docs.collect()}
    # components from the same pair set, independently derived
    import collections
    parent = {}
    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    linked = set()
    for r in pairs.collect():
        a, b = find(r["id_a"]), find(r["id_b"])
        linked |= {r["id_a"], r["id_b"]}
        if a != b:
            parent[max(a, b)] = min(a, b)
    comps = collections.defaultdict(set)
    for i in linked:
        comps[find(i)].add(i)
    assert any(len(m) > 1 for m in comps.values()), "fixture has clusters"
    for root, members in comps.items():
        got = {rows[i] for i in members}
        assert len(got) == 1, (root, members, got)
    # isolated docs match with_split exactly (empty pairs == with_split)
    base = {r["doc_id"]: r["split"] for r in with_split(docs).collect()}
    for i in set(rows) - linked:
        assert rows[i] == base[i]
    # partitioning invariance
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs.repartition(7), pairs).collect()
    }
    assert again == rows


def test_leakage_safe_split_preserves_caller_component_column(spark):
    """A caller that already carries a 'component' column (the
    keep-all-with-cluster-label pipelines the docstring cites) must
    keep it: the join key lives under a reserved name, so there is no
    AMBIGUOUS_REFERENCE and no silent drop of the caller's column."""
    from streaming_parquet_spark.operators.pipeline import (
        leakage_safe_split,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (9, "z")],
        "doc_id bigint, component string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    out = leakage_safe_split(df, pairs)
    assert "component" in out.columns
    rows = {r["doc_id"]: r for r in out.collect()}
    # the caller's labels survive untouched
    assert {i: rows[i]["component"] for i in (1, 2, 3, 9)} == {
        1: "x", 2: "x", 3: "y", 9: "z"
    }
    # and the split contract still holds: the (1, 2) cluster lands whole
    assert rows[1]["split"] == rows[2]["split"]


def test_unigram_apply_plan_and_sampled_fit(docs):
    """apply_unigram stays on the Arrow-batched UDF path (no
    row-at-a-time BatchEvalPython anywhere in the plan), and the
    deterministic hash-sampled fit (sample_pct) is itself
    deterministic and yields a usable vocab."""
    from streaming_parquet_spark.operators.tokenize import (
        apply_unigram,
        fit_unigram_vocab,
    )

    v1 = fit_unigram_vocab(docs, vocab_size=128, sample_pct=40,
                           max_words=5_000)
    v2 = fit_unigram_vocab(docs, vocab_size=128, sample_pct=40,
                           max_words=5_000)
    a = [(r["piece"], r["logp"]) for r in v1.orderBy("piece").collect()]
    b = [(r["piece"], r["logp"]) for r in v2.orderBy("piece").collect()]
    assert a == b and len(a) > 0
    out = apply_unigram(docs.limit(20), v1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan          # row-UDF forbidden
    assert "ArrowEvalPython" in plan              # the Arrow path
    # sampled-fit vocab still tokenizes the FULL corpus losslessly
    r = out.select("text", "unigram_tokens").first()
    words = [w for w in r["text"].strip(" ").split(" ") if w]
    assert "".join(r["unigram_tokens"]) == "".join(w + "</w>" for w in words)


def test_exact_substring_dedup_property(spark):
    """Hypothesis over random tiny-alphabet corpora (maximal window
    collisions, overlapping and adjacent duplicated runs, within-doc
    repeats): exact_substring_dedup equals the brute-force
    first-occurrence-wins reference on every document."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.dedup import (
        exact_substring_dedup,
    )
    from streaming_parquet_spark.staging import scope

    word = st.sampled_from(["a", "b", "c"])
    doc = st.lists(word, min_size=0, max_size=14).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @given(texts=corpus, w=st.integers(2, 4))
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(texts, w):
        docs = list(enumerate(texts))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        with scope():  # each example owns (and releases) its stagings
            got = {
                r["doc_id"]: (
                    r["text_clean"], r["n_tokens"], r["n_dropped_tokens"]
                )
                for r in exact_substring_dedup(df, window_tokens=w).collect()
            }
        assert got == _ess_reference(docs, w)

    check()


def test_corpus_fingerprint(spark, docs):
    """corpus_fingerprint: partitioning- and order-insensitive by
    construction, sensitive to any single-row text change, duplicate
    ids surface through n_docs, and an empty corpus is all zeros."""
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )

    base = corpus_fingerprint(docs).collect()[0]
    again = corpus_fingerprint(
        docs.repartition(7).orderBy(F.desc("doc_id"))
    ).collect()[0]
    assert base == again
    assert base["n_docs"] > 0 and (base["fp_a"], base["fp_b"]) != (0, 0)
    # flip one row's text -> fingerprint changes, counts track
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == base["n_docs"] // 2,
               F.concat(F.col("text"), F.lit(" x"))).otherwise(
            F.col("text")
        ),
    )
    m = corpus_fingerprint(mutated).collect()[0]
    assert (m["fp_a"], m["fp_b"]) != (base["fp_a"], base["fp_b"])
    assert m["n_docs"] == base["n_docs"]
    assert m["n_chars_total"] == base["n_chars_total"] + 2
    # an even re-insertion cancels the XOR (documented) but n_docs
    # catches it — the card's contract
    doubled = docs.unionAll(docs)
    d = corpus_fingerprint(doubled).collect()[0]
    assert (d["fp_a"], d["fp_b"]) == (0, 0)
    assert d["n_docs"] == 2 * base["n_docs"]
    # empty corpus: all zeros, no NULL poisoning
    empty = corpus_fingerprint(docs.filter(F.lit(False))).collect()[0]
    assert tuple(empty) == (0, 0, 0, 0)


def test_skew_report(spark):
    """skew_report: counts/shares/skew factors are exact, the hottest
    key tops the report, suggested_salt spreads it to ~task-sized
    slices and is 1 for keys that already fit, and the report is
    partitioning-invariant."""
    from streaming_parquet_spark.operators.skew import skew_report

    rows = (
        [(i, "hot") for i in range(900)]
        + [(1000 + i, "warm") for i in range(60)]
        + [(2000 + i, f"k{i}") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "id long, key string")
    rep = {
        r["key"]: r
        for r in skew_report(
            df, ["key"], top_n=5, target_rows_per_task=100
        ).collect()
    }
    assert list(rep)[0] == "hot"
    hot = rep["hot"]
    assert hot["cnt"] == 900 and hot["n_rows"] == 1000
    assert hot["n_keys"] == 42
    assert hot["pct_rows"] == 90.0
    assert hot["skew_factor"] == round(900 * 42 / 1000, 2)
    assert hot["suggested_salt"] == 9      # ceil(900 / 100)
    assert rep["warm"]["suggested_salt"] == 1
    again = {
        (r["key"], r["cnt"], r["suggested_salt"])
        for r in skew_report(
            df.repartition(7), ["key"], top_n=5,
            target_rows_per_task=100,
        ).collect()
    }
    assert again == {
        (r["key"], r["cnt"], r["suggested_salt"]) for r in rep.values()
    }
    # empty frame: no rows, no division blow-up
    assert skew_report(df.filter(F.lit(False)), ["key"]).count() == 0


def test_leakage_safe_split_property(spark):
    """Hypothesis over random pair graphs (self-loops, duplicate
    edges, reversed edges, chains that merge clusters transitively,
    edges naming ids absent from the corpus): every connected
    component lands whole in one split, and docs in no pair match
    with_split exactly."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import (
        leakage_safe_split,
        with_split,
    )

    ids = st.integers(0, 14)
    edge = st.tuples(ids, ids)
    graph = st.lists(edge, min_size=1, max_size=12)

    @given(edges=graph)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(edges):
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(15)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = {
            r["doc_id"]: r["split"]
            for r in leakage_safe_split(docs, pairs).collect()
        }
        assert set(rows) == set(range(15))
        # independent union-find over the same edges
        parent = {}
        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x
        linked = set()
        for a, b in edges:
            linked |= {a, b}
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for i in linked:
            comps.setdefault(find(i), set()).add(i)
        for members in comps.values():
            in_corpus = members & set(range(15))
            assert len({rows[i] for i in in_corpus}) <= 1, members
        base = {
            r["doc_id"]: r["split"] for r in with_split(docs).collect()
        }
        for i in set(range(15)) - linked:
            assert rows[i] == base[i]

    check()


def test_shard_manifest_fingerprints_verify_written_shards(
    spark, docs, tmp_path
):
    """The end-to-end shard-integrity loop: the manifest PROMISES each
    shard's content fingerprint before the write; writing with the
    same sharding function and fingerprinting each shard read back
    reproduces the promise exactly (and a corrupted shard does not)."""
    from streaming_parquet_spark.operators.pipeline import (
        SHARD_SEED,
        shard_manifest,
    )
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )
    from streaming_parquet_spark.functions.portable import (
        hash_bucket_expr,
    )

    n_shards = 4
    man = {
        r["shard"]: r
        for r in shard_manifest(
            docs, n_shards, text_col="text"
        ).collect()
    }
    assert set(man) == set(range(n_shards))
    out = str(tmp_path / "shards")
    shard = F.expr(
        hash_bucket_expr("spark", "doc_id", n_shards, seed=SHARD_SEED)
    ).cast("int")
    docs.withColumn("shard", shard).write.partitionBy("shard").parquet(out)
    for s in range(n_shards):
        got = corpus_fingerprint(
            spark.read.parquet(f"{out}/shard={s}")
        ).collect()[0]
        want = man[s]
        assert (got["n_docs"], got["fp_a"], got["fp_b"]) == (
            want["n_docs"], want["fp_a"], want["fp_b"]
        ), s
    # a corrupted shard (one doc's text flipped) fails the check:
    # tamper the minimum id deterministically
    min_id = spark.read.parquet(f"{out}/shard=0").agg(
        F.min("doc_id")
    ).first()[0]
    bad = spark.read.parquet(f"{out}/shard=0").withColumn(
        "text",
        F.when(F.col("doc_id") == min_id, F.lit("tampered")).otherwise(
            F.col("text")
        ),
    )
    got = corpus_fingerprint(bad).collect()[0]
    assert (got["fp_a"], got["fp_b"]) != (man[0]["fp_a"], man[0]["fp_b"])


def test_text_classifier_artifact_table(spark, docs):
    """Persisted classifier models follow the pinned-parameter
    discipline: the table round-trip scores bit-identically to the
    in-session model, the pinned buckets/scale_bits thread through
    classifier_score_table, and a wrong-kind read fails fast."""
    from streaming_parquet_spark.operators.text import (
        classifier_score,
        classifier_score_table,
        fit_text_classifier,
        read_text_classifier,
        write_text_classifier,
    )

    pos = docs.limit(32).select("doc_id", "text")
    neg = docs.limit(32).select(
        (F.lit(-1) - F.col("doc_id")).alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, 12),"
            " i -> concat('qq', CAST(pmod(doc_id + i, 13) AS STRING))))"
        ).alias("text"),
    )
    model = fit_text_classifier(pos, neg, buckets=256)
    spark.sql("DROP TABLE IF EXISTS maw_clf_art")
    write_text_classifier(model, "maw_clf_art", buckets=256)
    try:
        m2, buckets, scale_bits = read_text_classifier(
            spark, "maw_clf_art"
        )
        assert (buckets, scale_bits) == (256, 20)
        sample = docs.limit(40)
        direct = {
            r["doc_id"]: (r["logit_num"], r["logit"])
            for r in classifier_score(
                sample, model, buckets=256
            ).collect()
        }
        via = {
            r["doc_id"]: (r["logit_num"], r["logit"])
            for r in classifier_score_table(
                sample, "maw_clf_art"
            ).collect()
        }
        assert direct == via  # bit-identical through the table
        with pytest.raises(ValueError, match="not a persisted text"):
            # any non-classifier table fails fast; reuse the model
            # table with its kind property clobbered
            spark.sql(
                "ALTER TABLE maw_clf_art SET TBLPROPERTIES "
                "('maw.textclf.kind' = 'other')"
            )
            read_text_classifier(spark, "maw_clf_art")
    finally:
        spark.sql("DROP TABLE IF EXISTS maw_clf_art")


def test_review_fix_edges(spark, docs):
    """Round-8 review fixes pinned: (1) write_unigram_vocab derives
    max_piece_len from the vocab and rejects a smaller override;
    (2) fit_unigram_vocab on an empty corpus returns an empty vocab
    cleanly; (3) write_text_classifier rejects a buckets pin the
    weights contradict; (4) NULL text hashes as '' consistently in
    corpus_fingerprint AND shard_manifest so the integrity comparison
    agrees; (5) skew_factor survives counts whose product would
    overflow BIGINT."""
    from streaming_parquet_spark.operators.pipeline import shard_manifest
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )
    from streaming_parquet_spark.operators.text import (
        fit_text_classifier,
        write_text_classifier,
    )
    from streaming_parquet_spark.operators.tokenize import (
        fit_unigram_vocab,
        read_unigram_vocab,
        write_unigram_vocab,
    )

    # (1) derived pin
    vocab = fit_unigram_vocab(docs, vocab_size=64, max_piece_len=5,
                              max_words=2_000)
    spark.sql("DROP TABLE IF EXISTS maw_fix_uni")
    try:
        write_unigram_vocab(vocab, "maw_fix_uni")          # derives
        _, pinned = read_unigram_vocab(spark, "maw_fix_uni")
        derived = max(
            len(r["piece"]) for r in vocab.collect()
        )
        assert pinned == derived
        with pytest.raises(ValueError, match="longest piece"):
            write_unigram_vocab(vocab, "maw_fix_uni",
                                max_piece_len=derived - 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS maw_fix_uni")
    # (2) empty corpus
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert fit_unigram_vocab(empty).count() == 0
    ws = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    assert fit_unigram_vocab(ws).count() == 0
    # (3) contradictory buckets pin
    pos = docs.limit(16).select("doc_id", "text")
    neg = docs.limit(16).select(
        (F.lit(-1) - F.col("doc_id")).alias("doc_id"),
        F.lit("zz zz zz zz zz zz").alias("text"),
    )
    model = fit_text_classifier(pos, neg, buckets=256)
    max_bkt = model.agg(F.max("bkt")).first()[0]
    if max_bkt is not None and max_bkt >= 16:
        with pytest.raises(ValueError, match="cannot be right"):
            write_text_classifier(model, "maw_fix_clf", buckets=16)
    # (4) NULL text consistency
    withnull = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    fp = corpus_fingerprint(withnull).collect()[0]
    man = shard_manifest(withnull, 1, text_col="text").collect()[0]
    assert (fp["fp_a"], fp["fp_b"]) == (man["fp_a"], man["fp_b"])
    assert fp["n_chars_total"] == 5
    # NULL and '' collapse (documented): ids differ so digests differ
    fp2 = corpus_fingerprint(
        spark.createDataFrame(
            [(1, "alpha"), (2, ""), (3, "")], "doc_id long, text string"
        )
    ).collect()[0]
    assert (fp2["fp_a"], fp2["fp_b"]) == (fp["fp_a"], fp["fp_b"])
    # (5) skew_factor divides before multiplying (the overflow-free
    # order; huge synthetic counts aren't constructible through the
    # public API, so the order itself is pinned on realistic data)
    from streaming_parquet_spark.operators.skew import skew_report

    rep = skew_report(
        spark.createDataFrame(
            [(i, "hot") for i in range(50)] + [(100, "cold")],
            "id long, key string",
        ),
        ["key"], top_n=2, target_rows_per_task=10,
    ).collect()
    hot = next(r for r in rep if r["key"] == "hot")
    assert hot["skew_factor"] == round(50 / 51 * 2, 2)


def test_verify_shards(spark, docs, tmp_path):
    """verify_shards wraps the manifest-vs-readback loop: all shards
    ok on a faithful write, a tampered shard flips ok=false with the
    observed digests shown, and a missing shard reports zero observed
    docs instead of raising."""
    from streaming_parquet_spark.operators.pipeline import (
        SHARD_SEED,
        shard_manifest,
        verify_shards,
    )
    from streaming_parquet_spark.functions.portable import (
        hash_bucket_expr,
    )

    n_shards = 3
    man = shard_manifest(docs, n_shards, text_col="text")
    out = str(tmp_path / "vshards")
    shard = F.expr(
        hash_bucket_expr("spark", "doc_id", n_shards, seed=SHARD_SEED)
    ).cast("int")
    docs.withColumn("shard", shard).write.partitionBy("shard").parquet(out)
    rep = {r["shard"]: r for r in verify_shards(spark, man, out).collect()}
    assert set(rep) == set(range(n_shards))
    assert all(r["ok"] for r in rep.values())
    # tamper shard 1: materialize, flip one text, rewrite (never
    # overwrite a path from its own lazy read)
    part_rows = spark.read.parquet(f"{out}/shard=1").collect()
    min_id = min(r["doc_id"] for r in part_rows)
    tampered = [
        (r["doc_id"],
         "tampered" if r["doc_id"] == min_id else r["text"])
        + tuple(r[c] for c in part_rows[0].asDict()
                if c not in ("doc_id", "text"))
        for r in part_rows
    ]
    cols = ["doc_id", "text"] + [
        c for c in part_rows[0].asDict() if c not in ("doc_id", "text")
    ]
    spark.createDataFrame(tampered, cols).write.mode(
        "overwrite"
    ).parquet(f"{out}/shard=1")
    rep2 = {r["shard"]: r for r in verify_shards(spark, man, out).collect()}
    assert not rep2[1]["ok"] and rep2[0]["ok"] and rep2[2]["ok"]
    assert rep2[1]["n_docs_observed"] == rep2[1]["n_docs_promised"]
    # remove shard 2 entirely
    import shutil
    shutil.rmtree(f"{out}/shard=2")
    rep3 = {r["shard"]: r for r in verify_shards(spark, man, out).collect()}
    assert not rep3[2]["ok"] and rep3[2]["n_docs_observed"] == 0


def test_verify_shards_corrupt_footer_raises(spark, docs, tmp_path):
    """A shard that EXISTS but cannot be read must RAISE, not report
    as 'missing, 0 docs': the old per-shard catch-all masked corrupt
    footers behind the absence answer."""
    import pytest

    from streaming_parquet_spark.functions.portable import (
        hash_bucket_expr,
    )
    from streaming_parquet_spark.operators.pipeline import (
        SHARD_SEED,
        shard_manifest,
        verify_shards,
    )

    n_shards = 3
    man = shard_manifest(docs, n_shards, text_col="text")
    out = str(tmp_path / "vshards_corrupt")
    shard = F.expr(
        hash_bucket_expr("spark", "doc_id", n_shards, seed=SHARD_SEED)
    ).cast("int")
    docs.withColumn("shard", shard).write.partitionBy("shard").parquet(out)
    # overwrite one data file's bytes with garbage (valid length,
    # invalid magic/footer)
    import os

    part_dir = f"{out}/shard=1"
    victim = next(
        os.path.join(part_dir, f)
        for f in sorted(os.listdir(part_dir))
        if f.endswith(".parquet")
    )
    with open(victim, "wb") as f:
        f.write(b"\x00" * 512)
    with pytest.raises(Exception):
        verify_shards(spark, man, out).collect()


def test_verify_shards_many_shards_single_scan(spark, docs, tmp_path):
    """A 10k-row manifest verifies in ONE distributed scan (a handful
    of Spark jobs), not one driver-launched job per shard — the launch
    latency of 10k sequential jobs would dominate long before data
    does.  Missing shards report 0/false; written shards verify."""
    from streaming_parquet_spark.functions.portable import (
        hash_bucket_expr,
    )
    from streaming_parquet_spark.operators.pipeline import (
        SHARD_SEED,
        shard_manifest,
        verify_shards,
    )

    n_shards = 3
    man = shard_manifest(docs, n_shards, text_col="text")
    # pad the manifest to 10k shards: ids 1000.. promise docs that were
    # never written
    pad = spark.range(1000, 1000 + 10_000 - 3).select(
        F.col("id").cast("int").alias("shard"),
        F.lit(7).cast("bigint").alias("n_docs"),
        F.col("id").alias("min_id"),
        F.col("id").alias("max_id"),
        F.lit(1).cast("bigint").alias("fp_a"),
        F.lit(2).cast("bigint").alias("fp_b"),
    )
    big_man = man.unionByName(pad)
    out = str(tmp_path / "vshards_many")
    shard = F.expr(
        hash_bucket_expr("spark", "doc_id", n_shards, seed=SHARD_SEED)
    ).cast("int")
    docs.withColumn("shard", shard).write.partitionBy("shard").parquet(out)
    sc = spark.sparkContext
    group = "verify-shards-many"
    sc.setJobGroup(group, "verify_shards single-scan gate")
    try:
        rows = verify_shards(spark, big_man, out).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, (
        f"{len(jobs)} Spark jobs for a 10k-shard verify — the scan "
        f"is per-shard again"
    )
    rep = {r["shard"]: r for r in rows}
    assert len(rep) == 10_000
    assert all(rep[s]["ok"] for s in range(n_shards))
    missing = [r for s, r in rep.items() if s >= 1000]
    assert all(
        (not r["ok"]) and r["n_docs_observed"] == 0 for r in missing
    )


def test_batch_manifest_composes_to_corpus_fingerprint(spark, docs):
    """batch_manifest rows compose exactly: XOR of per-batch digests
    and sums of counts reproduce corpus_fingerprint of the whole
    frame — the audit-trail invariant that makes batch-level rollback
    reasoning sound."""
    from functools import reduce

    from streaming_parquet_spark.operators.profile import (
        batch_manifest,
        corpus_fingerprint,
    )

    batched = docs.withColumn(
        "ingest_batch", (F.col("doc_id") % 4).cast("int")
    )
    man = batch_manifest(batched).collect()
    assert len(man) == 4
    whole = corpus_fingerprint(docs).collect()[0]
    assert sum(r["n_docs"] for r in man) == whole["n_docs"]
    assert sum(r["n_chars_total"] for r in man) == whole["n_chars_total"]
    assert reduce(lambda a, r: a ^ r["fp_a"], man, 0) == whole["fp_a"]
    assert reduce(lambda a, r: a ^ r["fp_b"], man, 0) == whole["fp_b"]


def test_batch_drift(spark):
    """batch_drift: an on-distribution batch scores near 1 against the
    corpus vector, an off-distribution batch scores near 0, and the
    result is partitioning-invariant."""
    from streaming_parquet_spark.operators.text import batch_drift

    normal = "alpha beta gamma delta alpha beta"
    weird = "zz9 qq8 xx7 vv6 zz9 qq8"
    rows = (
        [(i, 0, normal) for i in range(20)]
        + [(100 + i, 1, normal) for i in range(20)]
        + [(200 + i, 2, weird) for i in range(20)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, ingest_batch int, text string"
    )
    got = {r["ingest_batch"]: r for r in batch_drift(df).collect()}
    assert set(got) == {0, 1, 2}
    # exact geometry: normal batch vector (40,40,20,20) vs corpus
    # (80,80,40,40,40,40,20,20) -> cos = 8000/sqrt(4000*20000) = 2/sqrt(5);
    # the weird batch shares only its own corpus share -> 1/sqrt(5)
    assert got[0]["cosine"] == got[1]["cosine"] == 0.8944
    assert got[2]["cosine"] == 0.4472
    again = {
        r["ingest_batch"]: r["cosine"]
        for r in batch_drift(df.repartition(7)).collect()
    }
    assert again == {b: r["cosine"] for b, r in got.items()}


def test_tokenizer_closures_ship_by_value(tmp_path):
    """The apply UDF closures are SELF-CONTAINED: a cloudpickled
    encoder loads and runs in a Python process that cannot import this
    package (executors need no --py-files for the tokenizer applies —
    unlike the multimodal mapInPandas operators, which resolve by
    module name; r9 advice).  Both encoders, both word-split rules."""
    import subprocess
    import sys
    import textwrap

    from pyspark import cloudpickle

    from streaming_parquet_spark.operators.tokenize import (
        _make_bpe_encoder,
        _make_unigram_encoder,
    )

    bpe = _make_bpe_encoder({("l", "o"): 0}, "cjk-char-v1")
    uni = _make_unigram_encoder(
        {"lo": -1.0, "l": -2.0, "o": -2.0, "w": -2.5},
        2, -20.0, "</w>", "ascii-space-v1",
    )
    payload = tmp_path / "encoders.pkl"
    payload.write_bytes(cloudpickle.dumps((bpe, uni)))
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import pickle
            try:
                import streaming_parquet_spark
                raise SystemExit("package importable; probe is vacuous")
            except ModuleNotFoundError:
                pass
            bpe, uni = pickle.load(open({str(payload)!r}, "rb"))
            got = bpe(["low \\u4f4e\\u3044", None])
            want = [["lo", "w", "</w>", "\\u4f4e", "</w>",
                     "\\u3044", "</w>"], []]
            assert got == want, got
            assert uni(["low"]) == [["lo", "w</w>"]], uni(["low"])
            import sys
            assert not any(
                m.startswith("streaming_parquet_spark")
                for m in sys.modules
            )
            print("SELF_CONTAINED_OK")
            """
        ),
        encoding="utf-8",
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYTHONSTARTUP")
    }
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "SELF_CONTAINED_OK" in proc.stdout


def test_by_value_refuses_module_global_functions():
    """_by_value's construction-time guard: a function referencing a
    module-level FUNCTION cannot ship by value (it would arrive as an
    import reference) and must be refused loudly, not fail on an
    executor at runtime.  Immutable constants pass."""
    import pytest

    import streaming_parquet_spark.operators.tokenize as tk

    with pytest.raises(ValueError, match="only builtins and immutable"):
        tk._by_value(tk.fit_bpe_merges)  # references F/T module objects
    # the two encoders' helpers stay shippable — this is the invariant
    # the self-containment test above depends on
    assert tk._by_value(tk._bpe_encode_word)("hi", {}) == [
        "h", "i", "</w>"
    ]
    assert tk._by_value(tk._viterbi_segment)(
        "ab", {"ab": -1.0}, 2, -20.0
    ) == ["ab"]


def test_word_split_rule_travels_via_metadata(spark):
    """The word-split rule is derivable from every frame in the
    fit -> apply -> vocab chain WITHOUT the caller restating it (r9
    advice: a restated default is where CJK pipelines silently pinned
    the wrong rule): fits stamp column metadata (so an EMPTY fit — a
    legitimate zero-merge char-level tokenizer — keeps its rule),
    applies stamp the encoded tokens column, subword_vocab derives
    from the stamp, and every conflict path raises."""
    import pytest

    from streaming_parquet_spark.operators.tokenize import (
        _RULE_META,
        _frame_rule,
        apply_bpe,
        fit_bpe_merges,
        subword_vocab,
        write_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low lower"), (2, "低い 低く")],
        "doc_id bigint, text string",
    )
    # EMPTY fit (zero merges) keeps its CJK rule via metadata alone
    empty = fit_bpe_merges(docs, n_merges=0, word_split="cjk-char-v1")
    assert empty.count() == 0
    assert _frame_rule(empty, None) == "cjk-char-v1"
    tbl = "maw_test_empty_cjk_merges"
    write_bpe_merges(empty, tbl)
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        assert props["maw.subword.word_split"] == "cjk-char-v1"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # apply stamps the tokens column; subword_vocab derives the rule
    enc = apply_bpe(docs, empty)
    assert enc.schema["bpe_tokens"].metadata[_RULE_META] == "cjk-char-v1"
    vocab = subword_vocab(enc, "bpe_tokens")
    assert vocab.schema["word_split"].metadata[_RULE_META] == "cjk-char-v1"
    assert {r["word_split"] for r in vocab.collect()} == {"cjk-char-v1"}
    # conflicting explicit raises; stampless + ruleless raises
    with pytest.raises(ValueError, match="would pin the wrong rule"):
        subword_vocab(enc, "bpe_tokens", word_split="ascii-space-v1")
    bare = enc.withMetadata("bpe_tokens", {})
    with pytest.raises(ValueError, match="no word-split stamp"):
        subword_vocab(bare, "bpe_tokens")
    # hand-built frames still work when the rule is stated
    assert subword_vocab(
        bare, "bpe_tokens", word_split="cjk-char-v1"
    ).count() == vocab.count()
    # metadata/rows disagreement (someone rewrote one side) raises
    nonempty = fit_bpe_merges(docs, n_merges=4, word_split="cjk-char-v1")
    forged = nonempty.withMetadata(
        "word_split", {_RULE_META: "ascii-space-v1"}
    )
    with pytest.raises(ValueError, match="rows carry"):
        _frame_rule(forged, None)


def test_packer_duplicate_order_key_raises(spark):
    """The packers' determinism contract (order_col unique per
    partition) is ENFORCED, not assumed: duplicate keys raise at run
    time instead of silently emitting tie-order-dependent windows (r9
    advice), the guard rides the packing window's own sort (no second
    Exchange in the plan), and valid data is byte-identical with the
    guard on or off."""
    import pytest

    from streaming_parquet_spark.operators.pipeline import (
        pack_sequences,
        pack_token_windows,
    )

    dup = spark.createDataFrame(
        [(1, "a", [1, 2, 3]), (2, "a", [4, 5]), (2, "a", [6])],
        "doc_id bigint, shard string, toks array<int>",
    )
    with pytest.raises(Exception, match="duplicate order key 2"):
        pack_token_windows(
            dup, "toks", 4, order_col="doc_id", part_col="shard"
        ).collect()
    with pytest.raises(Exception, match="duplicate order key 2"):
        pack_sequences(
            dup.withColumn("n", F.size("toks")),
            "n", 4, order_col="doc_id", part_col="shard",
        ).collect()
    good = spark.createDataFrame(
        [(1, "a", [1, 2, 3]), (2, "a", [4, 5]), (3, "a", [6])],
        "doc_id bigint, shard string, toks array<int>",
    )
    on = pack_token_windows(
        good, "toks", 4, order_col="doc_id", part_col="shard"
    )
    off = pack_token_windows(
        good, "toks", 4, order_col="doc_id", part_col="shard",
        validate_order=False,
    )
    # CollapseWindow merges the lag check into the existing Window
    # node: same Exchange count with the guard on, one Window node
    # (plans read BEFORE collect — a post-AQE toString holds Final +
    # Initial plans and double-counts every node)
    plan_on = on._jdf.queryExecution().executedPlan().toString()
    plan_off = off._jdf.queryExecution().executedPlan().toString()
    assert plan_on.count("Exchange") == plan_off.count("Exchange")
    assert plan_on.count("+- Window") == 1
    assert sorted(
        (r["shard"], r["win"], r["ids"], r["n_tokens"], r["doc_starts"])
        for r in on.collect()
    ) == sorted(
        (r["shard"], r["win"], r["ids"], r["n_tokens"], r["doc_starts"])
        for r in off.collect()
    )


def test_token_shards_roundtrip_and_contract(spark, tmp_path):
    """The persisted training-shard artifact: write -> read -> verify
    round trip, with the contract pinned the way every other artifact
    pins its parameters — a reader supplying a DIFFERENT vocabulary is
    refused (ids are meaningless without the vocab that assigned
    them), a missing sidecar is loud, and the manifest promise
    matches the readback digest per shard."""
    import pytest

    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_token_shards,
        verify_token_shards,
        write_token_shards,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", [3, 4, 5, 6, 7]),
            (2, "a", [8, 9]),
            (3, "b", [4, 4, 4, 4, 4, 4, 4]),
            (4, "b", [5]),
        ],
        "doc_id bigint, src string, toks array<int>",
    )
    vocab = spark.createDataFrame(
        [(0, "<pad>", "ascii-space-v1"), (1, "<unk>", "ascii-space-v1")]
        + [(i, f"p{i}", "ascii-space-v1") for i in range(2, 10)],
        "id int, piece string, word_split string",
    )
    win = pack_token_windows(
        docs, "toks", 4, order_col="doc_id", part_col="src", eos_id=1
    )
    path = str(tmp_path / "shards")
    man = write_token_shards(
        win, path, vocab, budget=4, shard_col="src", eos_id=1
    )
    got, contract = read_token_shards(spark, path, vocab_ids=vocab)
    assert contract["budget"] == 4 and contract["eos_id"] == 1
    assert contract["vocab_size"] == vocab.count()
    assert sorted(
        (r["src"], r["win"], r["ids"], r["n_tokens"], r["doc_starts"])
        for r in got.collect()
    ) == sorted(
        (r["src"], r["win"], r["ids"], r["n_tokens"], r["doc_starts"])
        for r in win.collect()
    )
    # verify: every shard ok, against both the sidecar and the
    # in-memory promise the writer returned
    assert all(r["ok"] for r in verify_token_shards(spark, path).collect())
    assert all(
        r["ok"]
        for r in verify_token_shards(spark, path, manifest=man).collect()
    )
    # a training run holding a DIFFERENT id table is refused
    other = spark.createDataFrame(
        [(0, "<pad>", "ascii-space-v1"), (1, "<unk>", "ascii-space-v1"),
         (2, "zz", "ascii-space-v1")],
        "id int, piece string, word_split string",
    )
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        read_token_shards(spark, path, vocab_ids=other)
    # vocab unsupplied: read succeeds (contract returned for caller
    # to check later)
    _, c2 = read_token_shards(spark, path)
    assert c2 == contract
    # no sidecar -> loud, not a silent empty read
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, str(tmp_path / "nowhere"))
    # a write that crashed BETWEEN its data and manifest legs: reads
    # refuse (incomplete artifact), but the writer-returned promise
    # still verifies the data that did land — no sidecar needed
    import shutil

    shutil.rmtree(f"{path}/_manifest")
    spark.catalog.refreshByPath(path)
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, path)
    crashed = verify_token_shards(spark, path, manifest=man)
    assert all(r["ok"] for r in crashed.collect())


def test_token_shards_tamper_detection(spark, tmp_path):
    """Integrity semantics of the shard verifier: an absent shard
    reports observed 0 / ok=false, a CONTENT change flips the
    fingerprint (ok=false with matching counts), a corrupt data file
    RAISES (corruption must never read as absence), and a budget-
    violating window refuses to write at all."""
    import shutil

    import pytest

    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        verify_token_shards,
        write_token_shards,
    )

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3), list(range(i % 5 + 1))) for i in range(1, 20)],
        "doc_id bigint, src string, toks array<int>",
    )
    vocab = spark.createDataFrame(
        [(0, "<pad>", "ascii-space-v1"), (1, "<unk>", "ascii-space-v1")],
        "id int, piece string, word_split string",
    )
    win = pack_token_windows(docs, "toks", 4, order_col="doc_id", part_col="src")
    path = str(tmp_path / "shards")
    write_token_shards(win, path, vocab, budget=4, shard_col="src")
    base = {r["shard"]: r for r in verify_token_shards(spark, path).collect()}
    assert all(r["ok"] for r in base.values())
    # content tamper: rewrite one shard's windows with one id flipped
    victim = "s1"
    tampered = (
        win.filter(F.col("src") == victim)
        .withColumn("ids", F.transform("ids", lambda x: x + 1))
    )
    shutil.rmtree(f"{path}/src={victim}")
    (
        tampered.drop("src").write.mode("append")
        .parquet(f"{path}/src={victim}")
    )
    spark.catalog.refreshByPath(path)
    after = {r["shard"]: r for r in verify_token_shards(spark, path).collect()}
    assert not after[victim]["ok"]
    assert (
        after[victim]["n_windows_observed"]
        == base[victim]["n_windows_observed"]
    )  # counts agree; the fingerprint is what catches it
    assert all(r["ok"] for s, r in after.items() if s != victim)
    # absence: remove a shard entirely
    shutil.rmtree(f"{path}/src=s2")
    spark.catalog.refreshByPath(path)
    gone = {r["shard"]: r for r in verify_token_shards(spark, path).collect()}
    assert not gone["s2"]["ok"] and gone["s2"]["n_windows_observed"] == 0
    # corruption: a garbage file inside a shard dir must RAISE
    with open(f"{path}/src=s0/garbage.parquet", "wb") as f:
        f.write(b"not a parquet file at all")
    spark.catalog.refreshByPath(path)
    with pytest.raises(Exception, match="FAILED_READ_FILE|Parquet|parquet"):
        verify_token_shards(spark, path).collect()
    # budget violation: refuses at the write scan
    bad = win.withColumn("ids", F.slice("ids", 1, 2))
    with pytest.raises(Exception, match="violates the budget"):
        write_token_shards(
            bad, str(tmp_path / "bad"), vocab, budget=4, shard_col="src"
        )


def test_fim_transform_matches_reference(spark):
    """fim_transform is bit-deterministic from the data alone: every
    transformed doc equals the pure-Python PSM reference (same
    portable hashes, same cut points), untransformed docs pass
    through, rate extremes behave (0 -> none, 100 -> all long
    enough), and the arrangement PARSES back to the original ids —
    prefix+middle+suffix reassemble exactly."""
    from streaming_parquet_spark.operators.pipeline import fim_transform

    rows = [(i, list(range(10, 10 + (i % 9)))) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "doc_id bigint, ids array<int>")
    out = fim_transform(df, "ids", pre_id=2, mid_id=3, suf_id=4,
                        rate_pct=60, min_ids=4)
    got = {r["doc_id"]: (r["ids"], r["fim_applied"]) for r in out.collect()}
    orig = dict(rows)

    m31 = 2**31 - 1

    def bucket(i, buckets, seed):
        return (((i % 1000003 + seed) % 1000003 * 2654435761) % m31) % buckets

    def wh(i, seed):
        parts = [
            ((i % p + seed) % p * 2654435761) % m31
            for p in (1000003, 999983)
        ]
        return parts[0] * 2147483648 + parts[1]

    n_applied = 0
    for i, ids in orig.items():
        n = len(ids)
        should = bucket(i, 100, 23) < 60 and n >= 4
        gids, applied = got[i]
        assert applied == should
        if not should:
            assert gids == ids
            continue
        n_applied += 1
        a, b = wh(i, 24) % (n + 1), wh(i, 25) % (n + 1)
        lo, hi = min(a, b), max(a, b)
        assert gids == [2] + ids[:lo] + [4] + ids[hi:] + [3] + ids[lo:hi]
        pre, suf, mid = gids.index(2), gids.index(4), gids.index(3)
        assert (
            gids[pre + 1:suf] + gids[mid + 1:] + gids[suf + 1:mid] == ids
        )
    assert 0 < n_applied < len(orig)  # the rate actually splits
    # extremes
    all_short = fim_transform(df, "ids", 2, 3, 4, rate_pct=100, min_ids=4)
    for r in all_short.collect():
        assert r["fim_applied"] == (len(orig[r["doc_id"]]) >= 4)
    none = fim_transform(df, "ids", 2, 3, 4, rate_pct=0)
    assert not any(r["fim_applied"] for r in none.collect())
    # partitioning invariance
    again = {
        r["doc_id"]: r["ids"]
        for r in fim_transform(
            df.repartition(7), "ids", 2, 3, 4, rate_pct=60
        ).collect()
    }
    assert again == {k: v[0] for k, v in got.items()}
    # SPM variant: same cut points, suffix moved ahead of the prefix
    spm = {
        r["doc_id"]: (r["ids"], r["fim_applied"])
        for r in fim_transform(
            df, "ids", 2, 3, 4, rate_pct=60, mode="spm"
        ).collect()
    }
    for i, ids in orig.items():
        gids, applied = spm[i]
        assert applied == got[i][1]
        if not applied:
            assert gids == ids
            continue
        n = len(ids)
        a, b = wh(i, 24) % (n + 1), wh(i, 25) % (n + 1)
        lo, hi = min(a, b), max(a, b)
        assert gids == [2, 4] + ids[hi:] + [3] + ids[:lo] + ids[lo:hi]
    import pytest

    with pytest.raises(ValueError, match="unknown mode"):
        fim_transform(df, "ids", 2, 3, 4, mode="mps")


def test_fim_sentinels_through_vocab_specials(spark):
    """The sentinel flow end to end: extra_specials reserve FIM ids
    at the head of the frozen vocabulary (declared order, pinned by
    write_subword_ids as part of the assignment contract), collision
    with a corpus piece refuses, and the reserved ids drive
    fim_transform into pack_token_windows with token counts
    composing."""
    import pytest

    from streaming_parquet_spark.operators.pipeline import (
        fim_transform,
        pack_token_windows,
    )
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe,
        fit_bpe_merges,
        read_subword_ids,
        subword_vocab,
        write_subword_ids,
    )

    docs = spark.createDataFrame(
        [(i, "low lower lowest new newer") for i in range(1, 30)],
        "doc_id bigint, text string",
    )
    merges = fit_bpe_merges(docs, n_merges=8)
    enc = apply_bpe(docs, merges)
    fim = ("<fim_prefix>", "<fim_middle>", "<fim_suffix>")
    vocab = subword_vocab(enc, "bpe_tokens", extra_specials=fim)
    rows = {r["piece"]: r for r in vocab.collect()}
    assert [rows[p]["id"] for p in fim] == [2, 3, 4]
    assert all(rows[p]["is_special"] for p in ("<pad>", "<unk>") + fim)
    n_special = sum(1 for r in rows.values() if r["is_special"])
    assert n_special == 5
    # corpus pieces start right after the special block, still asc
    corpus = sorted(
        (r["id"], r["piece"]) for r in rows.values() if not r["is_special"]
    )
    assert corpus[0][0] == 5
    assert [p for _, p in corpus] == sorted(p for _, p in corpus)
    # a special colliding with an emitted piece refuses
    emitted = corpus[0][1]
    with pytest.raises(ValueError, match="colliding"):
        subword_vocab(enc, "bpe_tokens", extra_specials=(emitted,))
    # persistence pins the special block
    tbl = "maw_test_fim_ids"
    write_subword_ids(vocab, tbl)
    try:
        got, pad_id, unk_id = read_subword_ids(spark, tbl)
        assert (pad_id, unk_id) == (0, 1)
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        assert props["maw.subword.n_specials"] == "5"
        assert props["maw.subword.specials"] == ",".join(
            ("<pad>", "<unk>") + fim
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # a hand-scrambled special block refuses to persist
    from pyspark.sql import functions as SF

    scrambled = vocab.withColumn(
        "is_special", SF.col("piece") == SF.lit("<fim_middle>")
    )
    with pytest.raises(ValueError, match="contiguous id block"):
        write_subword_ids(scrambled, "maw_test_fim_ids_bad")
    # FIM ids -> packing: sentinel-bearing docs pack like any others,
    # and the window stream's total real tokens equals the transformed
    # corpus total (n + 3 per applied doc)
    ids_df = apply_bpe(docs, merges, ids=vocab).select(
        "doc_id", F.col("bpe_tokens_ids").alias("ids")
    )
    fimmed = fim_transform(
        ids_df, "ids", pre_id=2, mid_id=3, suf_id=4, rate_pct=50
    )
    total = fimmed.agg(F.sum(F.size("ids"))).first()[0]
    win = pack_token_windows(fimmed, "ids", 16, order_col="doc_id")
    assert win.agg(F.sum("n_tokens")).first()[0] == total
    flat = win.agg(
        F.sum(F.size(F.filter("ids", lambda x: x == 2)))
    ).first()[0]
    assert flat == fimmed.filter("fim_applied").count()  # one <pre> each


def test_fim_transform_property(spark):
    """Hypothesis: for ANY document mix (empty/long, any ids), rate,
    min length, and mode, fim_transform reproduces a pure-Python
    reference of the portable-hash cut arithmetic and both
    arrangements."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        import pytest

        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import fim_transform

    m31 = 2**31 - 1

    def bucket(i, buckets, seed):
        b = i % 1000003
        if seed:
            b = (b + seed) % 1000003
        return ((b * 2654435761) % m31) % buckets

    def wh(i, seed):
        parts = []
        for p in (1000003, 999983):
            b = i % p
            if seed:
                b = (b + seed) % p
            parts.append((b * 2654435761) % m31)
        return parts[0] * 2147483648 + parts[1]

    def reference(doc_id, ids, rate, min_ids, mode):
        n = len(ids)
        if not (bucket(doc_id, 100, 23) < rate and n >= min_ids):
            return ids, False
        a, b = wh(doc_id, 24) % (n + 1), wh(doc_id, 25) % (n + 1)
        lo, hi = min(a, b), max(a, b)
        p, s, m = ids[:lo], ids[hi:], ids[lo:hi]
        if mode == "psm":
            return [-1] + p + [-3] + s + [-2] + m, True
        return [-1, -3] + s + [-2] + p + m, True

    @given(
        raw=st.lists(
            st.lists(st.integers(0, 99), min_size=0, max_size=10),
            min_size=1, max_size=8,
        ),
        rate=st.sampled_from([0, 40, 100]),
        min_ids=st.sampled_from([1, 4]),
        mode=st.sampled_from(["psm", "spm"]),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(raw, rate, min_ids, mode):
        rows = [(i + 1, ids) for i, ids in enumerate(raw)]
        df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
        got = {
            r["doc_id"]: (r["ids"], r["fim_applied"])
            for r in fim_transform(
                df, "ids", -1, -2, -3,
                rate_pct=rate, min_ids=min_ids, mode=mode,
            ).collect()
        }
        want = {
            i: reference(i, ids, rate, min_ids, mode) for i, ids in rows
        }
        assert got == want, (raw, rate, min_ids, mode)

    check()


def test_with_completion_labels(spark):
    """SFT label masking: only completion targets supervise — prompt
    targets, the final real token, and padding all mask to -100,
    while the ids themselves (the attention input) stay untouched."""
    from streaming_parquet_spark.operators.pipeline import (
        with_completion_labels,
    )

    rows = [
        # (ids, prompt_len, n_tokens) -> expected labels
        (1, [11, 12, 21, 22, 0, 0], 2, 4),
        (2, [11, 21, 0, 0, 0, 0], 1, 2),     # one-token completion
        (3, [11, 12, 13, 0, 0, 0], 3, 3),    # all-prompt: nothing to learn
        (4, [11, 12, 13, 14, 15, 16], 2, 6),  # no padding
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, ids array<int>, prompt_len int, n_tokens int"
    )
    got = {
        r["doc_id"]: r["labels"]
        for r in with_completion_labels(df, "prompt_len").collect()
    }
    ign = -100
    assert got[1] == [ign, 21, 22, ign, ign, ign]
    assert got[2] == [21, ign, ign, ign, ign, ign]
    assert got[3] == [ign] * 6
    assert got[4] == [ign, 13, 14, 15, 16, ign]
    # reference property over the whole frame: label i supervises iff
    # prompt_len <= i+1 < n_tokens
    for doc_id, ids, plen, n in rows:
        want = [
            ids[i + 1] if plen <= i + 1 < n else ign
            for i in range(len(ids))
        ]
        assert got[doc_id] == want


def test_append_token_shards(spark, tmp_path):
    """Incremental shard-set growth under the pinned contract: an
    append derives every parameter from the sidecar (nothing
    restatable), refuses a foreign vocabulary and overlapping shard
    keys (a REPLAYED append fails fast instead of silently doubling
    data), the combined set verifies whole, and a wave verifies alone
    against its returned promise."""
    import pytest

    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        pack_token_windows,
        read_token_shards,
        verify_token_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(0, "<pad>", "ascii-space-v1"), (1, "<unk>", "ascii-space-v1")],
        "id int, piece string, word_split string",
    )

    def wave(tag, lo, hi):
        docs = spark.createDataFrame(
            [
                (i, f"{tag}{i % 2}", list(range(i % 5 + 1)))
                for i in range(lo, hi)
            ],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", 4, order_col="doc_id", part_col="src"
        )

    path = str(tmp_path / "shards")
    w1 = wave("a", 1, 12)
    write_token_shards(w1, path, vocab, budget=4, shard_col="src")
    w2 = wave("b", 12, 25)
    man2 = append_token_shards(w2, path, vocab)
    assert sorted(r["shard"] for r in man2.collect()) == ["b0", "b1"]
    # whole-set verification covers both waves via the grown sidecar
    assert all(r["ok"] for r in verify_token_shards(spark, path).collect())
    # wave-scoped verification: promised rows only (the documented
    # idiom — other shards on disk are deliberately reported)
    wave_only = verify_token_shards(spark, path, manifest=man2).filter(
        "n_windows_promised > 0"
    )
    assert sorted(
        (r["shard"], r["ok"]) for r in wave_only.collect()
    ) == [("b0", True), ("b1", True)]
    # one contract over everything; all windows readable
    allw, contract = read_token_shards(spark, path, vocab_ids=vocab)
    assert allw.count() == w1.count() + w2.count()
    assert contract["budget"] == 4
    # replay refuses on shard-key overlap
    with pytest.raises(ValueError, match="already exist"):
        append_token_shards(w2, path, vocab)
    # a foreign vocabulary refuses before anything is written
    other = spark.createDataFrame(
        [(0, "<pad>", "ascii-space-v1"), (1, "<unk>", "ascii-space-v1"),
         (2, "zz", "ascii-space-v1")],
        "id int, piece string, word_split string",
    )
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        append_token_shards(wave("c", 30, 34), path, other)
    # nothing from the refused appends leaked onto disk
    assert read_token_shards(spark, path)[0].count() == allw.count()


def test_assign_shards_to_ranks_property(spark):
    """Hypothesis: for ANY weight multiset and world size the
    assignment covers every shard exactly once, stays inside
    [0, world), matches a pure-Python LPT reference bit-for-bit (the
    determinism pin — every rank recomputes the same answer), and
    holds the LPT balance bound max_load <= min_load + max_weight."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    import heapq

    from streaming_parquet_spark.operators.pipeline import (
        assign_shards_to_ranks,
    )

    def reference(weights, world):
        heap = [(0, r) for r in range(world)]
        out = {}
        order = sorted(
            ((w, f"s{i:03d}") for i, w in enumerate(weights)),
            key=lambda t: (-t[0], t[1]),
        )
        for w, s in order:
            load, rank = heapq.heappop(heap)
            out[s] = rank
            heapq.heappush(heap, (load + w, rank))
        return out

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        weights=st.lists(st.integers(0, 500), min_size=1, max_size=24),
        world=st.integers(1, 7),
    )
    def check(weights, world):
        man = spark.createDataFrame(
            [(f"s{i:03d}", w) for i, w in enumerate(weights)],
            "shard string, n_tokens long",
        )
        got = {
            r["shard"]: (r["rank"], r["weight"])
            for r in assign_shards_to_ranks(man, world).collect()
        }
        assert sorted(got) == [f"s{i:03d}" for i in range(len(weights))]
        assert all(0 <= v[0] < world for v in got.values())
        assert {s: v[0] for s, v in got.items()} == reference(
            weights, world
        )
        loads = [0] * world
        for s, (rank, w) in got.items():
            loads[rank] += w
        if weights:
            assert max(loads) <= min(loads) + max(weights)

    check()


def test_read_rank_shards_prunes_and_covers(spark, tmp_path):
    """read_rank_shards: the union over all ranks is the whole shard
    set with every window exactly once, each rank's scan filters on
    the shard partition column, a world larger than the shard count
    leaves the extra ranks empty (not erroring), and rank/vocab
    misuse refuses."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_rank_shards,
        write_token_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"src{i % 5}", [(i * 7 + j) % 11 + 2 for j in range(9)])
         for i in range(30)],
        "doc_id bigint, src string, toks array<int>",
    )
    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    win = pack_token_windows(
        docs, "toks", 16, order_col="doc_id", part_col="src", eos_id=1
    )
    path = str(tmp_path / "shards")
    write_token_shards(
        win, path, vocab, budget=16, shard_col="src", eos_id=1
    )
    total = win.count()
    seen = []
    for rank in range(3):
        part, contract = read_rank_shards(spark, path, rank, 3, vocab)
        assert contract["budget"] == 16
        seen.extend(
            (r["src"], r["win"]) for r in part.collect()
        )
    assert len(seen) == total and len(set(seen)) == total
    # more ranks than shards: the extras read empty, never error
    empties = 0
    for rank in range(8):
        part, _ = read_rank_shards(spark, path, rank, 8)
        empties += int(part.count() == 0)
    assert empties == 3  # 5 shards over 8 ranks
    with pytest.raises(ValueError, match="outside"):
        read_rank_shards(spark, path, 3, 3)
    other = spark.createDataFrame(
        [(0, "zz")], "id int, piece string"
    )
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        read_rank_shards(spark, path, 0, 3, other)


def test_assemble_turns_span_labels_property(spark):
    """Hypothesis: for ANY conversation shape (empty/null turn id
    arrays, any role mix, adjacent assistant turns, assistant-first /
    assistant-last), assemble_turns + with_span_labels reproduce a
    pure-Python reference — assembled ids, loss spans, and the
    span-masked next-token labels; and a single [prompt_len,
    n_tokens) span reproduces with_completion_labels bit-for-bit."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import (
        assemble_turns,
        with_completion_labels,
        with_span_labels,
    )

    ROLES = ["system", "user", "assistant", "tool"]
    turns_strategy = st.lists(
        st.tuples(
            st.sampled_from(ROLES),
            st.one_of(
                st.none(),
                st.lists(st.integers(1, 99), min_size=0, max_size=5),
            ),
        ),
        min_size=1,
        max_size=6,
    )

    def reference(turns, ign=-100):
        ids, spans = [], []
        for role, tids in turns:
            if not tids:
                continue
            if role == "assistant":
                spans.append((len(ids), len(ids) + len(tids)))
            ids.extend(tids)
        lab = [
            ids[i + 1]
            if i + 1 < len(ids)
            and any(s <= i + 1 < e for s, e in spans)
            else ign
            for i in range(len(ids))
        ]
        return ids, spans, lab

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(convs=st.lists(turns_strategy, min_size=1, max_size=4))
    def check(convs):
        df = spark.createDataFrame(
            [(i, [(r, t) for r, t in c]) for i, c in enumerate(convs)],
            "cid int, turns array<struct<role:string, ids:array<int>>>",
        )
        got = {
            r["cid"]: (
                r["ids"],
                [(s["start"], s["end"]) for s in r["loss_spans"]],
                r["labels"],
            )
            for r in with_span_labels(
                assemble_turns(df, "turns"), "loss_spans"
            ).collect()
        }
        want = {i: reference(c) for i, c in enumerate(convs)}
        assert got == want, convs

    check()

    # the single-span degenerate case IS completion-only labels
    ex = spark.createDataFrame(
        [([5, 6, 7, 8, 9, 0, 0], 5, 2)],
        "ids array<int>, n_tokens long, plen int",
    )
    a = with_completion_labels(ex, "plen").first()["labels"]
    b = with_span_labels(
        ex.withColumn(
            "sp",
            F.expr(
                "array(struct(plen AS start,"
                " CAST(n_tokens AS INT) AS end))"
            ),
        ),
        "sp",
    ).first()["labels"]
    assert a == b


def test_read_rank_shards_snapshot_pins_assignment(spark, tmp_path):
    """A concurrent producer append must not skew rank assignments:
    with snapshot pinned to the pre-append latest key, every rank's
    shard list is identical before and after the append; the grown
    set is visible only to an unpinned (or re-pinned) read."""
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        latest_shard_key,
        pack_token_windows,
        read_rank_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    docs = spark.createDataFrame(
        [(i, f"s{i % 4}", [(i + j) % 9 + 2 for j in range(7)])
         for i in range(24)],
        "doc_id bigint, src string, toks array<int>",
    )
    win = pack_token_windows(
        docs, "toks", 16, order_col="doc_id", part_col="src", eos_id=1
    )
    path = str(tmp_path / "shards")
    write_token_shards(
        win, path, vocab, budget=16, shard_col="src", eos_id=1
    )
    snap = latest_shard_key(spark, path)
    pinned = {
        rank: sorted(
            {r["src"] for r in read_rank_shards(
                spark, path, rank, 2, snapshot=snap
            )[0].collect()}
        )
        for rank in range(2)
    }
    # the producer appends a HEAVY new shard (reorders the greedy)
    more = spark.createDataFrame(
        [(100 + i, "zz", [(i + j) % 9 + 2 for j in range(7)])
         for i in range(40)],
        "doc_id bigint, src string, toks array<int>",
    )
    append_token_shards(
        pack_token_windows(
            more, "toks", 16, order_col="doc_id", part_col="src",
            eos_id=1,
        ),
        path,
        vocab,
    )
    after = {
        rank: sorted(
            {r["src"] for r in read_rank_shards(
                spark, path, rank, 2, snapshot=snap
            )[0].collect()}
        )
        for rank in range(2)
    }
    assert after == pinned  # the append is invisible under the pin
    # the AIRTIGHT form: an explicit key list (shard_snapshot) — same
    # stability, and a pinned key missing from the sidecar raises
    from streaming_parquet_spark.operators.pipeline import (
        shard_snapshot,
    )

    keyset = [k for k in shard_snapshot(spark, path) if k != "zz"]
    setpin = {
        rank: sorted(
            {r["src"] for r in read_rank_shards(
                spark, path, rank, 2, snapshot=keyset
            )[0].collect()}
        )
        for rank in range(2)
    }
    assert setpin == pinned
    with pytest.raises(ValueError, match="not in"):
        read_rank_shards(
            spark, path, 0, 2, snapshot=keyset + ["never-written"]
        )
    # unpinned: the new shard participates
    grown = set()
    for rank in range(2):
        grown |= {
            r["src"]
            for r in read_rank_shards(spark, path, rank, 2)[0].collect()
        }
    assert "zz" in grown
    with pytest.raises(ValueError, match="matches"):
        read_rank_shards(spark, path, 0, 2, snapshot="aaa")


def test_assemble_preference_pairs_property(spark):
    """Hypothesis: for ANY prompt/chosen/rejected lengths (incl. null
    and empty arrays, overflowing completions), the DPO arrangement
    matches a pure-Python reference — and the two sides of every pair
    carry a BYTE-IDENTICAL prompt region (the pair-safety property the
    fixed prompt cap exists for)."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import (
        assemble_preference_pairs,
    )

    BUDGET, MAXP = 10, 4
    arr = st.one_of(
        st.none(), st.lists(st.integers(1, 99), min_size=0, max_size=12)
    )

    def reference(p, c, r, ign=-100):
        p = p or []
        kept = p[max(0, len(p) - MAXP):]
        out = {}
        for side, comp in (("chosen", c), ("rejected", r)):
            comp = (comp or [])[: BUDGET - len(kept)]
            real = kept + comp
            ids = real + [0] * (BUDGET - len(real))
            lab = [
                ids[i + 1]
                if len(kept) <= i + 1 < len(real)
                else ign
                for i in range(BUDGET)
            ]
            out[side] = (len(kept), len(real), ids, lab)
        return out

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(arr, arr, arr), min_size=1, max_size=6
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [(i, p, c, r) for i, (p, c, r) in enumerate(rows)],
            "pair_id int, p array<int>, c array<int>, r array<int>",
        )
        got = {}
        for x in assemble_preference_pairs(
            df, "p", "c", "r", budget=BUDGET, max_prompt_len=MAXP
        ).collect():
            got.setdefault(x["pair_id"], {})[x["side"]] = (
                x["prompt_len"], x["n_tokens"], x["ids"], x["labels"]
            )
        want = {i: reference(p, c, r) for i, (p, c, r) in enumerate(rows)}
        assert got == want, rows
        for pair in got.values():
            pl = pair["chosen"][0]
            assert pl == pair["rejected"][0]
            assert pair["chosen"][2][:pl] == pair["rejected"][2][:pl]

    check()


def test_compact_token_shards_preserves_content(spark, tmp_path):
    """Compaction re-buckets wave-sized shards into n training-sized
    ones: window CONTENT is a preserved multiset, the contract
    (budget/pads/vocab pins) carries over verbatim, the compacted set
    verifies end-to-end, (shard, win) stays unique, src is untouched,
    and sizing by shard_tokens derives n from the sidecar totals."""
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        compact_token_shards,
        pack_token_windows,
        read_token_shards,
        verify_token_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def wave(lo, n, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(7)])
             for i in range(n)],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src",
            eos_id=1,
        )

    src = str(tmp_path / "waves")
    write_token_shards(
        wave(0, 10, "w0"), src, vocab, budget=16, shard_col="src",
        eos_id=1,
    )
    for k, lo in (("w1", 100), ("w2", 200), ("w3", 300)):
        append_token_shards(wave(lo, 10, k), src, vocab)

    def payloads(df):
        return sorted(
            (tuple(r["ids"]), r["n_tokens"], tuple(r["doc_starts"]))
            for r in df.collect()
        )

    src_windows, src_contract = read_token_shards(spark, src, vocab)
    before = payloads(src_windows)

    dst = str(tmp_path / "compacted")
    man = compact_token_shards(spark, src, dst, n_shards=2)
    assert {r["shard"] for r in man.select("shard").collect()} <= {
        "compact-0000", "compact-0001"
    }
    got, contract = read_token_shards(spark, dst, vocab_ids=vocab)
    assert contract == src_contract
    assert payloads(got) == before
    keys = [(r["src"], r["win"]) for r in got.collect()]
    assert len(keys) == len(set(keys))
    assert verify_token_shards(spark, dst).filter("NOT ok").count() == 0
    # src untouched
    assert payloads(read_token_shards(spark, src, vocab)[0]) == before
    # deterministic: a second compaction to a fresh path is bit-equal
    dst2 = str(tmp_path / "compacted2")
    compact_token_shards(spark, src, dst2, n_shards=2)
    assert sorted(
        (r["src"], r["win"], tuple(r["ids"]))
        for r in read_token_shards(spark, dst2)[0].collect()
    ) == sorted(
        (r["src"], r["win"], tuple(r["ids"])) for r in got.collect()
    )
    # sizing by target tokens: n = ceil(total / target)
    total = sum(r["n_tokens"] for r in man.collect())
    dst3 = str(tmp_path / "compacted3")
    man3 = compact_token_shards(
        spark, src, dst3, shard_tokens=(total + 2) // 3
    )
    assert man3.select("shard").distinct().count() <= 3
    with pytest.raises(ValueError, match="exactly one"):
        compact_token_shards(spark, src, str(tmp_path / "x"))
    with pytest.raises(ValueError, match="disjoint"):
        compact_token_shards(spark, src, src, n_shards=2)
    with pytest.raises(ValueError, match="disjoint"):
        compact_token_shards(spark, src, src + "/nested", n_shards=2)
    with pytest.raises(ValueError, match=">= 1"):
        compact_token_shards(
            spark, src, str(tmp_path / "y"), n_shards=0
        )
    # a TORN source (data without its promise) refuses outright:
    # compaction must never launder unmanifested windows into a
    # green destination manifest
    import shutil

    shutil.rmtree(f"{src}/src=w3")
    with pytest.raises(ValueError, match="failing verification"):
        compact_token_shards(
            spark, src, str(tmp_path / "z"), n_shards=2
        )


def test_window_digest_null_handling(spark):
    """token-shards-v2 digest (ADVICE r10): null array elements, null
    arrays, and empty arrays all render DISTINCT payloads — v1's
    concat_ws/array_join null-skipping let a window whose ids/starts
    were corrupted to null (or whose empty array became null) digest
    identically to the clean window and pass verification."""
    from streaming_parquet_spark.operators.pipeline import (
        TOKEN_SHARD_FORMAT,
        _window_digest_frame,
    )

    assert TOKEN_SHARD_FORMAT == "token-shards-v2"
    df = spark.createDataFrame(
        [
            ("s", 0, [1, 2], 2, [0]),     # clean
            ("s", 1, [1, None], 2, [0]),  # element corrupted to null
            ("s", 2, [1], 2, [0]),        # element lost
            ("s", 3, [1, 2], 2, []),      # empty starts
            ("s", 4, [1, 2], 2, None),    # starts corrupted to null
            ("s", 5, [1, 2], None, [0]),  # count corrupted to null
        ],
        "shard string, win int, ids array<int>, n_tokens int,"
        " doc_starts array<int>",
    )
    pay = [
        r["__win_payload"]
        for r in _window_digest_frame(
            df, "shard", "win", "ids", "n_tokens", "doc_starts"
        ).orderBy("__win_key").collect()
    ]
    assert len(set(pay)) == len(pay), pay
    assert pay[1] == "2|1,NULL|0"
    assert pay[3] == "2|1,2|"
    assert pay[4] == "2|1,2|<NULLARR>"
    assert pay[5] == "NULL|1,2|0"


def test_assemble_preference_pairs_quoted_column_names(spark):
    """Column names needing backticks (spaces, hyphens) resolve as
    literal columns, not SQL text (ADVICE r10): the sides array is
    built with the Column API."""
    from streaming_parquet_spark.operators.pipeline import (
        assemble_preference_pairs,
    )

    df = spark.createDataFrame(
        [(1, [5, 6, 7], [8, 9], [10])],
        "pair_id int, `the prompt` array<int>, `chosen-ids` array<int>,"
        " `rejected ids` array<int>",
    )
    got = {
        r["side"]: (r["prompt_len"], r["n_tokens"], r["ids"])
        for r in assemble_preference_pairs(
            df, "the prompt", "chosen-ids", "rejected ids",
            budget=8, max_prompt_len=2,
        ).collect()
    }
    assert got == {
        "chosen": (2, 4, [6, 7, 8, 9, 0, 0, 0, 0]),
        "rejected": (2, 3, [6, 7, 10, 0, 0, 0, 0, 0]),
    }


def test_compact_token_shards_refuses_grown_source(spark, tmp_path):
    """A producer appending to src mid-compaction refuses BEFORE the
    dst manifest write (ADVICE r10): the shard-key set pinned at entry
    is rechecked after the data write, dst stays loudly incomplete
    (data without sidecar), and the new wave's data is untouched."""
    import streaming_parquet_spark.operators.pipeline as pl
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        compact_token_shards,
        pack_token_windows,
        read_token_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def wave(lo, n, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(7)])
             for i in range(n)],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src",
        )

    src = str(tmp_path / "waves")
    write_token_shards(
        wave(0, 8, "w0"), src, vocab, budget=16, shard_col="src"
    )
    append_token_shards(wave(100, 8, "w1"), src, vocab)

    # grow src exactly between the entry pin and the quiescence
    # recheck: the recheck's sidecar re-read is compact's SECOND
    # _read_shard_contract call under its own caller name
    calls = {"n": 0}
    orig = pl._read_shard_contract

    def hooked(spark_, path, caller="read_token_shards"):
        if caller == "compact_token_shards":
            calls["n"] += 1
            if calls["n"] == 2:
                pl._read_shard_contract = orig
                append_token_shards(wave(200, 8, "w9"), src, vocab)
        return orig(spark_, path, caller)

    pl._read_shard_contract = hooked
    dst = str(tmp_path / "compacted")
    try:
        with pytest.raises(ValueError, match="changed during compaction"):
            compact_token_shards(spark, src, dst, n_shards=2)
    finally:
        pl._read_shard_contract = orig
    # dst is data-without-sidecar: loudly incomplete
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, dst)
    # the mid-flight wave survives in src; a fresh compaction (now
    # quiescent) carries all three waves
    dst2 = str(tmp_path / "compacted2")
    compact_token_shards(spark, src, dst2, n_shards=2)
    assert (
        read_token_shards(spark, dst2)[0].count()
        == read_token_shards(spark, src)[0].count()
    )


def test_shard_contract_errors_name_their_caller(spark, tmp_path):
    """Contract errors report the API the user invoked, not
    read_token_shards (ADVICE r10)."""
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        compact_token_shards,
        latest_shard_key,
        read_rank_shards,
        shard_snapshot,
    )

    vocab = spark.createDataFrame([(0, "p")], "id int, piece string")
    nowhere = str(tmp_path / "nowhere")
    w = spark.createDataFrame(
        [("a", 0, [1, 2], 2, [0])],
        "src string, win int, ids array<int>, n_tokens int,"
        " doc_starts array<int>",
    )
    for fn, call in (
        ("append_token_shards", lambda: append_token_shards(w, nowhere, vocab)),
        ("compact_token_shards", lambda: compact_token_shards(
            spark, nowhere, str(tmp_path / "d"), n_shards=1)),
        ("latest_shard_key", lambda: latest_shard_key(spark, nowhere)),
        ("shard_snapshot", lambda: shard_snapshot(spark, nowhere)),
        ("read_rank_shards", lambda: read_rank_shards(spark, nowhere, 0, 1)),
    ):
        with pytest.raises(ValueError, match=fn):
            call()


def test_read_rank_shards_resume_cursor_property(spark, tmp_path):
    """Hypothesis (VERDICT r10 item 5): for ANY cut point and any
    world_size, resume(cursor=c) disjoint-unions with the consumed
    prefix (pos < c) to the rank's full window set, every window
    exactly once; pos is a bijection 0..n-1 in (shard, win) ascending
    order, identical across reads."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        pack_token_windows,
        read_rank_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def wave(lo, n, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n)],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src",
        )

    path = str(tmp_path / "shards")
    write_token_shards(
        wave(0, 9, "w0"), path, vocab, budget=16, shard_col="src"
    )
    for k, lo, n in (("w1", 100, 4), ("w2", 200, 13), ("w3", 300, 2)):
        append_token_shards(wave(lo, n, k), path, vocab)

    full_cache: dict = {}

    def full(world, rank):
        if (world, rank) not in full_cache:
            df, _ = read_rank_shards(
                spark, path, rank, world, pos_col="pos"
            )
            rows = sorted(
                ((r["src"], r["win"]), r["pos"], tuple(r["ids"]))
                for r in df.collect()
            )
            # pos is a bijection 0..n-1, ordered by (shard, win)
            assert [p for _k, p, _i in rows] == list(range(len(rows)))
            full_cache[(world, rank)] = rows
        return full_cache[(world, rank)]

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        world=st.integers(1, 5),
        rank_seed=st.integers(0, 99),
        cut_seed=st.integers(0, 999),
    )
    def check(world, rank_seed, cut_seed):
        rank = rank_seed % world
        rows = full(world, rank)
        c = cut_seed % (len(rows) + 1)
        consumed = [(k, i) for k, p, i in rows if p < c]
        resumed, _ = read_rank_shards(
            spark, path, rank, world, cursor=c, pos_col="pos"
        )
        got = sorted(
            ((r["src"], r["win"]), tuple(r["ids"]))
            for r in resumed.collect()
        )
        assert got == [(k, i) for k, p, i in rows if p >= c]
        assert sorted(consumed + got) == [(k, i) for k, _p, i in rows]

    check()

    # plan shape: the position machinery stays broadcast + per-shard
    # window — no cartesian, no row-at-a-time Python, no global sort
    plan = read_rank_shards(spark, path, 0, 3, cursor=2, pos_col="pos")[
        0
    ]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan

    # union over ranks with positions = the whole set exactly once,
    # and a stale cursor past the rank's end refuses
    allk = []
    for rank in range(3):
        allk += [
            (r["src"], r["win"])
            for r in read_rank_shards(
                spark, path, rank, 3, pos_col="pos"
            )[0].collect()
        ]
    assert len(allk) == len(set(allk))
    n0 = len(full(3, 0))
    with pytest.raises(ValueError, match="past this rank's"):
        read_rank_shards(spark, path, 0, 3, cursor=n0 + 1)
    # cursor == n resumes to an empty (completed) slice
    done, _ = read_rank_shards(spark, path, 0, 3, cursor=n0)
    assert done.count() == 0


def test_read_mixture_shards_property(spark, tmp_path):
    """Hypothesis (VERDICT r10 item 6): the weighted interleave's
    key order equals a pure-Python stride-scheduling reference merge
    for ANY positive integer weights — every source window exactly
    once, every prefix proportional to the live sets' weights within
    one window per set."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    import math

    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_mixture_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def make_set(path, lo, n_docs, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n_docs)],
            "doc_id bigint, src string, toks array<int>",
        )
        win = pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src",
        )
        write_token_shards(
            win, path, vocab, budget=16, shard_col="src"
        )

    paths = {
        "web": str(tmp_path / "web"),
        "code": str(tmp_path / "code"),
        "books": str(tmp_path / "books"),
    }
    make_set(paths["web"], 0, 14, "w")
    make_set(paths["code"], 100, 6, "c")
    make_set(paths["books"], 200, 3, "b")
    spark_counts = {}

    def reference(counts, weights):
        names = sorted(counts)
        lcm = math.lcm(*(weights[n] for n in names))
        entries = [
            ((p + 1) * (lcm // weights[n]) * len(names) + i, n, p)
            for i, n in enumerate(names)
            for p in range(counts[n])
        ]
        return [(n, p) for _k, n, p in sorted(entries)]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ws=st.tuples(
            st.integers(1, 9), st.integers(1, 9), st.integers(1, 9)
        )
    )
    def check(ws):
        weights = dict(zip(sorted(paths), ws))
        mixed, contract = read_mixture_shards(
            spark, paths, weights, vocab_ids=vocab
        )
        rows = sorted(
            (r["mix_key"], r["mix_source"], r["mix_pos"],
             r["src"], r["win"])
            for r in mixed.collect()
        )
        keys = [k for k, *_ in rows]
        assert len(keys) == len(set(keys))  # strict total order
        got = [(n, p) for _k, n, p, _s, _w in rows]
        if not spark_counts:
            from collections import Counter

            spark_counts.update(Counter(n for n, _ in got))
        want = reference(spark_counts, weights)
        assert got == want
        # exactly once per source window
        srcwins = [(n, s, w) for _k, n, _p, s, w in rows]
        assert len(srcwins) == len(set(srcwins))
        # prefix proportionality while every set is live: each live
        # set's share within one window of w_s/W
        total_w = sum(weights.values())
        from collections import Counter

        seen = Counter()
        for m, (n, _p) in enumerate(want, start=1):
            seen[n] += 1
            if all(seen[x] < spark_counts[x] for x in spark_counts):
                for x in spark_counts:
                    share = m * weights[x] / total_w
                    assert abs(seen[x] - share) <= len(spark_counts), (
                        m, x, seen[x], share, weights,
                    )

    check()


def test_read_mixture_rank_property(spark, tmp_path):
    """Hypothesis (VERDICT r11 item 1): rank-sliced mixture reads
    compose — for ANY world_size, weights, per-set snapshot pins,
    epoch, and cut point, the union over ranks of read_mixture_rank
    equals the full mixture's window multiset exactly once; each
    rank's key-ordered stream follows the pure-Python stride
    reference over its own slice (per-rank weighted fairness); and
    the rank-local cursor splits any cut into consumed ⊎ resumed
    exactly once."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    import math
    from collections import Counter

    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_mixture_rank,
        read_mixture_shards,
        shard_snapshot,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def make_set(path, lo, n_docs, key, nparts):
        docs = spark.createDataFrame(
            [(lo + i, f"{key}{i % nparts}",
              [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n_docs)],
            "doc_id bigint, src string, toks array<int>",
        )
        write_token_shards(
            pack_token_windows(
                docs, "toks", 16, order_col="doc_id", part_col="src"
            ),
            path, vocab, budget=16, shard_col="src",
        )

    paths = {
        "web": str(tmp_path / "web"),
        "code": str(tmp_path / "code"),
        "books": str(tmp_path / "books"),
    }
    # shard counts straddle world_size: books (1 shard) runs dry on
    # most ranks — the composition must still be exactly-once
    make_set(paths["web"], 0, 16, "w", 4)
    make_set(paths["code"], 100, 8, "c", 2)
    make_set(paths["books"], 200, 3, "b", 1)
    all_keys = {n: shard_snapshot(spark, paths[n]) for n in paths}

    # plan shape (once — it doesn't vary with the drawn parameters):
    # the rank slice is the mixture's plan behind a key filter — no
    # cartesian, no Python rows, one win-row_number Exchange per set
    shaped, _ = read_mixture_rank(
        spark, paths, {"web": 3, "code": 2, "books": 1}, 0, 2
    )
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3  # one/set

    def stride_names(counts, weights):
        """The reference merge's set-name sequence in key order."""
        names = sorted(counts)
        lcm = math.lcm(*(weights[n] for n in names))
        entries = [
            ((p + 1) * (lcm // weights[n]) * len(names) + i, n)
            for i, n in enumerate(names)
            for p in range(counts[n])
        ]
        return [n for _k, n in sorted(entries)]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        world=st.integers(1, 5),
        ws=st.tuples(
            st.integers(1, 9), st.integers(1, 9), st.integers(1, 9)
        ),
        drop_last=st.tuples(st.booleans(), st.booleans(), st.booleans()),
        epoch=st.one_of(st.none(), st.integers(0, 3)),
        cutf=st.floats(0.1, 0.9),
    )
    def check(world, ws, drop_last, epoch, cutf):
        weights = dict(zip(sorted(paths), ws))
        # snapshot pins: optionally drop each set's last shard (but
        # never below one shard) — the assignment and the full
        # mixture must respect the SAME pin
        snaps = {}
        for n, d in zip(sorted(paths), drop_last):
            keys = all_keys[n]
            snaps[n] = keys[:-1] if (d and len(keys) > 1) else keys
        full, _ = read_mixture_shards(
            spark, paths, weights, vocab_ids=vocab, snapshots=snaps,
            epoch=epoch,
        )
        full_windows = sorted(
            (r["mix_source"], r["src"], r["win"])
            for r in full.select("mix_source", "src", "win").collect()
        )
        union, cursor_checked = [], False
        for rank in range(world):
            part, _ = read_mixture_rank(
                spark, paths, weights, rank, world, vocab_ids=vocab,
                snapshots=snaps, epoch=epoch,
            )
            rows = sorted(
                (r["mix_key"], r["mix_source"], r["mix_pos"],
                 r["src"], r["win"])
                for r in part.select(
                    "mix_key", "mix_source", "mix_pos", "src", "win"
                ).collect()
            )
            keys = [k for k, *_ in rows]
            assert len(keys) == len(set(keys))  # rank-local total order
            union.extend((n, s, w) for _k, n, _p, s, w in rows)
            counts = Counter(n for _k, n, _p, _s, _w in rows)
            # per-rank fairness: the name sequence in key order IS the
            # stride reference over the rank's live slice
            got_names = [n for _k, n, _p, _s, _w in rows]
            assert got_names == stride_names(counts, weights), (
                world, rank, weights,
            )
            # epoch permutes positions within the rank-local space:
            # each live set's scheduled positions are exactly 0..c-1
            for n, c in counts.items():
                got_pos = sorted(
                    p for _k, nn, p, _s, _w in rows if nn == n
                )
                assert got_pos == list(range(c)), (rank, n)
            # rank-local cursor: one cut per example, on the first
            # rank that holds >= 2 windows
            if not cursor_checked and len(rows) >= 2:
                cursor_checked = True
                cut = max(1, min(len(rows) - 1, int(len(rows) * cutf)))
                resumed, _c = read_mixture_rank(
                    spark, paths, weights, rank, world,
                    vocab_ids=vocab, snapshots=snaps, epoch=epoch,
                    cursor=rows[cut - 1][0],
                )
                got = sorted(
                    (r["mix_key"], r["mix_source"], r["mix_pos"],
                     r["src"], r["win"])
                    for r in resumed.select(
                        "mix_key", "mix_source", "mix_pos", "src",
                        "win"
                    ).collect()
                )
                assert got == rows[cut:], (world, rank, cut)
        # exactly-once across the world, same pinned universe
        assert sorted(union) == full_windows, (world, weights)

    check()


def test_read_mixture_shards_refusals(spark, tmp_path):
    """Mixture refusals: mismatched names, non-positive weights,
    duplicate paths, foreign vocabulary across sets, contract drift,
    snapshot keys outside the sidecar — and snapshot pinning keeps a
    concurrent append out of the mixture."""
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        pack_token_windows,
        read_mixture_shards,
        shard_snapshot,
        write_token_shards,
    )

    def vocab_of(n):
        return spark.createDataFrame(
            [(i, f"p{i}") for i in range(n)], "id int, piece string"
        )

    vocab = vocab_of(16)

    def wave(lo, n, key, budget=16):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n)],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", budget, order_col="doc_id", part_col="src",
        )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_token_shards(wave(0, 6, "x"), a, vocab, budget=16,
                       shard_col="src")
    write_token_shards(wave(100, 4, "y"), b, vocab, budget=16,
                       shard_col="src")

    with pytest.raises(ValueError, match="same names"):
        read_mixture_shards(spark, {"a": a, "b": b}, {"a": 1})
    with pytest.raises(ValueError, match="positive integer"):
        read_mixture_shards(spark, {"a": a, "b": b}, {"a": 1, "b": 0})
    with pytest.raises(ValueError, match="positive integer"):
        read_mixture_shards(
            spark, {"a": a, "b": b}, {"a": 1, "b": 0.5}
        )
    with pytest.raises(ValueError, match="same shard set"):
        read_mixture_shards(spark, {"a": a, "b": a}, {"a": 1, "b": 1})
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        read_mixture_shards(
            spark, {"a": a, "b": b}, {"a": 1, "b": 1},
            vocab_ids=vocab_of(3),
        )

    # a set under a foreign vocabulary refuses set-vs-set
    c = str(tmp_path / "c")
    write_token_shards(wave(200, 3, "z"), c, vocab_of(9), budget=16,
                       shard_col="src")
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        read_mixture_shards(
            spark, {"a": a, "c": c}, {"a": 1, "c": 1}
        )
    # contract drift (budget) refuses even under one vocabulary
    d = str(tmp_path / "d")
    write_token_shards(wave(300, 3, "q", budget=32), d, vocab,
                       budget=32, shard_col="src")
    with pytest.raises(ValueError, match="different contract"):
        read_mixture_shards(
            spark, {"a": a, "d": d}, {"a": 1, "d": 1}
        )

    # snapshot pinning: a concurrent append to b stays out
    snap = {"a": shard_snapshot(spark, a), "b": shard_snapshot(spark, b)}
    n_before = read_mixture_shards(
        spark, {"a": a, "b": b}, {"a": 2, "b": 1}, snapshots=snap
    )[0].count()
    append_token_shards(wave(400, 5, "y2"), b, vocab)
    mixed, _ = read_mixture_shards(
        spark, {"a": a, "b": b}, {"a": 2, "b": 1}, snapshots=snap
    )
    assert mixed.count() == n_before
    assert mixed.where("src = 'y2'").count() == 0
    # unpinned, the new shard participates
    assert read_mixture_shards(
        spark, {"a": a, "b": b}, {"a": 2, "b": 1}
    )[0].where("src = 'y2'").count() > 0
    with pytest.raises(ValueError, match="not in its sidecar"):
        read_mixture_shards(
            spark, {"a": a, "b": b}, {"a": 1, "b": 1},
            snapshots={"b": ["nope"]},
        )
    # plan shape: the interleave key is a projection over per-set
    # broadcast position joins — no cross-set shuffle, no cartesian,
    # no Python in the path
    plan = read_mixture_shards(
        spark, {"a": a, "b": b}, {"a": 2, "b": 1}
    )[0]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # one/set (win rn)


def test_pinned_key_filter_semi_join_shape(spark, tmp_path, monkeypatch):
    """Past _PIN_ISIN_LIMIT keys the compaction pin / rank read /
    mixture read switch from a literal IN-list to a broadcast LEFT
    SEMI join (a 100k-shard pin must not carry 100k literals through
    the plan).  Row semantics must be identical in both shapes, and
    the semi-join must stay broadcast (no extra shuffle, no
    cartesian)."""
    from streaming_parquet_spark.operators import pipeline as P
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        compact_token_shards,
        pack_token_windows,
        read_mixture_shards,
        read_rank_shards,
        read_token_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def wave(lo, n, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n)],
            "doc_id bigint, src string, toks array<int>",
        )
        return pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src",
        )

    path = str(tmp_path / "shards")
    write_token_shards(
        wave(0, 9, "w0"), path, vocab, budget=16, shard_col="src"
    )
    for k, lo, n in (("w1", 100, 4), ("w2", 200, 13)):
        append_token_shards(wave(lo, n, k), path, vocab)

    def rank_rows():
        df, _ = read_rank_shards(spark, path, 0, 2, pos_col="pos")
        return sorted(
            (r["src"], r["win"], r["pos"], tuple(r["ids"]))
            for r in df.collect()
        )

    def content(p):
        return sorted(
            tuple(r["ids"]) for r in read_token_shards(spark, p)[0].collect()
        )

    base_rank = rank_rows()
    base_content = content(path)

    monkeypatch.setattr(P, "_PIN_ISIN_LIMIT", 0)

    # identical rows through the semi-join shape
    assert rank_rows() == base_rank
    df, _ = read_rank_shards(spark, path, 0, 2, pos_col="pos")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # compaction pin through the semi-join shape preserves content
    dst = str(tmp_path / "compacted")
    compact_token_shards(spark, path, dst, n_shards=2)
    assert content(dst) == base_content

    # mixture read through the semi-join shape: exactly-once union
    mixed, _ = read_mixture_shards(
        spark, {"a": path, "b": dst}, {"a": 2, "b": 1}
    )
    assert mixed.count() == 2 * len(base_content)

    # a caller frame that ALREADY carries a __pin_key column must not
    # make the semi-join condition ambiguous (r11 advisory): the key
    # side binds through the keys-frame reference
    poisoned = spark.createDataFrame(
        [("w0", "decoy"), ("w1", "decoy"), ("zz", "decoy")],
        "src string, __pin_key string",
    )
    got = sorted(
        r["src"]
        for r in P._pinned_key_filter(poisoned, "src", ["w0", "w1"])
        .collect()
    )
    assert got == ["w0", "w1"]


def test_read_mixture_shards_cursor_resume(spark, tmp_path):
    """Mid-epoch mixture resume: a trainer that consumed the mixture
    up to (and including) some mix_key resumes with cursor=<that key>
    and receives exactly the strictly-greater remainder — consumed ⊎
    resumed = the full mixture, every window exactly once, for any
    cut point including none and all."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_mixture_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def make_set(path, lo, n_docs, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n_docs)],
            "doc_id bigint, src string, toks array<int>",
        )
        write_token_shards(
            pack_token_windows(
                docs, "toks", 16, order_col="doc_id", part_col="src"
            ),
            path, vocab, budget=16, shard_col="src",
        )

    paths = {"a": str(tmp_path / "a"), "b": str(tmp_path / "b")}
    make_set(paths["a"], 0, 10, "x")
    make_set(paths["b"], 100, 4, "y")
    weights = {"a": 3, "b": 1}

    full, _ = read_mixture_shards(spark, paths, weights)
    rows = sorted(
        (r["mix_key"], r["mix_source"], r["src"], r["win"])
        for r in full.collect()
    )
    n = len(rows)
    for cut in (0, 1, n // 2, n - 1, n):
        consumed = rows[:cut]
        cursor = consumed[-1][0] if consumed else -1
        resumed, _ = read_mixture_shards(
            spark, paths, weights, cursor=cursor
        )
        got = sorted(
            (r["mix_key"], r["mix_source"], r["src"], r["win"])
            for r in resumed.collect()
        )
        assert got == rows[cut:], cut
        assert sorted(consumed + got) == rows


def test_with_epoch_order_properties(spark, tmp_path):
    """Per-epoch reorder without data movement: the (epoch_key, shard,
    win) triple is a unique total order, identical across
    partitionings; different epochs permute the shard visit order;
    granularity='shard' keeps each shard contiguous with windows
    ascending inside it; resume_epoch_order splits any cut into
    consumed ⊎ resumed exactly once; and the stamp adds no Exchange."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_rank_shards,
        resume_epoch_order,
        with_epoch_order,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    docs = spark.createDataFrame(
        [(i, f"s{i % 5}", [(i + j) % 9 + 2 for j in range(5)])
         for i in range(40)],
        "doc_id bigint, src string, toks array<int>",
    )
    path = str(tmp_path / "shards")
    write_token_shards(
        pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src"
        ),
        path, vocab, budget=16, shard_col="src",
    )
    windows, _ = read_rank_shards(spark, path, 0, 1)

    def ordered(epoch, granularity, df=None):
        out = with_epoch_order(
            df if df is not None else windows, epoch,
            shard_col="src", granularity=granularity,
        )
        return [
            (r["epoch_key"], r["src"], r["win"])
            for r in out.orderBy("epoch_key", "src", "win").collect()
        ]

    for gran in ("shard", "window"):
        rows = ordered(3, gran)
        assert len(rows) == len(set(rows)) and len(rows) > 10
        # identical across partitionings (pure function of identity)
        assert rows == ordered(3, gran, windows.repartition(7))
        # epochs actually permute: some epoch pair disagrees
        orders = {tuple((s, w) for _k, s, w in ordered(e, gran))
                  for e in range(4)}
        assert len(orders) > 1, gran
        # resume: any cut splits exactly once
        for cut in (0, 1, len(rows) // 2, len(rows) - 1, len(rows)):
            consumed = rows[:cut]
            if consumed:
                resumed = with_epoch_order(
                    windows, 3, shard_col="src", granularity=gran
                )
                got = sorted(
                    (r["epoch_key"], r["src"], r["win"])
                    for r in resume_epoch_order(
                        resumed, consumed[-1], shard_col="src"
                    ).collect()
                )
                assert got == sorted(rows[cut:]), (gran, cut)

    # granularity='shard': shards contiguous, windows ascending within
    rows = ordered(5, "shard")
    seen, last = [], None
    for _k, s, w in rows:
        if s != last:
            assert s not in seen, "shard split by the epoch order"
            seen.append(s)
            last = s
    by_shard = {}
    for _k, s, w in rows:
        by_shard.setdefault(s, []).append(w)
    for s, ws in by_shard.items():
        assert ws == sorted(ws), s

    # stateless projection: no Exchange added by the stamp
    plan = (
        with_epoch_order(windows, 1, shard_col="src")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_resume_epoch_order_numeric_shard_raw_order(spark):
    """resume_epoch_order's shard tiebreak must follow the RAW column
    order with_epoch_order documents for consumption (ORDER BY
    (out_col, shard, win)) — not a string cast, under which '10' < '9'
    and a cut at a shard boundary of a bigint-keyed set would silently
    skip the following shard (r11 advisory).  Forced epoch-key ties
    make the tiebreak load-bearing at every cut."""
    from streaming_parquet_spark.operators.pipeline import (
        resume_epoch_order,
    )

    # one shared epoch_key so (shard, win) decides everything; bigint
    # shards 2/9/10 order 9 < 10 raw but '10' < '9' as strings
    rows = [
        (7, s, w) for s in (2, 9, 10) for w in range(3)
    ]
    df = spark.createDataFrame(
        rows, "epoch_key bigint, shard bigint, win bigint"
    )
    full = sorted(rows)  # raw (key, shard, win) total order
    for cut in range(len(full) + 1):
        consumed = full[:cut]
        if not consumed:
            continue
        got = sorted(
            (r["epoch_key"], r["shard"], r["win"])
            for r in resume_epoch_order(df, consumed[-1]).collect()
        )
        assert got == full[cut:], f"cut={cut}"


def test_read_mixture_shards_epoch_permutation(spark, tmp_path):
    """epoch= permutes WHICH window fills each of a set's interleave
    slots while the slot pattern itself (the weighted fairness) is
    bit-identical: the ordered mix_source sequence matches the
    epoch-less read for every epoch, the (set, src, win) multiset is
    unchanged (bijection — exactly once), some epoch actually changes
    the content order, and the cursor composes under the same epoch."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_mixture_shards,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )

    def make_set(path, lo, n_docs, key):
        docs = spark.createDataFrame(
            [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(5)])
             for i in range(n_docs)],
            "doc_id bigint, src string, toks array<int>",
        )
        write_token_shards(
            pack_token_windows(
                docs, "toks", 16, order_col="doc_id", part_col="src"
            ),
            path, vocab, budget=16, shard_col="src",
        )

    paths = {"a": str(tmp_path / "a"), "b": str(tmp_path / "b")}
    make_set(paths["a"], 0, 12, "x")
    make_set(paths["b"], 100, 5, "y")
    weights = {"a": 2, "b": 1}

    def ordered(**kw):
        m, _ = read_mixture_shards(spark, paths, weights, **kw)
        return [
            (r["mix_key"], r["mix_source"], r["src"], r["win"])
            for r in m.orderBy("mix_key").collect()
        ]

    base = ordered()
    slot_pattern = [r[1] for r in base]
    contents = {tuple(r[1:]) for r in base}
    orders = {tuple(r[2:] for r in base)}
    for ep in (0, 1, 7):
        rows = ordered(epoch=ep)
        keys = [r[0] for r in rows]
        assert len(keys) == len(set(keys))
        # fairness pattern identical; contents a bijection of base
        assert [r[1] for r in rows] == slot_pattern, ep
        assert {tuple(r[1:]) for r in rows} == contents, ep
        orders.add(tuple(r[2:] for r in rows))
    assert len(orders) > 1, "no epoch changed the content order"
    # epoch=None is bit-identical to the pre-epoch order
    assert ordered() == base

    # cursor composes under the same epoch
    rows = ordered(epoch=7)
    cut = len(rows) // 3
    resumed = ordered(epoch=7, cursor=rows[cut - 1][0])
    assert resumed == rows[cut:]
