"""Training-pipeline operators added in round 3: portable sampling,
contamination, connected components, normalization, PII redaction, and the
stream-stream join (batch parity)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import dedup as D
from nyc_etl_pipeline_spark.operators import sampling
from nyc_etl_pipeline_spark.operators import text as TX
from nyc_etl_pipeline_spark.suite.textops import NGRAM_N


# ---- portable sampling ---------------------------------------------------

def test_portable_split_disjoint_exhaustive_stable(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    parts = sampling.split(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, portable=True
    )
    n_total = docs.count()
    ids = {name: {r["doc_id"] for r in p.select("doc_id").collect()} for name, p in parts.items()}
    assert sum(len(v) for v in ids.values()) == n_total
    assert not (ids["train"] & ids["val"]) and not (ids["train"] & ids["test"])
    # stable: recomputing yields the identical assignment
    again = sampling.split(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, portable=True
    )
    assert {r["doc_id"] for r in again["val"].select("doc_id").collect()} == ids["val"]
    # and portable=True matches plain-Python md5 arithmetic
    from nyc_etl_pipeline_spark.functions import py_md5_long

    some_id = next(iter(ids["train"]))
    assert py_md5_long(f"v1\x1f{some_id}") % 1_000_000 < 800_000


def test_portable_and_fast_buckets_both_uniform(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    for portable in (False, True):
        s = sampling.sample(docs, ["doc_id"], 0.5, portable=portable)
        frac = s.count() / docs.count()
        assert 0.35 < frac < 0.65, f"portable={portable} fraction {frac}"


# ---- contamination -------------------------------------------------------

def test_contamination_self_is_total(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="an entirely different sentence with other words here"),
            Row(doc_id=3, text="too short"),
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over the lazy dog")]
    )
    out = {r["doc_id"]: r for r in D.contamination_scores(docs, bench).collect()}
    assert out[1]["contamination"] == 1.0 and out[1]["is_contaminated"]
    assert out[2]["n_hit"] == 0 and not out[2]["is_contaminated"]
    # 2 tokens -> no trigram -> zero shingles, rate 0, not contaminated
    assert out[3]["n_shingles"] == 0 and out[3]["contamination"] == 0.0
    assert not out[3]["is_contaminated"]


def test_contamination_partial_overlap(spark):
    # doc shares its first 3 of 4 shingles with the benchmark
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e f")])  # shingles: abc bcd cde def
    bench = spark.createDataFrame([Row(doc_id=9, text="a b c d e")])  # abc bcd cde
    row = D.contamination_scores(docs, bench).collect()[0]
    assert row["n_shingles"] == 4 and row["n_hit"] == 3
    assert row["contamination"] == 0.75 and row["is_contaminated"]


def test_bloom_contamination_is_superset_of_exact(spark, sf_dir):
    """Bloom hits = exact hits + deterministic false positives: per
    doc, bloom n_hit >= exact n_hit (never under-estimates — the safe
    direction for a drop gate), and a planted exact-contaminated doc
    is bloom-contaminated too."""
    from pyspark.sql import functions as F

    docs = read_testdata(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    cand = docs.filter(F.col("doc_id") % 17 != 0)
    exact = {r["doc_id"]: r for r in D.contamination_scores(cand, bench).collect()}
    bloom = {
        r["doc_id"]: r
        for r in D.bloom_contamination_scores(
            cand, bench, m_bits=1 << 16, k_hashes=4
        ).collect()
    }
    assert set(exact) == set(bloom)
    assert all(bloom[i]["n_hit"] >= exact[i]["n_hit"] for i in exact)
    assert all(
        bloom[i]["is_contaminated"] for i in exact if exact[i]["is_contaminated"]
    )
    # with a roomy filter the FP inflation should be tiny: decisions agree
    # on the overwhelming majority of docs
    agree = sum(
        bloom[i]["is_contaminated"] == exact[i]["is_contaminated"] for i in exact
    )
    assert agree >= 0.99 * len(exact)


def test_bloom_tiny_filter_saturates_to_all_hits(spark):
    """m_bits=1 sets the single bit for every position: every shingle
    'hits' — the degenerate bound that proves the k-of-k membership
    rule is doing the work in the normal regime."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="one two three four five six seven eight")]
    )
    bench = spark.createDataFrame([Row(doc_id=9, text="x y z w v u t s")])
    row = D.bloom_contamination_scores(docs, bench, m_bits=1, k_hashes=4).collect()[0]
    assert row["n_hit"] == row["n_shingles"] and row["is_contaminated"]


# ---- connected components ----------------------------------------------

def test_neardup_clusters_long_chain(spark):
    """A 12-node path graph — worst case for label propagation
    (diameter rounds), the case the O(log n) algorithm exists for."""
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(12)])
    pairs = spark.createDataFrame(
        [Row(a_id=i, b_id=i + 1) for i in range(11)]
    )
    out = {r["doc_id"]: r["cluster_rep"] for r in D.neardup_clusters(nodes, pairs).collect()}
    assert out == {i: 0 for i in range(12)}


def test_neardup_clusters_empty_and_singletons(spark):
    nodes = spark.createDataFrame([Row(doc_id=i) for i in (5, 7, 9)])
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    out = {r["doc_id"]: r["cluster_rep"] for r in D.neardup_clusters(nodes, pairs).collect()}
    assert out == {5: 5, 7: 7, 9: 9}


def _union_find_reps(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n_nodes)]


_GRAPH_ID_STRIDE = 100


@st.composite
def _small_graph(draw):
    """(n_nodes, edges): random pairs (self-loops, duplicates and both
    orientations allowed) plus an optional path or cycle laid over a
    shuffled node order, so long chains whose minimum sits mid-path
    are common. Nodes no edge touches stay isolated."""
    n = draw(st.integers(1, 12))
    node = st.integers(0, n - 1)
    edges = draw(st.lists(st.tuples(node, node), max_size=n))
    order = draw(st.permutations(range(n)))
    shape = draw(st.sampled_from(["random", "path", "cycle"]))
    if shape != "random":
        edges += list(zip(order, order[1:]))
    if shape == "cycle" and n > 2:
        edges.append((order[-1], order[0]))
    if edges and draw(st.booleans()):
        edges += [(b, a) for a, b in edges[: len(edges) // 2 + 1]]
    return n, edges


@settings(max_examples=5, deadline=None)
@given(st.lists(_small_graph(), min_size=1, max_size=6))
def test_neardup_clusters_matches_union_find(spark, graphs):
    """Every random small graph gets the union-find minimum as its
    representative. The graphs are batched into one Spark call, each
    in its own id range, so components never cross graphs."""
    node_rows, pair_rows, want = [], [], {}
    for g, (n, edges) in enumerate(graphs):
        base = g * _GRAPH_ID_STRIDE
        node_rows += [(base + x,) for x in range(n)]
        pair_rows += [(base + a, base + b) for a, b in edges]
        for x, rep in enumerate(_union_find_reps(n, edges)):
            want[base + x] = base + rep
    nodes = spark.createDataFrame(node_rows, "doc_id long")
    pairs = spark.createDataFrame(pair_rows, "a_id long, b_id long")
    got = {r["doc_id"]: r["cluster_rep"] for r in D.neardup_clusters(nodes, pairs).collect()}
    assert got == want


# ---- normalization + PII -------------------------------------------------

def test_normalize_text(spark):
    df = spark.createDataFrame([Row(t="  Hello,   WORLD!!  it's 2024...  ")])
    got = df.select(TX.normalize_text(F.col("t")).alias("n")).collect()[0]["n"]
    assert got == "hello world its 2024"


def test_pii_redaction(spark):
    df = spark.createDataFrame(
        [
            Row(t="mail me at a.b+c@ex-ample.org or call 555-867-5309, ssn 123-45-6789."),
            Row(t="nothing sensitive here"),
        ]
    )
    counts = TX.pii_counts(F.col("t"))
    out = df.select(
        counts["n_emails"].alias("e"),
        counts["n_phones"].alias("p"),
        counts["n_ssns"].alias("s"),
        TX.redact_pii(F.col("t")).alias("red"),
    ).collect()
    assert (out[0]["e"], out[0]["p"], out[0]["s"]) == (1, 1, 1)
    assert "<EMAIL>" in out[0]["red"] and "<PHONE>" in out[0]["red"] and "<SSN>" in out[0]["red"]
    assert "@" not in out[0]["red"]
    assert (out[1]["e"], out[1]["p"], out[1]["s"]) == (0, 0, 0)
    assert out[1]["red"] == "nothing sensitive here"


# ---- SQ8 scalar quantization ---------------------------------------------

def test_sq8_topk_recall_vs_exact(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk(emb, queries, k=5)
    approx = SIM.sq8_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8-bit quantization on 64 dims loses almost nothing
    assert recall >= 0.8, f"SQ8 recall {recall}"


def test_sq8_codes_bounded_and_deterministic(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = read_testdata(spark, sf_dir, "embeddings")
    mins, maxes = SIM.sq8_stats(emb)
    assert len(mins) == len(maxes) == 64
    codes = emb.select(
        SIM.sq8_encode(
            F.transform("embedding", lambda x: x.cast("double")), mins, maxes
        ).alias("c")
    )
    lo, hi = codes.select(
        F.min(F.array_min("c")).alias("lo"), F.max(F.array_max("c")).alias("hi")
    ).first()
    assert lo >= 0.0 and hi <= 255.0
    assert SIM.sq8_stats(emb) == (mins, maxes)  # deterministic


# ---- product quantization ------------------------------------------------

def test_pq_topk_on_clustered_vectors(spark):
    """PQ's premise is cluster structure, which the driver's uniform-
    noise embeddings fixture lacks (documented in suite/vectors.py).
    On clustered vectors — 20 deterministic centers, small per-vector
    jitter — 32-bit PQ codes must recover the true neighborhoods."""
    import math

    from nyc_etl_pipeline_spark.operators import similarity as SIM

    rows = []
    for i in range(400):
        c = i % 20
        vec = [
            math.sin(0.7 * (c + 1) * (j + 1)) + 0.01 * math.sin(i * 13.37 + j)
            for j in range(64)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk(emb, queries, k=5)

    # coarse retrieval: every PQ neighbor must come from the query's
    # true cluster (rank order inside a cell is meaningless by design)
    coarse = SIM.pq_topk(emb, queries, k=5)
    for r in coarse.collect():
        assert r["neighbor_id"] % 20 == r["query_id"] % 20, r

    # with the standard refine stage (exact re-scoring of the k*r
    # shortlist) full exact-topk recall comes back
    refined = SIM.pq_topk(emb, queries, k=5, rerank=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in refined.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"PQ+refine recall {recall} on clustered data"


def test_pq_codebooks_shape_and_determinism(spark):
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(64)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    b1 = SIM.pq_codebooks(emb, m=8, n_centroids=4)
    b2 = SIM.pq_codebooks(emb, m=8, n_centroids=4)
    assert b1 == b2
    assert len(b1) == 8 and all(len(book) == 4 for book in b1)
    assert all(len(c) == 8 for book in b1 for c in book)


# ---- sort-based exact percentiles ---------------------------------------

def test_sorted_percentiles_equal_percentile_agg(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators.quality import exact_percentiles_sorted

    li = read_testdata(spark, sf_dir, "lineitem")
    ps = [0.25, 0.5, 0.75, 0.99]
    srt = exact_percentiles_sorted(li, "l_returnflag", "l_extendedprice", ps)
    agg = li.groupBy("l_returnflag").agg(
        *[F.percentile("l_extendedprice", p).alias(f"a{i}") for i, p in enumerate(ps)]
    )
    got = {r["l_returnflag"]: [r[c] for c in srt.columns[1:]] for r in srt.collect()}
    want = {r["l_returnflag"]: [r[f"a{i}"] for i in range(len(ps))] for r in agg.collect()}
    assert set(got) == set(want)
    for k in want:
        for g, w in zip(got[k], want[k]):
            assert abs(g - w) < 1e-9, (k, got[k], want[k])


def test_sorted_percentiles_singleton_group(spark):
    from nyc_etl_pipeline_spark.operators.quality import exact_percentiles_sorted

    df = spark.createDataFrame([Row(g="a", v=7.0), Row(g="b", v=1.0), Row(g="b", v=3.0)])
    out = {r["g"]: (r["p_25"], r["p_5"]) for r in
           exact_percentiles_sorted(df, "g", "v", [0.25, 0.5]).collect()}
    assert out["a"] == (7.0, 7.0)
    assert out["b"] == (1.5, 2.0)


# ---- applyInArrow parity -------------------------------------------------

def test_arrow_zscore_equals_pandas_zscore(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators.pandas_ops import (
        zscore_per_group,
        zscore_per_group_arrow,
    )

    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    kw = dict(group_col="o_custkey", value_col="o_totalprice", id_col="o_orderkey")
    a = {(r["o_orderkey"], r["zscore"]) for r in zscore_per_group_arrow(o, **kw).collect()}
    p = {(r["o_orderkey"], r["zscore"]) for r in zscore_per_group(o, **kw).collect()}
    assert a == p


# ---- stream-stream join --------------------------------------------------

def test_stream_stream_join_matches_batch(spark, sf_dir):
    from nyc_etl_pipeline_spark.streaming import run_available_now
    from nyc_etl_pipeline_spark.streaming.events import read_event_stream, stream_stream_join

    stream = read_event_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    out = run_available_now(
        stream_stream_join(clicks, buys), "t_ssjoin", output_mode="append"
    )
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"]) for r in out.collect()
    }

    ev = read_testdata(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts")
    )
    bb = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("r_event_id"), F.col("ts").alias("r_ts")
    )
    want = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in bc.join(bb, on="user_id")
        .filter(
            (F.col("r_ts") > F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_stream_outer_join_emits_unmatched(spark, sf_dir):
    """Left-outer: matched rows emit immediately; null-padded rows
    emit once the watermark passes l_ts + within. The final watermark
    at end-of-input depends on Spark's batch split (the last data
    batch evicts with the PREVIOUS batch's watermark — availableNow
    appends no flush batch), so the completeness cutoff is calibrated
    from the oldest-emitted nulls rather than assumed; soundness is
    asserted on everything emitted."""
    from nyc_etl_pipeline_spark.streaming import run_available_now
    from nyc_etl_pipeline_spark.streaming.events import (
        read_event_stream,
        stream_stream_join_outer,
    )

    stream = read_event_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    out = run_available_now(
        stream_stream_join_outer(clicks, buys), "t_ssjoin_outer", output_mode="append"
    ).toPandas()

    ev = read_testdata(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts")
    )
    bb = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = bc.join(
        bb,
        (bc.user_id == bb.r_user)
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).toPandas()
    want = {
        (int(r.l_event_id), None if r.r_event_id != r.r_event_id else int(r.r_event_id))
        for _, r in batch.iterrows()
    }
    got = {
        (int(r.l_event_id), None if r.r_event_id != r.r_event_id else int(r.r_event_id))
        for _, r in out.iterrows()
    }
    # soundness: everything the stream emitted is a true outer-join row
    assert got <= want
    # matched rows emit immediately and completely
    assert {p for p in got if p[1] is not None} == {p for p in want if p[1] is not None}
    # completeness below the calibrated watermark boundary: every
    # unmatched click at or before the newest emitted null is present
    nulls = out[out.r_event_id.isna()]
    assert len(nulls) > 0, "no null rows emitted"
    boundary = nulls.l_ts.max()
    want_nulls_old = {
        int(r.l_event_id)
        for _, r in batch.iterrows()
        if (r.r_event_id != r.r_event_id) and r.l_ts <= boundary
    }
    got_nulls = {int(r.l_event_id) for _, r in nulls.iterrows()}
    assert got_nulls == want_nulls_old


# ---- sequence packing ----------------------------------------------------

def test_pack_greedy_invariants(spark, sf_dir):
    """Every non-oversized sequence fits the budget; offsets are the
    exact running fill; packing is deterministic under repartition."""
    from nyc_etl_pipeline_spark.operators import packing

    docs = read_testdata(spark, sf_dir, "documents")
    budget = 96
    packed = packing.pack_greedy(
        docs, "doc_id", TX.whitespace_token_count(F.col("text")),
        budget=budget, n_shards=16,
    )
    rows = packed.collect()
    assert len(rows) == docs.count()  # total: every doc placed exactly once

    # per-sequence budget respected unless oversized (single-doc seq)
    by_seq = {}
    for r in rows:
        by_seq.setdefault((r["shard"], r["seq_id"]), []).append(r)
    for members in by_seq.values():
        total = sum(m["n_tokens"] for m in members)
        if any(m["oversized"] for m in members):
            assert len(members) == 1
        else:
            assert total <= budget
        # offsets are the running fill in doc_id order
        fill = 0
        for m in sorted(members, key=lambda m: m["doc_id"]):
            assert m["seq_offset"] == fill
            fill += m["n_tokens"]

    # greedy: a doc opens a new sequence ONLY if it did not fit
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda m: m["doc_id"])
        for prev, cur in zip(members, members[1:]):
            if cur["seq_id"] != prev["seq_id"]:
                assert cur["seq_id"] == prev["seq_id"] + 1
                assert prev["seq_offset"] + prev["n_tokens"] + cur["n_tokens"] > budget

    # deterministic under physical layout changes
    again = packing.pack_greedy(
        docs.repartition(7), "doc_id", TX.whitespace_token_count(F.col("text")),
        budget=budget, n_shards=16,
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_packing_stats_fill_ratio(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators import packing

    docs = read_testdata(spark, sf_dir, "documents")
    packed = packing.pack_greedy(
        docs, "doc_id", TX.whitespace_token_count(F.col("text")),
        budget=256, n_shards=8,
    )
    stats = packing.packing_stats(packed, budget=256).collect()
    assert len(stats) == 8
    for r in stats:
        assert 0.0 < r["fill_ratio"] <= 1.0
        # greedy on ~54-token docs against a 256 budget should fill well
        assert r["fill_ratio"] > 0.5


def test_stratified_sample_per_stratum_rates_and_stability(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    fracs = {"en": 0.4, "fr": 0.9}
    kept = sampling.stratified_sample(
        docs, "lang", fracs, ["doc_id"], default_fraction=1.0, salt="t", portable=True
    )
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # unlisted strata kept in full
    for lang in base:
        if lang not in fracs:
            assert got.get(lang) == base[lang]
    # listed strata within a loose binomial envelope of the target rate
    for lang, f in fracs.items():
        rate = got.get(lang, 0) / base[lang]
        assert abs(rate - f) < 0.15
    # decision is keyed on doc_id only: relabeling strata never flips a key
    en_kept = {r["doc_id"] for r in kept.filter(F.col("lang") == "en").collect()}
    flipped = sampling.stratified_sample(
        docs.withColumn("lang", F.lit("en")), "lang", fracs, ["doc_id"],
        default_fraction=1.0, salt="t", portable=True,
    )
    all_kept_as_en = {r["doc_id"] for r in flipped.collect()}
    assert en_kept == {d for d in all_kept_as_en
                      if d in {r["doc_id"] for r in docs.filter(F.col("lang") == "en").collect()}}


def test_stratified_sample_validates_fractions(spark):
    df = spark.range(5).withColumn("s", F.lit("a"))
    with pytest.raises(ValueError):
        sampling.stratified_sample(df, "s", {"a": 1.5}, ["id"])


def test_stream_stream_outer_join_flush_reaches_batch_parity(spark, sf_dir, tmp_path):
    """With a watermark sentinel appended after end-of-input, the
    left-outer stream-stream join emits EVERY unmatched row — exact
    batch parity, closing the availableNow no-flush-batch gap."""
    from nyc_etl_pipeline_spark.streaming.events import (
        append_watermark_sentinel,
        drop_sentinels,
        run_available_now_files,
        stage_event_source,
        stream_stream_join_outer,
    )

    staging = str(tmp_path / "staged_events")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "joined_out")

    def joined():
        stream = stage_event_source(spark, sf_dir, staging)
        clicks = stream.filter(F.col("event_type") == "click")
        buys = stream.filter(F.col("event_type") == "purchase")
        return stream_stream_join_outer(clicks, buys)

    run_available_now_files(joined(), out_dir, ckpt)

    # advance both branches' watermarks past max(l_ts) + within + watermark
    ev = read_testdata(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    horizon = max_ts + datetime.timedelta(hours=4)
    horizon_ns = int(horizon.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000_000)
    append_watermark_sentinel(staging, horizon_ns)

    run_available_now_files(joined(), out_dir, ckpt)

    got_pdf = drop_sentinels(spark.read.parquet(out_dir)).toPandas()
    got = {
        (int(r.l_event_id), None if r.r_event_id != r.r_event_id else int(r.r_event_id))
        for _, r in got_pdf.iterrows()
    }

    bc = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts")
    )
    bb = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = bc.join(
        bb,
        (bc.user_id == bb.r_user)
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).toPandas()
    want = {
        (int(r.l_event_id), None if r.r_event_id != r.r_event_id else int(r.r_event_id))
        for _, r in batch.iterrows()
    }
    assert got == want
    assert any(p[1] is None for p in want)


# ---- repetition stats (q67 operator) -------------------------------------

def test_repetition_stats_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam"),          # fully repetitive
            Row(doc_id=2, text="alpha beta gamma delta"),       # no repetition
            Row(doc_id=3, text="x y x y x y"),                  # dup bigrams, mild top-token
            Row(doc_id=4, text="solo"),                         # 1 token -> no bigrams
        ]
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in TX.repetition_stats(docs, n=2).collect()
    }
    assert got[1]["n_tokens"] == 4
    assert got[1]["top_token_frac"] == 1.0
    # 3 grams, 1 distinct -> (3-1)/3 excess-duplicate positions
    assert got[1]["dup_ngram_frac"] == 0.667
    assert got[1]["is_repetitive"]

    assert got[2]["uniq_token_frac"] == 1.0
    assert got[2]["top_token_frac"] == 0.25
    assert got[2]["dup_ngram_frac"] == 0.0
    assert not got[2]["is_repetitive"]

    # "x y x y x y": 6 tokens, 2 distinct; grams = [xy, yx, xy, yx, xy] ->
    # 5 grams, 2 distinct -> dup frac 3/5
    assert got[3]["n_tokens"] == 6
    assert got[3]["uniq_token_frac"] == round(2 / 6, 3)
    assert got[3]["top_token_frac"] == 0.5
    assert got[3]["dup_ngram_frac"] == 0.6
    assert got[3]["is_repetitive"]

    assert got[4]["n_tokens"] == 1
    assert got[4]["dup_ngram_frac"] == 0.0  # zero grams -> defined as 0
    assert got[4]["top_token_frac"] == 1.0  # degenerate but consistent
    # top token occurs only once -> the >1-occurrence guard keeps the
    # single-token doc (and any short all-unique doc) unflagged
    assert not got[4]["is_repetitive"]


# ---- deterministic shard shuffle (q68 operator) --------------------------

def test_shard_shuffle_dense_disjoint_stable(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    out = sampling.shard_shuffle(docs, ["doc_id"], n_shards=8, salt="s1")
    pdf = out.toPandas()
    assert len(pdf) == docs.count()
    assert set(pdf["shard"].unique()) <= set(range(8))
    # positions are dense 1..size within every shard
    for shard, grp in pdf.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))
    # deterministic: same salt -> identical assignment
    again = sampling.shard_shuffle(docs, ["doc_id"], n_shards=8, salt="s1").toPandas()
    a = pdf.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert (a[["shard", "pos"]].values == b[["shard", "pos"]].values).all()
    # a different salt produces a different permutation
    other = sampling.shard_shuffle(docs, ["doc_id"], n_shards=8, salt="s2").toPandas()
    c = other.sort_values("doc_id").reset_index(drop=True)
    assert (a[["shard", "pos"]].values != c[["shard", "pos"]].values).any()


def test_shard_shuffle_rejects_bad_shards(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="n_shards"):
        sampling.shard_shuffle(docs, ["doc_id"], n_shards=0)


# ---- time-series gap fill (q70 operator) ---------------------------------

def test_gapfill_fills_gaps_and_forward_fills(spark):
    import datetime

    from nyc_etl_pipeline_spark.operators import timeseries

    def t(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    rows = [
        # user 1: hours 0, 1, 4 observed -> grid 0..4, gaps at 2 and 3
        Row(user_id=1, ts=t(0, 5), value=10.0),
        Row(user_id=1, ts=t(0, 40), value=20.0),
        Row(user_id=1, ts=t(1, 10), value=30.0),
        Row(user_id=1, ts=t(4, 59), value=40.0),
        # user 2: a single hour -> one-row grid, no fill needed
        Row(user_id=2, ts=t(7, 30), value=5.0),
    ]
    out = timeseries.gapfill(
        spark.createDataFrame(rows), "user_id", "ts", "value", unit="hour"
    )
    got = {
        (r["user_id"], r["bucket"].hour): (r["n_events"], r["filled_avg"])
        for r in out.collect()
    }
    assert got[(1, 0)] == (2, 15.0)   # avg(10, 20)
    assert got[(1, 1)] == (1, 30.0)
    assert got[(1, 2)] == (0, 30.0)   # forward-filled
    assert got[(1, 3)] == (0, 30.0)
    assert got[(1, 4)] == (1, 40.0)
    assert got[(2, 7)] == (1, 5.0)
    assert len(got) == 6  # exactly the dense grid, nothing more


def test_gapfill_rejects_unknown_unit(spark):
    from nyc_etl_pipeline_spark.operators import timeseries

    df = spark.range(1).select(
        F.col("id").alias("u"),
        F.current_timestamp().alias("ts"),
        F.lit(1.0).alias("v"),
    )
    with pytest.raises(ValueError, match="unit"):
        timeseries.gapfill(df, "u", "ts", "v", unit="fortnight")


def test_cogrouped_asof_matches_jvm_asof(spark, sf_dir):
    """The cogrouped-pandas as-of merge must produce exactly the JVM
    asof_join_backward result (q28's path) — pinning the Python API
    surface to the engine's canonical semantics."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.io import read_testdata
    from nyc_etl_pipeline_spark.operators.joins import asof_join_backward
    from nyc_etl_pipeline_spark.operators.pandas_ops import cogrouped_asof_merge

    e = read_testdata(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    jvm = asof_join_backward(
        purchases, clicks, by="user_id", ts="ts", right_value_cols=["value"]
    ).select("event_id", "user_id", "ts", "asof_ts", "asof_value")
    cg = cogrouped_asof_merge(purchases, clicks, key="user_id", ts="ts", right_value_col="value")
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.select(jvm.columns).collect()
    )
    assert canon(cg) == canon(jvm)


def test_label_cohesion_perfect_and_split_clusters(spark):
    from nyc_etl_pipeline_spark.operators.similarity import label_cohesion

    rows = (
        # label 0: all vectors identical -> cohesion exactly 1
        [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(5)]
        # label 1: two orthogonal halves -> centroid equidistant, cohesion ~0.707
        + [(10 + i, [0.0, 1.0, 0.0, 0.0], 1) for i in range(3)]
        + [(20 + i, [0.0, 0.0, 1.0, 0.0], 1) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in label_cohesion(df).collect()}
    assert out[0].cohesion == 1.0 and out[0].n_vecs == 5
    assert abs(out[1].cohesion - 0.707107) < 1e-6 and out[1].n_vecs == 6


# ---- passage-level dedup -------------------------------------------------

def test_passage_dedup_planted_duplicate(spark):
    """A 10-token passage planted verbatim in two docs is flagged in
    both; a doc of unique tokens has zero duplicated windows; docs
    shorter than k produce no row."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        Row(doc_id=1, text=f"{shared} one two three"),
        Row(doc_id=2, text=f"zero {shared}"),
        Row(doc_id=3, text="u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        Row(doc_id=4, text="too short"),
    ]
    out = {
        r["doc_id"]: r
        for r in D.duplicated_passage_stats(
            spark.createDataFrame(rows), k=8
        ).collect()
    }
    assert 4 not in out  # 2 tokens < k -> no windows
    # doc 1: 13 tokens -> 6 windows; the first 3 (inside `shared`,
    # which has 10 tokens -> windows at offsets 0..2) also occur in
    # doc 2 -> 3 duplicated.
    assert out[1]["n_windows"] == 6 and out[1]["n_dup_windows"] == 3
    # doc 2: 11 tokens -> 4 windows; offsets 1..3 are inside shared.
    assert out[2]["n_windows"] == 4 and out[2]["n_dup_windows"] == 3
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[1]["dup_frac"] == 0.5


def test_passage_dedup_counts_repeats_within_doc(spark):
    """A passage repeated twice in doc A and once in doc B counts BOTH
    occurrences in A (positional windows, not distinct shingles)."""
    p = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        Row(doc_id=1, text=f"{p} x {p}"),
        Row(doc_id=2, text=p),
    ]
    out = {
        r["doc_id"]: r
        for r in D.duplicated_passage_stats(
            spark.createDataFrame(rows), k=8
        ).collect()
    }
    # doc 1: 17 tokens -> 10 windows; exactly the two verbatim copies
    # of p match doc 2 (windows straddling 'x' are unique).
    assert out[1]["n_dup_windows"] == 2
    assert out[2]["n_windows"] == 1 and out[2]["n_dup_windows"] == 1


# ---- incremental mart maintenance ----------------------------------------

def test_partial_merge_equals_direct_any_split(spark):
    """merge(partials of ANY disjoint split) == partial(whole), incl.
    null measures (cnt counts non-null; sum skips nulls) and a batch
    contributing a brand-new key."""
    from nyc_etl_pipeline_spark.operators import incremental as INC

    rows = [
        Row(k="a", x=1.0), Row(k="a", x=None), Row(k="a", x=2.5),
        Row(k="b", x=4.0), Row(k="b", x=-1.0), Row(k="c", x=None),
        Row(k="d", x=7.0),  # only ever in batch 3
    ]
    df = spark.createDataFrame(rows)
    direct = INC.finalize(
        INC.partial_aggregate(df, ["k"], ["x"]), ["x"]
    ).orderBy("k").collect()
    splits = [
        df.filter(F.col("x") < 2),          # nulls excluded here...
        df.filter(F.col("x") >= 2),
        df.filter(F.col("x").isNull()),     # ...and arrive in their own batch
    ]
    merged = INC.finalize(
        INC.merge_partials(
            [INC.partial_aggregate(s, ["k"], ["x"]) for s in splits], ["k"], ["x"]
        ),
        ["x"],
    ).orderBy("k").collect()
    assert [r.asDict() for r in direct] == [r.asDict() for r in merged]
    by_k = {r["k"]: r for r in merged}
    assert by_k["a"]["n_rows"] == 3 and by_k["a"]["cnt_x"] == 2
    assert by_k["a"]["avg_x"] == 1.75
    assert by_k["c"]["cnt_x"] == 0 and by_k["c"]["sum_x"] is None
    assert by_k["d"]["n_rows"] == 1


# ---- count-min sketch ----------------------------------------------------

def test_cms_merge_equals_whole_and_never_underestimates(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators import sketches as SKC

    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    whole = SKC.cms_build(toks)
    merged = SKC.cms_merge(
        [
            SKC.cms_build(toks.filter(F.col("doc_id") % 3 == r))
            for r in range(3)
        ]
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    est = SKC.cms_estimate(whole, exact.select("token"))
    joined = exact.join(est, "token").collect()
    n_total = sum(r["true_count"] for r in joined)
    assert all(r["cms_estimate"] >= r["true_count"] for r in joined)
    # standard CMS error bound est <= true + e/width * N holds with
    # prob 1 - e^-depth per query; with depth=4 and ~40 distinct
    # tokens a violation is ~never — treat as deterministic here.
    bound = 2.718281828 / SKC.CMS_WIDTH * n_total
    assert all(r["cms_estimate"] <= r["true_count"] + bound for r in joined)


# ---- incremental near-dup dedup ------------------------------------------

def test_incremental_neardup_planted_cases(spark):
    corpus = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="completely different corpus content about databases"),
    ])
    batch = spark.createDataFrame([
        # near-dup of corpus doc 1 (one trailing token changed)
        Row(doc_id=10, text="the quick brown fox jumps over the lazy dog tonight"),
        # novel
        Row(doc_id=11, text="a wholly original sentence with unique vocabulary"),
        # 12 and 13 near-dup each other -> earlier id 12 survives
        Row(doc_id=12, text="spark engines shuffle partitions across executors quickly"),
        Row(doc_id=13, text="spark engines shuffle partitions across executors slowly"),
    ])
    survivors = {
        r["doc_id"]
        for r in D.incremental_neardup_dedup(
            batch, corpus, n=3, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert survivors == {11, 12}


def test_incremental_neardup_empty_corpus_is_self_dedup(spark):
    batch = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
        Row(doc_id=3, text="unrelated content entirely from another domain"),
    ])
    corpus = batch.limit(0)
    survivors = {
        r["doc_id"]
        for r in D.incremental_neardup_dedup(
            batch, corpus, n=3, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert survivors == {1, 3}


def test_incremental_neardup_indexed_matches_self_contained(spark, sf_dir):
    """The stored-index form (corpus bands from an index table, corpus
    text pruned to candidates before shingling) must make the IDENTICAL
    accept/reject decisions as the self-contained form, on real data
    and on the planted cases."""
    from pyspark.sql import functions as F

    docs = read_testdata(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    index = D.minhash_band_table(corpus, num_hashes=64, bands=16)

    got = {
        r["doc_id"]
        for r in D.incremental_neardup_dedup_indexed(
            batch, corpus, index, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    want = {
        r["doc_id"]
        for r in D.incremental_neardup_dedup(
            batch, corpus, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert got == want and want  # identical decisions, non-degenerate

    # id-clash guard carries over to the indexed form
    with pytest.raises(ValueError, match="disjoint"):
        D.incremental_neardup_dedup_indexed(corpus.limit(5), corpus, index)


def test_incremental_neardup_with_stored_band_index(spark, sf_dir, tmp_path):
    """The operational workflow at scale: index the corpus ONCE
    (minhash_band_table -> Warehouse), then dedup an arriving batch by
    joining its bands against the STORED index. Must produce the same
    candidate pairs the self-contained operator finds vs the corpus."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.io import Warehouse

    docs = read_testdata(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(
        D.minhash_band_table(corpus, num_hashes=64, bands=16), "band_index"
    )
    stored = wh.read("band_index")

    live = D.minhash_band_table(corpus, num_hashes=64, bands=16)
    nb = D.minhash_band_table(batch, num_hashes=64, bands=16)

    def cands(cb):
        return {
            (r["new_id"], r["other_id"])
            for r in nb.select(F.col("doc_id").alias("new_id"), "band_idx", "band_key")
            .join(
                cb.select(F.col("doc_id").alias("other_id"), "band_idx", "band_key"),
                on=["band_idx", "band_key"],
            )
            .select("new_id", "other_id")
            .dropDuplicates()
            .collect()
        }

    assert cands(stored) == cands(live) and cands(stored)


# ---- null/empty text robustness ------------------------------------------

def test_text_operators_survive_null_and_empty_text(spark):
    """The fixtures carry no null/empty texts, so the oracle gate
    never exercises these paths — pin them here: no exceptions, and
    degenerate docs degrade to empty/zero/null outputs rather than
    corrupting aggregates."""
    rows = [
        Row(doc_id=1, text=None),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text="   "),
        Row(doc_id=4, text="normal document with several plain tokens here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # passage stats: only doc 4 has windows; others absent, no error
    p = {r["doc_id"]: r for r in D.duplicated_passage_stats(df, k=3).collect()}
    assert set(p) == {4} and p[4]["n_dup_windows"] == 0

    # token counts: empty/whitespace -> 0; null -> null (not -1!)
    t = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", TX.whitespace_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert t[2] == 0 and t[3] == 0 and t[4] == 7
    assert t[1] is None or t[1] == 0

    # shingle/jaccard path: degenerate docs produce no shingles and
    # therefore no pairs, not a crash
    assert D.ngram_jaccard_pairs(df, n=3, threshold=0.1).count() == 0

    # exact dedup groups the null digest without error
    assert D.exact_dedup(df).count() == len(rows)

    # quality/lang/normalize: produce a row per doc, no exception
    out = df.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("q"),
        TX.lang_id(F.col("text")).alias("lang"),
        TX.normalize_text(F.col("text")).alias("norm"),
    ).collect()
    assert len(out) == 4
    byid = {r["doc_id"]: r for r in out}
    assert byid[2]["lang"] == "und" and byid[3]["norm"] == ""


def test_cms_estimate_absent_token_is_zero_not_overestimate(spark):
    """A never-seen token whose cells are untouched must estimate 0 —
    the inner-join formulation silently overestimated (or dropped the
    token) because empty cells aren't stored."""
    from pyspark.sql import Row

    from nyc_etl_pipeline_spark.operators import sketches as SKC

    toks = spark.createDataFrame([Row(token="aaa")] * 5 + [Row(token="bbb")] * 3)
    sketch = SKC.cms_build(toks, width=8)  # tiny width: cells collide
    est = {
        r["token"]: r["cms_estimate"]
        for r in SKC.cms_estimate(
            sketch,
            spark.createDataFrame(
                [Row(token="aaa"), Row(token="zz-never-seen")]
            ),
            width=8,
        ).collect()
    }
    assert est["aaa"] >= 5
    assert "zz-never-seen" in est
    # with width 8 its 4 cells may collide with real counts, but at
    # least one empty cell must floor the min at 0 OR the estimate is
    # a legitimate collision overcount — assert the contract: bounded
    # by total stream count, never missing
    assert 0 <= est["zz-never-seen"] <= 8


def test_rolling_median_hand_checked(spark):
    """Trailing-4-row frame over a short series: growing frames at the
    start (1..4 elements — both odd and even interpolation), then the
    full frame sliding. Values chosen so every median is exact."""
    from nyc_etl_pipeline_spark.operators import timeseries

    vals = [10.0, 2.0, 8.0, 4.0, 100.0, 6.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], ["k", "i", "v"]
    )
    out = (
        df.select(
            "i", timeseries.rolling_median("k", "i", "v", preceding=3).alias("m")
        )
        .orderBy("i")
        .collect()
    )
    got = [r["m"] for r in out]
    # frames: [10] [10,2] [10,2,8] [10,2,8,4] [2,8,4,100] [8,4,100,6]
    assert got == [10.0, 6.0, 8.0, 6.0, 6.0, 7.0]


def test_weighted_median_hand_checked(spark):
    """Lower weighted median: value where cumulative weight first
    reaches half the total — including the exact-half boundary and a
    heavy single value outvoting many light ones."""
    from nyc_etl_pipeline_spark.operators.quality import weighted_median

    rows = [
        # group a: weights 1,1,6 at values 1,2,3 -> half=4, cum hits 4 at v=3... 
        # cum: v1=1, v2=2, v3=8; 2*cum>=8 first at v=3
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 6),
        # group b: exact-half boundary: weights 2,2 -> 2*cum(v=1)=4 >= 4 -> v=1
        ("b", 1, 2), ("b", 2, 2),
        # group c: duplicate values collapse before the window
        ("c", 5, 1), ("c", 5, 1), ("c", 9, 1),
    ]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    got = {
        r["g"]: (r["w_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == {"a": (3, 8), "b": (1, 4), "c": (5, 3)}


def test_session_lift_identities(spark, sf_dir):
    """Association-rule identities on the gated output: support*N ==
    n_ab, conf_ab*nA == n_ab (within rounding), lift==1 iff the pair
    co-occurs exactly at the independence rate."""
    from nyc_etl_pipeline_spark.suite.events import q147_session_lift

    rows = q147_session_lift(spark, sf_dir).collect()
    assert rows, "no pairs found"
    for r in rows:
        assert 0 < r["support"] <= 1
        assert 0 < r["conf_ab"] <= 1 and 0 < r["conf_ba"] <= 1
        assert r["n_ab"] > 0 and r["lift"] > 0
    # a pair of the same type never appears (strict a < b)
    assert all(r["a_type"] < r["b_type"] for r in rows)


def test_cidr_bounds_and_membership(spark):
    """Pin the CIDR arithmetic (10.0.0.0/8 bounds) and classify one
    known address per block + one public through the same join shape
    the gate query uses."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.suite.events import _cidr_bounds

    bounds = dict((l, (lo, hi)) for l, lo, hi in _cidr_bounds())
    assert bounds["private10"] == (10 << 24, 11 << 24)
    assert bounds["private192"] == ((192 << 24) | (168 << 16), (192 << 24) | (169 << 16))
    probes = [
        ((10 << 24) + 1, "private10"),
        ((192 << 24) | (168 << 16) | 555, "private192"),
        ((8 << 24) | (8 << 16) | (8 << 8) | 8, "public"),  # 8.8.8.8
    ]
    ips = spark.createDataFrame([(ip,) for ip, _ in probes], ["ip"])
    nets = spark.createDataFrame(_cidr_bounds(), ["label", "lo", "hi"])
    got = {
        r["ip"]: r["l"]
        for r in ips.join(
            F.broadcast(nets),
            (F.col("ip") >= F.col("lo")) & (F.col("ip") < F.col("hi")),
            "left",
        )
        .select("ip", F.coalesce("label", F.lit("public")).alias("l"))
        .collect()
    }
    for ip, want in probes:
        assert got[ip] == want


def test_capped_sessionize_cap_fires_without_idle_gap(spark):
    """Events 20 min apart never trip a 30-min gap; a 45-min cap must
    still split at the event where (t - session_start) exceeds it,
    and the new session's clock restarts from that event."""
    import datetime as dt

    from nyc_etl_pipeline_spark.operators.pandas_ops import capped_sessionize

    t0 = dt.datetime(2024, 1, 1)
    mins = [0, 20, 40, 55, 70, 130]
    rows = [(1, t0 + dt.timedelta(minutes=m), i) for i, m in enumerate(mins)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    gap, cap = 30 * 60 * 10**6, 45 * 60 * 10**6
    got = {
        r["event_id"]: r["session_idx"]
        for r in capped_sessionize(df, "user_id", "ts", "event_id", gap, cap).collect()
    }
    # 0,20,40 in session 1; 55 trips the cap -> session 2 starts at 55;
    # 70 is 15 min later (inside); 130 trips the 30-min GAP -> session 3
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 3}
    # with an effectively infinite cap the same data is gap-only
    got_nocap = {
        r["event_id"]: r["session_idx"]
        for r in capped_sessionize(
            df, "user_id", "ts", "event_id", gap, 10**15
        ).collect()
    }
    assert got_nocap == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 2}


def test_winsorize_clamps_only_tails(spark):
    """Planted tail: 18 mid values + two extremes. Extremes clamp to
    the exact p05/p95 edges; the winsorized mean moves toward the
    middle; counts partition."""
    from nyc_etl_pipeline_spark.operators.quality import winsorize_report

    vals = [float(v) for v in range(10, 28)] + [-1000.0, 5000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "value"])
    r = winsorize_report(df, "grp", "value", 0.05, 0.95).collect()[0]
    assert r["n"] == 20 and r["n_low"] == 1 and r["n_high"] == 1
    # closed form: sorted ranks 1..20; p05 at pos 1.95 interpolates
    # -1000 -> 10, p95 at 19.05 interpolates 27 -> 5000 (the edges DO
    # carry some outlier mass - winsorizing tames, not removes)
    lo = -1000.0 + 0.95 * (10.0 - -1000.0)        # -40.5
    hi = 27.0 + 0.05 * (5000.0 - 27.0)            # 275.65
    want = round((lo + sum(range(10, 28)) + hi) / 20.0, 6)
    assert r["mean_winsor"] == want
    assert abs(r["mean_raw"] - round(sum(vals) / 20.0, 6)) <= 1e-9
    assert r["mean_winsor"] < r["mean_raw"]  # the high tail dominated


def test_benford_digits_and_chi2(spark):
    """Digit extraction is string-of-integer (no log10): 0.0000025
    scales to 2, 31.4 to 31400000 -> digit 3. A perfectly Benford-
    weighted sample yields chi2 == 0 exactly when counts equal n*p —
    approximate that with a known small case instead: single digit
    bucket -> chi2 is a deterministic closed form."""
    from nyc_etl_pipeline_spark.operators.quality import BENFORD_P, benford_report

    df = spark.createDataFrame(
        [("g", 0.0000025), ("g", 31.4), ("g", 0.9), ("g", -5.0), ("g", 0.0)],
        ["grp", "value"],
    )
    r = benford_report(df, "grp", "value").collect()[0]
    # -5.0 scales negative, 0.0 scales to 0 -> both excluded
    assert r["n"] == 3
    assert r["d2"] == 1 and r["d3"] == 1 and r["d9"] == 1
    expected = sum(
        (c - 3 * BENFORD_P[d]) ** 2 / (3 * BENFORD_P[d])
        for d, c in [(1, 0), (2, 1), (3, 1), (4, 0), (5, 0), (6, 0), (7, 0), (8, 0), (9, 1)]
    )
    assert abs(r["chi2"] - round(expected, 6)) <= 1e-6


def test_join_delta_equals_direct_join_multiset(spark):
    """IVM algebra on small tables with DUPLICATE join keys on both
    sides (multiplicities must multiply, not dedup): maintained join
    == direct join of the full tables, as an exact row multiset."""
    from collections import Counter

    from nyc_etl_pipeline_spark.operators.incremental import maintained_join

    a = [(k, f"a{i}") for i, k in enumerate([1, 1, 2, 3, 5, 5, 5])]
    b = [(k, f"b{i}") for i, k in enumerate([1, 2, 2, 4, 5, 5])]
    A = spark.createDataFrame(a, ["k", "av"])
    B = spark.createDataFrame(b, ["k", "bv"])
    # split: every third row of each is "delta"
    A_old = A.filter(F.length("av") >= 0).where(F.col("av").isin([x for i, (_, x) in enumerate(a) if i % 3 != 0]))
    A_new = A.subtract(A_old)
    B_old = B.where(F.col("bv").isin([x for i, (_, x) in enumerate(b) if i % 3 != 0]))
    B_new = B.subtract(B_old)
    old_join = A_old.join(B_old, "k")
    got = Counter(
        (r["k"], r["av"], r["bv"])
        for r in maintained_join(old_join, A_old, A_new, B_old, B_new, ["k"]).collect()
    )
    want = Counter((r["k"], r["av"], r["bv"]) for r in A.join(B, "k").collect())
    assert got == want


def test_ks_vs_global_known_values(spark):
    """Hand-checkable KS: group 'a' = {1,2}, group 'b' = {3,4}.
    Pooled = {1,2,3,4}. For 'a': ecdfA jumps to 1 by v=2 while pooled
    is 1/2 -> D = |2*4 - 2*2| = 4, ks = 4/(2*4) = 0.5. Scipy-free
    closed form; also identical group == pooled -> ks from equal
    proportions only."""
    from nyc_etl_pipeline_spark.operators.quality import ks_vs_global

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], ["g", "v"]
    )
    got = {r["g"]: (r["n_a"], r["d_num"], r["ks"]) for r in ks_vs_global(df, "g", "v").collect()}
    assert got["a"] == (2, 4, 0.5)
    assert got["b"] == (2, 4, 0.5)
    # a group that IS the corpus: D_num = |c*n - c*n| = 0 everywhere
    one = spark.createDataFrame([("x", 5.0), ("x", 6.0)], ["g", "v"])
    r = ks_vs_global(one, "g", "v").collect()[0]
    assert r["d_num"] == 0 and r["ks"] == 0.0


def test_theil_sen_resists_one_corrupted_day(spark):
    """Perfect slope-2 line with ONE wild day: OLS moves far from 2;
    the Theil-Sen median stays exactly 2.0 (a majority of pair slopes
    still connect two clean points)."""
    import datetime as dt

    from nyc_etl_pipeline_spark.functions import dec_sum
    from nyc_etl_pipeline_spark.operators.quality import exact_percentiles_sorted

    t0 = dt.datetime(2024, 3, 1)
    pts = [(t0 + dt.timedelta(days=i), 100.0 + 2.0 * i) for i in range(9)]
    pts.append((t0 + dt.timedelta(days=9), 100000.0))  # corrupted day
    df = spark.createDataFrame([("g", d, v) for d, v in pts], ["event_type", "ts", "value"])
    from nyc_etl_pipeline_spark.suite.events import q158_theil_sen  # noqa: F401  (shape ref)
    # run the same construction inline on this frame
    from pyspark.sql import functions as F

    daily = df.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        dec_sum("value").alias("t")
    )
    a = daily.select("event_type", F.col("d").alias("da"), F.col("t").alias("ta"))
    b = daily.select("event_type", F.col("d").alias("db"), F.col("t").alias("tb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            (
                (F.col("tb") - F.col("ta"))
                / ((F.unix_micros("db") - F.unix_micros("da")) / F.lit(86400000000.0))
            ).alias("slope"),
        )
    )
    med = exact_percentiles_sorted(slopes, "event_type", "slope", [0.5]).collect()[0]
    assert med["p_5"] == 2.0
    # sanity: OLS on the same data is nowhere near 2
    import statistics

    xs = list(range(10))
    ys = [v for _, v in pts]
    ols = statistics.linear_regression(xs, ys).slope
    assert abs(ols - 2.0) > 100


def test_gini_known_distributions(spark):
    """Closed-form pins: perfect equality -> G = 0; with n=4 and all
    mass on one value, G = (n-1)/n * ... the sorted-rank identity
    gives exactly 0.75 - interpolation-free integers chosen so the
    decimal accumulation is exact."""
    from nyc_etl_pipeline_spark.suite.events import q159_gini  # noqa: F401  shape ref
    from nyc_etl_pipeline_spark.functions import dec_sum, round_half_up as R
    from pyspark.sql import Window as W

    rows = [("eq", v) for v in [5.0, 5.0, 5.0, 5.0]] + [
        ("one", v) for v in [0.0, 0.0, 0.0, 10.0]
    ]
    df = spark.createDataFrame(rows, ["event_type", "value"])
    w = W.partitionBy("event_type").orderBy("__x")
    ranked = df.select(
        "event_type", F.col("value").cast("double").alias("__x")
    ).withColumn("__i", F.row_number().over(w))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("__x").alias("s0"),
        dec_sum(F.col("__i") * F.col("__x")).alias("s1"),
    )
    gini = (F.lit(2.0) * F.col("s1")) / (F.col("n") * F.col("s0")) - (
        F.col("n") + F.lit(1.0)
    ) / F.col("n")
    got = {r["event_type"]: r["g"] for r in agg.select("event_type", R(gini, 6).alias("g")).collect()}
    assert got["eq"] == 0.0
    # all mass on the top rank: G = 2*4*10/(4*10) - 5/4 = 0.75
    assert got["one"] == 0.75


def test_minhash_chain_matches_pure_python(spark, sf_dir):
    """Engine-independent pin of the whole MinHash chain: for sampled
    documents, recompute shingle hashes, all k signature components,
    and the melted bigint band keys in PLAIN Python (hashlib md5 +
    integer arithmetic) and compare bit-for-bit with the Spark
    operators. This is what keeps q23/q127's oracles honest — any
    engine with md5() can replay the construction."""
    from nyc_etl_pipeline_spark.functions import py_md5_long

    docs = read_testdata(spark, sf_dir, "documents").limit(40)
    k, bands = 32, 8
    rows = k // bands
    sh = D._shingle_table(docs, "doc_id", "text", NGRAM_N)
    sig = D._minhash_sig_table(sh, k, "doc_id")
    got_sig = {
        r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(k)) for r in sig.collect()
    }
    assert got_sig

    # pure-Python replay from raw text via the same tokenizer
    toks = {
        r["doc_id"]: r["__t"]
        for r in docs.select("doc_id", D.tokens(F.col("text")).alias("__t")).collect()
    }
    p = D.MERSENNE31
    coeffs = [D.minhash_base_coeffs(i) for i in range(k)]
    for doc_id in list(got_sig)[:5]:
        t = toks[doc_id]
        grams = {" ".join(t[i : i + NGRAM_N]) for i in range(len(t) - NGRAM_N + 1)}
        hs = [py_md5_long(g) % p for g in grams]
        expect = tuple(min((a * h + b) % p for h in hs) for a, b in coeffs)
        assert got_sig[doc_id] == expect, doc_id

    # melted band keys = md5_long over the comma-joined components
    melted = D._melt_bands(sig.withColumnRenamed("doc_id", "__id"), bands, rows)
    got_bands = {(r["__id"], r["band_idx"]): r["band_key"] for r in melted.collect()}
    some_id = next(iter(got_sig))
    for b in range(bands):
        expect = py_md5_long(
            ",".join(str(got_sig[some_id][b * rows + r]) for r in range(rows))
        )
        assert got_bands[(some_id, b)] == expect


def test_hard_negative_topk_invariants(spark, sf_dir):
    """Every mined negative has a different label than its anchor,
    respects the semi-hard cosine cap, and matches a brute-force
    different-label re-rank of exact cosines."""
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = read_testdata(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 3)
    got = SIM.hard_negative_topk(emb, anchors, k=4, max_cosine=0.3).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert got
    for r in got:
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]
        assert r["cosine"] <= 0.3 + 1e-9

    # brute force from the exact all-neighbor ranking (no label filter,
    # no cap): drop same-label and capped rows, re-rank, take 4
    full = SIM.cosine_topk(emb, anchors, k=10_000).collect()
    expect = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["rank"])):
        if labels[r["neighbor_id"]] == labels[r["query_id"]] or r["cosine"] > 0.3:
            continue
        expect.setdefault(r["query_id"], [])
        if len(expect[r["query_id"]]) < 4:
            expect[r["query_id"]].append(r["neighbor_id"])
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert got_by_q == expect


def test_mmr_rerank_matches_bruteforce_greedy(spark, sf_dir):
    """Exact plain-Python greedy replay of the MMR recurrence on a
    real candidate pool (q25's top-20 joined back to vectors):
    selection order, ids, and 6 dp scores all match."""
    import math


    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = read_testdata(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 3)
    pool = (
        SIM.cosine_topk(emb, anchors, k=20)
        .join(emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
        .select("query_id", "neighbor_id", "embedding", F.col("cosine").alias("relevance"))
    )
    lam, k = 0.7, 6
    got = {}
    for r in SIM.mmr_rerank(pool, k=k, lam=lam).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["mmr"]))
    for q in got:
        got[q].sort()

    rows = pool.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    expect = {}
    for q, cands in by_q.items():
        cands = sorted(cands, key=lambda r: r["neighbor_id"])
        X = [list(map(float, r["embedding"])) for r in cands]
        dim = len(X[0])

        def fold_dot(a, b):
            acc = 0.0
            for i in range(dim):
                acc = acc + a[i] * b[i]
            return acc

        norms = [math.sqrt(fold_dot(x, x)) or 1.0 for x in X]
        rel = [float(r["relevance"]) for r in cands]
        n = len(cands)
        avail = [True] * n
        max_sim = [-math.inf] * n
        sel = []
        for rank in range(1, min(k, n) + 1):
            best_j, best_s = None, None
            for j in range(n):
                if not avail[j]:
                    continue
                s = lam * rel[j] - (1.0 - lam) * max_sim[j] if rank > 1 else lam * rel[j]
                if best_s is None or s > best_s:
                    best_j, best_s = j, s
            sel.append((rank, cands[best_j]["neighbor_id"],
                        math.floor(best_s * 1000000.0 + 0.5) / 1000000.0))
            avail[best_j] = False
            for j in range(n):
                sim = fold_dot(X[j], X[best_j]) / (norms[j] * norms[best_j])
                if sim > max_sim[j]:
                    max_sim[j] = sim
        expect[q] = sel
    assert got == expect


def test_mmr_diversifies_clustered_pool(spark):
    """Planted pool: 6 near-identical 'cluster A' candidates with the
    highest relevance and 4 spread-out candidates. Pure relevance
    (lam=1) keeps only cluster A; lam=0.4 must mix clusters."""
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    rows = []
    for i in range(6):  # cluster A: same direction, tiny jitter
        rows.append((0, i, [10.0, float(i) * 0.01, 0.0], 0.99 - i * 0.001))
    for i in range(4):  # orthogonal-ish spread
        v = [0.0, 0.0, 0.0]
        v[i % 3] = 5.0
        v[(i + 1) % 3] = float(i)
        rows.append((0, 100 + i, v, 0.5))
    pool = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, embedding array<double>, relevance double"
    )
    pure = [r["neighbor_id"] for r in SIM.mmr_rerank(pool, k=4, lam=1.0).collect()]
    assert all(i < 6 for i in pure)
    mixed = [r["neighbor_id"] for r in SIM.mmr_rerank(pool, k=4, lam=0.4).collect()]
    assert any(i >= 100 for i in mixed)
    with pytest.raises(ValueError):
        SIM.mmr_rerank(pool, k=0)
    with pytest.raises(ValueError):
        SIM.mmr_rerank(pool, lam=1.5)


def test_holt_winters_matches_pure_python_and_known_series(spark, sf_dir):
    """Exact recurrence replay in plain Python over the real events
    table (same double-op order), plus closed-form pins: a constant
    series has trend 0 and level == the constant; a perfect linear
    ramp is tracked exactly (level == last point, trend == slope,
    one-step forecast == next point) because Holt with ANY alpha/beta
    is exact on linear data under the classical s1=x1, b1=x2-x1 init."""
    import math

    from nyc_etl_pipeline_spark.operators.pandas_ops import (
        holt_winters_level_trend,
    )

    # closed-form: constant and linear series
    rows = [("c", t, 5.0) for t in range(10)] + [
        ("lin", t, 3.0 + 2.0 * t) for t in range(12)
    ] + [("single", 0, 7.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r["k"]: r for r in holt_winters_level_trend(df, ["k"], "t", "v").collect()}
    assert got["c"]["level"] == 5.0 and got["c"]["trend"] == 0.0
    assert got["lin"]["level"] == 3.0 + 2.0 * 11
    assert got["lin"]["trend"] == 2.0
    assert got["lin"]["forecast_1"] == 3.0 + 2.0 * 12
    assert got["single"]["n"] == 1 and got["single"]["trend"] == 0.0

    # exact replay on real data: hourly event counts per type
    events = read_testdata(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    alpha, beta = 0.5, 0.25
    got2 = {
        r["event_type"]: (r["n"], r["level"], r["trend"])
        for r in holt_winters_level_trend(
            hourly, ["event_type"], "h", "v", alpha=alpha, beta=beta
        ).collect()
    }
    series = {}
    for r in hourly.collect():
        series.setdefault(r["event_type"], []).append((r["h"], r["v"]))
    for k, pts in series.items():
        xs = [v for _, v in sorted(pts)]
        s = xs[0]
        b = (xs[1] - xs[0]) if len(xs) > 1 else 0.0
        for t in range(1, len(xs)):
            prev = s
            s = alpha * xs[t] + (1.0 - alpha) * (s + b)
            b = beta * (s - prev) + (1.0 - beta) * b
        r6 = lambda v: math.floor(v * 1000000.0 + 0.5) / 1000000.0
        assert got2[k] == (len(xs), r6(s), r6(b)), k

    import pytest as _p

    with _p.raises(ValueError):
        holt_winters_level_trend(df, ["k"], "t", "v", alpha=0.0)
