"""Corpus-scale probe: the LLM-pipeline operators at volume.

Synthesizes N documents (default 1M, ~60 tokens each — tens of GB of
text at the default) ENTIRELY executor-side with Spark column
expressions (no storage, no Python loop, deterministic under
retries), planting exact duplicates and trailing-token near-dup
mutations, then times each pipeline operator at that scale:

  exact dedup, MinHash+LSH near-dup pairs, SimHash near-dup pairs,
  BM25 top-k, unigram-NLL scoring, weighted sampling.

The point is scale EVIDENCE, not correctness (the sf oracle gate does
correctness): each operator's runtime here is the single-node bound a
1000-executor cluster divides. Prints one line per op.

Usage: python examples/corpus_scale_run.py [n_docs]
(set SPARK_GRAFT_DRIVER_MEM=24g for n_docs >= 1M — the signature
persists outgrow the 4g local default)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark

VOCAB = 2000        # distinct fake words
DOC_TOKENS = 60     # tokens per document
DUP_EVERY = 50      # id % DUP_EVERY == 1 -> exact copy of id-1
NEAR_EVERY = 10     # id % NEAR_EVERY == 2 -> near-dup of id-2 (tail mutated)


def synth_docs(spark: SparkSession, n_docs: int, seed: int = 11) -> DataFrame:
    """Deterministic word-soup corpus with planted duplicate structure.

    Each token is vocab word `w<k>` with k = xxhash64(base, i, seed) %
    VOCAB, built by a JVM-side transform over a sequence — generation
    runs at scan speed on executors. Exact dups share their neighbor's
    base id entirely; near-dups share the base for the first 5/6 of
    tokens and mutate the tail.
    """
    base = (
        F.when(F.col("id") % DUP_EVERY == 1, F.col("id") - 1)
        .otherwise(F.when(F.col("id") % NEAR_EVERY == 2, F.col("id") - 2)
                   .otherwise(F.col("id")))
    )
    mutated_from = F.when(
        (F.col("id") % NEAR_EVERY == 2) & (F.col("id") % DUP_EVERY != 1), F.col("id")
    ).otherwise(F.col("__base"))
    cut = int(DOC_TOKENS * 5 / 6)
    word = lambda src, i: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(src, i, F.lit(seed)), F.lit(VOCAB))
    )
    return (
        spark.range(n_docs)
        .withColumn("__base", base)
        .withColumn("__mut", mutated_from)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(DOC_TOKENS)),
                    lambda i: F.when(i <= cut, word(F.col("__base"), i)).otherwise(
                        word(F.col("__mut"), i)
                    ),
                ),
                " ",
            ).alias("text"),
        )
        .withColumn("n_chars", F.length("text"))
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark(
        app_name="corpus-scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from nyc_etl_pipeline_spark.operators import dedup as D
    from nyc_etl_pipeline_spark.operators.lm import unigram_nll_scores
    from nyc_etl_pipeline_spark.operators.retrieval import bm25_topk
    from nyc_etl_pipeline_spark.operators.sampling import weighted_sample

    docs = synth_docs(spark, n_docs).persist()
    t0 = time.perf_counter()
    n = docs.count()
    print(f"synth+persist: {n:,} docs in {time.perf_counter() - t0:.1f}s")

    def timed(label: str, fn):
        t = time.perf_counter()
        out = fn()
        print(f"{label}: {out} in {time.perf_counter() - t:.1f}s")

    timed("exact_dedup", lambda: f"{D.exact_dedup(docs).count():,} digests")
    timed(
        "minhash_lsh_pairs",
        lambda: f"{D.minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).count():,} pairs",
    )
    # 16-bit blocks (n_blocks=4): at 1M docs the default 8-bit blocks
    # leave only 256 buckets per block (~4k docs each -> ~10^10
    # candidate pairs, a quadratic collapse); 65536 buckets keep the
    # bucket join linear-ish. The price is recall only to Hamming<=3.
    timed(
        "simhash_near_pairs",
        lambda: f"{D.simhash_near_pairs(docs, max_hamming=3, n_blocks=4).count():,} pairs",
    )
    timed(
        "bm25_topk",
        lambda: f"top-{bm25_topk(docs, ['w0', 'w1', 'w2', 'w3'], k=25).count()}",
    )
    # slop chain: intermediates bounded by FIRST-word occurrences, so
    # pick a common first word — the worst (biggest) case for the
    # greedy-minimal-completion join chain
    from nyc_etl_pipeline_spark.operators.retrieval import phrase_search_slop

    timed(
        "phrase_search_slop",
        # uniform 2000-word vocab, 60-token docs: a 2-word phrase at
        # slop 40 expects ~(60/2000)*(41/2000)*1M ≈ 600 hit docs —
        # non-vacuous; a longer/tighter phrase is statistically empty
        lambda: f"{phrase_search_slop(docs, ['w0', 'w1'], slop=40).count():,} docs",
    )
    timed(
        "phrase_search_slop_3w",
        # selective 3-word case: same full posting scan, near-zero
        # survivors — exercises the chain's prune, not the hit path
        lambda: f"{phrase_search_slop(docs, ['w0', 'w1', 'w2'], slop=50).count():,} docs",
    )
    # DSIR importance weights: 0.1% target slice vs the rest; the two
    # bucket models are broadcast-bounded, so this is ~one corpus scan
    from nyc_etl_pipeline_spark.operators.lm import dsir_importance

    timed(
        "dsir_importance",
        lambda: f"{dsir_importance(docs.filter(F.col('doc_id') % 1000 != 0), docs.filter(F.col('doc_id') % 1000 == 0)).count():,} docs scored",
    )
    timed(
        "unigram_nll",
        lambda: "avg nll %.4f" % unigram_nll_scores(docs).agg(F.avg("nll")).first()[0],
    )
    timed(
        "weighted_sample",
        lambda: f"{weighted_sample(docs, ['doc_id'], 'n_chars', 10_000).count():,} sampled",
    )

    # round-5 additions -----------------------------------------------------
    from nyc_etl_pipeline_spark.operators import sketches as SKC
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    # passage-level dedup: ~n_docs * (DOC_TOKENS - 7) hashed windows
    timed(
        "passage_dedup",
        lambda: "%s docs >50%% duplicated"
        % f"{D.duplicated_passage_stats(docs, k=8).filter(F.col('dup_frac') > 0.5).count():,}",
    )
    # CMS: corpus-sized explode, but the output is 4x256 cells
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    timed(
        "cms_build",
        lambda: f"{SKC.cms_build(toks).count():,} cells",
    )
    # semantic dedup over synthetic executor-side embeddings (64-dim,
    # xxhash-derived, near-dups share their base doc's vector exactly)
    emb = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (F.pmod(F.xxhash64(F.col("text"), i), F.lit(1000)) / 500.0 - 1.0),
        ).alias("embedding"),
    )
    timed(
        "semantic_dedup",
        lambda: f"{SIM.semantic_dedup(emb, threshold=0.95, n_planes=8).filter('dropped').count():,} dropped",
    )
    # grid-bucketed spatial radius join at point-corpus scale: n_docs
    # synthetic GPS points in a ~44x42 km box, pairs within 100 m
    from nyc_etl_pipeline_spark.operators import geo

    pts = docs.select(
        F.col("doc_id").alias("point_id"),
        (40.50 + F.pmod(F.xxhash64("doc_id", F.lit(1)), 1000000) / 1000000.0 * 0.40).alias("lat"),
        (-74.20 + F.pmod(F.xxhash64("doc_id", F.lit(2)), 1000000) / 1000000.0 * 0.50).alias("lon"),
    )
    timed(
        "geo_radius_pairs",
        lambda: f"{geo.radius_pairs(pts, 100.0, 0.0013).count():,} pairs within 100m",
    )

    # round-6 additions -----------------------------------------------------
    from nyc_etl_pipeline_spark.operators import bpe
    from nyc_etl_pipeline_spark.operators import sampling as SAMP
    from nyc_etl_pipeline_spark.operators.text import whitespace_token_count
    from nyc_etl_pipeline_spark.suite.corpus import Q137_MERGES

    # BPE inference: mapInPandas merge loop + per-task word memo — the
    # memo makes this vocab-bounded per task, not corpus-bounded
    timed(
        "bpe_encode",
        lambda: "avg compression %.3f"
        % bpe.bpe_encode(docs, Q137_MERGES).agg(F.avg("compression")).first()[0],
    )
    # token-budget mixture: one agg + broadcast threshold filter
    srcd = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))
    ).withColumn("n_tokens", whitespace_token_count(F.col("text")))
    timed(
        "token_budget_sample",
        lambda: f"{SAMP.token_budget_sample(srcd, 'source', 'n_tokens', {'s0': 2.0, 's1': 1.0, 's2': 1.0}, 20_000_000, ['doc_id']).count():,} docs kept",
    )
    # histogram sketch: one map-side-combinable agg over any column
    timed(
        "hist_quantiles",
        lambda: "p99<=%.0f" % SKC.hist_quantiles(
            SKC.hist_build(docs, "n_chars", 0.0, 4096.0, 512),
            [50, 95, 99], 0.0, 4096.0, 512,
        ).agg(F.max("q_upper")).first()[0],
    )
    # round-6 continuation: lossless prefix-filtered Jaccard — the
    # exact-output competitor to the capped inverted-index form. At
    # corpus scale the prefix keeps ~(1-t) of each doc's shingles on
    # the candidate join and hot shingles fall out of every prefix,
    # so this is the honest exact near-dup probe (no max_doc_freq
    # recall trade). Threshold 0.8: planted near-dups share 5/6.
    timed(
        "jaccard_prefix_pairs",
        lambda: f"{D.jaccard_prefix_filter_pairs(docs, threshold=0.8).count():,} pairs",
    )
    # 2D skyline at 1M points: metrics derived from doc stats
    from nyc_etl_pipeline_spark.operators.joins import skyline_2d

    metrics = docs.select(
        "doc_id",
        (F.pmod(F.xxhash64("doc_id", F.lit(3)), 100000) / 100.0).alias("x"),
        (F.pmod(F.xxhash64("doc_id", F.lit(4)), 100000) / 100.0).alias("y"),
    )
    timed(
        "skyline_2d",
        lambda: f"{skyline_2d(metrics, 'x', 'y').count():,} frontier points",
    )
    # exact heavy hitters: the corpus word-soup is uniform (worthless
    # for a frequency-skew probe), so synthesize a Zipf-ish stream of
    # the same token VOLUME: j = floor(V^u) gives P(j) ~ 1/j. The MG
    # two-pass path never materializes the multi-million-distinct
    # frequency table the naive groupBy+HAVING baseline shuffles.
    n_toks = n_docs * DOC_TOKENS
    zipf = spark.range(n_toks).select(
        F.concat(
            F.lit("w"),
            F.floor(
                F.pow(
                    F.lit(10_000_000.0),
                    F.pmod(F.xxhash64("id", F.lit(9)), 1_000_000) / 1_000_000.0,
                )
            ).cast("long"),
        ).alias("token")
    )
    from nyc_etl_pipeline_spark.operators.sketches import exact_heavy_hitters

    timed(
        "exact_heavy_hitters K=1000 (MG two-pass)",
        lambda: f"{exact_heavy_hitters(zipf, 1000).count():,} heavy",
    )
    timed(
        "heavy hitters naive groupBy baseline",
        lambda: "%s heavy of %s distinct"
        % (
            zipf.groupBy("token").count()
            .filter(F.col("count") * 1000 > n_toks).count(),
            zipf.select("token").distinct().count(),
        ),
    )
    # round-8 addition: leakage-safe split end-to-end — LSH pair graph,
    # connected components, cluster-keyed assignment, straddle audit. The
    # minhash stage above prices the pair graph alone; this stage is
    # the whole dedup-then-split step a pretraining pipeline runs.
    def _leak_probe():
        pairs = D.minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.5
        ).localCheckpoint()
        clusters = D.neardup_clusters(docs, pairs)
        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        naive = SAMP.assign_split(docs.select("doc_id"), ["doc_id"], w, salt="probe")
        safe = SAMP.leakage_safe_assign(docs.select("doc_id"), clusters, w, salt="probe")
        n_naive = SAMP.split_leakage_audit(pairs, naive).count()
        n_safe = SAMP.split_leakage_audit(pairs, safe).count()
        return f"straddled pairs: naive {n_naive:,}, cluster-aware {n_safe:,}"

    timed("leakage_safe_split (pairs+CC+assign+audit)", _leak_probe)

    def _logreg_probe():
        from nyc_etl_pipeline_spark.operators import classify as CLS

        feats = CLS.hashed_tf_features(
            docs,
            n_buckets=64,
            label=F.array_contains(
                F.split(F.trim(F.col("text")), r"\s+"), "w3"
            ).cast("int"),
        )
        w = CLS.logreg_train_fixed(feats, dim=65, n_rounds=3, lr=4.0)
        n_scored = CLS.logreg_score(feats, w).count()
        return f"3-round GD train + score {n_scored:,} docs (dim 65)"

    timed("quality_logreg (train+score)", _logreg_probe)

    # round-9 additions -----------------------------------------------------
    # Bloom decontamination: benchmark = 0.1% slice; the filter stays
    # m_bits-bounded, the corpus pays one shingle pass + a dictionary-
    # sized membership probe
    timed(
        "bloom_contamination",
        lambda: "%s contaminated" % f"""{D.bloom_contamination_scores(
            docs.filter(F.col('doc_id') % 1000 != 0),
            docs.filter(F.col('doc_id') % 1000 == 0),
            m_bits=1 << 20, k_hashes=4,
        ).filter('is_contaminated').count():,}""",
    )
    # sparse TF-IDF cosine pairs: max_df caps the postings self-join
    # fan-out (uniform 2000-word vocab -> every term is hot without it)
    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    timed(
        "sparse_cosine_pairs (max_df=1000)",
        lambda: f"{sparse_cosine_pairs(docs, max_df=1000, threshold=0.6).count():,} pairs",
    )
    # interpolated bigram NLL: two token-sized shuffles + a bigram-
    # vocabulary join (never per-position rows)
    from nyc_etl_pipeline_spark.operators.lm import bigram_nll_scores

    timed(
        "bigram_nll",
        lambda: "avg nll %.4f" % bigram_nll_scores(docs).agg(F.avg("nll")).first()[0],
    )
    # indexed incremental near-dup: 10k batch vs the stored corpus band
    # index (the maintained-index serving path q176 gates)
    corpus = docs.filter(F.col("doc_id") >= 10_000)
    batch = docs.filter(F.col("doc_id") < 10_000)
    t_idx = time.perf_counter()
    index = D.minhash_band_table(corpus, num_hashes=64, bands=16).localCheckpoint()
    print(f"band_index build (one-time): {index.count():,} rows "
          f"in {time.perf_counter() - t_idx:.1f}s")
    timed(
        "incremental_neardup_indexed (10k batch vs stored index)",
        lambda: f"""{D.incremental_neardup_dedup_indexed(
            batch, corpus, index, num_hashes=64, bands=16, threshold=0.5
        ).count():,} survivors""",
    )
    docs.unpersist()


if __name__ == "__main__":
    main()
