"""Degenerate-input robustness: empty tables and hostile documents.

A 100 TB pipeline hits empty partitions, empty deltas, and garbage
documents constantly; operators must degrade to empty/zero outputs,
never throw. These tests drive the operator surface directly with
constructed frames (the parquet fixtures can't express emptiness).
"""

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def _hostile_docs(spark):
    # empty text, single word, unicode, repeated unicode, whitespace-ish
    rows = [
        (1, "", "en", "s", 0),
        (2, "word", "en", "s", 4),
        (3, "数据 管道 数据 管道 数据", "zh", "s", 12),
        (4, "a a a a a a a a", "en", "s", 15),
        (5, "mixé ascii 数字 mixé", "fr", "s", 18),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_text_and_dedup_ops_on_empty_corpus(spark):
    from torua_spark.operators import dedup as dd
    from torua_spark.operators import text_analysis as ta

    docs = _empty_docs(spark)
    assert ta.text_stats(docs).count() == 0
    assert ta.quality_scores(docs).count() == 0
    assert ta.repetition_scores(docs).count() == 0
    assert ta.vocabulary_report(docs).count() == 0
    assert ta.feature_hash_embed(docs).count() == 0
    assert dd.exact_dedup(docs).count() == 0
    assert dd.minhash_lsh_pairs(docs).count() == 0
    assert dd.ngram_jaccard_pairs(docs, 0.5).count() == 0
    assert dd.simhash_near_dup_pairs(docs, 6).count() == 0
    assert dd.prefix_filter_pairs(docs, 0.8).count() == 0


def test_decontamination_with_empty_sides(spark):
    from torua_spark.operators import dedup as dd

    docs = _hostile_docs(spark)
    empty = _empty_docs(spark)
    assert dd.cross_corpus_contamination(docs, empty, 0.5).count() == 0
    assert dd.cross_corpus_contamination(empty, docs, 0.5).count() == 0
    assert dd.ngram_overlap_contamination(docs, empty, 4, 1).count() == 0
    assert dd.ngram_overlap_contamination(empty, docs, 4, 1).count() == 0


def test_pipeline_facade_on_empty_corpus(spark):
    from torua_spark.pipeline import CorpusPipeline

    p = (
        CorpusPipeline(spark, _empty_docs(spark))
        .quality_filter()
        .repetition_filter()
        .dedup_exact()
    )
    assert p.df().count() == 0
    r = p.report().collect()[0]
    assert r["n_docs"] == 0


def test_text_ops_on_hostile_docs(spark):
    from torua_spark.operators import dedup as dd
    from torua_spark.operators import text_analysis as ta

    docs = _hostile_docs(spark)
    # Every per-doc op emits exactly one row per doc, no exceptions.
    assert ta.quality_scores(docs).count() == 5
    assert ta.repetition_scores(docs).count() == 5
    assert ta.fingerprints(docs).count() == 5
    # The all-repeat doc maxes the Gopher rule; unicode tokenizes on
    # spaces like everything else (doc 3: "数据 管道" x repeats).
    reps = {r["doc_id"]: r for r in ta.repetition_scores(docs).collect()}
    assert reps[4]["top_bigram_frac"] == 1.0
    # doc 3: 5 tokens -> 3 trigrams, "数据 管道 数据" twice -> 2/3 mass
    assert abs(reps[3]["dup_trigram_frac"] - 0.6667) < 1e-9
    # Dedup tiers run without error; the unicode near-identical docs
    # don't false-positive against the ascii ones.
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    assert all(a != b for a, b in pairs)


def test_graph_ops_on_empty_edges(spark):
    from torua_spark.operators import graph as g
    from torua_spark.operators.graphrag import personalized_pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    weighted = spark.createDataFrame([], "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "id long")
    assert g.connected_components(edges).count() == 0
    assert g.pagerank(edges).count() == 0
    hist = g.bfs_hop_histogram(edges, seeds, 2).collect()
    assert sum(r["n_vertices"] for r in hist if r["hops"] >= 0) == 0
    assert g.k_core(edges).count() == 0
    assert g.label_propagation(edges).count() == 0
    for hops in (3, None):
        assert g.shortest_paths(edges, 1, hops).count() == 0
        assert g.weighted_shortest_paths(weighted, 1, hops).count() == 0
    assert personalized_pagerank(edges, seeds).count() == 0
    no_seeds = spark.createDataFrame([], "id long")
    assert personalized_pagerank(edges, no_seeds).count() == 0


def test_ppr_with_no_seeds_is_zero_restart_mass(spark):
    """An empty seed set puts no restart mass anywhere: every score is
    0 and the top-k falls back to the vertex-id tie-break."""
    from torua_spark.operators.graphrag import personalized_pagerank

    edges = spark.createDataFrame([(3, 1), (1, 2), (2, 3), (4, 1)], "src long, dst long")
    no_seeds = spark.createDataFrame([], "id long")
    got = sorted(map(tuple, personalized_pagerank(edges, no_seeds, topk=3).collect()))
    assert got == [(1, 0.0, 1), (2, 0.0, 2), (3, 0.0, 3)]  # (vertex, score, rank)
