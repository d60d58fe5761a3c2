"""pii_scan (operators/text.py) and the int8 embedding utilities
(operators/embeddings.py) — including DuckDB-dialect parity checks on
crafted data, since the synthetic corpus contains no PII and quantization
must agree bit-for-bit with a SQL twin to be oracle-able."""

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import load

CRAFTED = [
    (1, "contact me at alice.smith+spam@example.co.uk or visit "
        "https://example.com/a?b=1 today"),
    (2, "two mails: a@b.io c.d@e-f.org and no url"),
    (3, "phone 415 555 1234 9 and serial 123-456-7890"),
    (4, "nothing suspicious here just words"),
    (5, "edge@case. trailing dot not a tld hit http://x.y/z"),
    (6, "digits 12345678 too short, 1234567890123 long enough"),
    (7, ""),
]


def test_pii_scan_counts(spark):
    from qbeast_spark_spark.operators.text import pii_scan

    docs = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_url"] == 1
    assert got[2]["n_email"] == 2 and got[2]["n_url"] == 0
    assert got[3]["n_phone"] >= 1
    assert got[4]["n_pii_total"] == 0
    assert got[7]["n_pii_total"] == 0
    for r in got.values():
        assert r["n_pii_total"] == r["n_email"] + r["n_url"] + r["n_phone"]


def test_pii_scan_matches_duckdb_dialect(spark):
    """The patterns restrict themselves to constructs Java regex and RE2
    count identically — prove it on the crafted set."""
    from qbeast_spark_spark.operators.text import PII_PATTERNS, pii_scan

    docs = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", CRAFTED)
    sel = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS.items())
    for doc_id, *counts in con.execute(
            f"SELECT doc_id, {sel} FROM d ORDER BY doc_id").fetchall():
        for (name, _), n in zip(PII_PATTERNS.items(), counts):
            assert got[doc_id][f"n_{name}"] == n, (doc_id, name)


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, "embeddings").limit(200)


def test_l2_normalize_unit_norms(spark, emb):
    from qbeast_spark_spark.operators.embeddings import l2_normalize

    out = l2_normalize(emb, out_col="unit")
    norm = F.sqrt(F.aggregate(
        F.col("unit").cast("array<double>"),
        F.lit(0.0), lambda a, x: a + x * x))
    mx = out.select(F.max(F.abs(norm - 1.0)).alias("e")).first()["e"]
    assert mx < 1e-9


def test_quantize_roundtrip_error_bounded(spark, emb):
    from qbeast_spark_spark.operators.embeddings import (dequantize_int8,
                                                         quantize_int8)

    q = dequantize_int8(quantize_int8(emb))
    err = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.col("embedding_deq"),
                   lambda a, b: F.abs(a - b)),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x))
    # worst-case quantization step is scale/2 per component
    bad = (q.select((err > F.col("q8_scale") * 0.5 + 1e-12).alias("b"))
           .where("b").count())
    assert bad == 0
    # int8 payload really is tinyint
    assert dict(quantize_int8(emb).dtypes)["embedding_q8"] == "array<tinyint>"


def test_quantized_cosine_close_and_ranking_preserved(spark, emb):
    from qbeast_spark_spark.operators.embeddings import (quantize_int8,
                                                         quantized_cosine_col)
    from qbeast_spark_spark.operators.similarity import cosine_col

    vec = quantize_int8(emb)
    qs = (vec.where(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("embedding_q8").alias("q_q8"),
                  F.col("q8_scale").alias("q_scale")))
    joined = vec.crossJoin(F.broadcast(qs)).where("vec_id != q_id")
    both = joined.select(
        "q_id", "vec_id",
        cosine_col(F.col("embedding").cast("array<double>"),
                   F.col("q_emb").cast("array<double>")).alias("exact"),
        quantized_cosine_col(F.col("embedding_q8"), F.col("q8_scale"),
                             F.col("q_q8"), F.col("q_scale")).alias("approx"))
    mx = both.select(F.max(F.abs(F.col("exact") - F.col("approx")))
                     .alias("e")).first()["e"]
    assert mx < 0.02
    # top-5 by approx overlaps top-5 exact in >= 4 of 5 slots per query
    rows = both.collect()
    for qid in {r["q_id"] for r in rows}:
        sub = [r for r in rows if r["q_id"] == qid]
        top_e = {r["vec_id"] for r in
                 sorted(sub, key=lambda r: -r["exact"])[:5]}
        top_a = {r["vec_id"] for r in
                 sorted(sub, key=lambda r: -r["approx"])[:5]}
        assert len(top_e & top_a) >= 4


def test_ivf_multiprobe_recall_monotone(spark):
    """nprobe > 1 must recover neighbors lost across Voronoi boundaries:
    recall vs brute-force is monotone in probe, and probing every
    centroid equals brute force exactly."""
    from pyspark.sql import functions as F

    from qbeast_spark_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load(spark, "embeddings").limit(300)
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_embedding")))
    vecs = emb.where(F.col("vec_id") >= 5)
    cents = (emb.where(F.col("vec_id") % 40 == 0)
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_embedding")))
    n_cents = cents.count()
    truth = {(r["q_id"], r["vec_id"])
             for r in cosine_topk(vecs, queries, k=5).collect()}

    def recall(probe):
        got = {(r["q_id"], r["vec_id"])
               for r in ivf_topk(vecs, queries, cents, k=5,
                                 probe=probe).collect()}
        return len(got & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r1 <= r2 <= 1.0
    assert recall(n_cents) == 1.0


def test_ivf_with_trained_kmeans_centroids(spark):
    """r6: kmeans_centroids (pyspark.ml, k-means|| init) feeds ivf_topk.
    On well-separated planted clusters the trained cells align with the
    data, so probe=1 already equals brute force — the property heuristic
    seed centroids cannot guarantee."""
    import random

    from pyspark.sql import functions as F

    from qbeast_spark_spark.operators.similarity import (cosine_topk,
                                                         ivf_topk,
                                                         kmeans_centroids)

    rng = random.Random(20260814)
    dim, per = 16, 40
    rows = []
    for c in range(3):                      # 3 well-separated blobs
        center = [0.0] * dim
        center[c * 5] = 10.0
        for i in range(per):
            rows.append((c * per + i,
                         [center[d] + rng.uniform(-0.5, 0.5)
                          for d in range(dim)]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (vecs.where(F.col("vec_id") % per == 0)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_embedding")))
    body = vecs.where(F.col("vec_id") % per != 0)
    cents = kmeans_centroids(vecs, k=3)
    assert cents.count() == 3
    truth = {(r["q_id"], r["vec_id"])
             for r in cosine_topk(body, queries, k=5).collect()}
    got = {(r["q_id"], r["vec_id"])
           for r in ivf_topk(body, queries, cents, k=5, probe=1).collect()}
    assert got == truth


def test_quantization_matches_duckdb_arithmetic(spark):
    """floor(x/s + 0.5) agrees between Spark and DuckDB, negatives
    included — the precondition for using the quantizer under a SQL
    oracle."""
    from qbeast_spark_spark.operators.embeddings import quantize_int8

    data = [(1, [0.5, -0.25, 0.125, -1.0]),
            (2, [3.0, 2.9999, -2.5, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [-1e-8, 1e-8, 1.0, -0.5])]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (list(r["embedding_q8"]), r["q8_scale"])
           for r in quantize_int8(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", data)
    sql = """
    SELECT vec_id,
           CASE WHEN amax > 0 THEN
             list_transform(embedding, x -> CAST(floor(x / (amax/127.0)
                                                 + 0.5) AS TINYINT))
           ELSE list_transform(embedding, x -> CAST(0 AS TINYINT)) END AS q,
           amax / 127.0 AS s
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x))) AS amax
          FROM e)
    ORDER BY vec_id
    """
    for vec_id, q, s in con.execute(sql).fetchall():
        assert got[vec_id][0] == list(q), vec_id
        assert abs(got[vec_id][1] - s) < 1e-15


# ---------------------------------------------------------------------------
# decontamination (operators/text.py::decontaminate)
# ---------------------------------------------------------------------------

def test_decontaminate_planted_overlap(spark):
    from qbeast_spark_spark.operators.text import decontaminate

    leak = "alpha bravo charlie delta echo foxtrot golf hotel india " \
           "juliet kilo lima mike"                       # exactly 13 tokens
    corpus = spark.createDataFrame(
        [(1, f"prefix words here {leak} and a suffix"),
         (2, "completely unrelated text with plenty of words to go "
             "around the block twice over again and again and again"),
         (3, leak)],
        ["doc_id", "text"])
    evals = spark.createDataFrame([(100, f"intro {leak} outro")],
                                  ["doc_id", "text"])
    got = {r.doc_id: r.contam_hits
           for r in decontaminate(corpus, evals, n=13).collect()}
    assert set(got) == {1, 3}          # doc 2 clean
    assert got[3] == 1                 # the single full-leak gram
    assert got[1] >= 1


def test_decontaminate_excludes_self_and_short_docs(spark):
    from qbeast_spark_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen"),
         (2, "too short to have any thirteen gram")],
        ["doc_id", "text"])
    # eval set IS the corpus: identity matches must not count
    assert decontaminate(docs, docs, n=13).count() == 0
    # without exclude_self the long doc matches itself
    hits = decontaminate(docs, docs, n=13, exclude_self=False).collect()
    assert {r.doc_id for r in hits} == {1}


def test_decontaminate_null_ids_match_pre_aggregation_semantics(spark):
    """r12 parity fix for the pre-aggregated eval side: under
    exclude_self the old row-per-(gram, eval_id) filter was
    `doc_id != eval_id`, whose three-valued logic silently dropped
    NULL corpus doc_ids (NULL != x is never TRUE) — the one-row-per-gram
    rewrite must keep doing so, and NULL eval ids must keep
    contributing nothing."""
    from qbeast_spark_spark.operators.text import decontaminate

    leak = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen")
    docs = spark.createDataFrame([(None, leak), (1, leak)],
                                 "doc_id int, text string")
    evals = spark.createDataFrame([(10, leak), (11, leak)],
                                  "doc_id int, text string")
    got = decontaminate(docs, evals, n=13, exclude_self=True).collect()
    assert {r.doc_id for r in got} == {1}     # NULL corpus id dropped
    # NULL-only eval coverage of a gram contributes nothing either way
    evals_null = spark.createDataFrame([(None, leak)],
                                       "doc_id int, text string")
    assert decontaminate(docs, evals_null, n=13,
                         exclude_self=True).count() == 0
    # without exclude_self the NULL corpus doc still counts (plain join
    # on gram — unchanged semantics)
    got_all = decontaminate(docs, evals, n=13, exclude_self=False)
    assert {r.doc_id for r in got_all.collect()} == {None, 1}


def test_decontaminate_broadcasts_eval_side(spark):
    from qbeast_spark_spark.operators.text import decontaminate

    docs = load(spark, "documents")
    plan = decontaminate(docs, docs.limit(20), n=13) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan       # eval grams broadcast, no
    assert "SortMergeJoin" not in plan       # corpus-sized shuffle join


# ---------------------------------------------------------------------------
# semantic dedup (operators/similarity.py::semantic_dedup)
# ---------------------------------------------------------------------------

def _planted_vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(3, 16))
    rows = []
    vid = 0
    for g, b in enumerate(base):
        for _ in range(3):          # 3 near-identical copies per group
            v = b + rng.normal(scale=1e-3, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(4):              # singletons, far from everything
        v = rng.normal(size=16) * 5
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_collapses_planted_groups(spark):
    from qbeast_spark_spark.operators.similarity import semantic_dedup

    vecs = _planted_vectors(spark)
    out = semantic_dedup(vecs, threshold=0.99, exact=True).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(by_id) == 13
    # each group of 3 collapses to its min id; singletons survive
    for g in range(3):
        ids = [3 * g, 3 * g + 1, 3 * g + 2]
        assert {by_id[i].canonical_id for i in ids} == {ids[0]}
        assert not by_id[ids[0]].is_duplicate
        assert by_id[ids[1]].is_duplicate and by_id[ids[2]].is_duplicate
    for i in range(9, 13):
        assert by_id[i].canonical_id == i and not by_id[i].is_duplicate
    # keep-list = one representative per group + singletons
    keep = [r.vec_id for r in out if not r.is_duplicate]
    assert sorted(keep) == [0, 3, 6, 9, 10, 11, 12]


def test_semantic_dedup_lsh_matches_exact_on_planted(spark):
    from qbeast_spark_spark.operators.similarity import semantic_dedup

    vecs = _planted_vectors(spark)
    exact = {(r.vec_id, r.canonical_id)
             for r in semantic_dedup(vecs, 0.99, exact=True).collect()}
    lsh = {(r.vec_id, r.canonical_id)
           for r in semantic_dedup(vecs, 0.99, n_bits=8,
                                   n_tables=2).collect()}
    # near-identical vectors share sign buckets, so LSH loses nothing here
    assert lsh == exact


def test_semantic_dedup_on_corpus_embeddings(spark):
    from qbeast_spark_spark.operators.similarity import semantic_dedup

    emb = load(spark, "embeddings").select("vec_id", "embedding")
    out = semantic_dedup(emb, threshold=0.98)
    assert out.count() == emb.count()   # one verdict row per vector


# ---------------------------------------------------------------------------
# Gopher-style quality flags (operators/text.py::quality_flags)
# ---------------------------------------------------------------------------

def test_quality_flags_rules_fire_individually(spark):
    from qbeast_spark_spark.operators.text import quality_flags

    good = ("the quick brown fox jumps over the lazy dog and then " * 8
            + "runs home to rest for a while with friends in town")
    docs = spark.createDataFrame(
        [(1, good),                                   # passes everything
         (2, "too short"),                            # word count
         (3, " ".join(["supercalifragilisticexpialidocious"] * 60)),
         (4, good + " " + "#" * 40),                  # symbol ratio
         (5, "\n".join(["- bullet point here"] * 20)),
         (6, " ".join(["123 456 789"] * 30)),         # alpha words
         ],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in quality_flags(docs).collect()}
    assert out[1].passes_quality
    assert not out[2].ok_word_count
    assert not out[3].ok_avg_word_len
    assert not out[4].ok_symbol_ratio
    assert not out[5].ok_bullet_lines
    assert not out[6].ok_alpha_words and not out[6].ok_stopwords
    assert all(not out[i].passes_quality for i in (2, 3, 4, 5, 6))


def test_quality_flags_threshold_overrides_and_corpus(spark):
    from qbeast_spark_spark.operators.text import quality_flags

    docs = load(spark, "documents")
    out = quality_flags(docs)
    assert out.count() == docs.count()
    # loosening every threshold must only increase the pass count
    loose = quality_flags(docs, min_words=1, min_stopword_hits=0,
                          min_alpha_word_ratio=0.0,
                          min_avg_word_len=0.0, max_avg_word_len=1e9)
    n_strict = out.where("passes_quality").count()
    n_loose = loose.where("passes_quality").count()
    assert n_loose >= n_strict
    # the plan is a single map-only projection: no keyed shuffle (the
    # only Exchange allowed is spread()'s round-robin parallelism split)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan


def test_quality_flags_duplicate_line_and_para_rules(spark):
    from qbeast_spark_spark.operators.text import quality_flags

    good = ("the quick brown fox jumps over the lazy dog and then " * 8
            + "runs home to rest for a while with friends in town")
    dup_lines = "\n".join(
        ["the same boilerplate navigation line appears here"] * 15
        + ["a genuinely unique closing line for the document"])
    dup_paras = "\n\n".join(
        ["the identical paragraph of terms and conditions repeats"] * 8
        + ["one final original paragraph to close the page"])
    docs = spark.createDataFrame(
        [(1, good), (2, dup_lines), (3, dup_paras)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           quality_flags(docs, min_words=1, min_stopword_hits=0).collect()}
    assert out[1].ok_dup_lines and out[1].ok_dup_paras
    assert not out[2].ok_dup_lines          # 14/15 lines are repeats
    assert not out[3].ok_dup_paras          # 7/8 paragraphs are repeats
    assert out[3].ok_dup_lines is not None  # rules are independent


def test_repetition_flags_top_ngram_fractions(spark):
    from qbeast_spark_spark.operators.text import repetition_flags

    varied = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima mike november oscar papa quebec romeo "
              "sierra tango uniform victor whiskey xray yankee zulu")
    spammy = "click here now " * 40 + "unrelated tail words"
    docs = spark.createDataFrame(
        [(1, varied), (2, spammy)], ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_flags(docs).collect()}
    # varied text: top bigram covers a tiny character fraction
    assert out[1].passes_repetition
    assert out[1].top2gram_char_frac < 0.1
    # "click here" / "here now" dominate the spammy doc's character mass
    assert out[2].top2gram_char_frac > 0.5
    assert not out[2].ok_top2gram and not out[2].passes_repetition
    # hand-check the bigram math on the spammy doc: 'click here' occurs
    # 40x, chars = len('clickhere') = 9 per occurrence
    toks = spammy.split()
    total = sum(len(t) for t in toks)
    assert abs(out[2].top2gram_char_frac - 40 * 9 / total) < 1e-3


def test_repetition_flags_empty_and_short_docs(spark):
    from qbeast_spark_spark.operators.text import repetition_flags

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words")], ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_flags(docs).collect()}
    # no n-gram can repeat: every doc passes with zero fractions
    for i in (1, 2, 3):
        assert out[i].passes_repetition
        assert out[i].top4gram_char_frac == 0.0


def test_repetition_flags_most_frequent_not_largest_mass(spark):
    """Gopher's statistic is the char mass of the MOST FREQUENT n-gram;
    a rarer but longer gram must not win even with more total chars."""
    from qbeast_spark_spark.operators.text import repetition_flags

    # 'aa bb' repeats 10x (mass 10*4=40 chars); the long bigram
    # 'xxxxxxxxxxxxxxx yyyyyyyyyyyyyyy' repeats 2x (mass 2*30=60)
    text = ("aa bb " * 10
            + "xxxxxxxxxxxxxxx yyyyyyyyyyyyyyy "
            + "xxxxxxxxxxxxxxx yyyyyyyyyyyyyyy")
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = repetition_flags(docs, thresholds={2: 0.2}).collect()[0]
    toks = text.lower().split()
    total = sum(len(t) for t in toks)
    # most frequent bigram is 'aa bb' (10x, but note 'bb aa' occurs 9x):
    # expected mass = 10 * 4
    assert abs(row.top2gram_char_frac - 40 / total) < 1e-3


def test_quantized_topk_numpy_lane_matches_expression_lane(spark, emb):
    """r11: quantized_topk's NumPy mapInArrow kernel must be
    BIT-identical to the all-expression plan (int64 dots are exact in
    any order; every float step keeps the same IEEE association)."""
    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_embedding")))
    body = emb.where(F.col("vec_id") >= 3)
    new = quantized_topk(body, q, k=4).collect()
    pairs = _quantized_pairs_exprs(body, q, "embedding", "vec_id",
                                   "q_id", "q_embedding")
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    old = (pairs.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= 4)).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


def test_quantized_topk_empty_queries_falls_back(spark, emb):
    q = (emb.where(F.lit(False))
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_embedding")))
    from qbeast_spark_spark.operators.embeddings import quantized_topk

    assert quantized_topk(emb, q, k=3).count() == 0


def test_quantized_topk_batch_pushdown_exact_across_batches(spark, emb):
    """r12: the kernel emits only per-batch top-k candidates; forcing
    many tiny Arrow batches must not change the result vs the
    expression lane (global top-k of per-batch top-k's is exact under
    the _TOPK_ROUND_GUARD argument)."""
    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_embedding")))
    body = emb.where(F.col("vec_id") >= 3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")     # ~200 rows -> dozens of batches
        new = quantized_topk(body, q, k=4).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    pairs = _quantized_pairs_exprs(body, q, "embedding", "vec_id",
                                   "q_id", "q_embedding")
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    old = (pairs.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= 4)).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


def test_quantized_topk_ties_across_batches_break_by_id(spark):
    """Exact cosine ties spread across Arrow batches: the global window
    must still pick the smallest ids, so each batch has to forward ALL
    rows tied at the k-th value (the guard keeps equal values)."""
    from qbeast_spark_spark.operators.embeddings import quantized_topk

    v = [0.6, 0.8]
    rows = [(i, v) for i in [50, 51, 52, 1, 2, 3, 20, 21, 22]]
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, v)],
                              "q_id long, q_embedding array<double>")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "3")
        got = quantized_topk(vecs, q, k=4).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert [r["vec_id"] for r in
            sorted(got, key=lambda r: r["rank"])] == [1, 2, 3, 20]
    assert all(r["cos"] == 1.0 for r in got)


def test_quantized_topk_zero_norm_ranks_last_both_lanes(spark):
    """ADVICE r11: a zero vector's cosine must be NULL from the kernel
    (ranked last), not 0/0 = NaN (NaN sorts ABOVE every double,
    fabricating a spurious top-1). Under non-ANSI Divide semantics the
    expression lane yields the same NULLs — lanes must agree row for
    row; under Spark 4's default ANSI mode the expression lane raises
    DIVIDE_BY_ZERO outright, so the kernel's NULL is the graceful
    superset behavior."""
    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.8, 0.6]),
            (4, [0.0, 0.0]), (5, [0.0, 1.0])]
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0]), (9, [0.0, 0.0])],
                              "q_id long, q_embedding array<double>")
    # kernel lane under the session's default (ANSI) settings: zero-norm
    # rows are NULL-ranked-last, never a fabricated top-1
    new = quantized_topk(vecs, q, k=4).collect()
    top1 = [r for r in new if r["q_id"] == 0 and r["rank"] == 1][0]
    assert top1["vec_id"] == 1
    assert all(r["cos"] is None for r in new if r["q_id"] == 9)
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        pairs = _quantized_pairs_exprs(vecs, q, "embedding", "vec_id",
                                       "q_id", "q_embedding")
        w = Window.partitionBy("q_id").orderBy(
            F.col("cos").desc(), F.col("vec_id").asc())
        old = (pairs.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= 4)).collect()
        new2 = quantized_topk(vecs, q, k=4).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    assert sorted(map(tuple, new2)) == sorted(map(tuple, old))


def test_quantized_topk_oversized_query_side_falls_back(spark, emb,
                                                        monkeypatch):
    """VERDICT r11 #3: the query-side collect is bounded — past the cap
    the operator must route to the expression plan (no driver blow-up),
    with identical results."""
    import qbeast_spark_spark.operators.embeddings as E

    q = (emb.where(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_embedding")))
    body = emb.where(F.col("vec_id") >= 5)
    fast = E.quantized_topk(body, q, k=3).collect()
    assert fast
    monkeypatch.setattr(E, "DRIVER_MAX_QUERY_ROWS", 2)
    slow_df = E.quantized_topk(body, q, k=3)
    # the fallback is the expression plan: no Arrow kernel node in it
    assert "MapInArrow" not in slow_df._jdf.queryExecution().toString()
    assert sorted(map(tuple, slow_df.collect())) == sorted(map(tuple, fast))


def test_quantized_topk_preserves_q_id_dtype(spark):
    """ADVICE r11: the fast lane must emit q_id with the SOURCE dtype
    (int stays int), like the expression lane does."""
    from qbeast_spark_spark.operators.embeddings import quantized_topk

    vecs = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(7, [1.0, 0.0])],
                              "q_id int, q_embedding array<double>")
    out = quantized_topk(vecs, q, k=1)
    assert dict(out.dtypes)["q_id"] == "int"
    assert [(r["q_id"], r["vec_id"]) for r in out.collect()] == [(7, 1)]


def test_quantized_topk_null_ids_null_cos_tiebreak_matches_expression(spark):
    """The kernel's NULL-cosine forwarding (zero-norm rows / zero-norm
    query columns) picks candidates in id order; Spark's id-asc window
    tie-break is NULLS FIRST, so null ids must sort AHEAD of every
    value (Arrow's sort default is nulls-at-end — r12 parity fix).

    Every vector is zero-norm and null/value ids alternate, so EVERY
    batch holds more null-cos candidates than k and must drop rows:
    dropping the null ids (the old at_end order) loses the true global
    top-k for both forwarding paths — the short-column padding (q 0,
    non-zero query) and the all-NULL column (q 9, zero-norm query)."""
    from collections import Counter

    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    z = [0.0, 0.0]
    rows = []
    for i in range(1, 17):          # None, 1, None, 2, ... None, 16
        rows += [(None, z), (i, z)]
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0]), (9, z)],
                              "q_id long, q_embedding array<double>")
    new = quantized_topk(vecs, q, k=3).collect()
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        pairs = _quantized_pairs_exprs(vecs, q, "embedding", "vec_id",
                                       "q_id", "q_embedding")
        w = Window.partitionBy("q_id").orderBy(
            F.col("cos").desc(), F.col("vec_id").asc())
        old = (pairs.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= 3)).collect()
    finally:
        if prev_ansi is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
    assert Counter(map(tuple, new)) == Counter(map(tuple, old))
    # all 32 cosines are NULL for both queries: top-3 = null ids first
    for qid in (0, 9):
        got = [r["vec_id"] for r in new if r["q_id"] == qid]
        assert got == [None, None, None], f"q {qid}: {got}"


def test_quantized_topk_nan_embeddings_rank_first_both_lanes(spark):
    """r12: NaN embedding values yield NaN cosines in BOTH lanes, and
    Spark ranks NaN ABOVE every double — so NaN rows are unconditional
    top-k candidates the per-batch selection must forward (the
    `>= kth - guard` value test is False for NaN and would silently
    drop the rows the global window ranks FIRST). Small batches force
    the selection to actually drop rows; ANSI stays at the session
    default (both lanes run: NaN denominators never divide by zero)."""
    import math

    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    nan = float("nan")
    rows = [(i, [1.0, i / 10.0]) for i in range(1, 9)] + \
           [(100, [nan, 1.0]), (101, [nan, 2.0]), (102, [nan, 3.0])]
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.5]), (9, [nan, 1.0])],
                              "q_id long, q_embedding array<double>")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "3")
        new = quantized_topk(vecs, q, k=2).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    pairs = _quantized_pairs_exprs(vecs, q, "embedding", "vec_id",
                                   "q_id", "q_embedding")
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    old = (pairs.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= 2)).collect()

    def norm(r):            # NaN != NaN: map to a comparable sentinel
        c = r["cos"]
        c = "NaN" if isinstance(c, float) and math.isnan(c) else c
        return (r["q_id"], r["vec_id"], c, r["rank"])

    assert sorted(map(norm, new)) == sorted(map(norm, old))
    # q 0 (real query): only the NaN-embedding rows are NaN and they
    # outrank every real cosine; q 9 (NaN query): EVERY cosine is NaN,
    # so the id-asc tie-break picks the smallest ids overall
    got0 = [r["vec_id"] for r in sorted(
        (r for r in new if r["q_id"] == 0), key=lambda r: r["rank"])]
    assert got0 == [100, 101], got0
    got9 = [r["vec_id"] for r in sorted(
        (r for r in new if r["q_id"] == 9), key=lambda r: r["rank"])]
    assert got9 == [1, 2], got9


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_quantized_topk_nan_against_zero_norm_both_lanes(spark, ansi):
    """ADVICE r12: a NaN embedding against a zero-norm vector or query
    has norm product NaN * 0 = NaN, not 0 — Spark's Divide returns a
    NaN cosine (ranked FIRST), not the NULL of a zero divisor. The
    kernel must forward those NaNs (it used to emit the zero-norm
    query's whole column, and every zero-norm row, as NULL). Under ANSI
    a zero divisor raises in the expression lane, so that run keeps
    every pair's norm product non-zero."""
    import math

    from pyspark.sql import Window

    from qbeast_spark_spark.operators.embeddings import (
        _quantized_pairs_exprs, quantized_topk)

    nan, z = float("nan"), [0.0, 0.0]
    zero_vecs = [(1, z), (2, z)]
    nan_vecs = [(100, [nan, 1.0]), (101, [nan, 2.0])]
    real = [(i, [1.0, i / 10.0]) for i in range(10, 15)]
    nan_q, zero_q = (8, [nan, 1.0]), (9, z)
    if ansi == "false":
        cases = [(zero_vecs + nan_vecs + real,
                  [(0, [1.0, 0.5]), nan_q, zero_q])]
        want = {8: [1, 2, 10], 9: [100, 101, 1]}
    else:
        cases = [(zero_vecs + nan_vecs, [nan_q]), (nan_vecs, [zero_q])]
        want = {8: [1, 2, 100], 9: [100, 101]}

    def norm(r):            # NaN != NaN: map to a comparable sentinel
        c = r["cos"]
        c = "NaN" if isinstance(c, float) and math.isnan(c) else c
        return (r["q_id"], r["vec_id"], c, r["rank"])

    keys = ("spark.sql.ansi.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    prev = {k: spark.conf.get(k, None) for k in keys}
    got = {}
    try:
        spark.conf.set(keys[0], ansi)
        spark.conf.set(keys[1], "3")   # small batches: selection drops rows
        for rows, queries in cases:
            vecs = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>")
            q = spark.createDataFrame(
                queries, "q_id long, q_embedding array<double>")
            new = quantized_topk(vecs, q, k=3).collect()
            pairs = _quantized_pairs_exprs(vecs, q, "embedding", "vec_id",
                                           "q_id", "q_embedding")
            w = Window.partitionBy("q_id").orderBy(
                F.col("cos").desc(), F.col("vec_id").asc())
            old = (pairs.withColumn("rank", F.row_number().over(w))
                   .where(F.col("rank") <= 3)).collect()
            assert sorted(map(norm, new)) == sorted(map(norm, old))
            for r in sorted(new, key=lambda r: r["rank"]):
                got.setdefault(r["q_id"], []).append(r["vec_id"])
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # NaN query: every cosine is NaN, zero-norm rows included, so the
    # id tie-break picks them first; zero-norm query: the NaN rows are
    # NaN and outrank the NULLs of every finite row
    assert {q: got[q] for q in want} == want, got


def test_quantized_topk_dim_mismatch_raises_descriptive(spark):
    """ADVICE r11: a body/query dimension mismatch raises the named
    error, not an opaque NumPy matmul shape failure."""
    import pytest as _pytest

    from qbeast_spark_spark.operators.embeddings import quantized_topk

    vecs = spark.createDataFrame([(1, [1.0, 0.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              "q_id long, q_embedding array<double>")
    with _pytest.raises(Exception, match="dimension mismatch"):
        quantized_topk(vecs, q, k=1).collect()
