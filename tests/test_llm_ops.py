"""Unit semantics for dedup / similarity / text / multimodal operators."""

from __future__ import annotations

import pytest

from kafka_flink_spark.operators import dedup as D
from kafka_flink_spark.operators import multimodal as M
from kafka_flink_spark.operators import similarity as S
from kafka_flink_spark.operators import text as X


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different words about spark engines and shuffles here"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r.fp: r for r in D.exact_dedup(_docs(spark)).collect()}
    assert len(out) == 3
    dup_group = [r for r in out.values() if r.n_copies == 2]
    assert len(dup_group) == 1 and dup_group[0].keep_id == 1


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(_docs(spark), min_jaccard=0.5).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_exact_dup_is_1(spark):
    rows = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs(spark), min_jaccard=0.2).collect()
    }
    assert rows[(1, 4)] == 1.0
    assert 0.5 < rows[(1, 2)] < 1.0


def test_simhash_near_pairs(spark):
    sigs = {r.doc_id: r.simhash for r in D.simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]  # identical text → identical signature
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_pairs(_docs(spark), max_hamming=20).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 20
    # num_chunks <= max_hamming breaks the pigeonhole guarantee: raise
    # before any job runs
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        D.simhash_near_pairs(_docs(spark), max_hamming=6, num_chunks=6)


def test_lsh_mega_cluster_bucket_bounded(spark):
    """Pathological boilerplate corpus: many byte-identical docs land
    in one LSH bucket. The signature-collapse guard must (a) keep the
    banding join input at ONE row per distinct signature — bounded
    buckets regardless of cluster size — and (b) leave the emitted
    pair set unchanged: all within-cluster pairs plus the unrelated
    docs' near-dup pairs."""
    from pyspark.sql import functions as F

    n = 200
    boiler = [(i, "this page is intentionally left blank do not index it") for i in range(n)]
    distinct = [
        (1000, "a genuinely unique document about distributed query planning"),
        (1001, "another unrelated text concerning watermark semantics in streams"),
    ]
    docs = spark.createDataFrame(boiler + distinct, "doc_id long, text string")

    # (a) bounded banding input: distinct signatures, not docs
    sigs = D.minhash_signatures(docs)
    n_sigs = sigs.select(*[f"mh{p}" for p in range(D.NUM_PERMS)]).distinct().count()
    assert n_sigs == 3  # one per distinct text — the 200 copies collapse

    # (b) pair set unchanged: exactly C(200,2) boilerplate pairs at j=1.0
    pairs = D.minhash_lsh_pairs(docs, min_jaccard=0.5)
    got = pairs.agg(
        F.count("*").alias("n"), F.min("jaccard").alias("jmin")
    ).collect()[0]
    assert got.n == n * (n - 1) // 2 and got.jmin == 1.0

    sim = D.simhash_near_pairs(docs, max_hamming=6)
    sgot = sim.agg(F.count("*").alias("n"), F.max("hamming").alias("hmax")).collect()[0]
    assert sgot.n == n * (n - 1) // 2 and sgot.hmax == 0


def test_lsh_distinct_sig_hot_bucket_capped(spark):
    """Round-4 guard: a boilerplate family whose signatures are
    near-identical but DISTINCT (the case signature-collapse cannot
    touch) must not go quadratic in the banding join. With bucket_cap
    set, oversized (band_id, band_key) buckets route to a hub star —
    join rows linear in bucket size — so a 10k-doc family yields a
    linear (not ~5e7) pair set, every emitted pair is exact-verified,
    and the family stays connected through the hubs."""
    from pyspark.sql import functions as F

    n = 10_000
    # 50 boilerplate + 12 doc-specific words: pairwise jaccard ~0.67
    # (well above threshold) yet ~98% of signatures DISTINCT, with
    # single band buckets holding up to ~9.4k distinct signatures —
    # the exact shape the identical-signature collapse cannot touch
    boiler = " ".join(f"w{j}" for j in range(50))
    uniq = F.concat_ws(
        " ",
        F.array(
            *[
                F.concat(
                    F.lit(f"u{k}_"),
                    F.pmod(F.xxhash64(F.col("id") * 31 + k), F.lit(10**9)).cast(
                        "string"
                    ),
                )
                for k in range(12)
            ]
        ),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat(F.lit(boiler + " "), uniq).alias("text")
    )

    # precondition: the family really is signature-DISTINCT (collapse
    # guard alone would not help) — sample suffices
    sample = docs.filter("doc_id < 500")
    n_sigs = (
        D.minhash_signatures(sample)
        .select(*[f"mh{p}" for p in range(D.NUM_PERMS)])
        .distinct()
        .count()
    )
    assert n_sigs > 400, n_sigs

    pairs = D.minhash_lsh_pairs(docs, min_jaccard=0.5, bucket_cap=32).persist()
    n_pairs = pairs.count()
    # linear, not quadratic: C(10k,2) ~ 5e7; star bound is
    # O(n * num_bands) plus small-bucket extras
    assert 0 < n_pairs <= 6 * n, n_pairs
    assert pairs.agg(F.min("jaccard")).collect()[0][0] >= 0.5
    # connectivity: nearly every doc is incident to some emitted pair
    touched = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .count()
    )
    assert touched >= n * 0.95, touched


def test_simhash_distinct_sig_hot_bucket_capped(spark):
    """Same guard on the simhash chunk-banding path: distinct-but-close
    signatures over the cap route to the hub star with exactly-once
    emission (first-match filter on both paths — no duplicate pairs)."""
    from pyspark.sql import functions as F

    n = 2_000
    # heavy boilerplate weight => tiny hamming distances, mostly
    # distinct signatures (one swapped token out of ~180)
    boiler = " ".join(f"w{j % 60}" for j in range(180))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " u"), F.pmod("id", F.lit(997)).cast("string")).alias(
            "text"
        ),
    )
    pairs = D.simhash_near_pairs(docs, max_hamming=6, bucket_cap=16).persist()
    n_pairs = pairs.count()
    assert 0 < n_pairs < n * n // 4, n_pairs
    # exactly-once: no duplicate unordered pairs
    assert pairs.select("doc_a", "doc_b").distinct().count() == n_pairs
    assert pairs.agg(F.max("hamming")).collect()[0][0] <= 6


def test_cosine_topk_identical_vector_first(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    rows.append((3, [1.0, 0.1, 0.0, 0.0]))  # near vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    top = S.cosine_topk(emb, q, k=2).collect()
    assert [r.neighbor_id for r in top] == [3, 1]
    assert top[0].cos_sim > 0.99


def test_lang_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a cat"), (2, "der hund und die katze ist ein tier")],
        "doc_id long, text string",
    )
    langs = {r.doc_id: r.pred_lang for r in X.lang_scores(df).collect()}
    assert langs == {1: "en", 2: "de"}
    q = {r.doc_id: r for r in X.quality_scores(df).collect()}
    assert 0.0 <= q[1].quality_score <= 1.0
    assert q[1].stopword_ratio > 0.3


def test_multimodal_plumbing(spark):
    media = M.blobs_from_documents(
        spark.createDataFrame(
            [(0, "img payload", "en", "s", 11), (2, "vid payload", "en", "s", 11)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    decoded = {r.media_id: r for r in M.decode_media(media).collect()}
    assert decoded[0].media_type == "image" and decoded[2].media_type == "video"
    assert decoded[0].n_bytes == 11 and 1 <= decoded[0].n_frames <= 10
    frames = M.sample_frames(media).collect()
    assert all(f.media_id == 2 for f in frames) and len(frames) >= 1
    emb = M.embed_media(media).collect()
    assert all(len(r.embedding) == 8 for r in emb)
    # real=True on NON-media payloads (text bytes) decodes to nulls —
    # the probe recognizes nothing, it doesn't invent dimensions
    real = {r.media_id: r for r in M.decode_media(media, real=True).collect()}
    assert real[0].width is None and real[0].n_frames is None


def test_real_media_probe_roundtrip():
    """probe_media_bytes genuinely parses the format-valid synthesized
    containers: PNG IHDR dims, GIF block-walk frame count, WAV
    rate/frames/duration; junk and truncated payloads → format None."""
    p = M.probe_media_bytes(M.synth_png(31, 17, seed=5))
    assert (p["format"], p["width"], p["height"], p["n_frames"]) == ("png", 31, 17, 1)
    w = M.probe_media_bytes(M.synth_wav(850))
    assert (w["format"], w["sample_rate"], w["n_channels"], w["n_frames"]) == (
        "wav", 8000, 1, 850,
    )
    assert w["duration_ms"] == 850 * 1000 // 8000
    g = M.probe_media_bytes(M.synth_gif(12, 7, 4))
    assert (g["format"], g["width"], g["height"], g["n_frames"]) == ("gif", 12, 7, 4)
    assert M.probe_media_bytes(b"not a media file")["format"] is None
    assert M.probe_media_bytes(M.synth_png(8, 8)[:20])["format"] is None


def test_real_media_probe_spark_path(spark):
    """End-to-end real decode over the binary column: synthesize real
    blobs per doc, parse them back with probe_media, check the decoded
    metadata equals the generator parameters."""
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.media_id: r for r in M.probe_media(M.real_blobs_from_documents(docs)).collect()}
    assert len(out) == 9
    for i in range(9):
        r = out[i]
        if i % 3 == 0:
            assert (r.format, r.width, r.height, r.n_frames) == ("png", i % 31 + 1, i % 17 + 1, 1)
        elif i % 3 == 1:
            assert (r.format, r.sample_rate, r.n_frames) == ("wav", 8000, i % 1000 + 100)
        else:
            assert (r.format, r.width, r.n_frames) == ("gif", i % 31 + 1, i % 10 + 1)


def test_real_decode_with_pil_if_available(spark):
    """PIL cross-check (skips where PIL is absent): the import-guarded
    real=True image path must agree with the stdlib probe."""
    pytest.importorskip("PIL")
    docs = spark.createDataFrame(
        [(0, "t", "en", "s", 1), (3, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = M.real_blobs_from_documents(docs)
    decoded = {r.media_id: r for r in M.decode_media(media, real=True).collect()}
    assert decoded[0].width == 1 and decoded[3].width == 4


def test_ann_knn_graph_recall_and_probes(spark):
    """ann_knn_graph: within-bucket edges are a subset of the exact
    graph's candidate space with decent recall on the fixture corpus,
    and hamming-1 probing strictly widens recall."""
    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_graph(emb, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_knn_graph(emb, k=5, num_planes=4).collect()
    }
    probed = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_knn_graph(emb, k=5, num_planes=4, num_probes=2).collect()
    }
    recall = len(ann & exact) / len(exact)
    recall_probed = len(probed & exact) / len(exact)
    # sign-bit LSH recall on near-random 64-dim fixture vectors is
    # bounded by (1-theta/pi)^planes ~ 0.13 at 4 planes — assert the
    # mechanism (non-trivial recall, probing strictly widens), not a
    # wishful number; real corpora with cluster structure recall far
    # higher (and d8/v3 cover the IVF-style path).
    assert recall >= 0.08, recall
    assert recall_probed > recall, (recall_probed, recall)


def test_ivf_recall_vs_exact(spark):
    """IVF probing n_probe/n_cells of the corpus still finds most true
    neighbors: recall@10 vs the exact brute-force baseline ≥ 0.5 on the
    fixture corpus (recall tunes with n_probe; 4/16 cells ≈ 25% scanned)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = S.cosine_topk(emb, queries, k=10).toPandas()
    ivf = S.ivf_topk(emb, queries, k=10).toPandas()
    recalls = []
    for qid in (0, 1, 2):
        t = set(exact[exact.query_id == qid].neighbor_id)
        a = set(ivf[ivf.query_id == qid].neighbor_id)
        recalls.append(len(t & a) / len(t))
    # measured 0.867 on the fixed fixture (deterministic); 0.5 is the
    # regression floor — a broken cell assignment collapses to ~0.1
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_approx_distinct_within_error_bound(spark):
    """g7: HLL++ estimate within 2% of the exact distinct count (rsd=0.01
    sketch; the oracle-free query's accuracy gate)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx"),
            F.count_distinct("l_orderkey").alias("exact"),
        )
        .toPandas()
    )
    for _, row in got.iterrows():
        assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.02, row


def test_lsh_pairs_subset_of_exact_pairs(spark):
    """MinHash+LSH candidates are verified with exact Jaccard, so at an
    equal threshold the LSH result is a subset of the exact all-pairs
    result (LSH can only miss pairs, never invent them); recall stays
    useful at the fixture's similarity profile."""
    from pyspark.sql import functions as F  # noqa: F401

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, min_jaccard=0.5).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5, (len(lsh), len(exact))
    # prefix filtering is lossless: the same set as the exact join
    prefix = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs_prefix(docs, min_jaccard=0.5).collect()
    }
    assert prefix == exact


def test_multiprobe_recall_dominates_single_bucket(spark):
    """v4: probing the hamming-1 buckets can only ADD candidates, so
    multi-probe recall@10 vs exact must be >= single-bucket recall and
    strictly grow the candidate pool on the fixture corpus."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = S.cosine_topk(emb, queries, k=10).toPandas()
    single = S.lsh_ann_topk(emb, queries, k=10, num_planes=4).toPandas()
    multi = S.multiprobe_lsh_ann_topk(emb, queries, k=10, num_planes=4).toPandas()

    def recall(approx):
        rs = []
        for qid in (0, 1, 2):
            t = set(exact[exact.query_id == qid].neighbor_id)
            a = set(approx[approx.query_id == qid].neighbor_id)
            rs.append(len(t & a) / len(t))
        return sum(rs) / len(rs)

    r_single, r_multi = recall(single), recall(multi)
    assert r_multi >= r_single, (r_single, r_multi)
    assert len(multi) >= len(single)


def test_approx_percentile_within_error_bound(spark):
    """g13: GK-sketch percentile estimates land within 1% rank error of
    the exact percentiles (accuracy=10000 => epsilon 1e-4 of rank; the
    1% bound here is loose enough for fixture-size groups)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem")
    approx = {
        r.l_returnflag: r.pcts
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("pcts"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.pcts
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))).alias("pcts"))
        .collect()
    }
    for flag, ex in exact.items():
        for a, e in zip(approx[flag], ex):
            assert abs(a - e) / max(e, 1.0) < 0.01, (flag, a, e)


def test_count_min_overestimates_within_bound(spark):
    """g15: the CMS estimate is (a) never below the true count (min of
    counters that each include the key's own increments) and (b) within
    the classic eps*N bound (eps = e/width) for the overwhelming
    majority of keys (per-key failure probability <= exp(-depth))."""
    import math

    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.sketches import CMS_WIDTH, cms_estimate
    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem")
    exact = li.groupBy("l_partkey").agg(F.count("*").cast("long").alias("exact"))
    est = cms_estimate(li, li.select("l_partkey").distinct(), "l_partkey")
    joined = est.join(exact, "l_partkey").toPandas()
    n_rows = int(joined["exact"].sum())
    bound = math.e / CMS_WIDTH * n_rows
    assert (joined["cms_est"] >= joined["exact"]).all()
    within = (joined["cms_est"] - joined["exact"] <= bound).mean()
    assert within >= 0.95, (within, bound)


def test_quantized_topk_recall_vs_exact(spark):
    """v6: int8 scalar quantization keeps recall@10 vs the exact cosine
    baseline >= 0.5 on the fixture corpus (measured 0.7; the embeddings
    are unit-norm so quantized dot product approximates cosine rank)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = S.cosine_topk(emb, queries, k=10).toPandas()
    quant = S.quantized_topk(emb, [0, 1, 2], k=10).toPandas()
    recalls = []
    for qid in (0, 1, 2):
        t = set(exact[exact.query_id == qid].neighbor_id)
        a = set(quant[quant.query_id == qid].neighbor_id)
        recalls.append(len(t & a) / len(t))
    # measured 0.70 on the fixed fixture (deterministic); 0.5 floor
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_semantic_dedup_is_within_cell_subset_of_all_pairs(spark):
    """Every semantic-dedup pair is an all-pairs near-dup pair (same
    threshold), and both members share the pair's reported cell — the
    SemDeDup trade: bounded quadratic work, recall limited to
    within-cluster pairs."""
    from kafka_flink_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sem = S.semantic_dedup_pairs(emb, min_cosine=0.35)
    allp = S.embedding_near_dup_pairs(emb, min_cosine=0.35)
    sem_pairs = {(r.id_a, r.id_b) for r in sem.collect()}
    all_pairs = {(r.id_a, r.id_b) for r in allp.collect()}
    assert sem_pairs, "fixture corpus should contain within-cell near-dups"
    assert sem_pairs <= all_pairs


def test_redact_pii_removes_every_pattern(spark):
    rows = [
        (1, "reach me at jane.doe+spam@mail.example.org today"),
        (2, "call +1-555-867-5309 or +44-20-7946-0958 now"),
        (3, "server at 192.168.1.254 and 10.0.0.1 responded"),
        (4, "ssn is 078-05-1120 ok"),
        (5, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.redact_pii(df).collect()}
    assert out[1].n_email == 1 and "<EMAIL>" in out[1].text and "@" not in out[1].text
    assert out[2].n_phone == 2 and out[2].text.count("<PHONE>") == 2
    assert out[3].n_ipv4 == 2 and "192.168" not in out[3].text
    assert out[4].n_ssn == 1 and "<SSN>" in out[4].text
    assert out[5].text == "nothing sensitive here"
    # counts come from pre-redaction text; redacted text has no residue
    import re

    for kind, pat, _tag in X.PII_PATTERNS:
        for r in out.values():
            assert not re.search(pat, r.text), (kind, r.text)


def test_hll_union_equals_whole_and_bounds_error(spark):
    """g16: union of per-partition HLL sketches estimates the same as
    one sketch over the whole column (mergeability — the property that
    makes the two-level pattern valid), and lands within 2% of exact."""
    from pyspark.sql import functions as F
    from kafka_flink_spark.sources.fixtures import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    unioned = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0].e
    )
    whole = o.agg(F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")).collect()[0].e
    exact = o.select("o_custkey").distinct().count()
    assert unioned == whole
    assert abs(unioned - exact) / exact < 0.02


def test_leakage_safe_split_keeps_clusters_whole(spark):
    """pipe3's structural guarantee, asserted directly: no near-dup
    cluster straddles two splits (the property that makes the split
    contamination-safe)."""
    from pyspark.sql import functions as F
    from kafka_flink_spark.functions.hashing import md5_long
    from kafka_flink_spark.sources.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.simhash_near_pairs(docs, max_hamming=6).select("doc_a", "doc_b")
    clusters = D.dedup_clusters(docs.select("doc_id"), pairs)
    multi = clusters.groupBy("cluster_id").count().filter(F.col("count") > 1)
    assert multi.count() > 0, "fixture should contain non-trivial clusters"
    bucket = md5_long(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
    ) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    spans = (
        clusters.withColumn("split", split)
        .groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )
    assert spans.count() == 0


def test_bloom_prune_superset_and_exact_join_equality(spark):
    """operators/bloom: (a) pruning never drops a true match (Bloom
    filters have no false negatives — every dim key's positions are in
    the bit set by construction); (b) with a deliberately tiny filter
    (64 bits) false positives survive pruning but the composed
    bloom_semi_join still equals the plain semi join exactly; (c) a
    realistically-sized filter prunes most non-matching fact rows."""
    from pyspark.sql import functions as F
    from kafka_flink_spark.operators.bloom import bloom_bits, bloom_prune, bloom_semi_join
    from kafka_flink_spark.sources.fixtures import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    dim = (
        load_table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    exact = li.join(dim, li.l_partkey == dim.p_partkey, "left_semi")
    n_exact, n_fact = exact.count(), li.count()
    assert 0 < n_exact < n_fact

    # (b) tiny filter: heavy collisions, equality must still hold
    tiny = bloom_semi_join(li, dim, "l_partkey", "p_partkey", num_bits=64, num_hashes=2)
    assert tiny.count() == n_exact
    bits64 = bloom_bits(dim, "p_partkey", 64, 2)
    pruned64 = bloom_prune(li, "l_partkey", bits64, 64, 2)
    assert pruned64.count() >= n_exact  # superset: no false negatives

    # (c) sized filter: survivors ~= true matches (FP rate tiny)
    bits = bloom_bits(dim, "p_partkey", 1 << 16, 3)
    pruned = bloom_prune(li, "l_partkey", bits, 1 << 16, 3)
    n_pruned = pruned.count()
    assert n_exact <= n_pruned <= n_exact + max(10, n_fact // 100)
    # schema passes through unchanged
    assert pruned.columns == li.columns


def test_bloom_prune_is_broadcast_only(spark):
    """Scale contract: every Bloom probe is a broadcast semi join —
    the fact side reaches the exact join without a single shuffle."""
    from pyspark.sql import functions as F
    from kafka_flink_spark.operators.bloom import bloom_bits, bloom_prune
    from kafka_flink_spark.plans import plan_string
    from kafka_flink_spark.sources.fixtures import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_partkey")
    dim = load_table(spark, sf, "part").filter(F.col("p_size") < 10).select("p_partkey")
    bits = bloom_bits(dim, "p_partkey", 1 << 16, 3)
    pruned = bloom_prune(li, "l_partkey", bits, 1 << 16, 3)
    p = plan_string(pruned)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bpe_pair_counts_hand_computed(spark):
    """bpe_pair_counts on a tiny corpus against hand-derived counts:
    'abab ab' x2 + 'ab' => words: abab(x2), ab(x3); pairs: ab from
    abab(2 per word x2=4... weighted by word freq) — asserts the
    frequency weighting and adjacent-window enumeration exactly."""
    from kafka_flink_spark.operators.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "abab ab"), (3, "ab")], "doc_id long, text string"
    )
    got = {r["pair"]: r["pair_count"] for r in bpe_pair_counts(docs, top_k=10).collect()}
    # wf: abab freq 2, ab freq 3
    # abab pairs: ab, ba, ab -> ab x2, ba x1 (weight 2 each)
    # ab pairs: ab (weight 3)
    assert got == {"ab": 2 * 2 + 3, "ba": 2}


def test_cdc_chunks_survive_an_insertion(spark):
    """The property content-defined chunking exists for: inserting one
    word at the FRONT of a long document leaves most chunk
    fingerprints shared with the original (only the chunk containing
    the edit changes), while fixed-width windows all shift. Verified
    by chunking a doc and its one-word-prefixed copy."""
    from pyspark.sql import functions as F
    from kafka_flink_spark.operators.text import cdc_chunk_dedup

    base = " ".join(f"word{i % 97}x{i % 13}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], "doc_id long, text string"
    )
    chunks = cdc_chunk_dedup(docs, boundary_mod=16)
    shared = chunks.filter(F.col("n_copies") == 2).count()
    total_1 = chunks.filter(F.col("keep_doc") == 1).count()
    assert total_1 >= 4, f"doc too short for the test ({total_1} chunks)"
    # all but the first chunk (which absorbed the insertion) dedup away
    assert shared >= total_1 - 2, (shared, total_1)


class TestKmeans:
    def test_assignment_partitions_input(self, spark):
        from kafka_flink_spark.operators.clustering import kmeans_fit

        from kafka_flink_spark.sources.fixtures import load_table
        from tests.conftest import SF_SMALL

        emb = load_table(spark, SF_SMALL, "embeddings")
        n = emb.count()
        assigned = kmeans_fit(emb, k=4, iterations=1)
        rows = assigned.groupBy("cid").count().collect()
        assert sum(r["count"] for r in rows) == n
        assert len(rows) <= 4
        # every d2 is a valid squared distance
        assert assigned.filter("d2 < 0").count() == 0

    def test_iterations_do_not_increase_inertia(self, spark):
        """Lloyd's algorithm monotonically decreases total inertia."""
        from pyspark.sql import functions as F

        from kafka_flink_spark.operators.clustering import kmeans_fit
        from kafka_flink_spark.sources.fixtures import load_table
        from tests.conftest import SF_SMALL

        emb = load_table(spark, SF_SMALL, "embeddings")
        inertias = []
        for it in (0, 1, 2):
            a = kmeans_fit(emb, k=4, iterations=it)
            inertias.append(a.agg(F.sum("d2")).collect()[0][0])
        assert inertias[1] <= inertias[0] + 1e-6
        assert inertias[2] <= inertias[1] + 1e-6

    def test_assignment_plan_has_no_shuffle(self, spark):
        """The assignment pass must stay narrow: broadcast of the
        one-row centroid array, zero Exchange above the scan."""
        from pyspark.sql import functions as F

        from kafka_flink_spark.operators.clustering import _assign
        from kafka_flink_spark.operators.similarity import _as_double
        from kafka_flink_spark.sources.fixtures import load_table
        from tests.conftest import SF_SMALL

        emb = load_table(spark, SF_SMALL, "embeddings")
        base = emb.select(F.col("vec_id"), _as_double("embedding").alias("v"))
        cents = base.limit(4).select(
            F.lit(0).cast("int").alias("cid"), F.col("v").alias("c")
        )
        plan = _assign(base, cents, "vec_id")._jdf.queryExecution().executedPlan().toString()
        # the only exchange allowed is building the broadcast side
        import re

        # Allowed: the BroadcastExchange of the one-row centroid array
        # and the SinglePartition exchange collapsing the k centroid
        # rows inside that broadcast build. Forbidden: any shuffle of
        # the corpus side.
        non_broadcast_exchanges = [
            ln for ln in plan.splitlines()
            if "Exchange" in ln
            and "Broadcast" not in ln
            and "ReusedExchange" not in ln
            and "SinglePartition" not in ln
        ]
        assert non_broadcast_exchanges == [], plan


class TestTextRound3:
    def test_inverted_index_caps_high_df_terms(self, spark):
        """A shingle above max_df keeps no posting list; one inside the
        band keeps a sorted, complete list."""
        from kafka_flink_spark.operators.text import inverted_index

        boiler = "alpha beta gamma"
        rows = [(i, boiler) for i in range(6)] + [
            (10, "one two three"),
            (11, "one two three"),
            (12, "unique only here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["term"]: r for r in inverted_index(df, n=3, max_df=5).collect()}
        assert "alpha beta gamma" not in out  # df=6 > cap
        assert out["one two three"]["postings"] == "10,11"
        assert out["one two three"]["df_count"] == 2
        assert "unique only here" not in out  # df=1 < min_df

    def test_stratified_exact_sample_quota(self, spark):
        from math import ceil

        from kafka_flink_spark.operators.text import stratified_exact_sample
        from kafka_flink_spark.sources.fixtures import load_table
        from tests.conftest import SF_SMALL

        docs = load_table(spark, SF_SMALL, "documents")
        totals = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
        out = stratified_exact_sample(docs, frac=0.1)
        got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
        assert got == {k: ceil(0.1 * v) for k, v in totals.items()}

    def test_pmi_ranks_collocation_over_independent(self, spark):
        """A bigram always occurring together outranks one whose parts
        are frequent independently."""
        from kafka_flink_spark.operators.text import pmi_bigrams

        rows = [(i, "strong glue " + "filler word " * 10) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_bigrams(df, min_count=5, top_n=5).collect()
        assert out[0]["bigram"] == "strong glue"
        assert out[0]["pmi"] > 0


def test_ivf_learned_centroids_plug_in(spark):
    """v8 composition: learned k-means centroids drive the same IVF
    search dataflow, return k results per query, and achieve recall
    comparable to the assignment-only quantizer at the same probe
    budget."""
    from kafka_flink_spark.operators.clustering import kmeans_centroids
    from kafka_flink_spark.operators.similarity import cosine_topk, ivf_topk
    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter("vec_id IN (0, 1, 2)")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    cents = kmeans_centroids(emb, k=8, iterations=2)
    learned = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=10, n_probe=4, centroids=cents).collect()
    }
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=10, n_probe=4).collect()
    }
    assert len(learned) == 30  # 3 queries x k
    recall_learned = len(learned & exact) / len(exact)
    recall_plain = len(plain & exact) / len(exact)
    # probing 4 of 8 learned cells must not trail 4 of 16 arbitrary
    # cells by much; on clustered corpora it wins outright
    assert recall_learned >= recall_plain - 0.2, (recall_learned, recall_plain)
    assert recall_learned >= 0.3, recall_learned


def test_incremental_dedup_statuses(spark):
    """Hand-built corpus: exact copy of an existing doc ->
    dup_of_existing; near-dup pair inside the batch -> the larger id
    is dup_within_batch of the smaller; unrelated -> novel. Priority:
    an existing match beats a within-batch one."""
    from kafka_flink_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    existing = spark.createDataFrame(
        [(1, base), (2, "an unrelated corpus document about watermark semantics")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact copy of existing 1
            (11, "fresh novel content concerning adaptive query execution plans"),
            (12, "shared passage alpha beta gamma delta epsilon zeta eta theta"),
            (13, "shared passage alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_dedup(existing, new).collect()}
    assert out[10]["status"] == "dup_of_existing" and out[10]["partner"] == 1
    assert out[10]["jaccard"] == 1.0
    assert out[11]["status"] == "novel" and out[11]["partner"] is None
    assert out[12]["status"] == "novel"  # smaller id of the batch pair
    assert out[13]["status"] == "dup_within_batch" and out[13]["partner"] == 12


class TestTextRound3b:
    """t23/t24/t25 — substring spans, deterministic shuffle, BPE train."""

    def test_dup_substring_spans_hand_computed(self, spark):
        from kafka_flink_spark.operators.text import duplicated_window_spans

        shared = "one two three four five six seven eight"  # 8 tokens
        docs = spark.createDataFrame(
            [
                (0, shared + " tail0 tail1"),
                (1, "head0 head1 " + shared),
                (2, "totally different words with no repeats at all here"),
                (3, "tiny doc"),  # shorter than k -> zero windows
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in duplicated_window_spans(docs, k=8).collect()
        }
        # Docs 0 and 1 share exactly one 8-token window (the shared
        # sentence); its span covers 8 tokens in each.
        for d in (0, 1):
            assert out[d]["n_dup_windows"] == 1
            assert out[d]["dup_tokens"] == 8
        assert out[0]["n_windows"] == 3 and out[1]["n_windows"] == 3
        assert out[2]["n_dup_windows"] == 0 and out[2]["dup_tokens"] == 0
        assert out[3]["n_windows"] == 0 and out[3]["dup_ratio"] == 0.0

    def test_dup_substring_spans_merges_overlaps(self, spark):
        from kafka_flink_spark.operators.text import duplicated_window_spans

        # doc 0 repeated verbatim as doc 1: every window duplicated,
        # overlapping spans must merge to cover the whole doc exactly
        # once (dup_tokens == n_tokens, not windows * k).
        text = " ".join(f"w{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(0, text), (1, text)], "doc_id long, text string"
        )
        for r in duplicated_window_spans(docs, k=8).collect():
            assert r["n_dup_windows"] == 13  # 20 - 8 + 1
            assert r["dup_tokens"] == 20
            assert r["dup_ratio"] == 1.0

    def test_deterministic_shuffle_partitions_exactly(self, spark):
        from kafka_flink_spark.operators.text import deterministic_shuffle

        docs = spark.createDataFrame(
            [(i, "x") for i in range(1000)], "doc_id long, text string"
        )
        out = deterministic_shuffle(docs, n_shards=8).collect()
        assert len(out) == 1000
        assert len({(r["shard"], r["pos_in_shard"]) for r in out}) == 1000
        by_shard: dict[int, list[int]] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
        assert set(by_shard) == set(range(8))
        for positions in by_shard.values():
            assert sorted(positions) == list(range(1, len(positions) + 1))
        # Determinism across independent evaluations.
        again = deterministic_shuffle(docs, n_shards=8).collect()
        assert {tuple(r) for r in out} == {tuple(r) for r in again}

    def test_bpe_train_matches_pure_python_reference(self, spark):
        from collections import Counter

        from kafka_flink_spark.operators.text import bpe_train

        from .conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        got = [
            (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
            for r in bpe_train(docs, num_merges=8).orderBy("merge_rank").collect()
        ]

        # Pure-Python reference BPE trainer on the same corpus.
        wf = Counter(
            w
            for row in docs.select("text").collect()
            for w in row["text"].split(" ")
            if w
        )
        vocab = {tuple(w): f for w, f in wf.items()}
        expected = []
        for rank in range(1, 9):
            pairs: Counter = Counter()
            for syms, f in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += f
            if not pairs:
                break
            (a, b), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            expected.append((rank, a, b, a + b, cnt))
            merged_vocab = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                merged_vocab[tuple(out)] = merged_vocab.get(tuple(out), 0) + f
            vocab = merged_vocab

        assert got == expected

    def test_curriculum_rank_is_bin_major_permutation(self, spark):
        from kafka_flink_spark.operators.text import curriculum_order

        from .conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        out = curriculum_order(docs, n_shards=8).collect()
        n = docs.count()
        assert sorted(r["curriculum_rank"] for r in out) == list(range(1, n + 1))
        # Walking ranks in order never moves to a HIGHER-quality bin:
        # cleanest bins come first, bins are contiguous.
        by_rank = sorted(out, key=lambda r: r["curriculum_rank"])
        bins = [r["quality_bin"] for r in by_rank]
        assert bins == sorted(bins, reverse=True)

    def test_random_projection_preserves_relative_distances(self, spark):
        """JL property smoke: for vectors with very different true
        distances, the projected distances keep the ORDER (projection
        is deterministic, so this is a fixed check, not flaky)."""
        import math

        base = [1.0] + [0.0] * 63
        near = [1.0, 0.05] + [0.0] * 62
        far = [0.0] * 32 + [1.0] * 32
        emb = spark.createDataFrame(
            [(0, base), (1, near), (2, far)], "vec_id long, embedding array<double>"
        )
        rows = {r["vec_id"]: [r[f"rp{j}"] for j in range(8)]
                for r in S.random_projection(emb, out_dim=8).collect()}
        d = lambda a, b: math.dist(rows[a], rows[b])
        assert d(0, 1) < d(0, 2)

    def test_temperature_mix_upweights_small_sources(self, spark):
        """alpha<1 ⇒ smaller sources get HIGHER sampling rates, and
        realized counts track rate_ppm * n_docs within binomial noise."""
        rows = [(i, f"s{'big' if i % 10 else 'small'}") for i in range(20000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = {r["source"]: r for r in X.temperature_mix(df, alpha=0.5).collect()}
        assert out["ssmall"]["rate_ppm"] > out["sbig"]["rate_ppm"]
        for r in out.values():
            expect = r["n_docs"] * r["rate_ppm"] / 1e6
            assert abs(r["n_sampled"] - expect) < 4 * (expect ** 0.5) + 5

    def test_bpe_encode_stats_matches_pure_python(self, spark):
        from collections import Counter

        from kafka_flink_spark.operators.text import bpe_encode_stats

        from .conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        got = bpe_encode_stats(docs, num_merges=8).collect()[0]

        wf = Counter(
            w
            for row in docs.select("text").collect()
            for w in row["text"].split(" ")
            if w
        )
        vocab = {tuple(w): f for w, f in wf.items()}
        for _ in range(8):
            pairs: Counter = Counter()
            for syms, f in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += f
            if not pairs:
                break
            (a, b), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            nv: dict = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] = nv.get(tuple(out), 0) + f
            vocab = nv

        assert got["n_distinct_words"] == len(vocab)
        assert got["total_words"] == sum(vocab.values())
        assert got["char_tokens"] == sum(
            f * sum(len(s) for s in syms) for syms, f in vocab.items()
        )
        assert got["bpe_tokens"] == sum(f * len(syms) for syms, f in vocab.items())
        assert got["n_symbols"] == len({s for syms in vocab for s in syms})
        assert got["compression_ratio"] == round(
            got["char_tokens"] / got["bpe_tokens"], 6
        )

    def test_remove_duplicate_spans_keep_first_policy(self, spark):
        import hashlib

        from kafka_flink_spark.operators.text import remove_duplicate_spans

        shared = "one two three four five six seven eight"
        a_text = shared + " tailA0 tailA1"
        b_text = "headB0 headB1 " + shared
        docs = spark.createDataFrame(
            [(0, a_text), (1, b_text), (2, a_text), (3, "no repeats in this doc at all whatsoever today")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=8).collect()}
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
        # doc 0 is the first occurrence of everything it contains: untouched
        assert out[0]["n_removed"] == 0 and out[0]["clean_md5"] == md5(a_text)
        # doc 1 loses exactly the shared 8-token window
        assert out[1]["n_removed"] == 8
        assert out[1]["clean_md5"] == md5("headB0 headB1")
        # doc 2 duplicates doc 0 verbatim: fully removed
        assert out[2]["n_kept"] == 0 and out[2]["clean_md5"] == md5("")
        # doc 3 untouched
        assert out[3]["n_removed"] == 0 and out[3]["clean_md5"] == md5(
            "no repeats in this doc at all whatsoever today"
        )


class TestRound4Ops:
    def test_winnowing_guarantee_shared_substring(self, spark):
        """Two docs sharing a >= w+k-1 = 8 word substring must share at
        least one fingerprint hash (the winnowing guarantee); the
        selection itself is rightmost-minimal per window."""
        from kafka_flink_spark.operators.text import winnowing_fingerprints
        from kafka_flink_spark.operators.text import _token_window_hashes
        from pyspark.sql import functions as F

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
        rows = [
            (1, "one two three " + shared + " four five six seven eight nine"),
            (2, "nine eight seven six " + shared + " ten eleven twelve thirteen"),
            (3, "totally unrelated words that go on and on and never repeat much here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # recompute the selected fingerprint sets directly
        _, wins = _token_window_hashes(docs, 4, "text", "doc_id")
        from pyspark.sql.window import Window

        w_doc = Window.partitionBy("doc_id").orderBy("pos")
        sel = (
            wins.withColumn("_i", F.row_number().over(w_doc))
            .withColumn(
                "_sel",
                F.min(F.struct(F.col("wh"), (-F.col("pos")).alias("np"))).over(
                    w_doc.rowsBetween(-4, 0)
                ),
            )
            .filter(F.col("_i") >= 5)
            .select("doc_id", F.col("_sel.wh").alias("fp"))
            .distinct()
            .collect()
        )
        fps = {}
        for r in sel:
            fps.setdefault(r.doc_id, set()).add(r.fp)
        assert fps[1] & fps[2], "shared 8-word substring must share a fingerprint"
        assert not (fps[1] & fps[3])
        # per-doc stats agree with the operator
        out = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
        assert out[1].n_fingerprints == len(fps[1])

    def test_url_canonicalize_folds_variants(self, spark):
        from pyspark.sql import functions as F

        from kafka_flink_spark.operators.urls import canonical_url, url_dedup

        variants = [
            (1, "HTTP://WWW.Example.COM/a/b/?utm_source=x&id=7#frag"),
            (2, "http://example.com/a/b?id=7"),
            (3, "http://example.com:80/a/b?id=7"),  # port dropped with authority parse
            (4, "http://example.com/a/b?id=7&utm_campaign=y"),
            (5, "https://example.com/a/b?id=7"),  # different scheme -> different page
            (6, "http://example.com/a/b?id=8"),  # different id -> different page
        ]
        df = spark.createDataFrame(variants, "doc_id long, url string")
        canon = {r.doc_id: r.c for r in df.select("doc_id", canonical_url(F.col("url")).alias("c")).collect()}
        assert canon[1] == canon[2] == canon[3] == canon[4] == "http://example.com/a/b?id=7"
        assert canon[5] == "https://example.com/a/b?id=7"
        assert canon[6] == "http://example.com/a/b?id=8"
        out = {r.canon_url: r for r in url_dedup(df).collect()}
        assert out["http://example.com/a/b?id=7"].n_variants == 4
        assert out["http://example.com/a/b?id=7"].keep_id == 1

    def test_gopher_rules_flags(self, spark):
        from kafka_flink_spark.operators.text import gopher_quality_rules

        long_good = "the " + " ".join("word" + "x" * (i % 7) for i in range(60)) + " of it"
        short_doc = "the tiny a doc"
        no_stops = " ".join(f"w{i}" for i in range(60))
        rows = [(1, long_good), (2, short_doc), (3, no_stops)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
        assert out[1].keep
        assert not out[2].pass_word_count and not out[2].keep
        assert not out[3].pass_stopwords and not out[3].keep
        # "w12"-style tokens contain digits -> fail the alpha ratio
        assert not out[3].pass_alpha

    def test_ann_recall_perfect_with_zero_planes(self, spark):
        """num_planes=0 puts every vector in bucket 0 -> ANN == exact
        -> recall exactly 1.0 for every query."""
        from kafka_flink_spark.operators.similarity import ann_recall

        import math

        rows = [
            (i, [math.cos(0.1 * i * d) for d in range(8)]) for i in range(40)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter("vec_id < 3")
        out = ann_recall(emb, q, k=5, num_planes=0).collect()
        assert len(out) == 3
        assert all(r.recall == 1.0 and r.n_exact == 5 for r in out)


class TestRound4b:
    def test_bm25_semantics(self, spark):
        """Rarer terms get higher idf; longer docs get lower tf_part at
        equal tf (length normalization); scores positive."""
        from kafka_flink_spark.operators.text import bm25_scores

        rows = [
            (1, "spark table " + "pad " * 10),
            (2, "spark table " + "pad " * 40),   # same tf, longer doc
            (3, "table only here " + "pad " * 10),
            (4, "table again " + "pad " * 10),
        ]
        docs = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
        out = {(r.doc_id, r.term): r for r in bm25_scores(docs, terms=("spark", "table")).collect()}
        # spark appears in 2 docs, table in 4 -> idf(spark) > idf(table)
        assert out[(1, "spark")].idf > out[(1, "table")].idf
        # doc 2 is longer with same tf -> smaller tf_part and bm25
        assert out[(1, "spark")].tf_part > out[(2, "spark")].tf_part
        assert out[(1, "spark")].bm25 > out[(2, "spark")].bm25
        assert all(r.bm25 > 0 for r in out.values())

    def test_pq_lossless_when_codebook_is_corpus(self, spark):
        """n_codes >= |corpus| makes every vector its own codeword, so
        ADC distance equals exact squared L2 and the PQ ranking equals
        the exact ranking — the degenerate-exactness property that pins
        the whole encode/ADC dataflow."""
        import math

        from pyspark.sql import functions as F

        from kafka_flink_spark.operators.similarity import pq_adc_topk

        n = 24
        rows = [(i, [math.sin(0.3 * i + 0.7 * d) for d in range(16)]) for i in range(n)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter("vec_id = 0")
        got = pq_adc_topk(emb, q, k=5, n_subspaces=4, n_codes=n, dim=16).collect()
        # exact squared-L2 ranking computed in python
        import numpy as np

        vecs = {i: np.array(v) for i, v in rows}
        d2 = sorted(
            ((float(((vecs[0] - vecs[i]) ** 2).sum()), i) for i in range(1, n)),
        )
        expect = [i for _, i in d2[:5]]
        assert [r.neighbor_id for r in got] == expect


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u): the canonical form is a
    fixed point of the rewrite (a malformed canonicalizer that strips
    one '/' per pass would fail this)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.urls import canonical_url

    urls = [
        "HTTP://WWW.A.B/x//?utm_source=1&q=2&id=3#f",
        "https://a.b",
        "https://a.b/",
        "http://user@host.io:8080/p?ref=x",
        "https://W.example.org/p/q/?b=2&a=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c"))
    twice = once.select(F.col("c").alias("u"), canonical_url(F.col("c")).alias("c2"))
    for r in twice.collect():
        assert r.u == r.c2, (r.u, r.c2)


def test_bucket_cap_output_is_subset_of_uncapped(spark):
    """Soundness of the hot-bucket guard: capping may DROP pairs
    (documented recall tradeoff) but must never INVENT one — every
    capped pair exists in the exact (cap=None) output, with identical
    jaccard/hamming values."""
    from pyspark.sql import functions as F

    n = 300
    boiler = " ".join(f"w{j}" for j in range(50))
    uniq = F.concat_ws(
        " ",
        F.array(
            *[
                F.concat(
                    F.lit(f"u{k}_"),
                    F.pmod(F.xxhash64(F.col("id") * 31 + k), F.lit(10**9)).cast("string"),
                )
                for k in range(12)
            ]
        ),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat(F.lit(boiler + " "), uniq).alias("text")
    )
    capped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.minhash_lsh_pairs(docs, min_jaccard=0.5, bucket_cap=8).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.minhash_lsh_pairs(docs, min_jaccard=0.5, bucket_cap=None).collect()
    }
    assert capped <= exact, capped - exact
    assert capped  # the guard still emits pairs on this corpus

    scapped = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_near_pairs(docs, max_hamming=10, bucket_cap=8).collect()
    }
    sexact = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_near_pairs(docs, max_hamming=10, bucket_cap=None).collect()
    }
    assert scapped <= sexact, scapped - sexact


def test_round4_ops_empty_and_edge_inputs(spark):
    """Empty corpora and degenerate rows must not throw."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.text import (
        bm25_scores,
        gopher_quality_rules,
        winnowing_fingerprints,
    )
    from kafka_flink_spark.operators.urls import canonical_url, url_dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert winnowing_fingerprints(empty).count() == 0
    assert gopher_quality_rules(empty).count() == 0
    assert bm25_scores(empty).count() == 0

    edge = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b c d e f g")], "doc_id long, text string"
    )
    # all below the w+k-1 winnowing threshold -> no fingerprints, no error
    assert winnowing_fingerprints(edge).count() == 0
    assert gopher_quality_rules(edge).count() == 3

    u = spark.createDataFrame(
        [(1, None), (2, "not a url at all"), (3, "https://ok.example/x")],
        "doc_id long, url string",
    )
    rows = {r.doc_id: r.c for r in u.select("doc_id", canonical_url(F.col("url")).alias("c")).collect()}
    assert rows[1] is None
    assert rows[2] is not None  # degrades to ':///'-ish canonical, no throw
    assert rows[3] == "https://ok.example/x"
    assert url_dedup(u).count() >= 2


def test_ivfpq_lossless_degenerate_matches_exact(spark):
    """n_cells=1 (no pruning) + n_codes=|corpus| (every residual its
    own codeword) reduces IVF+PQ to exact search: the ADC ranking must
    equal the exact squared-L2 ranking — pins the whole
    assign/residual/encode/probe/ADC dataflow end-to-end."""
    import math

    import numpy as np

    from kafka_flink_spark.operators.similarity import ivfpq_adc_topk

    n = 24
    rows = [(i, [math.sin(0.3 * i + 0.7 * d) for d in range(16)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    got = ivfpq_adc_topk(
        emb, q, k=5, n_cells=1, n_probe=1, n_subspaces=4, n_codes=n, dim=16
    ).collect()
    vecs = {i: np.array(v) for i, v in rows}
    d2 = sorted((float(((vecs[0] - vecs[i]) ** 2).sum()), i) for i in range(1, n))
    assert [r.neighbor_id for r in got] == [i for _, i in d2[:5]]


def test_ivfpq_probes_restrict_candidates(spark):
    """With n_probe < n_cells, every returned neighbor must belong to
    one of the query's probed cells (the pruning actually prunes)."""
    import math

    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.similarity import ivfpq_adc_topk, _d2_scaled, _as_double

    n = 60
    rows = [(i, [math.cos(0.17 * i * (d + 1)) for d in range(16)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 1")
    got = ivfpq_adc_topk(
        emb, q, k=10, n_cells=6, n_probe=2, n_subspaces=4, n_codes=8, dim=16
    )
    # recompute assignment + probes with the same deterministic rules
    cents = emb.orderBy("vec_id").limit(6).select(
        F.col("vec_id").cast("long").alias("cid"), _as_double("embedding").alias("c")
    )
    base = emb.select(F.col("vec_id").alias("nid"), _as_double("embedding").alias("v"))
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("d2s", _d2_scaled(F.col("v"), F.col("c")))
        .groupBy("nid")
        .agg(F.min_by("cid", F.struct("d2s", "cid")).alias("cell"))
    )
    cellmap = {r.nid: r.cell for r in assigned.collect()}
    probed = sorted(
        r.cell
        for r in (
            base.filter("nid = 1")
            .crossJoin(F.broadcast(cents))
            .withColumn("d2s", _d2_scaled(F.col("v"), F.col("c")))
            .orderBy("d2s", "cid")
            .limit(2)
            .select(F.col("cid").alias("cell"))
            .collect()
        )
    )
    for r in got.collect():
        assert cellmap[r.neighbor_id] in probed, (r.neighbor_id, cellmap[r.neighbor_id], probed)


def test_weighted_priority_sample_formula_and_topk(spark):
    """Priorities equal the exact integer formula (w * 1e9) div (u+1)
    with u = md5-60bit('wps:'+id) % 2^30, and the returned rows are
    exactly the k largest by (priority, id)-order."""
    import hashlib

    from kafka_flink_spark.operators.text import (
        WPS_SCALE,
        WPS_U_MOD,
        weighted_priority_sample,
    )

    rows = [(i, " ".join(["tok"] * (1 + (i * 7) % 23))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = weighted_priority_sample(df, k=10).collect()

    def prio(i, ntok):
        u = int(hashlib.md5(f"wps:{i}".encode()).hexdigest()[:15], 16) % WPS_U_MOD
        return (ntok * WPS_SCALE) // (u + 1)

    want = sorted(
        ((prio(i, 1 + (i * 7) % 23), i, 1 + (i * 7) % 23) for i in range(40)),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [(r.priority, r.doc_id, r.n_tokens) for r in got] == want


def test_containment_detects_embedded_document(spark):
    """d12 semantics: a short doc fully embedded in a longer one has
    containment 1.0 even though Jaccard is diluted below any useful
    threshold — the partial-duplication case the measure exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [
        (1, short),
        (2, short + " " + filler),  # short doc embedded + lots of chrome
        (3, "totally unrelated content with none of those tokens at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): r
        for r in D.ngram_containment_pairs(df, min_containment=0.8).collect()
    }
    assert (1, 2) in out
    pair = out[(1, 2)]
    assert pair.containment == 1.0
    assert pair.jaccard < 0.1  # Jaccard alone would have missed it
    assert len(out) == 1


def test_canonical_selection_keeps_best_quality(spark):
    """pipe8's keeper policy: within a cluster the highest quality
    score wins, ties to the smallest doc_id; singletons keep
    themselves."""
    from pyspark.sql import functions as F

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, cluster_id long"
    )
    q = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (9, 0.1)],
        "doc_id long, quality_score double",
    )
    j = labels.join(q, "doc_id")
    keep = {
        r.cluster_id: r
        for r in j.groupBy("cluster_id")
        .agg(
            F.min_by(
                "doc_id",
                F.struct((-F.col("quality_score")).alias("nq"), F.col("doc_id")),
            ).alias("keep_id"),
            F.count("*").alias("n_members"),
        )
        .collect()
    }
    assert keep[1].keep_id == 2  # 0.9 tie -> smaller doc_id among (2, 3)
    assert keep[9].keep_id == 9 and keep[9].n_members == 1


def test_ivfpq_rerank_exact_on_shortlist(spark):
    """v13: with the candidate set widened to the whole corpus, the
    rerank stage must reproduce brute-force cosine top-k exactly —
    the rerank is exact, only the shortlist is approximate."""
    from kafka_flink_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    queries = emb.filter("vec_id IN (0, 1)")
    exact = {
        (r.query_id, r.rn): r.neighbor_id
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    rer = {
        (r.query_id, r.rn): r.neighbor_id
        for r in S.ivfpq_rerank_topk(
            emb, queries, k=5, n_candidates=10_000, n_probe=8
        ).collect()
    }
    assert rer == exact


def test_line_dedup_first_occurrence_semantics(spark):
    """Hand corpus: doc 1 repeats doc 0's first line (8 tokens) and
    adds a unique short tail; doc 2 repeats the same line twice. The
    first corpus occurrence (doc 0, line 0) survives; every later
    occurrence — including the SECOND copy inside doc 2 — drops.
    Short final lines count only their actual tokens."""
    from kafka_flink_spark.operators.text import line_dedup

    line_a = "a b c d e f g h"           # the shared 8-token line
    rows = [
        (0, line_a + " tail0 x y z"),     # line 0 = A (owner), line 1 = 4 toks
        (1, line_a + " q r"),             # line 0 = A (dup), line 1 = 2 toks
        (2, line_a + " " + line_a),       # line 0 = A (dup), line 1 = A (dup)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_dedup(df, line_words=8).collect()}

    assert got[0]["n_dup_lines"] == 0 and got[0]["dropped_tokens"] == 0
    assert got[0]["n_lines"] == 2 and got[0]["n_tokens"] == 12
    # doc 1: its copy of A drops (8 tokens), unique 2-token tail stays
    assert got[1]["n_dup_lines"] == 1 and got[1]["dropped_tokens"] == 8
    assert got[1]["n_lines"] == 2
    # doc 2: BOTH copies drop (16 tokens) — keep-first is corpus-global
    assert got[2]["n_dup_lines"] == 2 and got[2]["dropped_tokens"] == 16
    assert abs(got[2]["dup_ratio"] - 1.0) < 1e-9


def test_entity_resolution_transitive_closure_and_keeper(spark):
    """pipe9's semantic core: pairwise fuzzy match is NOT an
    equivalence relation — 'abcde'~'abcdX' and 'abcdX'~'abXdX' match
    at distance <= 2 but the ends sit at distance 2+2; the closure
    must still put all three in ONE entity. The keeper is the
    cheapest record, ties broken by key."""
    import unittest.mock as mock

    from kafka_flink_spark.suite import llm_queries
    from kafka_flink_spark.suite.llm_queries import pipe9_entity_resolution

    rows = [
        # partkey, brand, name, retailprice
        (1, "B1", "abcde", 9.00),
        (2, "B1", "abcdX", 5.00),   # cheapest in the chain -> canonical
        (3, "B1", "abXdX", 7.00),   # matches 2 (dist 1) but 1 only at dist 2
        (4, "B1", "zzzzz", 1.00),   # singleton despite sharing the block
        (5, "B2", "abcde", 2.00),   # other block: never compared to 1
    ]
    p = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, p_name string, p_retailprice double"
    )
    with mock.patch.object(llm_queries, "load_table", return_value=p):
        out = {r.part_id: r for r in pipe9_entity_resolution(spark, "unused").collect()}

    # chain 1-2-3 is one entity labeled by its min member
    assert out[1].entity_id == out[2].entity_id == out[3].entity_id == 1
    assert out[1].entity_size == 3
    # keeper: cheapest record (partkey 2 at 5.00), not the label holder
    assert out[1].canonical_key == 2 and out[2].is_canonical == 1
    assert out[1].is_canonical == 0 and out[3].is_canonical == 0
    # blocking and non-match isolation
    assert out[4].entity_size == 1 and out[4].is_canonical == 1
    assert out[5].entity_size == 1 and out[5].entity_id == 5


def test_cogrouped_asof_semantics(spark):
    """u10's cogroup contract on hand data: backward inclusive match
    (an event AT the purchase instant sees it), later events see the
    latest prior purchase, users with no purchases come out flagged
    has_prior=0, and a user absent from the right side doesn't crash
    the cogroup."""
    import datetime as dt
    import unittest.mock as mock

    from kafka_flink_spark.suite import rich_udf_queries
    from kafka_flink_spark.suite.rich_udf_queries import u10_cogrouped_asof

    t0 = dt.datetime(2021, 1, 1, 0, 0)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # user 1: purchase at 5 (9.0), purchase at 20 (4.0)
        (1, at(0), 1, "click", 0.0, ""),      # before any purchase
        (2, at(5), 1, "purchase", 9.0, ""),    # exact-match sees itself
        (3, at(10), 1, "view", 0.0, ""),       # sees 9.0
        (4, at(20), 1, "purchase", 4.0, ""),
        (5, at(25), 1, "click", 0.0, ""),      # sees 4.0 (latest, not max)
        # user 2: never purchases
        (6, at(7), 2, "click", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    with mock.patch.object(rich_udf_queries, "load_table", return_value=ev):
        out = {r.event_id: r for r in u10_cogrouped_asof(spark, "unused").collect()}

    assert out[1].has_prior == 0 and out[1].last_purchase_value is None
    assert out[2].last_purchase_value == 9.0   # inclusive exact match
    assert out[3].last_purchase_value == 9.0
    assert out[5].last_purchase_value == 4.0   # latest prior, not max
    assert out[6].has_prior == 0


def test_dsir_importance_prefers_target_vocabulary(spark):
    """DSIR hand corpus with disjoint vocabularies: docs made of the
    target domain's words must out-score docs made of raw-only words,
    and a mixed doc lands between. Also pins the exact integer ratio
    for a single-token doc against the closed-form formula."""
    from kafka_flink_spark.operators.text import dsir_importance

    from pyspark.sql import functions as F

    rows = [
        (0, "alpha beta alpha beta", "en"),   # target-domain doc
        (1, "alpha beta alpha beta", "xx"),   # same words, raw split
        (2, "zork quux zork quux", "xx"),     # raw-only vocabulary
        (3, "alpha zork beta quux", "xx"),    # mixed
        (4, "alpha", "xx"),                    # single-token probe
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in dsir_importance(df, target_filter=F.col("lang") == "en").collect()
    }
    # target-vocab docs beat mixed beat raw-only
    assert out[0].mean_imp_e9 == out[1].mean_imp_e9  # same words, same score
    assert out[1].mean_imp_e9 > out[3].mean_imp_e9 > out[2].mean_imp_e9

    # closed form for the 'alpha' bucket: rc=6 (2 in doc 0, 2 in doc 1,
    # 1 each in docs 3/4), tc=2 (doc 0), R=17 tokens, T=4 target tokens
    expected = round(1e9 * ((2 + 1) * (17 + 256)) / ((6 + 1) * (4 + 256)))
    assert out[4].imp_e9 == expected, (out[4].imp_e9, expected)


def test_association_rules_hand_baskets(spark):
    """Hand baskets pin the metric formulas: items 1,2 co-occur in 2
    of 4 baskets; item 1 appears in 3, item 2 in 2. support=0.5,
    conf(1->2)=2/3, conf(2->1)=1, lift=4*2/(3*2)=4/3 both ways.
    The pair (1,3) co-occurs once -> below the support floor."""
    import unittest.mock as mock

    from kafka_flink_spark.suite import relational_queries
    from kafka_flink_spark.suite.relational_queries import g24_association_rules

    rows = [
        (10, 1), (10, 2),
        (20, 1), (20, 2),
        (30, 1), (30, 3),
        (40, 4),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(relational_queries, "load_table", return_value=li):
        out = {(r.ante, r.cons): r for r in g24_association_rules(spark, "x").collect()}

    assert set(out) == {(1, 2), (2, 1)}
    r12, r21 = out[(1, 2)], out[(2, 1)]
    assert r12.w == 2 and r12.support == 0.5
    assert abs(r12.confidence - round(2 / 3, 6)) < 1e-9
    assert r21.confidence == 1.0
    assert abs(r12.lift - round(4 * 2 / (3 * 2), 6)) < 1e-9
    assert r12.lift == r21.lift  # lift is direction-symmetric


def test_ahash_block_locality_and_banding(spark):
    """m8's semantic core on hand payloads: a one-region edit flips
    only that segment's pixel (small hamming -> pair found); an
    unrelated payload sits at background distance (no pair); an exact
    duplicate lands at hamming 0. Also exercises hamming_near_pairs
    on a non-simhash signature column end-to-end."""
    from kafka_flink_spark.operators.dedup import hamming_near_pairs
    from kafka_flink_spark.operators.multimodal import ahash_media

    base = "the quick brown fox jumps over the lazy dog " * 30
    edited = base[:600] + "XXXX" + base[604:]   # localized retouch
    import hashlib as _h
    rows = [
        (0, bytearray(base.encode())),
        (1, bytearray(edited.encode())),
        (2, bytearray(base.encode())),                       # exact dup of 0
        (3, bytearray(_h.md5(b"noise").hexdigest().encode() * 40)),  # unrelated
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    sigs = ahash_media(media).persist()
    by_id = {r.media_id: r.ahash for r in sigs.collect()}
    assert by_id[0] == by_id[2]
    # localized edit: small hamming from the base, background is far
    ham01 = bin(by_id[0] ^ by_id[1]).count("1")
    ham03 = bin(by_id[0] ^ by_id[3]).count("1")
    assert ham01 <= 6 < ham03, (ham01, ham03)

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_near_pairs(
            sigs, id_col="media_id", sig_col="ahash", max_hamming=6, bucket_cap=None
        ).collect()
    }
    assert pairs[(0, 2)] == 0
    assert pairs[(0, 1)] == ham01 and pairs[(1, 2)] == ham01
    assert not any(3 in k for k in pairs)
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        hamming_near_pairs(sigs, id_col="media_id", sig_col="ahash", max_hamming=6, num_chunks=3)


def test_d13_family_engages_star_path(spark):
    """d13's registered configuration must actually EXERCISE the cap:
    the synthetic boilerplate family (25 distinct signatures, every
    band bucket > cap) emits hub-star pairs (hub doc 9000000 paired
    with members) plus within-group pairs, while non-hub cross-group
    member pairs are dropped — the documented bounded-recall contract.
    The uncapped run over the same input is a strict superset."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.sources.fixtures import load_table
    from kafka_flink_spark.suite.llm_queries import (
        _D13_BASE,
        _D13_FAMILY_N,
        d13_minhash_capped_skew,
    )

    capped = {
        (r.doc_a, r.doc_b)
        for r in d13_minhash_capped_skew(spark, "/root/testdata/sf0.001").collect()
    }
    fam_pairs = {p for p in capped if p[0] >= 9000000}
    # the hub (min-rep group contains doc 9000000) stars out to members
    assert any(a == 9000000 for a, _ in fam_pairs), sorted(fam_pairs)[:5]
    # bounded recall: far fewer than the 48*47/2 all-pairs quadratic
    assert 0 < len(fam_pairs) < _D13_FAMILY_N * (_D13_FAMILY_N - 1) // 2

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    i = F.col("id").cast("string")
    fam = spark.range(_D13_FAMILY_N).select(
        (F.lit(9000000) + F.col("id")).cast("long").alias("doc_id"),
        F.concat(
            F.lit(_D13_BASE),
            F.lit(" va"), i, F.lit(" vb"), i, F.lit(" vc"), i, F.lit(" vd"), i,
        ).alias("text"),
    )
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            docs.unionByName(fam), min_jaccard=0.5, bucket_cap=None
        ).collect()
    }
    assert capped <= uncapped
    assert len(uncapped) > len(capped)  # the family quadratic was cut


def test_pipe10_partitions_corpus_and_keeps_best(spark):
    """pipe10: cluster memberships partition the corpus (sizes sum to
    the document count) and every keeper's quality equals its
    cluster's max."""
    from kafka_flink_spark.sources.fixtures import load_table
    from kafka_flink_spark.suite.llm_queries import pipe10_canonical_selection_lsh

    out = pipe10_canonical_selection_lsh(spark, "/root/testdata/sf0.001").collect()
    n_docs = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert sum(r.n_members for r in out) == n_docs
    multi = [r for r in out if r.n_members > 1]
    assert multi, "fixture has near-dup clusters"
    assert all(r.keep_id is not None for r in out)


def test_m8_ascii_guard_drops_multibyte_payloads(spark):
    """The m8 oracle segments by CHARACTER positions while ahash_media
    segments UTF-8 BYTES; the registered query keeps only payloads
    where the two provably coincide (byte count == char count). The
    engine-side predicate must drop a multi-byte payload and keep an
    ASCII one — mirroring the oracle's octet_length(encode()) guard at
    any fixture, not just the current ASCII one (ADVICE r5)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "plain ascii image payload body", "web"),
         (3, "café au lait imáge", "web")],
        "doc_id long, text string, source string",
    )
    media = M.blobs_from_documents(docs).filter(
        (F.col("media_type") == "image")
        & (F.length("payload") == F.length(F.decode("payload", "UTF-8")))
    )
    kept = [r.media_id for r in media.select("media_id").collect()]
    assert kept == [0], kept  # doc 3 (also an 'image' slot) is dropped


def test_kmv_exact_below_k_and_bounded_above(spark):
    """g25: sets smaller than k are estimated EXACTLY (the bottom-k
    sample is the whole set, theta = full hash space); sets larger
    than k estimate within the 0.15 bound on a synthetic overlap far
    above k (2000-member sets sharing 600 members, k=256)."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.sketches import kmv_intersection_estimates

    # small sets: A = 0..49, B = 25..74 -> exact overlap 25
    rows = [("A", i) for i in range(50)] + [("B", i) for i in range(25, 75)]
    small = spark.createDataFrame(rows, "s string, m long")
    got = kmv_intersection_estimates(small, "s", "m").collect()
    assert len(got) == 1 and got[0].est_common == 25.0

    # large sets: A = 0..1999, B = 1400..3399 -> exact overlap 600
    rows = [("A", i) for i in range(2000)] + [("B", i) for i in range(1400, 3400)]
    big = spark.createDataFrame(rows, "s string, m long")
    est = kmv_intersection_estimates(big, "s", "m").collect()[0].est_common
    assert abs(est - 600) / 600 <= 0.15, est


def test_kmv_bottom_k_mergeable_across_shards(spark):
    """The property that matters on a 1000-executor cluster: bottom-k
    of a union equals bottom-k of the per-shard bottom-k's — so KMV
    samples from disjoint shards merge by re-ranking, no global pass."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_flink_spark.operators.sketches import kmv_bottom_k

    rows = [("A", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "s string, m long")
    whole = sorted(r.h for r in kmv_bottom_k(df, "s", "m", k=64).collect())

    shard1 = df.filter(F.col("m") % 2 == 0)
    shard2 = df.filter(F.col("m") % 2 == 1)
    merged = kmv_bottom_k(shard1, "s", "m", k=64).unionByName(
        kmv_bottom_k(shard2, "s", "m", k=64)
    )
    w = Window.partitionBy("s").orderBy("h")
    rerank = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .collect()
    )
    assert sorted(r.h for r in rerank) == whole


def test_nn_descent_recall_vs_exact(spark):
    """v14: NN-descent at build-K=15 / 2 rounds, truncated to top-5,
    recovers >= 90% of the exact top-5 graph (v5's blocked-GEMM build)
    on the fixture corpus — measured 0.97 — while scoring O(n*K^2)
    candidate pairs instead of O(n^2). Also pins that the over-build
    matters: K=5 at the same rounds stays under 60%."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.similarity import knn_graph, nn_descent
    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = knn_graph(emb, k=5).select("query_id", "neighbor_id")
    total = exact.count()

    wide = (
        nn_descent(emb, k=15, rounds=2)
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    recall_wide = wide.join(exact, ["query_id", "neighbor_id"]).count() / total
    assert recall_wide >= 0.90, recall_wide

    narrow = nn_descent(emb, k=5, rounds=2).select("query_id", "neighbor_id")
    recall_narrow = narrow.join(exact, ["query_id", "neighbor_id"]).count() / total
    assert recall_narrow < recall_wide


def test_hybrid_rrf_fusion_math_and_missing_arm(spark):
    """pipe11's fusion contract on hand data: a doc ranked by BOTH
    arms beats a doc with a better single-arm rank (1e12//(60+1) +
    1e12//(60+2) > 1e12//(60+1)); a doc missing from one arm scores
    only its present arm; the integer div matches Python's floor."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.retrieval import RRF_SCALE, hybrid_retrieval_rrf

    # corpus: q=0; doc 1 matches lexically AND by vector; doc 2 is the
    # lexical runner-up only; doc 3 is vector-only (no shared terms).
    docs = [
        (0, "alpha beta gamma"),
        (1, "alpha beta zz"),
        (2, "alpha yy yy yy yy yy"),
        (3, "qq rr ss"),
    ]
    # vectors: q=0 at [1,0]; doc3 identical direction; doc1 close;
    # doc2 orthogonal.
    embs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.0]),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    edf = spark.createDataFrame(embs, "vec_id long, embedding array<double>")
    out = hybrid_retrieval_rrf(ddf, edf, (0,), n_query_terms=3, vec_shortlist=3, k=4)
    rows = {r.doc_id: r for r in out.collect()}
    # lexical ranks: doc1 (2 matching terms) > doc2 (1 term) ; doc3 absent
    assert rows[1].lex_rank == 1 and rows[2].lex_rank == 2
    assert rows[3].lex_rank is None
    # vector ranks: doc3 (cos 1.0) > doc1 > doc2
    assert rows[3].vec_rank == 1 and rows[1].vec_rank == 2 and rows[2].vec_rank == 3
    # exact integer fusion
    assert rows[1].rrf_e12 == RRF_SCALE // 61 + RRF_SCALE // 62
    assert rows[3].rrf_e12 == RRF_SCALE // 61
    assert rows[2].rrf_e12 == RRF_SCALE // 62 + RRF_SCALE // 63
    # both-arms doc wins the fused ranking
    assert rows[1].rn == 1


def test_cms_out_of_corpus_key_estimates_zero(spark):
    """cms_score must see empty (d, bucket) cells as 0 counters: a key
    absent from the build data whose buckets nobody else hit estimates
    0, never a silently-reduced min over populated depths only."""
    from kafka_flink_spark.operators.sketches import cms_estimate

    build = spark.createDataFrame([("k1",)] * 5 + [("k2",)] * 3, "key string")
    probe = spark.createDataFrame(
        [("k1",), ("k2",), ("never_seen_key_xyz",)], "key string"
    )
    got = {r.key: r.cms_est for r in cms_estimate(build, probe, "key").collect()}
    assert got["k1"] >= 5 and got["k2"] >= 3
    assert "never_seen_key_xyz" in got  # key must not vanish
    assert got["never_seen_key_xyz"] == 0  # tiny corpus: buckets empty


def test_script_profile_dominance_and_ties(spark):
    """script_profile hand cases: each script dominates when its
    characters outnumber the rest; EQUAL counts resolve by the fixed
    priority order latin > cyrillic > han > greek (the unique
    count*4+priority encoding); empty text counts all-zero and falls
    back to latin. Zero exchanges: the profile is a pure projection."""
    from kafka_flink_spark.operators.text import script_profile
    from kafka_flink_spark.plans import count_exchanges

    rows = [
        (0, "hello world"),                  # latin only
        (1, "\u043f\u0440\u0438\u0432\u0435\u0442 ok"),  # 6 cyr vs 2 lat
        (2, "\u4e00\u4e8c\u4e09 ab"),      # 3 han vs 2 lat
        (3, "\u03b1\u03b2\u03b3 ab"),      # 3 greek vs 2 lat
        (4, "ab \u0430\u0431"),             # 2 lat == 2 cyr -> latin (priority)
        (5, "\u4e00 \u03b1"),               # 1 han == 1 greek -> han (priority)
        (6, ""),                               # all zero -> latin fallback
        (7, None),                              # NULL text -> zero counts, latin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in script_profile(df).collect()}
    assert got[0].dominant_script == "latin"
    assert got[1].dominant_script == "cyrillic" and got[1].n_cyrillic == 6
    assert got[2].dominant_script == "han" and got[2].n_han == 3
    assert got[3].dominant_script == "greek" and got[3].n_greek == 3
    assert got[4].dominant_script == "latin"
    assert got[5].dominant_script == "han"
    assert got[6].dominant_script == "latin" and got[6].latin_ratio == 0.0
    assert got[7].dominant_script == "latin" and got[7].n_latin == 0
    assert count_exchanges(script_profile(df)) == 0


def test_stupid_backoff_all_levels_hand_corpus(spark):
    """stupid_backoff_scores hand corpus covering every level of the
    chain: train = 'a b c a b c' (c123: 'a b c'=2, bigrams 'a b'=2
    'b c'=2 'c a'=1, unigrams a/b/c=2 each, N=6).

    * 'a b c x': 'a b c' seen -> 2e9/2 = 1e9; 'b c x' has no 'c x'
      bigram and x untrained -> OOV 0.
    * 'x y b': trigram unseen, 'y b' unseen, b trained -> level-2
      backoff 0.16*2/6 -> round(2*4e9/150) = 53333333.
    * 'c c a': trigram unseen, 'c a' trained (1) -> level-1 backoff
      0.4*1/2 -> 2e8.
    """
    from kafka_flink_spark.operators.text import stupid_backoff_scores

    train = spark.createDataFrame([(0, "a b c a b c")], "doc_id long, text string")
    held = spark.createDataFrame(
        [(100, "a b c x"), (101, "x y b"), (102, "c c a")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in stupid_backoff_scores(train, held).collect()}
    r = got[100]
    assert (r.n_trigrams, r.n_seen, r.n_oov) == (2, 1, 1) and r.sb_e9 == 10**9
    r = got[101]
    assert (r.n_trigrams, r.n_backoff2) == (1, 1) and r.sb_e9 == 53333333
    r = got[102]
    assert (r.n_trigrams, r.n_backoff1) == (1, 1) and r.sb_e9 == 2 * 10**8


def test_stupid_backoff_ignores_empty_tokens(spark):
    """Consecutive / leading / trailing spaces must not change any
    level: every n-gram stage filters '' tokens before construction
    (the old code filtered only unigrams, so '  ' produced
    ''-containing trigrams whose backoff divided by a NULL unigram
    count and silently dropped from sb_e9). Sloppy-whitespace corpus
    must score identically to its single-spaced twin."""
    from kafka_flink_spark.operators.text import stupid_backoff_scores

    clean_train = spark.createDataFrame([(0, "a b c a b c")], "doc_id long, text string")
    messy_train = spark.createDataFrame([(0, " a  b c  a b  c ")], "doc_id long, text string")
    clean_held = spark.createDataFrame(
        [(100, "a b c x"), (101, "x y b"), (102, "c c a")],
        "doc_id long, text string",
    )
    messy_held = spark.createDataFrame(
        [(100, "a  b c   x"), (101, " x y  b"), (102, "c c  a ")],
        "doc_id long, text string",
    )
    clean = sorted(stupid_backoff_scores(clean_train, clean_held).collect())
    messy = sorted(stupid_backoff_scores(messy_train, messy_held).collect())
    assert clean == messy
    by_id = {r.doc_id: r for r in messy}
    assert by_id[100].sb_e9 == 10**9 and by_id[102].sb_e9 == 2 * 10**8
    for r in messy:
        assert r.n_seen + r.n_backoff1 + r.n_backoff2 + r.n_oov == r.n_trigrams


def test_graph_ann_search_recall_floor(spark):
    """Beam search over the exact k-NN graph must recover most of the
    true top-10 (the index-quality contract, the v10/d10
    evaluate-your-own-index pattern): recall@10 >= 0.5 averaged over
    the three probe queries at sf0.001 — a 3-round beam-4 walk on a
    k=5 graph is a LOCAL search, so perfect recall isn't expected,
    but a broken expansion (wrong join key, frontier not advancing)
    collapses recall to ~0.1 and trips this floor. Also pins the
    contract shape: <= 10 rows per query, ranks 1..n contiguous,
    the query never its own neighbor."""
    from kafka_flink_spark.operators.similarity import cosine_topk, graph_ann_search
    from kafka_flink_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    qids = (0, 1, 2)
    approx = graph_ann_search(emb, qids).collect()
    exact = cosine_topk(emb, emb.filter(emb.vec_id.isin(*qids))).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    ap = {}
    for r in approx:
        assert r.neighbor_id != r.query_id
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(ap[q] & ex[q]) / len(ex[q]) for q in qids]
    # measured 0.567 on the fixed fixture (deterministic); broken
    # expansion collapses to ~0.1, so 0.5 discriminates cleanly
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    for q in qids:
        rns = sorted(r.rn for r in approx if r.query_id == q)
        assert rns == list(range(1, len(rns) + 1))
