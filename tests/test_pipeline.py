"""Quality bounds for the approximate pipeline operators: MinHash-LSH recall
vs exact Jaccard on planted near-duplicates, SimHash on identical/near docs,
IVF recall vs brute-force top-k, and the multimodal stub contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tensorbase_spark.pipeline import dedup, multimodal, similarity

SF0001 = "/root/testdata/sf0.001"


def _planted_docs(spark):
    """200 distinct docs + 10 planted near-dup pairs (one word changed) +
    3 exact-dup pairs."""
    base = [
        (i, " ".join(f"w{(i * 31 + j * 7) % 997}" for j in range(40)), "en", 40)
        for i in range(200)
    ]
    near = []
    for k in range(10):
        doc_id, text, lang, n = base[k]
        words = text.split()
        words[20] = "CHANGED"
        near.append((1000 + k, " ".join(words), lang, n))
    exact = [(2000 + k, base[k + 50][1], "en", 40) for k in range(3)]
    rows = [(i, t, lang, len(t)) for (i, t, lang, _n) in base + near + exact]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")


def test_exact_duplicates_finds_planted(spark):
    docs = _planted_docs(spark)
    dups = dedup.exact_duplicates(docs).collect()
    assert len(dups) == 3
    for r in dups:
        assert r.n_copies == 2
        assert r.keep_id < 2000  # canonical survivor = smallest id


def test_minhash_lsh_recall_on_planted_pairs(spark):
    docs = _planted_docs(spark)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # every planted near-dup pair (k, 1000+k) shares 37/43 shingles
    # (J≈0.86 > 0.6); with 24 bands x 4 rows P(miss) < 1e-5 per pair.
    expected = {(k, 1000 + k) for k in range(10)}
    assert expected <= found
    # verification step bounds false positives: every reported pair really
    # has Jaccard >= threshold
    for r in pairs:
        assert r.jaccard >= 0.6


def test_minhash_agrees_with_exact_jaccard(spark):
    """LSH (candidate gen + exact verify) must equal the exact all-pairs
    result for pairs above the LSH-reliable threshold."""
    docs = _planted_docs(spark)
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    # exact baseline on the same shingle sets
    toks = dedup.shingles(docs).groupBy("_id").agg(F.collect_set("token").alias("t"))
    a = toks.select(F.col("_id").alias("id_a"), F.col("t").alias("ta"))
    b = toks.select(F.col("_id").alias("id_b"), F.col("t").alias("tb"))
    jac = F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", jac)
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    assert lsh == exact


def test_simhash_near_pairs(spark):
    docs = _planted_docs(spark)
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact duplicates have hamming 0 — must always be found
    expected_exact = {(k + 50, 2000 + k) for k in range(3)}
    assert expected_exact <= found
    for r in pairs:
        assert r.hamming <= 3


def test_ngram_jaccard_order_invariance(spark):
    """r8 (VERDICT r7 #3): prefix filtering is lossless under ANY total gram
    order, so the df-demoted order (big known corpora / unknown size) and
    the plain hash order (small known corpora) must return IDENTICAL pairs
    — the order only changes candidate volume, never results."""
    from tensorbase_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    demoted = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.6).collect())
    )
    hash_order = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(docs, threshold=0.6, n_docs=500).collect(),
        )
    )
    assert demoted == hash_order and len(demoted) > 0
    # a truncated df map (only the 3 highest-df grams keep real dfs, the
    # rest default to 1) is a DIFFERENT total order — still lossless
    tiny_map = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(docs, threshold=0.6, df_map_limit=3).collect(),
        )
    )
    assert tiny_map == demoted


def test_ann_parameter_auto_scaling():
    """r8 (VERDICT r7 #2): the in-memory ANN defaults auto-scale from the
    corpus size the way the r7 embedding fix proved necessary — bucket size
    held ~constant, fixture layouts preserved by the floors."""
    from tensorbase_spark.pipeline.similarity import auto_n_bits, auto_n_centroids

    # floors hold at fixture scale (500 / 2000 embeddings)
    assert auto_n_centroids(500, 1024) == 16
    assert auto_n_centroids(2000, 1024) == 16
    assert auto_n_bits(2000, 1024) == 10
    assert auto_n_bits(2000, 1024, min_bits=4) == 4
    # above the floor: bucket size stays at or under target
    for n in (100_000, 1_000_000, 10_000_000):
        k = auto_n_centroids(n, 1024)
        assert n / k <= 1024
        bits = auto_n_bits(n, 1024)
        assert n / (2 ** bits) <= 1024
        assert n / (2 ** (bits - 1)) > 1024 or bits == 10  # minimal width
    # probes multiplier (the embedding near-dup shape: n x probes rows)
    assert auto_n_centroids(100_000, 4096, probes=8) == -(-100_000 * 8 // 4096)
    # 10x data -> ~10x centroids, not ~10x bucket size (the r7 quadratic)
    assert 8 <= auto_n_centroids(10_000_000, 1024) / auto_n_centroids(1_000_000, 1024) <= 12


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    ivf = similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=8).collect()
    truth = {(r.q_id, r.c_id) for r in brute}
    got = {(r.q_id, r.c_id) for r in ivf}
    recall = len(truth & got) / len(truth)
    # nprobe=8 of 16 centroids probes half the corpus -> high recall expected
    assert recall >= 0.6, f"IVF recall {recall:.2f} too low"
    # scores for overlapping pairs must match the exact computation
    bs = {(r.q_id, r.c_id): r.cos for r in brute}
    for r in ivf:
        if (r.q_id, r.c_id) in bs:
            assert abs(r.cos - bs[(r.q_id, r.c_id)]) < 1e-9


def test_connected_components_star_matches_propagation(spark):
    """large-star/small-star must compute the same components as min-label
    propagation on a mixed graph (cliques + chains + pairs + isolated-ish)."""
    edges = (
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
        + [(100 + i, 100 + i + 1) for i in range(30)]  # 31-node chain
        + [(200, 205), (205, 203), (203, 209), (209, 201)]
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # propagation needs O(diameter)=31 rounds for the chain; star needs O(log n)
    prop = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, max_iter=40).collect()
    }
    star = {r.doc_id: r.cluster_id for r in dedup.connected_components_star(pairs).collect()}
    assert star == prop


def test_connected_components_star_high_diameter(spark):
    """A 400-node chain: diameter 399 — propagation's 20-round budget cannot
    close it, the star algorithm converges in O(log n) rounds.  Every node
    must label to the chain head."""
    n = 400
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = dedup.connected_components_star(pairs).collect()
    assert len(out) == n + 1
    assert all(r.cluster_id == 0 for r in out)


def test_embedding_near_dup_bucketed_matches_exact(spark):
    """The default (bucketed) near-dup path must reproduce the exact
    all-pairs result on the fixture — 100% recall at the test threshold —
    and its candidate-pair join must be an equi-join on centroid_id, not a
    cross join of the corpus."""
    import re

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in similarity.embedding_near_dup_pairs(emb, 0.4, exact=True).collect()
    }
    bucketed_df = similarity.embedding_near_dup_pairs(emb, 0.4)
    bucketed = {(r.id_a, r.id_b, r.cos) for r in bucketed_df.collect()}
    assert len(exact) > 0
    assert bucketed == exact
    plan = bucketed_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # pair generation is per-bucket blocked GEMM: ONE corpus shuffle keyed
    # on centroid_id feeding applyInPandas — the corpus never cross-joins
    # itself, and no per-pair vector rows ever materialize in the plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert re.search(r"hashpartitioning\(centroid_id", plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_train_centroids_deterministic(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    c1 = similarity.train_centroids(emb, 16).collect()
    c2 = similarity.train_centroids(emb, 16).collect()
    assert [(r.centroid_id, r.cent_vec) for r in sorted(c1, key=lambda r: r.centroid_id)] == [
        (r.centroid_id, r.cent_vec) for r in sorted(c2, key=lambda r: r.centroid_id)
    ]
    # centroids are unit-norm (spherical k-means)
    for r in c1:
        n = sum(v * v for v in r.cent_vec) ** 0.5
        assert abs(n - 1.0) < 1e-9
    # buckets are reasonably balanced on the fixture: no bucket holds more
    # than 4x its fair share (the lowest-id heuristic this replaced could
    # put most of the corpus in one bucket)
    _, assigned = similarity.assign_centroids(emb, 16)
    sizes = [r.n for r in assigned.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()]
    assert max(sizes) <= 4 * (emb.count() / 16)


def test_lsh_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    lsh = similarity.lsh_topk(emb, q, k=5, n_bits=4, n_tables=16).collect()
    truth = {(r.q_id, r.c_id) for r in brute}
    got = {(r.q_id, r.c_id) for r in lsh}
    recall = len(truth & got) / len(truth)
    # near-orthogonal fixture vectors are LSH's worst case: a top-5
    # "neighbor" sits at cos ~0.3-0.5 (P(bit match) ~0.6), so the fixture
    # needs short codes + many tables (4 bits x 16 tables -> expected
    # recall ~0.85); production near-dup thresholds (~0.95, P ~0.9) get
    # the same recall from the 10-bit x 8-table defaults.
    assert recall >= 0.6, f"LSH recall {recall:.2f} too low"
    # deterministic: same planes, same result
    again = {(r.q_id, r.c_id) for r in similarity.lsh_topk(emb, q, k=5, n_bits=4, n_tables=16).collect()}
    assert again == got
    # scores for overlapping pairs must match the exact computation
    bs = {(r.q_id, r.c_id): r.cos for r in brute}
    for r in lsh:
        if (r.q_id, r.c_id) in bs:
            assert abs(r.cos - bs[(r.q_id, r.c_id)]) < 1e-9


def test_lsh_multi_probe_recall_and_determinism(spark):
    """r9 multi-probe (Lv et al. single-bit-flip variant): query-side
    probing of the smallest-margin adjacent buckets lifts recall at a
    FIXED per-query candidate volume vs the single-probe layout with the
    same volume, stays deterministic, and keeps exact cosine scores."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    truth = {(r.q_id, r.c_id) for r in brute}
    n = emb.count()
    # same candidate budget: single-probe 16-wide buckets vs 4-probe
    # 64-wide buckets — probes x n/2^bits equal by construction
    single = {
        (r.q_id, r.c_id)
        for r in similarity.lsh_topk(
            emb, q, k=5, n_bits=4, n_tables=8
        ).collect()
    }
    multi_rows = similarity.lsh_topk(
        emb, q, k=5, n_bits=6, n_tables=8, probes=4
    ).collect()
    multi = {(r.q_id, r.c_id) for r in multi_rows}
    r_single = len(single & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    assert r_multi >= r_single - 1e-9, (r_multi, r_single)
    assert r_multi >= 0.6
    # deterministic
    again = {
        (r.q_id, r.c_id)
        for r in similarity.lsh_topk(
            emb, q, k=5, n_bits=6, n_tables=8, probes=4
        ).collect()
    }
    assert again == multi
    # scores stay the exact cosine
    bs = {(r.q_id, r.c_id): r.cos for r in brute}
    for r in multi_rows:
        if (r.q_id, r.c_id) in bs:
            assert abs(r.cos - bs[(r.q_id, r.c_id)]) < 1e-9
    # probes are capped at n_bits (can't flip more bits than exist)
    tiny = similarity.lsh_topk(
        emb.limit(50), q.limit(2), k=3, n_bits=2, n_tables=2, probes=16
    ).collect()
    assert len(tiny) <= 6


def test_multimodal_feature_contract(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(20)
    feats = multimodal.extract_features(multimodal.docs_as_assets(docs))
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_bytes > 0
        assert r.format == "bin"  # text payloads are not images
        assert r.width is None and r.height is None  # honest NULLs, no fakes
        assert len(r.header_hex) <= 16


def test_decode_image_meta_real_formats():
    """Header decode against REAL bytes for every supported container."""
    import struct
    import zlib

    png = multimodal.encode_png(13, 7, lambda x, y: x + y)
    assert multimodal.decode_image_meta(png) == ("png", 13, 7)
    # the synthesized PNG is structurally valid: IDAT inflates to
    # height * (1 filter byte + width) bytes
    idat_off = png.index(b"IDAT")
    (idat_len,) = struct.unpack(">I", png[idat_off - 4 : idat_off])
    raw = zlib.decompress(png[idat_off + 4 : idat_off + 4 + idat_len])
    assert len(raw) == 7 * (13 + 1)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert multimodal.decode_image_meta(gif) == ("gif", 320, 200)

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 8
    assert multimodal.decode_image_meta(bmp) == ("bmp", 640, 480)  # |top-down|

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"  # APP0
        + b"\xff\xc0" + struct.pack(">H", 9) + b"\x08" + struct.pack(">HH", 99, 44) + b"\x01"
    )
    assert multimodal.decode_image_meta(jpeg) == ("jpeg", 44, 99)

    assert multimodal.decode_image_meta(b"plain text bytes") == ("bin", None, None)
    assert multimodal.decode_image_meta(b"\x89PNG\r\n\x1a\n tru") == ("bin", None, None)
    assert multimodal.decode_image_meta(None) == ("bin", None, None)


def test_decode_audio_meta_wav_roundtrip():
    wav = multimodal.encode_wav(16000, 16000)  # 1 second PCM16 mono
    fmt, rate, ch, bits, frames = multimodal.decode_audio_meta(wav)
    assert (fmt, rate, ch, bits) == ("wav", 16000, 1, 16)
    assert frames == 16000  # duration_s = frames/rate = 1.0, exact
    # stdlib wave module agrees with our parser on our encoder's output
    import io
    import wave

    with wave.open(io.BytesIO(wav)) as w:
        assert w.getframerate() == 16000
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getnframes() == 16000
    assert multimodal.decode_audio_meta(b"RIFFxxxxNOPE") == ("bin", None, None, None, None)
    assert multimodal.decode_audio_meta(None) == ("bin", None, None, None, None)


def test_pii_redact_rules_and_order(spark):
    from tensorbase_spark.pipeline import text as T

    rows = [
        (1, "mail me at a.user+x@sub.ex-corp.io thanks"),
        (2, "call +1 (555) 010-9988 now"),
        (3, "card 4111111111111111 on file"),
        (4, "clean text with no pii at all"),
        (5, "two  spaced\t tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.pii_redact(df).collect()}
    assert out[1].redacted == "mail me at <EMAIL> thanks" and out[1].n_redactions == 1
    assert out[2].redacted == "call <PHONE> now" and out[2].n_redactions == 1
    # 16 contiguous digits must become <NUM>, not <PHONE> (rule order)
    assert out[3].redacted == "card <NUM> on file" and out[3].n_redactions == 1
    assert out[4].n_redactions == 0
    assert out[5].redacted == "two spaced tokens"  # whitespace normalization


def test_stratified_sample_deterministic(spark):
    from tensorbase_spark.pipeline import sampling

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "src0").otherwise("srcX").alias("source"),
    )
    s1 = sampling.stratified_sample(docs, "doc_id", "source", {"src0": 80}, default=20)
    s2 = sampling.stratified_sample(docs, "doc_id", "source", {"src0": 80}, default=20)
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())  # same membership
    by_src = {r.source: r.n for r in s1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # quotas hold to within hash noise (1000 keys per stratum)
    assert 0.7 < by_src["src0"] / 1000 < 0.9
    assert 0.12 < by_src["srcX"] / 1000 < 0.28


def test_quantize_int8_bounds(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = similarity.quantize_int8(emb)
    rows = q.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert r.scale > 0
        assert -127 <= r.q_max <= 127
        assert r.n_sat >= 1  # the max-|v| element always saturates to +/-127


def test_connected_components_on_synthetic_graph(spark):
    # chain 1-2-3-4 (diameter > 1 round), clique 10-11-12, pair 20-21
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    cc = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_chunk_documents_windows_and_overlap(spark):
    from tensorbase_spark.pipeline import text as T

    long_text = " ".join(f"w{i}" for i in range(95))
    df = spark.createDataFrame([(1, long_text), (2, "short doc")], "doc_id long, text string")
    chunks = {(r.doc_id, r.chunk_idx): r for r in T.chunk_documents(df, size=50, overlap=10).collect()}
    # 95 words, stride 40 -> ceil(85/40) = 3 chunks
    assert sorted(k for k in chunks if k[0] == 1) == [(1, 0), (1, 1), (1, 2)]
    c0, c1, c2 = chunks[(1, 0)], chunks[(1, 1)], chunks[(1, 2)]
    assert c0.n_tokens == 50 and c0.chunk.startswith("w0 ") and c0.chunk.endswith(" w49")
    assert c1.chunk.startswith("w40 ")  # 10-word overlap with chunk 0
    assert c2.n_tokens == 95 - 80  # trailing partial chunk
    # short docs still produce exactly one chunk
    assert chunks[(2, 0)].chunk == "short doc" and chunks[(2, 0)].n_tokens == 2


def test_funnel_depths_chain_and_window(spark):
    import datetime as dt
    from tensorbase_spark.operators import funnel

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    day = dt.timedelta(days=1)
    rows = [
        # u1: full chain within window -> 3
        (1, t0, "view"), (1, t0 + h, "click"), (1, t0 + 2 * h, "purchase"),
        # u2: click BEFORE view never counts (chain order) -> 1
        (2, t0, "click"), (2, t0 + h, "view"),
        # u3: purchase outside the 7-day window -> 2
        (3, t0, "view"), (3, t0 + h, "click"), (3, t0 + 8 * day, "purchase"),
        # u4: no step-1 event at all -> 0
        (4, t0, "error"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    d = {r.user_id: r.funnel_depth for r in
         funnel.funnel_depths(ev, ["view", "click", "purchase"], "7 days").collect()}
    assert d == {1: 3, 2: 1, 3: 2, 4: 0}

    r = funnel.retention(ev, ["view", "click"]).collect()[0]
    # retention is order-free (unlike the funnel): u2's click counts even
    # though it preceded the view; u4 (no view) is excluded from the base
    assert (r.n_base, r.ret_click) == (3, 3)


def test_asof_join_ties_nulls_and_no_match(spark):
    import datetime as dt
    from tensorbase_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    trades = spark.createDataFrame(
        [(1, 100, t(10)), (2, 100, t(5)), (3, 200, t(10)), (4, 300, t(10))],
        "trade_id long, sym long, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            (100, t(10), 10, 1.5),     # equal-ts quote matches trade 1 (inclusive)
            (100, t(10), 11, None),    # equal ts, larger tiebreak wins; null payload
            (100, t(1), 5, 9.9),       # earlier quote matches trade 2
            (200, t(11), 20, 2.0),     # AFTER trade 3 -> no match
        ],
        "sym long, ts timestamp, quote_id long, px double",
    )
    out = {r.trade_id: r for r in asof_join(
        trades, quotes, on="sym", ts="ts", payload=["quote_id", "px"], tiebreak="quote_id"
    ).collect()}
    # trade 1: quote 11 wins the equal-ts tie; its px is genuinely NULL and
    # must NOT be back-filled from quote 10 (row integrity)
    assert out[1].asof_quote_id == 11 and out[1].asof_px is None
    assert out[2].asof_quote_id == 5 and abs(out[2].asof_px - 9.9) < 1e-9
    assert out[3].asof_quote_id is None  # only future quotes exist
    assert out[4].asof_quote_id is None  # no quotes for sym at all


def test_ivf_indexed_matches_in_memory(spark, tmp_path):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_centroids=16)
    got = similarity.ivf_search_indexed(spark, idx, q, k=5, nprobe=8)
    mem = similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=8)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in mem.collect()}
    # the index scan must be partition-pruned to the probed buckets
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [centroid_id" in plan


def test_ivf_indexed_distributed_fallback_matches(spark, tmp_path):
    """VERDICT r14 #6: above max_query_collect the indexed search must
    switch to the distributed probe-ranking path (no full query collect)
    and return results identical to the driver-side path."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 20 == 0)  # 5 queries
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_centroids=16)
    driver_side = similarity.ivf_search_indexed(spark, idx, q, k=5, nprobe=8)
    # max_query_collect=2 < 5 queries -> forces the distributed fallback
    dist = similarity.ivf_search_indexed(
        spark, idx, q, k=5, nprobe=8, max_query_collect=2
    )
    assert {tuple(r) for r in dist.collect()} == {
        tuple(r) for r in driver_side.collect()
    }


def test_salted_join_matches_plain_join(spark):
    from tensorbase_spark.operators.skew import salted_join

    # heavily skewed fact: 90% of rows share key 0
    fact = spark.range(2000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 50 END AS k", "id AS v"
    )
    dim = spark.range(50).selectExpr("id AS k", "concat('d', id) AS name")
    plain = fact.join(dim, "k").selectExpr("k", "v", "name")
    salted = salted_join(fact, dim, on="k", n_salts=8).selectExpr("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_asof_join_null_ts_and_external_tiebreak(spark):
    import datetime as dt
    from tensorbase_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    trades = spark.createDataFrame(
        [(1, 100, t(10)), (2, 200, t(10))], "trade_id long, sym long, ts timestamp"
    )
    quotes = spark.createDataFrame(
        [
            (100, None, 1, 5.0),   # NULL-ts quote: must never match anything
            (200, t(5), 2, 6.0),
            (200, t(5), 3, 7.0),   # same ts, larger quote_id -> wins tiebreak
        ],
        "sym long, ts timestamp, quote_id long, px double",
    )
    # tiebreak column deliberately NOT in payload
    out = {r.trade_id: r for r in asof_join(
        trades, quotes, on="sym", ts="ts", payload=["px"], tiebreak="quote_id"
    ).collect()}
    assert out[1].asof_px is None       # only a NULL-ts quote exists for sym 100
    assert out[2].asof_px == 7.0        # deterministic tie resolution


def test_salted_join_guards_and_spread(spark):
    import pytest as _pytest
    from tensorbase_spark.operators.skew import salted_join

    fact = spark.range(100).selectExpr("0 AS k", "'same' AS v")  # identical rows
    dim = spark.createDataFrame([(0, "d0")], "k long, name string")
    with _pytest.raises(ValueError, match="right/full"):
        salted_join(fact, dim, on="k", how="right")
    out = salted_join(fact, dim, on="k", n_salts=8)
    assert out.count() == 100
    # identical duplicate rows must spread over salts, not collapse into one
    spread = fact.withColumn(
        "s", F.pmod(F.monotonically_increasing_id(), F.lit(8))
    ).select("s").distinct().count()
    assert spread > 1


def test_cosine_zero_vector_and_null_guard(spark):
    from tensorbase_spark.pipeline.similarity import cosine, cosine_expr

    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),
        (2, [0.0, 0.0], [1.0, 0.0]),   # zero vector: cos must be 0, not NaN
        (3, None, [1.0, 0.0]),         # NULL embedding: cos must be NULL
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {r.id: (r.c, r.ce) for r in df.select(
        "id", cosine(F.col("a"), F.col("b")).alias("c"),
        cosine_expr(F.col("a"), F.col("b")).alias("ce"),
    ).collect()}
    assert got[1] == (1.0, 1.0)
    assert got[2] == (0.0, 0.0)        # guarded, not NaN
    assert got[3][0] is None           # pandas-UDF path: NULL in -> NULL out


def test_quality_ignores_empty_tokens(spark):
    from tensorbase_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "  a b c"), (2, "   ")], "doc_id long, text string"
    )
    q = {r.doc_id: r for r in T.quality_scores(df).collect()}
    assert q[1].diversity <= 1.0       # leading-space '' token must not inflate
    assert q[2].quality == 0.0         # whitespace-only doc scores zero
    tc = {r.doc_id: r.n_unique_words for r in T.token_counts(df).collect()}
    assert tc[1] == 3 and tc[2] == 0


def test_pii_count_ignores_preexisting_tags(spark):
    from tensorbase_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "already has <NUM> and <EMAIL> markers"), (2, "mail a@b.io")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_redactions for r in T.pii_redact(df).collect()}
    assert out[1] == 0 and out[2] == 1


def test_simhash_max_hamming_guard(spark):
    docs = _planted_docs(spark)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_pairs(docs, max_hamming=4)


# --- curation ops -----------------------------------------------------------


def test_pack_sequences_budget_overrun_bounded(spark):
    """Each bin's token total may exceed the budget by at most one doc (the
    straddling doc), and docs stay contiguous in key order within a bin."""
    from tensorbase_spark.pipeline import curation

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    toks = F.size(F.split(F.col("text"), " "))
    packed = curation.pack_sequences(
        docs, shard="source", key="doc_id", n_tokens=toks, budget=400
    )
    rows = packed.select("source", "bin_id", "doc_id", "n_tokens", "start_tok").collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r.source, r.bin_id), []).append(r)
    for (_, _), members in by_bin.items():
        members.sort(key=lambda r: r.doc_id)
        total = sum(r.n_tokens for r in members)
        max_doc = max(r.n_tokens for r in members)
        assert total <= 400 + max_doc
        # contiguity: starting offsets are the running sum
        run = members[0].start_tok
        for r in members:
            assert r.start_tok == run
            run += r.n_tokens


def test_split_partitions_and_deterministic(spark):
    from tensorbase_spark.pipeline import curation

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    s1 = curation.train_val_test_split(docs, key="doc_id").select("doc_id", "split")
    s2 = curation.train_val_test_split(docs, key="doc_id").select("doc_id", "split")
    m1 = dict((r.doc_id, r.split) for r in s1.collect())
    m2 = dict((r.doc_id, r.split) for r in s2.collect())
    assert m1 == m2
    assert set(m1.values()) <= {"train", "val", "test"}
    assert len(m1) == docs.count()
    # roughly 80/10/10 (hash-uniform; loose bounds at 50 docs)
    n = len(m1)
    assert sum(1 for v in m1.values() if v == "train") > n // 2


def test_cap_per_stratum_bound_and_preference(spark):
    from tensorbase_spark.pipeline import curation

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    capped = curation.cap_per_stratum(
        docs, stratum="source", key="doc_id", cap=2,
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
    )
    rows = capped.collect()
    per = {}
    for r in rows:
        per.setdefault(r.source, []).append(r)
    full = {}
    for r in docs.collect():
        full.setdefault(r.source, []).append(r)
    for src, kept in per.items():
        assert len(kept) <= 2
        want = sorted(full[src], key=lambda r: (-r.n_chars, r.doc_id))[:2]
        assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in want)


def test_contamination_pairs_shared_grams_verified(spark):
    """Cross-check one reported pair by recomputing its shared 5-grams in
    Python."""
    from tensorbase_spark.pipeline import curation

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    pairs = curation.contamination_pairs(corpus, bench, min_shared=3).collect()
    assert pairs, "expected planted overlap in synthetic corpus"
    texts = {r.doc_id: r.text for r in docs.collect()}

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}

    p = pairs[0]
    shared = grams(texts[p.bench_doc_id]) & grams(texts[p.corpus_doc_id])
    assert len(shared) == p.shared_ngrams


def test_bloom_decontaminate_matches_exact_scan(spark):
    """The Bloom prefilter must be invisible in the result: FPs are removed
    by the exact verify join, FNs are impossible by construction."""
    from tensorbase_spark.pipeline import curation
    from tensorbase_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    exact = curation.contamination_pairs(corpus, bench, min_shared=2)
    bloom = curation.bloom_decontaminate_pairs(corpus, bench, min_shared=2)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, bloom.collect()))
    # the prefilter is really in the plan: two bitmap probe joins + the
    # exact gram join, all broadcast (map-side at any scale)
    plan = bloom._sc._jvm.PythonSQLUtils.explainString(
        bloom._jdf.queryExecution(), "formatted"
    )
    assert plan.count("BroadcastHashJoin") >= 3


def test_repetition_scores_known_values(spark):
    """Hand-computable Gopher metrics: 4 lines with one duplicated pair;
    'spam spam spam spam' has top bigram 'spam spam' = 3/3 of bigrams."""
    from tensorbase_spark.pipeline import text as t

    docs = spark.createDataFrame(
        [
            (1, "a b\nc d\na b\nx y z"),  # 4 lines, 'a b' twice
            (2, "spam spam spam spam"),   # 1 line, all bigrams identical
            (3, ""),                      # degenerate: no lines, no words
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in t.repetition_scores(docs).collect()}
    assert rows[1].n_lines == 4
    assert rows[1].dup_line_frac == 0.25              # 1 - 3 distinct / 4
    assert rows[1].dup_line_char_frac == 0.428571     # 6 of 14 line chars
    assert rows[1].top_bigram_frac == 0.25            # 'a b' 2 of 8 bigrams
    assert rows[2].top_bigram_frac == 1.0 and rows[2].is_repetitive
    assert rows[3].dup_line_frac == 0.0 and not rows[3].is_repetitive


def test_repetition_metrics_stay_jvm_side(spark):
    """Line metrics are pure JVM HOFs; the only Python-free shuffle is the
    bigram-mode aggregation — no Python eval anywhere in the plan."""
    from tensorbase_spark.pipeline import text as t
    from tensorbase_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    txt = t.repetition_scores(d)._jdf.queryExecution().toString()
    assert "EvalPython" not in txt


def test_line_dedup_global_first_occurrence_wins(spark):
    """C4 semantics: a line shared by two docs survives only in the earliest
    (doc_id, pos); within a doc the second copy also drops."""
    from tensorbase_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "a b\nc d\na b"), (2, "c d\nzz")], "doc_id int, text string"
    )
    rows = {r.doc_id: r for r in dedup.line_dedup_global(docs).collect()}
    assert (rows[1].n_lines, rows[1].n_kept, rows[1].n_dropped) == (3, 2, 1)
    assert (rows[2].n_lines, rows[2].n_kept) == (2, 1)  # 'c d' lost to doc 1
    import hashlib
    assert rows[1].kept_md5 == hashlib.md5(b"a b\nc d").hexdigest()
    assert rows[2].kept_md5 == hashlib.md5(b"zz").hexdigest()


def test_pq_recall_and_exact_scores(spark):
    """PQ+re-rank: high recall vs brute force at the default params on the
    fixture, overlap scores EXACTLY equal (re-rank computes true cosine),
    and bit-identical across runs (deterministic codebooks, no seeds)."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    pq = similarity.pq_topk(emb, q, k=5).collect()
    truth = {(r.q_id, r.c_id) for r in brute}
    got = {(r.q_id, r.c_id) for r in pq}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"PQ recall {recall:.2f} too low"
    bs = {(r.q_id, r.c_id): r.cos for r in brute}
    for r in pq:
        if (r.q_id, r.c_id) in bs:
            assert r.cos == bs[(r.q_id, r.c_id)]
    pq2 = similarity.pq_topk(emb, q, k=5).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, pq2))


def test_pq_codes_are_compact(spark):
    """The encoded corpus is m small ints per vector — the 100 TB memory
    story; codes must be valid codebook indices."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    books = similarity._train_pq_np(emb, 8, 256, "vec_id", "embedding")
    assert books.shape == (8, 256, 8)  # dim 64 / m 8
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:20]:
        assert len(r.codes) == 8
        assert all(0 <= c < 256 for c in r.codes)


def test_bpe_train_and_encode_golden(spark):
    """Hand-checkable BPE: corpus of repeated 'low lower' words — the first
    merges must fuse the frequent 'lo'/'low' units, token counts shrink
    accordingly, and training is deterministic."""
    from tensorbase_spark.pipeline import text as t

    docs = spark.createDataFrame(
        [(i, "low low low lower lower newest") for i in range(8)],
        "doc_id long, text string",
    )
    merges = t.train_bpe_merges(docs, n_merges=10)
    assert merges == t.train_bpe_merges(docs, n_merges=10)  # deterministic
    assert ("l", "o") in merges[:3]  # 'lo' is a top pair in this corpus
    out = {r.doc_id: r for r in t.bpe_token_counts(docs, merges).collect()}
    assert out[0].n_words == 6
    # with 10 merges on a 3-word vocabulary every word fuses to 1-2 tokens
    assert out[0].n_bpe_tokens <= 2 * out[0].n_words
    assert out[0].n_bpe_tokens >= out[0].n_words  # >= one token per word
    # untrained text still encodes (falls back to characters)
    docs2 = spark.createDataFrame([(1, "zzzq")], "doc_id long, text string")
    r = t.bpe_token_counts(docs2, merges).collect()[0]
    assert r.n_bpe_tokens == 5  # z z z q </w>


def test_pca_orthonormal_deterministic_reconstruction(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    import numpy as np

    mean, comps, vals = similarity.pca_train(emb, k=8)
    mean2, comps2, vals2 = similarity.pca_train(emb, k=8)
    assert np.array_equal(comps, comps2) and np.array_equal(vals, vals2)
    # orthonormal basis, eigenvalues descending and non-negative
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-9)
    assert np.all(np.diff(vals) <= 1e-12) and vals[-1] >= -1e-9
    proj = {r.vec_id: np.asarray(r.pca_vec) for r in similarity.pca_project(emb, mean, comps).collect()}
    assert len(next(iter(proj.values()))) == 8
    # more components -> reconstruction error shrinks (monotone capture)
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()])
    def recon_err(k):
        m, c, _ = similarity.pca_train(emb, k=k)
        P = (X - m) @ c.T
        return float(((X - m - P @ c) ** 2).mean())
    assert recon_err(16) < recon_err(4)


def test_ivfpq_recall_exact_scores_and_full_cover(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    truth = {(r.q_id, r.c_id) for r in brute}
    got_df = similarity.ivfpq_topk(emb, q, k=5, n_centroids=16, nprobe=8)
    got_rows = got_df.collect()
    got = {(r.q_id, r.c_id) for r in got_rows}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF-PQ recall {recall:.2f} too low"
    bs = {(r.q_id, r.c_id): r.cos for r in brute}
    for r in got_rows:
        if (r.q_id, r.c_id) in bs:
            assert r.cos == bs[(r.q_id, r.c_id)]  # re-rank = exact cosine
    # full coverage must reproduce brute force exactly
    full = similarity.ivfpq_topk(
        emb, q, k=5, n_centroids=16, nprobe=16, cand_mult=10**6
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, brute))
    # determinism
    again = similarity.ivfpq_topk(emb, q, k=5, n_centroids=16, nprobe=8).collect()
    assert sorted(map(tuple, got_rows)) == sorted(map(tuple, again))


def test_ivfpq_indexed_matches_in_memory(spark, tmp_path):
    """The persisted IVF-PQ index must return IDENTICAL results to the
    in-memory path, and the probed scan must be partition-pruned on
    centroid_id."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    idx = f"{tmp_path}/ivfpq"
    similarity.build_ivfpq_index(emb, idx, n_centroids=16)
    got_df = similarity.ivfpq_search_indexed(spark, idx, emb, q, k=5, nprobe=8)
    got = sorted(tuple(r) for r in got_df.collect())
    mem = sorted(
        tuple(r)
        for r in similarity.ivfpq_topk(emb, q, k=5, n_centroids=16, nprobe=8).collect()
    )
    assert got == mem
    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    # the probe IN-filter must reach the partition column of the codes scan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:300], plan


def test_temperature_sample_quotas_and_determinism(spark):
    """alpha=0.5 up-weights tail strata vs raw proportions; membership is
    deterministic; quotas derive from sqrt weights."""
    import math

    from tensorbase_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    s = sampling.temperature_sample(docs, stratum="lang", key="doc_id", alpha=0.5, budget=200)
    got = {r.lang: r.n for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    counts = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    w = {k: round(math.sqrt(v), 6) for k, v in counts.items()}
    tw = sum(w.values())
    expect = {k: min(counts[k], int(200 * w[k] / tw + 1e-9)) for k in counts}
    assert got == expect
    # tail share must rise vs raw proportion (the point of temperature < 1)
    tail = min(counts, key=counts.get)
    assert got[tail] / sum(got.values()) > counts[tail] / sum(counts.values())
    again = {
        r.lang: r.n
        for r in sampling.temperature_sample(
            docs, stratum="lang", key="doc_id", alpha=0.5, budget=200
        ).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert again == got


def test_shuffle_shards_uniform_dense_and_seeded(spark):
    from tensorbase_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    s = sampling.shuffle_shards(docs, key="doc_id", n_shards=8).select(
        "doc_id", "shard", "position"
    )
    rows = s.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.position)
    # dense 1..n positions per shard
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # rough uniformity over 8 shards at 500 docs
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and min(sizes) > 30
    # a different seed re-deals the order
    s2 = sampling.shuffle_shards(docs, key="doc_id", n_shards=8, seed="epoch2")
    m1 = {(r.doc_id): (r.shard, r.position) for r in rows}
    m2 = {(r.doc_id): (r.shard, r.position) for r in s2.collect()}
    assert m1 != m2 and set(m1) == set(m2)


def test_incremental_dedup_verdicts(spark, tmp_path):
    """Planted store/batch interplay: store dup, in-batch dup, genuinely new."""
    from tensorbase_spark.pipeline import dedup as dd

    hist = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    idx = f"{tmp_path}/exact_index"
    dd.build_exact_index(hist, idx)
    got = {
        r.doc_id: (r.verdict, r.canonical_id)
        for r in dd.incremental_dedup_against(spark, idx, batch).collect()
    }
    assert got == {
        10: ("dup_of_store", 1),   # 'alpha' canonicalizes to min store id
        11: ("new", 11),           # first 'gamma' anywhere
        12: ("dup_in_batch", 11),  # second 'gamma' in the same batch
        13: ("new", 13),
    }


def test_semantic_contamination_broadcast_no_corpus_shuffle(spark):
    """The corpus side must not shuffle: benchmark broadcasts, cosine is
    map-side (one Arrow stage), and every returned pair verifies >= tau."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    bench = emb.filter(F.col("label") == 0)
    corpus = emb.filter(F.col("label") != 0)
    df = similarity.semantic_contamination(corpus, bench, threshold=0.35)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastExchange" in plan
    # the only Exchange allowed is the broadcast of the benchmark side
    import re

    assert not re.search(r"Exchange hashpartitioning", plan), plan
    rows = df.collect()
    assert rows and all(r.cos >= 0.35 for r in rows)


def test_temperature_sample_threshold_map_only(spark):
    """The scale path must be a pure map after the broadcast quota join
    (no window, no hashpartitioning Exchange) and land within binomial
    jitter of the exact quotas, deterministically."""
    import math
    import re

    from tensorbase_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    s = sampling.temperature_sample(
        docs, stratum="lang", key="doc_id", alpha=0.5, budget=200,
        method="threshold",
    )
    plan = s._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    # the only exchanges feed the tiny quota aggregate, never the corpus:
    # corpus-side rows flow scan -> broadcast join -> filter with no
    # repartitioning (the quota side is < |strata| rows)
    got = {r.lang: r.n for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    counts = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    w = {k: round(math.sqrt(v), 6) for k, v in counts.items()}
    tw = sum(w.values())
    for k, v in counts.items():
        exact = min(v, int(200 * w[k] / tw + 1e-9))
        assert abs(got.get(k, 0) - exact) <= 4 * math.sqrt(exact) + 2, (k, got, exact)
    again = {
        r.lang: r.n
        for r in sampling.temperature_sample(
            docs, stratum="lang", key="doc_id", alpha=0.5, budget=200,
            method="threshold",
        ).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert again == got


def test_mixture_to_budget_quotas_and_determinism(spark):
    """mixture_to_budget: per-stratum tokens stay within one doc of the
    quota, unweighted strata contribute nothing, and the kept set is
    identical on re-run (hash-ordered greedy, no rand())."""
    from pyspark.sql import functions as F

    from tensorbase_spark.pipeline import sampling
    from tensorbase_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), F.lit(" "), F.lit("")))
        + F.lit(1)
    )
    weights = {"src0": 0.6, "src1": 0.4}
    s = sampling.mixture_to_budget(
        docs, stratum="source", key="doc_id", n_tokens=toks,
        weights=weights, budget=800,
    )
    per = {
        r.source: (r.n, r.t, r.ids)
        for r in s.groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum("n_tokens").alias("t"),
            F.sum("doc_id").alias("ids"),
        ).collect()
    }
    assert set(per) <= {"src0", "src1"}  # unweighted strata excluded
    max_doc = {
        r.source: r.m
        for r in docs.withColumn("nt", toks)
        .groupBy("source").agg(F.max("nt").alias("m")).collect()
    }
    for src, q in (("src0", 480.0), ("src1", 320.0)):
        n, t, _ = per[src]
        assert t < q + max_doc[src], (src, t, q)  # overrun < one doc
        # greedy fills the quota unless the stratum ran out of docs
        total = docs.filter(F.col("source") == src).count()
        assert t >= min(q, total) - max_doc[src] or n == total
    again = {
        r.source: (r.n, r.t, r.ids)
        for r in sampling.mixture_to_budget(
            docs, stratum="source", key="doc_id", n_tokens=toks,
            weights=weights, budget=800,
        ).groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum("n_tokens").alias("t"),
            F.sum("doc_id").alias("ids"),
        ).collect()
    }
    assert again == per


# --- round-5 text operators: BM25, n-gram novelty, substring windows ------

def test_bm25_ranks_relevant_doc_first(spark):
    from tensorbase_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (1, "spark query engine spark spark"),
            (2, "spark appears once here in a much longer document " + "pad " * 30),
            (3, "nothing relevant whatsoever in this row"),
            (4, "query engine without the main term"),
        ],
        "doc_id long, text string",
    )
    out = T.bm25_topk(docs, [(1, "spark")], k=3).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    # doc 1: high tf, short doc -> must outrank the long doc with tf=1;
    # doc 3/4 contain no query term -> absent
    assert ranked[0] == 1
    assert set(ranked) == {1, 2}
    assert all(r.score > 0 for r in out)


def test_bm25_multi_query_isolation(spark):
    from tensorbase_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    out = T.bm25_topk(docs, [(1, "alpha"), (2, "gamma")], k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, set()).add(r.doc_id)
    assert by_q[1] == {1}
    assert by_q[2] == {2, 3}


def test_ngram_novelty_copy_has_zero(spark):
    from tensorbase_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "one two three four five six"),  # verbatim copy, later id
            (3, "totally different words entirely here now"),
            (4, "aa bb"),  # < 3 words -> no grams, no row
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.ngram_novelty(docs, n=3).collect()}
    assert rows[1].novelty == 1.0
    assert rows[2].novelty == 0.0  # every gram first seen in doc 1
    assert rows[3].novelty == 1.0
    assert 4 not in rows


def test_substring_windows_flag_verbatim_overlap(spark):
    from tensorbase_spark.pipeline import text as T

    shared = "Z" * 80  # long verbatim run shared by docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one " + "a" * 40),
            (2, "different head " + shared),
            (3, "x" * 100),  # no overlap with anyone
            (4, "short"),  # < window -> no row
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.substring_window_dupes(docs, win=40, stride=10).collect()}
    assert rows[1].n_shared > 0 and rows[2].n_shared > 0
    assert rows[3].n_shared == 0 and rows[3].dup_fraction == 0.0
    assert 4 not in rows


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Appending to a persisted IVF index must leave every vector
    searchable exactly once: full-probe search over (build half + append
    half) equals brute force over the whole set."""
    from tensorbase_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    idx = str(tmp_path / "ivf_append")
    similarity.build_ivf_index(emb.filter("vec_id % 2 = 0"), idx, n_centroids=4)
    similarity.ivf_index_append(spark, idx, emb.filter("vec_id % 2 = 1"))
    q = emb.filter("vec_id % 100 = 0")
    got = sorted(
        tuple(r)
        for r in similarity.ivf_search_indexed(spark, idx, q, k=3, nprobe=4).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.brute_force_topk(emb, q, k=3).collect()
    )
    assert got == want
    # appended rows live in NEW files; the original build files are intact
    import os

    n_files = sum(
        1
        for _d, _s, fs in os.walk(f"{idx}/vectors")
        for f in fs
        if f.endswith(".parquet")
    )
    assert n_files > 4  # strictly more files than the 4-partition build alone


def test_asof_join_forward_direction(spark):
    """direction='forward': earliest right row at-or-after each left row;
    equal timestamps match (inclusive); no successor -> NULL."""
    from tensorbase_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 99, "l3"), (2, 5, "l4")],
        "k int, ts int, lid string",
    )
    R = spark.createDataFrame(
        [(1, 9, "a"), (1, 20, "b"), (1, 30, "c"), (2, 1, "d")],
        "k int, ts int, v string",
    )
    out = {
        r.lid: r.asof_v
        for r in asof_join(L, R, on="k", ts="ts", direction="forward").collect()
    }
    assert out == {"l1": "b", "l2": "b", "l3": None, "l4": None}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(L, R, on="k", ts="ts", direction="sideways")


def test_keep_best_duplicate_survivor_choice(spark):
    """keep_best_duplicate clusters case/punct variants together and keeps
    the HIGHEST-quality member (here: the longer, stopword-bearing copy),
    not the min-id one."""
    from pyspark.sql import functions as F

    from tensorbase_spark.pipeline.dedup import keep_best_duplicate
    from tensorbase_spark.pipeline.text import quality_factors

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),                    # variant of 2, lower quality
            (2, "hello world"),                      # same cluster as 1
            (3, "the quick brown fox is a of and to in that good text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.kept, r.cluster_size)
        for r in keep_best_duplicate(docs, quality_factors()["quality"]).collect()
    }
    assert out[3] == (True, 1)
    assert out[1][1] == 2 and out[2][1] == 2  # clustered together
    assert sum(1 for k, (kept, _) in out.items() if kept) == 2
    # identical quality (identical normalized text) -> min id survives
    assert out[1][0] is True and out[2][0] is False


def test_edit_distance_neardups_blocked(spark):
    """edit_distance_neardups pairs only WITHIN a prefix block and reports
    the min-distance partner; exact duplicates come back at distance 0."""
    from tensorbase_spark.pipeline.dedup import edit_distance_neardups

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (3, "alpha beta gamma delta epsilon zetX"),   # 1 edit from 1/2
            (4, "omega psi chi phi upsilon tau"),          # different block
            # same prefix block but 34 chars longer than 1/2/3: outside the
            # len_gap=20 length window -> provably-far, never a candidate
            (5, "alpha beta gamma delta epsilon zeta " + "x" * 34),
        ],
        "doc_id long, text string",
    )
    nn = {r.doc_id: (r.nn_id, r.nn_dist)
          for r in edit_distance_neardups(docs).collect()}
    assert nn[1] == (2, 0)
    assert nn[2] == (1, 0)
    assert nn[3][1] == 1
    assert 4 not in nn  # alone in its block -> no candidate pair
    assert 5 not in nn  # length-banded out of the shared prefix block
    # a pair STRADDLING a band boundary (lengths 39 vs 41, bands 1 vs 2)
    # still collides via the ±1 band explode
    edge = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta abc"),
         (11, "alpha beta gamma delta epsilon zeta abcXY")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.nn_id, r.nn_dist)
           for r in edit_distance_neardups(edge).collect()}
    assert got == {10: (11, 2), 11: (10, 2)}


def test_zipf_stats_slope_shape(spark):
    """zipf_stats: a geometric frequency profile has a strongly negative
    slope; totals count the whole vocab, not just the ranked head."""
    from pyspark.sql import functions as F

    from tensorbase_spark.pipeline.text import zipf_stats

    rows = []
    for i, (w, n) in enumerate([("the", 64), ("of", 32), ("and", 16),
                                ("to", 8), ("in", 4), ("that", 2)]):
        rows.extend([(100 + i * 1000 + j, w) for j in range(n)])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = zipf_stats(docs, top_n=4).collect()[0]
    assert r.zipf_slope < -1.0
    assert r.n_ranked == 4
    assert r.vocab_size == 6 and r.n_tokens == 126


def test_gopher_quality_rules(spark):
    """Each Gopher rule fires on a crafted violation; a clean doc passes."""
    from tensorbase_spark.pipeline import text as _t

    good = " ".join(["the quick brown fox jumps over a lazy dog and runs"] * 6)
    docs = spark.createDataFrame(
        [
            (1, good),                              # passes everything
            (2, "the of and is to in that a"),      # too few words
            (3, "xx " * 60 + "the a of and"),        # mean word length < 3
            (4, good + " " + "### " * 20),           # symbol ratio
            (5, ("1 2 3 4 5 6 7 8 9 0 " * 6) + "the a"),  # alpha ratio
            (6, " ".join(["zz yy ww vv uu"] * 12)),  # no stopwords
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in _t.gopher_quality_rules(docs).collect()}
    assert r[1].keep == 1
    assert r[2].r_words == 0 and r[2].keep == 0
    assert r[3].r_mean_wl == 0
    assert r[4].r_symbol == 0
    assert r[5].r_alpha == 0
    assert r[6].r_stops == 0


def test_gopher_line_rules(spark):
    """Bullet and ellipsis line ratios need real lines."""
    from tensorbase_spark.pipeline import text as _t

    bullets = "\n".join(["- item"] * 10)                  # 100% bullet lines
    ellipses = "\n".join(["trailing off..."] * 5 + ["solid line"])  # 5/6
    docs = spark.createDataFrame(
        [(1, bullets), (2, ellipses)], "doc_id long, text string"
    )
    r = {x.doc_id: x for x in _t.gopher_quality_rules(docs).collect()}
    assert r[1].r_bullet == 0
    assert r[2].r_ellipsis == 0


def test_c4_line_clean(spark):
    """Line filter keeps >=5-word punctuation-terminated lines; lorem ipsum
    and '{' drop the document wholesale (clean_text empties, flag set)."""
    from tensorbase_spark.pipeline import text as _t

    docs = spark.createDataFrame(
        [
            (1, "this line has five words.\nshort one.\nno terminal punct here at all\nanother long line keeps going fine!"),
            (2, "contains lorem ipsum so it dies. even with good lines here."),
            (3, "function() { return 1; } has braces. and punctuation lines too."),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in _t.c4_line_clean(docs).collect()}
    assert r[1].n_lines == 4 and r[1].n_kept == 2 and r[1].doc_dropped == 0
    assert "five words." in r[1].clean_text and "short one." not in r[1].clean_text
    assert r[2].doc_dropped == 1 and r[2].n_kept == 0 and r[2].clean_text == ""
    assert r[3].doc_dropped == 1


def test_boilerplate_lines(spark):
    """A footer shared by >=3 docs of a group is boilerplate; unique body
    lines are not; the same footer in a different group counts separately."""
    from tensorbase_spark.pipeline import text as _t

    rows = [(i, "siteA", f"body text {i}\nshared footer") for i in range(4)]
    rows += [(10, "siteA", "body ten only")]          # no footer
    rows += [(20, "siteB", "other body\nshared footer")]  # only 1 doc in B
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    r = {x.doc_id: x for x in _t.boilerplate_lines(docs, min_docs=3).collect()}
    for i in range(4):
        assert r[i].n_lines == 2 and r[i].n_boilerplate == 1
    assert r[10].n_boilerplate == 0
    assert r[20].n_boilerplate == 0  # B's footer appears in only one doc


def test_dsir_importance_weights_tilt(spark):
    """DSIR must assign higher log-weights to docs that look like the
    target slice: build a corpus of two vocabularies, target = 'sci' docs;
    every sci doc must outscore every web doc, and weights must be finite."""
    from tensorbase_spark.pipeline import curation

    sci = "quantum electron proton neutrino boson lepton quark spin"
    web = "click here buy now free shipping best price deal sale"
    rows = [(i, "sci", sci + f" sample {i}") for i in range(10)]
    rows += [(100 + i, "web", web + f" page {i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, kind string, text string")
    out = curation.dsir_importance_weights(
        docs, F.col("kind") == "sci", buckets=1000
    ).collect()
    w = {r.doc_id: r.dsir_logw for r in out}
    assert len(w) == 20 and all(v == v for v in w.values())  # no NaNs
    assert min(w[i] for i in range(10)) > max(w[100 + i] for i in range(10))


def test_binary_auc_exact_small(spark):
    """AUC on a tiny hand-checkable set: perfect separation -> 1.0;
    anti-separation -> 0.0; all-ties -> 0.5 (half credit)."""
    from tensorbase_spark.pipeline import metrics

    perfect = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "score double, label int"
    )
    assert metrics.binary_auc(perfect, bins=100).collect()[0].auc == 1.0
    inverted = spark.createDataFrame(
        [(4.0, 0), (3.0, 0), (2.0, 1), (1.0, 1)], "score double, label int"
    )
    assert metrics.binary_auc(inverted, bins=100).collect()[0].auc == 0.0
    ties = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (1.0, 0), (1.0, 1)], "score double, label int"
    )
    assert metrics.binary_auc(ties, bins=100).collect()[0].auc == 0.5


def test_precision_recall_points(spark):
    """PR table at a threshold with known tp/fp."""
    from tensorbase_spark.pipeline import metrics

    d = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.7, 1), (0.2, 1), (0.1, 0)],
        "score double, label int",
    )
    r = {x.threshold: x for x in
         metrics.precision_recall_points(d, thresholds=[0.5]).collect()}
    assert r[0.5].n_kept == 3
    assert abs(r[0.5].precision - 2 / 3) < 1e-6
    assert abs(r[0.5].recall - 2 / 3) < 1e-6


def test_html_to_text(spark):
    """Script/style/head blocks die wholesale; block closers become
    newlines; entities decode (amp last so &amp;lt; stays literal <-ish);
    whitespace collapses."""
    from tensorbase_spark.pipeline import text as _t

    html = (
        "<html><head><title>T</title><script>if (1<2) x();</script></head>"
        "<body><h1>Hi &amp; bye</h1><p>a  b</p><p>c &lt;tag&gt;</p>"
        "<!-- secret -->\t<div>d&nbsp;e</div></body></html>"
    )
    docs = spark.createDataFrame([(1, html)], "doc_id long, text string")
    r = _t.html_to_text(docs).collect()[0]
    assert r.clean_text == "Hi & bye\na b\nc <tag>\nd e"
    assert "secret" not in r.clean_text and "if (1<2)" not in r.clean_text
    assert r.n_clean_chars == len(r.clean_text)


def test_png_pixel_decode_roundtrip():
    """Full pixel decode inverts the stdlib encoder exactly (filter 0),
    and reconstructs Sub/Up/Average/Paeth-filtered scanlines correctly."""
    import struct
    import zlib

    from tensorbase_spark.pipeline import multimodal as M

    pix = lambda x, y: (x * 7 + y * 13) & 0xFF  # noqa: E731
    b = M.encode_png(9, 5, pix)
    rows = M.png_decode_gray(b)
    assert rows == [[pix(x, y) for x in range(9)] for y in range(5)]

    # hand-build a PNG exercising every filter type on known data
    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    want = [[10, 20, 30], [15, 25, 35], [17, 27, 37], [20, 30, 40], [25, 35, 45]]
    raw = bytearray()
    prev = [0, 0, 0]
    for y, (f, row) in enumerate(zip([0, 1, 2, 3, 4], want)):
        raw.append(f)
        for x, v in enumerate(row):
            a = row[x - 1] if x else 0
            up = prev[x]
            c = (want[y - 1][x - 1] if (y and x) else 0)
            if f == 0:
                enc = v
            elif f == 1:
                enc = (v - a) & 0xFF
            elif f == 2:
                enc = (v - up) & 0xFF
            elif f == 3:
                enc = (v - (a + up) // 2) & 0xFF
            else:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                enc = (v - pred) & 0xFF
            raw.append(enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", 3, 5, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert M.png_decode_gray(png) == want
    assert M.png_decode_gray(b"not a png") is None


def test_average_hash_and_neardup(spark):
    """aHash: identical images hash equal; low-bit noise on far-from-mean
    levels doesn't move the hash; inverting a block flips exactly its
    bit; the band join finds the hamming-1 pair."""
    from tensorbase_spark.pipeline import multimodal as M

    base = M.encode_png(16, 16, lambda x, y: 200 if x < 8 else 40)
    noisy = M.encode_png(16, 16, lambda x, y: (200 if x < 8 else 40) + 2)
    h0, h1 = M.average_hash(base), M.average_hash(noisy)
    assert h0 == h1
    # flip one 2x2 block region (top-left cell of the 8x8 grid)
    flipped = M.encode_png(
        16, 16, lambda x, y: (40 if (x < 2 and y < 2) else (200 if x < 8 else 40))
    )
    h2 = M.average_hash(flipped)
    assert bin((h0 ^ h2) & ((1 << 64) - 1)).count("1") == 1
    hashed = spark.createDataFrame(
        [(1, "png", h0), (2, "png", h1), (3, "png", h2)],
        "asset_id long, format string, ahash long",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in M.image_neardup_pairs(hashed, max_hamming=1).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    # pigeonhole guarantee AT the default max_hamming=4: a pair with one
    # flipped bit in each of four 16-bit quarters defeated the old 4-band
    # scheme; 5 bands (max_hamming+1) must still find it (ADVICE r6 #2)
    adversarial = h0 ^ (1 << 2) ^ (1 << 18) ^ (1 << 34) ^ (1 << 50)
    adversarial = adversarial - (1 << 64) if adversarial >= (1 << 63) else adversarial
    hashed4 = spark.createDataFrame(
        [(1, "png", h0), (9, "png", adversarial)],
        "asset_id long, format string, ahash long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in M.image_neardup_pairs(hashed4).collect()
    }
    assert got == {(1, 9): 4}


def test_dhash_phash_affine_invariance(spark):
    """dHash (gradient bits) and pHash (DC-free DCT bits) are exactly
    invariant under positive affine brightness maps, and both change for
    a genuinely different pattern; the shared band join pairs them."""
    from tensorbase_spark.pipeline import multimodal as M

    def pat(x, y):
        return 4 + 4 * ((x * 3 + y * 7 + x * y) % 16)

    base = M.encode_png(16, 16, pat)
    affine = M.encode_png(16, 16, lambda x, y: pat(x, y) * 3 + 40)
    other = M.encode_png(16, 16, lambda x, y: 4 + 4 * ((x * 5 + y * 2) % 16))
    for hf in (M.dhash, M.phash):
        h0, h1, h2 = hf(base), hf(affine), hf(other)
        assert h0 == h1, hf.__name__
        assert h0 != h2, hf.__name__
        assert hf(b"not a png") is None
    # tiny images refuse cleanly rather than hashing garbage
    tiny = M.encode_png(4, 4, pat)
    assert M.dhash(tiny) is None
    # the DataFrame ops land the hash in the shared slot for the pairing
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(affine)), (3, bytearray(other))],
        "asset_id long, payload binary",
    )
    for op in (M.image_dhash, M.image_phash):
        hashed = op(df)
        pairs = {
            (r.id_a, r.id_b)
            for r in M.image_neardup_pairs(hashed, max_hamming=0).collect()
        }
        assert (1, 2) in pairs and (1, 3) not in pairs


def test_wav_decode_and_audio_fingerprint(spark):
    """RIFF/PCM16 decode inverts encode_wav; the energy-delta fingerprint
    is gain-invariant and envelope-sensitive."""
    from tensorbase_spark.pipeline import multimodal as M

    wav = M.encode_wav(256, 16000, lambda i: (i % 100) - 50)
    samples = M.wav_decode_pcm16(wav)
    assert samples == [(i % 100) - 50 for i in range(256)]
    assert M.wav_decode_pcm16(b"junk") is None

    def env(j, scale):
        return ((-1) ** j) * 300 * ((j // 64) % 5 + 1) * scale

    a = M.encode_wav(2048, 16000, lambda j: env(j, 1))
    b = M.encode_wav(2048, 16000, lambda j: env(j, 3))  # gain x3
    c = M.encode_wav(2048, 16000, lambda j: ((-1) ** j) * 300 * (5 - (j // 64) % 5))
    fa, fb, fc = (M.audio_energy_fingerprint(x) for x in (a, b, c))
    assert fa == fb  # gain-invariant
    assert fa != fc  # different envelope -> different fingerprint


# --- r14 optimization pins -------------------------------------------------

def test_bm25_onepass_matches_general_path(spark):
    """The r14 one-pass BM25 (tf as conditional sums + literal corpus
    stats) must reproduce the general explode/join path exactly — same
    docs, same ranks, same round(score, 6) values."""
    from tensorbase_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (1, "spark query engine spark spark"),
            (2, "spark appears once here in a much longer document " + "pad " * 30),
            (3, "nothing relevant whatsoever in this row"),
            (4, "query engine without the main term engine"),
            (5, ""),
            (6, "query query spark engine table merge sort"),
        ],
        "doc_id long, text string",
    )
    qs = [(1, "spark query"), (2, "engine table"), (3, "absentterm")]
    one = sorted(
        tuple(r) for r in T.bm25_topk(docs, qs, k=4).collect()
    )
    gen = sorted(
        tuple(r)
        for r in T.bm25_topk(docs, qs, k=4, onepass_max_terms=0).collect()
    )
    assert one == gen


def test_bm25_empty_term_query_returns_no_rows(spark):
    """ADVICE r14: a query string that tokenizes to zero terms used to
    crash the one-pass path at plan build (F.round(None, 6)); it must
    instead return no rows for that query — the general path's behavior —
    while other queries in the same call still rank."""
    from tensorbase_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [(1, "spark engine"), (2, "other text")], "doc_id long, text string"
    )
    out = T.bm25_topk(docs, [(1, "   "), (2, "spark")], k=3).collect()
    assert {r.q_id for r in out} == {2}
    gen = T.bm25_topk(
        docs, [(1, "   "), (2, "spark")], k=3, onepass_max_terms=0
    ).collect()
    assert sorted(tuple(r) for r in out) == sorted(tuple(r) for r in gen)


def test_pq_topk_batch_size_invariant(spark):
    """The r14 fused encode+ADC emits per-batch top-(k2+1) candidates; the
    global result must not depend on Arrow batch boundaries (any global
    top-k2 row ranks <= k2 inside its own batch)."""
    from tensorbase_spark.pipeline import similarity as S

    SF = "/root/testdata/sf0.001"
    from tensorbase_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = sorted(tuple(r) for r in S.pq_topk(emb, q, k=5).collect())
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        big = sorted(tuple(r) for r in S.pq_topk(emb, q, k=5).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert small == big


def _ann_entry_points(spark, emb, q, idx):
    """Every numpy-side ANN search path over ``emb``/``q``; ``idx`` holds a
    persisted IVF-PQ index of ``emb`` (built here) and of an IVF one."""
    similarity.build_ivfpq_index(emb, f"{idx}/ivfpq", n_centroids=16)
    similarity.build_ivf_index(emb, f"{idx}/ivf", n_centroids=16)
    return {
        "brute_force_topk": lambda: similarity.brute_force_topk(emb, q, k=5),
        "pq_topk": lambda: similarity.pq_topk(emb, q, k=5),
        "ivfpq_topk": lambda: similarity.ivfpq_topk(
            emb, q, k=5, n_centroids=16, nprobe=8
        ),
        "ivfpq_search_indexed": lambda: similarity.ivfpq_search_indexed(
            spark, f"{idx}/ivfpq", emb, q, k=5, nprobe=8
        ),
        "ivf_search_indexed": lambda: similarity.ivf_search_indexed(
            spark, f"{idx}/ivf", q, k=5, nprobe=8
        ),
    }


@pytest.mark.parametrize("id_type", ["string", "decimal(20,0)"])
def test_ann_ids_keep_input_type(spark, tmp_path, id_type):
    """q_id/c_id take their type from the input schemas: string and decimal
    ids give the long-id results once mapped back (the string cast keeps
    md5(cast(id as string)), so training sees the same sample order)."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    want = _ann_entry_points(spark, emb, q, tmp_path / "long")
    cast_emb, cast_q = (
        df.withColumn("vec_id", F.col("vec_id").cast(id_type)) for df in (emb, q)
    )
    got = _ann_entry_points(spark, cast_emb, cast_q, tmp_path / "cast")
    id_dt = cast_emb.schema["vec_id"].dataType
    for name, run in got.items():
        df = run()
        assert df.schema["q_id"].dataType == id_dt, name
        assert df.schema["c_id"].dataType == id_dt, name
        rows = sorted(
            (int(r.q_id), int(r.c_id), r.rank, r.cos) for r in df.collect()
        )
        assert rows and rows == sorted(tuple(r) for r in want[name]().collect()), name


def test_ann_empty_query_set(spark, tmp_path):
    """An empty query set returns no rows with the normal result schema."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    normal = _ann_entry_points(spark, emb, q, tmp_path / "a")
    empty = _ann_entry_points(spark, emb, q.filter(F.lit(False)), tmp_path / "b")
    for name, run in empty.items():
        df = run()
        assert df.collect() == [], name
        assert df.schema == normal[name]().schema, name


def test_ann_driver_jobs(spark, tmp_path):
    """Spark jobs each search path runs while BUILDING its DataFrame: the
    query set is collected once (PQ's collect also carries the training
    sample; IVF-PQ's training sample is its own job; reading a persisted
    index infers its parquet schema in one job) — the indexed IVF-PQ
    search used to collect the same query rows twice."""
    import uuid

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    sc = spark.sparkContext
    counts = {}
    for name, run in _ann_entry_points(spark, emb, q, tmp_path).items():
        group = f"ann-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert counts == {
        "brute_force_topk": 1,
        "pq_topk": 1,
        "ivfpq_topk": 2,
        "ivfpq_search_indexed": 2,
        "ivf_search_indexed": 2,
    }
