"""Semantic tests for the web-corpus ops: planted exact/near duplicates are
found, language ID recovers planted languages, simhash Hamming behaves."""

import numpy as np
import pandas as pd
import pytest

from imc import multimodal, similarity, textops

BASE = ("the quick brown fox jumps over the lazy dog and then runs to the "
        "river to drink some water before returning home in the evening "
        "while birds sing in the trees and the wind blows gently") * 3


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # 20 distinct docs
    rng = np.random.default_rng(5)
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
             "lambda", "mu", "nu", "tau", "phi"]
    for i in range(20):
        words = rng.choice(vocab, size=120).tolist()
        rows.append((i, " ".join(words), "en", "synth", 0))
    # exact duplicate of doc 0
    rows.append((100, rows[0][1], "en", "synth", 0))
    # near duplicate of BASE (one word changed)
    rows.append((200, BASE, "en", "synth", 0))
    rows.append((201, BASE.replace("lazy", "sleepy", 1), "en", "synth", 0))
    # language-specific docs
    rows.append((300, "el perro corre en la casa de los amigos que hablan", "es", "synth", 0))
    rows.append((301, "der hund läuft und die katze schläft das ist nicht gut", "de", "synth", 0))
    rows.append((302, "le chat est sur la table et les enfants sont la", "fr", "synth", 0))
    rows.append((303, "the cat and the dog play in the garden of the house", "en", "synth", 0))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    return spark.createDataFrame(pdf)


def test_exact_dedup_finds_planted(spark, docs):
    out = textops.exact_dedup(docs).toPandas()
    dups = out[out["dup_count"] > 1]
    assert len(dups) == 1
    assert dups.iloc[0]["keeper_id"] == 0
    assert dups.iloc[0]["dup_count"] == 2


def test_lsh_finds_near_duplicate(spark, docs):
    pairs = textops.lsh_dup_pairs(docs).toPandas()
    got = set(zip(pairs["a_id"], pairs["b_id"]))
    assert (0, 100) in got     # exact dup always shares all bands
    assert (200, 201) in got   # near dup shares ≥1 band


def test_lsh_salted_equals_unsalted_on_hot_bucket(spark, docs):
    """Boilerplate skew: 60 identical docs land in ONE bucket per band;
    the salted join must produce the exact same pair set."""
    import pandas as pdd
    boiler = pdd.DataFrame({
        "doc_id": range(1000, 1060),
        "text": "subscribe to our newsletter for daily updates and offers " * 5,
        "lang": "en", "source": "boiler", "n_chars": 0,
    })
    hotdocs = docs.unionByName(spark.createDataFrame(boiler))
    plain = textops.lsh_dup_pairs(hotdocs, salt=False).toPandas()
    salted = textops.lsh_dup_pairs(hotdocs, salt=True, hot_factor=3.0).toPandas()
    p = set(zip(plain["a_id"], plain["b_id"]))
    q = set(zip(salted["a_id"], salted["b_id"]))
    assert p == q
    # the boilerplate clique is present (60 choose 2 pairs among 1000s)
    assert sum(1 for a, b in p if a >= 1000 and b >= 1000) == 60 * 59 // 2


def test_jaccard_verifies_near_duplicate(spark, docs):
    out = textops.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = {(a, b): j for a, b, j in zip(out["a_id"], out["b_id"], out["jaccard"])}
    assert got.get((0, 100)) == 1.0
    assert (200, 201) in got
    assert 0.5 <= got[(200, 201)] < 1.0


def test_simhash_vectorized_equals_python_twin(spark, docs):
    """The Catalyst simhash reproduces the scalar md5-bit-vote definition
    exactly (incl. empty-text → 0)."""
    import pandas as pdd
    extra = spark.createDataFrame(pdd.DataFrame({
        "doc_id": [900, 901], "text": ["", "  "],
        "lang": "en", "source": "synth", "n_chars": 0}))
    both = docs.unionByName(extra)
    got = textops.simhash_fingerprints(both).toPandas().set_index("doc_id")["simhash"]
    texts = both.select("doc_id", "text").toPandas()
    for _, r in texts.iterrows():
        assert int(got[r["doc_id"]]) == textops.simhash64_py(r["text"]), r["doc_id"]


def test_simhash_near_pairs(spark, docs):
    fp = textops.simhash_fingerprints(docs).toPandas().set_index("doc_id")["simhash"]
    ham_exact = bin(int(fp[0]) ^ int(fp[100])).count("1")
    assert ham_exact == 0
    ham_near = bin(int(fp[200]) ^ int(fp[201])).count("1")
    assert ham_near <= 6
    pairs = textops.simhash_near_pairs(docs, max_hamming=6).toPandas()
    got = set(zip(pairs["a_id"], pairs["b_id"]))
    assert (0, 100) in got
    # near-dup found iff its hamming ≤ threshold AND a 16-bit block matches;
    # with ham ≤ 6 over 4 blocks pigeonhole can miss only if all blocks
    # differ — check consistency instead of existence
    if (200, 201) in got:
        assert pairs.set_index(["a_id", "b_id"]).loc[(200, 201), "hamming"] == ham_near


def test_langid_recovers_planted(spark, docs):
    out = textops.lang_id(docs).toPandas().set_index("doc_id")["pred_lang"]
    assert out[300] == "es"
    assert out[301] == "de"
    assert out[302] == "fr"
    assert out[303] == "en"


def test_quality_and_tokens(spark, docs):
    q = textops.quality_scores(docs).toPandas().set_index("doc_id")
    t = textops.token_counts(docs).toPandas().set_index("doc_id")
    assert t.loc[303, "n_tokens"] == 12
    assert (q["quality"] >= 0).all() and (q["quality"] <= 1).all()
    # English prose scores higher on stop_ratio than random-vocab docs
    assert q.loc[303, "stop_ratio"] > q.loc[1, "stop_ratio"]


def test_media_features_stub_plumbing(spark, docs):
    feats = multimodal.media_features(multimodal.documents_as_media(docs)).toPandas()
    assert len(feats) == docs.count()
    row = feats[feats["doc_id"] == 303].iloc[0]
    import hashlib
    txt = "the cat and the dog play in the garden of the house"
    assert row["n_bytes"] == len(txt.encode())
    assert row["sha256"] == hashlib.sha256(txt.encode()).hexdigest()
    arr = np.frombuffer(txt.encode(), dtype=np.uint8).astype(float)
    np.testing.assert_allclose(row["feature"],
                               [arr.mean(), arr.std(), arr.min(), arr.max()])


def test_short_docs_do_not_crash_shingles(spark):
    """ADVICE r01 (high): docs with < 3 words used to crash the jaccard path
    with INVALID_PARAMETER_VALUE.START (sequence(1,0) → slice(words,0,3));
    now they shingle to an empty array and simply can't pair."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": ["", "one", "two words", "exactly three words", BASE],
        "lang": "en", "source": "synth", "n_chars": 0,
    })
    docs = spark.createDataFrame(pdf)
    jac = textops.ngram_jaccard_pairs(docs, threshold=0.1).toPandas()
    assert not set(jac["a_id"]).intersection({0, 1, 2})
    sigs = textops.minhash_signatures(docs).toPandas()
    assert set(sigs["doc_id"]) == {3, 4}  # <3-word docs excluded
    # quality/tokens handle empty text too
    q = textops.quality_scores(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 0


def test_sign_bucket_null_and_short_embeddings(spark):
    """ADVICE r01 (low): NULL elements / embeddings shorter than `bits` dims
    map to bucket bit 0 instead of a NULL bucket that drops the row."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    rows = [(0, [1.0, -1.0]),            # shorter than 8 dims
            (1, [1.0, None, 1.0]),       # NULL element
            (2, [1.0] * 8)]
    emb = spark.createDataFrame(rows, schema)
    out = similarity.sign_bucket(emb, bits=8).toPandas().set_index("vec_id")
    assert out.loc[0, "bucket"] == 1            # only dim-0 positive
    assert out.loc[1, "bucket"] == 1 + 4        # NULL dim → 0
    assert out.loc[2, "bucket"] == 255
    assert out["bucket"].notna().all()


def test_ann_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(9)
    n, d = 300, 16
    mat = rng.normal(size=(n, d)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                        "embedding": [v.tolist() for v in mat],
                        "label": 0})
    emb = spark.createDataFrame(pdf)
    got = similarity.ann_topk_bruteforce(emb, k=4, probe_mod=50).toPandas()
    m64 = mat.astype(np.float64)
    norms = np.sqrt((m64 * m64).sum(1))
    for q in range(0, n, 50):
        s = (m64 @ m64[q]) / (norms * norms[q])
        s[q] = -np.inf
        rs = np.round(s, 6)
        order = np.lexsort((np.arange(n), -rs))[:4]
        want = set(order.tolist())
        mine = set(got[got["query_id"] == q]["neighbor_id"].tolist())
        assert mine == want, q


def test_ann_lsh_bucket_consistency(spark):
    rng = np.random.default_rng(10)
    n, d = 200, 16
    mat = rng.normal(size=(n, d)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                        "embedding": [v.tolist() for v in mat],
                        "label": 0})
    emb = spark.createDataFrame(pdf)
    got = similarity.ann_topk_lsh(emb, k=3, probe_mod=50, bits=8).toPandas()
    # every returned neighbor shares the probe's sign bucket
    buckets = {i: sum((1 << b) for b in range(8) if mat[i, b] > 0) for i in range(n)}
    for _, r in got.iterrows():
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
    assert (got["rank"] >= 1).all()


def test_dedup_clusters_components_and_keepers(spark, docs):
    """Near-dup CLUSTERS (r4): the planted near-dup pair (200, 201) must
    form one component keyed by its min doc_id; singletons keep
    themselves; every doc appears exactly once."""
    out = textops.dedup_clusters(docs, threshold=0.7).toPandas()
    n_docs = docs.count()
    assert len(out) == n_docs
    by_doc = out.set_index("doc_id")
    assert by_doc.loc[200, "cluster_id"] == 200
    assert by_doc.loc[201, "cluster_id"] == 200
    assert bool(by_doc.loc[200, "is_keeper"]) is True
    assert bool(by_doc.loc[201, "is_keeper"]) is False
    # the purge list removes exactly the non-keepers; keepers cover all
    # clusters
    keepers = out[out["is_keeper"]]
    assert set(keepers["cluster_id"]) == set(out["cluster_id"])
    assert (keepers["doc_id"] == keepers["cluster_id"]).all()


def test_dedup_clusters_frees_superseded_label_tables(spark, docs):
    """The components engine persists its cut edge list and, in the
    contraction regime, a label table, a node mapping and a contracted
    edge list per round; only the last label table may stay cached
    behind the result. The planted pairs here are labelled on the
    driver. Dataset caches name their RDD after the cached plan; the
    unnamed persisted RDDs are localCheckpoints the result still reads."""
    def cached_rdds():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in rdds.keySet().toArray()
                if rdds.get(k).name() is not None}

    before = cached_rdds()
    out = textops.dedup_clusters(docs, threshold=0.7)
    assert len(cached_rdds() - before) <= 1
    assert out.filter("doc_id = 201").first()["cluster_id"] == 200


def test_dedup_clusters_chain_transitivity(spark):
    """A near-dup CHAIN (A~B, B~C, A!~C) must still collapse to ONE
    component — pairs alone can't dedupe transitively, components can."""
    base = ("w%d " * 60) % tuple(range(60))
    words = base.split()
    a = " ".join(words)
    b = " ".join(words[:55] + ["x1", "x2", "x3", "x4", "x5"])
    c = " ".join(words[:50] + ["x%d" % i for i in range(1, 11)])
    pdf = pd.DataFrame(
        [(1, a, "en", "s", 0), (2, b, "en", "s", 0), (3, c, "en", "s", 0)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    out = textops.dedup_clusters(
        spark.createDataFrame(pdf), threshold=0.5).toPandas()
    assert set(out["cluster_id"]) <= {1}


def _dedup_jobs(spark, documents, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        (textops.dedup_clusters(documents, threshold=0.7)
         .write.format("noop").mode("overwrite").save())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_clusters_job_count_is_small_and_graph_free(spark, docs):
    """A constant number of Spark jobs, whatever the pair graph: a graph
    this small is labelled in one numpy pass on the driver, with no
    contraction rounds. The planted pairs of `docs` and a 12-document
    sliding-window chain (each document linked to its three nearest
    windows on either side) start the same count."""
    words = [f"t{i}" for i in range(100)]
    chain = pd.DataFrame(
        [(k, " ".join(words[3 * k:3 * k + 60]), "en", "s", 0)
         for k in range(12)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    n_docs = _dedup_jobs(spark, docs, "dedup-jobs-docs")
    n_chain = _dedup_jobs(spark, spark.createDataFrame(chain),
                          "dedup-jobs-chain")
    assert n_docs <= 12, n_docs
    assert n_docs == n_chain, (n_docs, n_chain)


def test_train_split_deterministic_and_proportioned(spark, docs):
    out1 = textops.train_split(docs, 10, 10).toPandas()
    out2 = textops.train_split(docs, 10, 10).toPandas()
    pd.testing.assert_frame_equal(
        out1.sort_values("doc_id").reset_index(drop=True),
        out2.sort_values("doc_id").reset_index(drop=True))
    assert set(out1["split"]) <= {"train", "val", "test"}
    assert (out1["bucket"] < 100).all() and (out1["bucket"] >= 0).all()
    # buckets decide splits consistently
    assert ((out1["bucket"] < 10) == (out1["split"] == "test")).all()


def test_source_quota_caps_per_source(spark):
    pdf = pd.DataFrame(
        [(i, "t", "en", "big" if i < 40 else "small", 0) for i in range(50)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    out = textops.source_quota(spark.createDataFrame(pdf), cap=5).toPandas()
    counts = out.groupby("source")["doc_id"].count()
    assert counts["big"] == 5 and counts["small"] == 5
    # deterministic: lowest doc_ids kept
    assert sorted(out[out["source"] == "big"]["doc_id"]) == list(range(5))


def test_source_quota_two_phase_no_mega_source_straggler(spark):
    """r5 (VERDICT r04 What's-wrong #1): the quota must NOT route a
    mega-source's full row set through one task. Phase 1's exchange
    partitions on (source, shard) — explain-gated — and the result is
    identical to the single-window semantics for any shard count."""
    # one mega-source (90% of rows) + a tail of small sources
    pdf = pd.DataFrame(
        [(i, "t", "en", "mega" if i % 10 else f"s{i}", 0)
         for i in range(500)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    docs = spark.createDataFrame(pdf)
    out = textops.source_quota(docs, cap=7, shards=8)

    # phase-1 exchange keyed by (source, shard): the mega-source spreads
    # over 8 tasks before any rn filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert "_shard" in plan, plan[:2000]
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_shard" in e and "source" in e for e in exchanges), exchanges

    # exact: equals the single-window form, shard count irrelevant
    got = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    w = pdf[pdf["source"] == "mega"].nsmallest(7, "doc_id")["doc_id"]
    assert sorted(got[got["source"] == "mega"]["doc_id"]) == sorted(w)
    for s in ("s20", "s30"):
        assert got[got["source"] == s]["rn"].tolist() == [1]
    got2 = (textops.source_quota(docs, cap=7, shards=3).toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, got2)


def test_new_ops_prune_columns_at_scan(spark):
    """Plan quality: split/quota must push column pruning to the parquet
    scan — corpus tables are wide (text dominates bytes); an assignment
    op that drags `text` through the scan reads the whole corpus for a
    two-column answer."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for op, needed, banned in [
        (textops.train_split(docs), "doc_id", "text"),
        (textops.source_quota(docs), "source", "text"),
        # text ops must still prune the columns they DON'T need
        (textops.repetition_scores(docs), "text", "source"),
        (textops.boilerplate_scrub(docs), "text", "lang"),
        (textops.corpus_mix(docs, 1000.0, {"a": 1.0}), "source", "lang"),
        (textops.pii_scrub(docs), "text", "n_chars"),
        (textops.length_quantiles(docs), "n_chars", "text"),
        (textops.top_terms(docs), "text", "n_chars"),
    ]:
        plan = op._jdf.queryExecution().executedPlan().toString()
        schemas = __import__("re").findall(r"ReadSchema[^\n]*", plan)
        assert schemas, plan  # a render change must fail loudly, not gate nothing
        for rs in schemas:
            assert needed in rs and banned not in rs, rs


def test_corpus_stats_rollup_levels(spark, docs):
    out = textops.corpus_stats(docs).toPandas()
    total = out[(out["lang"] == "(all)") & (out["source"] == "(all)")]
    assert len(total) == 1
    n_docs = docs.count()
    assert int(total["n_docs"].iloc[0]) == n_docs
    # per-lang level sums to the total; (lang, source) level agrees
    lang_lvl = out[(out["lang"] != "(all)") & (out["source"] == "(all)")]
    assert int(lang_lvl["n_docs"].sum()) == n_docs
    leaf = out[(out["lang"] != "(all)") & (out["source"] != "(all)")]
    assert int(leaf["n_docs"].sum()) == n_docs
    assert int(total["n_tokens"].iloc[0]) == int(leaf["n_tokens"].sum())


def test_embedding_dup_clusters_components(spark):
    """Vector twin of dedup_clusters: planted near-identical embeddings
    collapse to one component keyed by min vec_id."""
    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, 64)
    rows = []
    for i in range(30):
        rows.append((i, (rng.normal(0, 1, 64)).tolist(), 0))
    # 100 ~ 101 ~ 102: same direction, tiny jitter
    for j, vid in enumerate((100, 101, 102)):
        rows.append((vid, (base + rng.normal(0, 0.01, 64)).tolist(), 1))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]))
    out = similarity.embedding_dup_clusters(
        emb, threshold=0.9, bits=6, tables=4).toPandas()
    assert len(out) == 33
    by_id = out.set_index("vec_id")
    assert by_id.loc[100, "cluster_id"] == 100
    assert by_id.loc[101, "cluster_id"] == 100
    assert by_id.loc[102, "cluster_id"] == 100
    assert bool(by_id.loc[100, "is_keeper"]) and not bool(by_id.loc[101, "is_keeper"])


def test_media_features_decoder_swap_seam(spark):
    """The decoder is a closure-captured parameter: an injected
    implementation must reach the Python workers (module monkeypatching
    would not — workers re-import the module). A constant-decoder fake
    must flow through to the features end-to-end."""
    pdf = pd.DataFrame({"doc_id": [1, 2], "media_type": ["image", "audio"],
                        "payload": [b"abc", b"defg"]})
    media = spark.createDataFrame(pdf)

    def fake_decoder(payload, media_type):
        return np.full(4, float(len(payload)))

    out = (multimodal.media_features(media, decoder=fake_decoder)
           .toPandas().set_index("doc_id"))
    assert out.loc[1, "feature"][0] == 3.0 and out.loc[1, "feature"][1] == 0.0
    assert out.loc[2, "feature"][0] == 4.0
    assert out.loc[1, "n_bytes"] == 3
    # default stub still runs (deterministic fake pixels)
    dflt = multimodal.media_features(media).toPandas()
    assert len(dflt) == 2


def _bmp_bytes(rgb: np.ndarray) -> bytes:
    """Hand-assembled uncompressed 24-bit BI_RGB BMP from an HxWx3 uint8
    RGB array (top-down logical order): rows stored bottom-up, BGR,
    4-byte padded — the real container layout."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in rgb[::-1]:                      # bottom-up
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])  # BGR
        line += b"\x00" * (stride - len(line))
        body += line
    off = 14 + 40
    header = (b"BM" + (off + len(body)).to_bytes(4, "little")
              + b"\x00" * 4 + off.to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little") + h.to_bytes(4, "little")
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
              + b"\x00" * 16)
    return bytes(header) + bytes(body)


def _wav_bytes(samples: list[int]) -> bytes:
    """Hand-assembled RIFF/WAVE PCM-16 mono container, with a decoy LIST
    chunk between fmt and data (the chunk walk must skip it)."""
    data = b"".join(int(s).to_bytes(2, "little", signed=True)
                    for s in samples)
    fmt = ((1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    chunks = (b"fmt " + len(fmt).to_bytes(4, "little") + fmt
              + b"LIST" + (4).to_bytes(4, "little") + b"INFO"
              + b"data" + len(data).to_bytes(4, "little") + data)
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_numpy_decoder_real_formats_end_to_end(spark):
    """r5 (VERDICT r04 next-round #7): the multimodal seam carries a REAL
    no-library decoder — uncompressed BMP and PCM WAV parsed in pure
    numpy — exercised end-to-end through media_features on hand-
    computable fixtures."""
    rgb = np.array([[[255, 0, 0], [0, 128, 0], [0, 0, 64]],
                    [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
                   dtype=np.uint8)  # 2 rows × 3 cols (stride padding hits)
    wav_samples = [-32768, -2, 0, 5, 100, 32767]

    # decode functions directly: exact sample recovery, exact order
    px = multimodal.decode_bmp(_bmp_bytes(rgb))
    assert px.tolist() == rgb.astype(np.float64).ravel().tolist()
    au = multimodal.decode_wav(_wav_bytes(wav_samples))
    assert au.tolist() == [float(s) for s in wav_samples]

    # end-to-end through the Spark seam: features = stats of REAL samples
    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "media_type": ["image", "audio"],
                        "payload": [_bmp_bytes(rgb), _wav_bytes(wav_samples)]})
    out = (multimodal.media_features(spark.createDataFrame(pdf),
                                     decoder=multimodal.numpy_decoder)
           .toPandas().set_index("doc_id"))
    flat = rgb.astype(np.float64).ravel()
    np.testing.assert_allclose(
        out.loc[1, "feature"],
        [flat.mean(), flat.std(), flat.min(), flat.max()])
    aud = np.asarray(wav_samples, dtype=np.float64)
    np.testing.assert_allclose(
        out.loc[2, "feature"],
        [aud.mean(), aud.std(), aud.min(), aud.max()])

    # loud on everything outside the native container class
    with pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_bmp(b"nope")
    with pytest.raises(ValueError, match="unsupported BMP"):
        bad = bytearray(_bmp_bytes(rgb))
        bad[30] = 1  # compression = BI_RLE8
        multimodal.decode_bmp(bytes(bad))
    with pytest.raises(ValueError, match="unsupported WAV"):
        bad = bytearray(_wav_bytes(wav_samples))
        bad[20] = 3  # fmt chunk body: audio_format = IEEE float
        multimodal.decode_wav(bytes(bad))
    with pytest.raises(NotImplementedError):
        multimodal.numpy_decoder(b"x", "video")


def test_decode_wav_rejects_truncated_data_chunk():
    """review r5: a data chunk whose declared size overruns the payload is
    a cut-off transfer — must raise, never return partial samples."""
    full = _wav_bytes([1, 2, 3, 4, 5, 6, 7, 8])
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        multimodal.decode_wav(full[:-6])  # cut mid-data


def test_decoders_reject_wave2_malformed_containers():
    """review r5 wave 2: odd-length 16-bit WAV data, a BMP pixel offset
    inside the header, and a zero-height BMP are all loud errors — never
    silently-partial or empty sample arrays."""
    odd = bytearray(_wav_bytes([1, 2, 3]))
    # shrink the data chunk declaration and payload by one byte (odd)
    assert odd[-8:-6] == (6).to_bytes(2, "little") or True
    # rebuild precisely: declare 5 bytes of data
    data_sz_at = len(odd) - 6 - 4
    odd[data_sz_at:data_sz_at + 4] = (5).to_bytes(4, "little")
    riff = bytearray(odd[:-1])
    riff[4:8] = (len(riff) - 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="odd data-chunk"):
        multimodal.decode_wav(bytes(riff))

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    bad_off = bytearray(_bmp_bytes(rgb))
    bad_off[10:14] = (0).to_bytes(4, "little")  # offset inside header
    with pytest.raises(ValueError, match="malformed BMP"):
        multimodal.decode_bmp(bytes(bad_off))
    bad_h = bytearray(_bmp_bytes(rgb))
    bad_h[22:26] = (0).to_bytes(4, "little", signed=False)  # height 0
    with pytest.raises(ValueError, match="malformed BMP"):
        multimodal.decode_bmp(bytes(bad_h))


def test_decontaminate_flags_planted_overlap(spark):
    """Benchmark decontamination: a doc copying an eval-set phrase is
    flagged; clean docs and sub-shingle docs report zero hits."""
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [9000],
        "text": ["the capital of france is paris and it is large"],
        "lang": "en", "source": "eval", "n_chars": 0}))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["students wrote that the capital of france is paris today",
                 "completely unrelated text about gardening and tomatoes here",
                 "two words"],
        "lang": "en", "source": "web", "n_chars": 0}))
    out = (textops.decontaminate(docs, bench).toPandas()
           .set_index("doc_id"))
    assert bool(out.loc[1, "contaminated"]) and out.loc[1, "n_hits"] >= 3
    assert not bool(out.loc[2, "contaminated"]) and out.loc[2, "n_hits"] == 0
    assert out.loc[3, "n_hits"] == 0  # < 3 words → no shingles at all
    assert len(out) == 3              # every input doc gets a row


def test_pack_sequences_hand_computed_and_distributed_window(spark):
    """Concat-then-chunk packing: hand-computed offsets/chunks, a doc
    spanning a chunk boundary, a zero-token doc, and block boundaries
    exercised (ids straddle PACK_BLOCK). Plan gate: the per-doc prefix
    sum partitions by block — no global window over the doc table."""
    B = textops.PACK_BLOCK
    rows = [(0, "a " * 5), (1, ""), (2, "b " * 4),   # 5, 0, 4 tokens
            (B + 1, "c " * 3), (2 * B + 7, "d " * 6)]
    docs = spark.createDataFrame(
        pd.DataFrame([(i, t.strip(), "en", "s", 0) for i, t in rows],
                     columns=["doc_id", "text", "lang", "source", "n_chars"]))
    out = textops.pack_sequences(docs, ctx_len=4)
    got = out.toPandas().set_index("doc_id").sort_index()
    # stream: doc0 tokens [0,5) → chunks 0-1; doc1 [5,5) zero → chunk 1;
    # doc2 [5,9) → chunks 1-2; doc(B+1) [9,12) → chunk 2;
    # doc(2B+7) [12,18) → chunks 3-4
    assert got["start_offset"].tolist() == [0, 5, 5, 9, 12]
    assert got["first_chunk"].tolist() == [0, 1, 1, 2, 3]
    assert got["last_chunk"].tolist() == [1, 1, 2, 2, 4]

    import re
    plan = out._jdf.queryExecution().executedPlan().toString()
    doc_windows = [s for s in
                   re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
                   if "doc_id" in s]
    assert doc_windows and all("_blk" in s for s in doc_windows), doc_windows


def test_pack_sequences_sparse_ids_bounded_blocks(spark, monkeypatch):
    """Hash-sparse 64-bit doc_ids must not degenerate to one block per
    doc (r5 review: a fixed `div PACK_BLOCK` made the offsets table
    O(n_docs) — a single-task window plus an O(n_docs) broadcast).
    PACK_BLOCK is forced to 2 so nine ids spanning 2^60 must land in
    <= ceil(9/2) = 5 distinct blocks (observed via the operator's own
    block expression), and the packing output must equal the global
    prefix sum — blocking is invisible in the result."""
    import math

    from pyspark.sql import functions as F

    monkeypatch.setattr(textops, "PACK_BLOCK", 2)
    ids = [3, 2**20 + 1, 2**31, 2**40 + 5, 2**45, 2**50 + 9,
           2**55, 2**60, 2**60 + 12345]
    rows = [(i, ("w " * k).strip()) for k, i in enumerate(ids, start=1)]
    docs = spark.createDataFrame(
        pd.DataFrame([(i, t, "en", "s", 0) for i, t in rows],
                     columns=["doc_id", "text", "lang", "source",
                              "n_chars"]))
    n_blocks = (docs.crossJoin(F.broadcast(textops._pack_stats(docs)))
                .select(textops._pack_block_expr().alias("b"))
                .distinct().count())
    assert n_blocks <= math.ceil(len(ids) / textops.PACK_BLOCK)

    got = (textops.pack_sequences(docs, ctx_len=4).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    # tokens are 1..9 in doc_id order → exclusive prefix sums
    cums, acc = [], 0
    for k in range(1, 10):
        cums.append(acc)
        acc += k
    assert got["start_offset"].tolist() == cums
    assert got["n_tokens"].tolist() == list(range(1, 10))
    assert got["last_chunk"].tolist() == [
        (c + k - 1) // 4 for c, k in zip(cums, range(1, 10))]


def test_pii_scrub_counts_and_redacts(spark):
    """PII redaction: planted emails/phones are counted and replaced
    (emails first — pinned order); clean text hashes match a hand redaction."""
    import hashlib
    texts = [
        "contact alice@example.com or bob.smith+x@sub.domain.org today",
        "call 555-123-4567 or 555.987.6543 now",
        "mixed: c@d.io and 111-222-3333",
        "no pii here at all",
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        columns=["doc_id", "text", "lang", "source", "n_chars"]))
    out = textops.pii_scrub(docs).toPandas().set_index("doc_id")
    assert out["n_emails"].tolist() == [2, 0, 1, 0]
    assert out["n_phones"].tolist() == [0, 2, 1, 0]
    import re
    for i, t in enumerate(texts):
        clean = re.sub(textops.PII_PHONE, "<PHONE>",
                       re.sub(textops.PII_EMAIL, "<EMAIL>", t))
        assert out.loc[i, "clean_sha"] == hashlib.md5(
            clean.encode()).hexdigest(), (i, clean)


def test_repetition_scores_hand_computed(spark):
    """Gopher-style repetition rules on hand-computable docs: duplicate
    non-empty lines, a dominant bigram, a one-word doc (no bigrams) and
    an all-blank doc (zero lines). Fractions are round(·, 6) like the op."""
    texts = [
        "spam spam\nspam spam\n\n  \nunique line",   # 3 non-empty, 2 distinct
        "a b c d",                                   # bigrams: ab bc cd (all 1)
        "go go go go go",                            # "go go" ×4 of 4 bigrams
        "word",                                      # 1 token → no bigrams
        "\n  \n\t\n",                # tab survives trim (spaces only) → 1 line
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        columns=["doc_id", "text", "lang", "source", "n_chars"]))
    out = textops.repetition_scores(docs).toPandas().set_index("doc_id")
    assert out["n_lines"].tolist() == [3, 1, 1, 1, 1]
    assert out["dup_line_frac"].tolist() == [
        round(1 - 2 / 3, 6), 0.0, 0.0, 0.0, 0.0]
    # doc0 bigrams: "spam spam"×2, "spam unique"? no — per-doc bigrams span
    # newlines after whitespace-split: spam spam | spam spam | spam unique |
    # unique line → top "spam spam" 2/4... recompute precisely below.
    import collections
    import re as _re
    for i, t in enumerate(texts):
        # engine semantics: trim strips spaces only; regex split keeps
        # leading/trailing empty fields (Spark and DuckDB both do)
        words = _re.split(r"\s+", t.lower().strip(" "))
        bgs = [" ".join(words[j:j + 2]) for j in range(len(words) - 1)]
        want = (round(max(collections.Counter(bgs).values()) / len(bgs), 6)
                if bgs else 0.0)
        assert out.loc[i, "top_bigram_frac"] == pytest.approx(want, abs=1e-9), i


def test_boilerplate_scrub_removes_cross_doc_lines(spark):
    """Planted nav/footer lines shared by >= min_docs documents are
    stripped from every doc; unique and blank lines survive; clean_sha
    matches a hand reconstruction; a doc that is ALL boilerplate hashes
    to md5(''). Join-side check: the per-line verdict never broadcasts
    the full line text back (hash-keyed)."""
    import hashlib
    nav, foot = "Home | About | Contact", "(c) 2026 Example Corp"
    texts = [
        f"{nav}\nalpha article body\n\n{foot}",
        f"{nav}\nbeta totally different\n{foot}",
        f"{nav}\n{foot}",                       # all boilerplate
        "standalone page with no chrome",
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        columns=["doc_id", "text", "lang", "source", "n_chars"]))
    out = (textops.boilerplate_scrub(docs, min_docs=2)
           .toPandas().set_index("doc_id").sort_index())
    assert out["n_lines"].tolist() == [4, 3, 2, 1]
    assert out["n_removed"].tolist() == [2, 2, 2, 0]
    cleaned = ["alpha article body\n", "beta totally different",
               "", "standalone page with no chrome"]
    for i, want in enumerate(cleaned):
        assert out.loc[i, "clean_sha"] == hashlib.md5(
            want.encode()).hexdigest(), (i, want)


def test_boilerplate_hot_line_salted_join_engine_owned(spark):
    """VERDICT r05 #3 watch item: a planet-hot boilerplate line must not
    depend on session AQE config to dodge a one-partition straggler. A
    fixture where one line appears in ~30% of docs: (a) salted output ==
    salt_mod=1 output (each probe row matches exactly one verdict
    replica), (b) the verdict join-back is keyed by the salt columns —
    engine-owned spread, whatever spark.sql.adaptive says."""
    import re
    rows = []
    for i in range(60):
        body = f"unique body {i}\nmore text {i * 7}"
        if i % 3 == 0:                     # hot line in ~33% of docs
            body = "Privacy Policy\n" + body
        rows.append((i, body, "en", "s", 0))
    docs = spark.createDataFrame(pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]))
    salted_df = textops.boilerplate_scrub(docs, min_docs=2, salt_mod=16)
    salted = (salted_df.toPandas().sort_values("doc_id")
              .reset_index(drop=True))
    plain = (textops.boilerplate_scrub(docs, min_docs=2, salt_mod=1)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(salted, plain)
    assert (salted.loc[salted.doc_id % 3 == 0, "n_removed"] >= 1).all()

    # plan gate in the NON-broadcast regime: at 100 TB the verdict set
    # (one row per distinct boilerplate line) exceeds any broadcast
    # threshold, so the path that must be salt-keyed is the shuffle
    # join; the tiny fixture only reaches it with auto-broadcast off
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (textops.boilerplate_scrub(docs, min_docs=2, salt_mod=16)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    joins = re.findall(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    joins += re.findall(r"ShuffledHashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert any("_salt" in a and "_salt" in b for a, b in joins), plan[:3000]


def test_corpus_mix_weighted_hand_computed_and_sharded_window(spark):
    """Weighted mixing on a hand-computable fixture: selection follows the
    md5(doc_id) priority order per source, the budget-crossing doc is
    included (pinned greedy-include), a zero-weight source selects
    nothing. Plan gate: the per-doc prefix-sum window partitions by
    (source, _blk) — no whole-source window (mega-source straggler)."""
    import hashlib
    rows = [(i, "tok " * 10, "a") for i in range(6)]          # 10 tokens each
    rows += [(10 + i, "tok " * 4, "b") for i in range(3)]     # 4 tokens each
    rows += [(20, "tok " * 99, "zero")]
    docs = spark.createDataFrame(pd.DataFrame(
        [(i, t.strip(), "en", s, 0) for i, t, s in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"]))
    out = (textops.corpus_mix(docs, budget_tokens=100,
                              weights={"a": 0.25, "b": 0.10})
           .toPandas().set_index("doc_id").sort_index())
    # reference: greedy in md5 order, budget a=25 (→ 3 docs of 10: the
    # crossing doc at cum_before 20 is included), b=10 (→ 3 docs of 4)
    for src, ids, per in [("a", list(range(6)), 10), ("b", [10, 11, 12], 4)]:
        order = sorted(ids, key=lambda i: hashlib.md5(str(i).encode())
                       .hexdigest())
        budget = {"a": 25, "b": 10}[src]
        cum = 0
        for i in order:
            assert out.loc[i, "cum_before"] == cum, i
            assert bool(out.loc[i, "selected"]) == (cum < budget), i
            cum += per
    assert not out.loc[20, "selected"]          # weight 0.0 → nothing
    assert out["selected"].sum() == 6           # 3 from a + 3 from b

    import re
    plan = (textops.corpus_mix(docs, budget_tokens=100, weights={"a": 1.0})
            ._jdf.queryExecution().executedPlan().toString())
    doc_windows = [s for s in
                   re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
                   if "_h" in s and "doc_id" in s]
    assert doc_windows and all("_blk" in s for s in doc_windows), doc_windows


def test_corpus_mix_adaptive_block_key_mega_source(spark):
    """VERDICT r05 #1 gate: the block key adapts to source size.

    (a) Boundary invariance — a mega source blocked at block_docs=32
        produces cum_before/selected hash-identical to single-block
        (block_docs=10^9), for every source including a tiny one that
        collapses to prefix length 0.
    (b) Adaptivity — at block_docs=32 the 600-doc source's prefix
        length is ceil(log16(ceil(600/32))) = 2, and the resulting
        md5-prefix buckets (deterministic, recomputed here) spread the
        source so no single window task sees more than ~5% of it —
        the fixed-256-blocks-per-source straggler is gone because the
        prefix LENGTH now grows with the source."""
    import hashlib
    import math
    rows = [(i, "tok " * 5, "en", "mega", 0) for i in range(600)]
    rows += [(1000 + i, "tok " * 3, "en", "tiny", 0) for i in range(3)]
    docs = spark.createDataFrame(pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]))
    kw = dict(budget_tokens=900.0, weights={"mega": 0.9, "tiny": 0.1})
    small = (textops.corpus_mix(docs, block_docs=32, **kw)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    one = (textops.corpus_mix(docs, block_docs=10**9, **kw)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(small, one)

    nblk = math.ceil(600 / 32)
    plen = math.ceil(math.log(nblk, 16))
    assert plen == 2
    from collections import Counter
    buckets = Counter(hashlib.md5(str(i).encode()).hexdigest()[:plen]
                      for i in range(600))
    assert max(buckets.values()) <= 600 * 0.05, max(buckets.values())


def test_length_quantiles_histogram_no_percentile_buffer(spark):
    """VERDICT r05 #2 gate: the histogram form (a) equals Spark's exact
    `percentile` bit-for-bit on a fixture with nulls, ties, and a
    single-doc group, and (b) leaves NO exact-percentile aggregate in
    the physical plan (the per-group value-multiset buffer that OOMs a
    10^11-value language at 100 TB)."""
    rows = [(i, "t", "en", "s", [5, 5, 7, 100, 3, 7][i % 6])
            for i in range(25)]
    rows += [(100, "t", "solo", "s", 42),
             (101, "t", "nul", "s", None), (102, "t", "nul", "s", None),
             (103, "t", "en", "s", None)]
    from pyspark.sql import functions as F
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    docs = spark.createDataFrame(pdf).withColumn(
        "n_chars", F.col("n_chars").cast("long"))
    out = (textops.length_quantiles(docs)
           .toPandas().set_index("lang").sort_index())
    direct = (docs.groupBy("lang")
              .agg(F.count("*").alias("n_docs"),
                   *[F.round(F.percentile(F.col("n_chars").cast("double"),
                                          F.lit(p)), 6).alias(n)
                     for n, p in [("p50", .5), ("p90", .9), ("p99", .99)]])
              .toPandas().set_index("lang").sort_index())
    pd.testing.assert_frame_equal(out, direct)
    assert out.loc["nul"].isna()[["p50", "p90", "p99"]].all()

    plan = (textops.length_quantiles(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "percentile" not in plan.lower(), plan[:2000]


def test_length_quantiles_matches_numpy(spark):
    pdf = pd.DataFrame(
        [(i, "t", "en" if i % 2 else "de", "s", (i * 37) % 101 + 10)
         for i in range(60)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    out = (textops.length_quantiles(spark.createDataFrame(pdf))
           .toPandas().set_index("lang"))
    import numpy as np
    for lg, g in pdf.groupby("lang"):
        assert out.loc[lg, "n_docs"] == len(g)
        for col, p in [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]:
            # same continuous-interpolation definition as numpy 'linear'
            want = round(float(np.quantile(g.n_chars.astype(float), p)), 6)
            assert out.loc[lg, col] == pytest.approx(want, abs=1e-6), (lg, col)


def test_top_terms_exact_and_shard_invariant(spark):
    """The two-phase heavy-hitter rank equals the single-window form for
    any shard count, with (count desc, term asc) tie order, and no
    per-language vocab ever funnels through one task (phase-1 exchange
    keyed by (lang, shard) — explain-gated, the source_quota pattern)."""
    rows = []
    for i in range(40):
        # 'zz' dominates, then 'bb' and 'aa' tie, then unique junk
        rows.append((i, f"zz zz bb aa junk{i}", "en", "s", 0))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    docs = spark.createDataFrame(pdf)
    out = textops.top_terms(docs, k=3, shards=8)

    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_shard" in e and "lang" in e for e in exchanges), exchanges

    got = out.toPandas().sort_values("rk").reset_index(drop=True)
    assert got["term"].tolist() == ["zz", "aa", "bb"]  # tie: aa < bb
    assert got["n"].tolist() == [80, 40, 40]
    got2 = (textops.top_terms(docs, k=3, shards=1).toPandas()
            .sort_values("rk").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, got2)


def test_substring_dup_spans_hand_fixture_salted_and_plan_gated(spark):
    """r6 operator: cross-doc exact duplicate substring spans.

    Hand-computed: docs 0/1 share a 10-word prefix -> dup word-8-gram
    shingles at pos 1..3 -> ONE maximal span [1, 10] with 3 shingles;
    docs 3/4 share two DISJOINT 8-word regions (positions 1-8 and
    12-19) separated by differing filler -> TWO spans, break because
    12 > 1 + 8; doc 2 is fully unique -> no row. Salting is output-
    invariant, and in the non-broadcast regime the verdict join-back is
    keyed by the salt columns (engine-owned hot-shingle spread)."""
    import re
    shared10 = "a b c d e f g h i j"
    s1 = "p q r s t u v w"
    s2 = "k l m n o aa bb cc"
    rows = [
        (0, f"{shared10} unique0 x0 y0", "en", "s", 0),
        (1, f"{shared10} unique1 z1 w1", "en", "s", 0),
        (2, "totally distinct words nothing repeats here at all "
            "ever once more", "en", "s", 0),
        (3, f"{s1} u3a u3b u3c {s2}", "en", "s", 0),
        (4, f"{s1} u4a u4b u4c {s2}", "en", "s", 0),
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]))
    got = (textops.substring_dup_spans(docs, k=8, min_docs=2)
           .toPandas().sort_values(["doc_id", "span_start"])
           .reset_index(drop=True))
    want = pd.DataFrame(
        [(0, 1, 10, 3), (1, 1, 10, 3),
         (3, 1, 8, 1), (3, 12, 19, 1),
         (4, 1, 8, 1), (4, 12, 19, 1)],
        columns=["doc_id", "span_start", "span_end", "n_shingles"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    plain = (textops.substring_dup_spans(docs, k=8, min_docs=2, salt_mod=1)
             .toPandas().sort_values(["doc_id", "span_start"])
             .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, plain, check_dtype=False)

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (textops.substring_dup_spans(docs, k=8, min_docs=2)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    joins = re.findall(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    joins += re.findall(r"ShuffledHashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert any("_salt" in a and "_salt" in b for a, b in joins), plan[:3000]


def test_substring_scrub_keep_first_hand_fixture(spark):
    """r6 apply-form: Lee et al. keep-first exact-substring dedup. Same
    fixture as the spans test: the keeper of every duplicated shingle is
    its min-(doc_id, pos) occurrence, so docs 0 and 3 keep their text
    verbatim while docs 1 and 4 lose the shared regions; doc 2 is
    untouched. clean_sha values are hand-computed md5s of the surviving
    space-joined tokens; salting is output-invariant."""
    import hashlib
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    shared10 = "a b c d e f g h i j"
    s1 = "p q r s t u v w"
    s2 = "k l m n o aa bb cc"
    texts = {
        0: f"{shared10} unique0 x0 y0",
        1: f"{shared10} unique1 z1 w1",
        2: "totally distinct words nothing repeats here at all ever "
           "once more",
        3: f"{s1} u3a u3b u3c {s2}",
        4: f"{s1} u4a u4b u4c {s2}",
    }
    docs = spark.createDataFrame(pd.DataFrame(
        [(i, t, "en", "s", 0) for i, t in texts.items()],
        columns=["doc_id", "text", "lang", "source", "n_chars"]))
    got = (textops.substring_scrub(docs, k=8, min_docs=2)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = pd.DataFrame(
        [(0, 13, 0, md5(texts[0])),
         (1, 13, 10, md5("unique1 z1 w1")),
         (2, 11, 0, md5(texts[2])),
         (3, 19, 0, md5(texts[3])),
         (4, 19, 16, md5("u4a u4b u4c"))],
        columns=["doc_id", "n_tokens", "n_removed", "clean_sha"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    plain = (textops.substring_scrub(docs, k=8, min_docs=2, salt_mod=1)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, plain, check_dtype=False)
