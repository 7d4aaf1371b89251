"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing (SURVEY.md-adjacent; task mandate).

Brute-force numpy/python oracles on small data; thresholds are exercised
on the driver documents/embeddings fixtures."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from cpp_parquet_spark import dedup, multimodal, quantize, similarity, textops


# Both fixtures unpersist at module end: while a cache of a file lives,
# Spark serves every later read of that file from it, in other modules
# too, and that changes their plans (a union over a cached leaf runs
# its shuffle once per branch).
@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield df
    df.unpersist()


# ---------------------------------------------------------------------------
# textops
# ---------------------------------------------------------------------------

def test_token_stats_formula(spark, docs):
    rows = textops.token_stats(docs).orderBy("doc_id").limit(20).collect()
    src = {r["doc_id"]: r["text"] for r in
           docs.orderBy("doc_id").limit(20).collect()}
    import re
    for r in rows:
        t = src[r["doc_id"]]
        ws = len(t.strip().split())
        assert r["ws_tokens"] == ws
        assert r["bpe_tokens"] == len(re.findall(textops.BPE_RE, t))
        assert r["n_chars_m"] == len(t)
        expect = round(len(re.sub(r"\s+", "", t)) / ws, 6)
        assert abs(r["avg_ws_token_len"] - expect) < 1e-9


def test_quality_bounds_and_formula(docs):
    rows = textops.quality(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["alpha_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["quality_bucket"] in ("high", "medium", "low")


def test_lang_id_deterministic_scores(docs):
    out = textops.lang_id(docs)
    rows = out.collect()
    langs = set(textops.LANG_MARKERS) | {"und"}
    for r in rows:
        assert r["pred_lang"] in langs
        best = max(r[f"score_{lg}"] for lg in textops.LANG_MARKERS)
        if best == 0:
            assert r["pred_lang"] == "und"
        else:
            assert r[f"score_{r['pred_lang']}"] == best


def _py_shingle_hash(s: str, width: int = 4) -> int:
    # out-of-range positions contribute ascii('') == 0, like the SQL
    h = ord(s[0]) if s else 0
    for j in range(1, width):
        h = (h * textops.FP_BASE
             + (ord(s[j]) if j < len(s) else 0)) % textops.FP_MOD
    return h


def test_fingerprint_matches_python(docs):
    rows = textops.fingerprint(docs).orderBy("doc_id").limit(10).collect()
    src = {r["doc_id"]: r["text"] for r in
           docs.orderBy("doc_id").limit(10).collect()}
    for r in rows:
        t = src[r["doc_id"]][:512]
        hs = [_py_shingle_hash(t[i:i + 4])
              for i in range(max(len(t) - 3, 1))]
        assert r["md5_full"] == hashlib.md5(
            src[r["doc_id"]].encode()).hexdigest()
        assert r["min_shingle_h"] == min(hs)
        assert r["max_shingle_h"] == max(hs)


def test_fingerprint_numpy_equals_sql(spark):
    """The vectorized Arrow kernel and the SQL-expression reference path
    must agree bit-for-bit — including empty, shorter-than-shingle,
    multibyte and codepoint-boundary texts."""
    rows = [(0, ""), (1, "a"), (2, "ab"), (3, "abc"), (4, "abcd"),
            (5, "héllo wörld ÿĀ ünïcode"), (6, "日本語テキスト"),
            (7, "x" * 600), (8, "the quick brown fox " * 40),
            (9, "\t\n mixed \x0b ws \r\f"), (10, "߿ࠀ￿"),
            (11, "astral \U0001F600\U0001F680 pair \U00010000 end")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r for r in
         textops.fingerprint(df, impl="numpy").collect()}
    b = {r["doc_id"]: r for r in
         textops.fingerprint(df, impl="sql").collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["md5_full"] == b[k]["md5_full"], k
        assert a[k]["min_shingle_h"] == b[k]["min_shingle_h"], k
        assert a[k]["max_shingle_h"] == b[k]["max_shingle_h"], k


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def _with_dupes(spark, docs):
    """documents plus two exact copies and one near-copy of doc 0."""
    base = docs.select("doc_id", "text", "lang", "source")
    r0 = base.filter(F.col("doc_id") == 0).collect()[0]
    extra = spark.createDataFrame(
        [(9001, r0["text"], r0["lang"], r0["source"]),
         (9002, r0["text"], r0["lang"], r0["source"]),
         (9003, r0["text"] + " tail", r0["lang"], r0["source"])],
        "doc_id long, text string, lang string, source string")
    return base.unionByName(extra)


def test_exact_dedup(spark, docs):
    df = _with_dupes(spark, docs)
    total = df.count()
    surv = dedup.exact_survivors(df)
    assert surv.count() == total - 2          # two exact copies removed
    assert surv.filter(F.col("doc_id").isin(9001, 9002)).count() == 0
    assert surv.filter(F.col("doc_id") == 9003).count() == 1
    st = dedup.exact_stats(df).agg(F.sum("n_removed")).collect()[0][0]
    assert st == 2


def _brute_jaccard(a: str, b: str, n: int = 3, prefix: int = 512) -> float:
    sa = {a[:prefix][i:i + n] for i in range(max(len(a[:prefix]) - n + 1, 1))}
    sb = {b[:prefix][i:i + n] for i in range(max(len(b[:prefix]) - n + 1, 1))}
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_vs_brute(spark, docs):
    df = _with_dupes(spark, docs)
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.6,
                                      max_gram_df=None).collect()
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    # the injected pairs must be found with the exact brute-force value
    for pair in [(0, 9001), (0, 9002), (0, 9003), (9001, 9002)]:
        assert pair in got
        assert abs(got[pair] -
                   _brute_jaccard(texts[pair[0]], texts[pair[1]])) < 1e-6
    # and every reported value is the true jaccard
    for (ia, ib), j in got.items():
        assert abs(j - _brute_jaccard(texts[ia], texts[ib])) < 1e-6


def test_ngram_df_cap_drops_boilerplate(spark):
    """A corpus-wide boilerplate prefix (license header) shared by every
    doc must not drive the intersect join quadratic: with max_gram_df set,
    its grams are dropped from every shingle set, the true near-dup pair
    is still found, and unrelated docs that share ONLY boilerplate stop
    surfacing as candidates at all."""
    boiler = "// SPDX-License-Identifier: MIT * copyright (c) 2026 " * 4
    uniq = [f"def fn_{i}(x): return x * {i} + {i * 7} # {i}~uniq" * 4
            for i in range(40)]
    rows = [(i, boiler + u, "s") for i, u in enumerate(uniq)]
    rows.append((1000, boiler + uniq[0] + "tail", "s"))  # near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                       max_gram_df=5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (0, 1000) in got                  # true pair survives the cap
    assert got[(0, 1000)] > 0.5
    # brute-force check of the capped semantics: Jaccard over the grams
    # retained after the document-frequency filter
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    sets = {i: {t[:512][p:p + 3]
                for p in range(max(len(t[:512]) - 2, 1))}
            for i, t in texts.items()}
    from collections import Counter
    dfreq = Counter(g for s in sets.values() for g in s)
    kept = {i: {g for g in s if dfreq[g] <= 5} for i, s in sets.items()}
    for (ia, ib), j in got.items():
        expect = len(kept[ia] & kept[ib]) / len(kept[ia] | kept[ib])
        assert abs(j - expect) < 1e-6
    # scale guard: the boilerplate-only pairs are gone (uncapped would
    # emit O(n^2) candidate rows through the shared grams)
    assert all(ib == 1000 and ia == 0 for ia, ib in got)


def test_ngram_default_cap_bounds_skew(spark):
    """The DEFAULT must be skew-safe: 300 docs sharing a boilerplate
    prefix put every boilerplate gram at document-frequency 300 > 256
    (the default cap), so the intersect join must not go quadratic —
    candidate output stays O(n), not O(n^2). Opting out with
    max_gram_df=None is what restores the textbook behavior."""
    boiler = "/* program license header v2 (c) example corp */ " * 6
    # bodies are gram-disjoint across docs (one unique char per doc), so
    # the ONLY cross-doc grams are the boilerplate's — all at df 300+
    rows = [(i, boiler + chr(0x4E00 + i) * 60, "s") for i in range(300)]
    rows.append((9000, boiler + chr(0x4E00) * 60 + "x", "s"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # threshold=0.0 surfaces the whole candidate set the join produced
    cand = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).count()
    assert cand <= 4 * len(rows), cand        # O(n), not ~n^2/2 = 45k
    # the true near-dup is still found at a real threshold
    got = {(r["id_a"], r["id_b"])
           for r in dedup.ngram_jaccard_pairs(df, n=3,
                                              threshold=0.5).collect()}
    assert (0, 9000) in got


def test_minhash_lsh_finds_near_dupes(spark, docs):
    df = _with_dupes(spark, docs)
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.7, num_perm=64,
                                      bands=16, n=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 9001) in got and (0, 9002) in got and (9001, 9002) in got
    assert (0, 9003) in got                   # near-copy caught too
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    for r in pairs:                           # verify step is exact
        bj = _brute_jaccard(texts[r["id_a"]], texts[r["id_b"]], n=4)
        assert abs(r["jaccard"] - bj) < 1e-6
        assert r["jaccard"] >= 0.7


def test_simhash_near_dup_property(spark, docs):
    df = _with_dupes(spark, docs)
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sh[0] == sh[9001] == sh[9002]      # identical text -> same hash
    ham_near = bin((sh[0] ^ sh[9003]) & (2**64 - 1)).count("1")
    assert ham_near <= 8                      # one extra token
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 9001) in got and (9001, 9002) in got
    for r in pairs:
        true_ham = bin((sh[r["id_a"]] ^ sh[r["id_b"]]) & (2**64 - 1)).count("1")
        assert r["hamming"] == true_ham <= 3


def test_simhash_blocks_complete_at_k8(spark):
    """Block prefilter must be COMPLETE for the requested budget: with
    max_hamming=8 the hash splits into 9 blocks, and every true pair with
    hamming <= 8 must be returned (pigeonhole — no silent misses)."""
    base_tokens = [f"tok{i}" for i in range(40)]
    rows = []
    for d in range(24):
        toks = list(base_tokens)
        for j in range(d % 6):            # graded similarity ladder
            toks[j] = f"alt{d}_{j}"
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ids = sorted(sh)
    expected = {(i, j) for i in ids for j in ids if i < j and
                bin((sh[i] ^ sh[j]) & (2 ** 64 - 1)).count("1") <= 8}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_pairs(df, max_hamming=8).collect()}
    assert expected            # non-vacuous: the ladder produces near pairs
    assert got == expected


def test_lsh_bucket_cap_bounds_candidates(spark):
    """A boilerplate-heavy corpus (one text duplicated 300x) must not go
    quadratic in the LSH candidate join when max_bucket is set."""
    boiler = [(i, "the same boilerplate text repeated everywhere " * 8)
              for i in range(300)]
    uniq = [(1000 + i, f"unique document number {i} words {i * 7} {i * 13}")
            for i in range(20)]
    df = spark.createDataFrame(boiler + uniq, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df).cache()
    try:
        n_uncapped = dedup.lsh_candidates(sigs, max_bucket=None).count()
        assert n_uncapped >= 300 * 299 // 2      # quadratic without the cap
        n_capped = dedup.lsh_candidates(sigs, max_bucket=16).count()
        assert n_capped <= 4 * df.count()        # linear-bounded with it
    finally:
        sigs.unpersist()


def _uf_components(edges):
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark):
    """Random clusters + one 60-link chain (the pointer-jumping case:
    plain min-propagation would need 60 rounds, the implementation must
    converge within max_iter=10)."""
    import random
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 160)]          # long chain
    for _ in range(80):                                     # random blobs
        a, b = rng.randrange(0, 60), rng.randrange(0, 60)
        if a != b:
            edges.append((a, b))
    edges.append((1000, 2000))                              # isolated pair
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in
           dedup.connected_components(pairs, max_iter=10).collect()}
    want = _uf_components(edges)
    assert got == want


def test_near_dup_survivors(spark, docs):
    df = _with_dupes(spark, docs)
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.7)
    surv = dedup.near_dup_survivors(df, pairs)
    ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    # 9001/9002 (exact copies of 0) and 9003 (near copy) lose to doc 0
    assert 0 in ids
    assert not {9001, 9002, 9003} & ids
    # survivors + losers partition the corpus
    comp = dedup.connected_components(pairs).collect()
    losers = {r["id"] for r in comp if r["id"] != r["component"]}
    assert ids == {r["doc_id"] for r in df.collect()} - losers


def test_embedding_cosine_pairs_vs_numpy(emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64),
                          r["label"]) for r in rows}
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           dedup.embedding_cosine_pairs(emb, threshold=0.3).collect()}
    brute = {}
    ids = sorted(vecs)
    for i in ids:
        for j in ids:
            if i < j and vecs[i][1] == vecs[j][1]:
                a, b = vecs[i][0], vecs[j][0]
                c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if round(c, 6) >= 0.3:
                    brute[(i, j)] = c
    assert set(got) == set(brute)
    for k in got:
        assert abs(got[k] - brute[k]) < 1e-5


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _brute_topk_numpy(rows, qids, k):
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    out = {}
    for q in qids:
        sims = []
        for i, v in vecs.items():
            if i == q:
                continue
            c = float(vecs[q] @ v / (np.linalg.norm(vecs[q]) * np.linalg.norm(v)))
            sims.append((-c, i))
        sims.sort()
        out[q] = [i for _, i in sims[:k]]
    return out


def test_brute_topk_vs_numpy(emb):
    qids = [0, 1, 2]
    got = similarity.brute_topk(emb, qids, k=5).collect()
    brute = _brute_topk_numpy(emb.collect(), qids, 5)
    for q in qids:
        mine = [r["nid"] for r in got if r["qid"] == q]
        assert mine == brute[q]


def test_lsh_topk_recall_and_validity(emb):
    qids = [0, 1, 2, 3, 4]
    brute = _brute_topk_numpy(emb.collect(), qids, 10)
    got = similarity.lsh_topk(emb, qids, k=10, planes=6).collect()
    hits = total = 0
    for q in qids:
        mine = {r["nid"] for r in got if r["qid"] == q}
        assert q not in mine
        hits += len(mine & set(brute[q]))
        total += len(brute[q])
    assert hits / total >= 0.2  # multi-probe over 1/64 buckets; see module doc
    # determinism
    again = similarity.lsh_topk(emb, qids, k=10, planes=6).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_ivf_topk_recall_and_determinism(emb):
    """IVF coarse-quantizer ANN: recall vs exact brute force at
    nprobe/n_centroids = 1/4 of the corpus scanned, plus seed-stable
    reproducibility of the whole train+assign+rank pipeline."""
    qids = [0, 1, 2, 3, 4]
    brute = _brute_topk_numpy(emb.collect(), qids, 10)
    got = similarity.ivf_topk(emb, qids, k=10, n_centroids=16, nprobe=4).collect()
    hits = total = 0
    for q in qids:
        mine = {r["nid"] for r in got if r["qid"] == q}
        assert q not in mine
        assert len(mine) <= 10
        hits += len(mine & set(brute[q]))
        total += len(brute[q])
    assert hits / total >= 0.5, hits / total
    again = similarity.ivf_topk(emb, qids, k=10, n_centroids=16, nprobe=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # full probe = exact: with nprobe == n_centroids every candidate is
    # scanned, so IVF must reproduce brute force exactly
    full = similarity.ivf_topk(emb, qids, k=10, n_centroids=8, nprobe=8).collect()
    for q in qids:
        mine = [r["nid"] for r in full if r["qid"] == q]
        assert mine == brute[q]


# ---------------------------------------------------------------------------
# embedding quantization
# ---------------------------------------------------------------------------

def test_quantize_roundtrip_bounds(emb):
    """int8 symmetric quantization: values in [-127,127], reconstruction
    error bounded by scale/2, exact numpy replay of the JVM formula."""
    src = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.limit(50).collect()}
    ids = list(src)
    got = {r["id"]: r for r in
           quantize.quantize(emb.filter(F.col("vec_id").isin(ids))).collect()}
    assert set(got) == set(src)
    for i, v in src.items():
        r = got[i]
        q = np.asarray(r["qvec"], dtype=np.int64)
        s = r["scale"]
        assert q.min() >= -127 and q.max() <= 127
        if s == 0.0:
            assert not q.any()
            continue
        # numpy replay of floor(v/s + 0.5) must match the JVM expression
        assert np.array_equal(q, np.floor(v / s + 0.5).astype(np.int64))
        assert np.abs(v - q * s).max() <= s / 2 + 1e-12


def test_quantize_error_metrics(emb):
    rows = quantize.quantize_error(emb).limit(200).collect()
    assert rows
    for r in rows:
        assert r["cos_sim"] > 0.999      # int8 keeps cosine nearly intact
        assert r["max_abs_err"] >= 0.0
    stats = {r["id"]: r for r in quantize.quantize_stats(emb).limit(5).collect()}
    for r in stats.values():
        assert r["q_min"] >= -127 and r["q_max"] <= 127
        assert r["dim"] > 0


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_synth_media_and_meta(spark, docs):
    media = multimodal.synth_media(docs).cache()
    meta = {r["doc_id"]: r for r in multimodal.extract_meta(media).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(meta) == set(src)
    for did, t in list(src.items())[:20]:
        m = meta[did]
        body = t.encode()
        assert m["n_bytes"] == 12 + len(body)
        assert m["magic"] == ("SIMG" if did % 2 == 0 else "SAUD")
        expect = np.floor(float(np.frombuffer(body, np.uint8).mean()) * 1e6) / 1e6
        assert abs(m["body_mean"] - expect) < 1e-9
        if did % 2 == 0:
            w = min(len(body), 64)
            assert m["dim1"] == w
            assert m["dim2"] == -(-len(body) // w)
        else:
            assert m["dim1"] == len(body) and m["dim2"] == 16000
    media.unpersist()


def test_decode_stubs(spark, docs):
    media = multimodal.synth_media(docs)
    img_row = media.filter(F.col("media_type") == "image/synthetic") \
                   .limit(1).collect()[0]
    arr = multimodal.decode_image(bytes(img_row["payload"]))
    assert arr.ndim == 2 and arr.dtype == np.uint8
    aud_row = media.filter(F.col("media_type") == "audio/synthetic") \
                   .limit(1).collect()[0]
    samples, rate = multimodal.decode_audio(bytes(aud_row["payload"]))
    assert rate == 16000 and samples.dtype == np.uint8
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG1234567890")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF1234567890")


def test_pack_sequences_brute_force(spark):
    """Streaming-fill packing contract vs a plain-Python reference."""
    import random
    from pyspark.sql import Row
    from cpp_parquet_spark.textops import pack_sequences
    rng = random.Random(7)
    rows = [Row(doc_id=i, g="g%d" % (i % 3), ln=rng.randint(1, 900))
            for i in range(200)]
    df = spark.createDataFrame(rows)
    got = {(r["g"], r["doc_id"]): r["pack_id"]
           for r in pack_sequences(df, "ln", 2048, group_cols=("g",))
           .collect()}
    by_g = {}
    for r in sorted(rows, key=lambda r: (r.g, r.doc_id)):
        start = by_g.get(r.g, 0)
        assert got[(r.g, r.doc_id)] == start // 2048, r
        by_g[r.g] = start + r.ln
    # every pack except the last per group reaches the budget (tails
    # may overflow, none underfill): max start offset in pack k >= k*B
    packs = {}
    for r in sorted(rows, key=lambda r: (r.g, r.doc_id)):
        k = got[(r.g, r.doc_id)]
        packs.setdefault((r.g, k), 0)
        packs[(r.g, k)] += r.ln
    for (g, k), tot in packs.items():
        if (g, k + 1) in packs:
            assert tot >= 1  # non-empty; fill property implied by floor


# ---------------------------------------------------------------------------
# repetition / top-ngram (Gopher-style filters)
# ---------------------------------------------------------------------------

def test_repetition_brute_force(spark):
    texts = {
        1: "a\nb\na\nc\na",            # 'a' x3 duplicated
        2: "x\ny\nz",                  # all unique
        3: "\n\n\n",                   # 4 empty lines, all dup
        4: "hello world",              # single line
        5: "long line here\nlong line here\nshort",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.repetition(df).collect()}
    for did, t in texts.items():
        lines = t.split("\n")
        from collections import Counter
        c = Counter(lines)
        n, nd = len(lines), len(c)
        dup_chars = sum(k * len(l) for l, k in c.items() if k > 1)
        tot = max(sum(len(l) for l in lines), 1)
        r = got[did]
        assert r["n_lines"] == n and r["n_distinct_lines"] == nd
        assert r["dup_line_frac"] == round(1.0 - nd / n, 6)
        assert r["dup_line_char_frac"] == round(dup_chars / tot, 6)


def test_top_ngram_brute_force(spark):
    texts = {
        1: ("ab cd ab cd ab", 14),     # 'ab cd' x2, 'cd ab' x2 -> tie,
                                       # lexicographically smallest wins
        2: ("one two three", 13),      # all 2-grams unique
        3: ("solo", 4),                # < n words -> no row
        4: ("  pad   pad  pad ", 17),  # whitespace runs collapse
    }
    df = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in texts.items()],
        "doc_id long, text string, n_chars int")
    got = {r["doc_id"]: r for r in textops.top_ngram_stats(df, n=2).collect()}
    assert 3 not in got
    from collections import Counter
    for did, (t, nc) in texts.items():
        words = t.strip().split()
        if len(words) < 2:
            continue
        grams = Counter(" ".join(words[i:i + 2])
                        for i in range(len(words) - 1))
        best = min(grams.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[did]
        assert r["top_gram"] == best[0] and r["top_count"] == best[1]
        assert r["top_gram_char_frac"] == round(
            best[1] * len(best[0]) / max(nc, 1), 6)


def test_top_ngram_3gram(spark, docs):
    out = textops.top_ngram_stats(docs.limit(30), n=3).collect()
    src = {r["doc_id"]: (r["text"], r["n_chars"])
           for r in docs.limit(30).collect()}
    from collections import Counter
    for r in out:
        t, nc = src[r["doc_id"]]
        words = t.strip().split()
        grams = Counter(" ".join(words[i:i + 3])
                        for i in range(len(words) - 2))
        best = min(grams.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r["top_gram"], r["top_count"]) == best


def test_lsh_full_probe_equals_brute(spark, emb):
    qs = [0, 1, 2]
    brute = similarity.brute_topk(emb, qs, k=5).collect()
    full = similarity.lsh_topk(emb, qs, k=5, planes=4,
                               all_probes=True).collect()
    assert [tuple(r) for r in brute] == [tuple(r) for r in full]


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or 10.0.0.1, "
             "api_key: AbCd1234EfGh5678"),
         (2, "PASSWORD = 'hunter2hunter2' token=xyz"),   # short token kept
         (3, "no pii here")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in textops.redact(df).collect()}
    assert rows[1]["n_email"] == rows[1]["n_ipv4"] == rows[1]["n_secret"] == 1
    assert rows[1]["redacted"] == "mail <EMAIL> or <IP>, <SECRET>"
    assert rows[2]["n_secret"] == 1 and "hunter2" not in rows[2]["redacted"]
    assert rows[3]["redacted"] == "no pii here"


def test_decontaminate_planted(spark):
    """Planted overlaps: docs sharing an exact word 4-gram with the
    bench set are flagged with the right match count; shorter overlaps,
    case differences already normalized, and sub-n docs are not."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "intro THE QUICK BROWN FOX ate lunch"),       # 1 gram (case)
         (2, "fox jumps over the lazy dog indeed"),        # 3 grams
         (3, "quick brown fox"),                            # len < n: no
         (4, "entirely unrelated words only here"),         # no overlap
         (5, "jumps over the lazy"),                        # exactly 1 gram
         (6, "")],                                          # empty
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_matched"]
           for r in textops.decontaminate(corpus, bench, n=4).collect()}
    assert out == {1: 1, 2: 3, 5: 1}
    # duplicate grams inside one doc count once (distinct per doc)
    rep = spark.createDataFrame(
        [(7, "jumps over the lazy dog and jumps over the lazy dog")],
        "doc_id long, text string")
    out = textops.decontaminate(rep, bench, n=4).collect()
    assert [(r["doc_id"], r["n_matched"]) for r in out] == [(7, 2)]


def test_pq_topk_recall_determinism_and_full_rerank(emb):
    """PQ-ADC ANN (Jegou et al. 2011): recall vs brute force at the
    driver-query parameters, seed-stable reproducibility, and the
    full-rerank identity — with rerank*k >= |corpus| the exact re-rank
    covers every row, so the whole train+encode+ADC+rerank pipeline must
    reproduce brute force bit-exactly."""
    qids = [0, 1, 2, 3, 4]
    brute = _brute_topk_numpy(emb.collect(), qids, 10)
    got = similarity.pq_topk(emb, qids, k=10, m=16, ksub=32,
                             rerank=4).collect()
    hits = total = 0
    for q in qids:
        mine = {r["nid"] for r in got if r["qid"] == q}
        assert q not in mine
        assert len(mine) <= 10
        hits += len(mine & set(brute[q]))
        total += len(brute[q])
    assert hits / total >= 0.9, hits / total
    again = similarity.pq_topk(emb, qids, k=10, m=16, ksub=32,
                               rerank=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    full = similarity.pq_topk(emb, qids, k=10, m=16, ksub=32,
                              rerank=50).collect()
    for q in qids:
        mine = [r["nid"] for r in full if r["qid"] == q]
        assert mine == brute[q]


def test_pq_train_shapes_and_codes(emb):
    books = similarity.pq_train(emb, m=16, ksub=32)
    assert books.shape == (16, 32, 4)          # dim 64 -> dsub 4
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:5]:
        assert len(r["codes"]) == 16
        assert all(0 <= c < 32 for c in r["codes"])
