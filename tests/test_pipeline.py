"""Training-pipeline operator tests: dedup, similarity search, text
analysis. Small handcrafted inputs with numpy/python oracles (the
DuckDB cross-engine check lives in scripts/gate_check.py — here we test
semantics on adversarial inputs the synthetic corpus doesn't cover)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from kdtree_spark.pipeline import ann, dedup, textops
from kdtree_spark.pipeline.common import QUANT


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


TEXTS = [
    "the cat sat on the mat and the dog sat too",          # 0
    "the cat sat on the mat and the dog sat too",          # 1: exact dup of 0
    "the cat sat on the mat and a dog sat too",            # 2: near dup of 0
    "completely different words appear here instead now",  # 3
    "le chat et le chien et la souris de la maison",       # 4: french-ish
    "a a a a a a a a a a",                                 # 5: degenerate
]


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs_df(spark, TEXTS)).toPandas()
    grp = out[out.n_copies > 1]
    assert len(grp) == 1 and grp.keeper.iloc[0] == 0 and grp.n_copies.iloc[0] == 2
    assert out.n_copies.sum() == len(TEXTS)


def test_jaccard_pairs_semantics(spark):
    out = (dedup.jaccard_pairs(_docs_df(spark, TEXTS), n=3,
                               tau_num=1, tau_den=2)
           .toPandas().sort_values(["da", "db"]).reset_index(drop=True))
    pairs = set(zip(out.da, out.db))
    assert (0, 1) in pairs          # exact dup -> jaccard 1
    assert (0, 2) in pairs and (1, 2) in pairs  # near dup
    assert not any(3 in p for p in pairs)
    # python oracle for the (0,2) intersection count
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    r = out[(out.da == 0) & (out.db == 2)].iloc[0]
    assert r.inter == len(sh(TEXTS[0]) & sh(TEXTS[2]))
    assert r.na == len(sh(TEXTS[0])) and r.nb == len(sh(TEXTS[2]))


def test_minhash_catches_planted_dups(spark):
    df = _docs_df(spark, TEXTS)
    got = dedup.minhash_dedup(df, n=3).toPandas()
    pairs = set(zip(got.da, got.db))
    assert (0, 1) in pairs  # identical docs always collide in every band
    # verified output is a subset of the exact-jaccard pairs
    exact = dedup.jaccard_pairs(df, n=3).toPandas()
    assert pairs <= set(zip(exact.da, exact.db))


def test_simhash_identical_and_distance(spark):
    fp = dedup.simhash(_docs_df(spark, TEXTS)).toPandas().set_index("doc_id")
    assert fp.loc[0, "simhash"] == fp.loc[1, "simhash"]
    ham = bin(int(fp.loc[0, "simhash"]) ^ int(fp.loc[2, "simhash"])).count("1")
    assert ham <= 10            # near dup -> small hamming
    ham_far = bin(int(fp.loc[0, "simhash"]) ^ int(fp.loc[3, "simhash"])).count("1")
    assert ham_far > ham


def test_simhash_pairs_banding_is_lossless(spark):
    """Banded candidates must equal brute-force hamming<=7 pairs."""
    df = _docs_df(spark, TEXTS)
    got = dedup.simhash_pairs(df, 7).toPandas()
    fp = dedup.simhash(df).toPandas().set_index("doc_id")["simhash"]
    brute = {(a, b) for a in fp.index for b in fp.index if a < b
             and bin(int(fp[a]) ^ int(fp[b])).count("1") <= 7}
    assert set(zip(got.da, got.db)) == brute


def test_token_stats_oracle(spark):
    out = (textops.token_stats(_docs_df(spark, TEXTS))
           .toPandas().set_index("doc_id"))
    toks = TEXTS[0].split()
    assert out.loc[0, "ntok"] == len(toks)
    assert out.loc[0, "ndistinct"] == len(set(toks))
    assert out.loc[0, "nstop"] == sum(t in ("the", "a", "of", "and", "is",
                                            "to", "in") for t in toks)
    assert out.loc[5, "ndistinct"] == 1 and out.loc[5, "stop_ratio"] == 1.0


def test_lang_id_markers(spark):
    out = (textops.lang_id(_docs_df(spark, TEXTS))
           .toPandas().set_index("doc_id"))
    assert out.loc[0, "pred_lang"] == "en"
    assert out.loc[4, "pred_lang"] == "fr"
    assert out.loc[3, "pred_lang"] == "unk" and out.loc[3, "score"] == 0


def test_doc_fingerprint_matches_python(spark):
    out = (textops.doc_fingerprint(_docs_df(spark, TEXTS), 5)
           .toPandas().set_index("doc_id"))

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    for i, t in enumerate(TEXTS):
        w = t.split()
        exp = min(h(" ".join(w[j:j + 5])) for j in range(len(w) - 4))
        assert out.loc[i, "fp"] == exp
    # identical docs -> identical fingerprints
    assert out.loc[0, "fp"] == out.loc[1, "fp"]


def test_short_docs_shingle_guard(spark):
    """Docs shorter than the shingle width: Spark's sequence(1, 0) is a
    DESCENDING [1, 0], so shingle_array_sql guards it; short docs simply
    contribute no shingles (and a NULL fingerprint)."""
    docs = _docs_df(spark, ["a b", "one two three four five six"])
    sh = dedup.doc_shingles(docs, n=3).toPandas()
    assert set(sh.doc_id) == {1}
    out = dedup.jaccard_pairs(docs, n=3).toPandas()
    assert len(out) == 0
    fp = textops.doc_fingerprint(docs, 5).toPandas().set_index("doc_id")
    assert pd.isna(fp.loc[0, "fp"]) and not pd.isna(fp.loc[1, "fp"])


# ------------------------------------------------------------------- ANN

def _clustered_emb(spark, n_clusters=5, per_cluster=20, dim=64, noise=0.05):
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + noise * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, v.astype(np.float32).tolist(), c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def _brute_topk(df_pd, qids, k):
    m = np.floor(np.stack(df_pd.embedding.to_numpy()).astype(np.float64)
                 * QUANT).astype(np.int64)
    ids = df_pd.vec_id.to_numpy()
    nn = (m * m).sum(1)
    out = {}
    for q in qids:
        qi = np.where(ids == q)[0][0]
        cos = (m @ m[qi]) / np.sqrt(nn * nn[qi])
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))
        out[q] = [ids[i] for i in order if ids[i] != q][:k]
    return out


def test_cosine_topk_exact(spark):
    emb = _clustered_emb(spark)
    got = ann.cosine_topk(emb, "vec_id % 10 = 3", 5).toPandas()
    exp = _brute_topk(emb.toPandas(), sorted(got.qid.unique()), 5)
    for q, grp in got.sort_values("rank").groupby("qid"):
        assert list(grp.nid) == exp[q], q
    # neighbors of a clustered query are its own cluster
    labels = {r.vec_id: r.label for r in emb.collect()}
    for q, grp in got.groupby("qid"):
        same = sum(labels[n] == labels[q] for n in grp.nid)
        assert same == len(grp)


def test_srp_lsh_recall_on_clusters(spark):
    emb = _clustered_emb(spark)
    k = 5
    got = ann.srp_topk(emb, "vec_id % 10 = 3", k).toPandas()
    exp = _brute_topk(emb.toPandas(), sorted(set(range(3, 100, 10))), k)
    hits = total = 0
    for q, true_k in exp.items():
        found = set(got[got.qid == q].nid)
        hits += len(found & set(true_k))
        total += k
    assert hits / total >= 0.6, f"recall {hits}/{total}"
    # every reported neighbor's score must be exact (subset of brute order)
    pdf = emb.toPandas()
    for _, r in got.head(20).iterrows():
        m = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64)
                     * QUANT).astype(np.int64)
        ids = pdf.vec_id.to_numpy()
        a = m[np.where(ids == r.qid)[0][0]]
        b = m[np.where(ids == r.nid)[0][0]]
        assert int((a * b).sum()) == int(r["dot"])  # r.dot is Series.dot


def test_neardup_pairs_threshold(spark):
    emb = _clustered_emb(spark, n_clusters=3, per_cluster=5, noise=0.01)
    got = ann.neardup_pairs(emb, 0.95).toPandas()
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert len(got) > 0
    for _, r in got.iterrows():
        assert labels[r.da] == labels[r.db]
        assert r.cos >= 0.95


def test_ivf_recall_on_clusters(spark):
    emb = _clustered_emb(spark)
    k = 5
    got = ann.ivf_topk(emb, "vec_id % 10 = 3", k).toPandas()
    exp = _brute_topk(emb.toPandas(), sorted(set(range(3, 100, 10))), k)
    hits = total = 0
    for q, true_k in exp.items():
        found = set(got[got.qid == q].nid)
        hits += len(found & set(true_k))
        total += k
    assert hits / total >= 0.6, f"recall {hits}/{total}"
    # reported scores are exact int-quantized cosines (same contract as
    # srp_topk: approximation lives only in candidate selection)
    pdf = emb.toPandas()
    m = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64)
                 * QUANT).astype(np.int64)
    ids = pdf.vec_id.to_numpy()
    for _, r in got.head(20).iterrows():
        a = m[np.where(ids == r.qid)[0][0]]
        b = m[np.where(ids == r.nid)[0][0]]
        assert int((a * b).sum()) == int(r["dot"])


def test_ann_fixture_no_drift(spark, sf_dir):
    """fixtures_data/ann_{srp,ivf}.parquet (the DuckDB oracle's expected
    results for the two approximate ANN gates, scripts/gen_ann_fixture.py)
    must equal live Spark results on the same table — drift between the
    fixtures and ann.py fails here."""
    import os
    from kdtree_spark.driver_queries import pipeline as dq

    emb = dq._emb(spark, sf_dir)
    # Spark arrays are 0-indexed; the oracle SQL's embedding[1] (DuckDB,
    # 1-indexed) is the same first element
    key = emb.selectExpr(
        "CAST(SUM(CAST(FLOOR(CAST(embedding[0] AS DOUBLE) * 10000) AS "
        "BIGINT) * ((vec_id % 97) + 1)) AS BIGINT) AS k").first().k
    fx_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures_data")
    cols = ["qid", "nid", "dot", "na", "nb", "rank"]
    for name, fn in (("ann_srp", ann.srp_topk), ("ann_ivf", ann.ivf_topk)):
        fx = pd.read_parquet(os.path.join(fx_dir, f"{name}.parquet"))
        fx = (fx[fx.table_key == key][cols]
              .sort_values(["qid", "rank"]).reset_index(drop=True))
        got = (fn(emb, dq.ANN_QUERY_FILTER, 10).toPandas()[cols]
               .astype("int64").sort_values(["qid", "rank"])
               .reset_index(drop=True))
        assert len(fx) > 0, name
        pd.testing.assert_frame_equal(fx.astype("int64"), got), name


def test_ivf_centroids_deterministic(spark):
    emb = _clustered_emb(spark)
    c1 = ann.ivf_centroids(emb)
    c2 = ann.ivf_centroids(emb)
    np.testing.assert_array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_regex_token_stats_no_shuffle_and_values(spark, sf_dir):
    """BPE-ish regex token stats: narrow map only (no Exchange in the
    plan) and values match a Python re reimplementation."""
    import re
    from kdtree_spark.pipeline.textops import BPE_RE, regex_token_stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = regex_token_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r["doc_id"]: (r["ntok_re"], r["ndistinct_re"], r["nchars_re"])
           for r in out.collect()}
    pat = re.compile(BPE_RE)
    for r in docs.select("doc_id", "text").collect():
        toks = pat.findall(r["text"])
        assert got[r["doc_id"]] == (len(toks), len(set(toks)),
                                    sum(len(t) for t in toks))


def test_hamming_pairs_lossless(spark):
    """Multi-index join finds EXACTLY the brute-force Hamming<=7 pairs."""
    from kdtree_spark.pipeline.dedup import hamming_pairs
    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 56, size=40, dtype=np.int64)
    # planted near pairs: flip 0..7 random bits of some fingerprints
    fps = list(base)
    for j in range(12):
        v = int(base[j])
        for b in rng.choice(56, size=int(rng.integers(0, 8)), replace=False):
            v ^= 1 << int(b)
        fps.append(v)
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(fps)], "doc_id long, fp long")
    got = (hamming_pairs(df, "doc_id", "fp", 56, 7, "da", "db")
           .toPandas().sort_values(["da", "db"]).reset_index(drop=True))
    arr = np.array(fps, dtype=np.int64)
    x = arr[:, None] ^ arr[None, :]
    ham = np.array([[bin(int(v)).count("1") for v in row] for row in x])
    ii, jj = np.nonzero((ham <= 7) & (np.arange(len(arr))[:, None]
                                      < np.arange(len(arr))[None, :]))
    exp = sorted(zip(ii.tolist(), jj.tolist()))
    assert list(zip(got["da"], got["db"])) == exp
    assert got["hamming"].tolist() == [int(ham[a, b]) for a, b in exp]


def test_jaccard_df_cap(spark):
    """df-capped join drops pairs that only share ultra-common shingles."""
    from kdtree_spark.pipeline.dedup import jaccard_pairs
    common = "the quick brown fox jumps over the lazy dog again"
    docs = [(i, common) for i in range(20)]          # df of every shingle = 20
    docs += [(100, "alpha beta gamma delta epsilon"),
             (101, "alpha beta gamma delta zeta")]    # rare near-dup pair
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = jaccard_pairs(df, 3, 1, 2, df_cap=12).toPandas()
    # the 20 identical docs' shingles are over the cap -> no pairs from them
    assert set(zip(capped["da"], capped["db"])) == {(100, 101)}
    uncapped = jaccard_pairs(df, 3, 1, 2).toPandas()
    assert len(uncapped) > 1
