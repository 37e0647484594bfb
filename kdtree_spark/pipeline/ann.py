"""Similarity search over the `embeddings` table (array<float>, 64-d).

Exactness strategy: embeddings are quantized to an int64 grid
(floor(e*10000)); dot products and norms are then exact integer sums,
and cosine is a single double divide+sqrt from those integers — so the
Spark result is bit-identical to the DuckDB oracle and the ordering is
deterministic.

Operators:
- cosine_topk:     exact brute-force top-k, fully Spark-side: the query
                   set is replicated across base blocks with a crossJoin
                   (never collected to the driver); each (query-set x
                   base-block) cogroup does one numpy int64 matmul and
                   emits a tie-safe local top-k per query; a global
                   window finishes the reduction. Shuffle volume is
                   O(#queries · #blocks + #queries · k · #blocks).
- neardup_pairs:   all pairs with cosine >= tau via blockwise block-pair
                   cogroups — O(n²) compute by definition, but distributed
                   with no driver materialization. srp buckets are the
                   sub-quadratic scale path.
- srp_topk:        sign-random-projection LSH variant — the scale path:
                   candidates share an n-bit hyperplane-sign bucket
                   (multi-probe within Hamming 1), then exact re-rank.
                   Approximate by design -> rows-only driver check +
                   recall test in pytest.

Tie-safety: every local top-k selection sorts by cosine desc with a
STABLE sort over nid-ascending rows, so candidates tied at the boundary
are kept in exactly the global (cos desc, nid asc) order — no tied
candidate that could reach the global top-k is ever dropped. Norm
products are computed in float64 (na·nb can exceed int64), with the
identical correctly-rounded result as the SQL double path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..index import _rescan_changed_zips_only
from .common import spark_quant_sql

BLOCK_ROWS = 4096  # target base rows per matmul block


def _quantize(col: pd.Series) -> np.ndarray:
    from .common import QUANT
    m = np.stack(col.to_numpy())
    return np.floor(m.astype(np.float64) * QUANT).astype(np.int64)


def _norm_sql(v: str = "qv") -> str:
    # sum of squares of the quantized vector: exact int64 (|q|<=10000,
    # 64 dims -> <= 6.4e9)
    return f"aggregate({v}, 0L, (a, e) -> a + e * e)"


def _quant_df(emb: DataFrame, id_alias: str) -> DataFrame:
    """(id, qv array<long>, nrm long) — quantization + norms in SQL."""
    return emb.selectExpr(
        f"vec_id AS {id_alias}",
        f"{spark_quant_sql('embedding')} AS qv").selectExpr(
        id_alias, "qv", f"{_norm_sql('qv')} AS nrm")


def _nblocks(emb: DataFrame) -> int:
    return max(1, int(np.ceil(emb.count() / BLOCK_ROWS)))


def _cosine_topk(d: DataFrame, k: int) -> DataFrame:
    """The top-k (qid, nid, dot, na, nb) rows per qid by exact-int-derived
    cosine, ranked (cos desc, nid asc), with their cos and rank."""
    d = d.withColumn(
        "cos",
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(),
                                          F.col("nid").asc())
    return (d.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "dot", "na", "nb", "cos", "rank"))


def _rerank(cand: DataFrame, k: int) -> DataFrame:
    """Candidate (qid, nid, q_emb, n_emb) rows re-ranked exactly: each
    distinct pair scored on the int64 grid, then _cosine_topk."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        for pdf in batches:
            if not len(pdf):
                continue
            a = _quantize(pdf["q_emb"])
            b = _quantize(pdf["n_emb"])
            yield pd.DataFrame({"qid": pdf["qid"], "nid": pdf["nid"],
                                "dot": (a * b).sum(axis=1),
                                "na": (a * a).sum(axis=1),
                                "nb": (b * b).sum(axis=1)})

    return _cosine_topk(cand.mapInPandas(
        score, "qid long, nid long, dot long, na long, nb long").distinct(), k)


def cosine_topk(emb: DataFrame, query_filter: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k (excluding self): (qid, nid, dot, na, nb,
    cos, rank), rank <= k.

    Physical plan: base vectors are split into ~BLOCK_ROWS blocks by
    pmod(vec_id); the query set (with quantized vectors + norms, all
    SQL-derived) is replicated to every block via crossJoin — a shuffle,
    not a driver collect, so the query side can be any fraction of the
    table. Each cogroup emits a tie-safe local top-(k+1); the global
    window keeps the exact (cos desc, nid asc) top-k."""
    spark = emb.sparkSession
    nb_blocks = _nblocks(emb)
    base = (_quant_df(emb, "nid")
            .withColumn("bb", F.pmod(F.col("nid"), F.lit(nb_blocks))))
    q = (_quant_df(emb.filter(query_filter), "qid")
         .withColumnRenamed("qv", "q_qv")
         .withColumnRenamed("nrm", "na"))
    qrep = q.crossJoin(
        spark.range(nb_blocks).select(F.col("id").alias("bb")))

    def block_topk(key, qpdf: pd.DataFrame, bpdf: pd.DataFrame
                   ) -> pd.DataFrame:
        _rescan_changed_zips_only()
        if len(qpdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame(
                {"qid": pd.Series(dtype=np.int64),
                 "nid": pd.Series(dtype=np.int64),
                 "dot": pd.Series(dtype=np.int64),
                 "nb": pd.Series(dtype=np.int64)})
        bpdf = bpdf.sort_values("nid")  # stable-sort tie-break order
        bm = np.stack(bpdf["qv"].to_numpy()).astype(np.int64)
        nids = bpdf["nid"].to_numpy(np.int64)
        nbn = bpdf["nrm"].to_numpy(np.int64)
        qm = np.stack(qpdf["q_qv"].to_numpy()).astype(np.int64)
        qids = qpdf["qid"].to_numpy(np.int64)
        qn = qpdf["na"].to_numpy(np.int64)
        dots = bm @ qm.T                              # exact int64
        # float64 BEFORE the product: na*nb can exceed int64; the double
        # multiply/sqrt/divide chain is bit-identical to the SQL path
        cos = dots / np.sqrt(np.outer(nbn.astype(np.float64),
                                      qn.astype(np.float64)))
        kk = min(k + 1, len(nids))                    # +1 survives self-drop
        out = {"qid": [], "nid": [], "dot": [], "nb": []}
        for j in range(len(qids)):
            # stable sort over nid-ascending rows: ties at the kk boundary
            # keep the smallest nids — the global tie-break order
            sel = np.argsort(-cos[:, j], kind="stable")[:kk]
            out["qid"].append(np.full(len(sel), qids[j], np.int64))
            out["nid"].append(nids[sel])
            out["dot"].append(dots[sel, j])
            out["nb"].append(nbn[sel])
        return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    cand = (qrep.groupby("bb")
            .cogroup(base.groupby("bb"))
            .applyInPandas(block_topk, "qid long, nid long, dot long, nb long")
            .filter(F.col("qid") != F.col("nid")))
    return _cosine_topk(cand.join(q.select("qid", "na"), "qid"), k)


def neardup_pairs(emb: DataFrame, tau: float = 0.4) -> DataFrame:
    """All pairs (a < b) with cosine >= tau: (da, db, dot, na, nb, cos).

    Blockwise block-pair plan: vectors go to NB blocks by pmod(vec_id);
    a small (NB·(NB+1)/2)-row block-pair table replicates each block to
    its pairs; each cogroup does one numpy matmul between two blocks.
    Replication is NB rows per vector — no driver collect, no broadcast
    of the table. Exact all-pairs is inherently O(n²) compute; the
    srp_buckets join is the sub-quadratic scale path.

    Why there is no "provably covering" bucketed exact variant here
    (investigated, round 4): a sound bucket filter needs a geometric
    gap between pairs above and below tau. Measured on the synthetic
    embeddings (unit-norm 64-d): background pair cosine p99 = 0.286
    with qualifying pairs starting at exactly 0.400 and the densest
    non-pair at 0.399 — tau slices a CONTINUUM, so any complete filter
    must admit essentially all pairs. The two sound mechanisms both
    degenerate at theta = arccos(0.4) ~ 66°: (a) IVF triangle-
    inequality list pairs — measured max assignment angle 73.7° at 64
    lists, so the covering condition angle(ci,cj) <= theta+ma_i+ma_j
    exceeds 180° for every list pair; (b) SRP sign margins — a bit is
    decided for all vectors within theta only when |u·p| >= sin(66°) =
    0.91, a ~7-sigma event for unit vectors in 64-d (per-bit dot std =
    1/8). Probabilistic SRP/IVF candidates with measured recall
    (srp_topk / ivf_topk + pytest recall gates) are the honest scale
    path; exact threshold joins at low tau in high d are Θ(n²) by
    geometry, not by implementation.

    An APPROXIMATE SRP pairs operator was also considered and rejected
    (round 5): measured at sf0.01, all 59 qualifying pairs lie at
    cosine 0.400-0.513 (none above 0.6 — there is no planted
    high-cosine near-dup cluster), and at cos ~0.43 a sign bit agrees
    with probability 1 - arccos(0.43)/pi ~ 0.64, so an 8-bit 4-table
    union catches ~10% of qualifying pairs (~30% with Hamming-1
    probing) — an operator that silently drops 70-90% of its answer is
    worse than the explicit O(n²) one. SRP pairs become honest only
    when the dedup threshold sits in the high-cosine regime
    (tau >= ~0.9, bit-agreement >= 0.85), which this corpus does not
    exercise; simhash_pairs covers that regime losslessly in Hamming
    space.
    """
    spark = emb.sparkSession
    nb_blocks = _nblocks(emb)
    v = _quant_df(emb, "vid").withColumn(
        "blk", F.pmod(F.col("vid"), F.lit(nb_blocks)))
    pairs = spark.createDataFrame(
        [(i * nb_blocks + j, i, j)
         for i in range(nb_blocks) for j in range(i, nb_blocks)],
        "pr long, ba long, bb long")
    va, pa = v.alias("va"), pairs.alias("pa")
    left = va.join(F.broadcast(pa), F.col("va.blk") == F.col("pa.ba")).select(
        F.col("pa.pr").alias("pr"), F.col("pa.ba").alias("ba"),
        F.col("pa.bb").alias("bb"), F.col("va.vid").alias("vid"),
        F.col("va.qv").alias("qv"), F.col("va.nrm").alias("nrm"))
    vb, pb = v.alias("vb"), pairs.alias("pb")
    right = vb.join(F.broadcast(pb), F.col("vb.blk") == F.col("pb.bb")).select(
        F.col("pb.pr").alias("pr"), F.col("vb.vid").alias("vid"),
        F.col("vb.qv").alias("qv"), F.col("vb.nrm").alias("nrm"))

    def block_pairs(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame
                    ) -> pd.DataFrame:
        _rescan_changed_zips_only()
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(
                {c: pd.Series(dtype=np.int64)
                 for c in ("da", "db", "dot", "na", "nb")})
        lm = np.stack(lpdf["qv"].to_numpy()).astype(np.int64)
        rm = np.stack(rpdf["qv"].to_numpy()).astype(np.int64)
        lid = lpdf["vid"].to_numpy(np.int64)
        rid = rpdf["vid"].to_numpy(np.int64)
        ln = lpdf["nrm"].to_numpy(np.int64)
        rn = rpdf["nrm"].to_numpy(np.int64)
        dots = lm @ rm.T
        cos = dots / np.sqrt(np.outer(ln.astype(np.float64),
                                      rn.astype(np.float64)))
        mask = cos >= tau
        same = int(lpdf["ba"].iloc[0]) == int(lpdf["bb"].iloc[0])
        if same:
            mask &= lid[:, None] < rid[None, :]
        ii, jj = np.nonzero(mask)
        da = np.minimum(lid[ii], rid[jj])
        db = np.maximum(lid[ii], rid[jj])
        return pd.DataFrame({"da": da, "db": db, "dot": dots[ii, jj],
                             "na": np.where(lid[ii] < rid[jj], ln[ii], rn[jj]),
                             "nb": np.where(lid[ii] < rid[jj], rn[jj], ln[ii])})

    out = (left.groupby("pr")
           .cogroup(right.groupby("pr"))
           .applyInPandas(block_pairs,
                          "da long, db long, dot long, na long, nb long"))
    return out.withColumn(
        "cos",
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")))


# -------------------------------------------------- LSH scale path (approx)
# Multi-table sign-random-projection LSH: N_TABLES independent tables of
# TABLE_BITS hyperplanes each. A pair is a candidate when it shares a
# bucket in ANY table (union), with Hamming-1 multi-probe on the query
# side. Recall at cosine c is 1-(1-p_t)^L for per-table probability p_t
# — tuned by TABLE_BITS (selectivity) and N_TABLES (recall).

N_TABLES = 4
TABLE_BITS = 8
_RNG_SEED = 7


def _planes(dim: int = 64) -> np.ndarray:
    return np.random.default_rng(_RNG_SEED).standard_normal(
        (N_TABLES, TABLE_BITS, dim))


def _planes_q(dim: int = 64) -> np.ndarray:
    """Hyperplanes quantized to int64 (floor(p * QUANT)), so the sign
    matmul below is exact integer arithmetic: batch-shape-independent
    (no BLAS float reduction-order effects near sign boundaries) and
    reproducible bit-for-bit by the fixture oracle
    (scripts/gen_ann_fixture.py). |e_q| <= ~1e4, |p_q| <= ~6e4,
    64 dims -> |dot| <= ~4e10, exact in int64."""
    from .common import QUANT
    return np.floor(_planes(dim) * QUANT).astype(np.int64)


def srp_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket): N_TABLES rows per vector; bucket encodes
    (table_id << TABLE_BITS) | sign-bits so tables never collide."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(_planes_q())

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        planes = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = _quantize(pdf["embedding"])
            out_v, out_b = [], []
            for t in range(N_TABLES):
                signs = (m @ planes[t].T) >= 0
                sig = (signs.astype(np.int64)
                       << np.arange(TABLE_BITS, dtype=np.int64)).sum(axis=1)
                out_v.append(pdf["vec_id"].to_numpy())
                out_b.append((t << TABLE_BITS) | sig)
            yield pd.DataFrame({"vec_id": np.concatenate(out_v),
                                "bucket": np.concatenate(out_b)})

    return emb.select("vec_id", "embedding").mapInPandas(
        enc, "vec_id long, bucket long")


def srp_topk(emb: DataFrame, query_filter: str, k: int = 10) -> DataFrame:
    """Approximate cosine top-k: candidates share any table's bucket with
    the query (plus Hamming-1 probes), re-ranked exactly.
    Output schema matches cosine_topk (rank may differ on misses)."""
    buckets = srp_buckets(emb)
    base = (emb.select("vec_id", "embedding")
            .join(buckets, "vec_id")
            .withColumnRenamed("vec_id", "nid")
            .withColumnRenamed("embedding", "n_emb"))
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(TABLE_BITS)]
    q = (emb.filter(query_filter).select("vec_id", "embedding")
         .join(buckets, "vec_id")
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("q_emb"),
                 F.explode(F.array(*probes)).alias("bucket")))
    # equi-join on bucket; no forced broadcast — the query side is a
    # constant fraction of the table, so AQE picks broadcast at small
    # scale and a shuffle join once the query set outgrows it
    return _rerank(base.join(q, "bucket")
                   .filter(F.col("qid") != F.col("nid")), k)


# IVF (inverted-file) ANN — the centroid-partition scale path, the
# classic alternative to srp_topk's LSH buckets: a coarse quantizer of
# NLIST centroids partitions the base vectors into inverted lists; a
# query probes its NPROBE closest lists and re-ranks the union exactly.
# Training is a deterministic driver-side Lloyd run over a FIXED-SIZE
# sample (O(sample), never O(table)); assignment and probing are
# Arrow-batched mapInPandas with the centroid matrix captured in the
# closure (a few KB — broadcast-by-closure, no join).

NLIST = 64       # inverted lists (coarse centroids)
NPROBE = 8       # lists probed per query
IVF_SAMPLE = 2048
IVF_ITERS = 10


def ivf_centroids(emb: DataFrame, nlist: int = NLIST) -> np.ndarray:
    """(nlist, dim) float64, unit-normalized. Deterministic: the sample
    is the IVF_SAMPLE lowest values of a fixed multiplicative scramble
    of vec_id, k-means++-free Lloyd with first-distinct init, cosine
    (= dot on normalized) metric. At corpus scale pick nlist ~ sqrt(n)
    (and IVF_SAMPLE ~ 40*nlist) so lists stay executor-sized."""
    samp = (emb.select("vec_id", "embedding")
            .withColumn("h", F.pmod(F.col("vec_id") * F.lit(2654435761),
                                    F.lit(1_000_003)))
            .orderBy("h", "vec_id").limit(IVF_SAMPLE))
    m = np.stack(samp.toPandas()["embedding"].to_numpy()).astype(np.float64)
    return lloyd_unit_centroids(m, nlist)


def lloyd_unit_centroids(m: np.ndarray, nlist: int) -> np.ndarray:
    """Pure-numpy Lloyd over a fixed (sample, dim) float64 matrix —
    shared by the engine and the fixture oracle generator so both train
    identical centroids from the identical sample."""
    norms = np.linalg.norm(m, axis=1)
    m = m[norms > 0] / norms[norms > 0, None]
    k = min(nlist, len(m))
    cent = m[:k].copy()
    for _ in range(IVF_ITERS):
        assign = np.argmax(m @ cent.T, axis=1)
        for j in range(k):
            sel = m[assign == j]
            if len(sel):
                v = sel.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[j] = v / n
    return cent


def _list_assign(cent_q: np.ndarray, topn: int):
    """mapInPandas generator factory: (vec_id, embedding) -> one row per
    probed list (topn=1 for base assignment, NPROBE for queries).

    `cent_q` is the centroid matrix quantized to int64 (floor(c*QUANT)),
    so scores are exact integer dot products: assignment is batch-shape-
    independent (no float reduction-order effects on argmax near ties;
    ties resolve to the lowest list id via argmax/stable argsort) and
    reproducible by the fixture oracle."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        for pdf in batches:
            if not len(pdf):
                continue
            m = _quantize(pdf["embedding"])
            scores = m @ cent_q.T
            if topn == 1:
                lists = np.argmax(scores, axis=1)[:, None]
            else:
                t = min(topn, scores.shape[1])
                lists = np.argsort(-scores, axis=1, kind="stable")[:, :t]
            n, t = lists.shape
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), t),
                "list_id": lists.ravel().astype(np.int64)})
    return gen


def ivf_topk(emb: DataFrame, query_filter: str, k: int = 10,
             nlist: int = NLIST, nprobe: int = NPROBE) -> DataFrame:
    """Approximate cosine top-k via inverted lists; output schema
    matches cosine_topk/srp_topk (rank may differ on recall misses —
    rows-only driver check + recall test in pytest, like srp_topk)."""
    from .common import QUANT
    cent_q = np.floor(ivf_centroids(emb, nlist) * QUANT).astype(np.int64)
    base_lists = emb.select("vec_id", "embedding").mapInPandas(
        _list_assign(cent_q, 1), "vec_id long, list_id long")
    base = (emb.select("vec_id", "embedding").join(base_lists, "vec_id")
            .select(F.col("vec_id").alias("nid"),
                    F.col("embedding").alias("n_emb"), "list_id"))
    qdf = emb.filter(query_filter).select("vec_id", "embedding")
    q_lists = qdf.mapInPandas(
        _list_assign(cent_q, nprobe), "vec_id long, list_id long")
    q = (qdf.join(q_lists, "vec_id")
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("q_emb"), "list_id"))
    return _rerank(base.join(q, "list_id")
                   .filter(F.col("qid") != F.col("nid")), k)
