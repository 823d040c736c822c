"""ANN quality measurement: recall of the approximate paths against
the exact cosine top-k baseline, pinned with floors so a refactor that
silently guts recall fails in CI instead of in production.

An ANN operator that is fast but returns the wrong neighbors is not
done — recall is the second axis of correctness for approximate
search. Floors are set from the operators' design points (single-probe
LSH with 16 buckets; IVF nprobe=1), not aspiration: LSH single-probe
recall is bounded by same-bucket collision probability, IVF by the
query's centroid owning its true neighbors.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.embed_ops import ann_lsh_topk, cosine_topk, ivf_topk

# recall is a statistical property: at the default test SF (sf0.001,
# ~4 queries x 5 neighbors) one boundary query swings the measurement
# by 25%; measure at sf0.01 (~40 queries) where the floors are stable
_RECALL_SF = "/root/testdata/sf0.01"


# the deep-rung hard corpus: isotropic dim-64 background plus, for every
# fixed query id, 5 planted neighbors at a controlled cosine. The
# background's query cosines are ~N(0, 1/8); over tens of thousands of
# draws their extreme tail reaches ~0.57, so plants below ~0.5 are not
# the exact top-5 and the corpus degenerates to the pure isotropic case
# (measured b=8, seed 20260816: Hamming-1 recall@5 0.575, Hamming-<=2
# 0.800).
_DIM = 64
_COS = 0.55
_K = 5
_QUERY_IDS = list(range(0, 2000, 50))


def build_hard_corpus(dst: str, n_total: int = 30000, seed: int = 20260816, plant_cos: float = _COS) -> None:
    """Write embeddings.parquet: planted hard pairs + isotropic noise.
    Deterministic per seed; plants live at vec_ids >= 50000 so the
    fixed query-id set and the dense background ids never collide."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    rows_id: list[int] = []
    vecs: list[np.ndarray] = []

    def unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v)

    # background: ids 0..n_bg-1 (includes the query ids themselves)
    n_plant = len(_QUERY_IDS) * _K
    n_bg = n_total - n_plant
    bg = rng.standard_normal((n_bg, _DIM))
    for i in range(n_bg):
        rows_id.append(i)
        vecs.append(unit(bg[i]))
    # planted neighbors: v = cos*q + sin*r with r ⊥ q
    by_id = {i: vecs[i] for i in _QUERY_IDS}
    sin = float(np.sqrt(1.0 - plant_cos * plant_cos))
    pid = 50000
    for q in _QUERY_IDS:
        qv = by_id[q]
        for _ in range(_K):
            r = rng.standard_normal(_DIM)
            r = unit(r - np.dot(r, qv) * qv)
            rows_id.append(pid)
            vecs.append(unit(plant_cos * qv + sin * r))
            pid += 1
    emb = [[float(x) for x in v] for v in vecs]
    table = pa.table(
        {
            "vec_id": pa.array(rows_id, pa.int64()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in rows_id], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(dst, "embeddings.parquet"))


def _topk_sets(df, k=None):
    rows = df.collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    return hits / total if total else 0.0


def test_ann_lsh_recall_floor(spark):
    exact = _topk_sets(cosine_topk(spark, _RECALL_SF))
    approx = _topk_sets(ann_lsh_topk(spark, _RECALL_SF))
    r = _recall(approx, exact)
    # 4 OR'd probe sets x 4 Knuth-mix planes, Hamming-1 multi-probe,
    # exact re-rank over deduped candidates: measured 0.96 at sf0.01 /
    # 0.94 at sf0.1 (single-probe single-set was 0.20). Floor 0.80
    # leaves headroom for a testdata redraw while catching any
    # recall-gutting refactor.
    assert r >= 0.80, f"LSH recall {r:.3f} below design floor"


def test_ivf_recall_floor(spark):
    exact = _topk_sets(cosine_topk(spark, _RECALL_SF))
    approx = _topk_sets(ivf_topk(spark, _RECALL_SF))
    r = _recall(approx, exact)
    # k-means quantizer (20 centroids, 2 Lloyd rounds), nprobe=8:
    # measured 0.94 at sf0.01 / 0.86 at sf0.1. The old per-label
    # quantizer capped at ~0.44 because only 8% of true neighbors
    # share the query's label.
    assert r >= 0.80, f"IVF recall {r:.3f} below design floor"


def test_exact_is_self_consistent(spark, sf_dir):
    """The baseline's own sanity: every query returns k neighbors and
    never itself."""
    df = cosine_topk(spark, sf_dir)
    assert df.where(F.col("query_id") == F.col("neighbor_id")).count() == 0
    per_q = df.groupBy("query_id").count().agg(F.min("count"), F.max("count")).collect()[0]
    assert per_q[0] == per_q[1]  # uniform k


def test_ann_deep_rung_hard_case_recall_floor(spark, tmp_path_factory):
    """r16 (r15 verdict item 3): recall evidence at a DEEP rung on a
    HARD corpus — previously the 0.80 floor was pinned only at the b=4
    ladder floor, and sf1's deep-rung neighbors are near-clones
    (easy). The corpus (build_hard_corpus, deterministic seed): 17,000
    dim-64 vectors force rung b=8; every fixed query gets 5 planted
    neighbors at cosine 0.55 (per-plane sign agreement ~0.69 — far
    from the ~0.95 near-clone regime; plants below ~0.5 are dominated
    by the isotropic background's extreme tail at this (n, dim)). The
    planted set IS the exact top-5 (asserted), so this pins the
    Hamming-<=2 deep-rung multiprobe escalation end to end: with
    Hamming-1 this corpus measures 0.575 via the isotropic variant and
    ~0.80 here — the escalation is what clears the floor (measured
    0.895 at this seed; deterministic, not statistical). ivf_topk on
    the same fixture holds the same floor (measured 0.900)."""
    import shutil

    from monday_etl_automation_spark.plans import embed_ops as eo
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches

    d = str(tmp_path_factory.mktemp("ann_hard"))
    for f in os.listdir("/root/testdata/sf0.001"):
        if f != "embeddings.parquet":
            shutil.copy(os.path.join("/root/testdata/sf0.001", f), os.path.join(d, f))
    build_hard_corpus(d, 17000)
    assert eo._ann_modulus(17000) == 256  # genuinely at the deep rung
    try:
        exact = _topk_sets(cosine_topk(spark, d))
        planted = sum(1 for nb in exact.values() for v in nb if v >= 50000)
        total = sum(len(nb) for nb in exact.values())
        assert planted == total, "planted pairs must be the exact top-5"
        approx = _topk_sets(ann_lsh_topk(spark, d))
        r = _recall(approx, exact)
        assert r >= 0.80, f"deep-rung hard-case recall {r:.3f} below floor"
        r_ivf = _recall(_topk_sets(ivf_topk(spark, d)), exact)
        assert r_ivf >= 0.80, f"deep-rung IVF recall {r_ivf:.3f} below floor"
    finally:
        # this fixture dir registered its own views/artifacts — restore
        clear_artifact_caches(spark)
        spark._mea_views_sf_dir = None
