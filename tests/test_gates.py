"""Size gates (plans/stats.py): both sides of every knee on small data.

Each gate picks a plan by input size, never a result, so forcing its
knee to 0 (every input above) and to LARGE (every input below) must
give identical rows. The DEBUG decision log proves the forced side
was actually taken.
"""

import itertools
import logging
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataframe_spark.plans import stats
from dataframe_spark.plans.stats import KNEES, LARGE


def _rows(sdf, ndigits=None):
    def norm(v):
        if isinstance(v, float) and ndigits is not None:
            return round(v, ndigits)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    return sorted(tuple(norm(v) for v in r) for r in sdf.collect())


def _shingle_kernel(spark, docs, sf_dir):
    from dataframe_spark.operators import dedup

    return {"jaccard": _rows(dedup.jaccard_pairs(docs, "doc_id", "text", 3, 0.5))}


def _minhash_sig_kernel(spark, docs, sf_dir):
    from dataframe_spark.operators import dedup

    return {
        "minhash": _rows(dedup.minhash_dedup_pairs(docs, "doc_id", "text", 3)),
        "signatures": _rows(dedup.minhash_signatures(docs, "doc_id", "text", 3)),
    }


def _semdedup_vectors():
    rng = random.Random(77)
    rows = []
    for i in range(120):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, [round(x, 3) for x in base]))
        if i % 4 == 0:  # a near-duplicate partner
            rows.append((1000 + i, [round(x * 1.5, 3) for x in base]))
    return rows


def _semdedup_gemm(spark, docs, sf_dir):
    from dataframe_spark.operators import similarity

    rows = _semdedup_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semdedup(df, "vec_id", "embedding", k=4, tau=0.9, max_iter=2)
    return {"semdedup": _rows(out)}


def _dedup_scale(spark, docs, sf_dir):
    from dataframe_spark.operators import dedup
    from dataframe_spark.tables import load_table

    parts = load_table(spark, sf_dir, "part")
    return {
        "jaccard": _rows(dedup.jaccard_pairs(docs, "doc_id", "text", 3, 0.5)),
        "minhash": _rows(dedup.minhash_dedup_pairs(docs, "doc_id", "text", 3)),
        "edit_distance": _rows(
            dedup.edit_distance_pairs(parts, "p_partkey", "p_name", k=2, q=2)
        ),
    }


def _contamination_bench_broadcast(spark, docs, sf_dir):
    from dataframe_spark.operators import dedup

    bench = docs.where(F.col("doc_id") % 7 == 0)
    out = dedup.contamination_scores(docs, "doc_id", "text", bench, "text", n=3)
    return {"contamination": _rows(out)}


def _lm_broadcast(spark, docs, sf_dir):
    from dataframe_spark.operators import text as T

    lm, totals = T.unigram_lm(docs, "text", top_v=200)
    bilm, unilm, btotals = T.bigram_lm(docs, "text", top_v=100, top_b=1000)
    nd = 9  # the join strategy moves the per-doc float summation order
    return {
        "unigram": _rows(T.perplexity_score(docs, "doc_id", "text", lm, totals), nd),
        "bigram": _rows(
            T.bigram_perplexity_score(docs, "doc_id", "text", bilm, unilm, btotals),
            nd,
        ),
    }


def _quantile_buffer(spark, docs, sf_dir):
    from dataframe_spark.core import DataFrame
    from dataframe_spark.operators import scale
    from dataframe_spark.operators import text as T
    from dataframe_spark.operators.quantiles import winsorize
    from dataframe_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    g = ["l_returnflag"]
    v = "l_extendedprice"
    nd = 9  # exact quantiles on both sides; float sums may differ in ulps
    return {
        "grouped": _rows(DataFrame(li).group_by(g).quantiles(v, [0.1, 0.5]).df, nd),
        "summarize": _rows(DataFrame(li).summarize().df, nd),
        "impute": _rows(DataFrame(li).impute([v], "median").df, nd),
        "winsorize": _rows(winsorize(li, v, g, 0.1, 0.9), nd),
        "robust_scale": _rows(scale.robust_scale(li, v, g), nd),
        "mad_outliers": _rows(scale.mad_outliers(li, v, g), nd),
        "ppl_buckets": _rows(T.ppl_buckets(docs, "doc_id", "text", "lang", top_v=200), nd),
    }


CASES = {
    "shingle_kernel": _shingle_kernel,
    "minhash_sig_kernel": _minhash_sig_kernel,
    "semdedup_gemm": _semdedup_gemm,
    "dedup_scale": _dedup_scale,
    "contamination_bench_broadcast": _contamination_bench_broadcast,
    "lm_broadcast": _lm_broadcast,
    "quantile_buffer": _quantile_buffer,
}


def test_every_gate_has_a_case():
    assert set(CASES) == set(KNEES)


def _near_tau_ids(rows, tau, eps=1e-9):
    """Ids in any pair whose float64 cosine lies within ``eps`` of
    tau: the documented GEMM-vs-expression summation-order window."""
    out = set()
    rows = [(i, np.asarray(u, np.float32).astype(np.float64)) for i, u in rows]
    for (i, u), (j, w) in itertools.combinations(rows, 2):
        nrm = float(np.linalg.norm(u) * np.linalg.norm(w))
        if nrm and abs(float(u @ w) / nrm - tau) <= eps:
            out |= {i, j}
    return out


def _run(spark, docs, sf_dir, gate, knee, monkeypatch, caplog):
    monkeypatch.setitem(KNEES, gate, knee)
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger=stats.__name__):
        out = CASES[gate](spark, docs, sf_dir)
    sides = {
        r.args[3] for r in caplog.records
        if r.name == stats.__name__ and r.args[0] == gate
    }
    return out, sides


@pytest.mark.parametrize("gate", sorted(CASES))
def test_gate_sides_agree(spark, docs, sf_dir, gate, monkeypatch, caplog):
    spark.catalog.clearCache()
    run = lambda knee: _run(spark, docs, sf_dir, gate, knee, monkeypatch, caplog)
    hi, hi_sides = run(0)
    lo, lo_sides = run(LARGE)
    assert hi_sides == {"above"} and lo_sides == {"below"}
    assert all(rows for rows in lo.values()), gate  # non-trivial output
    if gate == "semdedup_gemm":
        skip = _near_tau_ids(_semdedup_vectors(), 0.9)
        hi = {k: [r for r in v if r[0] not in skip] for k, v in hi.items()}
        lo = {k: [r for r in v if r[0] not in skip] for k, v in lo.items()}
        assert any(not keep for _, _, keep in lo["semdedup"])  # dups found
    assert hi == lo


def test_quantile_knee_routes_every_quantile_verb(spark, docs, sf_dir, monkeypatch):
    """One knee decides the buffered-vs-distributed side for every
    grouped quantile verb: with ``quantile_buffer`` at 0 all of them
    take exact_quantiles_grouped, at LARGE none of them does."""
    from dataframe_spark.core import DataFrame
    from dataframe_spark.operators import quantiles, scale
    from dataframe_spark.operators import text as T
    from dataframe_spark.tables import load_table

    calls = []
    real_dist = quantiles.exact_quantiles_grouped
    real_buf = quantiles.grouped_quantiles_buffered

    def spy(name, fn):
        def wrapped(*a, **kw):
            calls.append(name)
            return fn(*a, **kw)

        return wrapped

    monkeypatch.setattr(quantiles, "exact_quantiles_grouped", spy("dist", real_dist))
    monkeypatch.setattr(quantiles, "grouped_quantiles_buffered", spy("buf", real_buf))
    li = load_table(spark, sf_dir, "lineitem")
    g, v = ["l_returnflag"], "l_extendedprice"
    verbs = {
        "GroupedDataFrame.quantiles":
            lambda: DataFrame(li).group_by(g).quantiles(v, [0.5]),
        "robust_scale": lambda: scale.robust_scale(li, v, g),
        "mad_outliers": lambda: scale.mad_outliers(li, v, g),
        "winsorize": lambda: quantiles.winsorize(li, v, g),
        "ppl_buckets": lambda: T.ppl_buckets(docs, "doc_id", "text", "lang"),
    }
    for knee, side in ((0, "dist"), (LARGE, "buf")):
        monkeypatch.setitem(KNEES, "quantile_buffer", knee)
        for name, build in verbs.items():
            calls.clear()
            build()
            assert calls and set(calls) == {side}, (name, knee, calls)
