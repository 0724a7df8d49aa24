"""Independent-recomputation semantics checks for the batch-8 mlprep
queries: pure Python/numpy recomputes from the raw rows — catching the
class of bug the twin-SQL oracle cannot (the same wrong query on both
engines)."""

import collections
import hashlib
import math

import numpy as np
import pytest

import sparkplans.queries as Q
from sparkplans.sources import load_table
from tests.conftest import SF_DIR


def _toks(text):
    return text.strip().lower().split()


def _bucket(tok, mod):
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % mod


@pytest.fixture(scope="module")
def doc_rows(spark):
    return load_table(spark, SF_DIR, "documents").collect()


def test_quality_classifier_matches_python_model(spark, doc_rows):
    """Per-doc logit/prob/keep recomputed with hashlib + math only."""
    got = {
        r.doc_id: r
        for r in Q.REGISTRY["quality_classifier_scores"].fn(spark, SF_DIR).collect()
    }
    assert len(got) == len(doc_rows)
    for d in doc_rows:
        toks = _toks(d.text)
        swc = sum((_bucket(t, 32) * 37) % 21 - 10 for t in toks)
        z = -0.2 + swc / (100.0 * len(toks))
        prob = round(1.0 / (1.0 + math.exp(-z)), 6)
        r = got[d.doc_id]
        assert r.n_tokens == len(toks)
        assert r.logit == round(z, 6)
        assert r.prob == prob
        assert r.keep == int(prob >= 0.5)


def test_temperature_mixture_upsamples_small_sources(spark, doc_rows):
    """alpha=0.5 weights recomputed in python; temperature share must
    exceed the natural share exactly for below-average-size sources."""
    counts = collections.Counter()
    for d in doc_rows:
        counts[d.source] += len(_toks(d.text))
    rows = Q.REGISTRY["temperature_mixture_weights"].fn(spark, SF_DIR).collect()
    assert {r.source for r in rows} == set(counts)
    total = sum(counts.values())
    tws = {s: round(math.sqrt(n), 6) for s, n in counts.items()}
    tot_tw = round(sum(sorted(tws.values())), 6)  # decimal-exact sum
    for r in rows:
        assert r.n_tokens == counts[r.source]
        assert r.temp_weight == tws[r.source]
        assert abs(r.temp_share - tws[r.source] / tot_tw) < 1e-6
        assert abs(r.nat_share - counts[r.source] / total) < 1e-6
    # temperature flattens the mixture: shares closer to uniform than
    # natural shares, in aggregate
    n_src = len(counts)
    flat_t = sum(abs(r.temp_share - 1 / n_src) for r in rows)
    flat_n = sum(abs(r.nat_share - 1 / n_src) for r in rows)
    assert flat_t <= flat_n + 1e-9


def test_bigram_lm_matches_python_model(spark, doc_rows):
    """Interpolated bigram logprob recomputed from raw corpus counts."""
    uni = collections.Counter()
    bg = collections.Counter()
    per_doc = {}
    for d in doc_rows:
        toks = _toks(d.text)
        uni.update(toks)
        pairs = list(zip(toks, toks[1:]))
        bg.update(pairs)
        per_doc[d.doc_id] = pairs
    T = sum(uni.values())
    lp = {
        (p, c): round(
            math.log(0.75 * n / uni[p] + 0.25 * uni[c] / T), 6
        )
        for (p, c), n in bg.items()
    }
    got = {
        r.doc_id: r for r in Q.REGISTRY["bigram_lm_scores"].fn(spark, SF_DIR).collect()
    }
    for doc_id, pairs in per_doc.items():
        if not pairs:
            assert doc_id not in got
            continue
        r = got[doc_id]
        assert r.n_transitions == len(pairs)
        want = round(sum(lp[p] for p in pairs) / len(pairs), 6)
        assert abs(r.avg_logprob - want) < 2e-6, doc_id


def test_roc_auc_matches_numpy_rank_form(spark):
    """AUC recomputed with numpy average ranks (tie-aware)."""
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    probe = next(r.embedding for r in emb if r.vec_id == 0)
    p = np.array(probe, dtype=np.float64)

    def cos(v):
        v = np.array(v, dtype=np.float64)
        # mirror the fold order of F.aggregate / list_dot_product
        return round(
            float(np.dot(v, p)) / (math.sqrt(np.dot(v, v)) * math.sqrt(np.dot(p, p))),
            6,
        )

    rows = [(cos(r.embedding), 1 if r.label < 5 else 0) for r in emb if r.vec_id != 0]
    scores = np.array([s for s, _ in rows])
    ys = np.array([y for _, y in rows])
    # average ranks via double argsort on (score) with tie averaging
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores), dtype=np.float64)
    i = 0
    srt = scores[order]
    while i < len(srt):
        j = i
        while j < len(srt) and srt[j] == srt[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # average of 1-based ranks
        i = j
    npos = int(ys.sum())
    nneg = len(ys) - npos
    u = ranks[ys == 1].sum() - npos * (npos + 1) / 2.0
    want_auc = u / (npos * nneg)
    r = Q.REGISTRY["roc_auc_cosine"].fn(spark, SF_DIR).collect()[0]
    assert r.n_pos == npos and r.n_neg == nneg
    assert r.u2 == int(round(2 * u))
    assert abs(r.auc - round(want_auc, 6)) < 1e-6
    assert 0.0 <= r.auc <= 1.0


def test_decontamination_auto_routes_large_probe_off_driver(spark, monkeypatch):
    """The r5 verdict flagged semantic_decontamination's unconditional
    driver collect of a corpus-proportional probe slice.  The route is
    now automatic: above _DECONTAM_PROBE_BROADCAST_BYTES the probe set stays distributed and the plan switches to the
    exact probe-blocked cogroup (FlatMapCoGroupsInPandas + final max
    exchange); below it the broadcast-BLAS mapInPandas plan runs.
    Both routes must produce identical rows and stay oracle-green."""
    from sparkplans.queries import mlprep
    from tests.oracle_harness import duck_connection, compare

    name = "semantic_decontamination"
    spec = Q.REGISTRY[name]

    def plan_str():
        return (
            spec.fn(spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        )

    # default route at sf0.001: probe estimate is far below 64 MiB
    assert "FlatMapCoGroupsInPandas" not in plan_str()
    default_rows = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))

    monkeypatch.setattr(mlprep, "_DECONTAM_PROBE_BROADCAST_BYTES", 1)
    # planted "large" probe set: the estimate now exceeds the
    # (1-byte) threshold, so the route must flip off the driver
    assert "FlatMapCoGroupsInPandas" in plan_str()
    blocked_rows = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))
    assert blocked_rows == default_rows
    con = duck_connection(SF_DIR)
    r = compare(spark, con, spec.fn, spec.oracle, SF_DIR)
    con.close()
    assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
