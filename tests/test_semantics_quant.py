"""Independent-recomputation semantics checks for the temporal/quant
query batches.  The DuckDB oracle proves Spark and DuckDB agree; these
prove the SHARED algorithm is the intended one, by recomputing each
result in plain Python/numpy from the raw rows — the class of bug a
twin-SQL oracle cannot catch (the same wrong query on both engines).
"""

import collections
import datetime

import numpy as np
import pytest

import sparkplans.queries as Q
from sparkplans.sources import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_rows(spark):
    return load_table(spark, SF_DIR, "events").collect()


def test_pareto_frontier_dominance_sound_and_complete(spark):
    """Returned rows are exactly the non-dominated orders per customer
    (minimize price, maximize recency; brute-force checked)."""
    orders = load_table(spark, SF_DIR, "orders").collect()
    by_cust = collections.defaultdict(list)
    for r in orders:
        by_cust[r.o_custkey].append(r)
    want = set()
    for ck, rows in by_cust.items():
        for a in rows:
            dominated = any(
                (b.o_totalprice < a.o_totalprice and b.o_orderdate >= a.o_orderdate)
                for b in rows
            )
            if not dominated:
                want.add((ck, a.o_orderkey))
    got = {
        (r.o_custkey, r.o_orderkey)
        for r in Q.REGISTRY["pareto_frontier_orders"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_activity_streaks_match_python_runs(spark, events_rows):
    days = collections.defaultdict(set)
    for r in events_rows:
        days[r.user_id].add(r.ts.date())
    want = set()
    for u, ds in days.items():
        run = []
        for d in sorted(ds):
            if run and (d - run[-1]).days == 1:
                run.append(d)
            else:
                if len(run) >= 3:
                    want.add((u, len(run), run[0], run[-1]))
                run = [d]
        if len(run) >= 3:
            want.add((u, len(run), run[0], run[-1]))
    got = {
        (r.user_id, r.streak_days, r.streak_start, r.streak_end)
        for r in Q.REGISTRY["activity_streaks"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_weighted_median_matches_numpy(spark):
    li = load_table(spark, SF_DIR, "lineitem").collect()
    by_flag = collections.defaultdict(list)
    for r in li:
        by_flag[r.l_returnflag].append((r.l_extendedprice, r.l_quantity))
    got = {
        r.l_returnflag: r.weighted_median
        for r in Q.REGISTRY["weighted_median_price"].fn(spark, SF_DIR).collect()
    }
    for flag, pairs in by_flag.items():
        pairs.sort()
        v = np.array([p[0] for p in pairs])
        w = np.array([p[1] for p in pairs])
        cum = np.cumsum(w)
        want = v[np.searchsorted(cum, cum[-1] / 2.0)]
        assert got[flag] == pytest.approx(want), flag


def test_max_drawdown_matches_python(spark, events_rows):
    series = collections.defaultdict(list)
    for r in events_rows:
        series[r.event_type].append((r.ts, r.event_id, r.value))
    got = {
        r.event_type: (r.max_abs_drawdown, r.max_rel_drawdown)
        for r in Q.REGISTRY["max_drawdown"].fn(spark, SF_DIR).collect()
    }
    for t, rows in series.items():
        rows.sort()
        peak, mabs, mrel = -float("inf"), -float("inf"), -float("inf")
        for _, _, v in rows:
            peak = max(peak, v)
            mabs = max(mabs, peak - v)
            mrel = max(mrel, (peak - v) / peak)
        assert got[t][0] == pytest.approx(mabs, abs=1e-6), t
        assert got[t][1] == pytest.approx(mrel, abs=1e-6), t


def test_ohlc_bars_match_python(spark, events_rows):
    bars = collections.defaultdict(list)
    for r in events_rows:
        bars[(r.event_type, r.ts.date())].append((r.ts, r.event_id, r.value))
    got = {
        (r.event_type, r.day): (r.open, r.high, r.low, r.close, r.n_obs)
        for r in Q.REGISTRY["ohlc_daily_bars"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(bars)
    for k, rows in bars.items():
        rows.sort()
        vals = [v for _, _, v in rows]
        assert got[k] == (rows[0][2], max(vals), min(vals), rows[-1][2], len(rows)), k


def test_max_concurrency_matches_python_sweep(spark, events_rows):
    spans = collections.defaultdict(dict)
    for r in events_rows:
        day = r.ts.date()
        cur = spans[day].get(r.user_id)
        spans[day][r.user_id] = (
            (r.ts, r.ts) if cur is None else (min(cur[0], r.ts), max(cur[1], r.ts))
        )
    got = {
        r.day: r.max_concurrent
        for r in Q.REGISTRY["max_concurrency_daily"].fn(spark, SF_DIR).collect()
    }
    for day, users in spans.items():
        deltas = []
        for s, e in users.values():
            deltas.append((s, 1))
            deltas.append((e, -1))
        # starts before ends at equal timestamps (closed intervals)
        deltas.sort(key=lambda x: (x[0], -x[1]))
        cur = mx = 0
        for _, d in deltas:
            cur += d
            mx = max(mx, cur)
        assert got[day] == mx, day


def test_cumulative_distinct_users_matches_python(spark, events_rows):
    first = {}
    for r in events_rows:
        d = r.ts.date()
        if r.user_id not in first or d < first[r.user_id]:
            first[r.user_id] = d
    got = sorted(
        (r.day, r.new_users, r.cum_users)
        for r in Q.REGISTRY["cumulative_distinct_users"].fn(spark, SF_DIR).collect()
    )
    per_day = collections.Counter(first.values())
    want, cum = [], 0
    for day in sorted(per_day):
        cum += per_day[day]
        want.append((day, per_day[day], cum))
    assert got == want
    assert got[-1][2] == len(first)  # total distinct users


def test_value_histogram_matches_numpy(spark, events_rows):
    by_type = collections.defaultdict(list)
    for r in events_rows:
        by_type[r.event_type].append(r.value)
    got = collections.defaultdict(dict)
    for r in Q.REGISTRY["value_histogram"].fn(spark, SF_DIR).collect():
        got[r.event_type][r.bin] = r.n
    for t, vals in by_type.items():
        lo, hi = min(vals), max(vals)
        if hi <= lo:
            assert t not in got
            continue
        bins = collections.Counter(
            min(int((v - lo) * 20 / (hi - lo)), 19) for v in vals
        )
        assert got[t] == dict(bins), t


def test_benford_first_digit_matches_python(spark):
    orders = load_table(spark, SF_DIR, "orders").collect()
    digits = collections.Counter(
        str(int(r.o_totalprice))[0] for r in orders if r.o_totalprice >= 1
    )
    got = {r.first_digit: r.n for r in
           Q.REGISTRY["benford_first_digit"].fn(spark, SF_DIR).collect()}
    assert got == dict(digits)


def test_event_dow_chisq_terms_match_python(spark, events_rows):
    obs = collections.Counter(
        (r.event_type, r.ts.isoweekday()) for r in events_rows
    )
    row_tot = collections.Counter()
    col_tot = collections.Counter()
    for (t, d), n in obs.items():
        row_tot[t] += n
        col_tot[d] += n
    grand = sum(obs.values())
    got = {(r.event_type, r.dow): (r.obs, r.expected, r.chi2_term)
           for r in Q.REGISTRY["event_dow_chisq"].fn(spark, SF_DIR).collect()}
    assert set(got) == set(obs)
    for k, n in obs.items():
        t, d = k
        exp = row_tot[t] * col_tot[d] / grand
        chi = (n - exp) ** 2 / exp
        gn, ge, gc = got[k]
        assert gn == n and ge == pytest.approx(exp, abs=1e-6)
        assert gc == pytest.approx(chi, abs=1e-6)


def test_time_weighted_avg_matches_python(spark, events_rows):
    series = collections.defaultdict(list)
    for r in events_rows:
        series[r.event_type].append((r.ts, r.event_id, r.value))
    got = {r.event_type: (r.total_secs, r.twa)
           for r in Q.REGISTRY["time_weighted_avg"].fn(spark, SF_DIR).collect()}
    for t, rows in series.items():
        rows.sort()
        tot = num = 0
        for (ts1, _, v), (ts2, _, _) in zip(rows, rows[1:]):
            dur = int(ts2.timestamp()) - int(ts1.timestamp())
            tot += dur
            num += v * dur
        assert got[t][0] == tot, t
        assert got[t][1] == pytest.approx(num / tot, abs=1e-5), t


def test_time_to_convert_matches_python(spark, events_rows):
    clicks = [(r.user_id, r.ts) for r in events_rows if r.event_type == "click"]
    purch = collections.defaultdict(list)
    for r in events_rows:
        if r.event_type == "purchase":
            purch[r.user_id].append(r.ts)
    deltas = []
    for u, ts in clicks:
        cands = [
            int(p.timestamp()) - int(ts.timestamp())
            for p in purch.get(u, [])
            if p > ts and (p - ts) <= datetime.timedelta(hours=24)
        ]
        if cands:
            deltas.append(min(cands))
    row = Q.REGISTRY["time_to_convert_percentiles"].fn(spark, SF_DIR).first()
    assert row.n_converting_clicks == len(deltas)
    if deltas:
        assert row.p50_s == pytest.approx(
            np.percentile(deltas, 50, method="linear"), abs=1e-6
        )
        assert row.p90_s == pytest.approx(
            np.percentile(deltas, 90, method="linear"), abs=1e-6
        )


def test_rolling_corr_matches_numpy(spark, events_rows):
    daily = collections.defaultdict(lambda: [0, 0])
    for r in events_rows:
        d = r.ts.date()
        if r.event_type == "click":
            daily[d][0] += 1
        elif r.event_type == "purchase":
            daily[d][1] += 1
    days = sorted(daily)
    got = {r.day: r.corr7 for r in
           Q.REGISTRY["rolling_corr_7d"].fn(spark, SF_DIR).collect()}
    import math
    for i in range(6, len(days)):
        win = days[i - 6:i + 1]
        c = np.array([daily[d][0] for d in win], dtype=float)
        p = np.array([daily[d][1] for d in win], dtype=float)
        if c.std() == 0 or p.std() == 0:
            continue
        want = float(np.corrcoef(c, p)[0, 1])
        assert got[days[i]] == pytest.approx(want, abs=2e-6), days[i]


def test_copurchase_rules_match_python(spark):
    li = load_table(spark, SF_DIR, "lineitem").collect()
    baskets = collections.defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    item = collections.Counter()
    pair = collections.Counter()
    for parts in baskets.values():
        for a in parts:
            item[a] += 1
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair[(a, b)] += 1
    n_orders = len(baskets)
    want = {}
    for (a, b), n_ab in pair.items():
        if n_ab >= 2:
            want[(a, b)] = (
                n_ab, item[a], item[b],
                round(n_ab / item[a], 6),
                round(n_ab * n_orders / (item[a] * item[b]), 6),
            )
    got = {(r.part_a, r.part_b): (r.n_ab, r.n_a, r.n_b, r.confidence_ab, r.lift)
           for r in Q.REGISTRY["copurchase_rules"].fn(spark, SF_DIR).collect()}
    assert got == want


def test_source_vocab_jaccard_matches_python(spark):
    docs = load_table(spark, SF_DIR, "documents").collect()
    vocab = collections.defaultdict(set)
    for r in docs:
        vocab[r.source].update(t for t in r.text.strip().split() if t)
    got = {(r.source_a, r.source_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
           for r in Q.REGISTRY["source_vocab_jaccard"].fn(spark, SF_DIR).collect()}
    srcs = sorted(vocab)
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            inter = len(vocab[a] & vocab[b])
            if inter:
                want[(a, b)] = (
                    inter, len(vocab[a]), len(vocab[b]),
                    round(inter / len(vocab[a] | vocab[b]), 6),
                )
    assert got == want


def test_rrf_hybrid_retrieval_matches_python(spark):
    docs = load_table(spark, SF_DIR, "documents").collect()
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    toks = {r.doc_id: set(t for t in r.text.strip().split() if t) for r in docs}
    probe_t = toks[0]
    overlap = {d: len(ts & probe_t) for d, ts in toks.items()
               if d != 0 and ts & probe_t}
    lex_sorted = sorted(overlap.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    lex_rank = {d: i + 1 for i, (d, _) in enumerate(lex_sorted)}
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb}
    pv = vecs[0]
    cos = {
        v: round(float(np.dot(x, pv) / (np.linalg.norm(x) * np.linalg.norm(pv))), 6)
        for v, x in vecs.items() if v != 0
    }
    sem_sorted = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    sem_rank = {v: i + 1 for i, (v, _) in enumerate(sem_sorted)}
    fused = {}
    for d in set(lex_rank) | set(sem_rank):
        s = 0.0
        if d in lex_rank:
            s += 1.0 / (60 + lex_rank[d])
        if d in sem_rank:
            s += 1.0 / (60 + sem_rank[d])
        fused[d] = round(s, 9)
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.doc_id, r.rrf_score) for r in
           Q.REGISTRY["rrf_hybrid_retrieval"].fn(spark, SF_DIR).collect()]
    assert [(d, pytest.approx(s, abs=2e-9)) for d, s in want] == got


def test_ks_doc_length_drift_matches_scipy_style_python(spark):
    docs = load_table(spark, SF_DIR, "documents").collect()
    a = sorted(r.n_chars for r in docs if r.source == "src0")
    b = sorted(r.n_chars for r in docs if r.source == "src1")
    grid = sorted(set(a) | set(b))
    import bisect
    ks = max(
        abs(bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b))
        for v in grid
    )
    row = Q.REGISTRY["ks_doc_length_drift"].fn(spark, SF_DIR).first()
    assert (row.n_a, row.n_b) == (len(a), len(b))
    assert row.ks_stat == pytest.approx(ks, abs=1e-6)


def test_psi_value_drift_matches_python(spark, events_rows):
    import math
    half = [("a" if r.ts < datetime.datetime(2024, 1, 16) else "b", r.value)
            for r in events_rows]
    vals = [v for _, v in half]
    lo, hi = min(vals), max(vals)
    na = collections.Counter()
    nb = collections.Counter()
    for h, v in half:
        b = min(int((v - lo) * 10 / (hi - lo)), 9)
        (na if h == "a" else nb)[b] += 1
    ta, tb = sum(na.values()), sum(nb.values())
    psi = sum(
        (na[b] / ta - nb[b] / tb) * math.log((na[b] / ta) / (nb[b] / tb))
        for b in set(na) & set(nb)
    )
    row = Q.REGISTRY["psi_value_drift"].fn(spark, SF_DIR).first()
    assert row.n_bins == len(set(na) & set(nb))
    assert row.psi == pytest.approx(psi, abs=1e-6)


def test_revenue_gini_matches_numpy(spark):
    orders = load_table(spark, SF_DIR, "orders").collect()
    spend = collections.defaultdict(float)
    for r in orders:
        spend[r.o_custkey] += round(r.o_totalprice, 2)
    s = np.sort(np.array(list(spend.values())))
    n = len(s)
    i = np.arange(1, n + 1)
    want = float(((2 * i - n - 1) * s).sum() / (n * s.sum()))
    row = Q.REGISTRY["revenue_gini"].fn(spark, SF_DIR).first()
    assert row.n_customers == n
    assert row.gini == pytest.approx(want, abs=1e-5)


def test_psi_degenerate_extent_single_row(spark, tmp_path):
    """ADVICE round-1: flat (or empty) data used to return a 0-row
    frame while the SQL oracle's aggregate-without-GROUP-BY emits one
    row (NULL psi, 0 bins).  The degenerate branch must match."""
    import datetime

    flat = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 10 + i), 5.0) for i in range(8)],
        "ts timestamp_ntz, value double",
    )
    flat.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    row = Q.REGISTRY["psi_value_drift"].fn(spark, str(tmp_path)).collect()
    assert len(row) == 1
    assert row[0]["psi"] is None
    assert row[0]["n_bins"] == 0


def test_weighted_median_adaptive_paths_identical(spark, monkeypatch):
    """The size-adaptive switch (naive window below
    _MEDIAN_TWO_PHASE_ROWS, two-phase bucket plan above) must be
    invisible in the result: force each path at the same SF and
    require identical rows."""
    import sparkplans.queries as Q
    from sparkplans.queries import quant

    fn = Q.REGISTRY["weighted_median_price"].fn
    key = "_MEDIAN_TWO_PHASE_ROWS"
    monkeypatch.setattr(quant, key, 10**12)  # force naive window path
    naive = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(quant, key, 1)  # force two-phase bucket path
    two_phase = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert naive == two_phase and len(naive) == 3
