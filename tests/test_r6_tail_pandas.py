"""Round-6 independent numpy/pandas cross-checks for
never-driver-adjudicated tail families (q285-q351 band).

Oracle parity proves Spark == DuckDB; these prove the FORMULAS are
the standard definitions via a genuinely different computation path:
the absorbing-chain Neumann series is checked against numpy's exact
matrix inverse, the unrolled Durbin-Levinson algebra against solved
Yule-Walker systems, the rank-target quantile joins against direct
numpy order statistics, the FFD lag taps against a convolution, the
Hill rank joins against a plain descending sort.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from crypto_prediction_etl_spark.plans import registry

registry.load_all()


def _prnd(x, d: int):
    s = float(10**d)
    return np.floor(np.asarray(x, dtype="float64") * s + 0.5001) / s


@pytest.fixture(scope="module")
def candles_by_id(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.indicators_q import candles

    pdf = candles(spark, sf_dir).orderBy("id", "dt").toPandas()
    return {k: g.reset_index(drop=True) for k, g in pdf.groupby("id")}


def _log_rets(g: pd.DataFrame, digits: int = 9) -> np.ndarray:
    close = g["close"].astype("float64").to_numpy()
    return _prnd(np.log(close[1:] / close[:-1]), digits)


def test_absorbing_markov_matches_inverse(spark, sf_dir):
    """Spark runs the truncated Neumann series as iterated tiny equi
    joins; numpy computes BOTH the same truncated series (tight
    match) and the exact fundamental matrix (I-Q)^{-1}1, asserting
    the truncation sits inside its geometric tail bound."""
    from crypto_prediction_etl_spark.plans.events_q import _Q304_TERMS
    from crypto_prediction_etl_spark.sources.readers import table

    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["nxt"] = ev.groupby("user_id")["event_type"].shift(-1)
    seq = ev.dropna(subset=["nxt"])
    seq = seq[seq["event_type"] != "purchase"]
    states = sorted(seq["event_type"].unique())
    idx = {s: i for i, s in enumerate(states)}
    counts = (
        seq.groupby(["event_type", "nxt"]).size().rename("c").reset_index()
    )
    totals = counts.groupby("event_type")["c"].transform("sum")
    counts["p"] = counts["c"] / totals
    q = np.zeros((len(states), len(states)))
    for _, row in counts.iterrows():
        if row["nxt"] != "purchase":
            q[idx[row["event_type"]], idx[row["nxt"]]] = row["p"]
    ones = np.ones(len(states))
    # truncated series exactly as the query computes it
    series = ones.copy()
    term = ones.copy()
    for _ in range(_Q304_TERMS):
        term = q @ term
        series = series + term
    exact = np.linalg.solve(np.eye(len(states)) - q, ones)
    out = (
        registry.QUERIES["q304_absorbing_markov"](spark, sf_dir)
        .toPandas()
        .set_index("start_state")["expected_steps_to_purchase"]
    )
    rho = np.max(np.sum(q, axis=1))
    tail_bound = rho ** (_Q304_TERMS + 1) / (1.0 - rho)
    for s in states:
        assert abs(out[s] - series[idx[s]]) < 1e-3
        assert abs(exact[idx[s]] - series[idx[s]]) <= tail_bound + 1e-9


def test_fracdiff_matches_convolution(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _FFD_K,
        _ffd_weights,
    )

    w = np.array(_ffd_weights())
    out = (
        registry.QUERIES["q338_fracdiff"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    assert len(out) > 0
    for sym, g in out.groupby("id"):
        c2 = _prnd(candles_by_id[sym]["close"].to_numpy(), 2)
        # full convolution; valid FFD values start once K taps fill
        conv = np.convolve(c2, w, mode="full")[: len(c2)]
        rn = np.arange(1, len(c2) + 1)
        keep = (rn >= _FFD_K) & (rn % 97 == 1)
        exp = conv[keep]
        got = g["ffd_close"].to_numpy()
        assert len(got) == len(exp)
        assert np.allclose(got, exp, atol=2e-5)


def test_wasserstein_matches_sorted_quantiles(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _W1_GRID

    m = _W1_GRID
    qs = {}
    for sym, g in candles_by_id.items():
        r = np.sort(_log_rets(g))
        n = len(r)
        k = np.arange(1, m + 1)
        rk = ((2 * k - 1) * n + (2 * m - 1)) // (2 * m)
        qs[sym] = r[rk - 1]
    out = registry.QUERIES["q343_wasserstein"](spark, sf_dir).toPandas()
    assert len(out) == len(qs) * (len(qs) - 1) // 2
    for _, row in out.iterrows():
        w1 = np.mean(np.abs(qs[row["id_a"]] - qs[row["id_b"]]))
        assert abs(row["w1_distance"] - w1) < 1e-8


def test_pacf_matches_yule_walker(spark, sf_dir, candles_by_id):
    """The query unrolls Durbin-Levinson into closed-form algebra;
    numpy solves each order-k Yule-Walker Toeplitz system directly —
    pacf_k is the last AR(k) coefficient."""
    out = (
        registry.QUERIES["q346_pacf_durbin"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        x = _log_rets(g)
        d = x - x.mean()
        denom = np.sum(d * d)
        r = np.array(
            [np.sum(d[k:] * d[:-k]) / denom for k in (1, 2, 3, 4)]
        )
        for k in (1, 2, 3, 4):
            row0 = np.concatenate(([1.0], r[: k - 1]))
            toep = np.array(
                [
                    [row0[abs(i - j)] for j in range(k)]
                    for i in range(k)
                ]
            )
            phi = np.linalg.solve(toep, r[:k])
            assert abs(out.loc[sym, f"pacf_{k}"] - phi[-1]) < 1e-5, (
                sym,
                k,
            )


def test_hill_matches_descending_sort(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _HILL_K

    out = (
        registry.QUERIES["q350_hill_tail_index"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    assert len(out) > 0
    for sym in out.index:
        aret = np.abs(_log_rets(candles_by_id[sym]))
        aret = np.sort(aret[aret > 0.0])[::-1]
        assert len(aret) >= _HILL_K + 1
        x_k1 = aret[_HILL_K]
        h = float(np.mean(np.log(aret[:_HILL_K] / x_k1)))
        assert abs(out.loc[sym, "tail_threshold"] - x_k1) < 1e-9
        assert abs(out.loc[sym, "hill_h"] - h) < 1e-5
        assert abs(out.loc[sym, "tail_alpha"] - 1.0 / h) < 1e-3


def test_ljung_box_matches_numpy_acf(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q318_CHI2_CRIT,
        _Q318_LAGS,
    )

    out = (
        registry.QUERIES["q318_ljung_box"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        x = np.log(close[1:] / close[:-1])  # q318 uses raw log returns
        n = len(x)
        d = x - x.mean()
        denom = np.sum(d * d)
        q = 0.0
        for k in range(1, _Q318_LAGS + 1):
            rho = np.sum(d[k:] * d[:-k]) / denom
            q += rho * rho / (n - k)
        q *= n * (n + 2.0)
        assert out.loc[sym, "n_obs"] == n
        assert abs(out.loc[sym, "lb_q"] - q) < 1e-4
        assert out.loc[sym, "reject_iid"] == int(q > _Q318_CHI2_CRIT)


def test_spearman_matches_rank_pearson(spark, sf_dir, candles_by_id):
    """The query's sufficient-statistics algebra vs numpy's own
    corrcoef over the same full-sample row_number ranks."""
    ranks = {}
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        ret = np.log(close[1:] / close[:-1])
        dt = g["dt"].to_numpy()[1:]
        order = np.lexsort((dt, ret))
        rnk = np.empty(len(ret))
        rnk[order] = np.arange(1, len(ret) + 1)
        ranks[sym] = pd.Series(rnk, index=pd.Index(dt, name="dt"))
    out = registry.QUERIES["q335_spearman_rho"](spark, sf_dir).toPandas()
    for _, row in out.iterrows():
        j = pd.concat(
            [ranks[row["id_a"]], ranks[row["id_b"]]], axis=1, join="inner"
        ).to_numpy()
        assert row["n_days"] == len(j)
        rho = np.corrcoef(j[:, 0], j[:, 1])[0, 1]
        assert abs(row["spearman_rho"] - rho) < 1e-5


def test_kendall_tau_matches_sign_outer(spark, sf_dir, candles_by_id):
    """The query's month-pair equi-join counting vs a dense numpy
    sign outer product (tau-b with tie terms)."""
    rets = {}
    for sym, g in candles_by_id.items():
        gg = g.copy()
        gg["mth"] = pd.to_datetime(gg["dt"]).dt.to_period("M")
        mc = _prnd(
            gg.sort_values("dt").groupby("mth")["close"].last().to_numpy(),
            2,
        )
        r = _prnd(np.log(mc[1:] / mc[:-1]), 9)
        idx = gg["mth"].drop_duplicates().sort_values().to_numpy()[1:]
        rets[sym] = pd.Series(r, index=idx)
    out = registry.QUERIES["q342_kendall_tau"](spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, row in out.iterrows():
        j = pd.concat(
            [rets[row["id_a"]], rets[row["id_b"]]], axis=1, join="inner"
        ).to_numpy()
        sa = np.sign(j[:, 0][:, None] - j[:, 0][None, :])
        sb = np.sign(j[:, 1][:, None] - j[:, 1][None, :])
        iu = np.triu_indices(len(j), k=1)
        sa, sb = sa[iu], sb[iu]
        n0 = len(sa)
        conc = int(np.sum(sa * sb > 0))
        disc = int(np.sum(sa * sb < 0))
        ties_a = int(np.sum(sa == 0))
        ties_b = int(np.sum(sb == 0))
        assert row["n_pairs"] == n0
        assert row["concordant"] == conc
        assert row["discordant"] == disc
        tau = (conc - disc) / np.sqrt((n0 - ties_a) * (n0 - ties_b))
        assert abs(row["tau_b"] - tau) < 1e-6


def test_haar_energy_matches_numpy_pyramid(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _HAAR_LEVELS

    out = (
        registry.QUERIES["q347_haar_energy"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        a = _log_rets(g)
        a = a[: len(a) - (len(a) % (2**_HAAR_LEVELS))]
        for j in range(1, _HAAR_LEVELS + 1):
            d = (a[0::2] - a[1::2]) / 2.0
            a = (a[0::2] + a[1::2]) / 2.0
            assert (
                abs(out.loc[sym, f"energy_l{j}"] - np.sum(d * d)) < 1e-7
            ), (sym, j)


def test_covariance_matrix_matches_np_cov(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.similarity_q import (
        _Q303_DIMS,
        _vecs,
    )

    pdf = _vecs(spark, sf_dir).toPandas()
    out = registry.QUERIES["q303_covariance_matrix"](spark, sf_dir).toPandas()
    for label, g in pdf.groupby("label"):
        x = np.stack(g["v"].to_numpy())[:, :_Q303_DIMS]
        cov = np.cov(x, rowvar=False, bias=True)  # population, as query
        sub = out[out["label"] == label]
        assert len(sub) == _Q303_DIMS * (_Q303_DIMS + 1) // 2
        for _, row in sub.iterrows():
            i, j = int(row["i"]), int(row["j"])
            assert row["n"] == len(x)
            assert abs(row["cov"] - cov[i - 1, j - 1]) < 1e-5, (
                label,
                i,
                j,
            )


def test_runs_test_matches_numpy(spark, sf_dir, candles_by_id):
    out = (
        registry.QUERIES["q308_runs_test"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        d = np.diff(close)
        signs = np.where(d > 0, 1, np.where(d < 0, 0, -1))
        signs = signs[signs >= 0]  # flat days drop out
        n = len(signs)
        runs = 1 + int(np.sum(signs[1:] != signs[:-1]))
        n_up = int(signs.sum())
        n_dn = n - n_up
        exp_runs = 2.0 * n_up * n_dn / n + 1.0
        var = (
            2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n)
            / (n * n * (n - 1.0))
        )
        assert out.loc[sym, "n_obs"] == n
        assert out.loc[sym, "n_runs"] == runs
        assert abs(out.loc[sym, "expected_runs"] - exp_runs) < 1e-3
        assert (
            abs(out.loc[sym, "z_score"] - (runs - exp_runs) / np.sqrt(var))
            < 1e-3
        )


def test_rolling_moments_match_pandas_rolling(spark, sf_dir, candles_by_id):
    """The query's binomial raw-moment expansion vs pandas' OWN
    rolling .skew()/.kurt() (sample statistics, converted to the
    population form the query emits)."""
    from crypto_prediction_etl_spark.plans.indicators_q import _Q319_N

    n = _Q319_N
    out = (
        registry.QUERIES["q319_rolling_moments"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    assert len(out) > 0
    for sym, g in out.groupby("id"):
        close = candles_by_id[sym]["close"].astype("float64").to_numpy()
        r = pd.Series(np.log(close[1:] / close[:-1]))
        samp_skew = r.rolling(n).skew().to_numpy()[n - 1 :]
        samp_kurt = r.rolling(n).kurt().to_numpy()[n - 1 :]
        pop_skew = samp_skew * (n - 2) / np.sqrt(n * (n - 1))
        pop_exk = (
            samp_kurt * (n - 2) * (n - 3) / ((n + 1) * (n - 1))
            - 6.0 / (n + 1)
        )
        got_s = g["roll_skew"].to_numpy()
        got_k = g["roll_exkurt"].to_numpy()
        assert len(got_s) == len(pop_skew)
        assert np.allclose(got_s, pop_skew, atol=1e-4, equal_nan=True)
        assert np.allclose(got_k, pop_exk, atol=1e-4, equal_nan=True)


def test_mann_whitney_matches_pandas_ranks(spark, sf_dir):
    """The query's rank()+(t-1)/2 average-rank arithmetic vs pandas'
    own rank(method='average') and the tie-corrected normal sigma."""
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    d = _tbl(spark, sf_dir, "documents").select("lang", "n_chars").toPandas()
    out = registry.QUERIES["q340_mann_whitney"](spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, row in out.iterrows():
        a = d[d["lang"] == row["lang_a"]]["n_chars"].to_numpy()
        b = d[d["lang"] == row["lang_b"]]["n_chars"].to_numpy()
        pooled = pd.Series(np.concatenate([a, b]))
        rks = pooled.rank(method="average").to_numpy()
        r_a = float(rks[: len(a)].sum())
        n_a, n_b = len(a), len(b)
        u = r_a - n_a * (n_a + 1) / 2.0
        nn = n_a + n_b
        _, t = np.unique(pooled.to_numpy(), return_counts=True)
        tie_sum = float(np.sum(t**3 - t))
        sigma = np.sqrt(
            n_a * n_b / 12.0 * ((nn + 1.0) - tie_sum / (nn * (nn - 1.0)))
        )
        assert row["n_a"] == n_a and row["n_b"] == n_b
        assert abs(row["u_stat"] - u) < 1e-3
        assert (
            abs(row["z_score"] - (u - n_a * n_b / 2.0) / sigma) < 1e-4
        )


def test_heaps_law_matches_python_stream(spark, sf_dir):
    """First-occurrence flags and checkpointed (ln N, ln V) OLS via a
    plain python dict walk over the same reading order."""
    from crypto_prediction_etl_spark.plans.text_q import _HEAPS_STEP
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    out = (
        registry.QUERIES["q345_heaps_law"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for source, g in docs.groupby("source"):
        seen: set[str] = set()
        pts = []
        n = 0
        for _, drow in g.sort_values("doc_id").iterrows():
            for tok in str(drow["text"]).lower().split(" "):
                n += 1
                seen.add(tok)
                if n % _HEAPS_STEP == 0:
                    pts.append((np.log(n), np.log(len(seen))))
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        beta, lnk = np.polyfit(x, y, 1)
        assert out.loc[source, "n_points"] == len(pts)
        assert abs(out.loc[source, "heaps_beta"] - beta) < 1e-4
        assert abs(out.loc[source, "heaps_k"] - np.exp(lnk)) < 1e-3


def test_greedy_coverage_matches_python_greedy(spark, sf_dir):
    """The unrolled anti-join rounds vs a literal python greedy
    set-cover loop over the same distinct-token posting lists."""
    from crypto_prediction_etl_spark.plans.text_q import _Q406_ROUNDS
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    docs["toks"] = docs["text"].map(
        lambda t: frozenset(str(t).lower().split(" "))
    )
    out = (
        registry.QUERIES["q406_greedy_coverage"](spark, sf_dir)
        .orderBy("source", "round")
        .toPandas()
    )
    for source, g in docs.groupby("source"):
        vocab = frozenset().union(*g["toks"])
        covered: set = set()
        chosen: set = set()
        cum = 0
        sub = out[out["source"] == source].sort_values("round")
        by_doc = dict(zip(g["doc_id"], g["toks"]))
        emitted = 0
        for t in range(1, _Q406_ROUNDS + 1):
            best_doc, best_gain = None, 0
            for doc_id in sorted(by_doc):
                if doc_id in chosen:
                    continue
                gain = len(by_doc[doc_id] - covered)
                if gain > best_gain:
                    best_doc, best_gain = doc_id, gain
            if best_doc is None:
                # vocabulary exhausted: the anti-join yields no
                # candidate rows, so the query emits no round either
                break
            covered |= by_doc[best_doc]
            chosen.add(best_doc)
            cum += best_gain
            emitted += 1
            row = sub[sub["round"] == t].iloc[0]
            assert row["doc_id"] == best_doc, (source, t)
            assert row["gain"] == best_gain
            assert abs(row["coverage"] - cum / len(vocab)) < 1e-5
        assert len(sub) == emitted


def test_coverage_knee_matches_python_kneedle(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q418_LOGV,
        _Q418_SIZES,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("text").toPandas()
    cnt: dict[str, int] = {}
    for t in docs["text"]:
        for tok in str(t).lower().split(" "):
            cnt[tok] = cnt.get(tok, 0) + 1
    total = float(sum(cnt.values()))
    ordered = sorted(cnt.values(), reverse=True)
    cov = {
        v: sum(ordered[:v]) / total for v in _Q418_SIZES
    }
    x0, x1 = _Q418_LOGV[0], _Q418_LOGV[-1]
    y0, y1 = cov[_Q418_SIZES[0]], cov[_Q418_SIZES[-1]]
    dist = {
        v: cov[v] - (y0 + (lv - x0) / (x1 - x0) * (y1 - y0))
        for v, lv in zip(_Q418_SIZES, _Q418_LOGV)
    }
    md = max(dist.values())
    out = (
        registry.QUERIES["q418_coverage_knee"](spark, sf_dir)
        .toPandas()
        .set_index("vocab_size")
    )
    assert out["is_knee"].sum() >= 1
    for v in _Q418_SIZES:
        assert abs(out.loc[v, "coverage"] - cov[v]) < 1e-5
        assert abs(out.loc[v, "knee_distance"] - dist[v]) < 1e-5
        # is_knee marks every max-distance row (exact float ties all
        # flag, e.g. the degenerate all-covered curve at tiny sf)
        if out.loc[v, "is_knee"]:
            assert dist[v] > md - 1e-9
        else:
            assert dist[v] < md + 1e-9


def test_weekly_ks_matches_numpy_ecdf(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import _Q420_C
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("ts", "value").toPandas()
    secs = ev["ts"].astype("int64").to_numpy() / 1e9
    week = np.floor(secs / 604800).astype("int64")
    val = ev["value"].to_numpy()
    w0 = week.min()
    base = np.sort(val[week == w0])
    nb = float(len(base))
    ds = []
    drift = 0
    for wk in np.unique(week):
        if wk == w0:
            continue
        cur = np.sort(val[week == wk])
        nw = float(len(cur))
        grid = np.unique(np.concatenate([base, cur]))
        fb = np.searchsorted(base, grid, side="right") / nb
        fw = np.searchsorted(cur, grid, side="right") / nw
        d = float(np.max(np.abs(fw - fb)))
        ds.append(d)
        if d > _Q420_C * np.sqrt((nw + nb) / (nw * nb)):
            drift += 1
    out = registry.QUERIES["q420_weekly_ks_drift"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_weeks"] == len(ds)
    assert abs(out["avg_ks"] - np.mean(ds)) < 1e-5
    assert abs(out["max_ks"] - np.max(ds)) < 1e-5
    assert out["drift_weeks"] == drift


def test_js_divergence_matches_numpy_histogram(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q316_BINS

    nb = _Q316_BINS
    out = (
        registry.QUERIES["q316_js_divergence"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        x = g["close"].astype("float64").to_numpy()
        n = len(x)
        mn, mx = x.min(), x.max()
        if mx <= mn:
            assert sym not in out.index
            continue
        bins = np.minimum(
            nb - 1, np.floor((x - mn) / (mx - mn) * float(nb)).astype(int)
        )
        half = n // 2
        p = np.bincount(bins[:half], minlength=nb) / float(half)
        q = np.bincount(bins[half:], minlength=nb) / float(n - half)
        m = p + q
        js = 0.5 * np.sum(
            np.where(p > 0, p * np.log(2.0 * p / np.where(m > 0, m, 1)), 0.0)
        ) + 0.5 * np.sum(
            np.where(q > 0, q * np.log(2.0 * q / np.where(m > 0, m, 1)), 0.0)
        )
        assert abs(out.loc[sym, "js_divergence"] - js) < 1e-5


def test_effective_sample_size_matches_numpy(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q309_MAX_LAG

    out = (
        registry.QUERIES["q309_effective_sample_size"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        x = np.log(close[1:] / close[:-1])
        n = len(x)
        sum_rho = 0.0
        for k in range(1, _Q309_MAX_LAG + 1):
            a, b = x[k:], x[:-k]
            # PER-LAG Pearson over the overlapping slices, as the query
            sum_rho += float(np.corrcoef(a, b)[0, 1])
        assert out.loc[sym, "n_obs"] == n
        assert abs(out.loc[sym, "sum_rho"] - sum_rho) < 1e-5
        assert (
            abs(out.loc[sym, "ess"] - n / (1.0 + 2.0 * sum_rho)) < 0.05
        )


def test_seasonality_anova_matches_numpy(spark, sf_dir, candles_by_id):
    out = (
        registry.QUERIES["q326_seasonality_anova"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        x = np.log(close[1:] / close[:-1])
        # pandas dayofweek: Monday=0; query uses dayofweek()-1 (Sun=0)
        dow = (pd.to_datetime(g["dt"]).dt.dayofweek.to_numpy()[1:] + 1) % 7
        mu = x.mean()
        sst = float(np.sum((x - mu) ** 2))
        ssb = 0.0
        k = 0
        for d in np.unique(dow):
            grp = x[dow == d]
            ssb += len(grp) * (grp.mean() - mu) ** 2
            k += 1
        n = len(x)
        f = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
        assert out.loc[sym, "n_obs"] == n
        assert out.loc[sym, "n_groups"] == k
        assert abs(out.loc[sym, "ss_between"] - ssb) < 1e-6
        assert abs(out.loc[sym, "f_stat"] - f) < 1e-4


def test_diff_in_diff_matches_numpy_cells(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q330_CONTROL,
        _Q330_CUTOFF,
        _Q330_TREAT,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "ts", "value")
        .toPandas()
    )
    ev = ev[ev["event_type"].isin(_Q330_TREAT + _Q330_CONTROL)]
    treated = ev["event_type"].isin(_Q330_TREAT).to_numpy()
    post = (
        ev["ts"].dt.date >= pd.Timestamp(_Q330_CUTOFF).date()
    ).to_numpy()
    val = ev["value"].to_numpy()

    def cell(tr, po):
        v = val[(treated == tr) & (post == po)]
        return v.mean(), v.var() / len(v), len(v)  # numpy var = population

    (m_t1, v_t1, n1), (m_t0, v_t0, n2) = cell(True, True), cell(True, False)
    (m_c1, v_c1, n3), (m_c0, v_c0, n4) = cell(False, True), cell(False, False)
    did = (m_t1 - m_t0) - (m_c1 - m_c0)
    se = np.sqrt(v_t1 + v_t0 + v_c1 + v_c0)
    out = registry.QUERIES["q330_diff_in_diff"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_total"] == n1 + n2 + n3 + n4
    assert abs(out["treated_delta"] - (m_t1 - m_t0)) < 1e-5
    assert abs(out["control_delta"] - (m_c1 - m_c0)) < 1e-5
    assert abs(out["did_estimate"] - did) < 1e-5
    assert abs(out["did_se"] - se) < 1e-5
    assert out["significant"] == int(abs(did) / se > 1.959963984540054)


def test_kyle_lambda_matches_polyfit(spark, sf_dir, candles_by_id):
    """The query's sufficient-statistics OLS vs numpy's own polyfit
    and corrcoef."""
    out = (
        registry.QUERIES["q331_kyle_lambda"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        vol = g["volume_cents"].astype("float64").to_numpy() / 100.0
        ret = np.log(close[1:] / close[:-1])
        d = np.sign(np.diff(close))
        sv = d * vol[1:]
        slope = np.polyfit(sv, ret, 1)[0]
        r2 = float(np.corrcoef(sv, ret)[0, 1]) ** 2
        assert out.loc[sym, "n_obs"] == len(ret)
        assert abs(out.loc[sym, "kyle_lambda_ppm"] - slope * 1e6) < max(
            1e-4, abs(slope * 1e6) * 1e-5
        )
        assert abs(out.loc[sym, "r_squared"] - r2) < 1e-5


def test_identity_resolution_matches_python_labelprop(spark, sf_dir):
    """q281's join-based min-label rounds vs a dict-based python
    propagation over the same rare-value edges, PLUS a union-find
    ground truth: every user flagged converged whose whole component
    is converged must already carry the component's true min label."""
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q281_MAX_SHARERS,
        _Q281_ROUNDS,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("user_id", "props").toPandas()
    import json

    uk = {
        (int(u), json.loads(p).get("k"))
        for u, p in zip(ev["user_id"], ev["props"])
        if json.loads(p).get("k") is not None
    }
    from collections import defaultdict

    by_k: dict = defaultdict(set)
    for u, k in uk:
        by_k[int(k)].add(u)
    users = sorted({u for u, _ in uk})
    adj: dict = defaultdict(set)
    for k, us in by_k.items():
        if 2 <= len(us) <= _Q281_MAX_SHARERS:
            for u in us:
                adj[u] |= us - {u}
    lbl = {u: u for u in users}
    for _ in range(_Q281_ROUNDS):
        prev = dict(lbl)
        for u in users:
            cands = [prev[v] for v in adj[u]]
            lbl[u] = min([lbl[u], *cands]) if cands else lbl[u]
        last_prev = prev
    out = (
        registry.QUERIES["q281_identity_resolution"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == len(users)
    for u in users:
        assert out.loc[u, "identity_root"] == lbl[u], u
        assert out.loc[u, "converged"] == int(lbl[u] == last_prev[u]), u
    # union-find ground truth for fully-converged components
    parent = {u: u for u in users}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u in users:
        for v in adj[u]:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    comp_min: dict = {}
    for u in users:
        r = find(u)
        comp_min[r] = min(comp_min.get(r, u), u)
    from collections import Counter

    comp_converged = defaultdict(lambda: True)
    for u in users:
        comp_converged[find(u)] &= bool(out.loc[u, "converged"])
    for u in users:
        if comp_converged[find(u)]:
            assert out.loc[u, "identity_root"] == comp_min[find(u)], u
    # q297's histogram over the same labels
    sizes = Counter(Counter(lbl.values()).values())
    h = (
        registry.QUERIES["q297_component_sizes"](spark, sf_dir)
        .toPandas()
        .set_index("component_size")
    )
    assert len(h) == len(sizes)
    for size, n_comp in sizes.items():
        assert h.loc[size, "n_components"] == n_comp
        assert h.loc[size, "n_users_covered"] == size * n_comp


def test_tail_dependence_matches_numpy(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q325_TAIL

    t = _Q325_TAIL
    us = {}
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        ret = np.log(close[1:] / close[:-1])
        dt = g["dt"].to_numpy()[1:]
        order = np.lexsort((dt, ret))
        n = len(ret)
        u = np.empty(n)
        u[order] = np.arange(n) / (n - 1)  # percent_rank
        us[sym] = pd.Series(u, index=pd.Index(dt, name="dt"))
    out = registry.QUERIES["q325_tail_dependence"](spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, row in out.iterrows():
        j = pd.concat(
            [us[row["id_a"]], us[row["id_b"]]], axis=1, join="inner"
        ).to_numpy()
        n = len(j)
        lo = int(np.sum((j[:, 0] <= t) & (j[:, 1] <= t)))
        hi = int(np.sum((j[:, 0] >= 1 - t) & (j[:, 1] >= 1 - t)))
        assert row["n_days"] == n
        assert row["joint_lower"] == lo
        assert abs(row["lower_tail_dep"] - lo / (n * t)) < 1e-5
        assert abs(row["upper_tail_dep"] - hi / (n * t)) < 1e-5


def test_corwin_schultz_matches_numpy(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _CS_KDEN

    out = (
        registry.QUERIES["q339_corwin_schultz"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        h = g["high"].astype("float64").to_numpy()
        lo = g["low"].astype("float64").to_numpy()
        beta = np.log(h[:-1] / lo[:-1]) ** 2 + np.log(h[1:] / lo[1:]) ** 2
        gamma = (
            np.log(np.maximum(h[:-1], h[1:]) / np.minimum(lo[:-1], lo[1:]))
            ** 2
        )
        alpha = (np.sqrt(2 * beta) - np.sqrt(beta)) / _CS_KDEN - np.sqrt(
            gamma / _CS_KDEN
        )
        spread = 2 * (np.exp(alpha) - 1) / (1 + np.exp(alpha))
        assert out.loc[sym, "n_pairs"] == len(beta)
        assert (
            abs(
                out.loc[sym, "mean_spread"]
                - np.mean(np.where(spread > 0, spread, 0.0))
            )
            < 1e-5
        )
        assert (
            abs(out.loc[sym, "negative_share"] - np.mean(alpha < 0))
            < 1e-5
        )


def test_rv_signature_matches_numpy_strides(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q352_STRIDES

    out = registry.QUERIES["q352_rv_signature"](spark, sf_dir).toPandas()
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        for k in _Q352_STRIDES:
            grid = close[::k]  # rows with (rn-1) % k == 0
            r = np.log(grid[1:] / grid[:-1])
            row = out[(out["id"] == sym) & (out["stride"] == k)].iloc[0]
            assert row["n_rets"] == len(r)
            assert abs(row["rv"] - np.sum(r * r)) < 1e-5
            assert abs(row["var_per_bar"] - np.sum(r * r) / len(r)) < 1e-8


def test_sign_autocorr_matches_numpy(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q353_LAGS

    out = registry.QUERIES["q353_sign_autocorr"](spark, sf_dir).toPandas()
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        raw = np.sign(np.diff(close))  # +1 / -1 / 0
        # zero-tick carry: 0 takes the previous non-zero sign
        tick = []
        last = None
        for v in raw:
            if v != 0:
                last = v
            if last is not None:
                tick.append(last)
        x = np.array(tick, dtype="float64")
        for lag in _Q353_LAGS:
            a, b = x[lag:], x[:-lag]
            rho = np.corrcoef(a, b)[0, 1]
            row = out[(out["id"] == sym) & (out["lag"] == lag)].iloc[0]
            assert row["n"] == len(a)
            assert abs(row["rho"] - rho) < 1e-5


def test_semivariance_matches_pandas_rolling(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q354_N

    n = _Q354_N
    out = (
        registry.QUERIES["q354_semivariance"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    assert len(out) > 0
    for sym, g in out.groupby("id"):
        close = candles_by_id[sym]["close"].astype("float64").to_numpy()
        r = pd.Series(np.log(close[1:] / close[:-1]))
        dsq = r.where(r < 0, 0.0) ** 2
        usq = r.where(r > 0, 0.0) ** 2
        rs_down = dsq.rolling(n).sum().to_numpy()[n - 1 :]
        rs_up = usq.rolling(n).sum().to_numpy()[n - 1 :]
        rv = (r**2).rolling(n).sum().to_numpy()[n - 1 :]
        assert len(g) == len(rs_down)
        assert np.allclose(g["rs_down"], rs_down, atol=1e-7)
        assert np.allclose(g["rs_up"], rs_up, atol=1e-7)
        assert np.allclose(g["signed_jump"], rs_up - rs_down, atol=1e-7)
        assert np.allclose(
            g["downside_share"], rs_down / rv, atol=1e-5
        )


def test_geometric_median_matches_numpy_weiszfeld(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.similarity_q import (
        _Q393_D,
        _Q393_EPS,
        _Q393_ITERS,
        _vecs,
    )

    pdf = _vecs(spark, sf_dir).toPandas()
    out = (
        registry.QUERIES["q393_geometric_median"](spark, sf_dir)
        .toPandas()
        .set_index("label")
    )
    for label, g in pdf.groupby("label"):
        x = np.stack(g["v"].to_numpy())[:, :_Q393_D]
        c = x.mean(axis=0)
        mean0 = c.copy()
        for _ in range(_Q393_ITERS):
            w = 1.0 / (np.linalg.norm(x - c, axis=1) + _Q393_EPS)
            c = (x * w[:, None]).sum(axis=0) / w.sum()
        assert out.loc[label, "n_vecs"] == len(x)
        for j in range(1, _Q393_D + 1):
            assert abs(out.loc[label, f"gm_d{j}"] - c[j - 1]) < 1e-4
        assert (
            abs(
                out.loc[label, "shift_from_mean"]
                - np.linalg.norm(c - mean0)
            )
            < 1e-4
        )


def test_lexical_diversity_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import _Q397_BLOCK
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    out = (
        registry.QUERIES["q397_lexical_diversity"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for source, g in docs.groupby("source"):
        ttrs, herdans, blocks = [], [], []
        for _, drow in g.iterrows():
            toks = str(drow["text"]).lower().split(" ")
            n, v = len(toks), len(set(toks))
            ttrs.append(v / n)
            if n > 1:
                herdans.append(np.log(v) / np.log(n))
            doc_blocks = []
            for lo in range(0, n - _Q397_BLOCK + 1, _Q397_BLOCK):
                blk = toks[lo : lo + _Q397_BLOCK]
                doc_blocks.append(len(set(blk)) / _Q397_BLOCK)
            if doc_blocks:
                blocks.append(np.mean(doc_blocks))
        assert out.loc[source, "docs"] == len(g)
        assert abs(out.loc[source, "avg_ttr"] - np.mean(ttrs)) < 1e-5
        assert (
            abs(out.loc[source, "avg_herdan_c"] - np.mean(herdans)) < 1e-5
        )
        assert (
            abs(out.loc[source, "avg_block_ttr"] - np.mean(blocks)) < 1e-5
        )


def test_volatility_cones_match_pandas(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q317_HORIZONS,
    )

    out = registry.QUERIES["q317_volatility_cones"](spark, sf_dir).toPandas()
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        # q317 keeps the first (NULL-return) row in the window frame,
        # so horizon-h windows fill one bar later on the return series
        r = pd.Series(np.concatenate([[np.nan], np.log(close[1:] / close[:-1])]))
        for h in _Q317_HORIZONS:
            rv = np.sqrt(
                r.rolling(h, min_periods=h).var(ddof=0).to_numpy() * 365.0
            )
            rv = rv[~np.isnan(rv)]
            row = out[(out["id"] == sym) & (out["horizon"] == h)].iloc[0]
            assert abs(row["vol_min"] - rv.min()) < 1e-5
            for p, col in [(25, "vol_p25"), (50, "vol_median"), (75, "vol_p75")]:
                assert (
                    abs(row[col] - np.percentile(rv, p, method="linear"))
                    < 1e-5
                ), (sym, h, col)
            assert abs(row["vol_max"] - rv.max()) < 1e-5
            assert abs(row["vol_now"] - rv[-1]) < 1e-5


def test_portfolio_var_es_matches_numpy(spark, sf_dir, candles_by_id):
    rets = []
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        rets.append(
            pd.Series(
                np.log(close[1:] / close[:-1]),
                index=pd.Index(g["dt"].to_numpy()[1:], name="dt"),
                name=sym,
            )
        )
    panel = pd.concat(rets, axis=1)
    port = panel.mean(axis=1)[panel.notna().sum(axis=1) >= 2]
    q05 = _prnd(np.percentile(port, 5, method="linear"), 6)
    tail = port[port <= q05]
    out = (
        registry.QUERIES["q324_portfolio_var_es"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_days"] == len(port)
    assert abs(out["var95"] - (-q05)) < 1e-5
    assert abs(out["es95"] - (-tail.mean())) < 1e-5
    assert abs(out["worst_ret"] - port.min()) < 1e-5
    assert pd.Timestamp(out["worst_dt"]) == pd.Timestamp(port.idxmin())


def test_paragraph_dedup_matches_python_keepfirst(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import _PARA_W
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    seen: set = set()
    per_source: dict = {}
    for _, drow in docs.iterrows():
        toks = str(drow["text"]).lower().split(" ")
        st = per_source.setdefault(
            drow["source"],
            {"docs": set(), "chunks": 0, "dup": 0, "toks": 0, "dup_toks": 0},
        )
        st["docs"].add(drow["doc_id"])
        for lo in range(0, len(toks), _PARA_W):
            blk = toks[lo : lo + _PARA_W]
            text = " ".join(blk)
            st["chunks"] += 1
            st["toks"] += len(blk)
            if text in seen:
                st["dup"] += 1
                st["dup_toks"] += len(blk)
            else:
                seen.add(text)
    out = (
        registry.QUERIES["q349_paragraph_dedup"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for source, st in per_source.items():
        assert out.loc[source, "n_docs"] == len(st["docs"])
        assert out.loc[source, "n_chunks"] == st["chunks"]
        assert out.loc[source, "dup_chunks"] == st["dup"]
        assert (
            abs(
                out.loc[source, "dup_token_share"]
                - st["dup_toks"] / st["toks"]
            )
            < 1e-5
        )


def test_fd_violations_match_python_g3(spark, sf_dir):
    from collections import Counter

    from crypto_prediction_etl_spark.plans.relational_ext import _Q370_FDS
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    out = (
        registry.QUERIES["q370_fd_violations"](spark, sf_dir)
        .toPandas()
        .set_index("lhs")
    )
    for tbl, lhs, rhs in _Q370_FDS:
        pdf = _tbl(spark, sf_dir, tbl).select(lhs, rhs).toPandas()
        groups: dict = {}
        for a, b in zip(pdf[lhs], pdf[rhs]):
            groups.setdefault(a, Counter())[b] += 1
        n = len(pdf)
        kept = sum(max(c.values()) for c in groups.values())
        row = out.loc[f"{tbl}.{lhs}"]
        assert row["rhs"] == rhs
        assert row["n_lhs_groups"] == len(groups)
        assert row["n_rows"] == n
        assert row["n_violating"] == n - kept
        assert abs(row["g3_rate"] - (1.0 - kept / n)) < 1e-6
        assert row["holds"] == int(kept == n)


def test_term_burstiness_matches_counter(spark, sf_dir):
    from collections import Counter

    from crypto_prediction_etl_spark.plans.text_q import _Q305_MIN_DF
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    df_c: Counter = Counter()
    cf_c: Counter = Counter()
    for t in docs["text"]:
        c = Counter(str(t).lower().split(" "))
        for term, f in c.items():
            df_c[term] += 1
            cf_c[term] += f
    out = (
        registry.QUERIES["q305_term_burstiness"](spark, sf_dir)
        .toPandas()
        .set_index("term")
    )
    exp_terms = {t for t, d in df_c.items() if d >= _Q305_MIN_DF}
    assert set(out.index) == exp_terms
    for term in exp_terms:
        b = cf_c[term] / df_c[term]
        assert out.loc[term, "df"] == df_c[term]
        assert out.loc[term, "cf"] == cf_c[term]
        assert abs(out.loc[term, "burstiness"] - b) < 1e-5
        assert out.loc[term, "is_bursty"] == int(b > 1.5)


def test_vpin_matches_numpy_buckets(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _VPIN_BUCKET_CENTS,
    )

    out = (
        registry.QUERIES["q337_vpin"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        vol = g["volume_cents"].astype("int64").to_numpy()
        sgn = np.concatenate([[0], np.sign(np.diff(close))]).astype("int64")
        cum = np.cumsum(vol)
        bucket = (cum - vol) // _VPIN_BUCKET_CENTS
        bdf = pd.DataFrame(
            {"bucket": bucket, "sv": sgn * vol, "tv": vol}
        ).groupby("bucket").sum()
        vpin = np.abs(bdf["sv"].to_numpy()) / bdf["tv"].to_numpy()
        assert out.loc[sym, "n_buckets"] == len(bdf)
        assert abs(out.loc[sym, "avg_vpin"] - vpin.mean()) < 1e-5
        assert abs(out.loc[sym, "max_vpin"] - vpin.max()) < 1e-5


def test_interval_backtest_matches_numpy(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q287_TRAIN_FRAC,
    )

    out = (
        registry.QUERIES["q287_interval_backtest"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        n = len(close)  # candle count, INCLUDING the null-return row
        r = np.log(close[1:] / close[:-1])
        rn = np.arange(2, n + 1)  # candle rn of each return row
        cut = int(np.floor(n * _Q287_TRAIN_FRAC))
        train = r[rn <= cut]
        test = r[rn > cut]
        lo = np.percentile(train, 10, method="linear")
        hi = np.percentile(train, 90, method="linear")
        cov = float(np.mean((test >= lo) & (test <= hi)))
        assert out.loc[sym, "n_train"] == len(train)
        assert out.loc[sym, "n_test"] == len(test)
        assert abs(out.loc[sym, "band_lo"] - lo) < 1e-5
        assert abs(out.loc[sym, "band_hi"] - hi) < 1e-5
        assert abs(out.loc[sym, "coverage"] - cov) < 1e-5


def test_attribution_compare_matches_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import _Q234_WINDOW_MIN
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .toPandas()
    )
    clicks = ev[ev["event_type"] == "click"].copy()
    # dedupe ties: keep the max event_id per (user, ts)
    clicks = (
        clicks.sort_values("event_id")
        .groupby(["user_id", "ts"], as_index=False)
        .last()
    )
    pur = ev[ev["event_type"] == "purchase"]
    win = pd.Timedelta(minutes=_Q234_WINDOW_MIN)
    n_purchases = len(pur)
    n_attr = n_disagree_multi = 0
    n_dis = 0
    by_user = {u: g.sort_values("ts") for u, g in clicks.groupby("user_id")}
    for _, p in pur.iterrows():
        g = by_user.get(p["user_id"])
        if g is None:
            continue
        m = g[(g["ts"] <= p["ts"]) & (g["ts"] >= p["ts"] - win)]
        if len(m) == 0:
            continue
        n_attr += 1
        first = m.loc[m["ts"].idxmin(), "event_id"]
        last = m.loc[m["ts"].idxmax(), "event_id"]
        if first != last:
            n_dis += 1
            if len(m) > 1:
                n_disagree_multi += 1
    out = (
        registry.QUERIES["q294_attribution_compare"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_purchases"] == n_purchases
    assert out["n_attributed"] == n_attr
    assert out["n_model_disagree"] == n_disagree_multi


def test_range_volatility_matches_pandas(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q313_LN2,
        _Q313_N,
    )

    n = _Q313_N
    out = (
        registry.QUERIES["q313_range_volatility"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    assert len(out) > 0
    for sym, g in out.groupby("id"):
        cb = candles_by_id[sym]
        h = cb["high"].astype("float64").to_numpy()[1:]
        lo = cb["low"].astype("float64").to_numpy()[1:]
        c = cb["close"].astype("float64").to_numpy()[1:]
        o = cb["close"].astype("float64").to_numpy()[:-1]  # open = prior close
        hl = np.log(h / lo)
        co = np.log(c / o)
        park_t = pd.Series(hl * hl)
        gk_t = pd.Series(0.5 * hl * hl - (2 * _Q313_LN2 - 1) * co * co)
        rs_t = pd.Series(
            np.log(h / c) * np.log(h / o) + np.log(lo / c) * np.log(lo / o)
        )
        park = np.sqrt(
            park_t.rolling(n).mean().to_numpy()[n - 1 :]
            / (4 * _Q313_LN2)
            * 365.0
        )
        gk_m = gk_t.rolling(n).mean().to_numpy()[n - 1 :]
        rs_m = rs_t.rolling(n).mean().to_numpy()[n - 1 :]
        gk = np.where(gk_m > 0, np.sqrt(gk_m * 365.0), np.nan)
        rs = np.where(rs_m > 0, np.sqrt(rs_m * 365.0), np.nan)
        assert len(g) == len(park)
        assert np.allclose(g["parkinson_ann"], park, atol=1e-5)
        assert np.allclose(
            g["garman_klass_ann"], gk, atol=1e-5, equal_nan=True
        )
        assert np.allclose(
            g["rogers_satchell_ann"], rs, atol=1e-5, equal_nan=True
        )


def test_rolling_uniques_matches_python_sets(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q329_WINDOW_DAYS,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "user_id", "ts")
        .toPandas()
    )
    ev["d"] = ev["ts"].dt.date
    out = registry.QUERIES["q329_rolling_uniques_exact"](spark, sf_dir).toPandas()
    out["dt"] = pd.to_datetime(out["dt"]).dt.date
    for (et, d), grp in out.groupby(["event_type", "dt"]):
        lo = d - pd.Timedelta(days=_Q329_WINDOW_DAYS - 1)
        sub = ev[
            (ev["event_type"] == et)
            & (ev["d"] >= lo)
            & (ev["d"] <= d)
        ]
        assert grp["uniques_7d"].iloc[0] == sub["user_id"].nunique(), (
            et,
            d,
        )
    # spine: one row per (type, active day)
    active = ev[["event_type", "d"]].drop_duplicates()
    assert len(out) == len(active)


def test_triple_barrier_matches_python_loop(spark, sf_dir, candles_by_id):
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.indicators_q import (
        _TB_DN,
        _TB_H,
        _TB_UP,
    )

    out = registry.QUERIES["q336_triple_barrier"](spark, sf_dir).toPandas()
    for sym, g in candles_by_id.items():
        entry = _prnd(g["close"].to_numpy(), 2)
        high = g["high"].astype("float64").to_numpy()
        low = g["low"].astype("float64").to_numpy()
        n = len(entry)
        acc = defaultdict(lambda: {"n": 0, "days": [], "rets": []})
        for i in range(n - _TB_H):  # anchors rn=1..n-H (0-based i)
            label, days = 0, None
            for off in range(1, _TB_H + 1):
                up = high[i + off] >= entry[i] * _TB_UP
                dn = low[i + off] <= entry[i] * _TB_DN
                if up and dn:
                    label, days = 0, off
                    break
                if up:
                    label, days = 1, off
                    break
                if dn:
                    label, days = -1, off
                    break
            st = acc[label]
            st["n"] += 1
            if days is not None:
                st["days"].append(days)
            st["rets"].append(entry[i + _TB_H] / entry[i] - 1.0)
        sub = out[out["id"] == sym].set_index("label")
        assert set(sub.index) == set(acc)
        for label, st in acc.items():
            assert sub.loc[label, "n_anchors"] == st["n"]
            if st["days"]:
                assert (
                    abs(
                        sub.loc[label, "avg_days_to_hit"]
                        - np.mean(st["days"])
                    )
                    < 1e-5
                )
            else:
                assert pd.isna(sub.loc[label, "avg_days_to_hit"])
            assert (
                abs(sub.loc[label, "avg_vertical_ret"] - np.mean(st["rets"]))
                < 1e-5
            )


def test_population_estimates_match_python_sets(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("user_id", "event_type").toPandas()
    a = set(ev[ev["event_type"] == "click"]["user_id"])
    b = set(ev[ev["event_type"] == "view"]["user_id"])
    n_true = ev["user_id"].nunique()
    lp = len(a) * len(b) / len(a & b)
    m, k = max(a), len(a)
    gt = m + m / k - 1.0
    out = (
        registry.QUERIES["q306_population_estimates"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_true"] == n_true
    assert out["n_sample_a"] == len(a)
    assert out["n_sample_b"] == len(b)
    assert out["n_overlap"] == len(a & b)
    assert abs(out["lincoln_petersen"] - lp) < 0.02
    assert abs(out["german_tank"] - gt) < 0.02


def test_stale_price_audit_matches_numpy_runs(spark, sf_dir, candles_by_id):
    out = (
        registry.QUERIES["q288_stale_price_audit"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        n = len(close)
        chg = np.concatenate([[1], (close[1:] != close[:-1]).astype(int)])
        run_id = np.cumsum(chg)
        _, run_len = np.unique(run_id, return_counts=True)
        assert out.loc[sym, "n_days"] == n
        assert out.loc[sym, "n_stale_days"] == int(np.sum(run_len - 1))
        assert (
            abs(
                out.loc[sym, "stale_share"]
                - float(np.sum(run_len - 1)) / n
            )
            < 1e-6
        )
        assert out.loc[sym, "max_run"] == int(run_len.max())


def test_interarrival_percentiles_match_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id")
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    out = (
        registry.QUERIES["q295_interarrival_percentiles"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    for et, g in ev.groupby("event_type"):
        us = g["ts"].astype("int64").to_numpy() // 1000  # ns -> us
        gaps = np.diff(us) / 1e6
        assert out.loc[et, "n_gaps"] == len(gaps)
        for p, col in [(50, "p50_s"), (95, "p95_s"), (99, "p99_s")]:
            assert (
                abs(
                    out.loc[et, col]
                    - np.percentile(gaps, p, method="linear")
                )
                < 1e-3
            ), (et, col)
        assert abs(out.loc[et, "max_s"] - gaps.max()) < 1e-3


def test_p99_attribution_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "value")
        .toPandas()
    )
    p99 = np.percentile(ev["value"].to_numpy(), 99, method="linear")
    tail = ev[ev["value"] > p99]
    out = (
        registry.QUERIES["q302_p99_attribution"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    assert set(out.index) == set(tail["event_type"].unique())
    for et, g in tail.groupby("event_type"):
        assert out.loc[et, "n_tail_events"] == len(g)
        assert (
            abs(out.loc[et, "tail_share"] - len(g) / len(tail)) < 1e-5
        )
        assert (
            abs(out.loc[et, "avg_tail_value"] - g["value"].mean()) < 1e-3
        )


def test_purged_labels_match_pandas_roles(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q323_EMBARGO,
        _Q323_HORIZON,
        _Q323_TEST_HI,
        _Q323_TEST_LO,
    )

    h, e = _Q323_HORIZON, _Q323_EMBARGO
    out = (
        registry.QUERIES["q323_purged_labels"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    lo = pd.Timestamp(_Q323_TEST_LO).date()
    hi = pd.Timestamp(_Q323_TEST_HI).date()
    for sym, g0 in out.groupby("id"):
        cb = candles_by_id[sym]
        close = cb["close"].astype("float64").to_numpy()
        dts = pd.to_datetime(cb["dt"]).dt.date.to_numpy()
        n = len(close)
        rn = np.arange(1, n + 1)
        t_lo = rn[dts >= lo].min()
        t_hi = rn[dts <= hi].max()
        fwd = np.full(n, np.nan)
        fwd[: n - h] = np.log(close[h:] / close[: n - h])
        roles = np.where(
            (rn >= t_lo) & (rn <= t_hi),
            "test",
            np.where(
                (rn < t_lo) & (rn + h >= t_lo),
                "purged",
                np.where((rn > t_hi) & (rn <= t_hi + e), "embargo", "train"),
            ),
        )
        assert len(g0) == n
        assert list(g0["role"]) == list(roles)
        got = g0[f"fwd_ret_{h}"].to_numpy()
        assert np.allclose(got, fwd, atol=1e-5, equal_nan=True)


def test_ngram_novelty_matches_python_sets(spark, sf_dir):
    """The split assignment is the engine's portable hash (fetched
    once); the shingling, train-set build and novelty arithmetic are
    an independent python mirror."""
    from crypto_prediction_etl_spark.functions.portable import hash64
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q357_N,
        _Q357_TRAIN_BUCKETS,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs_sdf = _tbl(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (hash64("doc_id") % 10 < _Q357_TRAIN_BUCKETS).alias("is_train"),
    )
    docs = docs_sdf.toPandas()
    train: set = set()
    test_rows = []
    for _, drow in docs.iterrows():
        toks = str(drow["text"]).lower().split(" ")
        shs = {
            " ".join(toks[i : i + _Q357_N])
            for i in range(len(toks) - _Q357_N + 1)
        }
        if drow["is_train"]:
            train |= shs
        else:
            test_rows.append((drow["lang"], shs))
    from collections import defaultdict

    tot: dict = defaultdict(int)
    nov: dict = defaultdict(int)
    for lang, shs in test_rows:
        for s in shs:
            tot[lang] += 1
            if s not in train:
                nov[lang] += 1
    out = (
        registry.QUERIES["q357_ngram_novelty"](spark, sf_dir)
        .toPandas()
        .set_index("lang")
    )
    assert set(out.index) == set(tot)
    for lang in tot:
        assert out.loc[lang, "test_ngrams"] == tot[lang]
        assert out.loc[lang, "novel_ngrams"] == nov[lang]
        assert (
            abs(out.loc[lang, "novelty_rate"] - nov[lang] / tot[lang])
            < 1e-5
        )


def test_keyness_matches_python_formula(spark, sf_dir):
    from collections import Counter, defaultdict

    from crypto_prediction_etl_spark.plans.text_q import (
        _Q382_ALPHA0,
        _Q382_MIN_COUNT,
        _Q382_TOP,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("source", "text").toPandas()
    c_w: Counter = Counter()
    c_sw: dict = defaultdict(Counter)
    n_s: Counter = Counter()
    for src, t in zip(docs["source"], docs["text"]):
        toks = str(t).lower().split(" ")
        n_s[src] += len(toks)
        for w in toks:
            c_w[w] += 1
            c_sw[src][w] += 1
    n_tot = float(sum(c_w.values()))
    out = registry.QUERIES["q382_log_odds_keyness"](spark, sf_dir).toPandas()
    for src in n_s:
        rows = []
        for w, csw in c_sw[src].items():
            cw = c_w[w]
            if cw < _Q382_MIN_COUNT:
                continue
            a_w = _Q382_ALPHA0 * cw / n_tot
            num = csw + a_w
            den = n_s[src] + _Q382_ALPHA0 - csw - a_w
            numr = cw - csw + a_w
            denr = n_tot - n_s[src] + _Q382_ALPHA0 - (cw - csw) - a_w
            delta = np.log(num / den) - np.log(numr / denr)
            z = _prnd(delta / np.sqrt(1.0 / num + 1.0 / numr), 4)
            rows.append((float(z), w, csw))
        rows.sort(key=lambda r: (-r[0], r[1]))
        top = rows[:_Q382_TOP]
        sub = out[out["source"] == src].sort_values("rk")
        assert len(sub) == len(top)
        for (z, w, csw), (_, orow) in zip(top, sub.iterrows()):
            assert orow["keyword"] == w, (src, w, orow["keyword"])
            assert orow["count_in_source"] == csw
            assert abs(orow["keyness_z"] - z) < 1e-6


def test_rank_ic_matches_pandas(spark, sf_dir, candles_by_id):
    frames = []
    for sym, g in candles_by_id.items():
        gg = g.copy()
        gg["mon"] = pd.to_datetime(gg["dt"]).dt.strftime("%Y-%m")
        gg = gg.sort_values("dt")
        m = gg.groupby("mon").agg(
            first=("close", "first"), last=("close", "last")
        )
        m["ret"] = m["last"] / m["first"] - 1.0
        m["prev_ret"] = m["ret"].shift(1)
        m["id"] = sym
        frames.append(m.reset_index())
    panel = pd.concat(frames).dropna(subset=["prev_ret"])
    ics = []
    for mon, g in panel.groupby("mon"):
        if len(g) < 3:
            continue
        rx = g.sort_values(["prev_ret", "id"]).reset_index()
        rx["rx"] = np.arange(1, len(g) + 1)
        ry = g.sort_values(["ret", "id"]).reset_index()
        ry["ry"] = np.arange(1, len(g) + 1)
        j = rx.merge(ry[["id", "ry"]], on="id")
        ics.append(float(np.corrcoef(j["rx"], j["ry"])[0, 1]))
    ics = np.array(ics)
    out = registry.QUERIES["q409_rank_ic"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_months"] == len(ics)
    assert abs(out["mean_ic"] - ics.mean()) < 1e-3
    assert abs(out["icir"] - ics.mean() / ics.std()) < 1e-3
    assert abs(out["hit_rate"] - np.mean(ics > 0)) < 1e-5


def test_l_diversity_matches_pandas_groupby(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.relational_ext import _Q291_L
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    c = (
        _tbl(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal", "c_mktsegment")
        .toPandas()
    )
    c["bal_bucket"] = np.floor(c["c_acctbal"] / 1000.0).astype("int64")
    out = registry.QUERIES["q291_l_diversity"](spark, sf_dir).toPandas()
    out = out.set_index(["nation", "bal_bucket"])
    grouped = c.groupby(["c_nationkey", "bal_bucket"])
    assert len(out) == grouped.ngroups
    for (nat, bb), g in grouped:
        row = out.loc[(nat, bb)]
        vc = g["c_mktsegment"].value_counts()
        assert row["class_size"] == len(g)
        assert row["l_distinct"] == len(vc)
        assert row["violates_l"] == int(len(vc) < _Q291_L)
        assert (
            abs(row["top_sensitive_share"] - vc.iloc[0] / len(g)) < 1e-6
        )


def test_contract_fill_rates_match_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import _Q293_MIN_CHARS
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    d = (
        _tbl(spark, sf_dir, "documents")
        .select("source", "text", "lang", "n_chars")
        .toPandas()
    )
    out = (
        registry.QUERIES["q293_contract_fill_rates"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, g in d.groupby("source"):
        empty = ((g["text"].isna()) | (g["text"] == "")).mean()
        miss = ((g["lang"].isna()) | (g["lang"] == "")).mean()
        thin = (g["n_chars"] < _Q293_MIN_CHARS).mean()
        cons = (g["text"].fillna("").str.len() == g["n_chars"]).mean()
        assert out.loc[src, "n_docs"] == len(g)
        assert abs(out.loc[src, "empty_text_rate"] - empty) < 1e-6
        assert abs(out.loc[src, "missing_lang_rate"] - miss) < 1e-6
        assert abs(out.loc[src, "thin_doc_rate"] - thin) < 1e-6
        assert abs(out.loc[src, "n_chars_consistency"] - cons) < 1e-6


def test_mde_planner_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q327_N_PLAN,
        _Q327_REL_EFFECT,
        _Q327_Z_ALPHA,
        _Q327_Z_BETA,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("event_type", "value").toPandas()
    out = (
        registry.QUERIES["q327_mde_planner"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    z2 = _Q327_Z_ALPHA + _Q327_Z_BETA
    for et, g in ev.groupby("event_type"):
        v = g["value"].to_numpy()
        mu, var = v.mean(), v.var()  # numpy var = population
        mde = z2 * np.sqrt(2.0 * var / _Q327_N_PLAN)
        delta = _Q327_REL_EFFECT * mu
        n_arm = int(np.ceil(2.0 * var * z2 * z2 / (delta * delta)))
        assert out.loc[et, "n_obs"] == len(v)
        assert abs(out.loc[et, "mean_value"] - mu) < 1e-4
        assert abs(out.loc[et, "var_value"] - var) < 1e-2
        assert abs(out.loc[et, "mde_at_10k"] - mde) < 1e-4
        assert abs(out.loc[et, "n_per_arm_1pct"] - n_arm) <= 1


def test_data_budget_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q392_BUDGET,
        _Q392_MAX_EPOCHS,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("source", "text").toPandas()
    docs["toks"] = docs["text"].map(lambda t: len(str(t).lower().split(" ")))
    out = (
        registry.QUERIES["q392_data_budget"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    total = float(docs["toks"].sum())
    b = float(_Q392_BUDGET)
    for src, g in docs.groupby("source"):
        toks = int(g["toks"].sum())
        share = toks / total
        epochs = b * share / toks
        usable = int(np.floor(min(b * share, _Q392_MAX_EPOCHS * toks)))
        assert out.loc[src, "n_docs"] == len(g)
        assert out.loc[src, "n_tokens"] == toks
        assert abs(out.loc[src, "natural_share"] - share) < 1e-6
        assert abs(out.loc[src, "epochs_at_natural"] - epochs) < 1e-3
        assert out.loc[src, "over_repeated"] == int(
            epochs > _Q392_MAX_EPOCHS
        )
        assert out.loc[src, "usable_tokens"] == usable


def test_erasure_cost_matches_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.relational_ext import (
        _Q404_SAMPLE_MOD,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    o = (
        _tbl(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate")
        .toPandas()
    )
    o["part_month"] = pd.to_datetime(o["o_orderdate"]).dt.strftime("%Y-%m")
    o["hit"] = (o["o_custkey"] % _Q404_SAMPLE_MOD == 0).astype(int)
    out = (
        registry.QUERIES["q404_erasure_cost"](spark, sf_dir)
        .toPandas()
        .set_index("part_month")
    )
    g = o.groupby("part_month").agg(
        part_rows=("hit", "size"), hit_rows=("hit", "sum")
    )
    assert len(out) == len(g)
    for mon, row in g.iterrows():
        assert out.loc[mon, "part_rows"] == row["part_rows"]
        assert out.loc[mon, "hit_rows"] == row["hit_rows"]
        assert out.loc[mon, "must_rewrite"] == int(row["hit_rows"] > 0)
        assert out.loc[mon, "rows_rewritten"] == (
            row["part_rows"] if row["hit_rows"] > 0 else 0
        )


def test_slo_burn_rate_matches_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q413_FAST,
        _Q413_SLO,
        _Q413_SLOW,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    ev["h"] = ev["ts"].dt.floor("h")
    hourly = ev.groupby("h").agg(
        n=("event_type", "size"),
        errs=("event_type", lambda s: (s == "error").sum()),
    ).sort_index()
    burn1 = hourly["errs"] / hourly["n"] / _Q413_SLO
    burn6 = (
        hourly["errs"].rolling(6, min_periods=1).sum()
        / hourly["n"].rolling(6, min_periods=1).sum()
        / _Q413_SLO
    )
    alert = (burn1 > _Q413_FAST) & (burn6 > _Q413_SLOW)
    out = registry.QUERIES["q413_slo_burn_rate"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_hours"] == len(hourly)
    assert abs(out["avg_burn_1h"] - burn1.mean()) < 1e-3
    assert abs(out["max_burn_1h"] - burn1.max()) < 1e-3
    assert abs(out["max_burn_6h"] - burn6.max()) < 1e-3
    assert out["alert_hours"] == int(alert.sum())
    assert out["fast_only_hours"] == int((burn1 > _Q413_FAST).sum())


def test_mix_shift_matches_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q419_ALERT,
        _Q419_TYPES,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    ev["d"] = ev["ts"].dt.date
    daily = (
        ev.pivot_table(
            index="d", columns="event_type", values="ts", aggfunc="size"
        )
        .reindex(columns=list(_Q419_TYPES))
        .fillna(0)
        .sort_index()
    )
    c = daily.to_numpy(dtype=float)
    js_days = []
    for i in range(len(c)):
        lo = max(0, i - 7)
        b = c[lo:i].sum(axis=0)
        if i == 0 or b.sum() <= 0:
            continue
        p = c[i] / c[i].sum()
        q = b / b.sum()
        m = (p + q) / 2.0
        js = 0.5 * np.sum(
            np.where(p > 0, p * np.log(p / np.where(m > 0, m, 1)), 0)
        ) + 0.5 * np.sum(
            np.where(q > 0, q * np.log(q / np.where(m > 0, m, 1)), 0)
        )
        js_days.append((daily.index[i], js))
    js_v = np.array([j for _, j in js_days])
    worst = max(
        (d for d, j in js_days if abs(j - js_v.max()) < 1e-15),
    )
    out = registry.QUERIES["q419_mix_shift"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_days"] == len(js_days)
    assert abs(out["avg_js"] - js_v.mean()) < 1e-5
    assert abs(out["max_js"] - js_v.max()) < 1e-5
    assert out["alert_days"] == int(np.sum(js_v > _Q419_ALERT))
    assert pd.Timestamp(out["worst_day"]).date() == worst


def test_map_functions_match_python_dicts(spark, sf_dir):
    import re as _re
    from collections import Counter

    from crypto_prediction_etl_spark.plans.relational_ext import _Q311_PROBE
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    out = (
        registry.QUERIES["q311_map_functions"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    pat = _re.compile(r"[a-z0-9]+")
    n_checked = 0
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        m = Counter(pat.findall(str(t).lower()))
        if not m:
            assert doc_id not in out.index
            continue
        n_checked += 1
        row = out.loc[doc_id]
        assert row["n_keys"] == len(m)
        assert row["probe_count"] == m.get(_Q311_PROBE, 0)
        assert row["max_count"] == max(m.values())
        assert row["n_singletons"] == sum(1 for v in m.values() if v == 1)
        assert row["weighted_len"] == sum(
            c * len(k) for k, c in m.items()
        )
    assert n_checked == len(out)


def test_asof_tolerance_matches_pandas_merge_asof(spark, sf_dir):
    """The tagged-union carry-forward as-of operator vs pandas' OWN
    merge_asof, plus the TTL staleness rule."""
    from crypto_prediction_etl_spark.plans.events_q import _Q321_TTL_DAYS
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts", "value")
        .toPandas()
    )
    ev["edt"] = pd.to_datetime(ev["ts"].dt.date)
    right = (
        ev.groupby(["event_type", "edt"])["value"]
        .mean()
        .rename("close")
        .reset_index()
        .sort_values("edt")
    )
    left = ev[ev["event_id"] % 11 == 0][
        ["event_id", "event_type", "edt"]
    ].sort_values("edt")
    merged = pd.merge_asof(
        left,
        right.rename(columns={"edt": "cdt"}),
        left_on="edt",
        right_on="cdt",
        by="event_type",
        direction="backward",
    )
    out = (
        registry.QUERIES["q321_asof_tolerance"](spark, sf_dir)
        .toPandas()
        .set_index("event_id")
    )
    assert len(out) == len(merged)
    for _, r in merged.iterrows():
        row = out.loc[r["event_id"]]
        if pd.isna(r["cdt"]):
            assert row["is_stale"] == 1 and pd.isna(row["fresh_close"])
            continue
        stale = (r["edt"] - r["cdt"]).days
        assert row["staleness_days"] == stale
        assert row["is_stale"] == int(stale > _Q321_TTL_DAYS)
        if stale <= _Q321_TTL_DAYS:
            assert abs(row["fresh_close"] - r["close"]) < 1e-3
        else:
            assert pd.isna(row["fresh_close"])


def test_tokenizer_fertility_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q356_LONG,
        _Q356_PIECE,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("lang", "n_chars", "text")
        .toPandas()
    )
    out = (
        registry.QUERIES["q356_tokenizer_fertility"](spark, sf_dir)
        .toPandas()
        .set_index("lang")
    )
    for lang, g in docs.groupby("lang"):
        toks_all = [str(t).lower().split(" ") for t in g["text"]]
        n_tok = sum(len(t) for t in toks_all)
        pieces = sum(
            int(np.ceil(len(w) / _Q356_PIECE)) for t in toks_all for w in t
        )
        long_t = sum(
            1 for t in toks_all for w in t if len(w) >= _Q356_LONG
        )
        chars = int(g["n_chars"].sum())
        assert out.loc[lang, "n_docs"] == len(g)
        assert out.loc[lang, "tokens_total"] == n_tok
        assert abs(out.loc[lang, "chars_per_token"] - chars / n_tok) < 1e-5
        assert (
            abs(out.loc[lang, "subword_fertility"] - pieces / n_tok) < 1e-5
        )
        assert (
            abs(out.loc[lang, "long_token_frac"] - long_t / n_tok) < 1e-5
        )
        assert (
            abs(out.loc[lang, "tokens_per_doc"] - n_tok / len(g)) < 1e-4
        )


def test_content_screen_matches_python_lexicon(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q362_FLAG_AT,
        _Q362_LEXICON,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    lex = dict(_Q362_LEXICON)
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    out = (
        registry.QUERIES["q362_content_screen"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, g in docs.groupby("source"):
        sevs = []
        for t in g["text"]:
            s = sum(lex.get(w, 0) for w in str(t).lower().split(" "))
            sevs.append(s)
        sevs = np.array(sevs)
        flagged = int(np.sum(sevs >= _Q362_FLAG_AT))
        assert out.loc[src, "docs_total"] == len(g)
        assert out.loc[src, "docs_flagged"] == flagged
        assert abs(out.loc[src, "flag_rate"] - flagged / len(g)) < 1e-6
        assert abs(out.loc[src, "avg_severity"] - sevs.mean()) < 1e-5
        assert out.loc[src, "max_severity"] == sevs.max()


def test_rake_keyphrases_match_python(spark, sf_dir):
    """Full RAKE mirror: runs between stopwords, deg/freq word
    scores, phrase scores, per-source top-3 on the rounded score."""
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.text_q import (
        _Q369_MAX_LEN,
        _Q369_MIN_LEN,
        _Q369_STOP,
        _Q369_TOP,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    import re as _re

    stop = set(_Q369_STOP)
    word_ok = _re.compile(r"^[a-z0-9]+$")
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    best: dict = defaultdict(dict)  # source -> phrase -> (plen, score)
    for _, drow in docs.iterrows():
        toks = str(drow["text"]).lower().split(" ")
        runs, cur = [], []
        for w in toks:
            if w not in stop and word_ok.match(w):
                cur.append(w)
            elif cur:
                runs.append(cur)
                cur = []
        if cur:
            runs.append(cur)
        freq: dict = defaultdict(int)
        deg: dict = defaultdict(int)
        for run in runs:
            for w in run:
                freq[w] += 1
                deg[w] += len(run)
        for run in runs:
            if not (_Q369_MIN_LEN <= len(run) <= _Q369_MAX_LEN):
                continue
            phrase = " ".join(run)
            score = sum(deg[w] / freq[w] for w in run)
            plen, sc = best[drow["source"]].get(phrase, (0, -1.0))
            best[drow["source"]][phrase] = (
                max(plen, len(run)),
                max(sc, score),
            )
    out = registry.QUERIES["q369_rake_keyphrases"](spark, sf_dir).toPandas()
    for src, phrases in best.items():
        rows = sorted(
            (
                (-float(_prnd(sc, 4)), ph, plen)
                for ph, (plen, sc) in phrases.items()
            )
        )[:_Q369_TOP]
        sub = out[out["source"] == src].sort_values("rk")
        assert len(sub) == len(rows)
        for (nz, ph, plen), (_, orow) in zip(rows, sub.iterrows()):
            assert orow["phrase"] == ph, (src, ph, orow["phrase"])
            assert orow["phrase_len"] == plen
            assert abs(orow["rake_score"] - (-nz)) < 1e-6


def test_fd_binwidth_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("event_type", "value").toPandas()
    out = (
        registry.QUERIES["q377_fd_binwidth"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    for et, g in ev.groupby("event_type"):
        v = g["value"].to_numpy()
        iqr = np.percentile(v, 75, method="linear") - np.percentile(
            v, 25, method="linear"
        )
        width = float(_prnd(2.0 * iqr / len(v) ** (1.0 / 3.0), 6))
        n_bins = int(np.ceil((v.max() - v.min()) / width))
        assert out.loc[et, "n_rows"] == len(v)
        assert abs(out.loc[et, "iqr"] - iqr) < 1e-5
        assert abs(out.loc[et, "fd_width"] - width) < 1e-9
        assert out.loc[et, "n_bins"] == n_bins


def test_sax_motifs_match_python(spark, sf_dir, candles_by_id):
    from collections import Counter

    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q374_BPS,
        _Q374_PAA,
    )

    out = (
        registry.QUERIES["q374_sax_motifs"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    b1, b2, b3 = _Q374_BPS
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        nseg = len(close) // _Q374_PAA
        m = close[: nseg * _Q374_PAA].reshape(nseg, _Q374_PAA).mean(axis=1)
        z = (m - m.mean()) / m.std()
        s = np.where(z < b1, "a", np.where(z < b2, "b", np.where(z < b3, "c", "d")))
        words = ["".join(s[i - 2 : i + 1]) for i in range(2, len(s))]
        wc = Counter(words)
        pr = np.array(list(wc.values()), dtype=float) / len(words)
        ent = float(-np.sum(pr * np.log(pr)))
        top_word = min(wc, key=lambda w: (-wc[w], w))
        assert out.loc[sym, "n_words"] == len(words)
        assert out.loc[sym, "distinct_words"] == len(wc)
        assert out.loc[sym, "top_word"] == top_word
        assert out.loc[sym, "top_count"] == wc[top_word]
        assert abs(out.loc[sym, "word_entropy"] - ent) < 1e-5


def test_texttiling_matches_python_blocks(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q389_BLOCK,
        _Q389_VALLEY,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    per_source: dict = {}
    for _, drow in docs.iterrows():
        toks = str(drow["text"]).lower().split(" ")
        blocks = [
            set(toks[lo : lo + _Q389_BLOCK])
            for lo in range(0, len(toks), _Q389_BLOCK)
        ]
        if len(blocks) < 2:
            continue
        jacs = []
        for x, y in zip(blocks[:-1], blocks[1:]):
            ix = len(x & y)
            jacs.append(ix / (len(x) + len(y) - ix))
        st = per_source.setdefault(
            drow["source"], {"n": 0, "jac": [], "segs": [], "multi": 0}
        )
        st["n"] += 1
        st["jac"].append(float(np.mean(jacs)))
        nb = sum(1 for j in jacs if j < _Q389_VALLEY)
        st["segs"].append(nb + 1)
        st["multi"] += int(nb >= 1)
    out = (
        registry.QUERIES["q389_texttiling"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, st in per_source.items():
        assert out.loc[src, "docs_measured"] == st["n"]
        assert (
            abs(out.loc[src, "avg_block_jaccard"] - np.mean(st["jac"]))
            < 1e-5
        )
        assert (
            abs(out.loc[src, "avg_segments"] - np.mean(st["segs"])) < 1e-5
        )
        assert (
            abs(out.loc[src, "multi_topic_share"] - st["multi"] / st["n"])
            < 1e-6
        )


def test_user_features_match_pandas(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "value")
        .toPandas()
    )
    ev["d"] = ev["ts"].dt.date
    amax = ev["d"].max()
    out = (
        registry.QUERIES["q290_user_features"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == ev["user_id"].nunique()
    sample = list(ev["user_id"].unique())[:200]
    for uid in sample:
        g = ev[ev["user_id"] == uid]
        purch = g[g["event_type"] == "purchase"]
        row = out.loc[uid]
        assert row["n_events"] == len(g)
        assert row["n_active_days"] == g["d"].nunique()
        assert row["n_purchases"] == len(purch)
        assert abs(row["spend"] - purch["value"].sum()) < 1e-3
        assert row["recency_days"] == (amax - g["d"].max()).days
        assert (
            abs(row["pm_share"] - (g["ts"].dt.hour >= 12).mean()) < 1e-6
        )
        assert row["n_types"] == g["event_type"].nunique()
        assert (
            abs(row["purchase_rate"] - len(purch) / len(g)) < 1e-6
        )
        assert (
            abs(
                row["events_per_active_day"]
                - len(g) / g["d"].nunique()
            )
            < 1e-3
        )


def test_chi_square_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    o = (
        _tbl(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .toPandas()
    )
    ct = pd.crosstab(o["o_orderstatus"], o["o_orderpriority"]).to_numpy(
        dtype=float
    )
    n = ct.sum()
    exp = np.outer(ct.sum(axis=1), ct.sum(axis=0)) / n
    chi2 = float(np.sum((ct - exp) ** 2 / exp))
    r, c = ct.shape
    v = np.sqrt(chi2 / (n * min(r - 1, c - 1)))
    out = registry.QUERIES["q341_chi_square"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_orders"] == n
    assert out["dof"] == (r - 1) * (c - 1)
    assert abs(out["chi2"] - chi2) < 1e-4
    assert abs(out["cramers_v"] - v) < 1e-6


def test_holm_correction_matches_python_stepdown(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import _Q310_CRITS

    # recompute each symbol's runs-test z (the q308 mirror, verified
    # separately), then apply Holm step-down in python
    zs = {}
    for sym, g in candles_by_id.items():
        close = g["close"].astype("float64").to_numpy()
        d = np.diff(close)
        signs = np.where(d > 0, 1, np.where(d < 0, 0, -1))
        signs = signs[signs >= 0]
        n = len(signs)
        runs = 1 + int(np.sum(signs[1:] != signs[:-1]))
        n_up = int(signs.sum())
        n_dn = n - n_up
        exp_runs = 2.0 * n_up * n_dn / n + 1.0
        var = (
            2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n)
            / (n * n * (n - 1.0))
        )
        zs[sym] = (runs - exp_runs) / np.sqrt(var)
    order = sorted(zs, key=lambda s: (-abs(zs[s]), s))
    out = (
        registry.QUERIES["q310_holm_correction"](spark, sf_dir)
        .toPandas()
        .set_index("id")
    )
    alive = True
    for k, sym in enumerate(order, start=1):
        passes = abs(zs[sym]) > _Q310_CRITS[k - 1]
        alive = alive and passes
        row = out.loc[sym]
        assert row["holm_rank"] == k
        assert abs(row["z_score"] - zs[sym]) < 1e-3
        assert row["z_crit"] == _Q310_CRITS[k - 1]
        assert row["significant"] == int(alive)
        assert row["bonferroni_significant"] == int(
            abs(zs[sym]) > _Q310_CRITS[0]
        )


@pytest.mark.parametrize("batch", [None, "7"], ids=["default", "7"])
def test_hawkes_intensity_matches_python_recursion(spark, sf_dir, batch):
    """q332 against a plain-Python replay of the recursion; 7-row Arrow
    batches cut every event type across batches."""
    import math

    from crypto_prediction_etl_spark.operators.timeseries import (
        HAWKES_ALPHA,
        HAWKES_MU,
        HAWKES_TAU_S,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts")
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    spark.conf.set(key, batch or default)
    try:
        out = (
            registry.QUERIES["q332_hawkes_intensity"](spark, sf_dir)
            .toPandas()
            .set_index(["event_type", "event_id"])
        )
    finally:
        spark.conf.set(key, default)
    assert ev.groupby("event_type").size().min() > 7
    for et, g in ev.groupby("event_type"):
        us = g["ts"].astype("int64").to_numpy() // 1000
        ids = g["event_id"].to_numpy()
        a = 0.0
        for k in range(len(us)):
            if k > 0:
                dt_s = (int(us[k]) - int(us[k - 1])) / 1e6
                a = math.exp(-dt_s / HAWKES_TAU_S) * (a + 1.0)
            lam = HAWKES_MU + HAWKES_ALPHA / HAWKES_TAU_S * a
            row = out.loc[(et, ids[k])]
            assert row["rn"] == k + 1
            assert abs(row["decayed_count"] - a) < 1e-4
            assert abs(row["intensity"] - lam) < 1e-6


def test_momentum_backtest_matches_pandas(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.plans.indicators_q import (
        _Q300_LOOKBACK,
        _Q300_TOP,
    )

    rows = []
    for sym, g in candles_by_id.items():
        gg = g.copy().sort_values("dt")
        gg["mon"] = pd.to_datetime(gg["dt"]).dt.strftime("%Y-%m")
        # Spark's lag is ROW-based over the symbol's own month rows —
        # no union-calendar reindexing
        c = gg.groupby("mon")["close"].last().sort_index()
        ret = c / c.shift(1) - 1.0
        signal = c.shift(1) / c.shift(_Q300_LOOKBACK + 1) - 1.0
        for mon in c.index:
            if pd.notna(ret[mon]) and pd.notna(signal[mon]):
                rows.append((mon, sym, ret[mon], signal[mon]))
    sel = pd.DataFrame(rows, columns=["mon", "id", "ret", "signal"])
    monthly = []
    for mon, g in sel.groupby("mon"):
        if len(g) < _Q300_TOP:
            continue
        g = g.sort_values(["signal", "id"], ascending=[False, True])
        strat = _prnd(g["ret"].iloc[:_Q300_TOP].mean(), 6)
        bench = _prnd(g["ret"].mean(), 6)
        monthly.append((mon, float(strat), float(bench)))
    monthly.sort()
    out = (
        registry.QUERIES["q300_momentum_backtest"](spark, sf_dir)
        .orderBy("mon")
        .toPandas()
    )
    assert len(out) == len(monthly)
    se = be = 0.0
    for (mon, s, b), (_, orow) in zip(monthly, out.iterrows()):
        se += np.log1p(s)
        be += np.log1p(b)
        assert orow["mon"] == mon
        assert abs(orow["strat_ret"] - s) < 1e-6
        assert abs(orow["bench_ret"] - b) < 1e-6
        assert abs(orow["strat_log_equity"] - se) < 1e-5
        assert abs(orow["bench_log_equity"] - be) < 1e-5


def test_matryoshka_audit_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.similarity_q import (
        _Q358_DIMS,
        _Q358_FULL,
        _vecs,
    )

    pdf = _vecs(spark, sf_dir).toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy())
    idx = {int(i): k for k, i in enumerate(ids)}
    pairs = [
        (idx[i], idx[i + 1]) for i in ids if int(i + 1) in idx
    ]
    out = (
        registry.QUERIES["q358_matryoshka_audit"](spark, sf_dir)
        .toPandas()
        .set_index("dim")
    )

    def cos(a, b, d):
        x, y = a[:d], b[:d]
        return float(
            np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y))
        )

    for d in _Q358_DIMS:
        cd = np.array([cos(mat[i], mat[j], d) for i, j in pairs])
        cf = np.array(
            [cos(mat[i], mat[j], _Q358_FULL) for i, j in pairs]
        )
        assert out.loc[d, "n_pairs"] == len(pairs)
        assert abs(out.loc[d, "mean_cos"] - cd.mean()) < 1e-5
        assert (
            abs(out.loc[d, "mean_abs_err"] - np.abs(cd - cf).mean())
            < 1e-5
        )
        assert (
            abs(out.loc[d, "max_abs_err"] - np.abs(cd - cf).max()) < 1e-5
        )


def test_similarity_alignment_matches_numpy(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q398_LEX_HI,
        _Q398_SAMPLE,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
    )
    docs = docs[docs["doc_id"] % _Q398_SAMPLE == 0]
    emb = (
        _tbl(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")
    )
    toks = {
        int(r["doc_id"]): set(str(r["text"]).lower().split(" "))
        for _, r in docs.iterrows()
    }
    ids = sorted(toks)
    jacs, coss = [], []
    for i, ia in enumerate(ids):
        for ib in ids[i + 1 :]:
            ix = len(toks[ia] & toks[ib])
            if ix == 0:
                continue
            jac = ix / (len(toks[ia]) + len(toks[ib]) - ix)
            va = np.asarray(emb.loc[ia, "embedding"], dtype="float64")
            vb = np.asarray(emb.loc[ib, "embedding"], dtype="float64")
            cosv = float(
                np.dot(va, vb)
                / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            jacs.append(jac)
            coss.append(cosv)
    jacs, coss = np.array(jacs), np.array(coss)
    out = (
        registry.QUERIES["q398_similarity_alignment"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_pairs"] == len(jacs)
    assert abs(out["mean_jaccard"] - jacs.mean()) < 1e-5
    assert abs(out["mean_cosine"] - coss.mean()) < 1e-5
    assert (
        abs(out["alignment_corr"] - np.corrcoef(jacs, coss)[0, 1]) < 1e-4
    )
    hi = coss[jacs >= _Q398_LEX_HI]
    lo = coss[jacs < _Q398_LEX_HI]
    if len(hi):
        assert abs(out["cos_lex_high"] - hi.mean()) < 1e-5
    if len(lo):
        assert abs(out["cos_lex_low"] - lo.mean()) < 1e-5


def test_dataset_card_matches_python_composite(spark, sf_dir):
    """End-to-end python mirror of the q363 card: hashlib md5
    keep-first dedup, the q42 quarter-score quality fence, the q362
    lexicon screen, and the per-source rollup — the card's published
    numbers reconcile against an independent composition of the same
    stages."""
    import hashlib
    import re as _re

    from crypto_prediction_etl_spark.operators.text import LANG_MARKERS
    from crypto_prediction_etl_spark.plans.textprep_q import (
        _Q363_FLAG_AT,
        _Q363_LEXICON,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    lex = dict(_Q363_LEXICON)
    en = set(LANG_MARKERS["en"])
    word_re = _re.compile(r"[a-z0-9]+")
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    seen_fp: set = set()
    rows = []
    for _, r in docs.iterrows():
        text = str(r["text"])
        low = text.lower()
        toks = low.split(" ")
        fp = hashlib.md5(low.encode("utf-8")).hexdigest()
        kept = fp not in seen_fp
        seen_fp.add(fp)
        n_chars = len(text)
        n_tokens = len(toks)
        n_alpha = sum(1 for ch in text if ch.isascii() and ch.isalpha())
        n_spaces = text.count(" ")
        stop_hits = sum(1 for t in toks if t in en)
        alpha_ratio = n_alpha / n_chars
        avg_tok = (n_chars - n_spaces) / n_tokens
        stop_ratio = stop_hits / n_tokens
        q = (
            (0.25 if 20 <= n_tokens <= 2000 else 0.0)
            + (0.25 if stop_ratio >= 0.01 else 0.0)
            + (0.25 if alpha_ratio >= 0.6 else 0.0)
            + (0.25 if 2.0 <= avg_tok <= 12.0 else 0.0)
        )
        sev = sum(lex.get(t, 0) for t in toks)
        flagged = sev >= _Q363_FLAG_AT
        final = kept and q >= 0.5 and not flagged
        rows.append(
            (r["source"], r["lang"], n_tokens, kept, flagged, final)
        )
    pdf = pd.DataFrame(
        rows,
        columns=["source", "lang", "n_tokens", "kept", "flagged", "final"],
    )
    out = (
        registry.QUERIES["q363_dataset_card"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, g in pdf.groupby("source"):
        assert out.loc[src, "docs_total"] == len(g)
        assert out.loc[src, "tokens_total"] == g["n_tokens"].sum()
        assert out.loc[src, "docs_after_dedup"] == int(g["kept"].sum())
        assert out.loc[src, "docs_final"] == int(g["final"].sum())
        assert (
            out.loc[src, "tokens_final"]
            == int(g.loc[g["final"], "n_tokens"].sum())
        )
        assert (
            abs(out.loc[src, "flag_rate"] - g["flagged"].mean()) < 1e-6
        )
        assert (
            abs(
                out.loc[src, "en_share"] - (g["lang"] == "en").mean()
            )
            < 1e-6
        )
        assert (
            abs(out.loc[src, "keep_rate"] - g["final"].mean()) < 1e-6
        )


def _py_quality_score(text: str) -> float:
    from crypto_prediction_etl_spark.operators.text import LANG_MARKERS

    en = set(LANG_MARKERS["en"])
    toks = text.lower().split(" ")
    n_chars = len(text)
    n_tokens = len(toks)
    n_alpha = sum(1 for ch in text if ch.isascii() and ch.isalpha())
    n_spaces = text.count(" ")
    stop_ratio = sum(1 for t in toks if t in en) / n_tokens
    alpha_ratio = n_alpha / n_chars
    avg_tok = (n_chars - n_spaces) / n_tokens
    return (
        (0.25 if 20 <= n_tokens <= 2000 else 0.0)
        + (0.25 if stop_ratio >= 0.01 else 0.0)
        + (0.25 if alpha_ratio >= 0.6 else 0.0)
        + (0.25 if 2.0 <= avg_tok <= 12.0 else 0.0)
    )


def test_filter_bias_matches_python_fence(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.text_q import (
        _Q390_KEEP_AT,
        _Q390_PARITY,
        _Q390_Z,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("lang", "text").toPandas()
    docs["keep"] = [
        int(_py_quality_score(str(t)) >= _Q390_KEEP_AT)
        for t in docs["text"]
    ]
    per = docs.groupby("lang")["keep"].agg(["size", "sum"])
    per["p"] = per["sum"] / per["size"]
    pmax = per["p"].max()
    out = (
        registry.QUERIES["q390_filter_bias"](spark, sf_dir)
        .toPandas()
        .set_index("lang")
    )
    for lang, r in per.iterrows():
        row = out.loc[lang]
        assert row["n_docs"] == r["size"]
        assert row["n_kept"] == r["sum"]
        assert abs(row["keep_rate"] - r["p"]) < 1e-6
        ci = _Q390_Z * np.sqrt(r["p"] * (1 - r["p"]) / r["size"])
        assert abs(row["ci_halfwidth"] - ci) < 1e-6
        assert abs(row["disparity_ratio"] - r["p"] / pmax) < 1e-6
        assert row["four_fifths_flag"] == int(r["p"] / pmax < _Q390_PARITY)


def test_uncertainty_sampling_matches_python_margin(spark, sf_dir):
    from crypto_prediction_etl_spark.operators.text import (
        LANG_MARKERS,
        LANG_PRIORITY,
    )
    from crypto_prediction_etl_spark.plans.text_q import _Q412_TOP
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    marker_sets = {lang: set(LANG_MARKERS[lang]) for lang in LANG_PRIORITY}
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    rows = []
    for _, r in docs.iterrows():
        toks = str(r["text"]).lower().split(" ")
        scores = sorted(
            (
                sum(1 for t in toks if t in marker_sets[lang])
                for lang in LANG_PRIORITY
            ),
            reverse=True,
        )
        rows.append(
            (
                scores[0] - scores[1],
                scores[0],
                int(r["doc_id"]),
                r["source"],
            )
        )
    rows.sort()
    top = rows[:_Q412_TOP]
    out = (
        registry.QUERIES["q412_uncertainty_sampling"](spark, sf_dir)
        .orderBy("rk")
        .toPandas()
    )
    assert len(out) == len(top)
    for (marg, ts, did, src), (_, orow) in zip(top, out.iterrows()):
        assert orow["doc_id"] == did
        assert orow["source"] == src
        assert orow["top_score"] == ts
        assert orow["margin"] == marg


def test_point_in_time_features_match_pandas(spark, sf_dir):
    """Both as-of features and the strict-prior user count vs pandas
    merge_asof + cumcount over the same deterministic order."""
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .toPandas()
    )
    ev["edt"] = pd.to_datetime(ev["ts"].dt.date)
    c = (
        ev.groupby(["event_type", "edt"])["value"]
        .mean()
        .rename("close")
        .reset_index()
        .sort_values(["event_type", "edt"])
    )
    c["roll5"] = (
        c.groupby("event_type")["close"]
        .rolling(5, min_periods=1)
        .mean()
        .reset_index(level=0, drop=True)
    )
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ev["user_prior_events"] = ev.groupby("user_id").cumcount()
    left = ev[ev["event_id"] % 7 == 0][
        ["event_id", "user_id", "event_type", "edt", "user_prior_events"]
    ].sort_values("edt")
    m1 = pd.merge_asof(
        left,
        c.rename(columns={"edt": "cdt"}).sort_values("cdt")[
            ["event_type", "cdt", "close", "roll5"]
        ],
        left_on="edt",
        right_on="cdt",
        by="event_type",
        direction="backward",
    )
    out = (
        registry.QUERIES["q322_point_in_time_features"](spark, sf_dir)
        .toPandas()
        .set_index("event_id")
    )
    assert len(out) == len(m1)
    for _, r in m1.iterrows():
        row = out.loc[r["event_id"]]
        assert row["user_prior_events"] == r["user_prior_events"]
        if pd.isna(r["cdt"]):
            assert pd.isna(row["asof_close"]) and pd.isna(row["asof_roll5"])
        else:
            assert pd.Timestamp(row["asof_dt"]) == r["cdt"]
            assert abs(row["asof_close"] - r["close"]) < 1e-3
            assert abs(row["asof_roll5"] - r["roll5"]) < 1e-3


def test_bloom_sizing_matches_numpy_formula(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.relational_ext import (
        _Q371_LN2,
        _Q371_LN2_SQ,
        _Q371_LN_INV_P,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    li = (
        _tbl(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_partkey")
        .toPandas()
    )
    li["ship_month"] = pd.to_datetime(li["l_shipdate"]).dt.strftime("%Y-%m")
    out = (
        registry.QUERIES["q371_bloom_sizing"](spark, sf_dir)
        .toPandas()
        .set_index("ship_month")
    )
    g = li.groupby("ship_month").agg(
        n_rows=("l_partkey", "size"), ndv=("l_partkey", "nunique")
    )
    assert len(out) == len(g)
    for mon, r in g.iterrows():
        m = float(np.ceil(r["ndv"] * _Q371_LN_INV_P / _Q371_LN2_SQ))
        k = max(1, int(np.floor(m / r["ndv"] * _Q371_LN2 + 0.5)))
        row = out.loc[mon]
        assert row["n_rows"] == r["n_rows"]
        assert row["ndv"] == r["ndv"]
        assert row["bloom_bits"] == int(m)
        assert row["n_hashes"] == k
        assert row["kib"] == int(np.ceil(m / 8192.0))


def test_dead_letter_audit_recovers_injected_taxonomy(spark, sf_dir):
    """The parse-path classification must recover the deterministic
    corruption rule exactly: event_id % 13 -> truncated / bad_type /
    missing_field / ok."""
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_type", "event_id")
        .toPandas()
    )
    mod = ev["event_id"] % 13
    ev["category"] = np.select(
        [mod == 0, mod == 1, mod == 2],
        ["truncated", "bad_type", "missing_field"],
        default="ok",
    )
    exp = (
        ev.groupby(["event_type", "category"])
        .size()
        .rename("n")
        .reset_index()
    )
    out = registry.QUERIES["q396_dead_letter_audit"](spark, sf_dir).toPandas()
    assert len(out) == len(exp)
    m = out.set_index(["event_type", "category"])
    tot = exp.groupby("event_type")["n"].sum()
    for _, r in exp.iterrows():
        row = m.loc[(r["event_type"], r["category"])]
        assert row["n"] == r["n"]
        assert (
            abs(row["share"] - r["n"] / tot[r["event_type"]]) < 1e-6
        )


def test_holt_winters_matches_independent_loop(spark, sf_dir, candles_by_id):
    """Re-derives the HW trajectory with an independently-coded loop
    (different state layout from the operator kernel) — pins the
    init convention (level = mean of first m closes, trend 0,
    seasonals = first-m deviations) and the emit-from-m+1 rule."""
    from crypto_prediction_etl_spark.operators.indicators import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_PERIOD,
    )

    out = (
        registry.QUERIES["q299_holt_winters"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    assert len(out) > 0
    m = HW_PERIOD
    for sym, g in out.groupby("id"):
        x = candles_by_id[sym]["close"].astype("float64").to_numpy()
        lvl = float(np.mean(x[:m]))
        tr = 0.0
        season = list(x[:m] - lvl)
        recs = []
        for t in range(m, len(x)):
            s_prev = season.pop(0)
            fc = lvl + tr + s_prev
            new_l = HW_ALPHA * (x[t] - s_prev) + (1 - HW_ALPHA) * (lvl + tr)
            tr = HW_BETA * (new_l - lvl) + (1 - HW_BETA) * tr
            s_new = HW_GAMMA * (x[t] - new_l) + (1 - HW_GAMMA) * s_prev
            lvl = new_l
            season.append(s_new)
            recs.append((lvl, tr, s_new, fc))
        assert len(g) == len(recs)
        for (lvl_e, tr_e, s_e, fc_e), (_, orow) in zip(recs, g.iterrows()):
            assert abs(orow["hw_level"] - lvl_e) < 1e-3
            assert abs(orow["hw_trend"] - tr_e) < 1e-3
            assert abs(orow["hw_season"] - s_e) < 1e-3
            assert abs(orow["hw_forecast"] - fc_e) < 1e-3


def test_garch_matches_independent_loop(spark, sf_dir, candles_by_id):
    from crypto_prediction_etl_spark.operators.indicators import (
        GARCH_ALPHA,
        GARCH_BETA,
    )

    out = (
        registry.QUERIES["q312_garch_filter"](spark, sf_dir)
        .orderBy("id", "dt")
        .toPandas()
    )
    a, b = GARCH_ALPHA, GARCH_BETA
    for sym, g in out.groupby("id"):
        close = candles_by_id[sym]["close"].astype("float64").to_numpy()
        r = np.log(close[1:] / close[:-1])
        vbar = float(_prnd(np.mean(r * r), 10))
        v = vbar
        vols = [np.sqrt(v * 365.0)]
        for k in range(1, len(r)):
            v = (1 - a - b) * vbar + a * r[k - 1] ** 2 + b * v
            vols.append(np.sqrt(v * 365.0))
        assert len(g) == len(vols)
        assert np.allclose(
            g["garch_vol_annual"].to_numpy(), vols, atol=1e-4
        )
        assert np.allclose(
            g["ret"].to_numpy(), _prnd(r, 6), atol=1e-9
        )


def test_watermark_sweep_matches_numpy_running_max(spark, sf_dir):
    """The globalrank cum_max arrival-order high-water mark vs
    np.maximum.accumulate over the same event_id order."""
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q360_WATERMARKS_S,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "ts")
        .toPandas()
        .sort_values("event_id")
    )
    us = ev["ts"].astype("int64").to_numpy() // 1000
    hw = np.maximum.accumulate(us)
    late = hw - us
    out = (
        registry.QUERIES["q360_watermark_sweep"](spark, sf_dir)
        .toPandas()
        .set_index("watermark_s")
    )
    for w in _Q360_WATERMARKS_S:
        row = out.loc[w]
        dropped = int(np.sum(late > w * 1_000_000))
        assert row["n_events"] == len(us)
        assert row["n_late"] == int(np.sum(late > 0))
        assert row["n_dropped"] == dropped
        assert abs(row["drop_rate"] - dropped / len(us)) < 1e-6
        assert row["max_late_us"] == int(late.max())


def _py_ntile(n: int, k: int) -> np.ndarray:
    """Catalyst's NTile distribution for ranks 1..n (1-based)."""
    bs, pad = divmod(n, k)
    big = bs + 1
    thr = pad * big
    r = np.arange(1, n + 1)
    return np.where(
        r <= thr,
        (r + bs) // big,
        pad + (np.maximum(r - thr, 0) + max(bs, 1) - 1) // max(bs, 1),
    ).astype(int)


def test_fair_share_matches_numpy_waterfill(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import _Q301_CAP_FRAC
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("user_id").toPandas()
    d = ev.groupby("user_id").size().rename("d").reset_index()
    d = d.sort_values(["d", "user_id"]).reset_index(drop=True)
    dd = d["d"].to_numpy(dtype=float)
    cap = float(np.floor(dd.sum() * _Q301_CAP_FRAC))
    n = len(dd)
    cum = np.cumsum(dd)
    levels = (cap - (cum - dd)) / (n - np.arange(1, n + 1) + 1)
    feas = levels[levels >= dd]
    water = feas.max() if len(feas) else cap / n
    share = np.minimum(dd, water)
    out = (
        registry.QUERIES["q301_fair_share"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == n
    for i, uid in enumerate(d["user_id"]):
        row = out.loc[uid]
        assert row["demand"] == dd[i]
        assert abs(row["allocation"] - share[i]) < 1e-3
        assert row["fully_served"] == int(share[i] >= dd[i])
    # the budget must be (nearly) exhausted under rationing
    assert abs(out["allocation"].sum() - cap) < 1.0


def test_woe_binning_matches_python_ntile(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import (
        _Q333_BINS,
        _Q333_TARGET,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "value", "event_type")
        .toPandas()
        .sort_values(["value", "event_id"])
        .reset_index(drop=True)
    )
    ev["bin"] = _py_ntile(len(ev), _Q333_BINS)
    ev["y"] = (ev["event_type"] == _Q333_TARGET).astype(int)
    g = ev.groupby("bin").agg(n=("y", "size"), n_pos=("y", "sum"))
    g["n_neg"] = g["n"] - g["n_pos"]
    tp, tn = g["n_pos"].sum(), g["n_neg"].sum()
    out = (
        registry.QUERIES["q333_woe_iv_binning"](spark, sf_dir)
        .toPandas()
        .set_index("bin")
    )
    for b, r in g.iterrows():
        row = out.loc[b]
        ps, ns = r["n_pos"] / tp, r["n_neg"] / tn
        woe = np.log(ps / ns)
        assert row["n"] == r["n"]
        assert row["n_pos"] == r["n_pos"]
        assert abs(row["pos_share"] - ps) < 1e-6
        assert abs(row["neg_share"] - ns) < 1e-6
        assert abs(row["woe"] - woe) < 1e-5
        assert abs(row["iv_contrib"] - (ps - ns) * woe) < 1e-5


def test_gain_deciles_match_python_ntile(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("event_id", "value", "event_type")
        .toPandas()
    )
    ev["p"] = _prnd(1.0 / (1.0 + np.exp(-(ev["value"] - 50.0) / 25.0)), 6)
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    ev = ev.sort_values(["p", "event_id"], ascending=[False, True]).reset_index(
        drop=True
    )
    ev["decile"] = _py_ntile(len(ev), 10)
    g = ev.groupby("decile").agg(n=("y", "size"), n_pos=("y", "sum"))
    tot_pos, tot = g["n_pos"].sum(), g["n"].sum()
    cum_pos = g["n_pos"].cumsum()
    out = (
        registry.QUERIES["q248_gain_deciles"](spark, sf_dir)
        .toPandas()
        .set_index("decile")
    )
    for d, r in g.iterrows():
        row = out.loc[d]
        rate = r["n_pos"] / r["n"]
        assert row["n"] == r["n"]
        assert row["n_pos"] == r["n_pos"]
        assert abs(row["response_rate"] - rate) < 1e-6
        assert abs(row["cum_capture"] - cum_pos[d] / tot_pos) < 1e-6
        assert (
            abs(row["lift"] - rate / (tot_pos / tot)) < 1e-5
        )


def _py_sessions(ev: pd.DataFrame, gap_min: int) -> list[tuple]:
    """(t_start, t_end) per user session under the gap rule."""
    out = []
    for _, g in ev.sort_values(["user_id", "ts", "event_id"]).groupby(
        "user_id"
    ):
        ts = g["ts"].to_numpy()
        start = ts[0]
        prev = ts[0]
        gap = np.timedelta64(gap_min * 60, "s")
        for t in ts[1:]:
            if t - prev > gap:
                out.append((start, prev + gap))
                start = t
            prev = t
        out.append((start, prev + gap))
    return out


def test_concurrency_sweep_matches_python(spark, sf_dir):
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.events_q import _Q267_GAP_MIN
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .toPandas()
    )
    sess = _py_sessions(ev, _Q267_GAP_MIN)
    deltas = [(s, 1) for s, _ in sess] + [(e, -1) for _, e in sess]
    deltas.sort(key=lambda x: (x[0], x[1]))
    live = 0
    peak: dict = defaultdict(lambda: [0, 0])  # day -> [peak, n_boundary]
    for t, d in deltas:
        live += d
        day = str(np.datetime_as_string(t, unit="D"))
        st = peak[day]
        st[0] = max(st[0], live)
        st[1] += 1
    out = (
        registry.QUERIES["q267_concurrency_sweep"](spark, sf_dir)
        .toPandas()
        .set_index("day")
    )
    assert len(out) == len(peak)
    for day, (p, nb) in peak.items():
        assert out.loc[day, "peak_concurrency"] == p, day
        assert out.loc[day, "n_boundary_events"] == nb, day


def test_interval_coverage_matches_python(spark, sf_dir):
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.events_q import _Q267_GAP_MIN
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .toPandas()
    )
    sess = _py_sessions(ev, _Q267_GAP_MIN)
    deltas = [(s, 1) for s, _ in sess] + [(e, -1) for _, e in sess]
    deltas.sort(key=lambda x: (x[0], x[1]))
    cov_us: dict = defaultdict(int)
    live = 0
    for i, (t, d) in enumerate(deltas):
        live += d
        if live > 0 and i + 1 < len(deltas):
            nxt = deltas[i + 1][0]
            day = str(np.datetime_as_string(t, unit="D"))
            cov_us[day] += int(
                (nxt - t) / np.timedelta64(1, "us")
            )
    out = (
        registry.QUERIES["q280_interval_coverage"](spark, sf_dir)
        .toPandas()
        .set_index("day")
    )
    exp_days = {d for d, us in cov_us.items()}
    # the query emits every day owning a left boundary (coverage may
    # be zero); compare covered seconds on the shared days
    for day in out.index:
        assert out.loc[day, "covered_seconds"] == cov_us.get(day, 0) // 1_000_000, day


def test_rfm_segments_match_python_ntile(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "value")
        .toPandas()
    )
    p = ev[ev["event_type"] == "purchase"].copy()
    p["d"] = p["ts"].dt.date
    u = p.groupby("user_id").agg(
        last_day=("d", "max"), freq=("d", "size"), monetary=("value", "sum")
    )
    anchor = u["last_day"].max()
    u["recency_days"] = [(anchor - d).days for d in u["last_day"]]
    u = u.reset_index()

    def cut(df, keys, ascending):
        s = df.sort_values(keys, ascending=ascending).reset_index(drop=True)
        s["b"] = _py_ntile(len(s), 5)
        return dict(zip(s["user_id"], s["b"]))

    r = cut(u, ["recency_days", "user_id"], [True, True])
    f = cut(u, ["freq", "user_id"], [False, True])
    m = cut(u, ["monetary", "user_id"], [False, True])
    out = (
        registry.QUERIES["q236_rfm_segments"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == len(u)
    for _, ru in u.iterrows():
        uid = ru["user_id"]
        row = out.loc[uid]
        assert row["recency_days"] == ru["recency_days"]
        assert row["freq"] == ru["freq"]
        assert row["r_score"] == r[uid]
        assert row["f_score"] == f[uid]
        assert row["m_score"] == m[uid]
        assert row["segment"] == f"{r[uid]}{f[uid]}{m[uid]}"


def test_stratified_effect_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .toPandas()
    )
    act = ev.groupby("user_id").size().rename("n_ev").reset_index()
    act = act.sort_values(["n_ev", "user_id"]).reset_index(drop=True)
    act["stratum"] = _py_ntile(len(act), 3)
    strat = dict(zip(act["user_id"], act["stratum"]))
    ev["stratum"] = ev["user_id"].map(strat)
    ev["treated"] = (ev["ts"].dt.hour >= 12).astype(int)
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    out = (
        registry.QUERIES["q257_stratified_effect"](spark, sf_dir)
        .toPandas()
        .set_index("stratum")
    )
    pooled_num = pooled_den = 0.0
    per = {}
    for s, g in ev.groupby("stratum"):
        t, c = g[g["treated"] == 1], g[g["treated"] == 0]
        rd = t["y"].mean() - c["y"].mean()
        nw = len(t) + len(c)
        pooled_num += rd * nw
        pooled_den += nw
        per[s] = (len(t), len(c), t["y"].mean(), c["y"].mean(), rd)
    for s, (n_t, n_c, rt, rc, rd) in per.items():
        row = out.loc[s]
        assert row["n_t"] == n_t and row["n_c"] == n_c
        assert abs(row["rate_t"] - rt) < 1e-6
        assert abs(row["rate_c"] - rc) < 1e-6
        assert abs(row["risk_diff"] - rd) < 1e-6
        assert (
            abs(row["pooled_effect"] - pooled_num / pooled_den) < 1e-6
        )


def test_cache_planner_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.events_q import _Q298_SIZES
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = _tbl(spark, sf_dir, "events").select("user_id").toPandas()
    acc = ev.groupby("user_id").size().rename("n_acc").reset_index()
    acc = acc.sort_values(
        ["n_acc", "user_id"], ascending=[False, True]
    ).reset_index(drop=True)
    total = float(acc["n_acc"].sum())
    out = (
        registry.QUERIES["q298_cache_planner"](spark, sf_dir)
        .toPandas()
        .set_index("cache_size")
    )
    for c in _Q298_SIZES:
        top = acc.iloc[:c]
        row = out.loc[c]
        assert row["n_cached_items"] == len(top)
        assert row["hits"] == top["n_acc"].sum()
        assert abs(row["hit_rate"] - top["n_acc"].sum() / total) < 1e-6


def test_vocab_coverage_matches_python(spark, sf_dir):
    from collections import Counter

    from crypto_prediction_etl_spark.plans.text_q import _Q407_SIZES
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = _tbl(spark, sf_dir, "documents").select("text").toPandas()
    cnt: Counter = Counter()
    for t in docs["text"]:
        cnt.update(str(t).lower().split(" "))
    ordered = sorted(cnt.values(), reverse=True)
    total = float(sum(ordered))
    out = registry.QUERIES["q407_vocab_coverage"](spark, sf_dir).toPandas().iloc[0]
    assert out["n_types"] == len(cnt)
    assert out["n_tokens"] == int(total)
    for v in _Q407_SIZES:
        assert abs(out[f"cov_{v}"] - sum(ordered[:v]) / total) < 1e-6


def test_lof_matches_numpy_bruteforce(spark, sf_dir):
    """Brute-force LOF over the full grid-rounded cosine-distance
    matrix — exact kNN edges, paper kdist/reachability/lrd/score."""
    from crypto_prediction_etl_spark.plans.similarity_q import (
        _LOF_K,
        _vecs,
    )

    pdf = _vecs(spark, sf_dir).toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["v"].to_numpy())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    d = 1.0 - m @ m.T
    d = np.floor(d * 1e6 + 0.5001) / 1e6
    n = len(ids)
    order = {}
    kdist = {}
    neigh = {}
    for i in range(n):
        mask = ids != ids[i]
        nd, nn = d[i][mask], ids[mask]
        o = np.lexsort((nn, nd))[:_LOF_K]
        neigh[ids[i]] = list(zip(nn[o], nd[o]))
        kdist[ids[i]] = nd[o].max()
    lrd = {}
    for pid, ns in neigh.items():
        rsum = sum(max(kdist[nid], dist) for nid, dist in ns)
        lrd[pid] = _LOF_K / rsum
    out = (
        registry.QUERIES["q348_lof_outliers"](spark, sf_dir)
        .toPandas()
        .set_index("vec_id")
    )
    assert len(out) == sum(1 for i in ids if i % 5 == 0)
    for pid in out.index:
        lof = np.mean([lrd[nid] for nid, _ in neigh[pid]]) / lrd[pid]
        row = out.loc[pid]
        assert abs(row["k_distance"] - kdist[pid]) < 1e-6
        assert abs(row["lrd"] - lrd[pid]) < 1e-3
        assert abs(row["lof"] - lof) < 1e-4


def test_mmd_matches_numpy_bruteforce(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.similarity_q import _vecs

    pdf = _vecs(spark, sf_dir).toPandas()
    lab = pdf["label"].to_numpy()
    m = np.stack(pdf["v"].to_numpy())
    sq = np.sum((m[:, None, :] - m[None, :, :]) ** 2, axis=2)
    sq = np.floor(sq * 1e9 + 0.5001) / 1e9
    n = len(lab)
    off = ~np.eye(n, dtype=bool)
    gamma = off.sum() / sq[off].sum()  # 1 / avg(sqd) over ordered pairs
    km = np.exp(-gamma * sq)
    labels = np.unique(lab)

    def kbar(la, lb):
        mask = np.outer(lab == la, lab == lb) & off
        return km[mask].mean(), int(mask.sum())

    out = registry.QUERIES["q351_mmd_two_sample"](spark, sf_dir).toPandas()
    n_pairs_expected = len(labels) * (len(labels) - 1) // 2
    assert len(out) == n_pairs_expected
    for _, row in out.iterrows():
        la, lb = row["label_a"], row["label_b"]
        kxx, _ = kbar(la, la)
        kyy, _ = kbar(lb, lb)
        kxy, ct = kbar(la, lb)
        assert row["cross_terms"] == ct
        assert abs(row["mmd2"] - (kxx + kyy - 2 * kxy)) < 1e-6


def test_kcore_matches_python_peeling(spark, sf_dir):
    from collections import Counter

    from crypto_prediction_etl_spark.plans.similarity_q import (
        _Q314_CORE_K,
        _Q314_KNN,
        _Q314_ROUNDS,
        _vecs,
    )

    pdf = _vecs(spark, sf_dir).toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["v"].to_numpy())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.floor((m @ m.T) * 1e6 + 0.5001) / 1e6
    knn = {}
    for i in range(len(ids)):
        mask = ids != ids[i]
        s, nn = sims[i][mask], ids[mask]
        o = np.lexsort((nn, -s))[:_Q314_KNN]
        knn[ids[i]] = set(nn[o])
    mut = {
        (a, b)
        for a in knn
        for b in knn[a]
        if a < b and a in knn[b]
    }
    edges = {(a, b) for a, b in mut} | {(b, a) for a, b in mut}
    deg = Counter(a for a, _ in edges)
    d0 = dict(deg)
    alive = None
    for _ in range(_Q314_ROUNDS):
        alive = {v for v, c in deg.items() if c >= _Q314_CORE_K}
        edges = {(a, b) for a, b in edges if a in alive and b in alive}
        deg = Counter(a for a, _ in edges)
    out = (
        registry.QUERIES["q314_kcore_decomposition"](spark, sf_dir)
        .toPandas()
        .set_index("vec_id")
    )
    assert len(out) == len(ids)
    for vid in ids:
        row = out.loc[vid]
        assert row["deg0"] == d0.get(vid, 0)
        assert row["in_core"] == int(vid in alive)
        if vid in deg:
            assert row["deg_core"] == deg[vid]
        else:
            assert pd.isna(row["deg_core"])


def test_simpson_detector_matches_python(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    ev = (
        _tbl(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .toPandas()
    )
    act = ev.groupby("user_id").size().rename("n_ev").reset_index()
    act = act.sort_values(["n_ev", "user_id"]).reset_index(drop=True)
    act["stratum"] = _py_ntile(len(act), 3)
    ev["stratum"] = ev["user_id"].map(dict(zip(act["user_id"], act["stratum"])))
    ev["treated"] = (ev["ts"].dt.hour >= 12).astype(int)
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    rds = []
    t_num = t_den = c_num = c_den = 0.0
    for s, g in ev.groupby("stratum"):
        t, c = g[g["treated"] == 1], g[g["treated"] == 0]
        rds.append(t["y"].mean() - c["y"].mean())
        t_num += t["y"].mean() * len(t)
        t_den += len(t)
        c_num += c["y"].mean() * len(c)
        c_den += len(c)
    pooled = t_num / t_den - c_num / c_den
    n_rev = sum(1 for rd in rds if np.sign(rd) != np.sign(pooled))
    out = (
        registry.QUERIES["q285_simpson_detector"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_strata"] == len(rds)
    assert abs(out["pooled_rd"] - pooled) < 1e-6
    assert out["n_reversed"] == n_rev
    assert out["paradox_flag"] == int(n_rev > 0)


def test_adamic_adar_matches_pandas(spark, sf_dir):
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.relational_ext import (
        _Q365_DEG_CAP,
        _Q365_MIN_COMMON,
        _Q365_TOP,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    o = _tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").toPandas()
    li = _tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    cp = (
        o.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
            ["o_custkey", "l_partkey"]
        ]
        .drop_duplicates()
        .rename(columns={"o_custkey": "cust", "l_partkey": "part"})
    )
    deg = cp.groupby("cust")["part"].nunique()
    keep = deg[(deg >= 2) & (deg <= _Q365_DEG_CAP)]
    acc: dict = defaultdict(lambda: [0, 0.0])
    for cust, g in cp[cp["cust"].isin(keep.index)].groupby("cust"):
        parts = sorted(g["part"])
        w = 1.0 / np.log(float(keep[cust]))
        for i, pa in enumerate(parts):
            for pb in parts[i + 1 :]:
                st = acc[(pa, pb)]
                st[0] += 1
                st[1] += w
    rows = [
        (pa, pb, n, float(_prnd(aa, 6)))
        for (pa, pb), (n, aa) in acc.items()
        if n >= _Q365_MIN_COMMON
    ]
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    top = rows[:_Q365_TOP]
    out = registry.QUERIES["q365_adamic_adar"](spark, sf_dir).toPandas()
    assert len(out) == len(top)
    for (pa, pb, n, aa), (_, orow) in zip(top, out.iterrows()):
        assert orow["part_a"] == pa and orow["part_b"] == pb
        assert orow["n_common"] == n
        assert abs(orow["aa_score"] - aa) < 1e-6


def test_span_dedup_matches_python_inverted_index(spark, sf_dir):
    from collections import defaultdict

    from crypto_prediction_etl_spark.plans.text_q import _Q367_K
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    span_docs: dict = defaultdict(set)
    doc_spans: dict = {}
    for _, r in docs.iterrows():
        toks = str(r["text"]).lower().split(" ")
        spans = [
            " ".join(toks[i : i + _Q367_K])
            for i in range(len(toks) - _Q367_K + 1)
        ]
        if not spans:
            continue
        doc_spans[int(r["doc_id"])] = (r["source"], spans)
        for s in set(spans):
            span_docs[s].add(int(r["doc_id"]))
    per_source: dict = defaultdict(list)
    for did, (src, spans) in doc_spans.items():
        dup = sum(1 for s in spans if len(span_docs[s]) >= 2)
        per_source[src].append((len(spans), dup))
    out = (
        registry.QUERIES["q367_span_dedup"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, lst in per_source.items():
        rates = np.array([d / n for n, d in lst])
        flags = sum(1 for n, d in lst if 2 * d >= n)
        assert out.loc[src, "docs_measured"] == len(lst)
        assert abs(out.loc[src, "avg_dup_rate"] - rates.mean()) < 1e-5
        assert abs(out.loc[src, "max_dup_rate"] - rates.max()) < 1e-5
        assert out.loc[src, "docs_flagged"] == flags


def test_code_switching_matches_python_markers(spark, sf_dir):
    from crypto_prediction_etl_spark.operators.text import LANG_MARKERS
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    marker_sets = {k: set(v) for k, v in LANG_MARKERS.items()}
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
    )
    out = (
        registry.QUERIES["q292_code_switching"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    for _, r in docs.iterrows():
        toks = str(r["text"]).lower().split(" ")
        counts = {
            lang: sum(1 for t in toks if t in ms)
            for lang, ms in marker_sets.items()
        }
        total = sum(counts.values())
        nz = sum(1 for c in counts.values() if c > 0)
        top = max(counts.values())
        mix = 1.0 - top / total if total > 0 else 0.0
        row = out.loc[int(r["doc_id"])]
        assert row["n_langs_hit"] == nz
        assert row["n_marker_toks"] == total
        assert abs(row["mix_score"] - mix) < 1e-6
        assert row["is_code_switched"] == int(nz >= 2 and total >= 4)


def test_self_retrieval_matches_python_bm25(spark, sf_dir):
    """Full python BM25 self-retrieval protocol: rarest-term query
    construction, posting-join candidates, Okapi scoring, ranked on
    the rounded score with cand tie-break — MRR/recall per source."""
    import re as _re
    from collections import Counter, defaultdict

    from crypto_prediction_etl_spark.plans.text_q import (
        _Q399_B,
        _Q399_K1,
        _Q399_SAMPLE,
        _Q399_TERMS,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    word_ok = _re.compile(r"^[a-z0-9]+$")
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    tfs: dict = {}
    dls: dict = {}
    src_of: dict = {}
    dfreq: Counter = Counter()
    for _, r in docs.iterrows():
        did = int(r["doc_id"])
        toks = str(r["text"]).lower().split(" ")
        dls[did] = len(toks)
        src_of[did] = r["source"]
        c = Counter(t for t in toks if word_ok.match(t))
        tfs[did] = c
        for t in c:
            dfreq[t] += 1
    postings: dict = defaultdict(list)
    for did, c in tfs.items():
        for t, tf in c.items():
            postings[t].append((did, tf))
    n_docs = len(docs)
    avgdl = sum(dls.values()) / n_docs
    k1, b = _Q399_K1, _Q399_B
    per_source: dict = defaultdict(list)
    for did in sorted(tfs):
        if did % _Q399_SAMPLE != 0:
            continue
        qterms = sorted(tfs[did], key=lambda t: (dfreq[t], t))[
            :_Q399_TERMS
        ]
        scores: dict = defaultdict(float)
        for t in qterms:
            idf = np.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            for cand, tf in postings[t]:
                scores[cand] += (
                    idf
                    * tf
                    * (k1 + 1.0)
                    / (tf + k1 * (1 - b + b * dls[cand] / avgdl))
                )
        ranked = sorted(
            scores.items(),
            key=lambda kv: (-float(_prnd(kv[1], 6)), kv[0]),
        )
        rk = next(i + 1 for i, (c, _) in enumerate(ranked) if c == did)
        per_source[src_of[did]].append(rk)
    out = (
        registry.QUERIES["q399_self_retrieval"](spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    for src, rks in per_source.items():
        rks = np.array(rks, dtype=float)
        assert out.loc[src, "n_queries"] == len(rks)
        assert abs(out.loc[src, "mrr"] - np.mean(1.0 / rks)) < 1e-5
        assert (
            abs(out.loc[src, "recall_at_1"] - np.mean(rks == 1)) < 1e-6
        )
        assert (
            abs(out.loc[src, "recall_at_5"] - np.mean(rks <= 5)) < 1e-6
        )


def test_rec_coverage_bias_matches_pandas(spark, sf_dir):
    from collections import Counter, defaultdict

    from crypto_prediction_etl_spark.plans.relational_ext import (
        _REC_CUTOFF,
        _REC_K,
    )
    from crypto_prediction_etl_spark.sources.readers import table as _tbl

    o = (
        _tbl(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .toPandas()
    )
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
    )
    p_cnt = _tbl(spark, sf_dir, "part").count()
    inter = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    inter["is_train"] = pd.to_datetime(inter["o_orderdate"]) < pd.Timestamp(
        _REC_CUTOFF
    )
    tr = inter[inter["is_train"]][
        ["o_custkey", "l_partkey", "o_orderkey"]
    ].drop_duplicates()
    co: Counter = Counter()
    for _, g in tr.groupby("o_orderkey"):
        parts = sorted(set(g["l_partkey"]))
        for i, pa in enumerate(parts):
            for pb in parts:
                if pb != pa:
                    co[(pa, pb)] += 1
    bya: dict = defaultdict(list)
    for (pa, pb), n in co.items():
        bya[pa].append((-n, pb))
    recd: set = set()
    for pa, lst in bya.items():
        lst.sort()
        for _, pb in lst[:_REC_K]:
            recd.add(pb)
    pop = tr.groupby("l_partkey").size().rename("n_buys").reset_index()
    pop = pop.sort_values(
        ["n_buys", "l_partkey"], ascending=[False, True]
    ).reset_index(drop=True)
    pop["pop_rank"] = np.arange(1, len(pop) + 1)
    rank_of = dict(zip(pop["l_partkey"], pop["pop_rank"]))
    rec_ranks = [rank_of[x] for x in recd]
    out = (
        registry.QUERIES["q289_rec_coverage_bias"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["n_recommended"] == len(recd)
    assert abs(out["catalog_coverage"] - len(recd) / p_cnt) < 1e-6
    assert abs(out["avg_pop_rank_rec"] - np.mean(rec_ranks)) < 1e-2
    assert (
        abs(out["avg_pop_rank_all"] - pop["pop_rank"].mean()) < 1e-2
    )


# ---------------------------------------------------------------------------
# Invariant checks for the portable-hash-keyed queries: their hash
# randomness cannot be mirrored hash-free, but their OUTPUTS obey
# mathematical laws an implementation bug would break (the q401
# monotonicity-invariant class that caught a real bug in r5).
# ---------------------------------------------------------------------------


def test_threshold_sweep_monotonicity_invariants(spark, sf_dir):
    """Raising the keep threshold can only shrink TP and FP and grow
    FN; recall is non-increasing; tp+fn (total positives) constant."""
    out = (
        registry.QUERIES["q334_threshold_sweep"](spark, sf_dir)
        .orderBy("threshold")
        .toPandas()
    )
    assert len(out) >= 3
    tp, fp, fn = out["tp"].to_numpy(), out["fp"].to_numpy(), out["fn"].to_numpy()
    assert (np.diff(tp) <= 0).all()
    assert (np.diff(fp) <= 0).all()
    assert (np.diff(fn) >= 0).all()
    assert len(set(tp + fn)) == 1  # positives invariant to threshold
    rec = out["recall_"].to_numpy()
    assert (np.diff(rec) <= 1e-9).all()
    prec = out["precision_"].to_numpy()
    f1 = out["f1"].to_numpy()
    exp_f1 = np.where(
        prec + rec > 0, 2 * prec * rec / (prec + rec), 0.0
    )
    assert np.allclose(f1, exp_f1, atol=1e-4)


def test_dedup_sweep_monotonicity_invariants(spark, sf_dir):
    """A stricter similarity cutoff keeps fewer pairs and fewer
    affected docs, and the surviving pairs' mean Jaccard can only
    rise; every mean sits at or above its own threshold."""
    out = (
        registry.QUERIES["q359_dedup_threshold_sweep"](spark, sf_dir)
        .orderBy("threshold")
        .toPandas()
    )
    assert len(out) >= 3
    assert (np.diff(out["n_pairs"].to_numpy()) <= 0).all()
    assert (np.diff(out["n_docs_affected"].to_numpy()) <= 0).all()
    mj = out["mean_jaccard"].to_numpy()
    ok = ~np.isnan(mj)
    assert (np.diff(mj[ok]) >= -1e-9).all()
    assert (
        mj[ok] >= out["threshold"].to_numpy()[ok] - 1e-9
    ).all()


def test_poisson_bootstrap_ci_contains_point(spark, sf_dir):
    """Each group's 95% bootstrap CI must bracket its own point mean
    and be properly ordered."""
    out = registry.QUERIES["q315_poisson_bootstrap"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["ci_lo"] <= out["point_mean"]).all()
    assert (out["point_mean"] <= out["ci_hi"]).all()
    assert (out["ci_lo"] < out["ci_hi"]).all()
    assert (out["n_resamples"] > 0).all()


def test_ips_snips_diagnostics(spark, sf_dir):
    """SNIPS = IPS / mean_weight by construction; all values finite;
    matched subset no larger than the log."""
    out = registry.QUERIES["q383_ips_offpolicy"](spark, sf_dir).toPandas().iloc[0]
    assert 0 < out["n_matched"] <= out["n_logged"]
    assert out["mean_weight"] > 0
    assert (
        abs(out["snips_value"] - out["ips_value"] / out["mean_weight"])
        < 1e-3
    )


def test_vnode_balance_improves_with_vnodes(spark, sf_dir):
    """More vnodes must not worsen DISPERSION: load CV non-increasing
    and hit-node count non-decreasing in the vnode count (peak-to-mean
    is a max statistic and may legitimately tick up by one unlucky
    node); total assigned load is conserved across configurations."""
    out = (
        registry.QUERIES["q402_vnode_balance"](spark, sf_dir)
        .orderBy("vnodes")
        .toPandas()
    )
    assert len(out) >= 3
    assert (np.diff(out["load_cv"].to_numpy()) <= 1e-9).all()
    assert (np.diff(out["nodes_hit"].to_numpy()) >= 0).all()
    assert (out["peak_to_mean"] >= 1.0 - 1e-9).all()
    totals = (out["mean_load"] * out["nodes_hit"]).round(3)
    assert totals.nunique() == 1
    assert (out["max_load"] >= out["mean_load"] - 1e-9).all()


def test_permutation_test_pvalue_laws(spark, sf_dir):
    """Phipson-Smyth +1 smoothing bounds: p in [1/(B+1), 1], and
    p = (n_extreme + 1) / (B + 1) exactly."""
    from crypto_prediction_etl_spark.plans.events_q import _Q296_PERMS

    out = (
        registry.QUERIES["q296_permutation_test"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    b = _Q296_PERMS
    assert 0 <= out["n_extreme"] <= b
    assert (
        abs(out["p_value"] - (out["n_extreme"] + 1) / (b + 1)) < 1e-6
    )
    assert 1.0 / (b + 1) - 1e-9 <= out["p_value"] <= 1.0 + 1e-9


def test_reshard_audit_hrw_beats_mod(spark, sf_dir):
    """The audit's entire point as an invariant: rendezvous hashing
    moves a small fraction (~1/(N+1)) while mod-N moves almost
    everything (~N/(N+1)); both strategies see the same key set."""
    out = (
        registry.QUERIES["q361_reshard_audit"](spark, sf_dir)
        .toPandas()
        .set_index("strategy")
    )
    assert len(out) == 2
    assert out["n_keys"].nunique() == 1
    fracs = out["moved_frac"]
    hrw = fracs.min()
    mod = fracs.max()
    assert hrw < 0.25  # ~1/17 expected for 16 -> 17
    assert mod > 0.75  # ~16/17 expected
    assert (out["load_max_over_avg"] >= 1.0 - 1e-9).all()
    assert (out["n_moved"] <= out["n_keys"]).all()


def test_bloom_empirical_no_false_negatives_and_fpp_sane(spark, sf_dir):
    """Bloom-filter hard guarantees: bits_set <= min(m, k*n); the
    probe universe is disjoint from members so every hit is a false
    positive; measured FPP within a loose band of the predicted
    (1 - e^{-kn/m})^k."""
    out = (
        registry.QUERIES["q415_bloom_empirical"](spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert out["bits_set"] <= out["m_bits"]
    assert out["false_positives"] <= out["n_probes"]
    assert (
        abs(out["measured_fpp"] - out["false_positives"] / out["n_probes"])
        < 1e-6
    )
    assert 0 <= out["predicted_fpp"] <= 1
    # measured within a generous multiplicative band of predicted
    if out["predicted_fpp"] > 0:
        assert out["measured_fpp"] <= out["predicted_fpp"] * 5 + 0.01
    assert out["measured_fpp"] >= 0


def test_cross_source_dups_containment_laws(spark, sf_dir):
    """Containment = shared/min(|A|,|B|) in [0,1]; shared bounded by
    both fingerprint counts; pairs are ordered source_a < source_b."""
    out = registry.QUERIES["q411_cross_source_dups"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["source_a"] < out["source_b"]).all()
    assert (out["shared_fps"] <= out[["fps_a", "fps_b"]].min(axis=1)).all()
    exp = out["shared_fps"] / out[["fps_a", "fps_b"]].min(axis=1)
    assert np.allclose(out["containment"], exp, atol=1e-5)


def test_remaining_hash_keyed_invariants(spark, sf_dir):
    """One consolidated law check per remaining hash-keyed query:
    each output obeys its defining identities even though the hash
    randomness itself cannot be mirrored."""
    # q307: exact dups can't exceed docs; near-dup rate consistent
    d = registry.QUERIES["q307_dup_rate_by_source"](spark, sf_dir).toPandas()
    assert (d["n_exact_dup"] <= d["n_docs"]).all()
    assert (d["n_near_dup"] <= d["n_docs"]).all()
    assert np.allclose(
        d["near_dup_rate"], d["n_near_dup"] / d["n_docs"], atol=1e-5
    )
    # q320: per-bucket weights live in [-1, 1], so |score| <= 1;
    # prob_keep is a sigmoid of score; keep matches the threshold
    from crypto_prediction_etl_spark.plans.text_q import _Q320_THRESH

    c = registry.QUERIES["q320_hashed_linear_classifier"](
        spark, sf_dir
    ).toPandas()
    assert (c["score"].abs() <= 1.0 + 1e-9).all()
    assert np.allclose(
        c["prob_keep"], 1.0 / (1.0 + np.exp(-c["score"])), atol=1e-4
    )
    assert (
        c["keep"] == (c["prob_keep"] > _Q320_THRESH).astype(int)
    ).all()
    assert (c["n_active_buckets"] <= c["n_tokens"]).all()
    # q328: soft-dedup weights are the defined functions of n_copies
    w = registry.QUERIES["q328_soft_dedup_weights"](spark, sf_dir).toPandas()
    assert (w["n_copies"] >= 1).all()
    assert np.allclose(w["w_uniform"], 1.0 / w["n_copies"], atol=1e-5)
    assert np.allclose(
        w["w_sqrt"], 1.0 / np.sqrt(w["n_copies"]), atol=1e-5
    )
    # q344: per-token log weight integrates back to the doc weight
    ds = registry.QUERIES["q344_dsir_weights"](spark, sf_dir).toPandas()
    assert np.allclose(
        ds["dsir_log_weight"],
        ds["per_token_log_weight"] * ds["n_toks"],
        atol=1e-2,
    )
    # q378: per-language bucket doc counts partition the scored docs
    # into tertiles (sizes differ by at most 2), ppl = exp(nll)
    b = registry.QUERIES["q378_ccnet_buckets"](spark, sf_dir).toPandas()
    assert np.allclose(b["avg_ppl"], np.exp(b["avg_nll"]), rtol=0.02)
    for _, g in b.groupby("lang"):
        assert g["n_docs"].max() - g["n_docs"].min() <= 2
    # q410: dispersion and colocation live on their defined ranges
    a = registry.QUERIES["q410_shard_key_advisor"](spark, sf_dir).toPandas()
    assert (a["shard_cv"] >= -1e-9).all()
    assert ((a["order_colocation"] > 0) & (a["order_colocation"] <= 1.0 + 1e-9)).all()
    assert (a["ndv"] >= 1).all()
    # q286: the KMV union estimate lands within a loose band of truth
    k = registry.QUERIES["q286_kmv_union_merge"](spark, sf_dir).toPandas().iloc[0]
    assert k["n_exact"] > 0
    assert abs(k["rel_err"]) < 0.6  # k=64 sketch: ~1/sqrt(k) noise band
    assert (
        abs(
            k["rel_err"]
            - abs(k["kmv_union_estimate"] - k["n_exact"]) / k["n_exact"]
        )
        < 1e-4
    )
