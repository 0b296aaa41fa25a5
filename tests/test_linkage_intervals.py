"""Record linkage (SymSpell deletion-neighborhood blocking), the binned
interval-lookup join, score calibration, and l-diversity — each checked
against an independent pure-Python third implementation (catches a
mistake shared by the Spark and DuckDB-oracle renderings), plus the
plan-shape pins that make the scale claims falsifiable."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _run(spark, name):
    from hadoop_common_spark.queries import load_all

    return load_all()[name].fn(spark, SF_DIR)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _del1_keys(w: str) -> set[str]:
    return {w} | {w[:i] + w[i + 1 :] for i in range(len(w))}


# ---------------------------------------------------------------- linkage


def test_entity_link_matches_python_bruteforce(spark):
    got = {
        (r.custkey, r.suppkey): r.edit_dist
        for r in _run(spark, "entity_link_fuzzy_ids").collect()
    }
    cust = pd.read_parquet(SF_DIR + "/customer.parquet")[["c_custkey", "c_name"]]
    supp = pd.read_parquet(SF_DIR + "/supplier.parquet")[["s_suppkey", "s_name"]]
    want = {}
    for ck, cn in cust.itertuples(index=False):
        for sk, sn in supp.itertuples(index=False):
            d = _lev(cn[9:], sn[9:])
            if d <= 1:
                want[(ck, sk)] = d
    assert got == want and len(want) > 0


def test_entity_link_plan_has_no_nested_loop(spark):
    plan = _run(spark, "entity_link_fuzzy_ids")._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="0123456789ab", min_size=1, max_size=8),
    st.text(alphabet="0123456789ab", min_size=1, max_size=8),
)
def test_deletion1_blocking_is_lossless_for_lev1(a, b):
    """Any pair within Levenshtein distance 1 shares a blocking key —
    the losslessness claim the Spark path's correctness rests on."""
    if _lev(a, b) <= 1:
        assert _del1_keys(a) & _del1_keys(b)


def test_deletion1_keys_column_matches_python(spark):
    from hadoop_common_spark.operators.dedup import deletion1_keys

    words = ["abc", "a", "0123456789", "aa", "xyzzy"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: set(r.k)
        for r in df.select("w", deletion1_keys("w").alias("k")).collect()
    }
    assert got == {w: _del1_keys(w) for w in words}


# ------------------------------------------------------- interval lookup


def test_balance_band_match_python_bruteforce(spark):
    got = {
        r.suppkey: (r.n_matched, round(r.sum_matched_bal, 2))
        for r in _run(spark, "supplier_balance_band_match").collect()
    }
    cust = pd.read_parquet(SF_DIR + "/customer.parquet")
    supp = pd.read_parquet(SF_DIR + "/supplier.parquet")
    want = {}
    for s in supp.itertuples(index=False):
        m = cust[
            (cust.c_nationkey == s.s_nationkey)
            & (cust.c_acctbal >= s.s_acctbal - 100.0)
            & (cust.c_acctbal <= s.s_acctbal + 100.0)
        ]
        if len(m):
            want[s.s_suppkey] = (len(m), round(float(m.c_acctbal.sum()), 2))
    assert got == want


def test_interval_lookup_join_exactness_crossbin(spark):
    """Intervals spanning bin boundaries and points at exact interval
    edges: the binned join must equal the naive theta join, boundaries
    inclusive, regardless of bin alignment."""
    from hadoop_common_spark.operators.joins import interval_lookup_join_binned

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 9.9, 10.0, 10.1, 25.0, 99.9])],
        "pid int, v double",
    )
    ivs = spark.createDataFrame(
        [
            (0, 0.0, 10.0),     # edge-inclusive both ends
            (1, 9.95, 10.05),   # straddles a bin boundary
            (2, -5.0, -1.0),    # matches nothing
            (3, 20.0, 120.0),   # spans many bins
        ],
        "iid int, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_lookup_join_binned(
            pts, ivs, "v", "lo", "hi", bin_width=10.0
        ).collect()
    }
    want = {
        (p.pid, i.iid)
        for p in pts.collect()
        for i in ivs.collect()
        if i.lo <= p.v <= i.hi
    }
    assert got == want and (0, 0) in got and (2, 0) in got  # inclusive edges


def test_balance_band_plan_has_no_nested_loop(spark):
    plan = _run(spark, "supplier_balance_band_match")._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------------------- calibration


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_score_calibration_matches_python(spark):
    import math

    got = {
        r.score_bin: (r.n_docs, r.n_label_pos, r.min_score, r.max_score)
        for r in _run(spark, "text_score_calibration").collect()
    }
    docs = pd.read_parquet(SF_DIR + "/documents.parquet")
    bins: dict[int, list[int]] = {}
    for t, nc in zip(docs.text, docs.n_chars):
        # engine semantics exactly: ASCII-space split of lower(trim())
        toks = [x for x in t.strip().lower().split() if x]
        if not toks:
            continue
        score = sum(
            _h60("qlw:" + str(_h60(tok) % 4096)) % 2001 - 1000 for tok in toks
        )
        b = math.floor(score / 500.0)
        e = bins.setdefault(b, [0, 0, score, score])
        e[0] += 1
        e[1] += int(nc >= 300)
        e[2] = min(e[2], score)
        e[3] = max(e[3], score)
    assert got == {b: tuple(v) for b, v in bins.items()}


# ----------------------------------------------------------- l-diversity


def test_l_diversity_matches_python(spark):
    got = {
        r.event_type: (
            r.n_qi_groups,
            r.n_homogeneous_groups,
            r.n_exposed_rows,
            r.min_diversity,
        )
        for r in _run(spark, "events_l_diversity").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    groups: dict[tuple, set] = {}
    sizes: dict[tuple, int] = {}
    for r in ev.itertuples(index=False):
        epoch = int(r.ts.timestamp())
        qi = (r.event_type, (epoch % 86400) // 3600, math_floor(r.value / 50.0))
        groups.setdefault(qi, set()).add(r.user_id)
        sizes[qi] = sizes.get(qi, 0) + 1
    want: dict[str, list[int]] = {}
    for qi, users in groups.items():
        e = want.setdefault(qi[0], [0, 0, 0, 10**9])
        e[0] += 1
        if len(users) < 3:
            e[1] += 1
            e[2] += sizes[qi]
        e[3] = min(e[3], len(users))
    assert got == {k: tuple(v) for k, v in want.items()}


def math_floor(x: float) -> int:
    import math

    return int(math.floor(x))


# ------------------------------------------- batch B: stats / set-ops


def _footprints(ev: pd.DataFrame) -> dict[str, set]:
    sets: dict[str, set] = {}
    for t, u, ts in zip(ev.event_type, ev.user_id, ev.ts):
        epoch = int(ts.timestamp())
        cell = u * 24 + (epoch % 86400) // 3600
        sets.setdefault(t, set()).add(cell)
    return sets


def test_audience_overlap_matches_python(spark):
    got = {
        (r.type_a, r.type_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in _run(spark, "events_audience_overlap").collect()
    }
    sets = _footprints(pd.read_parquet(SF_DIR + "/events.parquet"))
    want = {}
    types = sorted(sets)
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            c = len(sets[ta] & sets[tb])
            if c:
                want[(ta, tb)] = (
                    c,
                    len(sets[ta]),
                    len(sets[tb]),
                    c / (len(sets[ta]) + len(sets[tb]) - c),
                )
    assert got == want and len(want) > 0
    # the cell grain must actually discriminate (guards against the
    # degenerate all-1.0 matrix plain user-id sets produce here)
    assert any(v[3] < 0.999 for v in want.values())


def test_qty_price_correlation_matches_python_exactly(spark):
    """Bit-exact vs a pure-Python rendering of the same pipeline:
    per-element HALF_UP snap of the scaled doubles to 6 decimals, exact
    decimal accumulation, one fixed IEEE expression — the determinism
    contract the query documents."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    got = {
        r.l_returnflag: (r.n_rows, r.corr_qty_price)
        for r in _run(spark, "lineitem_qty_price_correlation").collect()
    }
    li = pd.read_parquet(SF_DIR + "/lineitem.parquet")
    q6 = Decimal("0.000001")

    def snap(v: float) -> Decimal:
        return Decimal(v).quantize(q6, rounding=ROUND_HALF_UP)

    want = {}
    for flag, g in li.groupby("l_returnflag"):
        n = float(len(g))
        sx = sy = sxy = sxx = syy = Decimal(0)
        for qv, pv in zip(g.l_quantity, g.l_extendedprice):
            x, y = qv / 10.0, pv / 1000.0
            sx += snap(x)
            sy += snap(y)
            sxy += snap(x * y)
            sxx += snap(x * x)
            syy += snap(y * y)
        fx, fy, fxy, fxx, fyy = map(float, (sx, sy, sxy, sxx, syy))
        r = (n * fxy - fx * fy) / (
            math.sqrt(n * fxx - fx * fx) * math.sqrt(n * fyy - fy * fy)
        )
        want[flag] = (len(g), r)
    assert got == want


def test_mode_band_matches_python_with_tiebreak(spark):
    import math

    got = {
        r.event_type: (r.mode_band, r.mode_count)
        for r in _run(spark, "events_mode_band_by_type").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    counts: dict[tuple, int] = {}
    for t, v in zip(ev.event_type, ev.value):
        k = (t, int(math.floor(v / 50.0)))
        counts[k] = counts.get(k, 0) + 1
    want: dict[str, tuple] = {}
    for (t, band), n in counts.items():
        cur = want.get(t)
        # max count, then SMALLEST band — the documented tiebreak
        if cur is None or (n, -band) > (cur[1], -cur[0]):
            want[t] = (band, n)
    assert got == want


def test_mode_band_plan_has_no_window(spark):
    plan = _run(spark, "events_mode_band_by_type")._jdf.queryExecution().toString()
    assert "Window" not in plan  # struct-max argmax, not ROW_NUMBER


def test_weighted_sample_by_source_matches_python(spark):
    import math

    got = {
        (r.source, r.rank): (r.doc_id, r.weight)
        for r in _run(spark, "corpus_weighted_sample_by_source").collect()
    }
    docs = pd.read_parquet(SF_DIR + "/documents.parquet")
    docs = docs[docs.n_chars > 0]
    rows = []
    for did, src, nc in zip(docs.doc_id, docs.source, docs.n_chars):
        u = (_h60("wsg:" + str(did)) + 1.0) / float(1 << 60)
        rows.append((src, math.log(u) / float(nc), did, int(nc)))
    want = {}
    for src in set(r[0] for r in rows):
        grp = sorted(
            (r for r in rows if r[0] == src), key=lambda r: (-r[1], r[2])
        )[:5]
        for i, (s, k, did, w) in enumerate(grp, 1):
            want[(s, i)] = (did, w)
    assert got == want and len(got) > 0


# ------------------------------------------- batch C: CDC SCD2 / k-center


def test_cdc_scd2_history_matches_python(spark):
    got = {
        (r.user_id, r.version): (r.valid_from, r.valid_to, r.value, r.is_current)
        for r in _run(spark, "events_cdc_scd2_history").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    ops: dict[int, list] = {}
    for r in ev.itertuples(index=False):
        op = {"signup": "I", "error": "D"}.get(r.event_type, "U")
        ops.setdefault(r.user_id, []).append(
            (int(r.ts.timestamp()), r.event_id, op, r.value)
        )
    want = {}
    for uid, lst in ops.items():
        lst.sort()
        ver = 0
        for i, (ts, eid, op, val) in enumerate(lst):
            nxt = lst[i + 1][0] if i + 1 < len(lst) else None
            if op == "D":
                continue
            ver += 1
            want[(uid, ver)] = (ts, nxt, val, int(nxt is None))
    assert got == want and len(want) > 0


def test_cdc_scd2_intervals_partition_key(spark):
    """Non-current versions are closed by the NEXT op's timestamp (even
    a delete), and a key whose last op is a delete has no current row."""
    rows = _run(spark, "events_cdc_scd2_history").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to is not None and a.valid_to <= b.valid_from
        assert all(v.is_current == 0 for v in vs[:-1])


def _kcenter_python(vecs: dict[int, list[int]], k: int = 4):
    first = min(vecs)
    picks = [(1, first, 0)]
    d2 = {
        i: sum((a - b) * (a - b) for a, b in zip(v, vecs[first]))
        for i, v in vecs.items()
    }
    for rank in range(2, k + 1):
        best = max(d2.items(), key=lambda kv: (kv[1], -kv[0]))
        bid = min(i for i, d in d2.items() if d == best[1])
        picks.append((rank, bid, d2[bid]))
        for i, v in vecs.items():
            nd = sum((a - b) * (a - b) for a, b in zip(v, vecs[bid]))
            if nd < d2[i]:
                d2[i] = nd
    return picks


def test_kcenter_seeds_match_python(spark):
    import math

    got = sorted(
        (r.seed_rank, r.vec_id, r.sep_micro2)
        for r in _run(spark, "embedding_kcenter_seeds").collect()
    )
    emb = pd.read_parquet(SF_DIR + "/embeddings.parquet")
    vecs = {
        int(i): [int(math.floor(float(x) * 1e6)) for x in v]
        for i, v in zip(emb.vec_id, emb.embedding)
    }
    assert got == sorted(_kcenter_python(vecs))


def test_kcenter_seeds_plan_has_no_window_or_global_sort(spark):
    plan = _run(spark, "embedding_kcenter_seeds")._jdf.queryExecution().toString()
    assert "Window" not in plan  # argmax is struct-max, not ROW_NUMBER
    assert "TakeOrderedAndProject" not in plan and "Sort [" not in plan


# ---------------------------------------------------- batch D: real HLL


def _hll_python(users_by_type: dict[str, set]) -> dict[str, tuple]:
    out = {}
    for t, users in users_by_type.items():
        regs = {}
        for u in users:
            h = _h60("hll:" + str(u))
            reg, v = h % 64, h >> 6
            rank = 55 if v == 0 else 55 - v.bit_length()
            regs[reg] = max(regs.get(reg, 0), rank)
        s = sum(1 << (55 - m) for m in regs.values()) + (64 - len(regs)) * (1 << 55)
        est = (0.709 * 4096.0 * float(1 << 55)) / float(s)
        out[t] = (len(users), est, 64 - len(regs), sum(regs.values()))
    return out


def test_hll_matches_python_bit_exact(spark):
    got = {
        r.event_type: (r.n_exact, r.hll_estimate, r.n_empty, r.register_sum)
        for r in _run(spark, "events_hll_distinct_users").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    users: dict[str, set] = {}
    for t, u in zip(ev.event_type, ev.user_id):
        users.setdefault(t, set()).add(u)
    assert got == _hll_python(users)


def test_hll_estimate_accuracy_within_bounds(spark):
    """m=64 gives ~1.04/sqrt(64) = 13% typical relative error. The query
    deliberately emits the RAW estimator plus n_empty; below the 2.5m
    small-range threshold the consumer applies Flajolet's linear-counting
    correction m*ln(m/V) — this test exercises exactly that contract
    (sf0.001 has ~15 users/type, firmly in the corrected regime), and
    asserts a generous 3-sigma-ish 40% so one unlucky hash draw can't
    flake it."""
    import math

    for r in _run(spark, "events_hll_distinct_users").collect():
        assert r.n_exact > 0
        est = r.hll_estimate
        if est < 2.5 * 64 and r.n_empty > 0:
            est = 64 * math.log(64 / r.n_empty)
        rel = abs(est - r.n_exact) / r.n_exact
        assert rel < 0.40, (r.event_type, r.n_exact, est)


# --------------------------------------- batch E: KMV sketch twins


def test_audience_overlap_kmv_matches_python(spark):
    got = {
        (r.type_a, r.type_b): (r.n_both, r.k_used, r.jaccard_est)
        for r in _run(spark, "events_audience_overlap_kmv").collect()
    }
    sets = _footprints(pd.read_parquet(SF_DIR + "/events.parquet"))
    K = 64
    sk = {
        t: set(sorted(cells, key=lambda c: (_h60("ao:" + str(c)), c))[:K])
        for t, cells in sets.items()
    }
    want = {}
    types = sorted(sk)
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            union = sorted(
                sk[ta] | sk[tb], key=lambda c: (_h60("ao:" + str(c)), c)
            )[:K]
            both = sum(1 for c in union if c in sk[ta] and c in sk[tb])
            want[(ta, tb)] = (both, len(union), both / len(union))
    assert got == want and len(want) > 0


def test_kmv_jaccard_estimate_tracks_exact(spark):
    """The 64-hash estimate must land near the exact Jaccard (binomial
    std err ~ sqrt(j(1-j)/64) ~ 0.06 here; allow 4x)."""
    exact = {
        (r.type_a, r.type_b): r.jaccard
        for r in _run(spark, "events_audience_overlap").collect()
    }
    est = {
        (r.type_a, r.type_b): r.jaccard_est
        for r in _run(spark, "events_audience_overlap_kmv").collect()
    }
    # the exact query emits only pairs with >=1 common cell (inner join);
    # the KMV query emits every type pair — a disjoint pair's exact
    # jaccard is 0, so compare over the KMV side's superset
    assert set(exact) <= set(est)
    for k, e in est.items():
        j = exact.get(k, 0.0)
        assert abs(e - j) < 0.25, (k, j, e)


def test_kmv_quantiles_match_python(spark):
    import math

    got = {
        r.event_type: (
            r.n_rows, r.n_sample, r.p50_est, r.p90_est, r.p50_exact, r.p90_exact
        )
        for r in _run(spark, "events_value_kmv_quantiles").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    want = {}
    for t, g in ev.groupby("event_type"):
        rows = sorted(zip(g.value, g.event_id), key=lambda r: (r[0], r[1]))
        sk = sorted(
            zip(g.value, g.event_id),
            key=lambda r: (_h60("kmv:" + str(r[1])), r[1]),
        )[:128]
        sk.sort(key=lambda r: (r[0], r[1]))
        n, ns = len(rows), len(sk)
        pick = lambda lst, q: lst[math.ceil(q * len(lst)) - 1][0]
        want[t] = (
            n, ns, pick(sk, 0.5), pick(sk, 0.9), pick(rows, 0.5), pick(rows, 0.9)
        )
    assert got == want


def test_kmv_bottomk_merge_is_lossless():
    """bottom-k(A ∪ B) is computable from bottom-k(A) ∪ bottom-k(B) —
    the mergeability the sketch's 100 TB story rests on."""
    import random

    rng = random.Random(7)
    for _ in range(20):
        a = {rng.randrange(10**6) for _ in range(rng.randrange(1, 300))}
        b = {rng.randrange(10**6) for _ in range(rng.randrange(1, 300))}
        key = lambda x: (_h60("m:" + str(x)), x)
        k = 16
        bk = lambda s: sorted(s, key=key)[:k]
        assert bk(a | b) == bk(set(bk(a)) | set(bk(b)))


def test_kmv_cardinality_matches_python(spark):
    got = {
        r.event_type: (r.n_exact, r.n_signature, r.kmv_estimate)
        for r in _run(spark, "events_distinct_users_kmv").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    sets: dict[str, set] = {}
    for t, u in zip(ev.event_type, ev.user_id):
        sets.setdefault(t, set()).add(u)
    sets["__all__"] = set().union(*sets.values())
    K = 64
    want = {}
    for t, users in sets.items():
        sig = sorted(users, key=lambda u: (_h60("kmvu:" + str(u)), u))[:K]
        if len(sig) < K:
            est = float(len(sig))
        else:
            est = float((K - 1) * (1 << 60)) / float(
                max(_h60("kmvu:" + str(u)) for u in sig)
            )
        want[t] = (len(users), len(sig), est)
    assert got == want


# ------------------------------------ batch F: OHLC bars / rolling WAU


def test_ohlc_matches_python(spark):
    got = {
        (r.event_type, r.hour_bucket): (r.open, r.high, r.low, r.close, r.n_events)
        for r in _run(spark, "events_value_ohlc_hourly").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    buckets: dict[tuple, list] = {}
    for r in ev.itertuples(index=False):
        sec = int(r.ts.timestamp())
        buckets.setdefault((r.event_type, sec // 3600), []).append(
            (sec, r.event_id, r.value)
        )
    want = {}
    for k, rows in buckets.items():
        rows.sort()
        vals = [v for _, _, v in rows]
        want[k] = (rows[0][2], max(vals), min(vals), rows[-1][2], len(rows))
    assert got == want and len(want) > 0


def test_ohlc_plan_has_no_window(spark):
    plan = _run(spark, "events_value_ohlc_hourly")._jdf.queryExecution().toString()
    assert "Window" not in plan  # open/close are struct-min/max, not ROW_NUMBER


def test_wau_rolling_matches_python(spark):
    got = {r.day: r.wau for r in _run(spark, "events_wau_rolling_7d").collect()}
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    du = {(int(ts.timestamp()) // 86400, u) for ts, u in zip(ev.ts, ev.user_id)}
    days = {d for d, _ in du}
    want = {
        d: len({u for (dd, u) in du if d - 6 <= dd <= d}) for d in days
    }
    assert got == want and len(want) > 0
    # a window must be able to exceed any single day's actives
    assert max(want.values()) >= max(
        len({u for (dd, u) in du if dd == d}) for d in days
    )


# --------------------------------- batch G: Bloom FPR / sketched WAU


def test_bloom_fpr_matches_python(spark):
    r = _run(spark, "bloom_fpr_eval").collect()[0]
    orders = pd.read_parquet(SF_DIR + "/orders.parquet")
    M, K = 1 << 14, 5
    words: dict[int, int] = {}
    for ok_, prio in zip(orders.o_orderkey, orders.o_orderpriority):
        if prio != "1-URGENT":
            continue
        base = _h60(str(ok_))
        h1, h2 = base % (1 << 30), base >> 30
        for i in range(K):
            b = (h1 + i * h2 + i * i) % M
            words[b // 64] = words.get(b // 64, 0) | (1 << (b % 64))
    fp = fn = members = 0
    for ok_, prio in zip(orders.o_orderkey, orders.o_orderpriority):
        is_m = prio == "1-URGENT"
        members += int(is_m)
        base = _h60(str(ok_))
        h1, h2 = base % (1 << 30), base >> 30
        may = all(
            words.get(((h1 + i * h2 + i * i) % M) // 64, 0)
            >> (((h1 + i * h2 + i * i) % M) % 64)
            & 1
            for i in range(K)
        )
        fp += int(may and not is_m)
        fn += int(not may and is_m)
    n = len(orders)
    assert (r.n_members, r.n_probes, r.n_false_pos, r.n_false_neg) == (
        members, n, fp, fn
    )
    assert r.n_false_neg == 0  # the Bloom guarantee
    assert r.fpr == fp / (n - members)


def test_wau_kmv_matches_python_and_tracks_exact(spark):
    got = {
        r.day: (r.n_signature, r.wau_estimate)
        for r in _run(spark, "events_wau_rolling_kmv").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    du = {(int(ts.timestamp()) // 86400, u) for ts, u in zip(ev.ts, ev.user_id)}
    days = {d for d, _ in du}
    K = 64
    daysig: dict[int, list] = {}
    for d in days:
        users = {u for (dd, u) in du if dd == d}
        daysig[d] = sorted(users, key=lambda u: (_h60("wau:" + str(u)), u))[:K]
    want = {}
    exact = {}
    for d in days:
        pool = {
            u for dd in range(d - 6, d + 1) if dd in daysig for u in daysig[dd]
        }
        sig = sorted(pool, key=lambda u: (_h60("wau:" + str(u)), u))[:K]
        if len(sig) < K:
            est = float(len(sig))
        else:
            est = float((K - 1) * (1 << 60)) / float(
                max(_h60("wau:" + str(u)) for u in sig)
            )
        want[d] = (len(sig), est)
        exact[d] = len({u for (dd, u) in du if d - 6 <= dd <= d})
    assert got == want
    for d, (_, est) in got.items():
        assert abs(est - exact[d]) / exact[d] < 0.5, (d, est, exact[d])


def test_entity_link_clusters_match_python(spark):
    got = {
        r.cluster_id: (r.n_members, r.n_customers, r.n_suppliers)
        for r in _run(spark, "entity_link_clusters").collect()
    }
    cust = pd.read_parquet(SF_DIR + "/customer.parquet")
    supp = pd.read_parquet(SF_DIR + "/supplier.parquet")
    # brute-force pairs with nation blocking, then union-find
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for ck, cn, cnk in zip(cust.c_custkey, cust.c_name, cust.c_nationkey):
        for sk, sn, snk in zip(supp.s_suppkey, supp.s_name, supp.s_nationkey):
            if cnk == snk and _lev(cn[9:], sn[9:]) <= 1:
                union(ck * 2, sk * 2 + 1)
    clusters: dict[int, list] = {}
    for node in list(parent):
        clusters.setdefault(find(node), []).append(node)
    want = {
        root: (
            len(m),
            sum(1 for n in m if n % 2 == 0),
            sum(1 for n in m if n % 2 == 1),
        )
        for root, m in clusters.items()
    }
    assert got == want and len(want) > 0
    # every cluster holds at least one linked pair (transitive >2-member
    # clusters appear from sf0.01 up — largest is 12 there — but sf0.001's
    # sparse id space only yields pairs)
    assert max(v[0] for v in want.values()) >= 2


# ------------------------------ batch H: MoM / Gini / first-3 journeys


def test_revenue_mom_matches_python(spark):
    from decimal import ROUND_HALF_UP, Decimal

    got = {
        r.month: (r.revenue, r.mom_delta, r.mom_pct)
        for r in _run(spark, "orders_revenue_mom").collect()
    }
    od = pd.read_parquet(SF_DIR + "/orders.parquet")
    q6 = Decimal("0.000001")
    by_m: dict[str, Decimal] = {}
    for d, p in zip(od.o_orderdate, od.o_totalprice):
        m = f"{d.year:04d}-{d.month:02d}"
        by_m[m] = by_m.get(m, Decimal(0)) + Decimal(p).quantize(
            q6, rounding=ROUND_HALF_UP
        )
    months = sorted(by_m)
    want = {}
    prev = None
    for m in months:
        rev = float(by_m[m])
        want[m] = (
            rev,
            None if prev is None else rev - prev,
            None if prev is None else (rev - prev) / prev,
        )
        prev = rev
    assert got == want and len(want) > 10


def test_revenue_gini_matches_python(spark):
    r = _run(spark, "customers_revenue_gini").collect()[0]
    od = pd.read_parquet(SF_DIR + "/orders.parquet")
    cents: dict[int, int] = {}
    for ck, p in zip(od.o_custkey, od.o_totalprice):
        cents[ck] = cents.get(ck, 0) + int(round(p * 100))
    ranked = sorted(cents.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    total = sum(v for _, v in ranked)
    weighted = sum(i * v for i, (_, v) in enumerate(ranked, 1))
    gini = 2.0 * float(weighted) / (float(n) * float(total)) - (
        float(n) + 1.0
    ) / float(n)
    assert (r.n, r.total_cents) == (n, total)
    assert r.gini == gini
    assert 0.0 <= r.gini < 1.0


def test_first3_journeys_match_python(spark):
    got = {
        r.path: r.n_users for r in _run(spark, "events_first3_journeys").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    per_user: dict[int, list] = {}
    for r in ev.itertuples(index=False):
        per_user.setdefault(r.user_id, []).append(
            (int(r.ts.timestamp()), r.event_id, r.event_type)
        )
    want: dict[str, int] = {}
    for rows in per_user.values():
        rows.sort()
        p = ">".join(t for _, _, t in rows[:3])
        want[p] = want.get(p, 0) + 1
    assert got == want and len(want) > 0


def test_first3_journeys_plan_has_no_window(spark):
    plan = _run(spark, "events_first3_journeys")._jdf.queryExecution().toString()
    assert "Window" not in plan  # sorted-array slice, not ROW_NUMBER


# ------------------------- batch I: A/B t-test / latency / share


def test_ab_ttest_matches_python(spark):
    from decimal import ROUND_HALF_UP, Decimal

    r = _run(spark, "events_ab_value_ttest").collect()[0]
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    q6 = Decimal("0.000001")

    def snap(v):
        return Decimal(v).quantize(q6, rounding=ROUND_HALF_UP)

    per_user: dict[int, Decimal] = {}
    for u, t, v in zip(ev.user_id, ev.event_type, ev.value):
        per_user[u] = per_user.get(u, Decimal(0)) + snap(
            v / 100.0 if t == "purchase" else 0.0
        )
    arms: dict[int, list] = {0: [Decimal(0)] * 3, 1: [Decimal(0)] * 3}
    for u, x in per_user.items():
        a = _h60("ab:" + str(u)) % 2
        xf = float(x)
        arms[a][0] += 1
        arms[a][1] += snap(xf)
        arms[a][2] += snap(xf * xf)
    (n0, sx0, sxx0), (n1, sx1, sxx1) = (
        tuple(map(float, arms[0])),
        tuple(map(float, arms[1])),
    )
    m0, m1 = sx0 / n0, sx1 / n1
    t2 = (m0 - m1) * (m0 - m1) / (
        (sxx0 - sx0 * sx0 / n0) / (n0 - 1.0) / n0
        + (sxx1 - sx1 * sx1 / n1) / (n1 - 1.0) / n1
    )
    assert (r.n_a, r.n_b) == (int(n0), int(n1))
    assert (r.mean_a, r.mean_b, r.t_squared) == (m0, m1, t2)
    assert r.t_squared < 15  # A/A split: no real effect


def test_conversion_latency_matches_python(spark):
    got = {
        r.latency_days: r.n_users
        for r in _run(spark, "events_signup_conversion_latency").collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    s: dict[int, int] = {}
    p: dict[int, list] = {}
    for u, t, ts in zip(ev.user_id, ev.event_type, ev.ts):
        sec = int(ts.timestamp())
        if t == "signup":
            s[u] = min(s.get(u, sec), sec)
        elif t == "purchase":
            p.setdefault(u, []).append(sec)
    want: dict[int, int] = {}
    for u, s_ts in s.items():
        after = [x for x in p.get(u, []) if x >= s_ts]
        b = (min(after) - s_ts) // 86400 if after else -1
        want[b] = want.get(b, 0) + 1
    assert got == want and len(want) > 1


def test_share_of_region_sums_to_one(spark):
    rows = _run(spark, "nation_share_of_region").collect()
    by_region: dict[str, float] = {}
    for r in rows:
        by_region[r.region] = by_region.get(r.region, 0.0) + r.share_of_region
    assert len(rows) == 25
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-9, (region, s)


def test_interval_lookup_join_rejects_column_collision(spark):
    """Shared non-block column names must fail fast with the collision
    named, not surface later as an ambiguous-reference error (or a
    silently wrong BETWEEN if lo/hi/point themselves collide)."""
    import pytest

    from hadoop_common_spark.operators.joins import interval_lookup_join_binned

    pts = spark.createDataFrame([(1, 5.0, "x")], "pid int, v double, tag string")
    ivs = spark.createDataFrame(
        [(1, 0.0, 10.0, "y")], "iid int, lo double, hi double, tag string"
    )
    with pytest.raises(ValueError, match=r"collision.*\['tag'\]"):
        interval_lookup_join_binned(pts, ivs, "v", "lo", "hi", bin_width=10.0)
    # block columns are allowed to (and must) be shared
    pts2 = spark.createDataFrame([(1, 5.0)], "blk int, v double")
    ivs2 = spark.createDataFrame([(1, 0.0, 10.0)], "blk int, lo double, hi double")
    assert (
        interval_lookup_join_binned(
            pts2, ivs2, "v", "lo", "hi", bin_width=10.0, block_cols=["blk"]
        ).count()
        == 1
    )
