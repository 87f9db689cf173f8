"""Per-group drift statistics on a hand-built table with NULL values, an
all-NULL group and buckets empty in every group, each checked against a
plain-Python computation of the same closed forms."""

import math
from collections import Counter, defaultdict

import pytest

EPS = 1e-6
WIDTH, N = 10.0, 5

# (grp, x, cat). Buckets of x at width 10, clamped to [0, 4]:
#   g1 -> 0, 0, 1, 4 plus two NULL values
#   g2 -> 0 (clamped from -7), 0, 1, 4, 4, 4 (clamped from 100)
# so buckets 2 and 3 are empty in every group; gnull has only NULLs.
ROWS = [
    ("g1", 0.0, "a"),
    ("g1", 5.0, "a"),
    ("g1", 12.0, "b"),
    ("g1", 41.0, None),
    ("g1", None, "b"),
    ("g1", None, "c"),
    ("g2", -7.0, "a"),
    ("g2", 3.0, "b"),
    ("g2", 15.0, "b"),
    ("g2", 45.0, "b"),
    ("g2", 49.0, "c"),
    ("g2", 100.0, None),
    ("gnull", None, None),
    ("gnull", None, None),
]


def _counts(pairs):
    """{grp: Counter(key)} over non-NULL keys, and the baseline Counter."""
    per = defaultdict(Counter)
    for g, k in pairs:
        if k is not None:
            per[g][k] += 1
    base = Counter()
    for c in per.values():
        base.update(c)
    return per, base


def _expected_numeric():
    buckets = [
        (g, None if x is None else min(max(math.floor(x / WIDTH), 0), N - 1))
        for g, x, _ in ROWS
    ]
    per, base = _counts(buckets)
    t = sum(base.values())
    out = {}
    for g, c in per.items():
        tg = sum(c.values())
        psi = js = ks = w1 = 0.0
        for k in sorted(base):
            p, q = max(c[k] / tg, EPS), max(base[k] / t, EPS)
            m = (p + q) / 2
            psi += (p - q) * math.log(p / q)
            js += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
        cp = cq = 0.0
        for k in range(N):  # W1 sums over the dense bucket range
            cp += c[k] / tg
            cq += base[k] / t
            ks = max(ks, abs(cp - cq))
            w1 += abs(cp - cq) * WIDTH
        out[g] = {"n_rows": tg, "psi": psi, "js": js, "ks": ks, "w1": w1}
    return out


def _expected_chi2():
    per, base = _counts((g, cat) for g, _, cat in ROWS)
    t = sum(base.values())
    out = {}
    for g, c in per.items():
        tg = sum(c.values())
        chi2 = 0.0
        for k in base:
            row = c[k] + base[k]
            ea, eb = row * tg / (tg + t), row * t / (tg + t)
            chi2 += (c[k] - ea) ** 2 / ea + (base[k] - eb) ** 2 / eb
        out[g] = {"n_rows": tg, "chi2": chi2, "dof": len(base) - 1}
    return out


@pytest.fixture(scope="module")
def table(spark):
    return spark.createDataFrame(ROWS, "grp string, x double, cat string")


@pytest.mark.parametrize("stat", ["psi", "ks", "js", "w1"])
def test_numeric_by_group_nulls_and_gaps(spark, table, stat):
    """NULL values are dropped before bucketing (never counted in bucket
    0), an all-NULL group is absent, and buckets empty everywhere are
    skipped by PSI/KS/JS but counted by W1's dense spine."""
    from fsharp_data_validation_spark.operators import drift

    fn = getattr(drift, f"{stat}_by_group")
    got = fn(table, "grp", "x", WIDTH, N, round_to=6).collect()
    want = _expected_numeric()
    assert {r["grp"] for r in got} == {"g1", "g2"}
    for r in got:
        assert list(r.asDict()) == ["grp", "n_rows", stat]
        assert r["n_rows"] == want[r["grp"]]["n_rows"]
        assert math.isclose(r[stat], want[r["grp"]][stat], abs_tol=1e-6), (
            r["grp"], r[stat], want[r["grp"]][stat]
        )


def test_chi2_by_group_nulls(spark, table):
    """NULL categories are dropped, the all-NULL group is absent, and dof
    counts the baseline's categories."""
    from fsharp_data_validation_spark.operators.drift import chi2_by_group

    got = chi2_by_group(table, "grp", "cat", round_to=6).collect()
    want = _expected_chi2()
    assert {r["grp"] for r in got} == {"g1", "g2"}
    for r in got:
        w = want[r["grp"]]
        assert list(r.asDict()) == ["grp", "n_rows", "chi2", "dof"]
        assert (r["n_rows"], r["dof"]) == (w["n_rows"], w["dof"])
        assert math.isclose(r["chi2"], w["chi2"], abs_tol=1e-6), (r["grp"], r["chi2"], w)
