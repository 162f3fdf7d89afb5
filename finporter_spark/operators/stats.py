"""Exact nonparametric two-sample statistics as reusable operators.

Both operators take a pre-quantized INTEGER value column plus a 0/1
sample flag and compute their statistic from integer cross-counts over
the distinct-value domain — the construction that makes a statistical
test full-value-hash reproducible across engines (see
queries/stats.py a37/a38 for the oracle mirrors and the scale
contract: one corpus pass to the bounded domain, one domain-sized
window, one scalar aggregate).

Edge behavior (property-tested in tests/test_r10_ops.py against
pure-Python references under hypothesis):
- a sample may be a single row; ties may collapse the whole domain;
- all-tied data yields D = 0 / U at its null mean with zero variance —
  the z statistic is NULL rather than a division by zero.

Both operators pin the domain-sized per-value aggregate with a
``localCheckpoint`` (the z6 pattern; lazy — the guard count or the
first consumer materializes it): the corpus is scanned ONCE into
the bounded distinct-value table, and every downstream branch (the
CDF window, the max-D search, the argmin join) reads the pinned copy —
previously a37's committed plan showed FOUR parquet scans because the
branches re-derived the aggregate. The checkpoint also makes the
domain-cardinality guard free: both operators raise loudly when the
distinct-value domain exceeds ``max_domain`` (default 1e6) instead of
silently running their single-partition CDF window over an unbounded
sort — a wide-domain caller (raw doubles, unquantized values) must
quantize first; that is the operators' input contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _pin_domain(g: DataFrame, max_domain: int, op: str) -> DataFrame:
    """Eagerly materialize the domain-sized aggregate (one corpus scan
    feeds all branches) and enforce the bounded-domain contract.

    Tradeoffs, stated: (1) the guard fires AFTER the keyed aggregate
    materializes — a wide-domain input pays one distributed (keyed,
    never single-task) agg before the ValueError; the guard exists to
    stop the SINGLE-PARTITION CDF window that would follow, which is
    the part that cannot be distributed. (2) construction still runs
    the guard: callers that build but never execute the result pay the
    count job — acceptable for statistics whose whole output is one
    row. The checkpoint is LAZY and the count is its materializing
    action (one job, not a pin job plus a count job)."""
    g = g.localCheckpoint(eager=False)
    n = g.count()  # materializes the pin; later reads hit the blocks
    if n > max_domain:
        raise ValueError(
            f"{op}: distinct-value domain has {n} cells, above the "
            f"declared ceiling of {max_domain}. The CDF merge runs a "
            "single-partition window over this domain — quantize the "
            "value column (the bigint-cents contract) or raise "
            "max_domain explicitly if the sort is genuinely intended."
        )
    return g


# ---------------------------------------------------------------------
# Normal-tail p-values for the z-statistic family (a38/a41/a44/a47)
# ---------------------------------------------------------------------
#
# Neither Spark SQL nor DuckDB exposes erf/erfc as a builtin, so the
# z-family used to ship critical-value booleans instead of p-values.
# But erfc is ONE fixed polynomial: Abramowitz & Stegun 7.1.26
# (|error| <= 1.5e-7 over all x >= 0 — tested against math.erfc in
# tests/test_r13_ops.py), i.e. five multiply-adds and an exp. The two
# functions below emit the SAME tree for Spark (Column) and DuckDB
# (SQL text): p is computed from the ALREADY 6-dp-ROUNDED z, so the
# cross-engine inputs are bit-identical and the fixed Horner
# association keeps every multiply-add identical; the one non-exact
# primitive is exp (java.lang.Math.exp may differ from libm by 1 ulp —
# measured: <= 1 ulp on a 144-point grid, test_r13_ops), which the
# final 6 dp round absorbs — the SAME contract _kw_h_and_p's
# exp-based chi-square survival has relied on hash-green for rounds.

_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_INV_SQRT2 = 0.7071067811865476  # nearest double to 1/sqrt(2)


def erfc_poly(y):
    """erfc(y) for a NON-NEGATIVE Column ``y`` via the A&S 7.1.26
    polynomial (t = 1/(1 + p·y); erfc(y) = Horner(t)·exp(−y²)) — the
    shared core of :func:`normal_sf_two_sided` and the odd-df
    chi-square survival in :func:`_kw_h_and_p`. SQL mirror:
    :func:`erfc_poly_sql` (the two MUST stay the identical tree)."""
    a1, a2, a3, a4, a5 = _ERF_A
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * y)
    poly = t * (
        F.lit(a1)
        + t
        * (F.lit(a2) + t * (F.lit(a3) + t * (F.lit(a4) + t * F.lit(a5))))
    )
    return poly * F.exp(-(y * y))


def erfc_poly_sql(y: str) -> str:
    """DuckDB-SQL mirror of :func:`erfc_poly` over the SQL expression
    ``y`` (must be non-negative). Textually repeats y — each
    occurrence computes the same double, association identical to the
    Column version."""
    a1, a2, a3, a4, a5 = _ERF_A
    t = f"(1.0 / (1.0 + {_ERF_P!r} * {y}))"
    poly = (
        f"({t} * ({a1!r} + {t} * ({a2!r} + {t} * ({a3!r}"
        f" + {t} * ({a4!r} + {t} * {a5!r})))))"
    )
    return f"({poly} * exp(-({y} * {y})))"


def normal_sf_two_sided(z):
    """Two-sided normal p-value for a z statistic, as a Column:
    p = P(|Z| >= |z|) = erfc(|z| / sqrt(2)) (:func:`erfc_poly`).
    NULL z propagates to NULL p. Callers round the result at 6 dp —
    the same rounding contract as the z it derives from. The SQL
    mirror is :func:`normal_sf_two_sided_sql`; the two MUST stay the
    identical expression tree (the cross-engine hash contract)."""
    return erfc_poly(F.abs(z) * F.lit(_INV_SQRT2))


def normal_sf_two_sided_sql(z: str) -> str:
    """DuckDB-SQL mirror of :func:`normal_sf_two_sided` over the SQL
    expression ``z`` (typically a column name holding the 6-dp-rounded
    z)."""
    return erfc_poly_sql(f"(abs({z}) * {_INV_SQRT2!r})")


def ks_2sample(
    samples: DataFrame,
    value_col: str,
    flag_col: str,
    max_domain: int = 1_000_000,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance.

    ``samples``: rows with an integer ``value_col`` and ``flag_col``
    (1 = sample A, 0 = sample B). Returns ONE row:
    (n1, n2, at_v, d_stat, p_approx) where ``at_v`` is the smallest
    value attaining the max |F1 − F2| and ``p_approx`` is the Smirnov
    asymptotic 2·exp(−2λ²), clamped to [0, 1], rounded 6 dp.
    """
    s = samples.select(
        F.col(value_col).alias("iv"), F.col(flag_col).alias("a")
    )
    g = _pin_domain(
        s.groupBy("iv").agg(
            F.sum("a").alias("c1"), F.sum(1 - F.col("a")).alias("c2")
        ),
        max_domain,
        "ks_2sample",
    )
    w = Window.orderBy("iv").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "iv",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    tot = cum.agg(F.max("f1").alias("n1"), F.max("f2").alias("n2"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "iv", "n1", "n2",
        F.abs(
            F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
        ).alias("dnum"),
    )
    best = d.groupBy("n1", "n2").agg(F.max("dnum").alias("dnum"))
    at = (
        d.join(F.broadcast(best), ["n1", "n2", "dnum"])
        .groupBy("n1", "n2", "dnum")
        .agg(F.min("iv").alias("at_v"))
    )
    # try_divide: an empty sample (n1·n2 = 0) yields NULL d/p rather
    # than an ANSI division error — the caller sees the degenerate
    # input explicitly
    d_stat = F.try_divide(
        F.col("dnum").cast("double"), F.col("n1") * F.col("n2")
    )
    # d_stat*d_stat, not pow(d_stat, 2): libm pow need not equal the
    # multiply bit-for-bit across engines (the w26 discipline)
    lam2 = (
        (d_stat * d_stat)
        * (F.col("n1") * F.col("n2").cast("double"))
        / (F.col("n1") + F.col("n2"))
    )
    return at.select(
        "n1", "n2", "at_v",
        d_stat.alias("d_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * F.exp(-2.0 * lam2)), 6
        ).alias("p_approx"),
    )


def ks_2sample_by(
    samples: DataFrame,
    value_col: str,
    flag_col: str,
    keys: list[str],
) -> DataFrame:
    """Grouped exact two-sample KS: one (n1, n2, at_v, d_stat,
    p_approx) row PER KEY — the per-segment drift readout (weekly KS,
    per-source KS) built from the same integer cross-count
    construction as :func:`ks_2sample`.

    Scale shape is BETTER than the global operator: the CDF window
    partitions by the keys, so no single-partition sort exists at all
    — per-task state is one key's quantized-value domain. No domain
    guard needed for the same reason; degenerate keys (one sample
    empty) yield NULL d/p via try_divide rather than an error."""
    s = samples.select(
        *keys, F.col(value_col).alias("iv"), F.col(flag_col).alias("a")
    )
    g = s.groupBy(*keys, "iv").agg(
        F.sum("a").alias("c1"), F.sum(1 - F.col("a")).alias("c2")
    ).localCheckpoint(eager=False)  # one corpus scan feeds cum/best/at
    # (the a37 pin; lazy — the consumer's job materializes it)
    w = (
        Window.partitionBy(*keys)
        .orderBy("iv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        *keys, "iv",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    tot = cum.groupBy(*keys).agg(
        F.max("f1").alias("n1"), F.max("f2").alias("n2")
    )
    d = cum.join(F.broadcast(tot), keys).select(
        *keys, "iv", "n1", "n2",
        F.abs(
            F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
        ).alias("dnum"),
    )
    best = d.groupBy(*keys, "n1", "n2").agg(F.max("dnum").alias("dnum"))
    at = (
        d.join(F.broadcast(best), keys + ["n1", "n2", "dnum"])
        .groupBy(*keys, "n1", "n2", "dnum")
        .agg(F.min("iv").alias("at_v"))
    )
    d_stat = F.try_divide(
        F.col("dnum").cast("double"), F.col("n1") * F.col("n2")
    )
    lam2 = (
        (d_stat * d_stat)
        * (F.col("n1") * F.col("n2").cast("double"))
        / (F.col("n1") + F.col("n2"))
    )
    return at.select(
        *keys, "n1", "n2", "at_v",
        d_stat.alias("d_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * F.exp(-2.0 * lam2)), 6
        ).alias("p_approx"),
    )


def mann_whitney_u_by(
    samples: DataFrame,
    value_col: str,
    flag_col: str,
    keys: list[str],
) -> DataFrame:
    """Grouped exact tie-corrected Mann–Whitney U: one
    (n1, n2, u1, u2, z, p_value) row PER KEY — :func:`mann_whitney_u`'s
    per-segment sibling (the :func:`ks_2sample_by` pattern): the
    doubled-midrank window partitions BY the keys, so no
    single-partition sort exists and no domain guard is needed;
    per-task state is one key's quantized-value domain. Degenerate
    keys (zero variance, single row) yield NULL z via the same guards
    as the global operator."""
    s = samples.select(
        *keys, F.col(value_col).alias("iv"), F.col(flag_col).alias("a")
    )
    g = s.groupBy(*keys, "iv").agg(
        F.sum("a").alias("c1"),
        F.sum(1 - F.col("a")).alias("c2"),
        F.count("*").alias("c"),
    ).localCheckpoint(eager=False)  # one corpus scan (the a37 pin; lazy)
    w = (
        Window.partitionBy(*keys)
        .orderBy("iv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.select(
        *keys, "iv", "c1", "c2", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("f"),
    )
    agg = cum.groupBy(*keys).agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("f") + F.col("c") + 1)).alias(
            "r1x2"
        ),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / 2.0
    mu = F.col("n1").cast("double") * F.col("n2") / 2.0
    nn = F.col("n1") + F.col("n2")
    tie_term = F.coalesce(
        F.try_divide(
            F.col("tie3").cast("double"), nn * (nn - 1).cast("double")
        ),
        F.lit(0.0),
    )
    sig2 = (
        F.col("n1").cast("double") * F.col("n2") / 12.0
    ) * ((nn + 1) - tie_term)
    out = agg.select(
        *keys, "n1", "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias("u2"),
        F.when(
            sig2 > 0, F.round((u1 - mu) / F.sqrt(sig2), 6)
        ).alias("z"),
    )
    # two-sided normal p from the ROUNDED z (NULL z -> NULL p)
    return out.withColumn(
        "p_value", F.round(normal_sf_two_sided(F.col("z")), 6)
    )


def mann_whitney_u(
    samples: DataFrame,
    value_col: str,
    flag_col: str,
    max_domain: int = 1_000_000,
) -> DataFrame:
    """Exact tie-corrected Mann–Whitney U (Wilcoxon rank-sum).

    Same input contract as :func:`ks_2sample`. Returns ONE row
    (n1, n2, u1, u2, z, p_value): doubled midranks keep the rank sum a
    bigint (2·midrank = 2F + c + 1), U halves exactly in binary, and
    the Lehmann tie-corrected normal z rounds at 6 dp — NULL when the
    variance is 0 (all values tied) instead of dividing by zero.
    ``p_value`` is the two-sided normal p from the rounded z
    (:func:`normal_sf_two_sided`, 6 dp; NULL z -> NULL p).
    """
    s = samples.select(
        F.col(value_col).alias("iv"), F.col(flag_col).alias("a")
    )
    g = _pin_domain(
        s.groupBy("iv").agg(
            F.sum("a").alias("c1"),
            F.sum(1 - F.col("a")).alias("c2"),
            F.count("*").alias("c"),
        ),
        max_domain,
        "mann_whitney_u",
    )
    w = Window.orderBy("iv").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "iv", "c1", "c2", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("f"),
    )
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("f") + F.col("c") + 1)).alias(
            "r1x2"
        ),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / 2.0
    mu = F.col("n1").cast("double") * F.col("n2") / 2.0
    nn = F.col("n1") + F.col("n2")
    # try_divide: a single-row input (nn < 2) must not ANSI-error on
    # the tie-correction denominator; the z is NULL-guarded below
    tie_term = F.coalesce(
        F.try_divide(
            F.col("tie3").cast("double"), nn * (nn - 1).cast("double")
        ),
        F.lit(0.0),
    )
    sig2 = (
        F.col("n1").cast("double") * F.col("n2") / 12.0
    ) * ((nn + 1) - tie_term)
    out = agg.select(
        "n1", "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias("u2"),
        F.when(
            sig2 > 0, F.round((u1 - mu) / F.sqrt(sig2), 6)
        ).alias("z"),
    )
    # two-sided normal p from the ROUNDED z (NULL z -> NULL p)
    return out.withColumn(
        "p_value", F.round(normal_sf_two_sided(F.col("z")), 6)
    )


def _kw_rank_agg(
    samples: DataFrame,
    value_col: str,
    group_col: str,
    groups: list,
    keys: list[str] | None,
    max_domain: int,
    op: str,
) -> DataFrame:
    """Shared joint-midrank aggregate for the k-arm rank family
    (:func:`kruskal_wallis`, :func:`kruskal_wallis_by`,
    :func:`dunn_posthoc`) — ONE definition so the fp-association /
    tie-term / exactness contract cannot silently diverge between the
    omnibus, its grouped sibling, and the post-hoc.

    Per key (or globally when ``keys`` is None): arm counts ``n{i}``
    (bigint), DOUBLED rank sums ``r{i}`` and the tie term ``tie3`` —
    both as DECIMAL(38,0): the per-value products c·(2F+c+1) and c³
    stay exact integers far past bigint range (c³ wraps int64 at a
    value repeated ~2.1M times; a doubled rank sum ~N² wraps past
    N≈3e9 rows — both reachable at the scale the operators advertise,
    and a wrapped tie term is a silently-wrong H, not an error).
    DuckDB's SUM(BIGINT) is already HUGEINT-exact, and both engines'
    integer→double conversions round identically, so the decimal path
    changes no hash. Global mode pins + guards the domain
    (:func:`_pin_domain`); grouped mode needs no guard (the window
    partitions by key) but still pins the single corpus scan."""
    k = len(groups)
    if k < 2:
        raise ValueError(f"{op}: need >= 2 groups")
    keycols = list(keys) if keys else []
    s = samples.select(
        *keycols, F.col(value_col).alias("iv"), F.col(group_col).alias("g")
    ).where(F.col("g").isin(list(groups)))
    g = s.groupBy(*keycols, "iv").agg(
        *[
            F.sum(
                F.when(F.col("g") == F.lit(gv), 1).otherwise(0)
            ).alias(f"c{i}")
            for i, gv in enumerate(groups)
        ],
        F.count("*").alias("c"),
    )
    if keycols:
        g = g.localCheckpoint(eager=False)  # one corpus scan (a37 pin)
    else:
        g = _pin_domain(g, max_domain, op)
    w = (
        (Window.partitionBy(*keycols) if keycols else Window)
        .orderBy("iv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.select(
        *keycols,
        "iv",
        *[f"c{i}" for i in range(k)],
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("f"),
    )

    def dec(col):
        return col.cast("decimal(38,0)")

    cd = dec(F.col("c"))
    return cum.groupBy(*keycols).agg(
        *[F.sum(F.col(f"c{i}")).alias(f"n{i}") for i in range(k)],
        *[
            F.sum(
                dec(F.col(f"c{i}"))
                * dec(2 * F.col("f") + F.col("c") + 1)
            ).alias(f"r{i}")
            for i in range(k)
        ],
        F.sum(cd * cd * cd - cd).alias("tie3"),
    )


def _kw_h_and_p(k: int):
    """The tie-corrected H and chi-square(k−1) survival (closed-form
    at every df: Poisson sum for even, erfc-anchored recurrence for
    odd) as ONE fixed-association expression pair over the
    ``_kw_rank_agg`` columns — shared by the global and grouped
    operators. Returns (h_col, p_col)."""
    n_tot = F.col("n0")
    for i in range(1, k):
        n_tot = n_tot + F.col(f"n{i}")
    nd = n_tot.cast("double")

    def term(i: int):
        rd = F.col(f"r{i}").cast("double")
        return F.try_divide(
            rd * rd, 4.0 * F.col(f"n{i}").cast("double")
        )

    ssum = term(0)
    for i in range(1, k):
        ssum = ssum + term(i)
    h_raw = (12.0 * ssum) / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)
    corr = 1.0 - F.try_divide(
        F.col("tie3").cast("double"), nd * nd * nd - nd
    )
    h = F.try_divide(h_raw, corr)
    df = k - 1
    x2 = h / 2.0
    if df % 2 == 0:
        # even df: finite Poisson sum, exp(-x)·Σ x^j/j!
        psum = F.lit(1.0)
        pw = F.lit(1.0)
        for j in range(1, df // 2):
            pw = pw * x2 / float(j)
            psum = psum + pw
        p_raw = F.exp(-x2) * psum
    else:
        # odd df (2m+1): the upward recurrence from Q(x;1) = erfc(√(x/2))
        # — Q(x;ν+2) = Q(x;ν) + (x/2)^{ν/2} e^{-x/2} / Γ(ν/2+1), so
        # Q = erfc(√x2) + e^{-x2}·Σ_{j=1..m} x2^{j−1/2}/Γ(j+1/2);
        # the Γ coefficients are fixed literals, x2^{j−1/2} = √x2·x2^{j−1}
        # Horner-folded — pure arithmetic + the erfc polynomial, the
        # same cross-engine contract as the even branch (the round-12
        # "neither engine has erf" NULL, now filled by erfc_poly)
        import math as _math

        m_half = df // 2
        y = F.sqrt(x2)
        p_raw = erfc_poly(y)
        coeffs = [1.0 / _math.gamma(j + 0.5) for j in range(1, m_half + 1)]
        if coeffs:
            s = F.lit(coeffs[-1])
            for c in reversed(coeffs[:-1]):
                s = F.lit(c) + x2 * s
            p_raw = p_raw + F.exp(-x2) * (y * s)
    p = F.when(
        h.isNotNull(),
        F.round(F.least(F.lit(1.0), p_raw), 6),
    )
    return h, p


def kruskal_wallis(
    samples: DataFrame,
    value_col: str,
    group_col: str,
    groups: list,
    max_domain: int = 1_000_000,
) -> DataFrame:
    """Exact tie-corrected Kruskal–Wallis H over k DECLARED arms — the
    k-sample generalization of :func:`mann_whitney_u` (H with k = 2 is
    a monotone function of U), the first test a ≥3-variant experimenter
    reaches for.

    ``groups`` declares the arm labels EXPLICITLY (k is a property of
    the experiment design, not the data): each arm's doubled rank sum
    2·R_g = Σ_v c_{g,v}·(2F_v + c_v + 1) and count n_g come from ONE
    pass of k+1 conditional sums over the pinned distinct-value domain
    (:func:`_kw_rank_agg` — rank sums and the tie term ride as
    DECIMAL(38,0) so they stay exact far past bigint range) — no
    per-arm repartition, no pivot shuffle — and the final H is a FIXED
    left-associated double expression over those 2k+2 scalars, so two
    engines evaluating the same expression tree on identical exact
    integers produce bit-identical doubles (the a28/a44 discipline;
    the alternative — summing k per-arm rows — leaves the fp
    association to each engine's aggregation order).

    H = [12/(N(N+1))·Σ_g R_g²/n_g − 3(N+1)] / [1 − Σ(t³−t)/(N³−N)],
    computed from doubled rank sums (R_g² = (2R_g)²/4; squares go to
    double before multiplying). Returns ONE row:
    n_0..n_{k-1}, ``h`` (tie-corrected, 6 dp), and ``p_approx`` — the
    chi-square(k−1) survival function, closed-form at EVERY df since
    round 13: even df is the finite Poisson sum (unrolled at
    construction time: fixed fp association); odd df is the upward
    recurrence from Q(x;1) = erfc(√(x/2)) with :func:`erfc_poly` (the
    A&S 7.1.26 polynomial, |err| ≤ 1.5e-7) plus Γ(j+½)-coefficient
    Horner terms — both branches pure fixed-tree arithmetic both
    engines evaluate identically after the 6 dp round (a48's 4-arm
    oracle mirrors the odd branch literally). NULL h on an empty
    arm (try_divide) or an all-tied domain (zero tie-correction);
    rows whose group is not in ``groups`` are ignored.

    Scale contract = :func:`mann_whitney_u`'s: one corpus scan to the
    bounded quantized domain (``max_domain`` guard, the bigint-cents
    input contract), one domain-sized cumulative window, one scalar
    aggregate."""
    k = len(groups)
    agg = _kw_rank_agg(
        samples, value_col, group_col, groups,
        keys=None, max_domain=max_domain, op="kruskal_wallis",
    )
    h, p = _kw_h_and_p(k)
    return agg.select(
        *[F.col(f"n{i}") for i in range(k)],
        F.round(h, 6).alias("h"),
        p.alias("p_approx"),
    )


def kruskal_wallis_by(
    samples: DataFrame,
    value_col: str,
    group_col: str,
    groups: list,
    keys: list[str],
) -> DataFrame:
    """Grouped exact tie-corrected Kruskal–Wallis: one (n_0..n_{k-1},
    h, p_approx) row PER KEY — :func:`kruskal_wallis` at the
    production monitoring cadence (the :func:`ks_2sample_by` /
    :func:`mann_whitney_u_by` pattern): the cumulative window
    partitions BY the keys, so no single-partition sort exists and no
    domain guard is needed; per-task state is one key's quantized
    domain. Identical rank/H machinery by construction
    (:func:`_kw_rank_agg` + :func:`_kw_h_and_p` are shared with the
    global operator, so the two cannot diverge); degenerate keys
    (empty arm, all-tied) yield NULL h/p via try_divide, never an
    error."""
    k = len(groups)
    agg = _kw_rank_agg(
        samples, value_col, group_col, groups,
        keys=keys, max_domain=0, op="kruskal_wallis_by",
    )
    h, p = _kw_h_and_p(k)
    return agg.select(
        *keys,
        *[F.col(f"n{i}") for i in range(k)],
        F.round(h, 6).alias("h"),
        p.alias("p_approx"),
    )


def dunn_posthoc(
    samples: DataFrame,
    value_col: str,
    group_col: str,
    groups: list,
    z_crit: float | None = None,
    max_domain: int = 1_000_000,
    alpha: float = 0.05,
) -> DataFrame:
    """Dunn's (1964) post-hoc pairwise test on the JOINT ranking — the
    step after :func:`kruskal_wallis` rejects: which arms differ.
    Re-running pairwise Mann–Whitney tests re-ranks each pair in
    isolation and inflates error; Dunn compares mean ranks from the
    SAME joint midranking the omnibus used, with the tie-corrected
    variance  σ²_ij = [N(N+1)/12 − Σ(t³−t)/(12(N−1))]·(1/n_i + 1/n_j).

    Same construction as :func:`kruskal_wallis` (literally: the rank
    aggregate is the shared :func:`_kw_rank_agg`, exact-decimal rank
    sums and tie term); the k(k−1)/2 pair rows come from ONE scalar
    aggregate via a literal pair explode — no second scan, no join.
    Per pair: mean ranks (one exact division of exact integers), z
    rounded 6 dp with a fixed-association expression tree
    (cross-engine identical), ``p_adj`` — the Bonferroni-adjusted
    two-sided p, min(1, k(k−1)/2 · erfc(|z|/√2)) via the A&S 7.1.26
    polynomial (:func:`normal_sf_two_sided`), rounded 6 dp — and a
    ``significant`` flag: ``p_adj <= alpha`` (family error rate,
    default 0.05), or legacy ``|z| >= z_crit`` when ``z_crit`` is
    passed (both decide on ROUNDED values so both engines decide on
    the same 6 dp number). NULL z (empty arm / degenerate variance)
    yields NULL p_adj and NULL flag."""
    k = len(groups)
    agg = _kw_rank_agg(
        samples, value_col, group_col, groups,
        keys=None, max_domain=max_domain, op="dunn_posthoc",
    )
    n_tot = F.col("n0")
    for i in range(1, k):
        n_tot = n_tot + F.col(f"n{i}")
    pair_structs = [
        F.struct(
            F.lit(str(groups[i])).alias("arm_i"),
            F.lit(str(groups[j])).alias("arm_j"),
            F.col(f"n{i}").alias("ni"),
            F.col(f"n{j}").alias("nj"),
            F.col(f"r{i}").alias("ri"),
            F.col(f"r{j}").alias("rj"),
        )
        for i in range(k)
        for j in range(i + 1, k)
    ]
    e = agg.select(
        F.col("tie3"),
        n_tot.alias("ntot"),
        F.explode(F.array(*pair_structs)).alias("p"),
    ).select("tie3", "ntot", "p.*")
    nd = F.col("ntot").cast("double")
    nid = F.col("ni").cast("double")
    njd = F.col("nj").cast("double")
    mri = F.try_divide(F.col("ri").cast("double"), 2.0 * nid)
    mrj = F.try_divide(F.col("rj").cast("double"), 2.0 * njd)
    sig2 = (
        nd * (nd + 1.0) / 12.0
        - F.try_divide(
            F.col("tie3").cast("double"), 12.0 * (nd - 1.0)
        )
    ) * (F.try_divide(F.lit(1.0), nid) + F.try_divide(F.lit(1.0), njd))
    z = F.round(
        F.try_divide(
            mri - mrj,
            F.when(sig2 > 0, F.sqrt(sig2)),
        ),
        6,
    )
    n_pairs = k * (k - 1) // 2
    out = e.select(
        "arm_i", "arm_j",
        F.col("ni"), F.col("nj"),
        mri.alias("mean_rank_i"),
        mrj.alias("mean_rank_j"),
        z.alias("z"),
    ).withColumn(
        "p_adj",
        # explicit NULL guard: least() on BOTH engines skips NULLs, so
        # an unguarded least(1.0, NULL) would turn a degenerate pair
        # into p_adj = 1.0 instead of NULL
        F.when(
            F.col("z").isNotNull(),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(n_pairs))
                    * normal_sf_two_sided(F.col("z")),
                ),
                6,
            ),
        ),
    )
    if z_crit is not None:
        sig = F.abs(F.col("z")) >= F.lit(float(z_crit))
    else:
        sig = F.col("p_adj") <= F.lit(float(alpha))
    return out.withColumn("significant", sig)
