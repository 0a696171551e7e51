"""Data-quality monitoring: distribution drift (PSI, two-sample KS,
chi-squared mix shift) and a privacy (k-anonymity) audit.

Round-5 family.  Reference basis: a pipeline that lands telemetry
continuously (docs/architecture.md:113-118 — per-tenant landing the
filterer feeds) needs drift monitors comparing today's data
against a reference window — the alarms that catch a mis-mapped source
field or a fleet-wide behavior change before models consume the data —
and a re-identification audit before any per-tenant extract leaves the
platform.  Windows here are the two halves of the fixture's January;
in production the same plans run day-vs-trailing-28d.

Scale notes (100 TB): every monitor reduces the stream ONCE to a
histogram/contingency relation keyed by (group, bin) — the shuffle
carries O(groups × bins) partial aggregates, never rows.  KS needs the
per-distinct-value CDF, so its shuffle is bounded by distinct values per
group (quantize the metric to bound it further at scale).  The
k-anonymity audit is one groupBy on the quasi-identifier tuple plus a
group-size histogram — the second agg input is already group-sized.

Float parity: bin ids and contingency counts are integers; probabilities
are single IEEE divisions; ln/log terms are rounded to 6 then
decimal-summed (registry parity rules — same discipline as
text_unigram_logprob).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.ranking import keep_best
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

# Window split: first vs second half of the fixture month.
_SPLIT = "2024-01-16"
_PSI_BINS = 10
_PSI_BIN_WIDTH = 40.0  # value spans ~[0, 340); floor(v/40) capped to 9


_PSI_ORACLE = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 'a' ELSE 'b' END AS win,
         least(CAST(floor(value / {_PSI_BIN_WIDTH}) AS BIGINT), {_PSI_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), grid AS (
  SELECT DISTINCT event_type, b.bin
  FROM binned, (SELECT unnest(range(0, {_PSI_BINS})) AS bin) b
), filled AS (
  SELECT g.event_type, g.bin,
         coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
  FROM grid g
  LEFT JOIN binned a ON a.event_type = g.event_type AND a.bin = g.bin AND a.win = 'a'
  LEFT JOIN binned b ON b.event_type = g.event_type AND b.bin = g.bin AND b.win = 'b'
), tot AS (
  SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb FROM filled GROUP BY 1
), terms AS (
  SELECT f.event_type,
         round((CAST(f.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS})
              - CAST(f.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS}))
              * ln((CAST(f.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
                 / (CAST(f.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS}))), 6) AS term
  FROM filled f JOIN tot t ON t.event_type = f.event_type
)
SELECT event_type,
       CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS psi
FROM terms GROUP BY event_type
"""


@query("drift_psi", oracle=_PSI_ORACLE)
def q_drift_psi(spark, sf_dir):
    """Population stability index of the `value` distribution, first half
    of the month vs second, per event type: Σ (p_a−p_b)·ln(p_a/p_b)
    over 10 fixed-width bins with Laplace (+1) smoothing so empty bins
    stay finite.  PSI < 0.1 ⇒ stable, > 0.25 ⇒ investigate — the
    standard scorecard-monitoring thresholds.  One scan → (type, window,
    bin) counts (map-side combine); the dense bin grid, totals, and the
    PSI fold are all O(types×bins)."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    binned = (
        ev.select(
            "event_type",
            F.when(F.col("ts") < F.lit(_SPLIT), "a").otherwise("b").alias("win"),
            F.least(
                F.floor(F.col("value") / _PSI_BIN_WIDTH), F.lit(_PSI_BINS - 1)
            ).cast("bigint").alias("bin"),
        )
        .groupBy("event_type", "win", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    grid = (
        binned.select("event_type")
        .distinct()
        .crossJoin(spark.range(_PSI_BINS).select(F.col("id").alias("bin")))
    )
    a = binned.filter(F.col("win") == "a").select("event_type", "bin", F.col("cnt").alias("ca"))
    b = binned.filter(F.col("win") == "b").select("event_type", "bin", F.col("cnt").alias("cb"))
    filled = (
        grid.join(a, ["event_type", "bin"], "left")
        .join(b, ["event_type", "bin"], "left")
        .select(
            "event_type", "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + _PSI_BINS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_BINS)
    terms = filled.join(F.broadcast(tot), "event_type").select(
        "event_type", F.round((pa - pb) * F.log(pa / pb), 6).alias("term")
    )
    return terms.groupBy("event_type").agg(
        F.sum(F.col("term").cast("decimal(18,6)")).cast("double").alias("psi")
    )


_KS_ORACLE = f"""
WITH tagged AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is_a
  FROM events
), pervalue AS (
  SELECT event_type, value,
         SUM(is_a) AS ca, SUM(1 - is_a) AS cb
  FROM tagged GROUP BY event_type, value
), cum AS (
  SELECT event_type, value,
         SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
         SUM(ca) OVER wt AS na, SUM(cb) OVER wt AS nb
  FROM pervalue
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY event_type)
)
SELECT event_type, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       round(max(abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)), 6)
         AS ks_d
FROM cum GROUP BY event_type
"""


@query("drift_ks", oracle=_KS_ORACLE)
def q_drift_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic per event type
    between the two half-month windows: D = max |F̂_a − F̂_b| evaluated
    after each distinct value (ties collapse first, so the CDF step is
    well-defined).  The shuffle is bounded by distinct values per type;
    at scale, quantize the metric (e.g. cents) to bound the support.
    CDF fractions are single IEEE divisions of identical integers, so
    the max compares bitwise-equal doubles on both engines.

    Plan (round 7 re-plan): the running CDF counts come from
    ``ranking.keyed_running_sums`` — range-partitioned on (type, value)
    with per-partition windows plus broadcast offsets — instead of a
    ``Window.partitionBy(event_type)`` running sum, whose parallelism is
    capped at the number of types (25) no matter the cluster size.  The
    output values are identical (exact integer cumsums either way), so
    the oracle is unchanged."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    tagged = ev.select(
        "event_type", "value",
        F.when(F.col("ts") < F.lit(_SPLIT), 1).otherwise(0).alias("is_a"),
    )
    pervalue = tagged.groupBy("event_type", "value").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    cum, totals = keyed_running_sums(
        pervalue, ["event_type"], [F.col("value")], ["ca", "cb"]
    )
    cum = cum.join(F.broadcast(totals), "event_type")
    gap = F.abs(
        F.col("cum_ca").cast("double") / F.col("total_ca")
        - F.col("cum_cb").cast("double") / F.col("total_cb")
    )
    return cum.groupBy("event_type").agg(
        F.max("total_ca").cast("bigint").alias("n_a"),
        F.max("total_cb").cast("bigint").alias("n_b"),
        F.round(F.max(gap), 6).alias("ks_d"),
    )


_CHI2_ORACLE = f"""
WITH obs AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 'a' ELSE 'b' END AS win,
         count(*) AS o
  FROM events GROUP BY 1, 2
), margins AS (
  SELECT o.event_type, o.win, o.o,
         SUM(o.o) OVER (PARTITION BY o.event_type) AS row_tot,
         SUM(o.o) OVER (PARTITION BY o.win) AS col_tot,
         SUM(o.o) OVER () AS n
  FROM obs o
), terms AS (
  SELECT round(power(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
               / (CAST(row_tot AS DOUBLE) * col_tot / n), 6) AS term,
         n
  FROM margins
)
SELECT CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
       CAST((count(*) / 2 - 1) AS BIGINT) AS dof,
       CAST(max(n) AS BIGINT) AS n
FROM terms
"""


@query("drift_chi2", oracle=_CHI2_ORACLE)
def q_drift_chi2(spark, sf_dir):
    """Chi-squared test of event-type mix shift between the two windows:
    Σ (O−E)²/E over the types×2 contingency table with E from the
    margins — the categorical counterpart to drift_psi.  The table is
    built in ONE aggregate pass; margins come from windows over the
    O(types×2) relation; dof = (types−1)·(2−1).  Terms are
    round6+decimal-summed (parity rules)."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    obs = (
        ev.select(
            "event_type",
            F.when(F.col("ts") < F.lit(_SPLIT), "a").otherwise("b").alias("win"),
        )
        .groupBy("event_type", "win")
        .agg(F.count("*").alias("o"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("win")
    wn = Window.partitionBy()
    m = obs.select(
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wn).alias("n"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    terms = m.select(
        F.round(F.pow(F.col("o") - e, 2) / e, 6).alias("term"), "n"
    )
    return terms.agg(
        F.sum(F.col("term").cast("decimal(18,6)")).cast("double").alias("chi2"),
        (F.count("*") / 2 - 1).cast("bigint").alias("dof"),
        F.max("n").cast("bigint").alias("n"),
    )


_KANON_ORACLE = """
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         count(*) AS group_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT group_size,
       count(*) AS n_groups,
       CAST(SUM(group_size) AS BIGINT) AS n_rows,
       (group_size < 5) AS violates_k5
FROM qi GROUP BY group_size
"""


@query("privacy_k_anonymity", oracle=_KANON_ORACLE)
def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, $1000 balance bucket): the equivalence-class
    size histogram, with classes below k=5 flagged — rows in those
    classes are re-identifiable and must be generalized or suppressed
    before an extract ships.  Two aggregations: QI groupBy (one shuffle
    over the data), then a histogram over the group-sized relation."""
    cu = load_tables(spark, sf_dir)["customer"]
    qi = (
        cu.groupBy(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        )
        .agg(F.count("*").alias("group_size"))
    )
    return qi.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        F.sum("group_size").cast("bigint").alias("n_rows"),
        F.max(F.col("group_size") < 5).alias("violates_k5"),
    )


# ---------------------------------------------------------------------------
# Round 6: 1-D Wasserstein drift + l-diversity — completing the drift and
# privacy families.

_W1_ORACLE = f"""
WITH tagged AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS is_a
  FROM events
), pervalue AS (
  SELECT event_type, value,
         SUM(is_a) AS ca, SUM(1 - is_a) AS cb
  FROM tagged GROUP BY event_type, value
), cum AS (
  SELECT event_type, value,
         SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
         SUM(ca) OVER wt AS na, SUM(cb) OVER wt AS nb,
         lead(value) OVER (PARTITION BY event_type ORDER BY value) AS next_value
  FROM pervalue
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY event_type)
), terms AS (
  SELECT event_type, na, nb,
         round(abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)
               * (next_value - value), 6) AS term
  FROM cum WHERE next_value IS NOT NULL
)
SELECT event_type, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS w1
FROM terms GROUP BY event_type
"""


@query("drift_wasserstein", oracle=_W1_ORACLE)
def q_drift_wasserstein(spark, sf_dir):
    """Exact 1-D Wasserstein-1 (earth-mover) distance per event type
    between the two half-month windows: W1 = ∫|F̂_a − F̂_b| dv, evaluated
    as the CDF-gap × support-gap sum over consecutive distinct values —
    the drift metric that, unlike KS's max, weighs HOW FAR mass moved
    (a tail shift and a median shift of equal CDF gap score very
    differently).  Shares drift_ks's exact machinery: one (type, value)
    collapse bounds the shuffle by distinct support, cumulative windows
    are partitioned by type, and per-term rounding + DECIMAL summation
    makes the fold order-independent across engines.  At scale,
    quantize the support (cents) to bound the distinct-value relation."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    tagged = ev.select(
        "event_type", "value",
        F.when(F.col("ts") < F.lit(_SPLIT), 1).otherwise(0).alias("is_a"),
    )
    pervalue = tagged.groupBy("event_type", "value").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy("event_type").orderBy("value")
    wt = Window.partitionBy("event_type")
    cum = pervalue.select(
        "event_type", "value",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
        F.lead("value").over(wl).alias("next_value"),
    )
    term = F.round(
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        )
        * (F.col("next_value") - F.col("value")),
        6,
    )
    return (
        cum.filter(F.col("next_value").isNotNull())
        .select("event_type", "na", "nb", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.sum(F.col("term").cast("decimal(18,6)")).cast("double").alias("w1"),
        )
    )


_LDIV_ORACLE = """
WITH qi AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         count(*) AS group_size,
         count(DISTINCT c_mktsegment) AS l_value
  FROM customer GROUP BY 1, 2
)
SELECT l_value,
       count(*) AS n_groups,
       CAST(SUM(group_size) AS BIGINT) AS n_rows,
       (l_value < 3) AS violates_l3
FROM qi GROUP BY l_value
"""


@query("privacy_l_diversity", oracle=_LDIV_ORACLE)
def q_privacy_l_diversity(spark, sf_dir):
    """l-diversity audit: k-anonymity's necessary complement — an
    equivalence class under the quasi-identifier (nation, $1000 balance
    bucket) can be large yet still leak the SENSITIVE attribute (market
    segment) if every member shares it.  Per class, l = distinct
    sensitive values; classes with l < 3 are homogeneity-attack targets
    even when k is satisfied.  Same two-aggregation shape as
    privacy_k_anonymity: one QI shuffle with a distinct-count, then a
    histogram over the class-sized relation."""
    cu = load_tables(spark, sf_dir)["customer"]
    qi = cu.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    ).agg(
        F.count("*").alias("group_size"),
        F.countDistinct("c_mktsegment").alias("l_value"),
    )
    return qi.groupBy("l_value").agg(
        F.count("*").alias("n_groups"),
        F.sum("group_size").cast("bigint").alias("n_rows"),
        (F.col("l_value") < 3).alias("violates_l3"),
    )


# ---------------------------------------------------------------------------
# Round 8: Benjamini-Hochberg FDR step-up over per-cell Welch tests.

_BH_Q = 0.1

_BH_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
         count(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s,
         SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS ss
  FROM events GROUP BY event_type, hour(ts)
), tots AS (
  SELECT event_type, SUM(n) AS tn, SUM(s) AS ts_, SUM(ss) AS tss,
         count(*) AS m
  FROM cells GROUP BY event_type
), z AS (
  SELECT c.event_type, c.hr, t.m,
         (CAST(c.s AS DOUBLE) / c.n
          - CAST(t.ts_ - c.s AS DOUBLE) / (t.tn - c.n))
         / sqrt(
             (CAST(c.ss AS DOUBLE) - CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE) / c.n)
               / (c.n - 1) / c.n
             + (CAST(t.tss - c.ss AS DOUBLE)
                - CAST(t.ts_ - c.s AS DOUBLE) * CAST(t.ts_ - c.s AS DOUBLE)
                  / (t.tn - c.n))
               / (t.tn - c.n - 1) / (t.tn - c.n)
           ) AS zval
  FROM cells c JOIN tots t ON t.event_type = c.event_type
), ranked AS (
  SELECT event_type, hr, m, zval,
         exp(-abs(zval)) AS p,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY exp(-abs(zval)), hr) AS p_rank
  FROM z
), k AS (
  SELECT event_type,
         max(CASE WHEN p <= p_rank * {_BH_Q} / m THEN p_rank ELSE 0 END)
           AS k_rejected
  FROM ranked GROUP BY event_type
)
SELECT r.event_type, r.hr,
       round(r.zval, 6) AS z, round(r.p, 6) AS p_proxy,
       CAST(r.p_rank AS BIGINT) AS p_rank,
       CAST(k.k_rejected AS BIGINT) AS k_rejected,
       CASE WHEN r.p_rank <= k.k_rejected THEN 1 ELSE 0 END AS rejected
FROM ranked r JOIN k ON k.event_type = r.event_type
"""


@query("stats_fdr_bh", oracle=_BH_ORACLE)
def q_stats_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR control (q = 0.1) over a family
    of per-hour-of-day Welch mean tests within each event type: is hour
    h's value level different from the rest of that type?  p values use
    the monotone tail proxy exp(−|z|) (no erf in either engine; BH only
    consumes the ORDER of p values plus the i·q/m thresholds, so the
    step-up machinery — the operator under test — is exact).

    Plan: one grouped moment pass (24·|types| cells, map-side combined),
    per-family totals by re-aggregating the cell relation (no second
    data pass), rank windows partitioned by family, and the step-up
    cutoff as a per-family max.  Everything after the first aggregate
    is model-sized."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    vd = F.col("value").cast("decimal(18,4)")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("s"),
        F.sum(vd * vd).alias("ss"),
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts_"),
        F.sum("ss").alias("tss"), F.count(F.lit(1)).alias("m"),
    )
    c = cells.join(F.broadcast(tots), "event_type")
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    tn, ts_, tss = F.col("tn"), F.col("ts_"), F.col("tss")
    mean_h = s.cast("double") / n
    mean_r = (ts_ - s).cast("double") / (tn - n)
    var_h = (ss.cast("double") - s.cast("double") * s.cast("double") / n) / (n - 1) / n
    var_r = (
        (tss - ss).cast("double")
        - (ts_ - s).cast("double") * (ts_ - s).cast("double") / (tn - n)
    ) / (tn - n - 1) / (tn - n)
    zval = (mean_h - mean_r) / F.sqrt(var_h + var_r)
    z = c.select("event_type", "hr", "m", zval.alias("zval"),
                 F.exp(-F.abs(zval)).alias("p"))
    wrank = Window.partitionBy("event_type").orderBy(F.asc("p"), F.asc("hr"))
    ranked = z.withColumn("p_rank", F.row_number().over(wrank))
    k = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("p") <= F.col("p_rank") * _BH_Q / F.col("m"), F.col("p_rank")
            ).otherwise(0)
        ).alias("k_rejected")
    )
    return ranked.join(F.broadcast(k), "event_type").select(
        "event_type", "hr",
        F.round("zval", 6).alias("z"),
        F.round("p", 6).alias("p_proxy"),
        F.col("p_rank").cast("bigint").alias("p_rank"),
        F.col("k_rejected").cast("bigint").alias("k_rejected"),
        F.when(F.col("p_rank") <= F.col("k_rejected"), 1).otherwise(0)
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Round 8: freshness / staleness report per stream.

_FRESH_STALE_H = 24

_FRESHNESS_ORACLE = f"""
WITH per AS (
  SELECT event_type, count(*) AS n,
         max(ts) AS last_ts, min(ts) AS first_ts
  FROM events GROUP BY event_type
), now_ AS (
  SELECT max(last_ts) AS wm FROM per
)
SELECT p.event_type, CAST(p.n AS BIGINT) AS n,
       strftime(p.last_ts, '%Y-%m-%dT%H:%M:%SZ') AS last_event,
       CAST((epoch_us(n2.wm) - epoch_us(p.last_ts)) // 60000000 AS BIGINT)
         AS lag_minutes,
       CASE WHEN epoch_us(n2.wm) - epoch_us(p.last_ts)
                 > {_FRESH_STALE_H} * 3600000000 THEN 1 ELSE 0 END AS stale
FROM per p CROSS JOIN now_ n2
"""


@query("dq_freshness", oracle=_FRESHNESS_ORACLE)
def q_dq_freshness(spark, sf_dir):
    """Per-stream freshness report: each event type's last-seen
    timestamp and its lag behind the global high-water mark, flagged
    stale past 24 h — the first panel of any ingestion dashboard and
    the batch contract for the streaming watermark monitor.

    One grouped min/max (map-side combined to |types| rows) plus a
    broadcast scalar; lag arithmetic is exact integer microseconds
    (epoch_us convention), so the stale flag compares exact integers."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("ts").alias("last_ts"), F.min("ts").alias("first_ts"),
    )
    wm = per.agg(F.max("last_ts").alias("wm"))
    lag_us = F.unix_micros(F.col("wm")) - F.unix_micros(F.col("last_ts"))
    return per.crossJoin(F.broadcast(wm)).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.date_format("last_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("last_event"),
        F.expr(
            "(unix_micros(wm) - unix_micros(last_ts)) div 60000000"
        ).cast("bigint").alias("lag_minutes"),
        F.when(lag_us > _FRESH_STALE_H * 3_600_000_000, 1).otherwise(0)
        .alias("stale"),
    )


# ---------------------------------------------------------------------------
# Round 8: sequential probability-ratio test (SPRT) per stream.

_SPRT_P0 = 0.45
_SPRT_P1 = 0.55
_SPRT_ALPHA = 0.05  # ln((1-b)/a) / ln(b/(1-a)) boundaries with a=b=0.05

# LLR increments and Wald boundaries are computed ONCE in Python and
# inlined as literals into BOTH engines' expressions — ln() in each
# engine's libm could round the 8th decimal differently.
import math as _math

_SPRT_LLR_W = round(_math.log(_SPRT_P1 / _SPRT_P0) * 1e8)   # 1e-8-scaled int
_SPRT_LLR_L = round(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e8)
_SPRT_UP = _math.log((1 - _SPRT_ALPHA) / _SPRT_ALPHA)
_SPRT_LO = _math.log(_SPRT_ALPHA / (1 - _SPRT_ALPHA))


@query(
    "exp_sprt_boundary",
    oracle=f"""
WITH seq AS (
  SELECT event_type, ts, event_id,
         CASE WHEN event_id % 2 = 1
              THEN CAST({_SPRT_LLR_W} AS BIGINT)
              ELSE CAST({_SPRT_LLR_L} AS BIGINT) END AS llr
  FROM events
), cum AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS pos,
         SUM(llr)
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cllr
  FROM seq
), bounds AS (
  SELECT {_SPRT_UP!r} AS up,
         {_SPRT_LO!r} AS lo
), crossed AS (
  SELECT c.event_type,
         min(CASE WHEN CAST(c.cllr AS DOUBLE) / 1e8 >= b.up THEN c.pos END)
           AS first_accept,
         min(CASE WHEN CAST(c.cllr AS DOUBLE) / 1e8 <= b.lo THEN c.pos END)
           AS first_reject,
         max(c.pos) AS n,
         max(CASE WHEN c.pos = (SELECT max(pos) FROM cum c2
                                WHERE c2.event_type = c.event_type)
                  THEN CAST(c.cllr AS DOUBLE) / 1e8 END) AS llr_final
  FROM cum c CROSS JOIN bounds b
  GROUP BY c.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(llr_final, 6) AS llr_final,
       CAST(coalesce(least(first_accept, first_reject), 0) AS BIGINT)
         AS decision_at,
       CASE
         WHEN first_accept IS NOT NULL
              AND (first_reject IS NULL OR first_accept <= first_reject)
           THEN 'accept_h1'
         WHEN first_reject IS NOT NULL THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM crossed
""",
)
def q_exp_sprt_boundary(spark, sf_dir):
    """Wald's sequential probability-ratio test per stream: the
    cumulative Bernoulli log-likelihood ratio (H₁: p=0.55 vs H₀:
    p=0.45 on the event_id-parity outcome) walked in event-time order,
    reporting where it first crosses the ln((1−β)/α) / ln(β/(1−α))
    boundaries — the always-valid sequential monitor that lets an
    experiment stop early (the streaming twin of exp_ab_lift's fixed-
    horizon test).

    Per-row LLR takes only two constant values, carried as exact
    1e-8-scaled integers, so every cumulative value is exact.  The running
    sum + position come from ``keyed_running_sums`` (range-partitioned;
    the Window.partitionBy(type) oracle form would cap parallelism at
    the type count — drift_ks discipline)."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    llr_w, llr_l = _SPRT_LLR_W, _SPRT_LLR_L
    up, lo = _SPRT_UP, _SPRT_LO
    seq = ev.select(
        "event_type", "ts", "event_id",
        F.when(F.col("event_id") % 2 == 1, F.lit(llr_w))
        .otherwise(F.lit(llr_l)).cast("bigint").alias("llr"),
        F.lit(1).alias("one"),
    )
    cum, _tot = keyed_running_sums(
        seq, ["event_type"], [F.col("ts"), F.col("event_id")], ["llr", "one"]
    )
    c = cum.select(
        "event_type",
        F.col("cum_one").alias("pos"),
        (F.col("cum_llr").cast("double") / 1e8).alias("cllr"),
    )
    crossed = c.groupBy("event_type").agg(
        F.min(F.when(F.col("cllr") >= up, F.col("pos"))).alias("first_accept"),
        F.min(F.when(F.col("cllr") <= lo, F.col("pos"))).alias("first_reject"),
        F.max("pos").alias("n"),
        keep_best([("pos", "desc")], ["cllr"]).getField("cllr").alias("llr_final"),
    )
    fa, fr = F.col("first_accept"), F.col("first_reject")
    return crossed.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("llr_final", 6).alias("llr_final"),
        F.coalesce(F.least(fa, fr), F.lit(0)).cast("bigint").alias("decision_at"),
        F.when(fa.isNotNull() & (fr.isNull() | (fa <= fr)), "accept_h1")
        .when(fr.isNotNull(), "accept_h0")
        .otherwise("continue").alias("decision"),
    )


# ---------------------------------------------------------------------------
# Round 10: t-closeness — the third leg of the privacy-audit family
# (k-anonymity bounds class size, l-diversity bounds sensitive-value
# homogeneity, t-closeness bounds how much a class's sensitive
# DISTRIBUTION deviates from the global one).

_TCLOSE_T = 0.25

_TCLOSE_ORACLE = f"""
WITH cnt AS (
  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         c_mktsegment, count(*) AS c
  FROM customer GROUP BY 1, 2, 3
), cls AS (
  SELECT c_nationkey, bal_bucket, CAST(SUM(c) AS BIGINT) AS group_size
  FROM cnt GROUP BY 1, 2
), seg AS (
  SELECT c_mktsegment, CAST(SUM(c) AS BIGINT) AS g FROM cnt GROUP BY 1
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
dense AS (
  SELECT cls.c_nationkey, cls.bal_bucket, cls.group_size,
         COALESCE(cnt.c, 0) AS c, seg.g, tot.nn
  FROM cls CROSS JOIN seg CROSS JOIN tot
  LEFT JOIN cnt ON cnt.c_nationkey = cls.c_nationkey
               AND cnt.bal_bucket = cls.bal_bucket
               AND cnt.c_mktsegment = seg.c_mktsegment
), scored AS (
  SELECT c_nationkey, bal_bucket, group_size,
         0.5 * CAST(SUM(CAST(round(
             abs(CAST(c AS DOUBLE) / group_size - CAST(g AS DOUBLE) / nn), 6)
           AS DECIMAL(18,6))) AS DOUBLE) AS tvd
  FROM dense GROUP BY 1, 2, 3
)
SELECT c_nationkey, bal_bucket, group_size, tvd,
       (tvd > {_TCLOSE_T}) AS violates_t
FROM scored
"""


@query("privacy_t_closeness", oracle=_TCLOSE_ORACLE)
def q_privacy_t_closeness(spark, sf_dir):
    """t-closeness audit under the (nation, $1000 balance bucket)
    quasi-identifier: per equivalence class, the total-variation
    distance (the equal-ground-distance EMD for categorical attributes,
    Li et al. 2007) between the class's market-segment distribution and
    the global one; classes with tvd > t are skew-attack targets even
    when k and l pass.  Plan: one (QI, segment) count shuffle; the class
    and segment marginals are aggregates OF that relation; the dense
    class×segment grid (absent segments contribute |0 - g/N|) comes
    from a crossJoin with the broadcast 5-row segment marginal.  Per
    term round-6 then DECIMAL-sum so the fold is order-free."""
    cu = load_tables(spark, sf_dir)["customer"]
    cnt = cu.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).alias("c"))
    cls = cnt.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("c").cast("bigint").alias("group_size")
    )
    seg = cnt.groupBy("c_mktsegment").agg(F.sum("c").cast("bigint").alias("g"))
    tot = cnt.agg(F.sum("c").cast("bigint").alias("nn"))
    dense = (
        cls.crossJoin(F.broadcast(seg))
        .crossJoin(F.broadcast(tot))
        .join(cnt, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    term = F.round(
        F.abs(
            F.col("c").cast("double") / F.col("group_size")
            - F.col("g").cast("double") / F.col("nn")
        ),
        6,
    ).cast("decimal(18,6)")
    # tvd = 0.5 × an exact small-decimal sum: the ×0.5 is IEEE-exact and
    # the cast is sub-2^53, so NO trailing round — rounding 0.5·(odd
    # 6-dp sum) is a true decimal half-way and the engines' double
    # rounds split (found at sf0.1: 4 rows off by 1e-6)
    scored = dense.groupBy("c_nationkey", "bal_bucket", "group_size").agg(
        (F.sum(term).cast("double") * 0.5).alias("tvd")
    )
    return scored.select(
        "c_nationkey", "bal_bucket", "group_size", "tvd",
        (F.col("tvd") > _TCLOSE_T).alias("violates_t"),
    )


# ---------------------------------------------------------------------------
# Round 10: experiment power / minimum-detectable-effect planning — the
# design-time companion to exp_ab_lift (analysis) and exp_sprt_boundary
# (sequential monitoring).

# z-constants inlined as Python literals (the SPRT precedent: never
# derive cross-engine constants from engine libm).  two-sided alpha=.05,
# power=.80.
_PW_Z_ALPHA = 1.959963984540054   # Phi^-1(0.975)
_PW_Z_BETA = 0.8416212335729143   # Phi^-1(0.80)

def _power_oracle() -> str:
    # shares the exact two-arm moment CTEs with stats_welch_ttest
    # (queries_stats.TWO_SAMPLE_MOMENTS_CTE) — one definition, two oracles
    from pulsar_ingestion_spark.queries_stats import TWO_SAMPLE_MOMENTS_CTE

    return f"""
WITH {TWO_SAMPLE_MOMENTS_CTE}, v AS (
  SELECT na, nb, sa / na AS ma,
         (ssa - sa * sa / na) / (na - 1) AS va,
         (ssb - sb * sb / nb) / (nb - 1) AS vb
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(sqrt(va / na + vb / nb), 6) AS se,
       round(({_PW_Z_ALPHA} + {_PW_Z_BETA}) * sqrt(va / na + vb / nb), 6)
         AS mde_abs,
       round(({_PW_Z_ALPHA} + {_PW_Z_BETA}) * sqrt(va / na + vb / nb) / ma, 6)
         AS mde_rel
FROM v
"""


@query("exp_power_mde", oracle=_power_oracle())
def q_exp_power_mde(spark, sf_dir):
    """Minimum detectable effect for the click-vs-error comparison at
    two-sided α=.05 / power=.80: mde = (z_{α/2}+z_β)·SE with the
    unpooled (Welch) standard error from exact DECIMAL moments — the
    design-time question ("how small a lift could this traffic see?")
    every experimentation platform answers before an analysis ships.
    z-constants are Python-literal inlined (SPRT precedent)."""
    from pulsar_ingestion_spark.queries_stats import two_sample_moments

    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    m = two_sample_moments(ev)
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("sa") / na
    va = (F.col("ssa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    vb = (F.col("ssb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    se = F.sqrt(va / na + vb / nb)
    zsum = _PW_Z_ALPHA + _PW_Z_BETA
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(se, 6).alias("se"),
        F.round(zsum * se, 6).alias("mde_abs"),
        F.round(zsum * se / ma, 6).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 4: per-column null/cardinality profile — the
# first-look data-quality scan (null rate, exact distinct count, modal
# frequency) a pipeline runs on every new corpus drop before any
# training-data transform consumes it.

_NULLPROF_ORACLE = """
WITH unp AS (
  SELECT 'lang' AS col, lang AS val FROM documents
  UNION ALL SELECT 'source', source FROM documents
  UNION ALL SELECT 'text', text FROM documents
  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
), per_val AS (
  SELECT col, val, count(*) AS cnt FROM unp GROUP BY col, val
)
SELECT col,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN cnt END), 0) AS BIGINT) AS n_null,
       CAST(COALESCE(SUM(CASE WHEN val IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_distinct,
       CAST(COALESCE(MAX(CASE WHEN val IS NOT NULL THEN cnt END), 0) AS BIGINT) AS top_freq
FROM per_val GROUP BY col
"""


@query("dq_null_profile", oracle=_NULLPROF_ORACLE)
def q_dq_null_profile(spark, sf_dir):
    """Column profile of the documents corpus: row count, null count,
    EXACT distinct cardinality, and modal-value frequency per column,
    in one unpivot + two-level aggregate.  The unpivot is a narrow 4x
    row expansion (no shuffle); the (col, val) aggregate map-side
    combines to at most |distinct values| rows per column — the same
    shape profiling 100 TB needs, with the text column's full-value
    grouping the only heavy key (swap in a hash for width at scale;
    exact here by design so the oracle can recompute it)."""
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    pairs = [
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        ("text", F.col("text")),
        ("n_chars", F.col("n_chars").cast("string")),
    ]
    unp = docs.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(name).alias("col"), expr.alias("val"))
                for name, expr in pairs
            ])
        ).alias("e")
    ).select("e.col", "e.val")
    per_val = unp.groupBy("col", "val").agg(F.count("*").alias("cnt"))
    return per_val.groupBy("col").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_null"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNotNull(), 1)), F.lit(0)
        ).alias("n_distinct"),
        F.coalesce(
            F.max(F.when(F.col("val").isNotNull(), F.col("cnt"))), F.lit(0)
        ).alias("top_freq"),
    )
