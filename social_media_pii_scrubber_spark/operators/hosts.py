"""Host/domain-level reputation: per-domain rollup → filter-back.

Production web pipelines curate at the DOMAIN granularity as well as
the page granularity: CCNet keeps per-domain statistics, RefinedWeb's
URL filtering scores hosts, and Gopher/C4 drop whole domains whose
aggregate quality or duplication is pathological. Two operators:

- ``host_stats`` — one partial-agg'd ``groupBy(host)`` shuffle rolls
  per-page signals up to the host: page count, distinct-content count
  (md5 fingerprint — exact; ``approx=True`` swaps in HyperLogLog for
  the 10^12-doc path where exact distinct state is unbounded), total
  words, heuristic-keep count. Ratios (dup_frac, avg_words, keep_frac)
  are derived by a SINGLE division of exact integer aggregates, so
  they are bit-identical across engines and row orders — no float-sum
  accumulation anywhere (the property the DuckDB twin's value hash
  depends on).
- ``host_reputation_filter`` — drops every page whose host fails the
  reputation thresholds, via a PLAIN left_anti equi-join on host: the
  host dimension grows with the corpus (10^7-10^8 domains in a crawl),
  so it is never hint-broadcast — AQE broadcasts when the bad-host
  list is genuinely small and shuffles when it is not (the repo's
  no-forced-broadcast-on-growing-sides invariant).

Reference scope note: the reference has no domain concept (it is a
per-dump desktop scrubber); this family belongs to the north-star
web-pipeline generalization like the dedup/DSIR/classifier families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import quality as Q
from ..functions.text import fingerprint_fast_expr, fingerprint_sql
from ..plans.partitioning import HOST_RE, url_host_expr

MIN_KEEP_FRAC = 0.25   # host must keep ≥ this fraction of its pages
MAX_DUP_FRAC = 0.5     # ... and duplicate at most this fraction


# HOST_RE is interpolated into a single-quoted SQL literal below; a
# future edit adding a quote or backslash escape to the shared constant
# would silently change the DuckDB twin while Spark keeps working
# (ADVICE r05). Fail at import time instead.
assert "'" not in HOST_RE and "\\" not in HOST_RE, (
    "HOST_RE must stay quote- and backslash-free: url_host_sql embeds it "
    "in a single-quoted DuckDB string literal without escaping")


def url_host_sql(url: str) -> str:
    """DuckDB twin of plans.partitioning.url_host_expr."""
    return f"regexp_extract({url}, '{HOST_RE}', 1)"


def host_stats(pages: DataFrame, url_col: str = "url",
               text_col: str = "text", approx: bool = False) -> DataFrame:
    """(host, n_pages, dup_frac, avg_words, keep_frac): the reputation
    dimension. One shuffle, map-side combined; all ratios derive from
    exact integer aggregates by one division."""
    t = F.col(text_col)
    # r07: the fingerprint feeds ONLY a distinct count, so the cheaper
    # 64-bit xxhash64 replaces md5 (same count up to a ~n²/2^65
    # collision bound — the same equality standard exact_dedup applies
    # corpus-wide in the XXHASH64 family; measured 0.63 s → 0.40 s/1M docs on
    # the hash alone). Null-guarded because xxhash64(null) returns the
    # seed, not null — md5's null would be EXCLUDED from the distinct
    # count and that semantic must not drift.
    fp = F.when(t.isNotNull(), fingerprint_fast_expr(t))
    n_distinct = (F.approx_count_distinct(fp) if approx
                  else F.count_distinct(fp))
    agg = pages.groupBy(
        url_host_expr(F.col(url_col)).alias("host")
    ).agg(
        F.count(F.lit(1)).alias("n_pages"),
        n_distinct.alias("_nd"),
        F.sum(Q.n_words_expr(t).cast("bigint")).alias("_words"),
        F.sum(Q.keep_expr(t).cast("bigint")).alias("_keep"),
    )
    n = F.col("n_pages")
    return agg.select(
        "host", "n_pages",
        ((n - F.col("_nd")) / n).alias("dup_frac"),
        (F.col("_words") / n).alias("avg_words"),
        (F.col("_keep") / n).alias("keep_frac"),
    )


def host_stats_sql(table_sql: str, url_col: str = "url",
                   text_col: str = "text") -> str:
    """DuckDB twin of host_stats (exact profile)."""
    host = url_host_sql(url_col)
    # cast(sum(...) as bigint): DuckDB's sum(BIGINT) is HUGEINT (repo
    # oracle invariant); the division then yields a plain double in
    # both engines from identical integer operands.
    return (
        f"select {host} as host, count(*) as n_pages, "
        f"(count(*) - count(distinct {fingerprint_sql(text_col)}))"
        f" / count(*) as dup_frac, "
        f"cast(sum(cast({Q.n_words_sql(text_col)} as bigint)) as bigint)"
        f" / count(*) as avg_words, "
        f"cast(sum(cast({Q.keep_sql(text_col)} as bigint)) as bigint)"
        f" / count(*) as keep_frac "
        f"from {table_sql} group by {host}"
    )


def host_reputation_filter(pages: DataFrame, stats: DataFrame,
                           url_col: str = "url",
                           min_keep_frac: float = MIN_KEEP_FRAC,
                           max_dup_frac: float = MAX_DUP_FRAC) -> DataFrame:
    """Drop every page of a host that fails the reputation thresholds.
    Plain left_anti equi-join on host — never hint-broadcast (the
    bad-host side grows with the corpus)."""
    bad = stats.filter(
        (F.col("keep_frac") < min_keep_frac)
        | (F.col("dup_frac") > max_dup_frac)
    ).select("host")
    return (
        pages.withColumn("_host", url_host_expr(F.col(url_col)))
        .join(bad.withColumnRenamed("host", "_host"),
              on="_host", how="left_anti")
        .drop("_host")
    )


def host_reputation_filter_sql(table_sql: str, url_col: str = "url",
                               text_col: str = "text",
                               min_keep_frac: float = MIN_KEEP_FRAC,
                               max_dup_frac: float = MAX_DUP_FRAC) -> str:
    """DuckDB twin of host_stats |> host_reputation_filter."""
    stats = host_stats_sql(table_sql, url_col, text_col)
    return (
        f"select p.* from {table_sql} p anti join ("
        f"select host from ({stats}) "
        f"where keep_frac < {float(min_keep_frac)}"
        f" or dup_frac > {float(max_dup_frac)}"
        f") b on {url_host_sql('p.' + url_col)} = b.host"
    )
