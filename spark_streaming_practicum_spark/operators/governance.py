"""Data-governance pack: the operators that keep a 100 TB lakehouse
trustworthy — change-data capture between table snapshots, one-pass
column profiling, and Deequ-style expectation checks.

The reference defers all of this ("Silver layer" quality work,
`README.md:58-72`) and its observability is two `count()` actions per
micro-batch (`src/consumer/stream_processor.py:118-122`). Here each
concern is a declarative DataFrame plan:

- CDC diff: one co-partitioned FULL OUTER JOIN — at scale, snapshots
  of the same table share bucketing, so this is a zero-shuffle
  sort-merge join, not a table-squared comparison.
- Profiling: ALL per-column stats in a single scan (one multi-distinct
  hash aggregate) — never one job per column.
- Expectations: a single global aggregate evaluating every rule at
  once; the same expressions can ride `df.observe()` on a streaming
  query for zero-extra-job enforcement (tests/test_bucketing_observe.py
  shows the observe path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..functions.pins import pin

# Deterministic "two snapshots of the same table" derivation, shared by
# the Spark plan and the DuckDB oracle: the old snapshot is orders minus
# every 10th key; the new snapshot drops every 7th key and re-prices
# every 3rd. Integer arithmetic only -> bit-identical across engines.
_OLD_PRED = "o_orderkey % 10 <> 0"
_NEW_PRED = "o_orderkey % 7 <> 0"
_NEW_PRICE = "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END"


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH old_snap AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE {_OLD_PRED}
    ),
    new_snap AS (
        SELECT o_orderkey, {_NEW_PRICE} AS o_totalprice
        FROM orders WHERE {_NEW_PRED}
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END               AS change_type,
           o.o_totalprice                       AS old_price,
           n.o_totalprice                       AS new_price
    FROM old_snap o
    FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL
       OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data capture by snapshot diff: FULL OUTER JOIN two
    versions of a table on the primary key, classify each key as
    insert / delete / update (value drift), drop unchanged rows. This
    is the batch CDC primitive behind incremental downstream refresh
    when the source has no change log. One shuffle per side on the
    join key; with both snapshots bucketed by key (the layout
    tests/test_bucketing_observe.py proves) it is zero-shuffle."""
    o = table(spark, sf_dir, "orders")
    old_snap = o.filter(F.expr(_OLD_PRED)).select("o_orderkey", "o_totalprice")
    new_snap = (
        o.filter(F.expr(_NEW_PRED))
        .select("o_orderkey", F.expr(_NEW_PRICE).alias("o_totalprice"))
    )
    j = old_snap.alias("o").join(
        new_snap.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    return (
        j.select(
            F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
            F.when(F.col("o.o_orderkey").isNull(), "insert")
            .when(F.col("n.o_orderkey").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("o.o_totalprice").alias("old_price"),
            F.col("n.o_totalprice").alias("new_price"),
        )
        .filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )


@query(
    "incremental_agg_refresh",
    oracle=f"""
    WITH new_snap AS (
        SELECT o_orderpriority, {_NEW_PRICE} AS o_totalprice
        FROM orders WHERE {_NEW_PRED}
    )
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
           COUNT(*) AS n_orders
    FROM new_snap
    GROUP BY o_orderpriority
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance: refresh a grouped aggregate
    by applying ONLY the CDC delta (insert/update/delete contributions)
    to the previous aggregate state — never rescanning the full new
    snapshot. The oracle recomputes the aggregate from scratch on the
    new snapshot, so the test proves incremental == full recompute.
    Accumulation stays in DECIMAL(38,6) end-to-end, so the delta path is
    EXACTLY equal to the recompute, not approximately. At 100 TB this is
    the difference between reprocessing a table and reprocessing a day's
    changes; the delta agg shuffles only changed keys."""
    o = table(spark, sf_dir, "orders")
    dec = "decimal(38,6)"
    old_snap = o.filter(F.expr(_OLD_PRED)).select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast(dec).alias("price")
    )
    new_snap = o.filter(F.expr(_NEW_PRED)).select(
        "o_orderkey", "o_orderpriority", F.expr(_NEW_PRICE).cast(dec).alias("price")
    )
    # Previous MV state (in real life: the stored aggregate, not a scan).
    old_agg = old_snap.groupBy("o_orderpriority").agg(
        F.sum("price").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # CDC delta -> per-group (sum, count) contributions.
    j = old_snap.alias("o").join(
        new_snap.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    delta = j.select(
        F.coalesce("o.o_orderpriority", "n.o_orderpriority").alias("o_orderpriority"),
        (
            F.coalesce(F.col("n.price"), F.lit(0).cast(dec))
            - F.coalesce(F.col("o.price"), F.lit(0).cast(dec))
        ).alias("d_sum"),
        F.when(F.col("o.o_orderkey").isNull(), F.lit(1))
        .when(F.col("n.o_orderkey").isNull(), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("d_n"),
    ).filter((F.col("d_sum") != 0) | (F.col("d_n") != 0))
    delta_agg = delta.groupBy("o_orderpriority").agg(
        F.sum("d_sum").alias("ds"), F.sum("d_n").alias("dn")
    )
    refreshed = (
        old_agg.alias("a")
        .join(delta_agg.alias("d"), "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("s"), F.lit(0).cast(dec))
                + F.coalesce(F.col("ds"), F.lit(0).cast(dec))
            )
            .cast("double")
            .alias("total_price"),
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias(
                "n_orders"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )
    return refreshed


# Columns profiled (numeric, so min/max stay typed and float-tolerant
# in the compare instead of string-formatted, which differs by engine).
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey")


@query(
    "profile_table_stats",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}'                            AS column_name,
               COUNT(*) - COUNT({c})            AS n_nulls,
               COUNT(DISTINCT {c})              AS n_distinct,
               CAST(MIN({c}) AS DOUBLE)         AS min_val,
               CAST(MAX({c}) AS DOUBLE)         AS max_val
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler: nulls / exact distinct / min / max for
    every profiled column in a SINGLE aggregate over a single scan
    (Catalyst plans the multi-distinct via Expand), then unpivoted to
    one row per column. The naive per-column loop is N full scans; this
    is one — the difference between a profiling job that reads 100 TB
    once and one that reads it five times. (The oracle is the readable
    per-column UNION ALL; DuckDB scans a view per branch.)"""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_val"),
                        F.col(f"{c}__max").alias("max_val"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


@query(
    "dq_expectation_checks",
    oracle="""
    WITH m AS (
        SELECT COUNT(*)                                          AS n_rows,
               COUNT(l_orderkey)                                 AS n_orderkey,
               COUNT(DISTINCT (l_orderkey, l_linenumber))        AS n_pk,
               MIN(l_discount)                                   AS min_disc,
               MAX(l_discount)                                   AS max_disc,
               MIN(l_quantity)                                   AS min_qty,
               SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS bad_flags
        FROM lineitem
    )
    SELECT check_name, passed, actual FROM (
        SELECT 'completeness_l_orderkey' AS check_name,
               n_orderkey = n_rows AS passed,
               CAST(n_orderkey AS DOUBLE) / n_rows AS actual FROM m
        UNION ALL
        SELECT 'pk_uniqueness', n_pk = n_rows, CAST(n_pk AS DOUBLE) / n_rows FROM m
        UNION ALL
        SELECT 'discount_range_0_to_0.1',
               min_disc >= 0 AND max_disc <= 0.1, max_disc FROM m
        UNION ALL
        SELECT 'quantity_positive', min_qty > 0, min_qty FROM m
        UNION ALL
        SELECT 'returnflag_domain', bad_flags = 0, CAST(bad_flags AS DOUBLE) FROM m)
    """,
)
def dq_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality suite: every expectation (completeness,
    PK uniqueness, value ranges, domain membership) evaluated in ONE
    global aggregate over one scan, emitted as (check, passed, actual)
    rows. The identical expressions can be attached to a streaming
    write via `df.observe()` so enforcement costs zero extra jobs."""
    li = table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_orderkey").alias("n_orderkey"),
        F.count_distinct(F.struct("l_orderkey", "l_linenumber")).alias("n_pk"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
        F.min("l_quantity").alias("min_qty"),
        F.sum(
            F.when(F.col("l_returnflag").isin("A", "N", "R"), 0).otherwise(1)
        ).alias("bad_flags"),
    )
    checks = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("completeness_l_orderkey").alias("check_name"),
                    (F.col("n_orderkey") == F.col("n_rows")).alias("passed"),
                    (F.col("n_orderkey").cast("double") / F.col("n_rows")).alias("actual"),
                ),
                F.struct(
                    F.lit("pk_uniqueness").alias("check_name"),
                    (F.col("n_pk") == F.col("n_rows")).alias("passed"),
                    (F.col("n_pk").cast("double") / F.col("n_rows")).alias("actual"),
                ),
                F.struct(
                    F.lit("discount_range_0_to_0.1").alias("check_name"),
                    ((F.col("min_disc") >= 0) & (F.col("max_disc") <= 0.1)).alias("passed"),
                    F.col("max_disc").alias("actual"),
                ),
                F.struct(
                    F.lit("quantity_positive").alias("check_name"),
                    (F.col("min_qty") > 0).alias("passed"),
                    F.col("min_qty").alias("actual"),
                ),
                F.struct(
                    F.lit("returnflag_domain").alias("check_name"),
                    (F.col("bad_flags") == 0).alias("passed"),
                    F.col("bad_flags").cast("double").alias("actual"),
                ),
            )
        ).alias("c")
    )
    return checks.select("c.*")


_K_ANON = 5


@query(
    "privacy_k_anonymity_audit",
    oracle=f"""
    WITH quasi AS (
        SELECT user_id % 50                 AS age_band,
               CAST(ts AS DATE)             AS event_day,
               event_type
        FROM events),
    groups AS (
        SELECT age_band, event_day, event_type, COUNT(*) AS group_size
        FROM quasi GROUP BY 1, 2, 3)
    SELECT event_type,
           COUNT(*)                                    AS n_groups,
           CAST(SUM(CASE WHEN group_size < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_violating,
           CAST(SUM(CASE WHEN group_size < {_K_ANON} THEN group_size ELSE 0 END)
                AS BIGINT)                             AS n_rows_at_risk,
           MIN(group_size)                             AS min_group_size,
           CAST(SUM(CASE WHEN group_size < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               = 0                                     AS k_anonymous
    FROM groups
    GROUP BY event_type
    """,
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k={_K_ANON}) over quasi-identifier combinations
    — the privacy gate run before releasing interaction data into a
    training corpus: any (age-band, day, event-type) cell smaller than k
    makes its members re-identifiable, so the release either generalizes
    those cells or drops the rows.

    Two chained hash aggregates (cell sizes, then per-type rollup of
    violating cells / rows at risk / minimum cell size) — the first
    shuffles on the quasi-identifier tuple, the second on the tiny type
    key. The quasi-identifiers are derived deterministically (user_id
    band, event day) so both engines audit identical cells."""
    e = table(spark, sf_dir, "events")
    groups = (
        e.select(
            (F.col("user_id") % 50).alias("age_band"),
            F.col("ts").cast("date").alias("event_day"),
            "event_type",
        )
        .groupBy("age_band", "event_day", "event_type")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    violating = F.sum(F.when(F.col("group_size") < _K_ANON, 1).otherwise(0))
    return groups.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_groups"),
        violating.alias("n_violating"),
        F.sum(
            F.when(F.col("group_size") < _K_ANON, F.col("group_size")).otherwise(0)
        ).alias("n_rows_at_risk"),
        F.min("group_size").alias("min_group_size"),
        (violating == 0).alias("k_anonymous"),
    )


# --- small-file compaction planning ------------------------------------------

_BIN_BYTES = 4096


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH files AS (
        SELECT source, lang, doc_id, n_chars AS bytes FROM documents),
    packed AS (
        SELECT source, lang, doc_id, bytes,
               CAST(FLOOR((SUM(bytes) OVER (PARTITION BY source, lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
                    / {_BIN_BYTES}.0) AS BIGINT) AS bin_id
        FROM files)
    SELECT source, lang, bin_id,
           COUNT(*) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bytes_total,
           ROUND(CAST(SUM(bytes) AS DOUBLE) / {_BIN_BYTES}, 6) AS fill_frac
    FROM packed
    GROUP BY source, lang, bin_id
    ORDER BY source, lang, bin_id
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: next-fit binning of per-partition file
    inventories into ~target-sized merge groups.

    The OPTIMIZE/compaction planner every streaming lakehouse needs
    (this repo's micro-batch parquet sink writes a file per trigger per
    partition — see streaming/maintenance.py): given a file inventory
    keyed by partition, assign consecutive files to merge bins of
    ~_BIN_BYTES via a running cumulative sum — bin_id is
    floor(cumsum_before / target), so each bin fills to at least the
    target before a new one opens (classic next-fit, one window pass,
    no iteration). One shuffle on the partition key; planning is
    O(files), metadata-sized — never touches file contents. Documents
    stand in for the file inventory (doc_id = file, n_chars = size);
    against a real lakehouse the same plan runs over the table's
    file-listing DataFrame."""
    files = table(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id", F.col("n_chars").alias("bytes")
    )
    w = (
        Window.partitionBy("source", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = files.withColumn(
        "bin_id",
        F.floor((F.sum("bytes").over(w) - F.col("bytes")) / _BIN_BYTES).cast(
            "bigint"
        ),
    )
    return (
        packed.groupBy("source", "lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bytes_total"),
            F.round(F.sum("bytes").cast("double") / _BIN_BYTES, 6).alias(
                "fill_frac"
            ),
        )
        .orderBy("source", "lang", "bin_id")
    )


@query(
    "benford_first_digit",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice > 0),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM obs)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_share,
           ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_share,
           ROUND(ABS(CAST(n AS DOUBLE) / total - LOG10(1 + 1.0 / digit)), 6)
               AS abs_dev
    FROM obs, tot
    ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit against Benford's law — the
    classic anomaly screen for fabricated or truncated monetary data.

    The digit is extracted from the integer cent amount's decimal
    string, not via log10/floor — a price sitting exactly on a power of
    ten would make floor(log10(x)) engine-dependent in the last ulp,
    while BIGINT-to-string is identical everywhere. One scan, a 9-row
    aggregate, and a 9-row window for the total: nothing here grows
    with the data."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = F.sum(F.col("n").cast("double")).over(Window.partitionBy())
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return obs.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(F.col("n").cast("double") / total - benford), 6).alias(
            "abs_dev"
        ),
    ).orderBy("digit")


@query(
    "skew_key_diagnostics",
    oracle="""
    WITH k AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(AVG(CAST(cnt AS DOUBLE)), 6) AS avg_cnt,
           ROUND(quantile_cont(CAST(cnt AS DOUBLE), 0.99), 6) AS p99_cnt,
           ROUND(CAST(MAX(cnt) AS DOUBLE)
                 / AVG(CAST(cnt AS DOUBLE)), 6) AS skew_ratio
    FROM k
    """,
)
def skew_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew profiler: per-key cardinality distribution for
    orders.o_custkey — the number you check BEFORE deciding whether a
    join needs salting or AQE skew handling. max/avg ('skew ratio') and
    the p99 key size tell you whether one reducer will receive a
    pathological share of the shuffle.

    Plan: one two-phase count per key (map-side partials, so the
    shuffle carries keys not rows), then a single global aggregate over
    the per-key frame. Exact percentile keeps oracle parity; at 100 TB
    swap `approx_percentile` — the diagnostic tolerates sketch error."""
    k = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    cntd = F.col("cnt").cast("double")
    return k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(F.avg(cntd), 6).alias("avg_cnt"),
        F.round(F.percentile(cntd, F.lit(0.99)), 6).alias("p99_cnt"),
        F.round(F.max("cnt").cast("double") / F.avg(cntd), 6).alias("skew_ratio"),
    )


_L_DIV = 3


@query(
    "privacy_l_diversity_audit",
    oracle=f"""
    WITH cells AS (
        SELECT user_id % 50     AS age_band,
               CAST(ts AS DATE) AS event_day,
               COUNT(*)                   AS cell_rows,
               COUNT(DISTINCT event_type) AS diversity
        FROM events GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN diversity < {_L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(SUM(CASE WHEN diversity < {_L_DIV} THEN cell_rows ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(diversity) AS BIGINT) AS min_diversity,
           CAST(SUM(CASE WHEN diversity < {_L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
               = 0 AS l_diverse
    FROM cells
    """,
)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l={_L_DIV}) — the companion gate to
    `privacy_k_anonymity_audit`: a quasi-identifier cell can satisfy k
    yet still leak if every member shares the SAME sensitive value
    (here event_type), so each (age-band, day) cell must contain at
    least l distinct sensitive values before release.

    Plan: one shuffle on the quasi-identifier tuple computing cell size
    and exact distinct sensitive count together, then a global rollup of
    the cell frame. COUNT(DISTINCT) inside the first aggregate is
    per-cell (bounded by the sensitive domain), not global — no Expand
    blowup at scale."""
    e = table(spark, sf_dir, "events")
    cells = (
        e.select(
            (F.col("user_id") % 50).alias("age_band"),
            F.col("ts").cast("date").alias("event_day"),
            "event_type",
        )
        .groupBy("age_band", "event_day")
        .agg(
            F.count("*").alias("cell_rows"),
            F.countDistinct("event_type").alias("diversity"),
        )
    )
    viol = F.when(F.col("diversity") < _L_DIV, 1).otherwise(0)
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(viol).cast("bigint").alias("n_violating"),
        F.sum(F.when(F.col("diversity") < _L_DIV, F.col("cell_rows")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("diversity").cast("bigint").alias("min_diversity"),
        (F.sum(viol) == 0).alias("l_diverse"),
    )


@query(
    "dataset_card_summary",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(SUM(len(string_split(text, ' '))) * 1.0 / COUNT(*), 6)
               AS mean_doc_tokens,
           ROUND(1 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 6)
               AS exact_dup_rate,
           ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS en_share
    FROM documents
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one query: corpus size, language/source
    cardinality, token volume, mean document length, exact-duplicate
    rate (via content md5), and English share — the header numbers
    every released training corpus publishes.

    ONE scan: the multi-distinct aggregate rides Spark's Expand rewrite
    (same plan family as `profile_table_stats`, asserted there), the
    content hash is computed in the scan projection, and every output
    is an integer or an exact rational — nothing in the card can drift
    between engines."""
    words = F.size(F.split("text", " "))
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum(words).cast("bigint").alias("total_tokens"),
        F.round(F.sum(words) * 1.0 / F.count("*"), 6).alias("mean_doc_tokens"),
        F.round(
            1 - F.countDistinct(F.md5("text")) * 1.0 / F.count("*"), 6
        ).alias("exact_dup_rate"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) * 1.0
            / F.count("*"),
            6,
        ).alias("en_share"),
    )


_PSI_QS = [i / 10 for i in range(1, 10)]


def _psi_oracle() -> str:
    qs = ", ".join(str(q) for q in _PSI_QS)
    return f"""
    WITH ref AS (
        SELECT value FROM events WHERE EXTRACT(day FROM ts) <= 15),
    cur AS (
        SELECT value FROM events WHERE EXTRACT(day FROM ts) > 15),
    thr AS (
        SELECT g.i, q.q[g.i] AS t
        FROM (SELECT quantile_cont(value, [{qs}]) AS q FROM ref) q,
             unnest(generate_series(1, 9)) AS g(i)),
    rbin AS (
        SELECT rv.rowid_b AS rid, COUNT(CASE WHEN t.t < rv.value THEN 1 END) AS bin
        FROM (SELECT value, ROW_NUMBER() OVER () AS rowid_b FROM ref) rv
        CROSS JOIN thr t GROUP BY rv.rowid_b),
    cbin AS (
        SELECT cv.rowid_b AS rid, COUNT(CASE WHEN t.t < cv.value THEN 1 END) AS bin
        FROM (SELECT value, ROW_NUMBER() OVER () AS rowid_b FROM cur) cv
        CROSS JOIN thr t GROUP BY cv.rowid_b),
    p AS (SELECT bin, COUNT(*) * 1.0 / (SELECT COUNT(*) FROM rbin) AS p
          FROM rbin GROUP BY bin),
    q AS (SELECT bin, COUNT(*) * 1.0 / (SELECT COUNT(*) FROM cbin) AS q
          FROM cbin GROUP BY bin)
    SELECT p.bin AS bin_id,
           ROUND(p.p, 6) AS p_ref,
           ROUND(q.q, 6) AS q_cur,
           ROUND((q.q - p.p) * LN(q.q / p.p), 6) AS psi_term
    FROM p JOIN q ON q.bin = p.bin
    ORDER BY p.bin
    """


@query("drift_psi_value_distribution", oracle=_psi_oracle())
def drift_psi_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month: the event-value distribution is decile-binned on the
    REFERENCE window and each bin contributes (q-p)·ln(q/p) — the
    drift monitor every deployed model/feature pipeline runs; PSI > 0.2
    conventionally pages someone.

    Reference deciles are a bounded 1-row collect (the stump/IVF
    pattern); binning is a literal CASE ladder inside the scan, so each
    half is ONE pass reduced to a 10-row frame. Shares are exact
    rationals; only the log term needs the 6-dp round."""
    e = table(spark, sf_dir, "events").select(
        "value", F.dayofmonth("ts").alias("dom")
    )
    ref = e.filter(F.col("dom") <= 15)
    cur = e.filter(F.col("dom") > 15)
    thrs = ref.agg(F.percentile("value", F.lit(_PSI_QS)).alias("qs")).collect()[
        0
    ]["qs"]
    bin_col = sum(
        (F.when(F.col("value") > F.lit(t), 1).otherwise(0) for t in thrs),
        F.lit(0),
    ).alias("bin")

    def shares(df: DataFrame, name: str) -> DataFrame:
        b = df.select(bin_col).groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
        tot = Window.partitionBy()
        return b.select(
            "bin", (F.col("c") * 1.0 / F.sum("c").over(tot)).alias(name)
        )

    p = shares(ref, "p")
    q = shares(cur, "q")
    return (
        p.join(q, "bin")
        .select(
            F.col("bin").alias("bin_id"),
            F.round("p", 6).alias("p_ref"),
            F.round("q", 6).alias("q_cur"),
            F.round(
                (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 6
            ).alias("psi_term"),
        )
        .orderBy("bin_id")
    )


@query(
    "privacy_t_closeness_audit",
    oracle="""
    WITH stats AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    binned AS (
        SELECT user_id % 50 AS age_band,
               event_type,
               LEAST(9, CAST(FLOOR((e.value - s.mn) * 10.0 / (s.mx - s.mn))
                             AS BIGINT)) AS sbin
        FROM events e, stats s),
    cell_bin AS (
        SELECT age_band, event_type, sbin, COUNT(*) AS n
        FROM binned GROUP BY 1, 2, 3),
    cell_tot AS (
        SELECT age_band, event_type, CAST(SUM(n) AS BIGINT) AS n_cell
        FROM cell_bin GROUP BY 1, 2),
    gdist AS (SELECT sbin, CAST(COUNT(*) AS BIGINT) AS g FROM binned GROUP BY sbin),
    gtot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_all FROM gdist),
    grid AS (
        SELECT c.age_band, c.event_type, c.n_cell, b.sbin, b.g, t.n_all,
               COALESCE(cb.n, 0) AS n
        FROM cell_tot c CROSS JOIN gdist b CROSS JOIN gtot t
        LEFT JOIN cell_bin cb
          ON cb.age_band = c.age_band AND cb.event_type = c.event_type
         AND cb.sbin = b.sbin),
    cum AS (
        SELECT age_band, event_type, n_cell,
               SUM(n * 1.0 / n_cell - g * 1.0 / n_all)
                   OVER (PARTITION BY age_band, event_type ORDER BY sbin)
                   AS cdiff
        FROM grid),
    emd AS (
        SELECT age_band, event_type, n_cell,
               SUM(ABS(cdiff)) / 9.0 AS t_dist
        FROM cum GROUP BY 1, 2, 3)
    SELECT event_type,
           COUNT(*) AS n_cells,
           CAST(SUM(CASE WHEN t_dist > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           ROUND(MAX(t_dist), 6) AS worst_t,
           CAST(SUM(CASE WHEN t_dist > 0.2 THEN 1 ELSE 0 END) AS BIGINT) = 0
               AS t_close
    FROM emd
    GROUP BY event_type
    """,
)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t=0.2, ordered EMD): each quasi-identifier
    cell's distribution over the binned sensitive attribute (value
    deciles) must sit within Earth-Mover's-Distance t of the GLOBAL
    distribution — the leak k-anonymity AND l-diversity both miss
    (a cell can be large and diverse yet still skew toward 'high
    value', revealing its members' attribute). Completes the privacy
    trio with privacy_k_anonymity_audit / privacy_l_diversity_audit.

    For an ordered attribute EMD is the mean |cumulative-share
    difference| — here one window over each cell's 10-bin frame. The
    10-row global profile broadcasts; the dense cell x bin grid is
    linear in cells; no float enters the hash unrounded (worst_t is
    rounded, the gate compares unrounded doubles identically in both
    engines)."""
    e = table(spark, sf_dir, "events")
    stats = e.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = e.crossJoin(F.broadcast(stats)).select(
        (F.col("user_id") % 50).alias("age_band"),
        "event_type",
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))
            ).cast("long"),
        ).alias("sbin"),
    )
    cell_bin = binned.groupBy("age_band", "event_type", "sbin").agg(
        F.count(F.lit(1)).alias("n")
    )
    cell_tot = cell_bin.groupBy("age_band", "event_type").agg(
        F.sum("n").cast("long").alias("n_cell")
    )
    glob = binned.groupBy("sbin").agg(F.count(F.lit(1)).alias("g"))
    gtot = glob.agg(F.sum("g").cast("long").alias("n_all"))
    grid = (
        cell_tot.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(gtot))
        .join(cell_bin, ["age_band", "event_type", "sbin"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    w = Window.partitionBy("age_band", "event_type").orderBy("sbin")
    cum = grid.select(
        "age_band",
        "event_type",
        "n_cell",
        F.sum(
            F.col("n") * 1.0 / F.col("n_cell") - F.col("g") * 1.0 / F.col("n_all")
        )
        .over(w)
        .alias("cdiff"),
    )
    emd = cum.groupBy("age_band", "event_type", "n_cell").agg(
        (F.sum(F.abs("cdiff")) / 9.0).alias("t_dist")
    )
    viol = F.sum(F.when(F.col("t_dist") > 0.2, 1).otherwise(0)).cast("long")
    return emd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        viol.alias("n_violating"),
        F.round(F.max("t_dist"), 6).alias("worst_t"),
        (viol == 0).alias("t_close"),
    )


@query(
    "gdpr_erasure_audit",
    oracle="""
    WITH requests AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
    ev AS (
        SELECT COUNT(*) AS total,
               CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS purged
        FROM events e LEFT JOIN requests r USING (user_id)),
    cu AS (
        SELECT COUNT(*) AS total,
               CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS purged
        FROM customer c LEFT JOIN requests r ON c.c_custkey = r.user_id),
    od AS (
        SELECT COUNT(*) AS total,
               CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS purged
        FROM orders o LEFT JOIN requests r ON o.o_custkey = r.user_id)
    SELECT 'events' AS tbl, total, purged, total - purged AS remaining,
           (SELECT COUNT(*) FROM requests) AS n_requests
    FROM ev
    UNION ALL
    SELECT 'customer', total, purged, total - purged,
           (SELECT COUNT(*) FROM requests) FROM cu
    UNION ALL
    SELECT 'orders', total, purged, total - purged,
           (SELECT COUNT(*) FROM requests) FROM od
    ORDER BY tbl
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation audit: a deletion-request set (every
    97th user here) swept across every table keyed by that subject —
    per-table rows to purge, rows remaining, and the request count —
    the compliance report a lake produces BEFORE running the actual
    anti-join rewrite (and the same joins, flipped to left_anti, ARE
    the rewrite).

    The request set broadcasts into each fact scan (existence-tagged
    left join, counted map-side); tables are swept in one pass each
    and never shuffled on a per-row key."""
    req = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 97 == 0)
        .select("user_id")
        .distinct()
        .transform(pin)
    )
    n_req = req.count()

    def sweep(df: DataFrame, key: str, name: str) -> DataFrame:
        tagged = df.join(
            F.broadcast(req.withColumnRenamed("user_id", "_rq")),
            df[key] == F.col("_rq"),
            "left",
        )
        return tagged.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("_rq").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("purged"),
        ).select(
            "tbl",
            "total",
            "purged",
            (F.col("total") - F.col("purged")).alias("remaining"),
            F.lit(n_req).cast("long").alias("n_requests"),
        )

    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        sweep(e, "user_id", "events")
        .unionAll(sweep(c, "c_custkey", "customer"))
        .unionAll(sweep(o, "o_custkey", "orders"))
        .orderBy("tbl")
    )


@query(
    "impute_group_median",
    oracle="""
    WITH holed AS (
        SELECT event_id, event_type,
               CASE WHEN ((event_id % 1000003) * 2654435761) % 20 = 0 THEN NULL
                    ELSE value END AS v
        FROM events),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS m
        FROM holed WHERE v IS NOT NULL GROUP BY event_type)
    SELECT h.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN h.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_imputed,
           ROUND(MAX(m.m), 6) AS imputed_value,
           ROUND(AVG(COALESCE(h.v, m.m)), 6) AS mean_after_impute
    FROM holed h JOIN med m USING (event_type)
    GROUP BY h.event_type
    """,
)
def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median null imputation — the data-repair step after
    dq_expectation_checks finds holes: nulls (synthesized here on a
    deterministic 5% of rows so the repair is verifiable end-to-end)
    are filled with their group's median, the robust choice that
    survives the skewed distributions mean-imputation distorts.

    One median pass per group (exact here; percentile_approx is the
    sketch-state swap at 100 TB), the |groups|-row medians broadcast
    back, COALESCE map-side. Reports imputation counts and the
    post-repair mean per group — the audit trail a repair job must
    emit."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(((F.col("event_id") % 1000003) * 2654435761) % 20 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = (
        e.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_imputed"),
            F.round(F.max("m"), 6).alias("imputed_value"),
            F.round(F.avg(F.coalesce(F.col("v"), F.col("m"))), 6).alias(
                "mean_after_impute"
            ),
        )
    )


@query(
    "dq_referential_integrity",
    oracle="""
    WITH o_c AS (
        SELECT COUNT(*) AS n_child,
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    l_o AS (
        SELECT COUNT(*) AS n_child,
               CAST(SUM(CASE WHEN oo.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN orders oo ON l.l_orderkey = oo.o_orderkey),
    l_s AS (
        SELECT COUNT(*) AS n_child,
               CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey)
    SELECT 'orders->customer' AS relation, n_child, n_orphans,
           n_orphans = 0 AS ri_ok FROM o_c
    UNION ALL
    SELECT 'lineitem->orders', n_child, n_orphans, n_orphans = 0 FROM l_o
    UNION ALL
    SELECT 'lineitem->supplier', n_child, n_orphans, n_orphans = 0 FROM l_s
    ORDER BY relation
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    foreign keys per child->parent relation — the cross-TABLE data
    quality dimension the single-table expectation suite
    (dq_expectation_checks) can't see, and the first thing that breaks
    when ingestion partially fails mid-batch.

    Each relation is one existence-tagged left join counted map-side
    (parent keys broadcast when dimension-sized; the orders side
    shuffles on its natural key) — no row-level output, just the
    |relations|-row report."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey")

    def audit(child: DataFrame, key, parent: DataFrame, pkey, name: str) -> DataFrame:
        tagged = child.join(parent, child[key] == parent[pkey], "left")
        return tagged.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(parent[pkey].isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            "relation",
            "n_child",
            "n_orphans",
            (F.col("n_orphans") == 0).alias("ri_ok"),
        )

    return (
        audit(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionAll(audit(li, "l_orderkey", o.select("o_orderkey"), "o_orderkey", "lineitem->orders"))
        .unionAll(audit(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .orderBy("relation")
    )


_DP_EPS = 1.0
_DP_M = 1000003


@query(
    "dp_laplace_noisy_counts",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    nz AS (
        SELECT *,
               ((('0x' || substr(md5(event_type || '|' || day), 1, 8))::BIGINT
                 % {_DP_M}) + 0.5) / {_DP_M} AS u
        FROM g)
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           ROUND(n + (-1.0 / {_DP_EPS})
                     * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
                     * LN(1.0 - 2.0 * ABS(u - 0.5)), 3) AS noisy_count
    FROM nz
    ORDER BY event_type, day
    """,
)
def dp_laplace_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-(event_type, day) counts
    via the Laplace mechanism: noise ~ Laplace(b = sensitivity/eps)
    with sensitivity 1 (one event touches one cell) and eps = 1.0 —
    the standard histogram release for usage dashboards over sensitive
    event data. Noise is drawn by inverse-CDF transform of a uniform:
    x = -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|).

    Determinism caveat, stated honestly: real DP requires FRESH
    randomness per release; here the uniform comes from a portable
    md5-derived hash of the cell key ('0x'||substr(md5,1,8) parses
    identically in Spark's conv() and DuckDB's hex cast), which keeps
    the mechanism's arithmetic — scale calibration, two-sided
    exponential shape, unbiasedness — oracle-checkable end to end. A
    production run swaps the hash for a secure RNG and drops the raw
    ``n`` column; the plan (one count aggregate + map-side noise, no
    extra shuffle) is unchanged at any scale."""
    g = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", "event_type", "day")), 1, 8), 16, 10
    ).cast("long")
    u = ((h % _DP_M) + 0.5) / _DP_M
    noise = (
        (-1.0 / _DP_EPS)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n"),
        F.lit(_DP_EPS).alias("epsilon"),
        F.round(F.col("n") + noise, 3).alias("noisy_count"),
    ).orderBy("event_type", "day")


_IJR_CUT = "1995-06-01"


@query(
    "incremental_join_refresh",
    oracle=f"""
    WITH full_join AS (
        SELECT o.o_orderpriority,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM full_join
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN: the materialized
    orders ⋈ lineitem revenue rollup is refreshed with the classic
    delta algebra   Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
    — here both tables gain their post-{_IJR_CUT} rows as deltas over a
    pre-{_IJR_CUT} base, and the refreshed aggregate must equal the
    full-join recompute EXACTLY (the oracle recomputes from scratch;
    DECIMAL accumulation makes incremental == recompute an equality,
    not an approximation).

    This is the join-side companion to incremental_agg_refresh's
    aggregate-side CDC: at 100 TB the three delta joins each shuffle
    only a day's changes against the (bucketed) base — never base ⋈
    base again. The three terms and the base aggregate combine as one
    unionByName + final rollup, so the whole refresh is one job."""
    dec = "decimal(38,6)"
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderdate") < F.lit(_IJR_CUT).cast("timestamp")).alias("is_base"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec).alias("rev"),
        (F.col("l_shipdate") < F.lit(_IJR_CUT).cast("timestamp")).alias("is_base"),
    )
    o_base, o_delta = o.filter("is_base"), o.filter("NOT is_base")
    l_base, l_delta = li.filter("is_base"), li.filter("NOT is_base")

    def term(lhs, rhs):
        return lhs.join(rhs, lhs.o_orderkey == rhs.l_orderkey).select(
            "o_orderpriority", "rev"
        )

    # previous MV state (in real life: stored, not rescanned)
    base_state = term(o_base, l_base)
    refreshed = (
        base_state.unionByName(term(o_delta, l_base))
        .unionByName(term(o_base, l_delta))
        .unionByName(term(o_delta, l_delta))
    )
    return (
        refreshed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --- Benford first-digit audit -----------------------------------------------


@query(
    "audit_benford_first_digit",
    oracle="""
    WITH v AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS d
        FROM lineitem
        WHERE l_extendedprice >= 1),
    cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY d),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cnt)
    SELECT d AS digit, n,
           ROUND(n / (SELECT t FROM tot), 6) AS observed_p,
           ROUND(LOG10(1.0 + 1.0 / d), 6) AS benford_p,
           ROUND(POW(n / (SELECT t FROM tot) - LOG10(1.0 + 1.0 / d), 2)
                 / LOG10(1.0 + 1.0 / d) * (SELECT t FROM tot), 6) AS chi2_term
    FROM cnt
    ORDER BY digit
    """,
)
def audit_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over monetary amounts — the
    classic fabricated-data / ETL-corruption screen (Nigrini 2012):
    natural multi-scale amounts follow P(d) = log10(1 + 1/d); uniform
    or truncated generators don't, and the per-digit chi-square terms
    localize WHICH digits deviate.

    Entirely map-side + one 9-group aggregate: the first digit is
    string arithmetic on the integer part (no float log10-of-value
    edge cases at powers of ten), the expected-law column is a
    constant expression, and the total is a 1-row broadcast. At 100 TB
    this is a single scan emitting 9 rows — the cheapest full-corpus
    integrity signal there is. (The synthetic TPC-H prices are NOT
    Benford-distributed — the audit's point is the measured deviation,
    not a pass/fail pin; every column is deterministic algebra both
    engines reproduce bit-identically after rounding.)"""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    # FLOOR before the integer cast in BOTH engines: a bare
    # double->bigint cast truncates in Spark but rounds in DuckDB, and
    # amounts like 999.5 would land in different first-digit buckets.
    v = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("d")
    )
    cnt = v.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.agg(F.sum("n").cast("double").alias("t"))
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    obs = F.col("n") / F.col("t")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            "n",
            F.round(obs, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.pow(obs - benford, 2) / benford * F.col("t"), 6).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@query(
    "privacy_dp_topk_exponential",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    nz AS (
        SELECT *,
               ((('0x' || substr(md5(event_type || '#' || day), 1, 8))::BIGINT
                 % {_DP_M}) + 0.5) / {_DP_M} AS u
        FROM g),
    per AS (
        SELECT event_type, day, n,
               {_DP_EPS} / 2.0 * n + (-LN(-LN(u))) AS perturbed
        FROM nz),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY perturbed DESC,
                                     event_type, day) AS rk
        FROM per)
    SELECT CAST(rk AS INT) AS rk, event_type, day, CAST(n AS BIGINT) AS n,
           ROUND(perturbed, 6) AS perturbed_score
    FROM ranked WHERE rk <= 5 ORDER BY rk
    """,
)
def privacy_dp_topk_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private top-5 (event_type, day) cells via the
    EXPONENTIAL MECHANISM, implemented with the Gumbel-max trick:
    selecting argmax of eps*score/(2*sensitivity) + Gumbel noise draws
    exactly from the exponential-mechanism distribution, and taking the
    top k of the perturbed scores is the standard one-shot k-selection
    (peeling with fresh noise composes identically). Completes the DP
    family: Laplace releases VALUES (dp_laplace_noisy_counts), the
    exponential mechanism releases CHOICES.

    Same determinism caveat as the Laplace op, stated honestly: the
    uniform comes from the portable md5 cell-key hash so the
    mechanism's arithmetic (score scaling, Gumbel shape, selection
    order) is oracle-checkable end to end; production swaps in a
    secure RNG. Plan: one count aggregate, map-side noise, one
    TakeOrderedAndProject top-5 — no full sort, no extra shuffle."""
    g = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", "event_type", "day")), 1, 8), 16, 10
    ).cast("long")
    u = ((h % _DP_M) + 0.5) / _DP_M
    perturbed = F.lit(_DP_EPS) / 2.0 * F.col("n") + (-F.log(-F.log(u)))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition heaps,
    # no global sort); the rank window then runs over the 5 surviving
    # rows only.
    top = (
        g.withColumn("perturbed", perturbed)
        .orderBy(perturbed.desc(), F.col("event_type").asc(), F.col("day").asc())
        .limit(5)
    )
    w = Window.orderBy(
        F.col("perturbed").desc(), F.col("event_type").asc(), F.col("day").asc()
    )
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .select(
            "rk",
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.round("perturbed", 6).alias("perturbed_score"),
        )
        .orderBy("rk")
    )
