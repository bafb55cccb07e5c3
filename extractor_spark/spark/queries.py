"""Operator coverage queries over the driver-provided tables, each paired
with a DuckDB oracle (driver contract, /root/repo/__spark_entry__.py).

Design rules for oracle parity:
- every computed column is aliased identically in Spark and the oracle;
- no raw timestamps in outputs (epoch micros via unix_micros/epoch_us —
  timezone-independent in both engines);
- double sums over many rows are computed on integer cents
  (CAST(round(x*100) AS BIGINT)) so accumulation order cannot flip a bit;
- per-row double arithmetic (identical IEEE expression trees) is kept as
  double, rounded only where two engines compute through different builtins
  (cosine similarity).

Probabilistic/scale-path ops (MinHash-LSH, SimHash, hyperplane LSH) have no
SQL oracle and are registered rows-only; each has an exact oracle-checked
counterpart (ngram_jaccard_pairs, exact fingerprints, brute-force cosine).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import caches

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# (session, path) -> (mtime_ns, DataFrame).  `spark.read.parquet`
# lists the path and reads footers eagerly — ~0.7 s for the 10 tables,
# paid by EVERY query invocation before r6 (~60 s across a 90-query
# bench suite).  The reader DataFrames are memoized per session+path;
# the mtime key re-reads a path whose file changed (e.g. a freshly
# written planted-corpus dir).  No query RESULTS are cached — only
# reader plans.
_VIEW_DF_CACHE: dict = {}

# (session, view name) -> (path, mtime_ns) last registered by _views.
# Registration itself costs ~7 ms/view (py4j + plan analysis) — ~70 ms per
# query invocation, ~6 s across the bench suite — so an unchanged
# (path, mtime) skips the createOrReplaceTempView.  Both maps are keyed by
# the JVM session: temp views belong to one session, and
# ``spark.newSession()`` or a foreachBatch clone shares the application
# id but not the views.  Code that overwrites one of these view names
# with its own frame must clear this map before the next registry query.
_VIEW_REG_STATE: dict = {}


def _views(spark: SparkSession, sf_dir: str) -> None:
    # Oracle comparisons assume UTC timestamp semantics (TESTDATA parquet is
    # UTC-naive; DuckDB reads it naively).  Session-settable at runtime.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    session = spark._jsparkSession.sessionUUID()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        try:
            mtime = os.stat(path).st_mtime_ns
        except OSError:
            mtime = None
        key = (session, path)
        ent = _VIEW_DF_CACHE.get(key)
        if ent is None or ent[0] != mtime:
            ent = (mtime, spark.read.parquet(path))
            _VIEW_DF_CACHE[key] = ent
        rkey = (session, name)
        if _VIEW_REG_STATE.get(rkey) != (path, mtime):
            ent[1].createOrReplaceTempView(name)
            _VIEW_REG_STATE[rkey] = (path, mtime)


def _sql(statement: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return spark.sql(statement)

    return run


# ---------------------------------------------------------------------------
# Relational scaffolding (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

# TPC-H Q1-flavored pricing summary: group-agg with partial (map-side)
# aggregation; money sums on integer cents for cross-engine exactness.
_PRICING_SUMMARY = """
SELECT l_returnflag,
       l_linestatus,
       CAST(count(*) AS BIGINT)                                   AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)            AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# Projection+filter that Catalyst pushes into the parquet scan.
_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount >= 0.05
  AND l_quantity < 10
"""

# Latest event per user — the pipeline's dedup-latest-per-url window op.
_DEDUP_LATEST_EVENT_SPARK = """
SELECT user_id, event_id, unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""
_DEDUP_LATEST_EVENT_ORACLE = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""

# Incremental crawl diff: latest vs previous observation per key →
# new / changed / unchanged.  The production shape for "what changed since
# the last crawl": one hash shuffle on the key + a bounded window (rn ≤ 2);
# against a stored previous-crawl manifest this becomes a co-partitioned
# (bucket-aligned) join with no re-read of unchanged payloads.  Fingerprint
# is md5 over the string payload (props) so both engines agree byte-wise.
_CRAWL_DELTA = """
SELECT user_id,
       CASE WHEN prev_fp IS NULL THEN 'new'
            WHEN cur_fp <> prev_fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       n_obs
FROM (
  SELECT user_id,
         max(CASE WHEN rn = 1 THEN fp END) AS cur_fp,
         max(CASE WHEN rn = 2 THEN fp END) AS prev_fp,
         max(n_obs) AS n_obs
  FROM (
    SELECT user_id, md5(coalesce(props, '')) AS fp,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_obs
    FROM events
  ) r
  WHERE rn <= 2
  GROUP BY user_id
) s
"""

# Crawl revisit scheduling (Cho & Garcia-Molina 2003, "Effective page
# refresh policies for Web crawlers" — public): estimate each page's
# change rate from its observation history and derive the next fetch
# time.  Pages = user_id keys (the crawl_delta convention), fingerprint =
# md5(props); a CHANGE is a consecutive-observation fingerprint
# transition (lag window).  Revisit interval = observed span DIV changes
# (the uniform-change-rate estimator's mean inter-change time); a page
# never observed changing backs off to 2× its span.  All arithmetic is
# BIGINT epoch-micros — no floats, so the DuckDB twin is exact.  Pages
# with a single observation carry no evidence and are excluded.
#
# Scale shape: ONE user_id shuffle serving both the lag window and the
# aggregation (same partitioning, no second Exchange); output is one row
# per page.  Against a stored crawl manifest this is the recurring
# scheduling pass that decides each URL's place in the next frontier.
_REVISIT_SPARK = """
WITH obs AS (
  SELECT user_id,
         unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us,
         md5(coalesce(props, '')) AS fp,
         lag(md5(coalesce(props, ''))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_fp
  FROM events
),
per_page AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
         CAST(max(ts_us) AS BIGINT) AS last_us
  FROM obs GROUP BY user_id
)
SELECT user_id, n_obs, n_changes, span_us,
       CAST(CASE WHEN n_changes = 0 THEN span_us * 2
                 ELSE span_us DIV n_changes END AS BIGINT) AS revisit_us,
       CAST(last_us + CASE WHEN n_changes = 0 THEN span_us * 2
                           ELSE span_us DIV n_changes END AS BIGINT)
         AS next_fetch_us
FROM per_page
WHERE n_obs >= 2
ORDER BY user_id
"""
_REVISIT_DUCK = """
WITH obs AS (
  SELECT user_id,
         epoch_us(ts) AS ts_us,
         md5(coalesce(props, '')) AS fp,
         lag(md5(coalesce(props, ''))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_fp
  FROM events
),
per_page AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
         CAST(max(ts_us) AS BIGINT) AS last_us
  FROM obs GROUP BY user_id
)
SELECT user_id, n_obs, n_changes, span_us,
       CAST(CASE WHEN n_changes = 0 THEN span_us * 2
                 ELSE span_us // n_changes END AS BIGINT) AS revisit_us,
       CAST(last_us + CASE WHEN n_changes = 0 THEN span_us * 2
                           ELSE span_us // n_changes END AS BIGINT)
         AS next_fetch_us
FROM per_page
WHERE n_obs >= 2
ORDER BY user_id
"""


# Skew diagnosis: the ten heaviest keys with their corpus share — the
# measurement that decides whether the pipeline's salting/AQE-skew handling
# is needed for a given key (complements `salted_event_totals`, which
# demonstrates the mitigation).  One map-side-combined agg + a tiny top-k;
# share uses floor() because Spark CAST(double AS BIGINT) truncates while
# DuckDB rounds half-even — floor agrees byte-wise in both engines.
_HOT_KEYS = """
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM c)
SELECT user_id, n_events,
       CAST(floor(n_events * 1000000.0 / total) AS BIGINT) AS share_ppm
FROM c, t
ORDER BY n_events DESC, user_id
LIMIT 10
"""

# Temperature-flattened source mixing (multilingual-LM-style α-sampling,
# α = 0.5): per-source keep-rates ∝ sqrt(n)/n materialize a ~300-doc
# training mixture as a MAP-ONLY filter — counts/rates are a tiny agg +
# broadcast join, and selection is a deterministic multiplicative-hash
# threshold, so the corpus itself is never shuffled or per-stratum sorted
# (contrast `stratified_sample`, the exact-K windowed variant).  All
# arithmetic is engine-portable: sqrt of exact ints is correctly rounded,
# the double division's true quotient is ≥1e-7 from any integer (>> ulp),
# the pre-mod keeps the hash product inside int64 under ANSI mode, and the
# Knuth multiplier is odd and coprime to 1e6 (equidistributed threshold).
_TEMPERATURE_MIXTURE = """
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_total
  FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_total, CAST(floor(sqrt(n_total)) AS BIGINT) AS w
  FROM counts
),
rates AS (
  SELECT source, n_total,
         CAST(floor((1000000.0 * 300 * w) /
                    ((SELECT sum(w) FROM weights) * n_total)) AS BIGINT)
           AS rate_ppm
  FROM weights
)
SELECT d.source, d.doc_id
FROM documents d JOIN rates r ON d.source = r.source
WHERE ((d.doc_id % 1000003) * 2654435761) % 1000000 < r.rate_ppm
"""

# Top-3 documents by length per language (top-k per group).
_TOPK_DOCS = """
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) t WHERE rn <= 3
"""

# Broadcast-joined dimension: revenue by market segment (context-join analog).
_SEGMENT_REVENUE = """
SELECT c.c_mktsegment AS mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY mktsegment
"""

# Anti-join — the manifest-resume primitive.
_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
"""

# Semi-join (EXISTS) — planned as LEFT SEMI by Catalyst.
_CUSTOMERS_WITH_ORDERS = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

# As-of join — Spark has no native ASOF, so it is composed from a union +
# last-non-null window (fully JVM-side, one shuffle; the standard scalable
# shape).  Ties are removed up front: one order per (custkey, orderdate).
# Oracle uses DuckDB's native ASOF JOIN.
_ASOF_JOIN_SPARK = """
WITH ord AS (
  SELECT o_custkey AS key, o_orderdate AS t, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
),
unioned AS (
  SELECT key, t, o_orderkey, CAST(NULL AS BIGINT) AS event_id, 0 AS is_event FROM ord
  UNION ALL
  SELECT user_id AS key, ts AS t, CAST(NULL AS BIGINT), event_id, 1 FROM events
),
matched AS (
  SELECT key, t, event_id, is_event,
         last(o_orderkey, true) OVER (
           PARTITION BY key ORDER BY t ASC, is_event ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS asof_orderkey
  FROM unioned
)
SELECT event_id, key AS user_id, asof_orderkey
FROM matched
WHERE is_event = 1 AND asof_orderkey IS NOT NULL
"""
_ASOF_JOIN_ORACLE = """
WITH ord AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
FROM events e
ASOF JOIN ord o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""

# Interval (range) join: events within 7 days after an order by the same
# user — equi-key + range predicate (both engines hash-join then filter).
_INTERVAL_JOIN_SPARK = """
SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_events_7d
FROM orders o JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL '7' DAY
GROUP BY o.o_orderkey
"""
_INTERVAL_JOIN_ORACLE = """
SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_events_7d
FROM orders o JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 7 DAY
GROUP BY o.o_orderkey
"""

# TPC-H Q3-shaped shipping priority: 3-way join + filter + agg + top-k —
# exercises Catalyst join reordering/broadcast selection on a classic
# multi-join shape; money on integer cents, date filters pushed down.
_SHIPPING_PRIORITY_TMPL = """
SELECT l.l_orderkey,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       {date_us} AS o_date_us,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue_cents DESC, o_date_us ASC, l.l_orderkey ASC
LIMIT 10
"""
_SHIPPING_PRIORITY_SPARK = _SHIPPING_PRIORITY_TMPL.format(
    date_us="unix_micros(CAST(o.o_orderdate AS TIMESTAMP))"
)
_SHIPPING_PRIORITY_ORACLE = _SHIPPING_PRIORITY_TMPL.format(
    date_us="epoch_us(o.o_orderdate)"
)

# Per-vector symmetric int8 quantization of embeddings (storage/bandwidth
# path for ANN at scale): scale = max|v| / 127 (scaled to integer
# micro-units for cross-engine exactness), code[pos] = round(v / scale).
# Output is posexploded to scalar (vec_id, scale_micro, pos, code) rows so
# the driver's pandas canonicalizer can hash-sort it (array columns are
# unhashable there).  greatest(maxabs, 1e-30) guards the all-zero vector:
# codes become 0 instead of round(0/0) = NaN (which Spark 4 ANSI mode
# refuses to CAST to INT).
_QUANTIZE_SPARK = """
SELECT vec_id,
       CAST(round(1e6 * maxabs / 127.0) AS BIGINT) AS scale_micro,
       pos, code
FROM (
  SELECT vec_id, embedding,
         aggregate(embedding, 0D, (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE)))) AS maxabs
  FROM embeddings
) t
LATERAL VIEW posexplode(transform(embedding,
    v -> CAST(round(CAST(v AS DOUBLE) * 127.0 / greatest(maxabs, 1e-30)) AS INT))) q AS pos, code
"""
_QUANTIZE_ORACLE = """
WITH t AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS emb,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), v -> abs(v)), 'max') AS maxabs
  FROM embeddings
),
codes AS (
  SELECT vec_id,
         CAST(round(1e6 * maxabs / 127.0) AS BIGINT) AS scale_micro,
         list_transform(emb, v -> CAST(round(v * 127.0 / greatest(maxabs, 1e-30)) AS INT)) AS cl
  FROM t
),
pos AS (
  SELECT vec_id, scale_micro, cl, unnest(range(1, len(cl) + 1)) AS i FROM codes
)
SELECT vec_id, scale_micro, CAST(i - 1 AS INT) AS pos, cl[i] AS code FROM pos
"""

# Approximate/statistical ops — engine-specific sketch values, rows-only.
_APPROX_STATS = """
SELECT event_type,
       approx_count_distinct(user_id) AS approx_users,
       CAST(percentile_approx(value, 0.5) AS DOUBLE) AS p50_value,
       CAST(percentile_approx(value, 0.99) AS DOUBLE) AS p99_value
FROM events
GROUP BY event_type
"""

# Exact statistics — the oracle-checked twin of approx_stats: exact
# distinct count and exact interpolated quantiles (Spark percentile ==
# DuckDB quantile_cont; rounded once at the boundary).
_EXACT_STATS_TMPL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(round({p50}, 6) AS DOUBLE) AS p50_value,
       CAST(round({p99}, 6) AS DOUBLE) AS p99_value
FROM events
GROUP BY event_type
"""
_EXACT_STATS_SPARK = _EXACT_STATS_TMPL.format(
    p50="percentile(value, 0.5)", p99="percentile(value, 0.99)"
)
_EXACT_STATS_ORACLE = _EXACT_STATS_TMPL.format(
    p50="quantile_cont(value, 0.5)", p99="quantile_cont(value, 0.99)"
)

# Set ops: users active in the first half-year but not the second.
_SET_OPS = """
SELECT user_id FROM events WHERE ts <  TIMESTAMP '2024-07-01 00:00:00'
EXCEPT
SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-07-01 00:00:00'
"""

# Deterministic stratified sample: K docs per language, selected by ranking
# on md5(doc_id) — a seedless, engine-independent "random" order (both
# engines compute identical md5 hex), so the sampled set is reproducible
# across engines, runs, AND cluster sizes (no rand(), no partition-order
# dependence).  The per-group window is the standard distributed stratified
# sampler: one shuffle on the stratum key, no driver involvement; at 100 TB
# swap row_number for a per-stratum count + Bernoulli threshold if strata
# are huge (row_number sorts each stratum).
_STRATIFIED_SAMPLE = """
SELECT lang, doc_id
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
  FROM documents
) sampled
WHERE rn <= 20
"""

# Corpus phrase statistics: top word bigrams (boilerplate / template-phrase
# mining).  Explode is per-token and the count aggregates map-side, so the
# shuffle carries (distinct bigram, partial count) — at 100 TB this is the
# standard two-level frequency sketch; cap memory by pre-filtering with an
# approximate frequent-items pass if the bigram space explodes.
_TOP_BIGRAMS_SPARK = """
WITH toks AS (
  SELECT split(trim(text), '\\\\s+') AS w FROM documents
),
b AS (
  SELECT explode(transform(sequence(0, size(w) - 2),
                           i -> concat_ws(' ', w[i], w[i+1]))) AS bigram
  FROM toks WHERE size(w) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 100
"""
_TOP_BIGRAMS_ORACLE = """
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
b AS (
  SELECT unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM toks WHERE len(w) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 100
"""

# Salted two-stage aggregation: events has only a handful of event_type
# values, the canonical heavy-hitter skew shape — a direct groupBy sends
# each type's whole volume to one reducer.  Stage 1 groups by (type, salt)
# over 16 hash salts (uniform fan-out), stage 2 merges the 16 partials per
# type.  Results are identical to the plain aggregate (the DuckDB oracle),
# which is the point: salting is a physical rewrite.  (Spark's own
# map-side partial aggregation usually hides this for count/sum; the salted
# form is what survives when stage 1 is a high-cardinality state op —
# collect_set, percentile — where map-side combine can't crush the key.)
_SALTED_AGG_SPARK = """
WITH salted AS (
  SELECT event_type, pmod(xxhash64(event_id), 16) AS salt,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
partials AS (
  SELECT event_type, salt, count(*) AS n, sum(cents) AS c
  FROM salted GROUP BY event_type, salt
)
SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(c) AS BIGINT) AS value_cents
FROM partials GROUP BY event_type
ORDER BY event_type
"""
_SALTED_AGG_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
ORDER BY event_type
"""

# Semi-structured column: events.props is a JSON string; extract a typed
# field and aggregate.  Spark side uses get_json_object (JVM-side Jayway
# path eval — for repeated access at scale, from_json to a struct column
# once and prune); oracle uses DuckDB's json_extract_string.
_JSON_PROPS_SPARK = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""
_JSON_PROPS_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# INTERSECT twin: active in BOTH halves (the other set-op plan shape).
_SET_OPS_INTERSECT = """
SELECT user_id FROM events WHERE ts <  TIMESTAMP '2024-07-01 00:00:00'
INTERSECT
SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-07-01 00:00:00'
"""

# TPC-H Q13 shape: outer join with an ON-clause filter, then a distribution
# over the grouped counts (aggregate-of-aggregate; the outer join must keep
# order-less customers as count 0).
_CUST_ORDER_DIST = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) counted
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# TPC-H Q4 shape: correlated EXISTS against the fact table inside a windowed
# date range — Catalyst rewrites to a left-semi hash join.
_PRIORITY_WITH_LATE_ITEMS = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# PIVOT (wide conditional aggregation).  Spark's native PIVOT emits NULL for
# empty cells, so the outer SELECT coalesces to 0; the DuckDB oracle is the
# equivalent FILTERed aggregation (count(*) FILTER is already 0 on empty).
_ORDERS_PIVOT_SPARK = """
SELECT o_orderpriority,
       CAST(coalesce(o_cnt, 0) AS BIGINT) AS n_open,
       CAST(coalesce(f_cnt, 0) AS BIGINT) AS n_filled,
       CAST(coalesce(p_cnt, 0) AS BIGINT) AS n_partial
FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
PIVOT (count(*) FOR o_orderstatus IN ('O' AS o_cnt, 'F' AS f_cnt, 'P' AS p_cnt))
ORDER BY o_orderpriority
"""
_ORDERS_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_partial
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# Rollup (grouping-sets family) over document dimensions.
_DOCS_ROLLUP = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP(lang, source)
"""

# CUBE (all grouping sets over the two dimensions; ROLLUP's sibling).
_DOCS_CUBE = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY CUBE(lang, source)
"""

# Explicit GROUPING SETS (the general form ROLLUP/CUBE desugar to) — an
# asymmetric set selection neither ROLLUP nor CUBE can express: per-lang,
# per-(lang, source), and the grand total, but NOT per-source.
_DOCS_GROUPING_SETS = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((lang), (lang, source), ())
"""

# Running window aggregate per user (value scaled to exact integer cents).
_RUNNING_VALUE = """
SELECT user_id, event_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS running_value_cents
FROM events
"""

# Sessionization: 30-minute-gap sessions per user (lag + cumulative-sum
# window composition; the batch twin of the stateful streaming operator).
_SESSIONS_SPARK = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)
                      > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       unix_micros(CAST(min(ts) AS TIMESTAMP)) AS session_start_us,
       unix_micros(CAST(max(ts) AS TIMESTAMP)) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""
_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""

# The same sessionization via Spark's NATIVE session_window aggregate (no
# DuckDB analog — rows-only; pytest asserts row-set equality with the
# oracled lag+cumsum composition above, minus its synthetic session_id).
# Boundary semantics: session_window merges AT the gap (next.start <=
# prev.end, verified empirically on Spark 4.1), which equals the
# composition's strict '> gap' break rule — an event exactly 30 minutes
# after its predecessor stays in the session in BOTH queries; pinned by
# test_session_boundary_exactly_gap.
_SESSIONS_NATIVE = """
SELECT user_id,
       unix_micros(session_window.start) AS session_start_us,
       unix_micros(CAST(max(ts) AS TIMESTAMP)) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
GROUP BY user_id, session_window(ts, '30 minutes')
"""

# Hourly event-stream rollup (the batch shape of the streaming agg).
_EVENTS_HOURLY_SPARK = """
SELECT unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_us, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""
_EVENTS_HOURLY_ORACLE = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""

# ---------------------------------------------------------------------------
# Text-analysis ops over `documents` (training-data pipeline extensions)
# ---------------------------------------------------------------------------

# Token counting + exact document fingerprint (dedup key).
_TOKEN_COUNTS_SPARK = """
SELECT doc_id,
       CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       md5(text) AS fingerprint
FROM documents
"""
_TOKEN_COUNTS_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       md5(text) AS fingerprint
FROM documents
"""

_STOPWORDS = "('the','a','and','of','to','in','is','for','on','with')"

# Quality scoring: length/stopword/shape heuristics, integer-scaled.
_QUALITY_SPARK = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_q,
       CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens,
       CAST(size(filter(split(trim(text), '\\\\s+'), t -> t IN {_STOPWORDS})) AS BIGINT) AS n_stopwords,
       CAST(size(array_distinct(split(trim(text), '\\\\s+'))) AS BIGINT) AS n_unique_tokens
FROM documents
"""
_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_q,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN {_STOPWORDS})) AS BIGINT) AS n_stopwords,
       CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_unique_tokens
FROM documents
"""

# BPE-style subword pre-tokenization (GPT-2-shaped, RE2-safe: alternation
# only, no lookarounds, ASCII classes so Java-regex and RE2 agree byte-wise):
# contractions, letter runs, single digits, punctuation runs.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9\s']+"
# Spark SQL string literals process backslash escapes; DuckDB's don't but
# need embedded quotes doubled
_BPE_SPARK_LIT = '"' + _BPE_PATTERN.replace("\\", "\\\\") + '"'
_BPE_DUCK_LIT = "'" + _BPE_PATTERN.replace("'", "''") + "'"
_BPE_TOKENS_SPARK = f"""
SELECT doc_id,
       CAST(size(regexp_extract_all(text, {_BPE_SPARK_LIT}, 0)) AS BIGINT) AS n_bpe_tokens,
       CAST(size(array_distinct(regexp_extract_all(text, {_BPE_SPARK_LIT}, 0))) AS BIGINT) AS n_unique_bpe
FROM documents
"""
_BPE_TOKENS_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, {_BPE_DUCK_LIT})) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, {_BPE_DUCK_LIT}))) AS BIGINT) AS n_unique_bpe
FROM documents
"""

# Rolling-hash document fingerprints (winnowing-style bottom-k sketch):
# polynomial hash of every 8-char gram — per-term mod keeps the arithmetic
# inside BIGINT identically in both engines — then the 8 smallest distinct
# gram hashes per doc form the fingerprint.  Shared fingerprint rows across
# docs indicate shared content spans (the classic plagiarism/near-dup
# primitive).  Exploded-gram shuffle is ∝ total chars; at 100 TB the same
# expression runs as a projection + map-side partial min-k.
_POW131 = [pow(131, j, 2147483647) for j in range(8)]
_GRAM_HASH = " + ".join(
    f"(CAST(ascii(substr(text, p + {j}, 1)) AS BIGINT) * {_POW131[j]}) % 2147483647"
    for j in range(8)
)
# Spark side decodes the string into a codepoint array ONCE per doc —
# substr(text, p, 1) on UTF8String re-scans from the start (O(p) per call →
# O(n²) per doc, measured 16 s at sf0.1); element_at on the array is O(1)
# (1.3 s).  The oracle keeps the substr form (DuckDB, sf0.01 only) — the
# arithmetic is identical.
_GRAM_HASH_ARR = " + ".join(
    f"(cp[p + {j - 1}] * {_POW131[j]}) % 2147483647" for j in range(8)
)
_ROLLING_FP_SPARK = f"""
WITH chars AS (
  SELECT doc_id,
         transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS cp,
         length(text) AS n
  FROM documents WHERE length(text) >= 8
),
grams AS (
  SELECT doc_id, ({_GRAM_HASH_ARR}) % 2147483647 AS gram_hash
  FROM chars
  LATERAL VIEW explode(sequence(1, n - 7)) t AS p
),
-- single map-side-combined aggregation (collect_set partials merge per
-- task), then the bottom-8 slice — replaces a DISTINCT shuffle + a
-- row_number window sort over every gram
sketched AS (
  SELECT doc_id, slice(array_sort(collect_set(gram_hash)), 1, 8) AS fps
  FROM grams GROUP BY doc_id
)
SELECT doc_id, CAST(pos + 1 AS INT) AS fp_rank, CAST(fp AS BIGINT) AS fp
FROM sketched LATERAL VIEW posexplode(fps) t AS pos, fp
"""
_ROLLING_FP_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS p
  FROM documents WHERE length(text) >= 8
),
grams AS (
  SELECT doc_id, ({_GRAM_HASH}) % 2147483647 AS gram_hash FROM pos
),
ranked AS (
  SELECT DISTINCT doc_id, gram_hash FROM grams
)
SELECT doc_id, CAST(rank AS INT) AS fp_rank, CAST(gram_hash AS BIGINT) AS fp
FROM (
  SELECT doc_id, gram_hash,
         row_number() OVER (PARTITION BY doc_id ORDER BY gram_hash) AS rank
  FROM ranked
) t WHERE rank <= 8
"""

# PII scrubbing: emails, US-shaped phone numbers, IPv4 — RE2-safe patterns
# (no lookarounds/backrefs) so Java regex and RE2 replace identically;
# pure projection, embarrassingly parallel at any scale.
_PII_EMAIL = r"[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
def _spark_re_lit(pattern: str) -> str:
    # Spark SQL string literals process backslash escapes; double them
    return "'" + pattern.replace("\\", "\\\\") + "'"


_PII_SPARK = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         {_spark_re_lit(_PII_EMAIL)}, '<EMAIL>'),
         {_spark_re_lit(_PII_IPV4)}, '<IP>'),
         {_spark_re_lit(_PII_PHONE)}, '<PHONE>') AS scrubbed,
       CAST(size(regexp_extract_all(text, {_spark_re_lit(_PII_EMAIL)}, 0)) AS BIGINT) AS n_emails
FROM documents
"""
_PII_ORACLE = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_IPV4}', '<IP>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails
FROM documents
"""

# Dolma-style typed PII span ATTRIBUTES (engine/piispans.py): offsets over
# the original text, decoupled from the apply decision — the tagger/filter
# architecture of AI2's Dolma toolkit, vs pii_scrub's fused scrub.  One
# map-only Arrow pass; the cross-implementation gate pins Python-re spans
# + right-to-left masking ≡ pii_scrub's Java-regex sequential replace.
def pii_spans_df(docs: DataFrame) -> DataFrame:
    """The tagger pass over any (doc_id, text) frame (shared by the query
    and the crafted-corpus equivalence gate — the driver SF corpora carry
    no PII-shaped strings, so the cross-implementation test plants some)."""

    def tag(batches):
        import pandas as pd

        from extractor_spark.engine.piispans import pii_spans

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for kind, s, e, m in pii_spans(text or ""):
                    rows.append((int(doc_id), kind, s, e, m))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "kind", "span_start", "span_end", "matched"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        tag,
        schema="doc_id bigint, kind string, span_start bigint,"
        " span_end bigint, matched string",
    )


def _pii_span_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return pii_spans_df(spark.table("documents")).orderBy("doc_id", "span_start")


# Repetition-based quality signal (Gopher-style): fraction of lines that are
# duplicates within the document, scaled to integer per-mille for exactness.
_REPETITION_SPARK = """
WITH lines AS (
  SELECT doc_id, line
  FROM documents LATERAL VIEW explode(split(text, '\\n')) t AS line
  WHERE length(trim(line)) > 0
),
per_line AS (
  SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_lines,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dup_lines,
       CAST(round(1000.0 * (sum(c) - count(*)) / sum(c)) AS BIGINT) AS dup_permille
FROM per_line
GROUP BY doc_id
"""
_REPETITION_ORACLE = """
WITH lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
  FROM documents
),
nonempty AS (
  SELECT doc_id, line FROM lines WHERE length(trim(line)) > 0
),
per_line AS (
  SELECT doc_id, line, count(*) AS c FROM nonempty GROUP BY doc_id, line
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_lines,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dup_lines,
       CAST(round(1000.0 * (sum(c) - count(*)) / sum(c)) AS BIGINT) AS dup_permille
FROM per_line
GROUP BY doc_id
"""

# Exact-duplicate groups (hash-groupBy dedup / decontamination primitive):
# md5 the full text, keep groups of size > 1 with the canonical (min) id.
_EXACT_DUP_GROUPS = """
SELECT md5(text) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
FROM documents
GROUP BY md5(text)
HAVING count(*) > 1
"""

# TF-IDF top terms per document — the classic multi-stage text-relational
# pipeline: tokenize → per-(doc,term) TF → per-term DF → broadcast the tiny
# term-DF table back → score → top-3 per doc.  ln() is computed by both
# engines' libm; the score is rounded once at the output (same policy as
# cosine) and ties break on the term.
_TFIDF_SPARK = """
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM documents LATERAL VIEW explode(split(trim(lower(text)), '\\\\s+')) t AS tok
  WHERE length(tok) >= 3
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS DOUBLE) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf
FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 3
"""
_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
toks3 AS (SELECT doc_id, term FROM toks WHERE length(term) >= 3),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks3 GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks3 GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS DOUBLE) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf
FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) t WHERE rn <= 3
"""

# Benchmark decontamination: drop documents whose exact text fingerprint
# appears in a benchmark set (stand-in here: docs 0-9 play the benchmark).
# At 100 TB the benchmark fingerprint set is tiny — Catalyst broadcasts the
# build side, so this is a map-side anti-join, no data shuffle.
_DECONTAMINATE = """
SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars_kept
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents b
  WHERE b.doc_id < 10 AND md5(b.text) = md5(d.text)
)
"""

# Marker-word language ID heuristic (n-gram-lite; deterministic CASE).
_LANG_ID = """
SELECT doc_id,
       CASE
         WHEN concat(' ', lower(text), ' ') LIKE '% der %' OR concat(' ', lower(text), ' ') LIKE '% und %' THEN 'de'
         WHEN concat(' ', lower(text), ' ') LIKE '% le %'  OR concat(' ', lower(text), ' ') LIKE '% et %'  THEN 'fr'
         WHEN concat(' ', lower(text), ' ') LIKE '% el %'  OR concat(' ', lower(text), ' ') LIKE '% los %' THEN 'es'
         WHEN concat(' ', lower(text), ' ') LIKE '% the %' OR concat(' ', lower(text), ' ') LIKE '% and %' THEN 'en'
         ELSE 'unknown'
       END AS predicted_lang
FROM documents
"""

# Exact n-gram (3-shingle) Jaccard near-duplicate pairs — the oracle-checked
# ground truth that the MinHash-LSH scale path approximates.  Shingles with
# document frequency > 128 are excluded as features (standard stop-shingle
# cap): an uncapped hot shingle ("click here to" in k docs) contributes
# O(k²) rows to the pair self-join — the unbounded-skew straggler at 100×.
# The cap is a window over the already-distinct (doc, shingle) rows (no
# extra evaluation of the explode), applies identically in both dialects,
# and is far above the max observed DF at the driver SFs (9 at sf0.001,
# 7 at sf0.01 — pinned in tests/test_queries_oracle.py), so driver results
# are byte-identical to the uncapped form.  The PRODUCTION dedup path is
# the banded MinHash star-per-bucket funnel (curate.py), which never forms
# per-shingle pairs at all.
_JACCARD_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS w FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, sh.shingle
  FROM toks
  LATERAL VIEW explode(
    transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
  ) sh AS shingle
  WHERE size(w) >= 3
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           count(*) OVER (PARTITION BY shingle) AS df
    FROM sh0
  ) WHERE df <= 128
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.d1, p.d2
FROM pairs p
JOIN sizes s1 ON p.d1 = s1.doc_id
JOIN sizes s2 ON p.d2 = s2.doc_id
WHERE CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common) >= 0.8
"""
_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks WHERE len(w) >= 3
),
sh0 AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           count(*) OVER (PARTITION BY shingle) AS df
    FROM sh0
  ) WHERE df <= 128
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.d1, p.d2
FROM pairs p
JOIN sizes s1 ON p.d1 = s1.doc_id
JOIN sizes s2 ON p.d2 = s2.doc_id
WHERE CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common) >= 0.8
"""

# Near-duplicate CLUSTERS: connected components over the exact-Jaccard pair
# graph via iterative min-label propagation — the step a real dedup pipeline
# runs after candidate generation (pairs alone don't dedup; components +
# canonical pick do).  Spark side is a driver-coordinated Pregel-lite loop:
# each iteration is one shuffle (edges ⋈ labels, groupBy min), state is
# localCheckpoint'ed so the plan doesn't grow; iterations ∝ component
# diameter (near-dup clusters are band-induced quasi-cliques, so 2-4 in
# practice; at petabyte scale swap in alternating large/small-star for
# log-diameter convergence).  Oracle: DuckDB recursive CTE transitive
# closure + min.  Docs with no duplicate get their own id as cluster_id.
_DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE
pairs AS ({jaccard}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
),
reach(doc_id, rid) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.rid
)
SELECT doc_id, CAST(min(rid) AS BIGINT) AS cluster_id
FROM reach GROUP BY doc_id
""".format(jaccard=_JACCARD_ORACLE)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from extractor_spark.spark.graph import min_label_components

    _views(spark, sf_dir)
    pairs = spark.sql(_JACCARD_SPARK).selectExpr("d1 AS src", "d2 AS dst")
    labels = min_label_components(spark.table("documents"), pairs, "doc_id")
    return labels.select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


def _dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering, computed by alternating large/small-star
    (graph.star_components) — the O(log diameter) variant for corpora where
    near-dup chains are long (template families, paraphrase chains).
    Shares _DEDUP_CLUSTERS_ORACLE, so the driver hash-checks that both CC
    algorithms produce identical clusters."""
    from pyspark.sql import functions as F

    from extractor_spark.spark.graph import star_components

    _views(spark, sf_dir)
    pairs = spark.sql(_JACCARD_SPARK).selectExpr("d1 AS src", "d2 AS dst")
    labels = star_components(spark.table("documents"), pairs, "doc_id")
    return labels.select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


# Canonical-document selection per duplicate cluster — the decision step
# after candidates → verify → components: which copy SURVIVES dedup.
# Policy: keep the longest text (quality proxy used by several public
# pipelines; RefinedWeb keeps one arbitrary copy, Dolma keeps the first
# seen — longest is deterministic AND content-aware), tiebreak min doc_id.
# Output: one row per MULTI-member cluster.  Scale shape: the components
# are already computed (one lazy-checkpoint loop); the pick is one
# cluster-keyed top-1 window (partial+final WindowGroupLimit — top-1 per
# key leaves each map task, never the full membership).
_DUP_CANONICAL_PICK = """
WITH members AS (
  SELECT l.cluster_id, l.doc_id, length(d.text) AS n_chars
  FROM dup_labels l JOIN documents d ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM members
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(doc_id AS BIGINT) AS canonical_doc_id,
       CAST(n_chars AS BIGINT) AS canonical_chars
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY cluster_id
"""
_DUP_CANONICAL_ORACLE = """
WITH clusters AS ({clusters}),
members AS (
  SELECT l.cluster_id, l.doc_id, length(d.text) AS n_chars
  FROM clusters l JOIN documents d ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM members
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(doc_id AS BIGINT) AS canonical_doc_id,
       CAST(n_chars AS BIGINT) AS canonical_chars
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY cluster_id
""".format(clusters=_DEDUP_CLUSTERS_ORACLE)


def _dup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extractor_spark.spark.graph import star_components

    _views(spark, sf_dir)
    pairs = spark.sql(_JACCARD_SPARK).selectExpr("d1 AS src", "d2 AS dst")
    labels = star_components(spark.table("documents"), pairs, "doc_id")
    labels.createOrReplaceTempView("dup_labels")
    return spark.sql(_DUP_CANONICAL_PICK)


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------

# Brute-force cosine top-10 vs vec_id 0 — the ANN baseline.  Cosine rounded
# to 4dp (different builtins on the two sides), ranking tie-broken by vec_id.
_EMB_TOPK_SPARK = """
SELECT b.vec_id AS vec_id,
       CAST(round(
         aggregate(zip_with(a.embedding, b.embedding,
                            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                   0D, (acc, v) -> acc + v)
         / (sqrt(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            * sqrt(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       , 4) AS DOUBLE) AS cos_sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id = 0 AND b.vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""
_EMB_TOPK_ORACLE = """
SELECT b.vec_id AS vec_id,
       CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 4) AS DOUBLE) AS cos_sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id = 0 AND b.vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""

# kNN JOIN: top-3 cosine neighbors for EACH of a batch of query vectors —
# the similarity-search primitive as a join, not a single-probe lookup.  The
# query side (vec_id < 5) is tiny, so Catalyst broadcasts it and the scan of
# the candidate side streams once (BroadcastNestedLoopJoin); ranking is on
# the ROUNDED score in both engines so ordering is cross-engine identical.
# At 100 TB the brute-force candidate side is replaced by the IVF cell
# restriction (ivf_topk) — this is its exactness oracle.
_KNN_JOIN_SPARK = """
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(round(
           aggregate(zip_with(a.embedding, b.embedding,
                              (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                     0D, (acc, v) -> acc + v)
           / (sqrt(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
              * sqrt(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         , 4) AS DOUBLE) AS cos_sim
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 5
)
SELECT query_id, neighbor_id, cos_sim
FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
) ranked
WHERE rn <= 3
"""
_KNN_JOIN_ORACLE = """
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4) AS DOUBLE) AS cos_sim
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 5
)
SELECT query_id, neighbor_id, cos_sim
FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
) ranked
WHERE rn <= 3
"""

# ---------------------------------------------------------------------------
# Scale-path approximations (rows-only: no SQL oracle by construction)
# ---------------------------------------------------------------------------

# MinHash (64 perms): shingles are exploded + re-collected so the signature
# fold runs over a *materialized* array (Catalyst would otherwise inline the
# shingle-construction expression into all 64 permutation lambdas).  The
# explode→partial-agg shape is the standard distributed MinHash: map-side
# combine keeps the shuffle proportional to distinct (doc, shingle).  This
# is the exploded form of MinHash-LSH; the array form, which wins at curate
# scale, is curate.py's shingle_sets / minhash_bands.  The band CTEs are
# shared by the LSH candidates and meta-blocking's weighted block edges.
_MINHASH_BANDS_CTE = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, sh.shingle
  FROM toks
  LATERAL VIEW explode(
    transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
  ) sh AS shingle
  WHERE size(w) >= 3
),
seeded AS (
  -- codegen'd projection + map-side-combined min: shuffle is 64 rows/doc
  SELECT doc_id, s.seed, min(xxhash64(shingle, s.seed)) AS mh
  FROM sh LATERAL VIEW posexplode(sequence(0, 63)) s AS seed, sval
  GROUP BY doc_id, s.seed
),
sigs AS (
  SELECT doc_id,
         transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh) AS sig
  FROM seeded GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.pos AS band_idx,
         xxhash64(sig[b.pos * 4], sig[b.pos * 4 + 1], sig[b.pos * 4 + 2], sig[b.pos * 4 + 3]) AS band_hash
  FROM sigs
  LATERAL VIEW posexplode(sequence(0, 15)) b AS pos, val
)
"""

_MINHASH_CANDIDATES = _MINHASH_BANDS_CTE + """\
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

# SimHash 64-bit fingerprints via bit-counting fold (near-dup = small
# Hamming distance; the bit arithmetic is Spark-side only).
_SIMHASH = """
WITH exploded AS (
  SELECT doc_id, xxhash64(tok) AS h
  FROM documents LATERAL VIEW explode(split(trim(text), '\\\\s+')) t AS tok
),
bit_votes AS (
  -- codegen'd bit extraction + map-side-combined sum: 64 rows per doc
  SELECT doc_id, b.bit,
         sum(CASE WHEN (shiftright(h, b.bit) & 1) = 1 THEN 1L ELSE -1L END) AS vote
  FROM exploded LATERAL VIEW posexplode(sequence(0, 63)) b AS bit, bval
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       sum(CASE WHEN vote > 0 THEN shiftleft(1L, bit) ELSE 0L END) AS simhash64
FROM bit_votes
GROUP BY doc_id
"""

# SimHash near-duplicate candidate pairs.  The 64-bit fingerprint is split
# into 8 bands of 8 bits; a pair collides when any band matches, which by
# pigeonhole catches EVERY pair with Hamming distance <= 7 (8 differing bits
# cannot hit all 8 bands) — the banded join is therefore an exact index for
# the final bit_count(xor) <= 7 predicate, not an approximation.  Shuffle is
# 8 rows/doc; bucket fan-in is 256 buckets/band, so the self-join stays
# sub-quadratic whenever docs spread over signatures (true for real corpora;
# identical boilerplate templates collapse into one bucket, which is the
# correct behavior for dedup).  Rows-only: DuckDB has no seeded xxhash64;
# recall vs the oracled ngram_jaccard_pairs is pytest-gated
# (tests/test_queries_oracle.py).
_SIMHASH_PAIRS = """
WITH exploded AS (
  SELECT doc_id, xxhash64(tok) AS h
  FROM documents LATERAL VIEW explode(split(trim(text), '\\\\s+')) t AS tok
),
bit_votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (shiftright(h, b.bit) & 1) = 1 THEN 1L ELSE -1L END) AS vote
  FROM exploded LATERAL VIEW posexplode(sequence(0, 63)) b AS bit, bval
  GROUP BY doc_id, b.bit
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN shiftleft(1L, bit) ELSE 0L END) AS h
  FROM bit_votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, h, b.pos AS band_idx,
         shiftright(h, b.pos * 8) & 255 AS band_val
  FROM fp LATERAL VIEW posexplode(sequence(0, 7)) b AS pos, pval
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, a.h AS h1, b.doc_id AS d2, b.h AS h2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(h1 ^ h2) AS INT) AS hamming
FROM cand
WHERE bit_count(h1 ^ h2) <= 7
"""

# Random-hyperplane LSH over embeddings: 16-bit signatures from xxhash64-
# seeded pseudo-random planes; bucket histogram (ANN scale path).
_LSH_COSINE_BUCKETS = """
WITH sigs AS (
  SELECT vec_id,
         aggregate(
           sequence(0, 15),
           0L,
           (acc, p) -> acc + shiftleft(
             CASE WHEN aggregate(
                    zip_with(embedding,
                             transform(sequence(0, size(embedding) - 1),
                                       i -> CAST(pmod(xxhash64(p, i), 2001) AS DOUBLE) / 1000.0 - 1.0),
                             (x, r) -> CAST(x AS DOUBLE) * r),
                    0D, (a2, v) -> a2 + v) > 0
                  THEN 1L ELSE 0L END, p)
         ) AS lsh_bucket
  FROM embeddings
)
SELECT lsh_bucket, CAST(count(*) AS BIGINT) AS n_vectors
FROM sigs GROUP BY lsh_bucket
"""


# Banded random-hyperplane LSH candidate pairs with exact in-bucket verify —
# the ANN scale path whose exact twin is the oracled embedding_cosine_dups.
#
# Shape (the plan that survives 100×): one mapInPandas pass computes all
# band signatures per vector with a single numpy GEMM (Arrow-batched — no
# per-row Python), emitting B base rows + B·b Hamming-1 probe rows per
# vector; a band-keyed self-join (base side vs base+probe side) yields
# candidates, and an exact JVM-side cosine (aggregate/zip_with, codegen'd)
# keeps only true pairs, so precision is 1.0 by construction and only recall
# is probabilistic.  Shuffle is B(1+b) small rows/vector; candidate volume
# per band is sum(bucket²)/2 — sub-quadratic whenever signatures spread.
#
# Parameter note (recall = 1-(1-p^r)^b for b bands of r bits, bit-agreement
# p = 1 - arccos(cos_sim)/π): the oracle twin uses threshold 0.45, a WEAK
# similarity (p ≈ 0.65), so the default regime is OR-heavy — 24 bands × 8
# bits + Hamming-1 multi-probe — to hold recall ≥ 0.9 there.  The
# production near-dup regime (cos ≥ 0.8, p ≈ 0.795) keeps recall ≥ 0.95
# with 64 bands × 16 bits and NO probe (p^16 ≈ 0.026 at the 0.8 boundary,
# ≈ 0.08 at 0.9), while 16-bit signatures shrink chance collisions to
# 2^-16/band — sub-second candidate generation at sf0.1 and sub-quadratic
# volume as n grows.  At 10^9+ vectors, widen bands further (24-32 bits)
# and add more bands or probing to keep per-bucket sizes O(1).
_LSH_SEED = 0x5EED2024
_LSH_N_BANDS = 24
_LSH_BAND_BITS = 8
_LSH_VERIFY_THRESHOLD = 0.45
# production / strong-similarity regime
_LSH_STRONG_N_BANDS = 64
_LSH_STRONG_BAND_BITS = 16
_LSH_STRONG_THRESHOLD = 0.8

_LSH_PAIRS_VERIFY_TMPL = """
WITH base AS (
  SELECT vec_id, band_idx, band_sig FROM {sig_view} WHERE probe = 0
),
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM base a JOIN {sig_view} b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.vec_id < b.vec_id
),
{emb_n_cte}
SELECT c.v1, c.v2
FROM cand c
JOIN emb_n e1 ON c.v1 = e1.vec_id
JOIN emb_n e2 ON c.v2 = e2.vec_id
WHERE aggregate(zip_with(e1.u, e2.u, (x, y) -> x * y),
                0D, (acc, v) -> acc + v)
      >= {threshold}
"""
# The verify pre-normalizes each embedding ONCE per scanned row (emb_n in
# the template below): cosine(v1, v2) = dot(u1, u2) with u = v/|v|, so the
# per-PAIR work drops from three interpreted higher-order aggregates
# (dot + both norms — norms recomputed for every pair a vector appears in)
# to one.  Higher-order functions are not whole-stage-codegen'd, so at
# |cand| >> |vectors| this is the candidate-verify bottleneck; measured
# 6.5 -> 2.3 s on the weak regime at sf0.1.  nullif keeps a zero vector a
# non-match (NULL dot) instead of an ANSI divide-by-zero error.
_LSH_EMB_N_CTE = """
emb_n AS (
  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE) / nullif(nrm, 0D)) AS u
  FROM (
    SELECT vec_id, embedding,
           sqrt(aggregate(embedding, 0D,
                          (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
    FROM {view}
  )
)"""


def release_query_caches() -> None:
    """Retire persisted intermediates left behind by lazy-returning queries
    (LSH signature cache, connected-components label checkpoints).  Caller
    contract: queries that return a DataFrame backed by a persisted
    intermediate cannot unpersist it themselves (the result is lazy) —
    consumers call this after collecting.  Each producer also retires its
    predecessor's cache on re-invocation, so the live set stays bounded;
    tests and bench.py call this at teardown and assert nothing stays
    pinned in executor memory."""
    caches.retire_all()


def hyperplane_lsh_pairs(
    spark: SparkSession,
    *,
    view: str = "embeddings",
    n_bands: int,
    band_bits: int,
    probe: bool,
    threshold: float,
    sig_view: str = "lsh_sigs",
    seed: int = _LSH_SEED,
) -> DataFrame:
    """Parameterized hyperplane-LSH candidate generation + exact verify
    over ``view`` (vec_id, embedding).  See the block comment above for the
    (n_bands, band_bits, probe, threshold) recall trade; ``probe`` adds
    Hamming-1 multi-probe rows (band_bits extra rows per band per vector)
    for weak-similarity regimes."""
    # release the previous invocation's cache (the returned DF is lazy, so
    # unpersisting inside this call would defeat the self-join reuse;
    # instead each call retires its predecessor)
    release_query_caches()

    def signatures(batches):
        import numpy as np
        import pandas as pd

        planes = None
        weights = (np.int64(1) << np.arange(band_bits, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if planes is None:
                # deterministic planes: every task derives the same matrix
                planes = np.random.default_rng(seed).standard_normal(
                    (n_bands * band_bits, X.shape[1])
                )
            bits = (X @ planes.T) > 0.0
            sigs = bits.reshape(len(X), n_bands, band_bits) @ weights  # (n, B)
            vec_ids = pdf["vec_id"].to_numpy()
            n = len(X)
            base_vid = np.repeat(vec_ids, n_bands)
            base_band = np.tile(np.arange(n_bands, dtype=np.int32), n)
            base_sig = sigs.reshape(-1)
            if probe:
                # Hamming-1 multi-probe: one flipped-bit signature per bit
                probe_sig = (base_sig[:, None] ^ weights[None, :]).reshape(-1)
                vid = np.concatenate([base_vid, np.repeat(base_vid, band_bits)])
                band = np.concatenate([base_band, np.repeat(base_band, band_bits)])
                sig = np.concatenate([base_sig, probe_sig])
                pr = np.concatenate(
                    [
                        np.zeros(n * n_bands, dtype=np.int32),
                        np.ones(n * n_bands * band_bits, dtype=np.int32),
                    ]
                )
            else:
                vid, band, sig = base_vid, base_band, base_sig
                pr = np.zeros(n * n_bands, dtype=np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": vid.astype(np.int64),
                    "band_idx": band.astype(np.int32),
                    "band_sig": sig.astype(np.int64),
                    "probe": pr,
                }
            )

    sigs = spark.table(view).select("vec_id", "embedding").mapInPandas(
        signatures, schema="vec_id bigint, band_idx int, band_sig bigint, probe int"
    ).persist()  # referenced by BOTH sides of the band self-join — one
    # signature computation, not two (plan-audited: single MapInPandas)
    caches.register(sigs)
    sigs.createOrReplaceTempView(sig_view)
    return spark.sql(
        _LSH_PAIRS_VERIFY_TMPL.format(
            view=view,
            sig_view=sig_view,
            threshold=threshold,
            emb_n_cte=_LSH_EMB_N_CTE.format(view=view),
        )
    )


def _murmur3_32(data: bytes, seed: int) -> int:
    """Murmur3_x86_32 over bytes, bit-identical to Spark's
    ``Murmur3_x86_32.hashUnsafeBytes`` (the algorithm behind SQL ``hash()``
    and the string path of CountMinSketch): little-endian 4-byte words,
    SIGNED-byte tail mixing, returns a signed 32-bit int.  Pinned against
    Spark's own ``hash()`` in tests/test_queries_oracle.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h1 = seed & 0xFFFFFFFF
    length = len(data)
    aligned = length - length % 4
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    for i in range(aligned, length):
        b = data[i]
        if b >= 128:  # Java bytes are signed; sign-extend before mixK1
            b -= 256
        k1 = (b * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _cms_estimate(sketch: bytes, item: str) -> int:
    """Estimate an item's count from a serialized Spark CountMinSketch
    (format: version int, totalCount long, depth int, width int, hashA
    longs, depth×width table longs — all big-endian; the open Apache
    layout).  String items use the double-murmur bucket schedule."""
    import struct

    version, total, depth, width = struct.unpack(">iqii", sketch[:20])
    if version != 1:
        raise ValueError(f"unsupported CountMinSketch version {version}")
    table_off = 20 + depth * 8  # skip hashA (long-item path, unused here)
    data = item.encode("utf-8")
    hash1 = _murmur3_32(data, 0)
    hash2 = _murmur3_32(data, hash1)
    est = None
    for i in range(depth):
        combined = (hash1 + i * hash2) & 0xFFFFFFFF
        if combined >= 1 << 31:
            # Java int overflow then Math.abs (empirically pinned against
            # Spark-built sketches: negation, not bit-flip)
            combined = (1 << 32) - combined
        bucket = combined % width
        (cell,) = struct.unpack_from(">q", sketch, table_off + (i * width + bucket) * 8)
        est = cell if est is None else min(est, cell)
    return int(est)


def _heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters via a mergeable count-min sketch.

    Scale shape: exact corpus term frequencies at 100 TB shuffle every
    token; ``count_min_sketch`` aggregates a fixed depth×width table
    per partition map-side and ships ONE sketch per partition to the
    merge — shuffle volume is O(partitions × sketch bytes), independent
    of corpus size.  The estimates come out of the merged sketch
    driver-side through the Spark-bit-identical murmur path above.

    Output: the exact top-20 words with exact and estimated counts (the
    exact side is the verification twin; production would probe the
    sketch alone).  Gates (tests/test_queries_oracle.py): est ≥ exact
    (CMS never undercounts), est ≤ exact + eps·total, determinism (fixed
    seed).  Rows-only: sketch state is not SQL-expressible.
    """
    from pyspark.sql import functions as F  # noqa: F401 (parity with siblings)

    _views(spark, sf_dir)
    words = spark.sql(
        "SELECT explode(split(trim(lower(text)), '\\\\s+')) AS w "
        "FROM documents WHERE length(trim(text)) > 0"
    ).persist()  # feeds both the sketch pass and the exact-top-20 pass:
    # unpersisted it would re-run the full scan+split+explode twice
    # (CLAUDE.md: inline CTE re-evaluation).  Both passes materialize
    # INSIDE this function, so the cache is released before returning
    # (ADVICE r3) rather than deferred to release_query_caches.
    words.createOrReplaceTempView("_hh_words")
    sk_hex, total = spark.sql(
        "SELECT hex(count_min_sketch(w, 0.0005d, 0.99d, 42)) AS s, "
        "CAST(count(*) AS BIGINT) AS n FROM _hh_words"
    ).first()
    sketch = bytes.fromhex(sk_hex)
    top = spark.sql(
        "SELECT w, CAST(count(*) AS BIGINT) AS c FROM _hh_words "
        "GROUP BY w ORDER BY c DESC, w LIMIT 20"
    ).collect()
    words.unpersist()  # fully consumed by the two collects above
    rows = [
        (r.w, r.c, _cms_estimate(sketch, r.w), int(total)) for r in top
    ]
    return spark.createDataFrame(
        rows, "word string, exact_count bigint, est_count bigint, total_words bigint"
    )


_BLOOM_BC_PREV = None  # predecessor broadcast, retired on re-invocation


def _bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the constant-size-broadcast variant of
    ``decontaminate_docs`` (which broadcasts the exact fingerprint set).

    Scale shape: with a contamination set of millions of benchmark documents
    at 100 TB, the exact anti-join broadcasts O(set-bytes); a Bloom filter
    is ~2 bits-per-item × k seeds of fixed width regardless of fingerprint
    size, and the probe stays map-side (zero shuffle over the corpus).
    Hashing runs JVM-side on BOTH sides — ``xxhash64(lit(seed), text)`` —
    so Python never re-implements the hash.  The build side is fully
    distributive (round 4, closes the r3 driver-side-collect finding):
    positions fold map-side into 64-bit words via ``bit_or`` partial
    aggregation, so the driver receives at most ``n_bits/64`` (widx, bits)
    rows — 16,384 here — regardless of contamination-set size; a
    multi-million-item set never ships k rows/doc to the driver.  The
    probe side computes the same positions and a vectorized Arrow batch
    ANDs them against the broadcast bitmap.

    Bloom semantics: no false negatives (every exactly-contaminated doc is
    dropped — guaranteed, gated in tests), bounded false positives (extra
    clean docs dropped; rate gated).  Rows-only: not SQL-expressible.
    """
    import numpy as np
    from pyspark.sql import functions as F

    from .arrow_udfs import bloom_probe_udf

    _views(spark, sf_dir)
    n_bits = 1 << 20  # bit-packed: 128 KiB broadcast; FP ≈ (1-e^(-k·n/m))^k
    k = 5

    docs = spark.table("documents")

    def pos_cols():
        return [
            F.pmod(F.xxhash64(F.lit(i), F.col("text")), F.lit(n_bits)).alias(
                f"_bp{i}"
            )
            for i in range(k)
        ]

    # Distributed build: explode k positions/doc, fold into 64-bit words
    # with map-side-combined bit_or.  Shuffle + collect volume is bounded
    # by the bitmap's word count (occupied words only), never by set size.
    word_rows = (
        docs.filter(F.col("doc_id") < 10)
        .select(F.explode(F.array(*pos_cols())).alias("pos"))
        .select(
            F.shiftright("pos", 6).cast("int").alias("widx"),
            # shiftleft needs expr(): the pyspark wrapper only takes a
            # literal shift amount, not a Column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(n_bits >> 3, dtype=np.uint8)  # packed: 1 bit/position
    for r in word_rows:
        # LSB-first byte packing within each 64-bit word (endian-explicit:
        # matches the probe's bitmap[pos>>3] >> (pos&7) addressing)
        bitmap[r.widx * 8 : r.widx * 8 + 8] |= np.frombuffer(
            (r.bits & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little"), dtype=np.uint8
        )
    bc = spark.sparkContext.broadcast(bitmap)
    # retire the previous invocation's broadcast (like the LSH producers),
    # and register for consumer-side release_query_caches teardown
    global _BLOOM_BC_PREV
    if _BLOOM_BC_PREV is not None:
        try:
            _BLOOM_BC_PREV.unpersist()
        except Exception:
            pass
    _BLOOM_BC_PREV = bc
    caches.register(bc)

    might_contain = bloom_probe_udf(bc)

    probed = docs.select("doc_id", "text", *pos_cols()).withColumn(
        "_maybe", might_contain(*[F.col(f"_bp{i}") for i in range(k)])
    )
    # no orderBy: the probe is scan → project → filter, a single map-only
    # stage with zero exchanges (the point of the bloom vs the anti-join)
    return probed.filter(~F.col("_maybe")).select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars_kept")
    )


def _lsh_cosine_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-similarity regime (the 0.45-threshold oracle-twin test regime):
    OR-heavy banding + multi-probe to hold recall at p ≈ 0.65."""
    _views(spark, sf_dir)
    return hyperplane_lsh_pairs(
        spark,
        n_bands=_LSH_N_BANDS,
        band_bits=_LSH_BAND_BITS,
        probe=True,
        threshold=_LSH_VERIFY_THRESHOLD,
    )


def _lsh_cosine_pairs_strong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup regime (cos >= 0.8): 64 bands x 16 bits, no
    probe — recall >= 0.95 at the regime's similarities with 2^-16/band
    chance collisions and a quarter of the weak regime's shuffle rows.
    Recall-gated in pytest against an exact 0.8-threshold twin on planted
    near-duplicates (the driver corpus has no cos >= 0.8 pairs)."""
    _views(spark, sf_dir)
    return hyperplane_lsh_pairs(
        spark,
        n_bands=_LSH_STRONG_N_BANDS,
        band_bits=_LSH_STRONG_BAND_BITS,
        probe=False,
        threshold=_LSH_STRONG_THRESHOLD,
        sig_view="lsh_sigs_strong",
    )


# Embedding-cosine near-duplicate pairs (dedup family, exact baseline for
# the hyperplane-LSH bucket path).  O(n²) dot products stay JVM-side.
_EMB_COSINE_DUPS_SPARK = """
SELECT a.vec_id AS v1, b.vec_id AS v2
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE aggregate(zip_with(a.embedding, b.embedding,
                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                0D, (acc, v) -> acc + v)
      / (sqrt(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
         * sqrt(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      >= 0.45
"""
_EMB_COSINE_DUPS_ORACLE = """
SELECT a.vec_id AS v1, b.vec_id AS v2
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.45
"""

# IVF approximate nearest neighbour: a coarse quantizer trained with
# distributed Lloyd k-means (assignment = one numpy GEMM per Arrow batch;
# partial per-cell sums combined map-side, so each iteration shuffles only
# n_cells rows per batch, never vectors), then top-k search probes the
# query's nprobe nearest cells and runs exact cosine inside them.  Driver
# state is just the k×d centroid matrix.  At 100 TB: train on a sample,
# store (vec_id, cell) bucketed by cell, and a query touches nprobe cells'
# partitions only — candidate volume ∝ nprobe/k of the data.  Rows-only;
# recall-gated in pytest against the oracled exact twin (embedding_topk).
_IVF_SEED = 0x1FF2024
_IVF_K = 16
_IVF_NPROBE = 8
_IVF_ITERS = 5
# Lloyd training runs on a seeded sample of the corpus (k-means centroids
# stabilize long before the sample does — at 100 TB you'd also cap the
# absolute sample count, e.g. 256×k vectors, and ship it to one executor).
# 0.7 here keeps the tiny test corpus's recall gate meaningful (measured
# recall 0.9 on the isotropic worst-case embeddings, seeded/deterministic).
_IVF_TRAIN_FRACTION = 0.7


def _ivf_centroids(spark: SparkSession) -> "object":
    # Shared distributed-Lloyd trainer (spark/ivf.py — also the builder of
    # the cell-partitioned on-disk index, the 100 TB serving shape; this
    # in-session query is the recall-gated algorithm demo).  Training runs
    # on a persisted seeded sample: ONE full-table scan materializes the
    # training set, the _IVF_ITERS Lloyd iterations then hit the cache —
    # the round-2 loop re-read the parquet every iteration.
    from extractor_spark.spark.ivf import train_centroids

    return train_centroids(
        spark.table("embeddings"),
        k=_IVF_K,
        iters=_IVF_ITERS,
        seed=_IVF_SEED,
        train_fraction=_IVF_TRAIN_FRACTION,
    )


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from extractor_spark.spark.ivf import assign_cells

    _views(spark, sf_dir)
    centroids = _ivf_centroids(spark)

    query = spark.sql("SELECT embedding FROM embeddings WHERE vec_id = 0").first()
    q = np.asarray(query["embedding"], dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probe_cells = np.argsort(-(centroids @ qn))[:_IVF_NPROBE].tolist()

    cells = assign_cells(spark.table("embeddings"), centroids)
    cells.createOrReplaceTempView("ivf_cells")
    q_lit = "array(" + ", ".join(f"{v}D" for v in q.tolist()) + ")"
    return spark.sql(f"""
        SELECT e.vec_id AS vec_id,
               CAST(round(
                 aggregate(zip_with(e.embedding, {q_lit},
                                    (x, y) -> CAST(x AS DOUBLE) * y),
                           0D, (acc, v) -> acc + v)
                 / (sqrt(aggregate(e.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
                    * sqrt(aggregate({q_lit}, 0D, (acc, v) -> acc + v * v)))
               , 4) AS DOUBLE) AS cos_sim
        FROM embeddings e JOIN ivf_cells c ON e.vec_id = c.vec_id
        WHERE c.cell IN ({", ".join(str(p) for p in probe_cells)}) AND e.vec_id <> 0
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """)


# Vectorized UDAF (pandas GROUPED_AGG): per-language mean embedding.
# Arrow moves each group's vectors into one numpy stack; the aggregation is
# a single np.mean.  Oracle: DuckDB per-dimension avg via unnest WITH
# ORDINALITY (values rounded once at the boundary, like cosine).
# SemDeDup-shaped semantic dedup (Abbas et al. 2023, public): embeddings
# are blocked by the IVF coarse quantizer's cells, exact cosine runs only
# WITHIN each cell (the self-join key is the cell id, so candidate volume
# is ∑ cell² instead of n² — the quantizer is the LSH-analog blocking
# structure for dense vectors), near-dups (cos ≥ threshold) are clustered
# by connected components, and each cluster keeps its min vec_id as the
# canonical representative.  Output: (vec_id, cluster_id, kept).  Rows-only
# (k-means cells are not SQL-expressible); pytest gates soundness — every
# removed vector is within threshold of a kept one — and cross-checks
# in-cell near-dup pairs against the oracled exact embedding_cosine_dups.
_SEMDEDUP_THRESHOLD = 0.45  # the corpus's near-dup regime (isotropic test
# embeddings have no 0.9-cosine pairs; production uses 0.9+)
# Executable spec for the in-cell near-dup pairs; the production path
# (_semdedup_pairs_frame) runs the same candidate joins but verifies the
# cosine in a numpy mapInPandas pass with an identical FP operation
# sequence (the bitext pattern) — bit-equality pinned by
# tests/test_retrieval.py::test_semdedup_pairs_arrow_matches_sql.
_SEMDEDUP_PAIRS = """
SELECT a.vec_id AS src, b.vec_id AS dst
FROM embeddings a
JOIN ivf_cells ca ON ca.vec_id = a.vec_id
JOIN ivf_cells cb ON cb.cell = ca.cell
JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
WHERE aggregate(zip_with(a.embedding, b.embedding,
                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                0D, (acc, v) -> acc + v)
      / (sqrt(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
         * sqrt(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      >= {threshold}
"""

_SEMDEDUP_CAND = """
SELECT a.vec_id AS src, b.vec_id AS dst, a.embedding AS ea, b.embedding AS eb
FROM embeddings a
JOIN ivf_cells ca ON ca.vec_id = a.vec_id
JOIN ivf_cells cb ON cb.cell = ca.cell
JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
"""


def _semdedup_pairs_frame(spark: SparkSession, threshold: float) -> DataFrame:
    """In-cell near-dup pairs — same candidate joins as the spec SQL, but
    the per-pair cosine threshold runs vectorized in Python: the three
    interpreted higher-order aggregates re-ran both endpoint norms per
    PAIR.  FP fidelity mirrors _bitext_scored_frame: exact float->double
    widening, sequential fold over dims (mul then add, the JVM's two-op
    sequence), denominator = sqrt(na2)*sqrt(nb2) then one division —
    bit-identical, so the >= compare admits exactly the same pairs."""

    def verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            am = np.array(pdf["ea"].to_list(), dtype=np.float64)
            bm = np.array(pdf["eb"].to_list(), dtype=np.float64)
            dot = np.zeros(len(am), dtype=np.float64)
            na2 = np.zeros(len(am), dtype=np.float64)
            nb2 = np.zeros(len(am), dtype=np.float64)
            for k in range(am.shape[1]):
                ca, cb = am[:, k], bm[:, k]
                dot += ca * cb
                na2 += ca * ca
                nb2 += cb * cb
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dot / (np.sqrt(na2) * np.sqrt(nb2))
            keep = c >= threshold
            yield pd.DataFrame(
                {"src": pdf["src"][keep], "dst": pdf["dst"][keep]}
            )

    return spark.sql(_SEMDEDUP_CAND).mapInPandas(
        verify, schema="src bigint, dst bigint"
    )


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from extractor_spark.spark.graph import min_label_components
    from extractor_spark.spark.ivf import assign_cells

    _views(spark, sf_dir)
    centroids = _ivf_centroids(spark)
    cells, h = caches.local_checkpoint(
        assign_cells(spark.table("embeddings"), centroids)
    )
    cells.createOrReplaceTempView("ivf_cells")
    caches.register(h)

    pairs = _semdedup_pairs_frame(spark, _SEMDEDUP_THRESHOLD)
    labels = min_label_components(spark.table("embeddings"), pairs, "vec_id")
    return labels.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("vec_id") == F.col("cluster_id")).alias("kept"),
    )


# D4-style SSL-prototypes pruning (Tirumala et al. 2023, "D4: Improving
# LLM Pretraining via Document De-Duplication and Diversification" —
# public): after SemDeDup removes near-duplicates, D4 drops the most
# PROTOTYPICAL examples per k-means cluster (the points closest to their
# own centroid carry the least marginal information; the diverse tail is
# kept).  Here: assign every embedding to its IVF cell and compute the
# cosine to its OWN centroid in ONE Arrow pass (integer-micro fixed point
# so the numpy twin is exact), then drop the top ceil(25%) per cell by
# (cos desc, vec_id asc).  Output keeps every row with a `kept` flag.
#
# Scale shape: one map-only scoring pass + one cell-keyed window sort.
# Over the cell-partitioned IVF index (spark/ivf.py build_index) the sort
# is partition-local — no shuffle at all; here cells are a temp column so
# it costs the one Exchange.  Driver state is the k×d centroid matrix.
_D4_PRUNE_FRACTION = 0.25
_D4_PRUNE_SQL = """
WITH ranked AS (
  SELECT vec_id, cell, cos_micro,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY cos_micro DESC, vec_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cell) AS n_cell
  FROM d4_scored
)
SELECT vec_id, cell, cos_micro,
       CAST(n_cell AS BIGINT) AS n_cell,
       rn > CAST(ceil(n_cell * {frac}) AS BIGINT) AS kept
FROM ranked
ORDER BY vec_id
"""


# Incremental MinHash dedup (spark/incdedup.py): the documents table
# replayed as 3 arrival batches (doc_id % 3) against a fresh persisted
# band index — each batch probes the index built from strictly earlier
# batches, then appends itself.  The per-query store is a temp dir; the
# result is localCheckpoint'ed so the dir can be removed eagerly.
def _incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from extractor_spark.spark.incdedup import dedup_batch

    _views(spark, sf_dir)
    docs = spark.sql(
        "SELECT CAST(doc_id AS STRING) AS url, text, pmod(doc_id, 3) AS b"
        " FROM documents"
    )
    work = tempfile.mkdtemp(prefix="incdedup_q_")
    try:
        sc = spark.sparkContext
        outs, batch_handles = [], []
        # r6: the probe/verify shuffles inside each batch are sized by the
        # batch, not the core count (tuning.py); verdicts are min/compare
        # exact, so width cannot change results.
        from .tuning import loop_partitions, scoped_loop_conf

        n_parts = loop_partitions(sc, spark.table("documents").count())
        with scoped_loop_conf(spark, n_parts):
            for b in range(3):
                batch = docs.filter(F.col("b") == b).select("url", "text")
                v, h = dedup_batch(spark, work, batch, batch_id=b)
                outs.append(v.withColumn("batch_idx", F.lit(b)))
                batch_handles.append(h)
        res = outs[0].unionByName(outs[1]).unionByName(outs[2]).select(
            F.col("url").cast("long").alias("doc_id"),
            F.col("batch_idx").cast("int").alias("batch_idx"),
            "is_dup",
            F.col("dup_of").cast("long").alias("dup_of_doc"),
        )
        out, out_handle = caches.local_checkpoint(res, eager=True)
        # the per-batch verdict checkpoints are dead once `out` is
        # materialized — release their JVM blocks NOW (DataFrame.unpersist
        # is a no-op for localCheckpoint storage, see caches module doc);
        # out's own blocks are registered for release_query_caches()
        for h in batch_handles:
            h.unpersist()
        caches.register(out_handle)
        return out.orderBy("doc_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _d4_score(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, cell, cos_micro): own-centroid assignment + integer-micro
    cosine in one Arrow GEMM pass (shared by the query and the scale
    probe, scripts/bench_new_ops_r5.py)."""
    c = centroids

    def score(batches, c=c):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            sims = xn @ c.T
            cell = sims.argmax(axis=1)
            cos = sims[np.arange(len(x)), cell]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype("int32"),
                    "cos_micro": np.rint(cos * 1e6).astype("int64"),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id bigint, cell int, cos_micro bigint"
    )


def _d4_prototypes_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    c = _ivf_centroids(spark)
    scored = _d4_score(spark.table("embeddings"), c)
    scored.createOrReplaceTempView("d4_scored")
    return spark.sql(_D4_PRUNE_SQL.format(frac=_D4_PRUNE_FRACTION))


_MEAN_EMB_ORACLE = """
WITH joined AS (
  SELECT d.lang, CAST(e.embedding AS DOUBLE[]) AS emb
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
pos AS (
  SELECT lang, emb, unnest(range(1, len(emb) + 1)) AS i FROM joined
),
dims AS (
  SELECT lang, i, emb[i] AS v FROM pos
)
SELECT lang, CAST(i - 1 AS INT) AS dim, CAST(round(avg(v), 6) AS DOUBLE) AS mean_v
FROM dims GROUP BY lang, i
"""


def _mean_embedding_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .arrow_udfs import mean_vec_udf

    _views(spark, sf_dir)

    # type-hinted GROUPED_AGG lives in arrow_udfs (no future-annotations
    # module — hint inference needs real annotation objects)
    mean_vec = mean_vec_udf()

    joined = spark.sql(
        "SELECT d.lang, CAST(e.embedding AS array<double>) AS emb "
        "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id"
    )
    agg = joined.groupBy("lang").agg(mean_vec("emb").alias("mean_emb"))
    return agg.select(
        "lang", F.posexplode("mean_emb").alias("dim", "raw")
    ).select("lang", "dim", F.round("raw", 6).cast("double").alias("mean_v"))


# Python UDTF (Spark 4): one markdown document in → one row per section
# (split at setext/ATX headings).  The table-function surface the checklist
# calls for; exercised in SQL via LATERAL.
def _markdown_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    _views(spark, sf_dir)

    @udtf(returnType="section_idx int, heading string, n_section_chars int")
    class MarkdownSections:
        def eval(self, text: str):
            if not text:
                return
            import re

            lines = text.split("\n")
            heading = None
            buf: list[str] = []
            idx = 0
            flushed_any = False

            def flush(idx, heading, buf):
                body = "\n".join(buf).strip()
                return (idx, heading, len(body))

            i = 0
            while i < len(lines):
                line = lines[i]
                nxt = lines[i + 1] if i + 1 < len(lines) else ""
                is_setext = bool(line.strip()) and bool(
                    re.fullmatch(r"=+|-+", nxt.strip() or "#")
                )
                m_atx = re.match(r"#{1,6} (.+)", line)
                if is_setext or m_atx:
                    if buf or heading is not None:
                        yield flush(idx, heading, buf)
                        idx += 1
                        flushed_any = True
                    heading = m_atx.group(1) if m_atx else line.strip()
                    buf = []
                    i += 1 if m_atx else 2
                    continue
                buf.append(line)
                i += 1
            if buf or heading is not None or not flushed_any:
                yield flush(idx, heading, buf)

    spark.udtf.register("markdown_sections", MarkdownSections)
    return spark.sql(
        """
        SELECT d.doc_id, s.section_idx, s.heading, s.n_section_chars
        FROM documents d, LATERAL markdown_sections(d.text) s
        WHERE d.doc_id < 20
        """
    )


# Substring-level duplicate detection (the span-dedup step of "Deduplicating
# Training Data Makes Language Models Better"-style pipelines): every
# 4-token span appearing in ≥2 DISTINCT documents, with occurrence and
# document counts.  Exact and SQL-expressible in both engines, so it is
# oracle-checked.  Scale shape: the explode emits ~tokens-per-doc rows per
# document, and the aggregation map-side-combines on the span key before the
# single shuffle; at petabyte scale you ship xxhash64(span) instead of the
# span text (8 bytes/row) and join back only the survivors — the exact
# string form here is what makes the DuckDB oracle byte-comparable.
_DUP_SPANS_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         explode(transform(sequence(1, size(t) - 3),
                           i -> concat_ws(' ', slice(t, i, 4)))) AS span
  FROM toks WHERE size(t) >= 4
)
SELECT span,
       CAST(count(*) AS BIGINT)                AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT)  AS n_docs
FROM grams
GROUP BY span
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, span
LIMIT 200
"""

_DUP_SPANS_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS span
  FROM toks WHERE len(t) >= 4
)
SELECT span,
       CAST(count(*) AS BIGINT)                AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT)  AS n_docs
FROM grams
GROUP BY span
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, span
LIMIT 200
"""


# Sequence packing for training pipelines: concatenate the corpus in doc_id
# order and chunk it into fixed token budgets; a document belongs to the
# pack its START offset falls in (docs span pack boundaries — the standard
# "concat then chunk" pretraining layout).  The global prefix sum is the
# interesting part at scale: a naive sum() OVER (ORDER BY doc_id) is a
# SINGLE-partition window (the whole corpus through one task).  Instead:
# range-partition by doc_id, cumsum WITHIN each partition (parallel
# windows), compute per-partition totals (one tiny agg), prefix-sum those
# 16 numbers driver-side, and broadcast-join the offsets back — the
# textbook two-level distributed prefix sum, one full shuffle total.
# DuckDB oracles it with the plain global window, so the distributed
# decomposition is proven exactly equal to the sequential semantics.
_PACK_BUDGET = 2048

_SEQ_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) AS cs
  FROM toks
)
SELECT CAST(floor((cs - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id)                   AS first_doc,
       max(doc_id)                   AS last_doc
FROM cum
GROUP BY 1
ORDER BY pack_id
"""


def _sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .curate import assign_packs

    _views(spark, sf_dir)
    # r6: pre-compute n_tokens (assign_packs' exact expression) and pass a
    # NARROW (doc_id, n_tokens) frame — repartitionByRange's sampling job
    # and the pack checkpoint otherwise carry the full text payload that
    # nothing downstream of this query reads.  Values identical, so the
    # pack assignment and the oracle-checked aggregates are unchanged.
    docs = spark.table("documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    # assign_packs (spark/curate.py) is the single implementation of the
    # two-level distributed prefix sum; its checkpoint blocks are
    # registered for release_query_caches since the result is lazy
    packed, h = assign_packs(spark, docs, "doc_id", _PACK_BUDGET, n_tokens_given=True)
    caches.register(h)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


# PDF extraction roundtrip (north_rule: "PDF/layout parse").  Spark renders
# each document's text into a real PDF (engine/pdfwrite.py: Type0 font,
# ToUnicode CMap, Flate, word-wrap at 72 cols) and extracts it back with the
# from-scratch layout parser (engine/pdf.py) inside ONE Arrow-batched
# mapInPandas crossing; the oracle is the untouched source text, so a hash
# match certifies byte-identical extracted text per document — the same
# invariant the north rule demands of the HTML path.  Wrap breaks only at
# single spaces (the corpus has no space runs), so rejoining with " " is
# exact.  Scale shape: embarrassingly parallel projection, no shuffle beyond
# the explicit pre-UDF repartition that defends Python-stage parallelism
# from AQE coalescing.
_PDF_ROUNDTRIP_ORACLE = """
SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id
"""


def _pdf_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..engine.pdf import pdf_to_text
    from ..engine.pdfwrite import text_to_pdf

    _views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")

    def rt(batches):
        for b in batches:
            out = [
                pdf_to_text(text_to_pdf(t, wrap=72)).replace("\n", " ")
                for t in b["text"]
            ]
            yield pd.DataFrame({"doc_id": b["doc_id"], "extracted_text": out})

    return (
        docs.repartition(32)  # explicit: CPU-bound Python stage (CLAUDE.md #4)
        .mapInPandas(rt, "doc_id bigint, extracted_text string")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-4 curation-rule operators (published heuristics, map-only at scale)
# ---------------------------------------------------------------------------

# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: Methods,
# Analysis & Insights from Training Gopher", App. A1.1) — per-doc flags, all
# computed from ONE split of the text so the scan stays a single projection.
# Ratios are emitted as floor'd permille BIGINTs: floor division is
# bit-identical across Spark and DuckDB (round() is not), and atomic columns
# survive the driver canonicalizer.  Map-only: no shuffle at any scale.
_GOPHER_STOP = "('the','be','to','of','and','that','have','with')"
_GOPHER_SPARK = f"""
WITH w AS (
  SELECT doc_id,
         split(trim(text), '\\\\s+') AS words,
         filter(split(text, '\\n'), l -> length(trim(l)) > 0) AS lines
  FROM documents WHERE length(trim(text)) > 0
), m AS (
  SELECT doc_id,
         CAST(size(words) AS BIGINT) AS n_words,
         CAST(aggregate(words, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS BIGINT) AS n_word_chars,
         CAST(size(filter(words, x -> x rlike '[#…]')) AS BIGINT) AS n_symbol_words,
         CAST(size(filter(words, x -> x rlike '[A-Za-z]')) AS BIGINT) AS n_alpha_words,
         CAST(size(array_intersect(transform(words, x -> lower(x)),
                                   array{_GOPHER_STOP})) AS BIGINT) AS n_stop_hits,
         CAST(size(lines) AS BIGINT) AS n_lines,
         CAST(size(filter(lines, l -> trim(l) rlike '^[-•*]')) AS BIGINT) AS n_bullet_lines,
         CAST(size(filter(lines, l -> trim(l) rlike '(…|\\\\.\\\\.\\\\.)$')) AS BIGINT) AS n_ellipsis_lines
  FROM w
)
SELECT doc_id, n_words,
       CAST(FLOOR(1000 * n_word_chars / n_words) AS BIGINT) AS mean_wordlen_milli,
       CAST(FLOOR(1000 * n_symbol_words / n_words) AS BIGINT) AS symbol_ratio_milli,
       CAST(FLOOR(1000 * n_alpha_words / n_words) AS BIGINT) AS alpha_ratio_milli,
       n_stop_hits, n_lines,
       CAST(FLOOR(1000 * n_bullet_lines / GREATEST(n_lines, 1)) AS BIGINT) AS bullet_ratio_milli,
       CAST(FLOOR(1000 * n_ellipsis_lines / GREATEST(n_lines, 1)) AS BIGINT) AS ellipsis_ratio_milli,
       (n_words BETWEEN 50 AND 100000
        AND FLOOR(1000 * n_word_chars / n_words) BETWEEN 3000 AND 10000
        AND 1000 * n_symbol_words <= 100 * n_words
        AND 1000 * n_alpha_words >= 800 * n_words
        AND n_stop_hits >= 2
        AND 1000 * n_bullet_lines <= 900 * GREATEST(n_lines, 1)
        AND 1000 * n_ellipsis_lines <= 300 * GREATEST(n_lines, 1)) AS gopher_pass
FROM m
"""

# DuckDB twin (pytest gate tests/test_curation_rules.py — rows-only in the
# driver registry: the 50 oracled slots are full, so parity is pinned in-repo)
_GOPHER_DUCK = f"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS words,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
  FROM documents WHERE length(trim(text)) > 0
), m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT) AS n_word_chars,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS n_symbol_words,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_transform(words, x -> lower(x)),
                                 {_GOPHER_STOP.replace("(", "[", 1).replace(")", "]", 1)})) AS BIGINT) AS n_stop_hits,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-•*]'))) AS BIGINT) AS n_bullet_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(…|\\.\\.\\.)$'))) AS BIGINT) AS n_ellipsis_lines
  FROM w
)
SELECT doc_id, n_words,
       CAST(FLOOR(1000 * n_word_chars / n_words) AS BIGINT) AS mean_wordlen_milli,
       CAST(FLOOR(1000 * n_symbol_words / n_words) AS BIGINT) AS symbol_ratio_milli,
       CAST(FLOOR(1000 * n_alpha_words / n_words) AS BIGINT) AS alpha_ratio_milli,
       n_stop_hits, n_lines,
       CAST(FLOOR(1000 * n_bullet_lines / GREATEST(n_lines, 1)) AS BIGINT) AS bullet_ratio_milli,
       CAST(FLOOR(1000 * n_ellipsis_lines / GREATEST(n_lines, 1)) AS BIGINT) AS ellipsis_ratio_milli,
       (n_words BETWEEN 50 AND 100000
        AND FLOOR(1000 * n_word_chars / n_words) BETWEEN 3000 AND 10000
        AND 1000 * n_symbol_words <= 100 * n_words
        AND 1000 * n_alpha_words >= 800 * n_words
        AND n_stop_hits >= 2
        AND 1000 * n_bullet_lines <= 900 * GREATEST(n_lines, 1)
        AND 1000 * n_ellipsis_lines <= 300 * GREATEST(n_lines, 1)) AS gopher_pass
FROM m
"""

# C4 line-level filters (Raffel et al. 2020, JMLR 21(140), §2.2): keep lines
# that end in terminal punctuation AND have ≥5 words AND don't mention
# javascript; doc-level: drop docs containing '{' / 'lorem ipsum' or with
# <3 surviving lines.  Single projection per doc; map-only at any scale.
_C4_KEEP_LAMBDA = (
    "l -> right(trim(l), 1) IN ('.', '!', '?', '\"') "
    "AND size(split(trim(l), '\\\\s+')) >= 5 "
    "AND NOT lower(l) LIKE '%javascript%'"
)
_C4_SPARK = f"""
WITH l AS (
  SELECT doc_id, text,
         filter(split(text, '\\n'), l -> length(trim(l)) > 0) AS lines
  FROM documents WHERE length(trim(text)) > 0
), k AS (
  SELECT doc_id, text,
         CAST(size(lines) AS BIGINT) AS n_lines,
         filter(lines, {_C4_KEEP_LAMBDA}) AS kept
  FROM l
)
SELECT doc_id, n_lines,
       CAST(size(kept) AS BIGINT) AS n_kept_lines,
       CAST(aggregate(kept, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS BIGINT) AS kept_chars,
       (instr(text, '{{') > 0) AS has_brace,
       (instr(lower(text), 'lorem ipsum') > 0) AS has_lorem,
       (size(kept) >= 3 AND instr(text, '{{') = 0
        AND instr(lower(text), 'lorem ipsum') = 0) AS c4_keep
FROM k
"""
_C4_DUCK = """
WITH l AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
  FROM documents WHERE length(trim(text)) > 0
), k AS (
  SELECT doc_id, text,
         CAST(len(lines) AS BIGINT) AS n_lines,
         list_filter(lines, l -> right(trim(l), 1) IN ('.', '!', '?', '"')
                     AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
                     AND NOT lower(l) LIKE '%javascript%') AS kept
  FROM l
)
SELECT doc_id, n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(COALESCE(list_sum(list_transform(kept, x -> length(x))), 0) AS BIGINT) AS kept_chars,
       (instr(text, '{') > 0) AS has_brace,
       (instr(lower(text), 'lorem ipsum') > 0) AS has_lorem,
       (len(kept) >= 3 AND instr(text, '{') = 0
        AND instr(lower(text), 'lorem ipsum') = 0) AS c4_keep
FROM k
"""

# FineWeb-style composite filter chain (Penedo et al. 2024, "The FineWeb
# Datasets": the production recipe chains language ID → Gopher quality →
# C4 heuristics → repetition filtering).  Composed FROM the already-gated
# component queries as CTEs, so the DuckDB twin is the same composition of
# the components' own twins — the chain's parity reduces to the (pinned)
# component parities plus identical join/threshold logic on both sides.
# Each CTE is consumed exactly once (no re-evaluation multiplier —
# CLAUDE.md CTE note).  Plan audited: Catalyst does NOT merge the
# components' `documents` scans (5 parquet scans, one per component +
# base, via executedPlan) — the right trade at this shape: each scan
# prunes to its own columns and the components run embarrassingly
# parallel; a 100 TB deployment would persist the cleaned text once
# upstream and point every component at that staged table instead.
_FINEWEB_SPARK = None  # assigned below once components exist
_FINEWEB_DUCK = None


def _fineweb_sql(gopher: str, c4: str, rep: str, lang: str) -> str:
    return f"""
WITH g AS ({gopher}),
c AS ({c4}),
r AS ({rep}),
l AS ({lang})
SELECT d.doc_id,
       COALESCE(g.gopher_pass, FALSE) AS gopher_pass,
       COALESCE(c.c4_keep, FALSE) AS c4_keep,
       CAST(COALESCE(r.dup_permille, 1000) AS BIGINT) AS dup_permille,
       l.predicted_lang,
       (COALESCE(g.gopher_pass, FALSE)
        AND COALESCE(c.c4_keep, FALSE)
        AND COALESCE(r.dup_permille, 1000) <= 300
        AND l.predicted_lang = 'en') AS fineweb_keep
FROM documents d
LEFT JOIN g ON g.doc_id = d.doc_id
LEFT JOIN c ON c.doc_id = d.doc_id
LEFT JOIN r ON r.doc_id = d.doc_id
LEFT JOIN l ON l.doc_id = d.doc_id
ORDER BY d.doc_id
"""


_FINEWEB_SPARK = _fineweb_sql(
    _GOPHER_SPARK, _C4_SPARK, _REPETITION_SPARK, _LANG_ID
)
_FINEWEB_DUCK = _fineweb_sql(_GOPHER_DUCK, _C4_DUCK, _REPETITION_ORACLE, _LANG_ID)


# Corpus-wide exact line dedup (RefinedWeb / Falcon, Penedo et al. 2023
# §3.3: lines duplicated across the corpus — boilerplate nav, cookie
# banners — are removed from every document; the doc survives with its
# remaining lines in order).  Shape: explode lines with position → count
# occurrences per normalized line (ONE map-side-combined shuffle) → keep
# lines whose corpus count ≤ K → reassemble per doc ordered by position
# (second shuffle on doc_id).  At 100 TB the line-count table is the only
# wide state and it partial-aggregates; no joins beyond the count join.
# Output shape: one row per doc that has ≥1 non-blank line; a doc whose
# every kept-check fails still appears (n_lines_kept=0, deduped_text='');
# docs that were entirely blank to begin with are absent (twin matches).
_LINE_DEDUP_SPARK = """
WITH lines AS (
  SELECT doc_id, posexplode(split(text, '\\n')) AS (pos, line)
  FROM documents WHERE length(trim(text)) > 0
), norm AS (
  SELECT doc_id, pos, line, lower(trim(line)) AS key
  FROM lines WHERE length(trim(line)) > 0
), counts AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_docs_with_line
  FROM (SELECT DISTINCT doc_id, key FROM norm)
  GROUP BY key
)
SELECT n.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines_in,
       CAST(sum(CASE WHEN c.n_docs_with_line <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       concat_ws('\\n',
         transform(
           array_sort(collect_list(CASE WHEN c.n_docs_with_line <= 2
                                        THEN struct(n.pos AS pos, n.line AS line) END)),
           s -> s.line)) AS deduped_text
FROM norm n JOIN counts c ON n.key = c.key
GROUP BY n.doc_id
"""
_LINE_DEDUP_DUCK = """
WITH splits AS (
  SELECT doc_id, string_split(text, chr(10)) AS l
  FROM documents WHERE length(trim(text)) > 0
), lines AS (
  -- WITH ORDINALITY / lateral range() are unimplemented in this DuckDB
  -- build; parallel unnest + generate_subscripts is the positional unnest
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS line
  FROM splits
), norm AS (
  SELECT doc_id, pos, line, lower(trim(line)) AS key
  FROM lines WHERE length(trim(line)) > 0
), counts AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_docs_with_line
  FROM (SELECT DISTINCT doc_id, key FROM norm)
  GROUP BY key
)
SELECT n.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines_in,
       CAST(sum(CASE WHEN c.n_docs_with_line <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       COALESCE(string_agg(CASE WHEN c.n_docs_with_line <= 2 THEN n.line END, chr(10)
                           ORDER BY n.pos), '') AS deduped_text
FROM norm n JOIN counts c ON n.key = c.key
GROUP BY n.doc_id
"""


# N-gram-overlap decontamination (the GPT-3 appendix-C / PaLM approach:
# a training doc is contaminated if it shares ANY n-gram with a benchmark
# document — catches partial inclusions that whole-doc fingerprints and
# Bloom membership miss).  n=8 word-grams; contamination set = doc_id<10
# (same convention as decontaminate_docs / bloom_decontaminate, so the
# three variants are directly comparable).  Scale shape: benchmark grams
# distinct to a small table (broadcasts; at worst shuffle-joins), corpus
# grams stream through the join un-materialized, one doc_id shuffle for
# the per-doc overlap count.  Map-side combine on both aggs.
_NGRAM_DECON_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, explode(transform(sequence(0, size(w) - 8),
                                   i -> array_join(slice(w, i + 1, 8), ' '))) AS gram
  FROM toks WHERE size(w) >= 8
),
contam AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < 10
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_ngrams,
       CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_distinct
FROM grams g JOIN contam c ON g.gram = c.gram
WHERE g.doc_id >= 10
GROUP BY g.doc_id
ORDER BY g.doc_id
"""
_NGRAM_DECON_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, array_to_string(w[i + 1 : i + 8], ' ') AS gram
  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS i FROM toks WHERE len(w) >= 8)
),
contam AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < 10
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_ngrams,
       CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_distinct
FROM grams g JOIN contam c ON g.gram = c.gram
WHERE g.doc_id >= 10
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


# Span-level decontamination (the GPT-3 appendix-C REMOVAL variant: GPT-3
# did not drop contaminated training docs wholesale — it removed a window
# around each benchmark-colliding 13-gram and kept the rest of the page.
# Here: 8-word-grams against the doc_id<10 benchmark set — the same
# contamination convention as decontaminate_docs / bloom_decontaminate /
# ngram_decontaminate, so all four variants are directly comparable — and
# each colliding occurrence is removed together with a 2-token pad on each
# side, clipped to the document; overlapping windows union through a
# distinct covered-index set (the exact_substring_dedup rebuild machinery).
# Output is the CONTAMINATED training docs only, with the cleaned text.
#
# Scale shape: identical to ngram_decontaminate's find step (benchmark
# grams distinct to a small broadcastable table, corpus grams stream
# through the join un-materialized) plus ONE doc_id shuffle for the
# covered-set union and a map-side rebuild — no pair joins, no windows.
_DECON_SPANS_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, i AS pos, size(w) AS n,
         concat_ws(' ', slice(w, i, 8)) AS gram
  FROM toks LATERAL VIEW explode(sequence(1, size(w) - 7)) x AS i
  WHERE size(w) >= 8
),
contam AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < 10
),
covered AS (
  SELECT g.doc_id, collect_set(idx) AS drop_idx
  FROM grams g
  JOIN contam c ON g.gram = c.gram
  LATERAL VIEW explode(sequence(greatest(1, g.pos - 2),
                                least(g.n, g.pos + 9))) z AS idx
  WHERE g.doc_id >= 10
  GROUP BY g.doc_id
)
SELECT t.doc_id,
       CAST(size(t.w) AS BIGINT) AS n_tokens,
       CAST(size(c.drop_idx) AS BIGINT) AS n_dropped,
       concat_ws(' ', transform(
         filter(sequence(1, size(t.w)),
                i -> NOT array_contains(c.drop_idx, i)),
         i -> element_at(t.w, i))) AS clean_text
FROM toks t JOIN covered c ON t.doc_id = c.doc_id
ORDER BY t.doc_id
"""
_DECON_SPANS_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, i AS pos, len(w) AS n,
         array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
        FROM toks WHERE len(w) >= 8)
),
contam AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < 10
),
covered AS (
  SELECT doc_id, list(DISTINCT idx) AS drop_idx
  FROM (SELECT g.doc_id, unnest(generate_series(greatest(1, g.pos - 2),
                                                least(g.n, g.pos + 9))) AS idx
        FROM grams g
        JOIN contam c ON g.gram = c.gram
        WHERE g.doc_id >= 10)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       CAST(len(c.drop_idx) AS BIGINT) AS n_dropped,
       coalesce(array_to_string(list_transform(
         list_filter(generate_series(1, len(t.w)),
                     i -> NOT list_contains(c.drop_idx, i)),
         i -> t.w[i]), ' '), '') AS clean_text
FROM toks t JOIN covered c ON t.doc_id = c.doc_id
ORDER BY t.doc_id
"""


# SparkER-style meta-blocking (Simonini et al., "Schema-agnostic vs
# schema-based configurations for blocking methods on homogeneous data",
# VLDB 2019 / SparkER EDBT 2019 demo): treat MinHash LSH buckets as blocks,
# weight each candidate edge by its number of shared blocks (CBS scheme),
# then Weighted Node Pruning: an edge survives if its weight reaches the
# mean edge weight of EITHER endpoint (redistribution variant).  Prunes the
# low-evidence tail of the candidate set before the expensive verify join.
_META_EDGES_SQL = _MINHASH_BANDS_CTE + """\
SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS weight
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""

_META_PRUNE_SQL = """
WITH node_means AS (
  SELECT doc_id, avg(weight) AS mean_w FROM (
    SELECT d1 AS doc_id, weight FROM _mb_edges
    UNION ALL
    SELECT d2 AS doc_id, weight FROM _mb_edges
  ) GROUP BY doc_id
)
SELECT e.d1, e.d2, e.weight
FROM _mb_edges e
JOIN node_means m1 ON e.d1 = m1.doc_id
JOIN node_means m2 ON e.d2 = m2.doc_id
WHERE e.weight >= m1.mean_w OR e.weight >= m2.mean_w
ORDER BY e.d1, e.d2
"""


def _meta_blocking_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking WNP over the MinHash-LSH block graph (docstring at the
    SQL above).  The edge table feeds three consumers (two node-mean legs +
    the final filter), so it is persisted — an inline CTE would re-run the
    banded self-join per consumer (CLAUDE.md: CTE inlining).

    Scale shape: block edges come from the banded equi-join with map-side-
    combined weight counts (never all-pairs); node means are one agg over
    the edge list (candidate-sized, not corpus-sized); the mean table
    broadcasts back.  Rows-only: xxhash64 banding has no DuckDB twin;
    gates in tests/test_curation_rules.py (pruning monotonicity, true-pair
    recall vs the exact Jaccard oracle twin, determinism).
    """
    release_query_caches()
    _views(spark, sf_dir)
    edges = spark.sql(_META_EDGES_SQL).persist()
    caches.register(edges)
    edges.createOrReplaceTempView("_mb_edges")
    return spark.sql(_META_PRUNE_SQL)


def _dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS): hashed word-level
    unigram+bigram features; per-doc importance = Σ_f log p_target(f) −
    log p_raw(f) over the doc's features, with add-one smoothing over
    B=4096 hash buckets.  Target distribution = the corpus's English docs,
    raw = the whole corpus (self-contained demo of the estimator; in
    production the target table is a curated seed corpus).

    Scale shape: ONE explode of grams → map-side-combined conditional agg
    to a ≤B-row bucket table (shuffle O(B×partitions)) → totals folded in
    via a single-row cross join (broadcast) → log-ratio table broadcast
    back onto the gram stream (no corpus shuffle) → per-doc sum (the one
    real shuffle, on doc_id).  At 100 TB nothing materializes beyond the
    B-row model and the per-doc scores.  Rows-only: xxhash64 bucketing has
    no DuckDB twin; gates in tests/test_curation_rules.py (determinism,
    finiteness, English-vs-non-English separation, bucket-table bound).
    """
    from pyspark.sql import functions as F

    from .lrtrain import word_grams

    _views(spark, sf_dir)
    B = 4096
    docs = spark.table("documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    words = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"),
    )
    grams = words.select(
        "doc_id", "is_target", F.explode(word_grams(F.col("w"))).alias("gram")
    ).filter(F.col("gram") != "")
    bucketed = grams.select(
        "doc_id",
        "is_target",
        F.pmod(F.xxhash64("gram"), F.lit(B)).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count("*").alias("raw_cnt"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tgt_cnt"),
    )
    totals = counts.agg(
        F.sum("raw_cnt").alias("raw_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_cnt") + 1) / (F.col("tgt_total") + B))
            - F.log((F.col("raw_cnt") + 1) / (F.col("raw_total") + B))
        ).alias("log_ratio"),
    )
    scored = (
        bucketed.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("log_ratio").alias("raw_score"),
        )
        .select(
            "doc_id",
            F.col("n_feats").cast("bigint").alias("n_features"),
            # micro-scaled integer score: atomic + hash-stable
            F.round(F.col("raw_score") / F.col("n_feats") * 1e6)
            .cast("bigint")
            .alias("importance_micro"),
        )
    )
    return scored.orderBy(F.col("importance_micro").desc(), "doc_id").limit(200)


_FT_DIM = 65536  # 2^16 hash buckets — fastText's default bucket scale


def _fasttext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference (Joulin et al.
    2017, "Bag of Tricks for Efficient Text Classification") — the model
    shape behind CCNet / LLaMA-style quality filtering: per-doc logit =
    Σ_f W[h(f) mod D] over unigram+bigram features.  The demo model's
    weights are derived deterministically from the bucket id (integer
    milli-units in [-1000, 1000]) so the whole inference is exact-integer
    and order-independent; swapping in trained weights is a one-line
    change to the `weights` DataFrame.

    Scale shape: the model is D=65536 rows (~1 MB) and BROADCAST — the
    corpus side never shuffles for the join; feature hashing is JVM
    ``F.hash`` (Murmur3, whole-stage codegen, no Python); the only
    corpus-sized shuffle is the per-doc integer sum with map-side partial
    aggregation.  At 100 TB the weights stay model-sized and everything
    else is map+one-agg.  Rows-only in the driver (hash bucketing has no
    DuckDB twin); EXACT-equality gate vs an in-repo pandas reference
    built on the bit-identical `_murmur3_32` reimplementation, plus
    broadcast-plan and determinism gates (tests/test_curation_rules.py).
    """
    from pyspark.sql import functions as F

    from .lrtrain import word_grams

    _views(spark, sf_dir)
    D = _FT_DIM
    weights = spark.range(D).select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.pmod(
                F.hash(F.concat(F.lit("w"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        .cast("bigint")
        .alias("w_milli"),
    )
    toks = spark.table("documents").select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "w"
        ),
    )
    feats = toks.select("doc_id", F.explode(word_grams(F.col("w"))).alias("feat"))
    bucketed = feats.select(
        "doc_id", F.pmod(F.hash("feat"), F.lit(D)).cast("int").alias("bucket")
    )
    return (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            F.sum("w_milli").cast("bigint").alias("logit_milli"),
        )
        .select(
            "doc_id",
            "n_features",
            "logit_milli",
            (F.col("logit_milli") > 0).alias("ft_keep"),
        )
        .orderBy("doc_id")
    )


def _pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-pass PCA over the embedding column (d=64), the
    standard dimensionality-reduction step before clustering / ANN / dedup
    on embedding corpora.  Pass 1: one ``mapInPandas`` sweep emits ONE
    moment partial per PARTITION — (n, Σx, vec(XᵀX)), i.e. 1+d+d² ≈ 4K
    doubles regardless of row count; the partials are posexploded and
    folded by a ``groupBy(pos).sum`` (shuffle O(partitions × d²) — the
    corpus itself never shuffles).  The d×d covariance is eigendecomposed
    DRIVER-side (model-sized, like the IVF centroids).  Pass 2 projects
    every vector onto the top-2 components map-only, components shipped in
    the task closure.  Component signs are canonicalized (largest-|coord|
    positive) so output is deterministic.

    Scale shape: at 100 TB the driver only ever sees d² floats; both
    corpus passes are map-only Arrow batches.  Rows-only in the driver
    (no SQL eigensolver); gates in tests/test_curation_rules.py: numpy
    full-dataset reference within ±2 micro, projection-variance ordering,
    determinism.
    """
    import numpy as np

    from pyspark.sql import functions as F

    _views(spark, sf_dir)
    d = 64

    def partials(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = np.zeros(d)
        m = np.zeros((d, d))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            n += len(x)
            s += x.sum(axis=0)
            m += x.T @ x
        if n:
            yield pd.DataFrame(
                {"vals": [np.concatenate(([float(n)], s, m.ravel())).tolist()]}
            )

    part_df = (
        spark.table("embeddings")
        .select("embedding")
        .mapInPandas(partials, schema="vals array<double>")
    )
    summed = (
        part_df.select(F.posexplode("vals").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )  # 1+d+d² rows — model-sized by construction
    flat = np.zeros(1 + d + d * d)
    for r in summed:
        flat[r["pos"]] = r["v"]
    n_total = flat[0]
    mean = flat[1 : 1 + d] / n_total
    cov = flat[1 + d :].reshape(d, d) / n_total - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    comps = eigvecs[:, ::-1][:, :2].T.copy()  # rows = top-2 components
    for i in range(2):
        if comps[i][np.argmax(np.abs(comps[i]))] < 0:
            comps[i] = -comps[i]

    def project(batches, mean=mean, comps=comps):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            p = (x - mean) @ comps.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pc1_micro": np.rint(p[:, 0] * 1e6).astype("int64"),
                    "pc2_micro": np.rint(p[:, 1] * 1e6).astype("int64"),
                }
            )

    return (
        spark.table("embeddings")
        .select("vec_id", "embedding")
        .mapInPandas(project, schema="vec_id bigint, pc1_micro bigint, pc2_micro bigint")
        .orderBy("vec_id")
    )


# Efraimidis–Spirakis weighted sampling without replacement (IPL 2006):
# key_i = u_i^(1/w_i), keep the k largest keys.  u_i is a deterministic
# Knuth multiplicative hash of doc_id (arithmetic-only, so the SAME value
# is computable in Spark SQL and DuckDB — full cross-engine equality gate
# in tests/test_curation_rules.py).  Weight = n_chars: longer docs are
# proportionally likelier to be drawn.
#
# Scale shape: the key is computed map-side and the ORDER BY+LIMIT lowers
# to TakeOrderedAndProject — per-partition top-k then a k-row merge on the
# driver, NO full sort shuffle (plan-gated).  At 100 TB only k rows ever
# leave the executors.  The es_key itself is excluded from the output
# (float); the selected (doc_id, weight) set is integer-exact.
_WEIGHTED_SAMPLE_SPARK = """
WITH keyed AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS weight,
         pow((pmod(doc_id * 2654435761, 4294967296) + 0.5) / 4294967296.0,
             1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS es_key
  FROM documents
)
SELECT doc_id, weight FROM (
  SELECT doc_id, weight, es_key FROM keyed
  ORDER BY es_key DESC, doc_id LIMIT 64
) ORDER BY doc_id
"""
_WEIGHTED_SAMPLE_DUCK = """
WITH keyed AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS weight,
         pow(((((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 + 0.5)
               / 4294967296.0,
             1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS es_key
  FROM documents
)
SELECT doc_id, weight FROM (
  SELECT doc_id, weight, es_key FROM keyed
  ORDER BY es_key DESC, doc_id LIMIT 64
) ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Web link graph + PageRank (extraction tier's downstream consumer)
# ---------------------------------------------------------------------------

_WEBGRAPH_N_PAGES = 2000  # deterministic synth corpus (no fixtures, no dups)


def _webgraph_pages(spark: SparkSession):
    from .synth import build_pages_df

    return build_pages_df(
        spark, _WEBGRAPH_N_PAGES, include_fixtures=False, dup_every=0
    )


def _outlink_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level weighted link graph from streamed anchor extraction
    (engine tokenizer + Node-parity URL resolution, one Arrow pass — see
    webgraph.extract_outlinks).  Rows-only: the extraction engine has no
    SQL twin; gates in tests/test_webgraph.py (independent stdlib-
    HTMLParser twin, exact edge equality)."""
    from pyspark.sql import functions as F

    from .webgraph import extract_outlinks, host_graph

    pages = _webgraph_pages(spark)
    return (
        host_graph(extract_outlinks(pages))
        .select("src_host", "dst_host", F.col("n_links").cast("bigint").alias("n_links"))
        .orderBy("src_host", "dst_host")
    )


def _hostgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85) over the synth host graph — one shuffle
    per power-iteration round, flat lineage, dangling mass redistributed
    (webgraph.pagerank).  Ranks emitted as nano-fixed-point BIGINTs so the
    output is atomic + deterministic.  Gates: numpy power-iteration twin
    within ±2 nano, rank mass ≈ 1, dangling unit graph
    (tests/test_webgraph.py)."""
    from pyspark.sql import functions as F

    from .webgraph import extract_outlinks, host_graph, pagerank

    pages = _webgraph_pages(spark)
    # fixed 20 rounds (the classic batch-PageRank operating point):
    # deterministic output, bounded driver time; tol as backstop
    ranks = pagerank(host_graph(extract_outlinks(pages)), max_iter=20, tol=1e-9)
    return ranks.select(
        "host", F.rint(F.col("rank") * 1e9).cast("bigint").alias("rank_nano")
    ).orderBy(F.col("rank_nano").desc(), "host")


def _hostgraph_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative spam mass per host (Gyöngyi et al. 2006): PageRank and
    seed-teleport TrustRank over the same synth host graph, spam mass =
    (pr − tr)/pr — hosts whose PageRank is not backed by trusted
    reachability score ≈ 1000 milli, trusted seeds go negative.  Seeds are
    the deterministic hash slice pmod(xxhash64(host), 4) = 0 of the node
    set (computed distributedly — no driver host list; curated seed lists
    at web scale are bounded and broadcastable).  The host graph is
    extracted ONCE (eager localCheckpoint) and feeds both iterations;
    each iteration is the one-job-per-round lazy-checkpoint loop
    (webgraph.pagerank/trustrank).  Fixed 20 rounds, fixed-point outputs.
    Rows-only: gates in tests/test_webgraph.py (numpy same-iterate
    TrustRank twin ±1e-12, unreachable-spam-farm hand graph, composition
    determinism)."""
    from pyspark.sql import functions as F

    from . import caches
    from .webgraph import extract_outlinks, host_graph, spam_mass_ranks

    pages = _webgraph_pages(spark)
    edges, h = caches.local_checkpoint(host_graph(extract_outlinks(pages)))
    caches.register(h)
    seeds = (
        edges.select(F.col("src_host").alias("host"))
        .unionAll(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .where(F.pmod(F.xxhash64("host"), F.lit(4)) == 0)
    )
    # r6: the two power-iteration loops are data-independent — run them on
    # two driver threads (webgraph.spam_mass_ranks; bit-identical to the
    # sequential calls, wall ≈ the slower loop instead of the sum)
    pr, tr = spam_mass_ranks(edges, seeds, max_iter=20, tol=1e-9)
    pr = pr.withColumnRenamed("rank", "pr")
    tr = tr.withColumnRenamed("rank", "tr")
    return (
        pr.join(tr, "host")
        .select(
            "host",
            F.rint(F.col("pr") * 1e9).cast("bigint").alias("pr_nano"),
            F.rint(F.col("tr") * 1e9).cast("bigint").alias("tr_nano"),
            F.rint((F.col("pr") - F.col("tr")) / F.col("pr") * 1e3)
            .cast("bigint")
            .alias("spam_mass_milli"),
        )
        .orderBy(F.col("spam_mass_milli").desc(), "host")
    )


def _anchor_text_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 off-site anchor terms per target host (what the rest of the
    web calls each host) — the classic query-independent relevance signal.
    One Arrow extraction pass → map-side-combined term counts → per-host
    top-k window (webgraph.anchor_term_index).  Rows-only; gates in
    tests/test_webgraph.py (stdlib-HTMLParser twin term-count equality,
    determinism)."""
    from .webgraph import anchor_term_index, extract_anchor_texts

    pages = _webgraph_pages(spark)
    return anchor_term_index(extract_anchor_texts(pages)).orderBy(
        "dst_host", "rk"
    )


def _crawled_hosts(spark: SparkSession):
    """The synth crawl's pages, its sorted hosts, and per host the first 8
    crawled urls in url order — the known urls the frontier queries embed
    into their synth discovery inputs."""
    from pyspark.sql import functions as F

    pages = _webgraph_pages(spark)
    hp = pages.select(
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"), "url"
    ).collect()
    known: dict = {}
    for h, u in sorted((r["host"], r["url"]) for r in hp):
        urls = known.setdefault(h, [])
        if len(urls) < 8:
            urls.append(u)
    return pages, sorted(known), known


def _sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier construction over the synth crawl: tolerant sitemap
    parsing (engine/sitemap.py — sitemaps.org spec, the discovery half of
    the robots/sitemaps politeness pair) → left-anti join against already-
    crawled urls → RFC 9309 robots exclusion → fetch-order sort
    (spark/frontier.py).  Known crawled urls are embedded into the synth
    sitemaps so the anti-join provably removes rows.  Rows-only; gates in
    tests/test_sitemap_frontier.py (xml.etree parser twin, set-algebra
    frontier twin, tolerance cases)."""
    from .frontier import build_frontier, synth_sitemaps_df
    from .robots import synth_robots_df

    pages, hosts, known = _crawled_hosts(spark)
    sitemaps = synth_sitemaps_df(spark, hosts, known=known)
    robots = synth_robots_df(spark, hosts)
    return build_frontier(sitemaps, pages, robots, agent="extractor-spark")


def _feed_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-driven incremental discovery over the synth crawl: tolerant
    RSS 2.0 / Atom parsing (engine/feeds.py — the "what is NEW" discovery
    channel next to sitemaps' "what exists"), RFC 822 / RFC 3339 dates
    normalized to epoch seconds, per-loc freshest-wins dedupe (syndication
    cross-posts), left-anti join against already-crawled urls, RFC 9309
    robots exclusion, freshest-first fetch order
    (spark/frontier.py:build_feed_frontier).  Known crawled urls are
    embedded into the synth feeds so the anti-join provably removes rows.
    Rows-only; gates in tests/test_feed_frontier.py (xml.etree parser
    twin, set-algebra frontier twin, tolerance + date cases)."""
    from .frontier import build_feed_frontier, synth_feeds_df
    from .robots import synth_robots_df

    pages, hosts, known = _crawled_hosts(spark)
    feeds = synth_feeds_df(spark, hosts, known=known)
    robots = synth_robots_df(spark, hosts)
    return build_feed_frontier(feeds, pages, robots, agent="extractor-spark")


def _langid_ngram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID (CLD-style char-trigram Naive Bayes,
    spark/langid.py) — upgrades the marker-word `lang_id` heuristic to a
    model fit on the corpus's own labels (even-doc_id train half, top-2k
    trigrams per language, Laplace floor).  Scores are exact BIGINT sums
    of micro-nat log-likelihoods, so the pandas twin
    (tests/test_langid_model.py) matches integer-exactly.  Rows-only:
    trained-model inference; model is bounded and driver-resident,
    corpus touched once for counts and once for scoring."""
    from .langid import langid_scores_df

    _views(spark, sf_dir)
    return langid_scores_df(spark.table("documents"))


def _crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch scheduling (Mercator/Heritrix budget shape)
    over the sitemap frontier: a global budget of 200 fetch slots split
    across hosts proportionally to frontier share (integer DIV, every
    host ≥1 slot, per-host cap 8), each host's slots going to its
    top-priority URLs.  One host shuffle total — n_urls, slot, and quota
    all come out of the same window pass (spark/frontier.py).  Rows-only:
    synth-input composition; exact pandas twin in
    tests/test_sitemap_frontier.py."""
    from .frontier import allocate_crawl_budget

    return allocate_crawl_budget(
        _sitemap_frontier(spark, sf_dir), budget=200, per_host_cap=8
    )


def _lr_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression TRAINING over hashed n-gram features
    (full-batch GD in numpy on the driver over the features of a bounded
    seeded sample — ≤10k docs, the fastText/CCNet "fit on a sample"
    shape, spark/lrtrain.py), then ONE broadcast-model scoring pass over
    the full corpus: the trainable half of the fastText-style quality
    filter (weak labels: lang == 'en').  Rows-only: iterative float
    training has no SQL twin; gates in tests/test_lr_train.py (numpy
    same-iterate twin ±1 milli, strictly-decreasing loss, class
    separation, sample cap/determinism)."""
    from .lrtrain import lr_quality_scores_df

    _views(spark, sf_dir)
    return lr_quality_scores_df(spark.table("documents"))


def _bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table learning over the documents corpus
    (Sennrich et al. 2016): corpus → distinct-word vocabulary once, then
    one Spark job per merge round (map-side-combined pair counts, argmax
    to driver, JVM-side aggregate-fold merge apply, lazy-checkpoint flat
    lineage — spark/bpe.py).  Rows-only: iterative argmax has no SQL
    twin; gates in tests/test_bpe_learn.py (exact merge-sequence equality
    vs an independent dict-based BPE reference, overlap semantics,
    determinism)."""
    from .bpe import learn_bpe_df

    _views(spark, sf_dir)
    return learn_bpe_df(spark.table("documents"), n_merges=24).orderBy("rank")


def _bpe_encode_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer train-then-tokenize: learn a 16-merge BPE
    table from the corpus, then encode the corpus with it and emit the
    top-200 subword frequency table — the tokenizer-QA artifact
    (coverage/fertility stats).  Encoding reuses the trainer's OWN merge
    fold (spark/bpe.py::_merge_fold) on the distinct-word vocabulary:
    vocabulary-sized work, 24 nested JVM folds, no Python in the path.
    Rows-only: iterative argmax learning has no SQL twin; encode gates in
    tests/test_bpe_learn.py (exact (token, freq) equality vs the
    independent dict-based trainer + list-walk encoder)."""
    from .bpe import encode_bpe_df, learn_bpe

    _views(spark, sf_dir)
    docs = spark.table("documents")
    merges = learn_bpe(docs, n_merges=16)
    return encode_bpe_df(docs, merges, top_k=200)


def _bpe_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize-and-pack endgame: learn an 8-merge BPE table, encode
    the corpus map-only with the trainer's own fold, and chunk the token
    stream into exact 128-id training sequences (two-level prefix-sum
    offsets, array-slice pieces per straddled boundary — see
    spark/tokenshards.py).  Emits one row per sequence with a content
    hash, so the driver record pins the exact shard bytes.  Rows-only:
    iterative merge learning has no SQL twin; gates in
    tests/test_tokenshards.py (exact roundtrip decode, frequency equality
    vs the independently-gated encode_bpe_df path, length invariants,
    pure-Python reference encoder)."""
    from pyspark.sql import functions as F

    from .tokenshards import tokenize_pack

    _views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    _merges, _vocab, shards = tokenize_pack(docs, n_merges=8, seq_len=128)
    return shards.select(
        "seq_id",
        F.size("token_ids").cast("bigint").alias("n_tokens"),
        F.xxhash64(
            F.concat_ws(",", F.transform("token_ids", lambda i: i.cast("string")))
        ).alias("ids_hash"),
    ).orderBy("seq_id")


def _robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots-exclusion verdict for every page of the synth crawl
    against deterministic per-host robots.txt bodies (wildcards, $ anchors,
    allow-overrides, agent-specific groups, hosts with no robots at all).
    ONE host equi-join + ONE Arrow decision pass (robots-less hosts take
    the constant vectorized default-allow path inside it — the JVM
    filter/union alternative recomputes the join per branch;
    spark/robots.py).  Rows-only: REP longest-match
    semantics have no SQL twin; gates in tests/test_robots.py
    (independent regex-free brute-force twin over every page, RFC §5
    examples, CPython-robotparser divergence documented)."""
    from pyspark.sql import functions as F

    from .robots import robots_filter, synth_robots_df

    pages = _webgraph_pages(spark)
    hosts = [
        r["host"]
        for r in pages.select(
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("host")
        )
        .distinct()
        .collect()
    ]
    robots = synth_robots_df(spark, hosts)
    return robots_filter(pages, robots, agent="extractor-spark").orderBy("url")


def _ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC): train a per-language bigram LM on a held-out split, score every
    document's log-perplexity under it, and cut each language into the
    classic head/middle/tail tertiles (head = lowest perplexity).  The LM
    is stupid backoff (Brants et al. 2007, alpha=0.4) with an add-one
    smoothed unigram floor, so unseen bigrams AND unseen tokens score
    finitely.  Train split = docs with even doc_id (deterministic stand-in
    for CCNet's external Wikipedia LM); all docs are scored.

    Scale shape (the point at 100 TB):
    - counting: ONE explode of <s>-prefixed bigrams over the train split →
      map-side-combined counts keyed (lang, prev, cur), PERSISTED; context
      totals, unigram counts and language totals are all derived from that
      model table (a token appears exactly once as `cur`), so the corpus
      is scanned exactly twice end-to-end — once to count, once to score
      (plan-audited; the per-doc score table is persisted before its two
      consumer branches for the same reason).
    - scoring: the score-side bigram stream shuffles ONCE to meet the
      bigram model on (lang, prev, cur); the unigram backoff model is
      VOCAB-bounded (≈10M entries/lang on a full crawl) so it rides a
      broadcast join — one full-corpus shuffle total before the per-doc
      agg, and no vocab ever reaches the driver.
    - tertiles: per-doc log-ppl is fixed-pointed to millis and histogrammed
      — the histogram is bounded by the log-ppl RANGE (a few thousand rows
      per language), so the cumulative-count window that finds exact
      tertile cutoffs is a small-table operation regardless of corpus size
      (the per-doc alternative — a rank window per language — would funnel
      every doc of a language through one reducer).
    Rows-only: no DuckDB twin (float log-sums across engines); gates in
    tests/test_ccnet_perplexity.py — exact integer equality of every
    lp_micro and bucket against an independent pandas LM, determinism,
    repeated-text-vs-scrambled-text separation, and an engineered
    unseen-token doc exercising the backoff floor.
    """
    _views(spark, sf_dir)
    return ccnet_perplexity_frame(spark.table("documents"))


def ccnet_perplexity_frame(documents: DataFrame) -> DataFrame:
    """Core of _ccnet_perplexity over an explicit documents frame
    (doc_id, lang, text) — separated so tests can run it on engineered
    corpora without touching the registered views."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = documents.select(
        "doc_id",
        "lang",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
        ).alias("w"),
    ).filter(F.size("w") > 0)
    # per-doc bigram stream with a BOS context: (prev_i, cur_i) where
    # prev = <s> ++ w[:-1] — built array-side so no per-doc window shuffle
    bigrams = docs.select(
        "doc_id",
        "lang",
        (F.pmod(F.col("doc_id"), F.lit(2)) == 0).alias("is_train"),
        F.explode(
            F.zip_with(
                F.concat(
                    F.array(F.lit("<s>")),
                    F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                ),
                F.col("w"),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "is_train", "bg.prev", "bg.cur")

    train = bigrams.filter("is_train")
    # ONE corpus-side pass builds the whole LM: every derived table below
    # (context totals, unigram counts, language totals) is an aggregate of
    # the model-sized bigram table, not of the corpus.  bigram_cnt is
    # persisted because four branches read it — without the persist the
    # plan re-runs the train-side explode+count per branch (audited: 12
    # parquet scans, 0 reused exchanges on the naive form).
    bigram_cnt = train.groupBy("lang", "prev", "cur").agg(
        F.count("*").alias("bg_cnt")
    ).persist()
    caches.register(bigram_cnt)
    ctx_cnt = bigram_cnt.groupBy("lang", "prev").agg(
        F.sum("bg_cnt").alias("ctx_cnt")
    )
    bigram_model = bigram_cnt.join(ctx_cnt, ["lang", "prev"])
    # unigram counts: every train token appears exactly once as `cur`, so
    # token counts fall out of the bigram table — no second corpus pass
    token_cnt = bigram_cnt.groupBy("lang", "cur").agg(
        F.sum("bg_cnt").alias("tok_cnt")
    )
    lang_tot = token_cnt.groupBy("lang").agg(
        F.sum("tok_cnt").alias("lang_total"),
        F.count("*").alias("vocab"),
    )

    # unigram backoff model: bounded by VOCAB (≈10M entries per language on
    # a full crawl — broadcastable), unlike the bigram table which scales
    # with corpus content and must be met by shuffle
    uni_model = token_cnt.join(lang_tot, ["lang"]).select(
        "lang",
        "cur",
        (
            F.log(F.lit(0.4))
            + F.log(
                (F.col("tok_cnt") + 1) / (F.col("lang_total") + F.col("vocab") + 1)
            )
        ).alias("backoff_logp"),
    )
    stream = bigrams.select("doc_id", "lang", "prev", "cur")
    scored_stream = (
        stream.join(bigram_model, ["lang", "prev", "cur"], "left")
        .join(F.broadcast(uni_model), ["lang", "cur"], "left")
        .join(F.broadcast(lang_tot), ["lang"], "left")
        .select(
            "doc_id",
            "lang",
            F.when(
                F.col("bg_cnt").isNotNull(),
                F.log(F.col("bg_cnt") / F.col("ctx_cnt")),
            )
            .otherwise(
                F.coalesce(
                    F.col("backoff_logp"),
                    # token (or whole language) absent from train: add-one
                    # floor over whatever mass the language has (0 if none)
                    F.log(F.lit(0.4))
                    + F.log(
                        1
                        / (
                            F.coalesce(F.col("lang_total"), F.lit(0))
                            + F.coalesce(F.col("vocab"), F.lit(0))
                            + 1
                        )
                    ),
                )
            )
            .alias("logp"),
        )
    )
    scored = (
        scored_stream.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum("logp").alias("lp_sum"))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.rint(-F.col("lp_sum") / F.col("n_tokens") * 1e6)
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    # scores feed two branches (the cutoff histogram and the output join):
    # persist the doc-sized table so the full scoring join chain runs once
    scored = scored.persist()
    caches.register(scored)
    # exact per-language tertile cutoffs from a BOUNDED milli-resolution
    # histogram (integer ops only — reproduced bit-for-bit by the twin)
    milli = scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "lp_micro",
        F.floor((F.col("lp_micro") + 500) / 1000).cast("bigint").alias("lp_milli"),
    )
    hist = milli.groupBy("lang", "lp_milli").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy("lp_milli").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "lang", "lp_milli", F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("lp_milli"))).alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("lp_milli"))).alias(
            "c2"
        ),
    )
    out = milli.join(F.broadcast(cuts), ["lang"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        "lp_micro",
        F.when(F.col("lp_milli") <= F.col("c1"), F.lit("head"))
        .when(F.col("lp_milli") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Classifier evaluation: ROC-AUC of a quality score against weak labels
# (Mann-Whitney rank-sum with average-rank tie handling), exact integer
# arithmetic end-to-end so the DuckDB twin matches bit-for-bit.
#
# Score under evaluation: stopword ratio in millis (the classic "is this
# natural prose" signal every quality filter in the repo uses); weak label:
# lang = 'en'.  Grouped per source so the output is a 5-row evaluation table.
#
# Scale shape: one shuffle on (source, score_milli) — score is milli-bucketed
# so the distinct-key cardinality is bounded at ~1001 per source regardless
# of corpus size; the rank window runs over those distinct scores, never over
# documents (same bounded-histogram trick as ccnet_perplexity's tertiles).
# AUC identity with ties: 2*R_pos = Σ p_s*(2*c_s + t_s + 1) over score
# groups (p=positives, t=total, c=cumulative count of strictly-lower scores),
# AUC = (2*R_pos - n_pos*(n_pos+1)) / (2*n_pos*n_neg) — all BIGINT until the
# final micro-precision integer division.
_AUC_SPARK = f"""
WITH feats AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         (1000 * CAST(size(filter(split(trim(text), '\\\\s+'), t -> t IN {_STOPWORDS})) AS BIGINT))
           DIV CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS score_milli
  FROM documents
), per_score AS (
  SELECT source, score_milli,
         CAST(SUM(pos) AS BIGINT) AS p,
         COUNT(*) AS t
  FROM feats GROUP BY source, score_milli
), ranked AS (
  SELECT source, p, t,
         COALESCE(SUM(t) OVER (PARTITION BY source ORDER BY score_milli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM per_score
)
SELECT source,
       SUM(p) AS n_pos,
       SUM(t) - SUM(p) AS n_neg,
       SUM(p * (2 * c + t + 1)) - SUM(p) * (SUM(p) + 1) AS auc_num,
       2 * SUM(p) * (SUM(t) - SUM(p)) AS auc_den,
       CASE WHEN SUM(p) = 0 OR SUM(t) = SUM(p) THEN NULL
            ELSE (1000000 * (SUM(p * (2 * c + t + 1)) - SUM(p) * (SUM(p) + 1)))
                 DIV (2 * SUM(p) * (SUM(t) - SUM(p))) END AS auc_micro
FROM ranked
GROUP BY source
ORDER BY source
"""
_AUC_DUCK = f"""
WITH feats AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         (1000 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN {_STOPWORDS})) AS BIGINT))
           // CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS score_milli
  FROM documents
), per_score AS (
  SELECT source, score_milli,
         CAST(SUM(pos) AS BIGINT) AS p,
         COUNT(*) AS t
  FROM feats GROUP BY source, score_milli
), ranked AS (
  SELECT source, p, t,
         COALESCE(SUM(t) OVER (PARTITION BY source ORDER BY score_milli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM per_score
)
SELECT source,
       CAST(SUM(p) AS BIGINT) AS n_pos,
       CAST(SUM(t) - SUM(p) AS BIGINT) AS n_neg,
       CAST(SUM(p * (2 * c + t + 1)) - SUM(p) * (SUM(p) + 1) AS BIGINT) AS auc_num,
       CAST(2 * SUM(p) * (SUM(t) - SUM(p)) AS BIGINT) AS auc_den,
       CAST(CASE WHEN SUM(p) = 0 OR SUM(t) = SUM(p) THEN NULL
            ELSE (1000000 * (SUM(p * (2 * c + t + 1)) - SUM(p) * (SUM(p) + 1)))
                 // (2 * SUM(p) * (SUM(t) - SUM(p))) END AS BIGINT) AS auc_micro
FROM ranked
GROUP BY source
ORDER BY source
"""

# PMI collocation mining (pointwise mutual information over adjacent-token
# bigrams — the classic corpus-statistics operator behind phrase detection
# and tokenizer-vocab seeding): pmi = ln(p(xy) / (p(x)·p(y))) with p(xy)
# over bigram mass and p(x) over unigram mass, min bigram count 5.
#
# Scale shape: one explode + shuffle for unigram counts, one for bigram
# counts (both map-side combined), then the bigram table joins its two
# unigram marginals — vocab-keyed joins, corpus never re-shuffled; totals
# are 1-row broadcasts.  The count products are cast to DOUBLE before
# multiplying (BIGINT c_xy·Nu² would overflow at web scale).  Like
# bm25_topk, the float pmi is rounded to 4 decimals in BOTH dialects
# before the sort so libm ulp differences cannot reorder the top-k; the
# exact integer counts ride along for downstream use.
# Spark side is a callable (not pure SQL): the unigram-count table is
# VOCAB-sized, and inline CTEs re-evaluate per consumer — as SQL, `uni`
# was rebuilt three times (ux join, uy join, n_uni total), i.e. three full
# corpus tokenize+groupBy passes for one vocab table.  Persisting the
# vocab-sized aggregate replaces them with 3 InMemoryTableScans.  Local
# measurement at sf0.1 is a wash (best-of-3: 1.5 s inline vs 1.8 s
# persisted — the cache-materialization barrier costs about what the
# redundant 5k-doc re-aggregation saves, within host variance); the
# persisted form is kept because the inline form's cost is 3 FULL corpus
# tokenize passes, which is what grows at 100 TB while the persist stays
# O(vocab).  The DuckDB twin keeps the single-statement form.
_PMI_UNI_SQL = """
SELECT w, CAST(COUNT(*) AS BIGINT) AS c
FROM (SELECT split(trim(lower(text)), '\\\\s+') AS t FROM documents)
LATERAL VIEW explode(t) u AS w
GROUP BY w
"""
_PMI_SPARK = """
WITH toks AS (
  SELECT split(trim(lower(text)), '\\\\s+') AS t FROM documents
), uni AS (
  SELECT w, c FROM pmi_uni
), nu AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni
), big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT element_at(t, i) AS w1, element_at(t, i + 1) AS w2
    FROM toks LATERAL VIEW explode(sequence(1, size(t) - 1)) b AS i
    WHERE size(t) >= 2
  )
  GROUP BY w1, w2 HAVING COUNT(*) >= 5
), nb AS (
  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_big FROM (
    SELECT CAST(size(t) - 1 AS BIGINT) AS c_xy FROM toks WHERE size(t) >= 2
  )
)
SELECT b.w1, b.w2, b.c_xy, ux.c AS c_x, uy.c AS c_y,
       round(ln((CAST(b.c_xy AS DOUBLE) * CAST(n.n_uni AS DOUBLE) * CAST(n.n_uni AS DOUBLE))
                / (CAST(m.n_big AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))), 4)
         AS pmi_r4
FROM big b
JOIN uni ux ON b.w1 = ux.w
JOIN uni uy ON b.w2 = uy.w
CROSS JOIN nu n CROSS JOIN nb m
ORDER BY pmi_r4 DESC, b.w1, b.w2
LIMIT 50
"""
_PMI_DUCK = """
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
), nu AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni
), big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 2)
  )
  GROUP BY w1, w2 HAVING COUNT(*) >= 5
), nb AS (
  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_big FROM (
    SELECT CAST(len(t) - 1 AS BIGINT) AS c_xy FROM toks WHERE len(t) >= 2
  )
)
SELECT b.w1, b.w2, b.c_xy, ux.c AS c_x, uy.c AS c_y,
       round(ln((CAST(b.c_xy AS DOUBLE) * CAST(n.n_uni AS DOUBLE) * CAST(n.n_uni AS DOUBLE))
                / (CAST(m.n_big AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))), 4)
         AS pmi_r4
FROM big b
JOIN uni ux ON b.w1 = ux.w
JOIN uni uy ON b.w2 = uy.w
CROSS JOIN nu n CROSS JOIN nb m
ORDER BY pmi_r4 DESC, b.w1, b.w2
LIMIT 50
"""


def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    uni = spark.sql(_PMI_UNI_SQL).persist()
    caches.register(uni)
    uni.createOrReplaceTempView("pmi_uni")
    return spark.sql(_PMI_SPARK)


# Sliding context windows (RAG / long-context chunking): each document is
# cut into windows of 32 tokens with stride 24 (25% overlap), the standard
# "chunk with overlap" retrieval layout.  A document shorter than one
# window yields exactly one chunk (its whole text); chunk starts are
# 1, 25, 49, … and the LAST window is the one whose start is the largest
# stride point < n_tokens (no empty tail chunks).  Pure per-row array math
# — map-only, zero shuffles, embarrassingly parallel at any scale.
_CHUNKS_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS t FROM documents
)
SELECT doc_id,
       CAST((i - 1) DIV 24 AS BIGINT) AS chunk_id,
       CAST(i AS BIGINT) AS start_token,
       CAST(least(32, size(t) - i + 1) AS BIGINT) AS n_chunk_tokens,
       concat_ws(' ', slice(t, i, 32)) AS chunk_text
FROM toks LATERAL VIEW explode(sequence(1, greatest(size(t) - 1, 1), 24)) c AS i
ORDER BY doc_id, chunk_id
"""
_CHUNKS_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
)
SELECT doc_id,
       CAST((i - 1) // 24 AS BIGINT) AS chunk_id,
       CAST(i AS BIGINT) AS start_token,
       CAST(least(32, len(t) - i + 1) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(t, i, i + 31), ' ') AS chunk_text
FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 1), 24)) AS i
      FROM toks)
ORDER BY doc_id, chunk_id
"""

# Per-source distribution drift: KL(P_source ‖ P_corpus) over unigram
# distributions — the monitoring statistic mixture pipelines watch to
# catch a source whose content shifted (scraper broke, spam flood,
# template change) before it pollutes a training mix.  The corpus
# distribution is derived FROM the per-source count table (one corpus
# tokenize pass total); every downstream join/agg is vocab-sized.  KL is
# well-defined without smoothing because each source's vocabulary is a
# subset of the corpus vocabulary by construction.  Rounded to 4 dp in
# both dialects so summation-order ulps can't differ (BM25 precedent).
#
# Spark side is a callable persisting the vocab×source count table
# (the PMI rationale: inline CTEs re-evaluate per consumer, and sc has
# three consumers — the KL join, the corpus distribution, the per-source
# totals; persist is O(vocab×sources), the re-evaluations are full
# corpus passes).
_SOURCE_KL_SC_SQL = """
SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
FROM (SELECT source, split(trim(lower(text)), '\\\\s+') AS t FROM documents)
LATERAL VIEW explode(t) u AS w
GROUP BY source, w
"""
_SOURCE_KL_SPARK = """
WITH sc AS (SELECT source, w, c FROM source_kl_sc),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM sc GROUP BY w),
ctot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cc)
SELECT s.source,
       stot.n AS n_tokens,
       CAST(round(SUM((CAST(s.c AS DOUBLE) / CAST(stot.n AS DOUBLE))
                * ln((CAST(s.c AS DOUBLE) / CAST(stot.n AS DOUBLE))
                     / (CAST(g.c AS DOUBLE) / CAST(ctot.n AS DOUBLE)))), 4)
            AS DOUBLE) AS kl_r4
FROM sc s
JOIN stot ON s.source = stot.source
JOIN cc g ON s.w = g.w
CROSS JOIN ctot
GROUP BY s.source, stot.n
ORDER BY s.source
"""
_SOURCE_KL_DUCK = """
WITH sc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  GROUP BY source, w
),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM sc GROUP BY w),
ctot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cc)
SELECT s.source,
       stot.n AS n_tokens,
       CAST(round(SUM((CAST(s.c AS DOUBLE) / CAST(stot.n AS DOUBLE))
                * ln((CAST(s.c AS DOUBLE) / CAST(stot.n AS DOUBLE))
                     / (CAST(g.c AS DOUBLE) / CAST(ctot.n AS DOUBLE)))), 4)
            AS DOUBLE) AS kl_r4
FROM sc s
JOIN stot ON s.source = stot.source
JOIN cc g ON s.w = g.w
CROSS JOIN ctot
GROUP BY s.source, stot.n
ORDER BY s.source
"""


def _source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    sc_df = spark.sql(_SOURCE_KL_SC_SQL).persist()
    caches.register(sc_df)
    sc_df.createOrReplaceTempView("source_kl_sc")
    return spark.sql(_SOURCE_KL_SPARK)


# BM25 top-k retrieval (Robertson/Sparck-Jones probabilistic ranking,
# k1=1.2, b=0.75, the Lucene-style idf = ln(1 + (N-df+0.5)/(df+0.5)) which
# is always positive) for a fixed 4-term query over the documents corpus.
#
# Scale shape: the postings CTE is a map-only scan (per-row array filter
# against 4 broadcast-small query terms — no corpus explode, no term
# shuffle); df is a 4-row aggregate; the scoring join broadcasts df and the
# 1-row corpus stats.  The tf CTE is inlined twice by Catalyst (df + scored
# — the documented CTE-inline behavior), i.e. two map-only corpus scans
# feeding a 4-row agg and a bounded join: embarrassingly parallel at 100×.
# Scores rounded to 4 decimals in BOTH dialects before the final sort so
# ulp-level ln()/division differences between the JVM and DuckDB's libm
# cannot reorder the top-k boundary.
_BM25_TERMS_SPARK = "array('spark', 'join', 'window', 'stream')"
_BM25_TERMS_DUCK = "['spark', 'join', 'window', 'stream']"
_BM25_SPARK = f"""
WITH toks AS (
  SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS toks FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         AVG(CAST(size(toks) AS DOUBLE)) AS avgdl
  FROM toks
), q AS (
  SELECT explode({_BM25_TERMS_SPARK}) AS term
), tf AS (
  SELECT t.doc_id, q.term,
         CAST(size(filter(t.toks, x -> x = q.term)) AS BIGINT) AS tf,
         CAST(size(t.toks) AS BIGINT) AS dl
  FROM toks t CROSS JOIN q
  WHERE size(filter(t.toks, x -> x = q.term)) > 0
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25_r4
FROM scored
ORDER BY round(score, 4) DESC, doc_id
LIMIT 20
"""

# Exact-substring deduplication, APPLY step (the rewrite half of
# dup_ngram_spans' find step — the "remove duplicated substrings, keep one
# occurrence" semantics of suffix-array dedup pipelines): every 4-token
# span that occurs ≥2 times anywhere in the corpus is removed from every
# occurrence EXCEPT the globally first one (min (doc_id, pos) — encoded as
# doc_id*2^20+pos, exact while docs stay under 2^20 tokens; web documents
# do, and the production path would widen the key).  Overlapping removals
# union through a distinct covered-index set per document, and the text is
# rebuilt by index filtering so token order is preserved exactly.
#
# Scale shape: the gram explode is O(total tokens) rows shuffled once on
# span; hot spans fan out k×1 against their 1-row stats (linear, unlike a
# k² pair join); the covered-index rebuild is one doc_id shuffle.  This is
# the deliberately-exact bounded-scale baseline — at 100 TB the find step
# runs on hashed grams with a Bloom/frequency sketch instead of raw span
# strings, but the rewrite semantics stay exactly these.
_EXACT_SUBSTR_DEDUP_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, i AS pos, concat_ws(' ', slice(t, i, 4)) AS span
  FROM toks LATERAL VIEW explode(sequence(1, size(t) - 3)) x AS i
  WHERE size(t) >= 4
), span_stats AS (
  SELECT span,
         MIN(doc_id * 1048576 + pos) AS first_key
  FROM grams GROUP BY span HAVING COUNT(*) >= 2
), covered AS (
  SELECT g.doc_id, collect_set(idx) AS drop_idx
  FROM grams g
  JOIN span_stats s ON g.span = s.span
  LATERAL VIEW explode(sequence(g.pos, g.pos + 3)) c AS idx
  WHERE g.doc_id * 1048576 + g.pos <> s.first_key
  GROUP BY g.doc_id
)
SELECT k.doc_id,
       CAST(size(k.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(size(c.drop_idx), 0) AS BIGINT) AS n_dropped,
       concat_ws(' ', transform(
         filter(sequence(1, size(k.t)),
                i -> NOT array_contains(coalesce(c.drop_idx, array(-1)), i)),
         i -> element_at(k.t, i))) AS deduped_text
FROM toks k LEFT JOIN covered c ON k.doc_id = c.doc_id
ORDER BY k.doc_id
"""
_EXACT_SUBSTR_DEDUP_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, i AS pos, array_to_string(list_slice(t, i, i + 3), ' ') AS span
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 4)
), span_stats AS (
  SELECT span,
         MIN(doc_id * 1048576 + pos) AS first_key
  FROM grams GROUP BY span HAVING COUNT(*) >= 2
), covered AS (
  SELECT doc_id, list(DISTINCT idx) AS drop_idx
  FROM (SELECT g.doc_id, g.pos, unnest(generate_series(g.pos, g.pos + 3)) AS idx
        FROM grams g
        JOIN span_stats s ON g.span = s.span
        WHERE g.doc_id * 1048576 + g.pos <> s.first_key)
  GROUP BY doc_id
)
SELECT k.doc_id,
       CAST(len(k.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(c.drop_idx), 0) AS BIGINT) AS n_dropped,
       coalesce(array_to_string(list_transform(
         list_filter(generate_series(1, len(k.t)),
                     i -> NOT list_contains(coalesce(c.drop_idx, [-1]), i)),
         i -> k.t[i]), ' '), '') AS deduped_text
FROM toks k LEFT JOIN covered c ON k.doc_id = c.doc_id
ORDER BY k.doc_id
"""
_BM25_DUCK = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         AVG(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM toks
), q AS (
  SELECT unnest({_BM25_TERMS_DUCK}) AS term
), tf AS (
  SELECT t.doc_id, q.term,
         CAST(len(list_filter(t.toks, x -> x = q.term)) AS BIGINT) AS tf,
         CAST(len(t.toks) AS BIGINT) AS dl
  FROM toks t CROSS JOIN q
  WHERE len(list_filter(t.toks, x -> x = q.term)) > 0
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25_r4
FROM scored
ORDER BY round(score, 4) DESC, doc_id
LIMIT 20
"""

# Per-domain document quota (crawl-pipeline "domain cap": no single site may
# contribute more than N documents to the training set — the C4/RefinedWeb
# anti-spam measure).  Keep the best CAP docs per source by length, with an
# md5(doc_id) tiebreak so the choice is deterministic and identical across
# engines (Spark and DuckDB md5 both emit lowercase hex over UTF-8 bytes).
# Scale shape: ONE shuffle on source; Spark 4 plants a WindowGroupLimit
# below the sort (rank-filter pushdown), so each partition keeps only CAP
# rows per key before the full window sort — a hot domain with 10^9 pages
# costs top-CAP per map task, not a 10^9-row per-key sort.  Plan-pinned in
# tests/test_mixture_quota.py.
_SOURCE_QUOTA_CAP = 12
_SOURCE_QUOTA_SPARK = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY n_chars DESC, md5(CAST(doc_id AS STRING)), doc_id
         ) AS src_rank
  FROM documents
)
SELECT doc_id, source, n_chars, CAST(src_rank AS BIGINT) AS src_rank
FROM ranked
WHERE src_rank <= {_SOURCE_QUOTA_CAP}
ORDER BY source, src_rank
"""
_SOURCE_QUOTA_DUCK = _SOURCE_QUOTA_SPARK.replace("AS STRING", "AS VARCHAR")

# Data-mixture resampling (The-Pile/DoReMi application step): given target
# per-language document budgets, draw exactly min(budget, available) docs
# per language, chosen by a deterministic seeded order (md5 of doc_id — a
# uniform hash, so the draw is an unbiased sample yet reproducible and
# engine-independent).  Budgets sum to ~200 on the 500-doc sf0.01 corpus so
# every language is genuinely subsampled at bench scale.  Scale shape: ONE
# shuffle on lang (5 keys → WindowGroupLimit bounds per-key state exactly as
# above); budgets are a broadcast-small inline table.
_MIXTURE_TARGETS = [("en", 60), ("de", 50), ("fr", 40), ("es", 30), ("zh", 20)]
_MIXTURE_TARGETS_SQL = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, {n} AS n_take" for lang, n in _MIXTURE_TARGETS
)
_MIXTURE_SAMPLE_SPARK = f"""
WITH targets AS (
  {_MIXTURE_TARGETS_SQL}
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS STRING)), doc_id
         ) AS rnk
  FROM documents
)
SELECT r.doc_id, r.lang, CAST(r.rnk AS BIGINT) AS lang_rank
FROM ranked r
JOIN targets t ON r.lang = t.lang
WHERE r.rnk <= t.n_take
ORDER BY r.lang, lang_rank
"""
_MIXTURE_SAMPLE_DUCK = _MIXTURE_SAMPLE_SPARK.replace("AS STRING", "AS VARCHAR")

# Dirty documents planted into unicode_sanitize_stats so every damage class
# the sanitizer handles (single + double mojibake, C0/C1 controls,
# zero-width chars, BOM, replacement char, denormalized NFC forms) fires at
# driver-run time on every SF — the real testdata corpus is clean ASCII.
_PLANTED_DIRTY = [
    "the companyâ€™s results â€” strong",  # cp1252 mojibake of ’ and —
    "rÃ©sumÃ© for MÃ¼ller",  # latin-1 mojibake of résumé / Müller
    "Ã¢â‚¬Å“quotedÃ¢â‚¬Â twice",  # DOUBLE mojibake of “quoted”
    "null\x00 byte and\x07 bell\x1b[0m escape",  # C0 controls
    "zero​width‍ joiners ﻿BOM �",  # Cf + replacement
    "cafe\u0301 combining acute",  # NFC-denormalized e + U+0301
]


def _unicode_sanitize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode sanitation pass (ftfy-lite: conservative mojibake repair +
    NFC + control/zero-width strip — engine/textclean.py) over the
    documents corpus plus six planted dirty docs (negative doc_ids) so
    the repair path provably fires at driver-run time on every SF.  ONE
    Arrow stage over ONE corpus scan (struct-returning pandas UDF, fields
    projected after), map-only: zero shuffles — embarrassingly parallel
    at 100×.  Rows-only; hand-computed goldens, hypothesis idempotence,
    and Spark≡engine byte equality are pinned in tests/test_textclean.py."""
    from pyspark.sql import functions as F

    from .arrow_udfs import sanitize_text_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = spark.createDataFrame(
        [(-(i + 1), t) for i, t in enumerate(_PLANTED_DIRTY)],
        "doc_id bigint, text string",
    )
    san = docs.unionByName(planted).withColumn(
        "s", sanitize_text_udf()(F.col("text"))
    )
    return san.select(
        "doc_id",
        F.length("s.clean").cast("bigint").alias("clean_n_chars"),
        F.col("s.repairs").cast("bigint").alias("n_mojibake_repairs"),
        F.col("s.removed").cast("bigint").alias("n_chars_removed"),
        (F.col("s.clean") != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with exact rerank (spark/pq.py): train m=8 ×
    k=64 codebooks on a seeded bounded sample, encode the corpus in ONE
    map-only Arrow pass (8 small ints per 64-dim vector), scan the codes
    JVM-side by asymmetric distance (the query's LUT is an array literal;
    the shortlist scan touches no corpus floats, ends in TakeOrdered),
    then exact-cosine rerank ONLY the 80-candidate shortlist via a
    broadcast join.  The IVF-PQ memory-scale path: at 100 TB the codes
    fit in cluster memory while raw vectors stay on disk, and recall
    depends only on shortlist containment, not ADC ordering.  Rows-only
    (k-means not SQL-expressible); gates in tests/test_pq.py: exact numpy
    reconstruction twin for every ADC score, independent nested-loop
    encoder twin, recall@10 floor vs the exact cosine oracle, and a
    no-Python/no-Exchange plan pin on the code scan."""
    from .pq import encode, pq_search, train_pq

    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    codebooks = train_pq(emb)
    codes = encode(emb, codebooks)
    query = spark.sql("SELECT embedding FROM embeddings WHERE vec_id = 0").first()
    return pq_search(
        emb, codes, codebooks, query["embedding"], topk=10, exclude_vec_id=0
    )


# UT1-style blocklist rules over the synth crawl.  Deterministic: two
# synth hosts are category-blocked outright, one deep-subdomain rule and
# one parent-domain rule exercise label-boundary suffix matching (planted
# pages below include the classic "bads.example.org vs ads.example.org"
# string-endswith trap, which must NOT match), and two path-prefix rules
# block URL subtrees on otherwise-allowed hosts.
_BLOCKLIST_DOMAIN_RULES = [
    ("ads.example.org", "ads"),
    ("cdn.site-05.example.org", "tracking"),
    ("site-03.example.org", "adult"),
    ("site-11.example.org", "ads"),
]
_BLOCKLIST_PREFIX_RULES = [
    ("site-02.example.org", "/article/1", "paywall"),
    ("site-07.example.org", "/article/4", "gambling"),
]
_BLOCKLIST_PLANTED_URLS = [
    "https://x.ads.example.org/a/1",  # blocked via parent-domain rule
    "https://ads.example.org/a/2",  # blocked exactly
    "https://bads.example.org/a/3",  # NOT blocked (label-boundary trap)
    "https://cdn.site-05.example.org/t.js",  # deep rule; site-05 itself allowed
    "https://a.b.cdn.site-05.example.org/t2.js",  # two labels under a deep rule
]


def _url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/Blacklists-style URL blocklist verdicts over the synth crawl
    plus five planted adversarial urls (spark/blocklist.py): domain rules
    block a host and every subdomain on LABEL boundaries (``ads.example.org``
    matches ``x.ads.example.org``, never ``bads.example.org``); url-prefix
    rules block path subtrees on an exact host.  One row per (url, rule)
    match.  Scale shape: host suffixes are exploded on label boundaries
    (bounded ≤ ~10/row, bare TLDs dropped) and equi-joined against the
    broadcast rule table — linear in pages, never pages × rules; prefix
    rules are a broadcast host equi-join + JVM startswith; zero Python in
    the matching path.  Rows-only: gates in tests/test_blocklist.py
    (independent urllib+endswith twin over every url, exact match-set
    equality, planted trap urls pinned individually, anti-join filter
    form checked against the twin's keep-set)."""
    from .blocklist import blocklist_matches, domain_rules_df, prefix_rules_df

    pages = _webgraph_pages(spark).select("url")
    planted = spark.createDataFrame(
        [(u,) for u in _BLOCKLIST_PLANTED_URLS], "url string"
    )
    matches = blocklist_matches(
        pages.unionByName(planted),
        domain_rules_df(spark, _BLOCKLIST_DOMAIN_RULES),
        prefix_rules_df(spark, _BLOCKLIST_PREFIX_RULES),
    )
    return matches.orderBy("url", "category", "matched_rule")


# Leakage-safe corpus split: train/valid/test assignment that is CLOSED
# over near-duplicate clusters — the split key is the connected-component
# id of the dedup graph, not the document id, so no near-dup pair can
# straddle train and test (the contamination mode Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" and the
# StarCoder/The-Stack data cards call out: a test document whose near-dup
# sits in train is memorized, not generalized).
_SPLIT_BOUNDS = (90, 95)  # bucket <90 train, <95 valid, else test


def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-closed train/valid/test split (90/5/5): connected components
    over the exact-Jaccard near-dup graph (the oracled dedup_clusters
    edges), then split_bucket = pmod(murmur3(cluster_id), 100) — every
    member of a dup cluster lands in the SAME split by construction.
    Scale shape: the components loop is the existing O(log diameter)
    one-job-per-round star machinery; the split itself adds ZERO shuffles
    — a pure JVM hash expression over the label table.  Rows-only: gates
    in tests/test_leakage_split.py (exact equality vs a DuckDB
    recursive-CTE + bit-identical-Murmur3 twin, closure over every
    near-dup pair, a planted corpus where the naive doc_id-hash split
    provably straddles a dup pair while this one doesn't, and
    nonempty-split proportions at sf0.01)."""
    from pyspark.sql import functions as F

    from extractor_spark.spark.graph import star_components

    _views(spark, sf_dir)
    pairs = spark.sql(_JACCARD_SPARK).selectExpr("d1 AS src", "d2 AS dst")
    labels = star_components(spark.table("documents"), pairs, "doc_id")
    return leakage_split_frame(labels).orderBy("doc_id")


def leakage_split_expr(cluster_col: str = "cluster_id"):
    """(split_bucket, split) Column pair keyed on a cluster-id column —
    the pure-expression core of the leakage-safe split, shared with the
    curation job (jobs/curate.py --split) so both assign identically."""
    from pyspark.sql import functions as F

    lo, hi = _SPLIT_BOUNDS
    bucket = F.pmod(F.hash(F.col(cluster_col).cast("string")), F.lit(100))
    split = (
        F.when(bucket < lo, "train").when(bucket < hi, "valid").otherwise("test")
    )
    return bucket.cast("long"), split


def leakage_split_frame(labels: DataFrame) -> DataFrame:
    """Split assignment over an explicit (doc_id, cluster_id) label frame —
    separated so tests can run it on engineered cluster graphs."""
    from pyspark.sql import functions as F

    bucket, split = leakage_split_expr("cluster_id")
    return labels.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        bucket.alias("split_bucket"),
        split.alias("split"),
    )


# Exact-phrase search over a positional index (quote attribution /
# contamination auditing / "which docs contain this sentence").  The
# registry form is the fused fixed-k=3 plan: ONE trigram explode pass over
# the corpus (the positional trigram index in flat form), broadcast-joined
# against a deterministic query set of 3-token phrases drawn from the
# corpus itself (tokens 5..7 of every 50th doc), aggregated to
# per-(phrase, doc) hit counts — one corpus pass, one broadcast join, one
# aggregation shuffle, positional ADJACENCY enforced by construction.
# The general-k / stored-index production path is spark/phraseindex.py
# (build once term-clustered, serve many with a pushdown-pruned scan);
# tests/test_phrase_search.py pins that path against a brute-force twin
# and pins this query's fused form equal to serving the same phrases
# from a stored index.
_PHRASE_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS t FROM documents
), q AS (
  SELECT doc_id AS phrase_id,
         concat_ws(' ', slice(t, 5, 3)) AS phrase,
         element_at(t, 5) AS w0, element_at(t, 6) AS w1, element_at(t, 7) AS w2
  FROM toks WHERE doc_id % 50 = 0 AND size(t) >= 7
), tri AS (
  SELECT doc_id, i AS pos, element_at(t, i) AS w0,
         element_at(t, i + 1) AS w1, element_at(t, i + 2) AS w2
  FROM toks LATERAL VIEW explode(sequence(1, size(t) - 2)) p AS i
  WHERE size(t) >= 3
)
SELECT q.phrase_id, q.phrase, tri.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(tri.pos) AS BIGINT) AS first_pos
FROM q JOIN tri ON tri.w0 = q.w0 AND tri.w1 = q.w1 AND tri.w2 = q.w2
GROUP BY q.phrase_id, q.phrase, tri.doc_id
ORDER BY q.phrase_id, tri.doc_id
"""
_PHRASE_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), q AS (
  SELECT doc_id AS phrase_id,
         array_to_string(t[5:7], ' ') AS phrase,
         t[5] AS w0, t[6] AS w1, t[7] AS w2
  FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 7
), tri AS (
  SELECT doc_id, i AS pos, t[i] AS w0, t[i + 1] AS w1, t[i + 2] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3)
)
SELECT q.phrase_id, q.phrase, tri.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(tri.pos) AS BIGINT) AS first_pos
FROM q JOIN tri ON tri.w0 = q.w0 AND tri.w1 = q.w1 AND tri.w2 = q.w2
GROUP BY q.phrase_id, q.phrase, tri.doc_id
ORDER BY q.phrase_id, tri.doc_id
"""


# BATCH BM25 ranked retrieval (same Okapi constants as the single-probe
# bm25_topk above: k1=1.2, b=0.75, Lucene's non-negative idf).  Where
# bm25_topk scores ONE fixed 4-term query with a map-only per-row array
# filter, this is the batch-serving shape: a query SET joined against
# exploded postings — the retrieval complement to phrase_search's exact
# positional matching.  Query set is
# deterministic from the corpus (the 3 distinct tokens at positions 5..7 of
# every 50th doc).  Scale shape: the query-term set is tiny, so the
# IN-subquery semi-join broadcasts and the corpus explode FILTERS to query
# terms before the tf aggregation — the only corpus-sized shuffle carries
# matching postings only.  Per-term document frequency is a window over the
# already-filtered postings (the exact-Jaccard DF-window pattern), NOT a
# second corpus pass; doc lengths/avgdl are a separate no-explode pass.
# Scores rounded to 4dp so ranking is cross-engine identical (the
# embedding-query precedent); ties break on doc_id.
def _bm25_ctes(toks: str, szfn: str, q: str, post_inner: str) -> str:
    """The BM25-batch CTE chain shared by both dialects AND by the
    retrieval_rank_eval statement below (the _fineweb_sql precedent: one
    builder, so twin parity of composite statements reduces to parity of
    the dialect fragments)."""
    return f"""
WITH toks AS (
  {toks}
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg({szfn}(t)) AS avgdl FROM toks
), q AS (
  {q}
), post AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM ({post_inner})
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY doc_id, term
), postdf AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM post
), scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(round(SUM(
           ln((s.n_docs - p.df + 0.5) / (p.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
         ), 4) AS DOUBLE) AS score
  FROM q JOIN postdf p ON p.term = q.term CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
)"""


_BM25_TOPK_TAIL = """
SELECT query_id, doc_id, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) r
WHERE rn <= 10
ORDER BY query_id, score DESC, doc_id
"""

_BM25_SPARK_FRAGS = dict(
    toks="SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS t FROM documents",
    szfn="size",
    q="""SELECT doc_id AS query_id, term
  FROM toks LATERAL VIEW explode(array_distinct(slice(t, 5, 3))) qt AS term
  WHERE doc_id % 50 = 0 AND size(t) >= 7""",
    post_inner="""
    SELECT doc_id, size(t) AS dl, term
    FROM toks LATERAL VIEW explode(t) tok AS term
  """,
)
_BM25_DUCK_FRAGS = dict(
    toks="""SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents""",
    szfn="len",
    q="""SELECT doc_id AS query_id, unnest(list_distinct(t[5:7])) AS term
  FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 7""",
    post_inner="SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks",
)

_BM25_BATCH_SPARK = _bm25_ctes(**_BM25_SPARK_FRAGS) + _BM25_TOPK_TAIL
_BM25_BATCH_DUCK = _bm25_ctes(**_BM25_DUCK_FRAGS) + _BM25_TOPK_TAIL


# Retrieval ranking evaluation (the graded-relevance complement to
# quality_auc_by_source's binary ROC-AUC): NDCG@10 and MRR of the pinned
# BM25 ranking against deterministic graded qrels.  Qrels are derived from
# the corpus itself — grade(q, d) = number of DISTINCT query terms of q
# that appear in d (1..|q| because `post` only carries docs sharing ≥1
# term; the BM25 scored set and the qrel universe coincide by
# construction, so the top-10 join is total).  DCG uses the standard
# exponential-gain form Σ (2^grade − 1) / log2(rank + 1) (Järvelin &
# Kekäläinen 2002); IDCG re-ranks the qrels by grade DESC, doc_id ASC;
# MRR is 1/rank of the first top-10 doc with grade ≥ 2, 0 when none.
# Every query retrieves its own source doc (grade = |q|), so IDCG > 0
# always.  Scale shape: inherits the BM25 CTEs' shape (tiny broadcast
# query join, postings-only shuffle); the eval adds per-query top-10
# windows and a qrel aggregation over the same filtered postings — no new
# corpus pass.  Rounded to 4dp for cross-engine identity.
_RANK_EVAL_TAIL = """,
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
), qrel AS (
  SELECT q.query_id, p.doc_id, CAST(count(*) AS DOUBLE) AS grade
  FROM q JOIN post p ON p.term = q.term
  GROUP BY q.query_id, p.doc_id
), hits AS (
  SELECT r.query_id, r.rnk, g.grade
  FROM ranked r JOIN qrel g ON g.query_id = r.query_id AND g.doc_id = r.doc_id
  WHERE r.rnk <= 10
), dcg AS (
  SELECT query_id,
         SUM((power(2.0, grade) - 1.0) / log2(rnk + 1.0)) AS dcg10,
         COALESCE(MAX(CASE WHEN grade >= 2 THEN 1.0 / rnk END), 0.0) AS mrr2
  FROM hits GROUP BY query_id
), ideal AS (
  SELECT query_id,
         SUM((power(2.0, grade) - 1.0) / log2(irnk + 1.0)) AS idcg10
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id ASC) AS irnk
        FROM qrel) iq
  WHERE irnk <= 10 GROUP BY query_id
), nrel AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qrel GROUP BY query_id
)
SELECT d.query_id,
       CAST(round(d.dcg10 / i.idcg10, 4) AS DOUBLE) AS ndcg10,
       CAST(round(d.mrr2, 4) AS DOUBLE) AS mrr_g2,
       n.n_rel
FROM dcg d
JOIN ideal i ON i.query_id = d.query_id
JOIN nrel n ON n.query_id = d.query_id
ORDER BY d.query_id
"""

_RANK_EVAL_SPARK = _bm25_ctes(**_BM25_SPARK_FRAGS) + _RANK_EVAL_TAIL
_RANK_EVAL_DUCK = _bm25_ctes(**_BM25_DUCK_FRAGS) + _RANK_EVAL_TAIL

# Spark 4 inlines CTEs: the fused _RANK_EVAL_SPARK re-evaluates `post` and
# `q` at every reference (plan-audited: 17 parquet scans / 16 explodes /
# 0 ReusedExchange).  The registry runs this decomposed form instead —
# `q` (query legs, tiny) and `post` (postings filtered to query terms,
# query-vocab-bounded) are PERSISTED once and every downstream CTE reads
# the cached tables: 3 corpus passes total (q tokenize, post explode,
# no-explode stats) instead of 16.  DuckDB materializes CTEs, so the twin
# keeps the fused statement; tests pin decomposed ≡ fused on Spark.
_RANK_Q_SPARK = """
SELECT doc_id AS query_id, term
FROM (SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS t FROM documents)
LATERAL VIEW explode(array_distinct(slice(t, 5, 3))) qt AS term
WHERE doc_id % 50 = 0 AND size(t) >= 7
"""
_RANK_POST_SPARK = """
SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
FROM (
  SELECT doc_id, size(t) AS dl, term
  FROM (SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS t FROM documents)
  LATERAL VIEW explode(t) tok AS term
)
WHERE term IN (SELECT DISTINCT term FROM rank_q)
GROUP BY doc_id, term
"""
_RANK_EVAL_MAIN_SPARK = """
WITH q AS (SELECT * FROM rank_q),
post AS (SELECT * FROM rank_post),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(size(split(trim(lower(text)), '\\\\s+'))) AS avgdl
  FROM documents
), postdf AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM post
), scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(round(SUM(
           ln((s.n_docs - p.df + 0.5) / (p.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
         ), 4) AS DOUBLE) AS score
  FROM q JOIN postdf p ON p.term = q.term CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
)""" + _RANK_EVAL_TAIL


def _retrieval_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    q = spark.sql(_RANK_Q_SPARK).persist()
    caches.register(q)
    q.createOrReplaceTempView("rank_q")
    post = spark.sql(_RANK_POST_SPARK).persist()
    caches.register(post)
    post.createOrReplaceTempView("rank_post")
    return spark.sql(_RANK_EVAL_MAIN_SPARK)


# Embedding-space benchmark decontamination (the semantic complement to the
# n-gram/Bloom decontaminations): flag corpus vectors whose max cosine to
# ANY benchmark vector clears a threshold.  Benchmark = vec_id % 7 = 0 (a
# deterministic ~1/7 slice, benchmark-suite-sized relative to the corpus);
# threshold 0.42 sits in the synth corpus's weak-similarity regime (the
# driver corpus has no cos>=0.8 pairs — same regime the LSH twin tests use).
_EMB_DECON_THRESHOLD = 0.42


def _embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-cosine flag of corpus embeddings vs a benchmark set, map-only:
    the benchmark matrix is collected (bounded: benchmark-suite-sized, the
    Bloom-bitmap precedent) and numpy-broadcast; one Arrow pass streams the
    corpus and does a single matmul per batch against the pre-normalized
    benchmark — NO shuffle, NO corpus×benchmark intermediate ever
    materialized.  This is the honest 100 TB plan for |benchmark| ~ 10^5:
    brute-force max-sim IS optimal when one side broadcasts.  Cosines
    rounded to 4dp before argmax so the nearest-benchmark attribution and
    the threshold test are cross-engine identical (ties → lowest bench_id,
    matching the twin's ORDER BY cos DESC, bench_id ASC).  TWIN_SQL gate:
    exact equality vs a DuckDB cross-join + window twin at sf0.01."""
    _views(spark, sf_dir)
    emb = spark.table("embeddings")
    return embedding_decontaminate_frame(
        emb.filter("vec_id % 7 <> 0").select("vec_id", "embedding"),
        emb.filter("vec_id % 7 = 0").select("vec_id", "embedding"),
        _EMB_DECON_THRESHOLD,
    ).orderBy("vec_id")


def embedding_decontaminate_frame(
    corpus: DataFrame, bench: DataFrame, threshold: float
) -> DataFrame:
    """Core of embedding_decontaminate over explicit (vec_id, embedding)
    frames — separated so tests can run it on engineered vectors."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    bench_rows = bench.orderBy("vec_id").collect()
    bench_ids = np.array([r["vec_id"] for r in bench_rows], dtype=np.int64)
    bmat = np.array([list(r["embedding"]) for r in bench_rows], dtype=np.float64)
    bnorm = bmat / np.linalg.norm(bmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((bench_ids, bnorm))

    def score(batches):
        ids, bn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            sims = np.round(xn @ bn.T, 4)
            j = sims.argmax(axis=1)  # first max = lowest bench_id on ties
            m = sims[np.arange(len(x)), j]
            keep = m >= threshold
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "bench_id": ids[j[keep]],
                    "max_cos": m[keep],
                }
            )

    n_parts = spark.sparkContext.defaultParallelism
    return corpus.select("vec_id", "embedding").repartition(n_parts).mapInPandas(
        score, schema="vec_id bigint, bench_id bigint, max_cos double"
    )


_EMB_DECON_DUCK = """
WITH bench AS (
  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 7 = 0
), corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0
), scored AS (
  SELECT c.vec_id, b.bench_id,
         CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4)
              AS DOUBLE) AS cos_sim
  FROM corpus c CROSS JOIN bench b
)
SELECT vec_id, bench_id, cos_sim AS max_cos
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, bench_id ASC) AS rn
  FROM scored
) r
WHERE rn = 1 AND cos_sim >= 0.42
ORDER BY vec_id
"""


def _hostgraph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (fixed 20 rounds) over the synth host graph
    — the crawl-seeding complement to hostgraph_pagerank: hubs are the
    link pages worth re-crawling for discovery, authorities the content
    hosts worth keeping.  Scores emitted as nano-fixed-point BIGINTs for
    atomic deterministic output.  Rows-only: gates in tests/test_webgraph.py
    (numpy same-iterate twin ±2 nano, hand graph, L1 mass)."""
    from pyspark.sql import functions as F

    from .webgraph import extract_outlinks, hits, host_graph

    pages = _webgraph_pages(spark)
    hs = hits(host_graph(extract_outlinks(pages)), max_iter=20)
    return hs.select(
        "host",
        F.rint(F.col("hub") * 1e9).cast("bigint").alias("hub_nano"),
        F.rint(F.col("authority") * 1e9).cast("bigint").alias("auth_nano"),
    ).orderBy(F.col("auth_nano").desc(), "host")


# Margin-based bitext mining (Artetxe & Schwenk 2019 "Margin-based
# Parallel Corpus Mining with Multilingual Sentence Embeddings"; the
# LASER/CCMatrix criterion).  Two "language" sides are the label-parity
# halves of the embeddings table; a candidate pair's score is its cosine
# divided by the mean of both endpoints' average top-k cosines (the ratio
# margin), which cancels hubness — a vector that is close to EVERYTHING
# gets a high denominator and mines nothing.  Forward mining: each src
# keeps its best-margin dst, thresholded.
#
# Scale shape: the registry form scores all A×B pairs — the deliberate
# EXACT baseline (the knn_join ↔ ivf_topk pattern): at 100 TB the scored
# CTE is replaced by IVF-cell-restricted candidates (spark/ivf.py) and the
# top-k degree estimates come from the same candidate set.  The scored
# frame is computed ONCE and persisted (it feeds ka/kb/m — inline CTEs
# would re-run the cross join 3×, the documented multi-consumption trap).
_BITEXT_K = 4
_BITEXT_THRESHOLD = 1.2

_BITEXT_COS = """
         CAST(round(
           aggregate(zip_with(a.embedding, b.embedding,
                              (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                     0D, (acc, v) -> acc + v)
           / (sqrt(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
              * sqrt(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         , 4) AS DOUBLE) AS c
"""

# Executable spec for the scored frame: the production path
# (_bitext_scored_frame) computes the same values via a broadcast numpy
# pass with an identical FP operation sequence; bit-equality of the two
# forms is pinned by tests/test_retrieval.py::test_bitext_scored_arrow_matches_sql.
_BITEXT_SCORED_SPARK = f"""
SELECT a.vec_id AS src, b.vec_id AS dst,
{_BITEXT_COS}
FROM (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0) a
CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1) b
"""

_BITEXT_MINE_SPARK = f"""
WITH ka AS (
  SELECT src, avg(c) AS deg_a FROM (
    SELECT src, c, row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst ASC) AS rn
    FROM bitext_scored
  ) WHERE rn <= {_BITEXT_K} GROUP BY src
), kb AS (
  SELECT dst, avg(c) AS deg_b FROM (
    SELECT dst, c, row_number() OVER (PARTITION BY dst
                                      ORDER BY c DESC, src ASC) AS rn
    FROM bitext_scored
  ) WHERE rn <= {_BITEXT_K} GROUP BY dst
), m AS (
  SELECT s.src, s.dst, s.c,
         CAST(round(s.c / ((ka.deg_a + kb.deg_b) / 2), 4) AS DOUBLE) AS margin
  FROM bitext_scored s
  JOIN ka ON ka.src = s.src
  JOIN kb ON kb.dst = s.dst
)
SELECT src, dst, c AS cos_sim, margin
FROM (
  SELECT *, row_number() OVER (PARTITION BY src
                               ORDER BY margin DESC, dst ASC) AS rn
  FROM m
)
WHERE rn = 1 AND margin >= {_BITEXT_THRESHOLD}
ORDER BY src
"""


def _bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining over the label-parity halves of the
    embeddings table (ratio margin, k=4, forward direction, margin≥1.2).
    TWIN_SQL gate: exact equality vs a DuckDB CTE twin at sf0.01; planted
    hub-vector gates in tests/test_retrieval.py."""
    _views(spark, sf_dir)
    return bitext_margin_mine_frame(spark.table("embeddings"))


def _bitext_scored_frame(emb: DataFrame) -> DataFrame:
    """All-pairs (src, dst, c) cosine frame over the label-parity halves.

    Semantically identical to ``_BITEXT_SCORED_SPARK`` (the Catalyst
    higher-order-function form, kept above as the executable spec and
    pinned bit-equal by tests/test_retrieval.py), but ~10x faster: the
    interpreted zip_with/aggregate lambdas recomputed both endpoint norms
    per PAIR, i.e. 2·|A|·|B| redundant 64-element folds.  Here the dst
    half is broadcast (the CROSS JOIN plan already broadcast one side via
    BroadcastNestedLoopJoin, so peak memory is unchanged) and a numpy
    mapInPandas pass over the src half computes the same quantities with
    the SAME floating-point operation sequence:

    - fold order: acc = 0.0; acc += x_k * y_k for k in array order (the
      SQL ``aggregate`` left-fold) — replicated as a sequential loop over
      dims, vectorized across pairs (numpy mul-then-add, no FMA, matches
      the JVM's two-op sequence);
    - float32 -> float64 widening is exact in both engines;
    - denominator = sqrt(na2) * sqrt(nb2), then one division — same op
      order; sqrt/mul/div are IEEE correctly rounded in both;
    - the final ``round(c, 4)`` stays IN SPARK SQL so the half-up
      BigDecimal rounding is literally the same code path as before.
    """
    import numpy as np

    spark = emb.sparkSession
    sc = spark.sparkContext

    b_rows = (
        emb.where("label % 2 = 1").select("vec_id", "embedding").collect()
    )
    if not b_rows:
        return spark.createDataFrame([], "src bigint, dst bigint, c double")
    b_ids = np.array([r["vec_id"] for r in b_rows], dtype=np.int64)
    bm = np.array([list(r["embedding"]) for r in b_rows], dtype=np.float64)
    nb2 = np.zeros(len(bm), dtype=np.float64)
    for k in range(bm.shape[1]):
        nb2 += bm[:, k] * bm[:, k]
    nb = np.sqrt(nb2)
    bc = sc.broadcast((b_ids, bm, nb))

    def score(batches):
        import numpy as np
        import pandas as pd

        d_ids, dm, dn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            am = np.array(pdf["embedding"].to_list(), dtype=np.float64)
            dot = np.zeros((len(am), len(dm)), dtype=np.float64)
            na2 = np.zeros(len(am), dtype=np.float64)
            for k in range(am.shape[1]):
                col = am[:, k]
                dot += col[:, None] * dm[:, k][None, :]
                na2 += col * col
            denom = np.sqrt(na2)[:, None] * dn[None, :]
            c = dot / denom
            yield pd.DataFrame(
                {
                    "src": np.repeat(
                        pdf["vec_id"].to_numpy(dtype=np.int64), len(d_ids)
                    ),
                    "dst": np.tile(d_ids, len(am)),
                    "c_raw": c.ravel(),
                }
            )

    return (
        emb.where("label % 2 = 0")
        .select("vec_id", "embedding")
        .repartition(sc.defaultParallelism)
        .mapInPandas(score, schema="src bigint, dst bigint, c_raw double")
        .selectExpr("src", "dst", "CAST(round(c_raw, 4) AS DOUBLE) AS c")
    )


def bitext_margin_mine_frame(emb: DataFrame) -> DataFrame:
    """Mining core over an explicit (vec_id, embedding, label) frame —
    separated so tests can run it on engineered hub/pair vectors."""
    spark = emb.sparkSession
    scored = _bitext_scored_frame(emb).persist()
    caches.register(scored)
    scored.createOrReplaceTempView("bitext_scored")
    return spark.sql(_BITEXT_MINE_SPARK)


_BITEXT_DUCK = f"""
WITH scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4)
              AS DOUBLE) AS c
  FROM (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0) a
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1) b
), ka AS (
  SELECT src, avg(c) AS deg_a FROM (
    SELECT src, c, row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst ASC) AS rn
    FROM scored
  ) WHERE rn <= {_BITEXT_K} GROUP BY src
), kb AS (
  SELECT dst, avg(c) AS deg_b FROM (
    SELECT dst, c, row_number() OVER (PARTITION BY dst
                                      ORDER BY c DESC, src ASC) AS rn
    FROM scored
  ) WHERE rn <= {_BITEXT_K} GROUP BY dst
), m AS (
  SELECT s.src, s.dst, s.c,
         CAST(round(s.c / ((ka.deg_a + kb.deg_b) / 2), 4) AS DOUBLE) AS margin
  FROM scored s
  JOIN ka ON ka.src = s.src
  JOIN kb ON kb.dst = s.dst
)
SELECT src, dst, c AS cos_sim, margin
FROM (
  SELECT *, row_number() OVER (PARTITION BY src
                               ORDER BY margin DESC, dst ASC) AS rn
  FROM m
) r
WHERE rn = 1 AND margin >= {_BITEXT_THRESHOLD}
ORDER BY src
"""


# Region-balanced diversity subsampling (the DataComp/SemDeDup-adjacent
# "cluster-balanced" selection): partition embedding space into regions and
# keep at most N vectors per region in a deterministic pseudorandom order,
# so dense regions are capped and sparse regions fully kept — coverage-
# preserving subsampling.  Regions here are the 16 axis-sign quadrants of
# the first 4 dimensions (an axis-aligned hyperplane LSH — cross-engine
# exact, unlike the xxhash64 hyperplanes of lsh_cosine_buckets); the
# production path swaps in IVF cells (spark/ivf.py) with identical
# downstream shape.  Sampling order is the Knuth multiplicative hash used
# by weighted_sample_topk (cross-engine integer arithmetic).  Plan: ONE
# window shuffle keyed by region; Spark's WindowGroupLimit prunes each
# partition to the cap before the exchange.
_REGION_SAMPLE_CAP = 4

_REGION_SAMPLE_SPARK = """
WITH bucketed AS (
  SELECT vec_id, label,
         (CASE WHEN element_at(embedding, 1) > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN element_at(embedding, 2) > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN element_at(embedding, 3) > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN element_at(embedding, 4) > 0 THEN 8 ELSE 0 END) AS region,
         pmod(vec_id * 2654435761, 4294967296) AS rkey
  FROM embeddings
)
SELECT CAST(region AS BIGINT) AS region, vec_id, CAST(label AS BIGINT) AS label
FROM (
  SELECT *, row_number() OVER (PARTITION BY region ORDER BY rkey, vec_id) AS rn
  FROM bucketed
)
WHERE rn <= 4
ORDER BY region, vec_id
"""
_REGION_SAMPLE_DUCK = """
WITH bucketed AS (
  SELECT vec_id, label,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS region,
         (((vec_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 AS rkey
  FROM embeddings
)
SELECT CAST(region AS BIGINT) AS region, vec_id, CAST(label AS BIGINT) AS label
FROM (
  SELECT *, row_number() OVER (PARTITION BY region ORDER BY rkey, vec_id) AS rn
  FROM bucketed
) r
WHERE rn <= 4
ORDER BY region, vec_id
"""


# Directed n-gram CONTAINMENT pairs (Broder 1997's resemblance/containment
# split): c(A→B) = |S(A)∩S(B)| / |S(A)|.  The asymmetric complement of the
# oracled ngram_jaccard_pairs: a short article quoted whole inside a long
# page has containment ~1 but Jaccard ~|A|/|B| → the subset-style
# duplicates Jaccard misses at any threshold (planted contrast in
# tests/test_retrieval.py).  Same inverted-index skeleton and DF≤128
# stop-shingle cap as the Jaccard query (one shingle shuffle, star-free
# pair counts); thresholding and output are FLOOR-milli integers so the
# gate is cross-engine exact, no float boundary.
_CONTAINMENT_SPARK = """
WITH toks AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS w FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)) AS shingle
  FROM toks LATERAL VIEW explode(sequence(1, size(w) - 2)) p AS i
  WHERE size(w) >= 3
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM sh0
  ) WHERE df <= 128
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.d1, p.d2,
       CAST(FLOOR(1000.0 * p.common / s1.n) AS BIGINT) AS c1_milli,
       CAST(FLOOR(1000.0 * p.common / s2.n) AS BIGINT) AS c2_milli
FROM pairs p
JOIN sizes s1 ON p.d1 = s1.doc_id
JOIN sizes s2 ON p.d2 = s2.doc_id
WHERE GREATEST(FLOOR(1000.0 * p.common / s1.n),
               FLOOR(1000.0 * p.common / s2.n)) >= 900
ORDER BY d1, d2
"""
_CONTAINMENT_DUCK = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks WHERE len(w) >= 3
),
sh0 AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM sh0
  ) WHERE df <= 128
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.d1, p.d2,
       CAST(FLOOR(1000.0 * p.common / s1.n) AS BIGINT) AS c1_milli,
       CAST(FLOOR(1000.0 * p.common / s2.n) AS BIGINT) AS c2_milli
FROM pairs p
JOIN sizes s1 ON p.d1 = s1.doc_id
JOIN sizes s2 ON p.d2 = s2.doc_id
WHERE GREATEST(FLOOR(1000.0 * p.common / s1.n),
               FLOOR(1000.0 * p.common / s2.n)) >= 900
ORDER BY d1, d2
"""


QUERIES: dict[str, tuple] = {
    # name: (spark_fn, oracle_sql_or_None)
    #
    # ORDERING CONTRACT (round 4): the driver's correctness harness records
    # only the first 50 registry entries. All oracled queries (non-None SQL)
    # MUST precede every rows-only entry so each oracled query gets a
    # driver-visible rows+schema+hash row. Enforced by
    # tests/test_queries_oracle.py::test_oracled_queries_precede_rows_only.
    "pricing_summary": (_sql(_PRICING_SUMMARY), _PRICING_SUMMARY),
    "shipping_priority": (_sql(_SHIPPING_PRIORITY_SPARK), _SHIPPING_PRIORITY_ORACLE),
    "dedup_latest_event": (_sql(_DEDUP_LATEST_EVENT_SPARK), _DEDUP_LATEST_EVENT_ORACLE),
    "crawl_delta": (_sql(_CRAWL_DELTA), _CRAWL_DELTA),
    "temperature_mixture": (_sql(_TEMPERATURE_MIXTURE), _TEMPERATURE_MIXTURE),
    "topk_docs_per_lang": (_sql(_TOPK_DOCS), _TOPK_DOCS),
    "segment_revenue": (_sql(_SEGMENT_REVENUE), _SEGMENT_REVENUE),
    "customers_without_orders": (_sql(_CUSTOMERS_WITHOUT_ORDERS), _CUSTOMERS_WITHOUT_ORDERS),
    "customers_with_orders": (_sql(_CUSTOMERS_WITH_ORDERS), _CUSTOMERS_WITH_ORDERS),
    "asof_latest_order": (_sql(_ASOF_JOIN_SPARK), _ASOF_JOIN_ORACLE),
    "events_within_7d_of_order": (_sql(_INTERVAL_JOIN_SPARK), _INTERVAL_JOIN_ORACLE),
    "inactive_second_half_users": (_sql(_SET_OPS), _SET_OPS),
    "both_half_users": (_sql(_SET_OPS_INTERSECT), _SET_OPS_INTERSECT),
    "stratified_sample": (_sql(_STRATIFIED_SAMPLE), _STRATIFIED_SAMPLE),
    "salted_event_totals": (_sql(_SALTED_AGG_SPARK), _SALTED_AGG_ORACLE),
    "props_k_stats": (_sql(_JSON_PROPS_SPARK), _JSON_PROPS_ORACLE),
    "cust_order_distribution": (_sql(_CUST_ORDER_DIST), _CUST_ORDER_DIST),
    "priority_with_late_items": (_sql(_PRIORITY_WITH_LATE_ITEMS), _PRIORITY_WITH_LATE_ITEMS),
    "orders_status_pivot": (_sql(_ORDERS_PIVOT_SPARK), _ORDERS_PIVOT_ORACLE),
    "docs_rollup": (_sql(_DOCS_ROLLUP), _DOCS_ROLLUP),
    "docs_cube": (_sql(_DOCS_CUBE), _DOCS_CUBE),
    "docs_grouping_sets": (_sql(_DOCS_GROUPING_SETS), _DOCS_GROUPING_SETS),
    "running_value_per_user": (_sql(_RUNNING_VALUE), _RUNNING_VALUE),
    "events_hourly": (_sql(_EVENTS_HOURLY_SPARK), _EVENTS_HOURLY_ORACLE),
    "user_sessions": (_sql(_SESSIONS_SPARK), _SESSIONS_ORACLE),
    "pii_scrub": (_sql(_PII_SPARK), _PII_ORACLE),
    "repetition_scores": (_sql(_REPETITION_SPARK), _REPETITION_ORACLE),
    "exact_dup_groups": (_sql(_EXACT_DUP_GROUPS), _EXACT_DUP_GROUPS),
    "top_tfidf_terms": (_sql(_TFIDF_SPARK), _TFIDF_ORACLE),
    "rolling_fingerprints": (_sql(_ROLLING_FP_SPARK), _ROLLING_FP_ORACLE),
    "dedup_clusters": (_dedup_clusters, _DEDUP_CLUSTERS_ORACLE),
    "dedup_clusters_star": (_dedup_clusters_star, _DEDUP_CLUSTERS_ORACLE),
    "ngram_jaccard_pairs": (_sql(_JACCARD_SPARK), _JACCARD_ORACLE),
    "embedding_topk": (_sql(_EMB_TOPK_SPARK), _EMB_TOPK_ORACLE),
    "knn_join": (_sql(_KNN_JOIN_SPARK), _KNN_JOIN_ORACLE),
    "embedding_cosine_dups": (_sql(_EMB_COSINE_DUPS_SPARK), _EMB_COSINE_DUPS_ORACLE),
    "exact_stats": (_sql(_EXACT_STATS_SPARK), _EXACT_STATS_ORACLE),
    "mean_embedding_per_lang": (_mean_embedding_per_lang, _MEAN_EMB_ORACLE),
    "pdf_roundtrip_extract": (_pdf_roundtrip_extract, _PDF_ROUNDTRIP_ORACLE),
    "sequence_packing": (_sequence_packing, _SEQ_PACKING_ORACLE),
    "dup_ngram_spans": (_sql(_DUP_SPANS_SPARK), _DUP_SPANS_ORACLE),
    # round-5 rotation (VERDICT r4 #1): the six curation-rule queries with
    # exact DuckDB twins are promoted into the driver-checked oracled window;
    # six long-stable trivial map-only one-liners moved to the rows-only tail
    # (their oracle SQL is kept as in-repo twin gates — TWIN_SQL below).
    "gopher_quality_flags": (_sql(_GOPHER_SPARK), _GOPHER_DUCK),
    "c4_line_filters": (_sql(_C4_SPARK), _C4_DUCK),
    "line_dedup_corpus": (_sql(_LINE_DEDUP_SPARK), _LINE_DEDUP_DUCK),
    "ngram_decontaminate": (_sql(_NGRAM_DECON_SPARK), _NGRAM_DECON_DUCK),
    "weighted_sample_topk": (_sql(_WEIGHTED_SAMPLE_SPARK), _WEIGHTED_SAMPLE_DUCK),
    "fineweb_filter_chain": (_sql(_FINEWEB_SPARK), _FINEWEB_DUCK),
    # round-5 session-5 rotation: three retrieval/dedup operators with
    # exact DuckDB twins promoted into the driver window; three long-stable
    # trivial one-liners (embedding_quantize, hot_keys, top_bigrams) moved
    # to the rows-only tail with their oracle SQL kept in TWIN_SQL.
    "bm25_search": (_sql(_BM25_BATCH_SPARK), _BM25_BATCH_DUCK),
    "embedding_decontaminate": (_embedding_decontaminate, _EMB_DECON_DUCK),
    "ngram_containment_pairs": (_sql(_CONTAINMENT_SPARK), _CONTAINMENT_DUCK),
    # ---- rows-only entries (no SQL-expressible oracle, or retired from the
    # driver window with an in-repo twin gate) — keep AFTER every oracled
    # query (driver records only the first 50 registry entries).
    "filter_project": (_sql(_FILTER_PROJECT), None),
    "lang_id": (_sql(_LANG_ID), None),
    "token_counts": (_sql(_TOKEN_COUNTS_SPARK), None),
    "quality_scores": (_sql(_QUALITY_SPARK), None),
    "bpe_token_counts": (_sql(_BPE_TOKENS_SPARK), None),
    "decontaminate_docs": (_sql(_DECONTAMINATE), None),
    "embedding_quantize": (_sql(_QUANTIZE_SPARK), None),
    "hot_keys": (_sql(_HOT_KEYS), None),
    "top_bigrams": (_sql(_TOP_BIGRAMS_SPARK), None),
    "user_sessions_native": (_sql(_SESSIONS_NATIVE), None),
    "approx_stats": (_sql(_APPROX_STATS), None),
    "minhash_lsh_candidates": (_sql(_MINHASH_CANDIDATES), None),
    "simhash_fingerprints": (_sql(_SIMHASH), None),
    "simhash_candidate_pairs": (_sql(_SIMHASH_PAIRS), None),
    "lsh_cosine_buckets": (_sql(_LSH_COSINE_BUCKETS), None),
    "bloom_decontaminate": (_bloom_decontaminate, None),
    "heavy_hitters_sketch": (_heavy_hitters_sketch, None),
    "lsh_cosine_candidate_pairs": (_lsh_cosine_candidate_pairs, None),
    "lsh_cosine_pairs_strong": (_lsh_cosine_pairs_strong, None),
    "ivf_topk": (_ivf_topk, None),
    "semantic_dedup": (_semantic_dedup, None),
    "markdown_sections": (_markdown_sections, None),
    # round-4 curation rules: DuckDB twins pinned in
    # tests/test_curation_rules.py (driver's 50 oracled slots are full)
    "dsir_importance": (_dsir_importance, None),
    "meta_blocking_prune": (_meta_blocking_prune, None),
    "fasttext_quality_score": (_fasttext_quality_score, None),
    "pca_project": (_pca_project, None),
    "outlink_hostgraph": (_outlink_hostgraph, None),
    "hostgraph_pagerank": (_hostgraph_pagerank, None),
    "anchor_text_terms": (_anchor_text_terms, None),
    "ccnet_perplexity": (_ccnet_perplexity, None),
    "robots_filter": (_robots_filter, None),
    "bpe_learn_merges": (_bpe_learn_merges, None),
    "bpe_encode_freqs": (_bpe_encode_freqs, None),
    "lr_quality_scores": (_lr_quality_scores, None),
    "sitemap_frontier": (_sitemap_frontier, None),
    "crawl_budget_allocation": (_crawl_budget_allocation, None),
    "langid_ngram_model": (_langid_ngram_model, None),
    "quality_auc_by_source": (_sql(_AUC_SPARK), None),
    "bm25_topk": (_sql(_BM25_SPARK), None),
    "feed_frontier": (_feed_frontier, None),
    "exact_substring_dedup": (_sql(_EXACT_SUBSTR_DEDUP_SPARK), None),
    "pmi_collocations": (_pmi_collocations, None),
    "sliding_context_chunks": (_sql(_CHUNKS_SPARK), None),
    "source_quota_cap": (_sql(_SOURCE_QUOTA_SPARK), None),
    "mixture_sample": (_sql(_MIXTURE_SAMPLE_SPARK), None),
    "unicode_sanitize_stats": (_unicode_sanitize_stats, None),
    "pq_topk": (_pq_topk, None),
    "decontaminate_spans": (_sql(_DECON_SPANS_SPARK), None),
    "d4_prototypes_prune": (_d4_prototypes_prune, None),
    "dup_cluster_canonical": (_dup_cluster_canonical, None),
    "source_drift_kl": (_source_drift_kl, None),
    "incremental_minhash_dedup": (_incremental_minhash_dedup, None),
    "crawl_revisit_schedule": (_sql(_REVISIT_SPARK), None),
    "pii_span_attributes": (_pii_span_attributes, None),
    "url_blocklist_filter": (_url_blocklist_filter, None),
    "leakage_safe_split": (_leakage_safe_split, None),
    "phrase_search": (_sql(_PHRASE_SPARK), None),
    "hostgraph_hits": (_hostgraph_hits, None),
    "bitext_margin_mine": (_bitext_margin_mine, None),
    "region_balanced_sample": (_sql(_REGION_SAMPLE_SPARK), None),
    "retrieval_rank_eval": (_retrieval_rank_eval, None),
    "hostgraph_spam_mass": (_hostgraph_spam_mass, None),
    "bpe_tokenize_pack": (_bpe_tokenize_pack, None),
}

# DuckDB twin SQL for rows-only registry entries that have an exact SQL
# expression: entries retired from the driver's 50-slot oracled window in the
# round-5 rotation, plus later rows-only additions whose semantics ARE
# SQL-expressible (the window is capped at 50, so new exact-twin queries land
# here instead).  tests/test_queries_oracle.py runs every entry with exactly
# the driver's compare (rows + columns + order-insensitive values), so a
# TWIN_SQL gate is oracle-strength even though the driver records rows-only.
TWIN_SQL: dict[str, str] = {
    "filter_project": _FILTER_PROJECT,
    "lang_id": _LANG_ID,
    "token_counts": _TOKEN_COUNTS_ORACLE,
    "quality_scores": _QUALITY_ORACLE,
    "bpe_token_counts": _BPE_TOKENS_ORACLE,
    "decontaminate_docs": _DECONTAMINATE,
    "quality_auc_by_source": _AUC_DUCK,
    "embedding_quantize": _QUANTIZE_ORACLE,
    "hot_keys": _HOT_KEYS,
    "top_bigrams": _TOP_BIGRAMS_ORACLE,
    "bm25_topk": _BM25_DUCK,
    "exact_substring_dedup": _EXACT_SUBSTR_DEDUP_DUCK,
    "pmi_collocations": _PMI_DUCK,
    "sliding_context_chunks": _CHUNKS_DUCK,
    "source_quota_cap": _SOURCE_QUOTA_DUCK,
    "mixture_sample": _MIXTURE_SAMPLE_DUCK,
    "decontaminate_spans": _DECON_SPANS_DUCK,
    "dup_cluster_canonical": _DUP_CANONICAL_ORACLE,
    "source_drift_kl": _SOURCE_KL_DUCK,
    "crawl_revisit_schedule": _REVISIT_DUCK,
    "phrase_search": _PHRASE_DUCK,
    "bitext_margin_mine": _BITEXT_DUCK,
    "region_balanced_sample": _REGION_SAMPLE_DUCK,
    "retrieval_rank_eval": _RANK_EVAL_DUCK,
}
