"""Behavioral / record-linkage analytics plans.

Event-funnel conversion, cohort retention, and sorted-neighborhood
entity resolution — the three classic "product analytics + data
cleaning" shapes a datastore-discovery engine is pointed at right
after profiling (the reference's discovery pipeline stops at
classification; these extend the same declared-query surface the
driver hash-checks).

Scale notes (100 TB):

- ``ev_funnel`` cascades per-step aggregates joined on ``user_id`` —
  every shuffle keys on the same column so AQE reuses the exchange;
  per-step state is one row per qualifying user, never the raw events.
- ``ev_cohort_retention`` is two keyed aggregates (user -> first week,
  then (cohort, offset) -> distinct users) plus a broadcast of the
  per-week cohort sizes (one row per calendar week — metadata scale).
- ``er_sorted_neighborhood`` is the blocked sorted-neighborhood method
  (Hernandez & Stolfo 1995): one shuffle to sort within blocks, then a
  pure EQUI-join on (block, rank+offset) — candidate pairs are
  ``block_size * window``, never all-pairs. Block key choice is the
  scale lever: longer prefixes -> more, smaller blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_datastore_discovery_with_aws_glue_spark.operators import cache as C
from automated_datastore_discovery_with_aws_glue_spark.operators import dedup as D
from automated_datastore_discovery_with_aws_glue_spark.operators.text import md5_hash64
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
)

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_DAYS = 7
_ER_NEIGHBORS = 5
_ER_MAX_DIST = 2


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel: users completing view -> click -> purchase,
    each later step inside ``_FUNNEL_WINDOW_DAYS`` of the user's FIRST
    step-1 event, steps strictly ordered by timestamp.

    Implementation is a cascade of per-user min-timestamp aggregates,
    each joined back to the (filtered) event stream on ``user_id`` —
    the step state is one row per user who reached the step, so the
    funnel never materializes more than the user dimension."""
    ev = load_table(spark, sf_dir, "events")
    deadline = F.col("t1") + F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")

    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t1")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter((F.col("ts") >= F.col("t2")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df: DataFrame, idx: int) -> DataFrame:
        return df.agg(F.count("*").alias("users")).select(
            F.lit(idx + 1).alias("step_idx"),
            F.lit(_FUNNEL_STEPS[idx]).alias("step_name"),
            "users",
        )

    counts = _count(s1, 0).union(_count(s2, 1)).union(_count(s3, 2))
    w = Window.orderBy("step_idx")
    return counts.select(
        "step_idx",
        "step_name",
        "users",
        F.round(
            F.col("users").cast("double") / F.first("users").over(w), 4
        ).alias("pct_of_first"),
    ).orderBy("step_idx")


EV_FUNNEL_SQL = f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
          AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
          AND e.ts >= s2.t2 AND e.ts <= s2.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT 1 AS step_idx, '{_FUNNEL_STEPS[0]}' AS step_name, count(*) AS users FROM s1
        UNION ALL
        SELECT 2, '{_FUNNEL_STEPS[1]}', count(*) FROM s2
        UNION ALL
        SELECT 3, '{_FUNNEL_STEPS[2]}', count(*) FROM s3
    )
    SELECT step_idx, step_name, users,
           round(CAST(users AS DOUBLE)
                 / first_value(users) OVER (ORDER BY step_idx), 4) AS pct_of_first
    FROM counts
    ORDER BY step_idx
"""


def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of a user's first
    event; for each (cohort, week-offset), the distinct users active
    that week and the retention rate against the cohort's size.

    Two keyed aggregates (both with map-side partials) plus a
    broadcast join of the per-week cohort sizes — the size table is
    one row per calendar week, metadata scale at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cw",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cw"))
                / 7
            ).cast("int").alias("week_offset"),
        )
        .groupBy("cw", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    sizes = first.groupBy("cw").agg(F.count("*").alias("cohort_size"))
    return (
        act.join(F.broadcast(sizes), "cw")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"), 4
            ).alias("retention_rate"),
        )
        .orderBy("cohort_week", "week_offset")
    )


EV_COHORT_RETENTION_SQL = """
    WITH f AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cw
        FROM events GROUP BY user_id
    ),
    a AS (
        SELECT f.cw,
               CAST(datediff('day', f.cw, date_trunc('week', e.ts)) // 7 AS INT)
                   AS week_offset,
               count(DISTINCT e.user_id) AS active_users
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY 1, 2
    ),
    s AS (SELECT cw, count(*) AS cohort_size FROM f GROUP BY cw)
    SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week,
           a.week_offset, a.active_users, s.cohort_size,
           round(CAST(a.active_users AS DOUBLE) / s.cohort_size, 4)
               AS retention_rate
    FROM a JOIN s ON a.cw = s.cw
    ORDER BY cohort_week, week_offset
"""


def _er_entities(parts: DataFrame) -> DataFrame:
    """Deterministic dirty-entity fixture: name+brand strings with a
    last-character truncation injected on every 7th key — the
    seeded-corruption pattern the generate/media fixtures use, so both
    engines derive identical inputs from the raw table."""
    base = F.concat_ws(" ", "p_name", "p_brand")
    entity = F.when(
        F.col("p_partkey") % 7 == 0,
        F.substring(base, 1, F.length(base).cast("int") - 1),
    ).otherwise(base)
    return parts.select("p_partkey", entity.alias("entity"))


def _er_pairs(parts: DataFrame) -> DataFrame:
    """Sorted-neighborhood candidate pairs surviving the distance gate:
    ``(id_a, id_b, entity_a, entity_b, dist)``. The neighbor comparison
    is a pure equi-join on ``(block, rank + offset)`` — candidates are
    ``O(rows * window)``, never all-pairs, and the only shuffle is the
    per-block sort."""
    ent = _er_entities(parts).withColumn(
        "block", F.substring("entity", 1, 4)
    )
    w = Window.partitionBy("block").orderBy("entity", "p_partkey")
    ranked = ent.withColumn("rn", F.row_number().over(w))
    probe = ranked.select(
        F.col("p_partkey").alias("id_a"),
        F.col("entity").alias("entity_a"),
        "block",
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + _ER_NEIGHBORS)
        ).alias("rn"),
    )
    cand = probe.join(
        ranked.select(
            F.col("p_partkey").alias("id_b"),
            F.col("entity").alias("entity_b"),
            "block",
            "rn",
        ),
        ["block", "rn"],
    )
    return (
        cand.withColumn("dist", F.levenshtein("entity_a", "entity_b"))
        .filter(F.col("dist") <= _ER_MAX_DIST)
        .select("id_a", "id_b", "entity_a", "entity_b", "dist")
    )


def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernandez & Stolfo 1995)
    over noisy name+brand part entities: sort within prefix blocks,
    compare each record to its next ``_ER_NEIGHBORS`` neighbors, keep
    pairs within Levenshtein distance ``_ER_MAX_DIST``.

    Reference scope: the discovery pipeline's column-level PII match
    (src/.../glue_jobs, classification) has no record-linkage stage —
    this is the row-level analogue a cleanup pass needs."""
    parts = load_table(spark, sf_dir, "part")
    return _er_pairs(parts).orderBy("id_a", "id_b")


ER_SORTED_NEIGHBORHOOD_SQL = f"""
    WITH e AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 7 = 0
                    THEN substring(b, 1, length(b) - 1)
                    ELSE b END AS entity
        FROM (SELECT p_partkey, p_name || ' ' || p_brand AS b FROM part)
    ),
    t AS (
        SELECT p_partkey, entity, substring(entity, 1, 4) AS block,
               row_number() OVER (
                   PARTITION BY substring(entity, 1, 4)
                   ORDER BY entity, p_partkey) AS rn
        FROM e
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.entity AS entity_a, b.entity AS entity_b,
           levenshtein(a.entity, b.entity) AS dist
    FROM t a JOIN t b
      ON a.block = b.block
     AND b.rn BETWEEN a.rn + 1 AND a.rn + {_ER_NEIGHBORS}
    WHERE levenshtein(a.entity, b.entity) <= {_ER_MAX_DIST}
    ORDER BY id_a, id_b
"""


def er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution CLUSTERS + survivorship: connected components
    over the sorted-neighborhood pair graph (reusing the dedup engine's
    ``dedup_clusters`` — min-id labels, driver union-find fast path
    under the pair cap, iterative label propagation above it), each
    record annotated with its cluster size and the cluster's canonical
    entity (the min-key member — a deterministic survivorship rule).

    Scale: the pair graph is the SN output (O(rows * window)), the
    component step is the same machinery the near-dup corpus dedup
    runs at 100 TB, and the summary is one keyed aggregate + one
    equi-join on ``cluster_id``."""
    parts = load_table(spark, sf_dir, "part")
    ent = _er_entities(parts)
    pairs = _er_pairs(parts)
    clusters = D.dedup_clusters(pairs, ent.select("p_partkey"))
    lab_ent = ent.join(
        clusters.withColumnRenamed("id", "p_partkey"), "p_partkey"
    )
    summary = lab_ent.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min_by("entity", "p_partkey").alias("canonical_entity"),
    )
    result = (
        lab_ent.join(summary, "cluster_id")
        .select(
            "p_partkey", "entity", "cluster_id", "cluster_size", "canonical_entity"
        )
        .orderBy("p_partkey")
    )
    return result


ER_CLUSTERS_SQL = f"""
    WITH RECURSIVE e AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 7 = 0
                    THEN substring(b, 1, length(b) - 1)
                    ELSE b END AS entity
        FROM (SELECT p_partkey, p_name || ' ' || p_brand AS b FROM part)
    ),
    t AS (
        SELECT p_partkey, entity, substring(entity, 1, 4) AS block,
               row_number() OVER (
                   PARTITION BY substring(entity, 1, 4)
                   ORDER BY entity, p_partkey) AS rn
        FROM e
    ),
    p AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM t a JOIN t b
          ON a.block = b.block
         AND b.rn BETWEEN a.rn + 1 AND a.rn + {_ER_NEIGHBORS}
        WHERE levenshtein(a.entity, b.entity) <= {_ER_MAX_DIST}
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b, id_a FROM p
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a
    ),
    lab AS (
        SELECT e.p_partkey, e.entity,
               CAST(coalesce(m.mn, e.p_partkey) AS BIGINT) AS cluster_id
        FROM e
        LEFT JOIN (SELECT a, least(a, min(b)) AS mn FROM reach GROUP BY a) m
               ON e.p_partkey = m.a
    ),
    s AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
               min_by(entity, p_partkey) AS canonical_entity
        FROM lab GROUP BY cluster_id
    )
    SELECT lab.p_partkey, lab.entity, lab.cluster_id,
           s.cluster_size, s.canonical_entity
    FROM lab JOIN s USING (cluster_id)
    ORDER BY p_partkey
"""


# --------------------------------------------------------------------------
# Catalog schema drift — the Glue-crawler "schema change detection" shape
# --------------------------------------------------------------------------

#: Spark simpleString -> the DuckDB information_schema type name, so the
#: engine's snapshot and the oracle's live introspection agree letter
#: for letter. Unknown types raise (a new physical type must be mapped
#: deliberately, never silently passed through).
_DUCK_TYPE = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BLOB",
    "boolean": "BOOLEAN",
    "array<float>": "FLOAT[]",
    "array<double>": "DOUBLE[]",
}


def cat_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift between two catalog snapshots — the column-level
    change report a recrawl emits (ref: the crawler's schema-change
    policy, `src/lib/crawler` UPDATE_IN_DATABASE behavior): columns
    ``added``, ``removed``, or ``type_changed`` since the previous
    crawl.

    The CURRENT snapshot is the live schema of every test table (driver
    metadata — schemas are metadata-scale at any corpus size, so a
    local ``createDataFrame`` is the honest shape). The PREVIOUS
    snapshot is derived from it by a deterministic md5 formula both
    engines replay: columns whose 60-bit key hash ≡ 0 (mod 5) are
    missing from the previous crawl (-> added), ≡ 1 (mod 5) carried a
    mutated type (-> type_changed), and every table had one extra
    ``<table>_legacy_id`` column since dropped (-> removed). The drift
    itself is one full outer join on (table, column) — the operator
    under test; the oracle recomputes the same report from DuckDB's
    live ``information_schema``."""
    cur_rows = []
    for t in TESTDATA_TABLES:
        for f in load_table(spark, sf_dir, t).schema.fields:
            st = f.dataType.simpleString()
            if st not in _DUCK_TYPE:
                raise NotImplementedError(f"unmapped physical type {st!r}")
            cur_rows.append((t, f.name, _DUCK_TYPE[st]))
    cur = spark.createDataFrame(
        cur_rows, "table_name string, column_name string, data_type string"
    )
    h = md5_hash64(
        F.concat(F.col("table_name"), F.lit("."), F.col("column_name"))
    )
    mutated = F.when(
        h % 5 == 1,
        F.when(F.col("data_type") != "VARCHAR", F.lit("VARCHAR")).otherwise(
            F.lit("BIGINT")
        ),
    ).otherwise(F.col("data_type"))
    prev = (
        cur.filter(h % 5 != 0)
        .select("table_name", "column_name", mutated.alias("data_type"))
        .union(
            cur.select("table_name")
            .distinct()
            .select(
                "table_name",
                F.concat(F.col("table_name"), F.lit("_legacy_id")).alias(
                    "column_name"
                ),
                F.lit("BIGINT").alias("data_type"),
            )
        )
    )
    joined = prev.select(
        "table_name", "column_name", F.col("data_type").alias("prev_type")
    ).join(
        cur.select(
            "table_name", "column_name", F.col("data_type").alias("curr_type")
        ),
        ["table_name", "column_name"],
        "full",
    )
    return (
        joined.withColumn(
            "change",
            F.when(F.col("prev_type").isNull(), "added")
            .when(F.col("curr_type").isNull(), "removed")
            .when(F.col("prev_type") != F.col("curr_type"), "type_changed"),
        )
        .filter(F.col("change").isNotNull())
        .select("table_name", "column_name", "change", "prev_type", "curr_type")
        .orderBy("table_name", "column_name")
    )


_SQL_TABLES_IN = ", ".join(f"'{t}'" for t in TESTDATA_TABLES)

CAT_SCHEMA_DRIFT_SQL = f"""
    WITH cur AS (
        SELECT table_name, column_name, data_type
        FROM information_schema.columns
        WHERE table_name IN ({_SQL_TABLES_IN})
    ),
    hashed AS (
        SELECT *,
               CAST(('0x' || substr(md5(table_name || '.' || column_name), 1, 15))
                    AS BIGINT) AS h
        FROM cur
    ),
    prev AS (
        SELECT table_name, column_name,
               CASE WHEN h % 5 = 1
                    THEN CASE WHEN data_type <> 'VARCHAR'
                              THEN 'VARCHAR' ELSE 'BIGINT' END
                    ELSE data_type END AS prev_type
        FROM hashed WHERE h % 5 <> 0
        UNION ALL
        SELECT DISTINCT table_name, table_name || '_legacy_id', 'BIGINT'
        FROM cur
    ),
    j AS (
        SELECT table_name, column_name, p.prev_type, c.curr_type
        FROM prev p
        FULL OUTER JOIN (
            SELECT table_name, column_name, data_type AS curr_type FROM cur
        ) c USING (table_name, column_name)
    )
    SELECT table_name, column_name,
           CASE WHEN prev_type IS NULL THEN 'added'
                WHEN curr_type IS NULL THEN 'removed'
                WHEN prev_type <> curr_type THEN 'type_changed' END AS change,
           prev_type, curr_type
    FROM j
    WHERE (prev_type IS NULL OR curr_type IS NULL OR prev_type <> curr_type)
    ORDER BY table_name, column_name
"""


# --------------------------------------------------------------------------
# Bigram collocations by lift — corpus phrase mining
# --------------------------------------------------------------------------

_COLLOC_MIN_COUNT = 5
_COLLOC_TOP_K = 100


def colloc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations ranked by LIFT —
    ``p(w1 w2) / (p(w1) p(w2))``, the exponent-free monotone twin of
    PMI (PMI = log lift; ``ln`` is libm and not bit-portable across
    engines, the ratio of exact integer counts is — each multiply /
    divide is a single correctly-rounded IEEE op evaluated in the SAME
    operand order on both sides).

    Scale: two hash aggregates (token counts, bigram counts — both
    map-side combinable), two equi-joins of the bigram table against
    the vocabulary-sized unigram table, scalar totals broadcast as
    1-row frames. The top-k is a global sort of the min-count
    survivors — the collocation TYPE table, not the corpus. The token
    frame is persisted (it feeds four branches) and the result owns it
    (``cache.own``)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
        normalize_text,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.filter(normalize_text(F.col("text")) != "")
        .select(tokens(F.col("text")).alias("words"))
        .persist()
    )
    uni = words.select(F.explode("words").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.agg(F.count(F.lit(1)).alias("nu"))
    bg = words.filter(F.size("words") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2),"
                " i -> struct(words[i] AS w1, words[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nb = bg.agg(F.count(F.lit(1)).alias("nb"))
    lift = (
        F.col("c12").cast("double")
        * F.col("nu") / F.col("c1") / F.col("c2") * F.col("nu") / F.col("nb")
    )
    out = (
        bc.filter(F.col("c12") >= _COLLOC_MIN_COUNT)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(nu)
        .crossJoin(nb)
        .select(
            "w1", "w2", "c12", "c1", "c2", F.round(lift, 4).alias("lift")
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(_COLLOC_TOP_K)
    )
    C.own(words)
    return out


COLLOC_LIFT_SQL = f"""
    WITH w AS (
        SELECT string_split(n, ' ') AS words
        FROM (SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
              FROM documents)
        WHERE n <> ''
    ),
    uni AS (SELECT unnest(words) AS w FROM w),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT count(*) AS nu FROM uni),
    bg AS (
        SELECT words[i] AS w1, words[i + 1] AS w2
        FROM (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
              FROM w WHERE len(words) >= 2)
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    nb AS (SELECT count(*) AS nb FROM bg)
    SELECT bc.w1, bc.w2, bc.c12,
           uc1.c AS c1, uc2.c AS c2,
           round(CAST(bc.c12 AS DOUBLE)
                 * nu.nu / uc1.c / uc2.c * nu.nu / nb.nb, 4) AS lift
    FROM bc
    JOIN uc uc1 ON bc.w1 = uc1.w
    JOIN uc uc2 ON bc.w2 = uc2.w, nu, nb
    WHERE bc.c12 >= {_COLLOC_MIN_COUNT}
    ORDER BY lift DESC, w1, w2
    LIMIT {_COLLOC_TOP_K}
"""


QUERIES = {
    "ev_funnel": ev_funnel,
    "ev_cohort_retention": ev_cohort_retention,
    "er_sorted_neighborhood": er_sorted_neighborhood,
    "er_clusters": er_clusters,
    "cat_schema_drift": cat_schema_drift,
    "colloc_lift": colloc_lift,
}

ORACLES = {
    "ev_funnel": EV_FUNNEL_SQL,
    "ev_cohort_retention": EV_COHORT_RETENTION_SQL,
    "er_sorted_neighborhood": ER_SORTED_NEIGHBORHOOD_SQL,
    "er_clusters": ER_CLUSTERS_SQL,
    "cat_schema_drift": CAT_SCHEMA_DRIFT_SQL,
    "colloc_lift": COLLOC_LIFT_SQL,
}


# --------------------------------------------------------------------------
# Trailing-window z-score anomaly detection over bucketed event series
# --------------------------------------------------------------------------

_ANOM_WINDOW = 24      # trailing buckets (current EXCLUDED)
_ANOM_MIN_N = 12       # minimum trailing buckets before judging
_ANOM_K = 3            # flag at |z| > 3


def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type revenue series with trailing-window z-score
    anomaly flags: bucket totals in exact integer CENTS, trailing mean/
    variance from exact integer window sums, and the |z| > k decision by
    INTEGER cross-multiplication —

        (n*x - S)^2 > k^2 * (n*Q - S^2)

    (x = current cents, S/Q = trailing sum / sum of squares, n =
    trailing count) — so the flag can never drift across engines. The
    reported z itself is one sqrt + one divide on exact integers
    (each a single correctly-rounded IEEE op): z = (n*x - S) /
    sqrt(n * (n*Q - S^2))... emitted as (n*x - S) / sqrt(n*Q - S^2),
    the standardized trailing z. Zero-variance windows yield NULL z and
    flag on ANY deviation.

    Scale: one keyed aggregate to (event_type, bucket) — integer sums,
    map-side combinable — then ONE window sort per event_type; series
    length is buckets, not events."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    bucket = (
        (F.unix_micros(F.col("ts")) - F.pmod(F.unix_micros(F.col("ts")), F.lit(3_600_000_000)))
        / F.lit(3_600_000_000)
    ).cast("long")
    series = (
        ev.select(F.col("event_type"), bucket.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("c").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-_ANOM_WINDOW, -1)
    )
    n = F.count("x").over(w)
    s = F.sum("x").over(w)
    q = F.sum(F.col("x") * F.col("x")).over(w)
    dev = n * F.col("x") - s
    var_n = n * q - s * s  # n^2 * variance (exact integer, >= 0)
    z = F.when(var_n > 0, dev.cast("double") / F.sqrt(var_n.cast("double")))
    flagged = (
        series.withColumn("_n", n)
        .withColumn("_dev", dev)
        .withColumn("_var", var_n)
        # z BEFORE the min-count filter: a window expression evaluated
        # after the filter would frame over the filtered series
        .withColumn("_z", z)
        .filter(F.col("_n") >= _ANOM_MIN_N)
        .withColumn(
            "is_anomaly",
            F.when(
                F.col("_var") > 0,
                F.col("_dev") * F.col("_dev")
                > F.lit(_ANOM_K * _ANOM_K) * F.col("_var"),
            ).otherwise(F.col("_dev") != 0),
        )
    )
    return flagged.select(
        "event_type",
        (F.col("bucket") * 3600).alias("bucket_start_epoch"),
        "n_events",
        (F.col("x") / F.lit(100.0)).alias("total_value"),
        F.round(F.col("_z"), 4).alias("zscore"),
        "is_anomaly",
    ).orderBy("event_type", "bucket_start_epoch")


EV_ANOMALY_ZSCORE_SQL = f"""
    WITH series AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, bucket
    ),
    win AS (
        SELECT *,
               count(x) OVER w AS n,
               CAST(sum(x) OVER w AS BIGINT) AS s,
               CAST(sum(x * x) OVER w AS BIGINT) AS q
        FROM series
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN {_ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket * 3600 AS bucket_start_epoch, n_events,
           x / 100.0 AS total_value,
           round(CASE WHEN n * q - s * s > 0
                      THEN CAST(n * x - s AS DOUBLE)
                           / sqrt(CAST(n * q - s * s AS DOUBLE)) END, 4) AS zscore,
           CASE WHEN n * q - s * s > 0
                THEN (n * x - s) * (n * x - s) > {_ANOM_K * _ANOM_K} * (n * q - s * s)
                ELSE (n * x - s) <> 0 END AS is_anomaly
    FROM win
    WHERE n >= {_ANOM_MIN_N}
    ORDER BY event_type, bucket_start_epoch
"""

QUERIES["ev_anomaly_zscore"] = ev_anomaly_zscore
ORACLES["ev_anomaly_zscore"] = EV_ANOMALY_ZSCORE_SQL


# --------------------------------------------------------------------------
# Path mining — top event-type trigram paths
# --------------------------------------------------------------------------

_PATH_MAX_GAP_US = 2 * 3600 * 1_000_000  # a trigram must fit in 2 hours
_PATH_TOP_K = 20


def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths: per user, order the event
    stream by (ts, event_id) and read every CONSECUTIVE event-type
    trigram whose first and third events are within 2 hours (a path
    spanning a day's absence is noise, not behavior); count identical
    paths corpus-wide.

    Scale: one window sort per user (two `lead`s share it), then one
    map-side-combinable hash aggregate over path strings — the result
    is the path TYPE table, never event-scale. Deterministic top-k
    (count desc, path asc)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t1 = F.unix_micros(F.col("ts"))
    paths = (
        ev.select(
            "user_id",
            "event_type",
            t1.alias("_t"),
            F.lead("event_type", 1).over(w).alias("_e2"),
            F.lead("event_type", 2).over(w).alias("_e3"),
            F.lead(t1, 2).over(w).alias("_t3"),
        )
        .filter(
            F.col("_e3").isNotNull()
            & ((F.col("_t3") - F.col("_t")) <= _PATH_MAX_GAP_US)
        )
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("_e2"), F.col("_e3")
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOP_K)
    )


EV_TOP_PATHS_SQL = f"""
    WITH s AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS t,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3,
               lead(epoch_us(ts), 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           count(*) AS n
    FROM s
    WHERE e3 IS NOT NULL AND t3 - t <= {_PATH_MAX_GAP_US}
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT {_PATH_TOP_K}
"""

QUERIES["ev_top_paths"] = ev_top_paths
ORACLES["ev_top_paths"] = EV_TOP_PATHS_SQL


# --------------------------------------------------------------------------
# Graph centrality — integer-quantized PageRank over the supply graph
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_TOP_K = 25


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 nodes of the supplier->customer fulfillment graph by
    integer-quantized PageRank (`operators/graph.py` — ranks in 1e-12
    mass units, every step exact integer arithmetic, so the oracle
    replays ALL five iterations bit-for-bit through materialized CTE
    stages). Customers are pure sinks: the dangling-mass
    redistribution path is exercised on every iteration, not just in
    theory."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("C"), F.col("o_custkey")).alias("dst"),
    )
    ranks = pagerank(edges, iterations=_PR_ITERS)
    return ranks.orderBy(F.desc("rank_mass"), "node").limit(_PR_TOP_K)


def _graph_pagerank_sql() -> str:
    from automated_datastore_discovery_with_aws_glue_spark.operators.graph import (
        pagerank_oracle_sql,
    )

    edges = (
        "SELECT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return pagerank_oracle_sql(edges, iterations=_PR_ITERS, top_k=_PR_TOP_K)


QUERIES["graph_pagerank"] = graph_pagerank
ORACLES["graph_pagerank"] = _graph_pagerank_sql()


# --------------------------------------------------------------------------
# Marketing attribution — first / last / linear touch over the event stream
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000


def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution per channel (= event_type of the touchpoint):
    every purchase's value is credited to the user's view/click touches
    in the 7 days up to the purchase under THREE models — first touch,
    last touch, linear. Touchless purchases credit a ``(direct)``
    channel in full.

    Exactness: value splits happen in integer CENTS — linear share =
    ``cents div K`` with the remainder assigned to the LAST touch
    (deterministic rule, so every purchase's cents sum exactly and both
    engines agree bit-for-bit; a float ``value/K`` would drift in the
    sum order).

    Scale: the touch-to-purchase join is keyed on ``user_id`` with a
    time predicate — pair count is bounded by per-user activity in the
    window (the bin-bucketed `operators/temporal.py range_join` is the
    same shape pre-bounded for adversarial key skew); two windows over
    (purchase) share one sort; final aggregate is channel-sized."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u"),
        F.unix_micros("ts").alias("p_ts"),
        cents.alias("cents"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
    )
    pairs = purchases.join(touches, "u").filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("p_ts") - F.col("t_ts") <= _ATTR_WINDOW_US)
    )
    w = Window.partitionBy("p_id")
    wa = w.orderBy("t_ts", "t_id")
    wd = w.orderBy(F.desc("t_ts"), F.desc("t_id"))
    attributed = pairs.select(
        "p_id",
        "channel",
        "cents",
        F.count(F.lit(1)).over(w).alias("k"),
        F.row_number().over(wa).alias("rn_first"),
        F.row_number().over(wd).alias("rn_last"),
    ).select(
        "channel",
        (
            F.expr("cents div k")
            + F.when(
                F.col("rn_last") == 1,
                F.col("cents") - F.col("k") * F.expr("cents div k"),
            ).otherwise(F.lit(0))
        ).alias("linear_c"),
        F.when(F.col("rn_first") == 1, F.col("cents")).otherwise(F.lit(0)).alias("first_c"),
        F.when(F.col("rn_last") == 1, F.col("cents")).otherwise(F.lit(0)).alias("last_c"),
    )
    direct = (
        purchases.join(pairs.select("p_id").distinct(), "p_id", "left_anti")
        .select(
            F.lit("(direct)").alias("channel"),
            F.col("cents").alias("linear_c"),
            F.col("cents").alias("first_c"),
            F.col("cents").alias("last_c"),
        )
    )
    return (
        attributed.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("linear_c") / F.lit(100.0)).alias("linear_usd"),
            (F.sum("first_c") / F.lit(100.0)).alias("first_usd"),
            (F.sum("last_c") / F.lit(100.0)).alias("last_usd"),
        )
        .orderBy("channel")
    )


EV_ATTRIBUTION_SQL = f"""
    WITH p AS (
        SELECT event_id AS p_id, user_id AS u, epoch_us(ts) AS p_ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id AS u, event_type AS channel, epoch_us(ts) AS t_ts,
               event_id AS t_id
        FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
        SELECT p.p_id, t.channel, p.cents, t.t_ts, t.t_id
        FROM p JOIN t ON p.u = t.u
        WHERE t.t_ts <= p.p_ts AND p.p_ts - t.t_ts <= {_ATTR_WINDOW_US}
    ),
    ranked AS (
        SELECT p_id, channel, cents,
               count(*) OVER (PARTITION BY p_id) AS k,
               row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn_first,
               row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rn_last
        FROM pairs
    ),
    attributed AS (
        SELECT channel,
               cents // k
               + CASE WHEN rn_last = 1 THEN cents - k * (cents // k) ELSE 0 END
                   AS linear_c,
               CASE WHEN rn_first = 1 THEN cents ELSE 0 END AS first_c,
               CASE WHEN rn_last = 1 THEN cents ELSE 0 END AS last_c
        FROM ranked
        UNION ALL
        SELECT '(direct)', cents, cents, cents
        FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM pairs)
    )
    SELECT channel,
           count(*) AS n_rows,
           CAST(sum(linear_c) AS BIGINT) / 100.0 AS linear_usd,
           CAST(sum(first_c) AS BIGINT) / 100.0 AS first_usd,
           CAST(sum(last_c) AS BIGINT) / 100.0 AS last_usd
    FROM attributed
    GROUP BY channel
    ORDER BY channel
"""

QUERIES["ev_attribution"] = ev_attribution
ORACLES["ev_attribution"] = EV_ATTRIBUTION_SQL
