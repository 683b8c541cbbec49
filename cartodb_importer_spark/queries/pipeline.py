"""Reference-pipeline semantics as oracle-checked queries: column
sanitization (O10/O22-O24), type inference (§2.2), lat/lon georeferencing
(O12/O13), GeoJSON geometry rebuild (O11).

These run the REAL engine code paths (naming.py / infer.py / georef.py)
over the parquet testdata; the oracle SQL mirrors the semantics, with
expected names computed by the same pure-Python sanitizers on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import naming
from ..georef import geojson_point_to_wkt, point_wkt
from ..infer import FLOAT_RX, INT32_MAX, INT_RX
from . import Tables, query

# ------------------------------------------------------------- sanitization

# Messy headers a real CSV might carry for the documents table; the engine
# sanitizes them; the oracle aliases to the SAME names via the shared
# pure-Python sanitizer — if naming.py drifts from the reference the hash
# breaks.
_MESSY = ["Doc ID", "TEXT body", "LÄNG", "select", "# Chars"]
_CLEAN = naming.sanitize_columns(_MESSY)
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "pipeline_sanitize_columns",
    oracle="SELECT "
    + ", ".join(
        f'"{src}" AS "{dst}"' for src, dst in zip(_DOC_COLS, _CLEAN)
    )
    + " FROM documents",
)
def pipeline_sanitize_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 rename-all pass: simulate messy import headers, sanitize with
    the ported reference rules (diacritic fold, reserved-word prefix,
    punctuation collapse)."""
    t = Tables(spark, sf_dir)
    messy = t.documents.toDF(*_MESSY)
    return messy.toDF(*naming.sanitize_columns(messy.columns))


# ---------------------------------------------------------- type inference

_INFER_COLS = {
    "k_str": "json_extract_string(props, '$.k')",
    "value_str": "CAST(value AS VARCHAR)",
    "event_type": "event_type",
}

_INFER_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{name}' AS column_name,
           CASE coalesce(max(
             CASE WHEN {expr} IS NULL OR NOT regexp_matches({expr}, '\\S') THEN NULL
                  WHEN regexp_matches({expr}, '{INT_RX}')
                    THEN CASE WHEN CAST({expr} AS DOUBLE) > {INT32_MAX} THEN 1 ELSE 0 END
                  WHEN regexp_matches({expr}, '^-?[0-9]+[.|,][0-9]+$') THEN 1
                  ELSE 2 END), 2)
           WHEN 0 THEN 'integer' WHEN 1 THEN 'float' ELSE 'varchar' END AS inferred_type
    FROM events
    """
    for name, expr in _INFER_COLS.items()
)


@query("pipeline_type_inference", oracle=_INFER_ORACLE)
def pipeline_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 distributed inference: stringified event columns typed by the
    reference's regex lattice in ONE aggregate pass; result is the
    (column, type) relation."""
    from ..infer import infer_column_types

    t = Tables(spark, sf_dir)
    stringified = t.events.select(
        F.get_json_object("props", "$.k").alias("k_str"),
        F.col("value").cast("string").alias("value_str"),
        F.col("event_type"),
    )
    types = infer_column_types(stringified)
    return spark.createDataFrame(
        [(c, ty) for c, ty in types.items()], "column_name string, inferred_type string"
    )


# ------------------------------------------------------------ georeferencing


@query(
    "pipeline_georef_point",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_tax BETWEEN -180 AND 180
                 AND l_discount BETWEEN -90 AND 90
                THEN 'POINT(' || CAST(l_tax AS VARCHAR) || ' ' || CAST(l_discount AS VARCHAR) || ')'
                END AS the_geom,
           CASE WHEN l_extendedprice BETWEEN -180 AND 180
                 AND l_discount BETWEEN -90 AND 90
                THEN 'POINT(' || CAST(l_extendedprice AS VARCHAR) || ' ' || CAST(l_discount AS VARCHAR) || ')'
                END AS the_geom_out_of_range
    FROM lineitem
    """,
)
def pipeline_georef_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 point georeferencing with the reference's range guard (numeric
    columns: -180 <= lon <= 180, -90 <= lat <= 90): in-range lon/lat build
    WKT, out-of-range (extendedprice as a fake lon) yields NULL —
    set-based, one pass."""
    li = Tables(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        point_wkt(li, "l_tax", "l_discount").alias("the_geom"),
        point_wkt(li, "l_extendedprice", "l_discount").alias(
            "the_geom_out_of_range"
        ),
    )


@query(
    "pipeline_geojson_geom",
    oracle="""
    WITH g AS (
      SELECT event_id,
             '{"type":"Point","coordinates":[' || CAST(value AS VARCHAR) || ','
               || CAST(user_id AS VARCHAR) || ']}' AS the_geom
      FROM events
    )
    SELECT event_id,
           CASE WHEN json_extract_string(the_geom, '$.type') = 'Point'
                 AND json_extract_string(the_geom, '$.coordinates[0]') IS NOT NULL
                 AND json_extract_string(the_geom, '$.coordinates[1]') IS NOT NULL
                THEN 'POINT(' || json_extract_string(the_geom, '$.coordinates[0]')
                     || ' ' || json_extract_string(the_geom, '$.coordinates[1]') || ')'
                END AS the_geom_wkt
    FROM g
    """,
)
def pipeline_geojson_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 GeoJSON the_geom rebuild, vectorized: construct a GeoJSON cell
    (as a CSV import would carry), parse it back to WKT in one pass."""
    t = Tables(spark, sf_dir)
    geojson = F.concat(
        F.lit('{"type":"Point","coordinates":['),
        F.col("value").cast("string"),
        F.lit(","),
        F.col("user_id").cast("string"),
        F.lit("]}"),
    )
    return t.events.select(
        "event_id",
        geojson_point_to_wkt(geojson).alias("the_geom_wkt"),
    )


@query(
    "pipeline_georef_discovery",
    oracle="""
    SELECT 'lat_found' AS probe, 'Latitude' AS matched
    UNION ALL SELECT 'lon_found', 'lng'
    UNION ALL SELECT 'none_found', NULL
    """,
)
def pipeline_georef_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 lat/lon column discovery semantics as a checkable relation:
    case-insensitive candidate matching, first hit wins, no match -> NULL."""
    from ..georef import find_latlon_columns

    lat1, _ = find_latlon_columns(["id", "Latitude", "lat"])
    _, lon1 = find_latlon_columns(["id", "LONG", "lng"])
    lat2, lon2 = find_latlon_columns(["id", "name"])
    rows = [
        ("lat_found", lat1),
        ("lon_found", lon1),
        ("none_found", lat2 or lon2),
    ]
    return spark.createDataFrame(rows, "probe string, matched string")


def _fold_sql_fragment(col: str) -> str:
    from ..functions import _FOLD_DST, _FOLD_SRC

    src = _FOLD_SRC.replace("'", "''")
    dst = _FOLD_DST.replace("'", "''")
    return (
        "translate(replace(replace(replace(replace("
        f"{col}, 'æ', 'ae'), 'œ', 'oe'), 'Æ', 'AE'), 'Œ', 'OE'), "
        f"'{src}', '{dst}')"
    )


@query(
    "pipeline_diacritic_fold",
    oracle=f"""
    WITH accented AS (
      SELECT doc_id, 'Café Niño' || substr(text, 1, 40) || 'ò ą' AS s
      FROM documents
    )
    SELECT doc_id, {_fold_sql_fragment("s")} AS folded
    FROM accented
    """,
)
def pipeline_diacritic_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized O22: the reference diacritic fold as translate()
    (whole-stage codegen) over a constructed accented column — the
    at-scale twin of the driver-side naming.normalize, value-checked
    against the same flattened table in the oracle."""
    from ..functions import fold_diacritics

    t = Tables(spark, sf_dir)
    accented = t.documents.select(
        "doc_id",
        F.concat(
            F.lit("Café Niño"), F.substring("text", 1, 40), F.lit("ò ą")
        ).alias("s"),
    )
    return accented.select(
        "doc_id", fold_diacritics(F.col("s")).alias("folded")
    )


@query(
    "pipeline_profile_columns",
    oracle="""
    SELECT 'o_orderstatus' AS column_name,
           CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT)
             AS n_null,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR)           AS min_str,
           CAST(max(o_orderstatus) AS VARCHAR)           AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(floor(min(o_totalprice) * 100 + 0.5) / 100 AS VARCHAR),
           CAST(floor(max(o_totalprice) * 100 + 0.5) / 100 AS VARCHAR)
    FROM orders
    """,
)
def pipeline_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-quality summary every import pipeline
    runs before publish (null counts, cardinality, bounds; the engine
    sibling of the reference's schema-inference probe, §2.2). ONE scan
    computes every column's stats as parallel aggregates (no per-column
    scans, no unpivot shuffle of the raw data); the per-column rows are
    assembled from the single 1-row aggregate via a literal explode.
    String rendering is normalized on both engines (floats via
    floor(x*100+0.5)/100 then VARCHAR)."""
    t = Tables(spark, sf_dir)
    agg = t.orders.agg(
        F.sum(
            F.col("o_orderstatus").isNull().cast("long")
        ).alias("null_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        F.sum(
            F.col("o_orderpriority").isNull().cast("long")
        ).alias("null_prio"),
        F.count_distinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
        F.sum(
            F.col("o_totalprice").isNull().cast("long")
        ).alias("null_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    money = lambda c: (F.floor(F.col(c) * 100 + 0.5) / 100).cast("string")
    rows = F.array(
        F.struct(
            F.lit("o_orderstatus").alias("column_name"),
            F.col("null_status").alias("n_null"),
            F.col("nd_status").alias("n_distinct"),
            F.col("min_status").cast("string").alias("min_str"),
            F.col("max_status").cast("string").alias("max_str"),
        ),
        F.struct(
            F.lit("o_orderpriority").alias("column_name"),
            F.col("null_prio").alias("n_null"),
            F.col("nd_prio").alias("n_distinct"),
            F.col("min_prio").cast("string").alias("min_str"),
            F.col("max_prio").cast("string").alias("max_str"),
        ),
        F.struct(
            F.lit("o_totalprice").alias("column_name"),
            F.col("null_price").alias("n_null"),
            F.col("nd_price").alias("n_distinct"),
            money("min_price").alias("min_str"),
            money("max_price").alias("max_str"),
        ),
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "pipeline_referential_audit",
    oracle="""
    SELECT 'lineitem_without_order' AS check_name,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'order_without_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer_without_nation',
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    """,
)
def pipeline_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts across the key FK
    edges, the post-import data-quality gate. Each check is one
    LEFT ANTI join (broadcast for dims; keyed for the fact edge) feeding
    a count; no row data survives the join, only counts travel."""
    t = Tables(spark, sf_dir)

    def orphans(child, key_col, parent, pkey_col):
        return child.join(
            parent, child[key_col] == parent[pkey_col], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_violations"))

    checks = [
        (
            "lineitem_without_order",
            orphans(t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
        ),
        (
            "order_without_customer",
            orphans(t.orders, "o_custkey", t.customer, "c_custkey"),
        ),
        (
            "customer_without_nation",
            orphans(t.customer, "c_nationkey", t.nation, "n_nationkey"),
        ),
    ]
    out = None
    for name, df in checks:
        row = df.select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "pipeline_benford_profile",
    oracle="""
    WITH digits AS (
      SELECT CAST(floor(o_totalprice
                        / power(10, floor(log10(o_totalprice))))
                  AS INT) AS d
      FROM orders WHERE o_totalprice > 0
    ), counts AS (
      SELECT d, count(*) AS n FROM digits GROUP BY 1
    ), tot AS (SELECT sum(n) AS total FROM counts)
    SELECT d AS first_digit, n,
           floor(CAST(n AS DOUBLE) / tot.total * 1e6 + 0.5) / 1e6
             AS observed_freq,
           floor(log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6
             AS benford_freq,
           floor(power(n - tot.total * log10(1.0 + 1.0 / d), 2)
                 / (tot.total * log10(1.0 + 1.0 / d)) * 1e4 + 0.5) / 1e4
             AS chi2_contrib
    FROM counts CROSS JOIN tot
    """,
)
def pipeline_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice — the fraud /
    synthetic-data smell test a profiling pass runs on every monetary
    column. The first significant digit is extracted numerically
    (x / 10^floor(log10 x)), never via string formatting, so both
    engines agree exactly; output is the 9-row digit histogram with
    observed vs log10(1+1/d) expected frequency and the chi-squared
    contribution per digit. One scan, one 9-group aggregate, a scalar
    broadcast for the total — profiling cost is a single map-side
    combinable pass at any scale."""
    t = Tables(spark, sf_dir)
    digits = t.orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    exp_freq = F.log10(1.0 + 1.0 / F.col("d"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        (
            F.floor(
                F.col("n").cast("double") / F.col("total") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("observed_freq"),
        (F.floor(exp_freq * 1e6 + F.lit(0.5)) / 1e6).alias("benford_freq"),
        (
            F.floor(
                F.pow(F.col("n") - F.col("total") * exp_freq, F.lit(2.0))
                / (F.col("total") * exp_freq)
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("chi2_contrib"),
    )


@query(
    "pipeline_skew_diagnostics",
    oracle="""
    WITH k AS (
      SELECT l_orderkey AS key, count(*) AS n FROM lineitem GROUP BY 1
    ), stats AS (
      SELECT avg(n) AS mean_n,
             quantile_cont(n, 0.99) AS p99_n,
             max(n) AS max_n,
             count(*) AS n_keys
      FROM k
    )
    SELECT k.key, k.n,
           floor(k.n / stats.mean_n * 1e4 + 0.5) / 1e4 AS skew_factor,
           floor(stats.p99_n * 1e4 + 0.5) / 1e4 AS p99_n,
           CAST(stats.n_keys AS BIGINT) AS n_keys
    FROM k CROSS JOIN stats
    ORDER BY k.n DESC, k.key LIMIT 20
    """,
)
def pipeline_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profiler: the top-20 heaviest join/agg keys with
    their skew factor (count / mean count) and the p99 key size — the
    diagnostic you run BEFORE choosing salting (operators/skew.py) or
    trusting AQE's skew-join split, and the first thing to check when a
    stage straggles. One keyed count, a 1-row moment broadcast, and a
    TakeOrdered top-20 — the profile costs one scan at any data size.
    The key histogram itself (not just its top) is what 'size
    spark.sql.shuffle.partitions to the p99 key' decisions read."""
    t = Tables(spark, sf_dir)
    k = t.lineitem.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = k.agg(
        F.avg("n").alias("mean_n"),
        F.percentile("n", 0.99).alias("p99_n"),
        F.max("n").alias("max_n"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        k.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n",
            (
                F.floor(F.col("n") / F.col("mean_n") * 1e4 + F.lit(0.5))
                / 1e4
            ).alias("skew_factor"),
            (F.floor(F.col("p99_n") * 1e4 + F.lit(0.5)) / 1e4).alias(
                "p99_n"
            ),
            F.col("n_keys").cast("bigint").alias("n_keys"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(20)
    )


# ------------------------------------------------- continuous importer twin


@query(
    "pipeline_continuous_ingest",
    oracle="""
    SELECT CAST(n_nationkey AS INTEGER)            AS nation_key,
           n_name                                  AS name,
           CAST(n_nationkey * 1.5 - 10 AS DOUBLE)  AS latitude,
           CAST(n_nationkey * 2.0 - 20 AS DOUBLE)  AS longitude,
           'POINT(' || CAST(CAST(n_nationkey * 2.0 - 20 AS DOUBLE) AS VARCHAR)
            || ' '  || CAST(CAST(n_nationkey * 1.5 - 10 AS DOUBLE) AS VARCHAR)
            || ')'                                 AS the_geom
    FROM nation
    """,
)
def pipeline_continuous_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled batch-twin of the continuous CSV importer
    (streaming/ingest.py; reference contract importer.rb:480-560 +
    :296-333): materialize the 25-row nation dim as a two-file CSV
    landing zone with messy headers and synthetic lat/lon columns, run
    the REAL streaming path end to end — dialect sniff, O10 header
    sanitization, one-time §2.2 lattice planning, availableNow stream,
    O12/O13 georeferencing, idempotent catalog append — and return the
    landed table. The oracle reproduces the type lattice (key->int,
    lat/lon->double) and the WKT build from the nation view. Bounded by
    construction: the landing zone is the 25-row dimension, never a
    fact table; at scale the same code watches a directory the upstream
    jobs drop into."""
    import os
    import tempfile

    from ..sinks.catalog import LocalCatalog
    from ..streaming.ingest import stream_import_csv

    t = Tables(spark, sf_dir)
    rows = sorted(
        t.nation.select("n_nationkey", "n_name").collect(),
        key=lambda r: r["n_nationkey"],
    )
    work = tempfile.mkdtemp(prefix="cartodb_ingest_twin_")
    land = os.path.join(work, "landing")
    os.makedirs(land)
    header = "Nation Key,Name,Latitude,Longitude\n"
    for fname, chunk in (("a.csv", rows[:13]), ("b.csv", rows[13:])):
        with open(os.path.join(land, fname), "w") as f:
            f.write(header)
            for r in chunk:
                k = r["n_nationkey"]
                f.write(f"{k},{r['n_name']},{k * 1.5 - 10},{k * 2.0 - 20}\n")
    catalog = LocalCatalog(os.path.join(work, "wh"))
    q = stream_import_csv(
        spark, land, catalog, "nation_zone", os.path.join(work, "ckpt")
    )
    q.awaitTermination()
    # __batch_id is the sink's idempotent-replay bookkeeping column, not
    # part of the imported table contract
    return catalog.read(spark, "nation_zone").drop("__batch_id")


@query(
    "pipeline_constraint_checks",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS d,
             CAST(count(*) FILTER (WHERE o_orderstatus IN ('O','F','P'))
                  AS DOUBLE) AS in_set,
             CAST(count(*) FILTER (WHERE o_totalprice > 0) AS DOUBLE)
               AS pos
      FROM orders
    ), l AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE l_quantity BETWEEN 1 AND 50)
                  AS DOUBLE) AS qty_ok,
             CAST(count(*) FILTER (WHERE l_discount BETWEEN 0 AND 0.1)
                  AS DOUBLE) AS disc_ok
      FROM lineitem
    ), c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE regexp_matches(c_name,
                  '^Customer#[0-9]{9}$')) AS DOUBLE) AS name_ok,
             CAST(count(*) FILTER (WHERE c_acctbal >= -1000) AS DOUBLE)
               AS bal_ok
      FROM customer
    ), e AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE json_extract_string(props, '$.k')
                  IS NOT NULL) AS DOUBLE) AS k_ok
      FROM events
    ), d AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE length(text) > 0) AS DOUBLE)
               AS txt_ok,
             CAST(count(*) FILTER (WHERE lang IN
                  ('en','es','fr','de','zh')) AS DOUBLE) AS lang_ok
      FROM documents
    ), checks AS (
      SELECT 'orders_orderkey_unique' AS check_name,
             d / n AS metric, 1.0 AS threshold FROM o
      UNION ALL SELECT 'orders_status_in_set', in_set / n, 1.0 FROM o
      UNION ALL SELECT 'orders_totalprice_positive', pos / n, 1.0 FROM o
      UNION ALL SELECT 'lineitem_quantity_in_range', qty_ok / n, 1.0 FROM l
      UNION ALL SELECT 'lineitem_discount_in_range', disc_ok / n, 1.0 FROM l
      UNION ALL SELECT 'customer_name_pattern', name_ok / n, 0.99 FROM c
      UNION ALL SELECT 'customer_acctbal_floor', bal_ok / n, 1.0 FROM c
      UNION ALL SELECT 'events_props_k_present', k_ok / n, 0.95 FROM e
      UNION ALL SELECT 'documents_text_nonempty', txt_ok / n, 0.99 FROM d
      UNION ALL SELECT 'documents_lang_in_set', lang_ok / n, 1.0 FROM d
    ), rounded AS (
      SELECT check_name,
             floor(metric * 1000000 + 0.5) / 1000000 AS metric,
             threshold
      FROM checks
    )
    SELECT check_name, metric, threshold,
           CAST(metric >= threshold AS INTEGER) AS passed
    FROM rounded
    """,
)
def pipeline_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract validation (the Deequ pattern): a rule
    table of completeness / uniqueness / range / pattern / set-membership
    constraints, each emitting ``(check_name, metric, threshold, passed)``
    — the go/no-go gate a pipeline runs before publishing an import, and
    the generalization of O9's empty-input guard + O19's row-count result
    (importer.rb:77-147) to arbitrary per-column rules.

    Scale: ONE full-scan aggregate per table computes every metric for
    that table as conditional counts (map-side combinable, no row data
    shuffled — a handful of doubles per partition); the rule rows are
    then unpacked from the 1-row frames with ``explode``, so adding a
    constraint adds a counter, not a pass. The uniqueness check is the
    only distinct (keyed shuffle on the candidate key)."""
    t = Tables(spark, sf_dir)

    def frac(cond) -> F.Column:
        return F.count(F.when(cond, 1)).cast("double") / F.count(F.lit(1))

    def rules(agg_df: DataFrame, *rows: tuple[str, str, float]) -> DataFrame:
        return agg_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("check_name"),
                            F.col(col).alias("metric"),
                            F.lit(thr).alias("threshold"),
                        )
                        for name, col, thr in rows
                    ]
                )
            ).alias("r")
        ).select("r.check_name", "r.metric", "r.threshold")

    o = t.orders.agg(
        (
            F.countDistinct("o_orderkey").cast("double")
            / F.count(F.lit(1))
        ).alias("uniq"),
        frac(F.col("o_orderstatus").isin("O", "F", "P")).alias("in_set"),
        frac(F.col("o_totalprice") > 0).alias("pos"),
    )
    li = t.lineitem.agg(
        frac(F.col("l_quantity").between(1, 50)).alias("qty_ok"),
        frac(F.col("l_discount").between(0, 0.1)).alias("disc_ok"),
    )
    c = t.customer.agg(
        frac(F.col("c_name").rlike(r"^Customer#[0-9]{9}$")).alias(
            "name_ok"
        ),
        frac(F.col("c_acctbal") >= -1000).alias("bal_ok"),
    )
    e = t.events.agg(
        frac(F.get_json_object("props", "$.k").isNotNull()).alias("k_ok")
    )
    d = t.documents.agg(
        frac(F.length("text") > 0).alias("txt_ok"),
        frac(F.col("lang").isin("en", "es", "fr", "de", "zh")).alias(
            "lang_ok"
        ),
    )
    checks = (
        rules(
            o,
            ("orders_orderkey_unique", "uniq", 1.0),
            ("orders_status_in_set", "in_set", 1.0),
            ("orders_totalprice_positive", "pos", 1.0),
        )
        .unionByName(
            rules(
                li,
                ("lineitem_quantity_in_range", "qty_ok", 1.0),
                ("lineitem_discount_in_range", "disc_ok", 1.0),
            )
        )
        .unionByName(
            rules(
                c,
                ("customer_name_pattern", "name_ok", 0.99),
                ("customer_acctbal_floor", "bal_ok", 1.0),
            )
        )
        .unionByName(rules(e, ("events_props_k_present", "k_ok", 0.95)))
        .unionByName(
            rules(
                d,
                ("documents_text_nonempty", "txt_ok", 0.99),
                ("documents_lang_in_set", "lang_ok", 1.0),
            )
        )
    )
    # verdict is derived from the ROUNDED metric, so an emitted row can
    # never read metric == threshold with passed = 0 (consumers see one
    # consistent number, and the verdict can't flip on sub-rounding noise)
    return checks.select(
        "check_name",
        (F.floor(F.col("metric") * 1000000 + 0.5) / 1000000).alias(
            "metric"
        ),
        "threshold",
    ).select(
        "check_name",
        "metric",
        "threshold",
        (F.col("metric") >= F.col("threshold")).cast("int").alias("passed"),
    )
