"""Ingest hygiene: dead-letter routing of malformed payload rows.

Every warehouse-scale pipeline needs a quarantine lane — rows whose payload
fails to parse must neither kill the job (the reference engine's per-document
try/except just drops them, process_documents/process_queue_documents.py)
nor silently vanish. The Spark-native shape is a single projection that
classifies each row (`from_json` is null-safe: a broken document yields a
NULL struct, a missing field a NULL field), after which valid/quarantined
lanes are two filters over the same scan — no second parse, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synth_corrupt_props(events: DataFrame) -> DataFrame:
    """Deterministically corrupt ~30% of props payloads three ways
    (truncated JSON, renamed field, out-of-domain value) — md5-gated like
    encoding_quality's injection, pure expressions so the oracle rebuilds
    identical input."""
    h = (F.conv(F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":corrupt"))),
            1, 2), 16, 10).cast("long") % 10)
    props = (
        F.when(h == 0, F.expr("substring(props, 1, length(props) - 1)"))
        .when(h == 1, F.regexp_replace("props", '"k"', '"x"'))
        .when(h == 2, F.regexp_replace("props", "[0-9]+", "99999"))
        .otherwise(F.col("props"))
    )
    return events.select("event_id", props.alias("props"))


def quarantine_events(events: DataFrame) -> DataFrame:
    """Classify every row in ONE map-only pass: parse props once with
    ``from_json`` and route to (reason, valid) —

        malformed      unparseable JSON (NULL struct)
        missing_field  parsed, but the expected key is absent
        out_of_range   parsed, key present, value outside [0, 100]
        ok             the valid lane

    Returns (event_id, reason, valid, k). Downstream, the valid and
    dead-letter sinks are two filters over this projection — the scan and
    the parse are paid once. Scales as a pure scan; no shuffle, no UDF.
    """
    # PERMISSIVE from_json yields a null-FIELDED struct for broken JSON (not
    # a null struct), so malformed-vs-missing needs the corrupt-record column
    parsed = F.from_json(
        "props", "k INT, _bad STRING",
        {"columnNameOfCorruptRecord": "_bad"})
    d = events.select("event_id", "props", parsed.alias("p"))
    reason = (
        F.when(F.col("p").isNull() | F.col("p._bad").isNotNull(), "malformed")
        .when(F.col("p.k").isNull(), "missing_field")
        .when(~F.col("p.k").between(0, 100), "out_of_range")
        .otherwise("ok")
    )
    return d.select(
        "event_id",
        reason.alias("reason"),
        (reason == "ok").alias("valid"),
        F.when(reason == "ok", F.col("p.k")).cast("long").alias("k"),
    )


def json_key_profile(events: DataFrame) -> DataFrame:
    """Semi-structured schema discovery: key-level profile of a JSON payload
    column — per key, how many rows carry it, how many distinct values it
    takes, min/max of the string form — the first question against any
    landed JSON feed ('what's actually in props?').

    One map-only parse to ``map<string,string>`` + explode + one (key)
    hash-agg; count-distinct rides the same shuffle. Unparseable rows
    simply contribute no keys (from_json null-safety), so this composes
    with quarantine_events rather than fighting it.
    """
    m = F.from_json("props", "map<string,string>")
    kv = events.select(F.explode(m).alias("key", "value"))
    return kv.groupBy("key").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("value").alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def json_schema_drift(events: DataFrame, shift_bp: int = 2000) -> DataFrame:
    """Schema-drift audit over a JSON payload feed: per (day, key), how
    many rows carry the key and its presence rate in basis points of that
    day's rows, with day-over-day status —

        new      first day the key ever appears
        dropped  carried rows yesterday, zero today
        absent   still zero after a drop
        shifted  presence rate moved ≥ ``shift_bp`` vs the previous day
        stable   everything else

    — the feed-contract monitor that catches producers renaming or
    retiring fields before downstream jobs break ([[events_json_keys]]
    answers "what's in props?"; this answers "what CHANGED?").

    Scale shape: one map-only parse + (day, key) hash-agg over the scan,
    a per-day total agg, then everything else (day spine via per-key
    ``sequence`` explode — no cross join — lag window, status CASE) rides
    |keys|×|days| rows. Days with no rows at all drop out (rate undefined).
    """
    from pyspark.sql import Window

    day = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    kv = events.select(
        day.alias("day"),
        F.explode(F.map_keys(F.from_json("props", "map<string,string>")))
         .alias("key"))
    per = kv.groupBy("day", "key").agg(F.count("*").alias("n"))
    totals = events.groupBy(day.alias("day")).agg(
        F.count("*").alias("day_rows"))
    keyspan = (per.groupBy("key").agg(F.min("day").alias("d0"),
                                      F.max("day").alias("d1"))
               .withColumn("dmax", F.max("d1").over(Window.partitionBy()))
               .select("key", F.explode(F.sequence("d0", "dmax")).alias("day")))
    rates = (
        keyspan.join(per, ["day", "key"], "left").fillna({"n": 0})
        .join(F.broadcast(totals), "day")
        .select("day", "key", F.col("n").cast("long").alias("n_rows"),
                F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 10000"
                       " DIV day_rows AS BIGINT)").alias("rate_bp")))
    w = Window.partitionBy("key").orderBy("day")
    prev = F.lag("rate_bp").over(w)
    status = (
        F.when(prev.isNull(), "new")
        .when((F.col("rate_bp") == 0) & (prev > 0), "dropped")
        .when((F.col("rate_bp") == 0) & (prev == 0), "absent")
        .when(F.abs(F.col("rate_bp") - prev) >= shift_bp, "shifted")
        .otherwise("stable"))
    return rates.select("day", "key", "n_rows", "rate_bp",
                        prev.alias("prev_rate_bp"), status.alias("status"))
