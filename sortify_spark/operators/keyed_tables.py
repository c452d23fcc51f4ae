"""Small keyed collections (SURVEY.md §1.2 tail): ``suggested_questions``,
``device_tokens``, ``system_config`` — schema + update-operator parity.

These are the reference's remaining Mongo collections whose *query*
semantics (keyed ``$set`` upsert, ``$inc`` counters, positional array
update, point lookup, singleton config) were already covered by generic
primitives; this module pins the concrete schemas and the exact update
algebra so a reference user finds every collection modeled.

Reference: ``backend/app/crud/crud_suggested_questions.py:132-176``
(user-keyed upsert + ``questions.$.use_count`` ``$inc``),
``backend/app/crud/crud_device_tokens.py:66-256`` (device token create /
point lookup / rotate / deactivate), ``backend/app/crud/crud_settings.py``
(``system_config`` singleton keyed by a fixed document id).

Scale note: these tables are per-user / per-device sized (≪ corpus).
Every merge below broadcasts the update side and never shuffles the
existing table more than once; the positional array update is a pure
``transform()`` projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: ``SuggestedQuestionsDocument`` (crud_suggested_questions.py:123-129).
SUGGESTED_QUESTIONS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField(
            "questions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("question", T.StringType()),
                        T.StructField("use_count", T.LongType()),
                        T.StructField("last_used_at", T.TimestampType()),
                    ]
                )
            ),
        ),
        T.StructField("last_generated", T.TimestampType()),
        T.StructField("total_documents", T.LongType()),
        T.StructField("version", T.IntegerType()),
    ]
)

#: ``DeviceTokenInDB`` fields (crud_device_tokens.py:50-72).
DEVICE_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType(), False),
        T.StructField("user_id", T.StringType()),
        T.StructField("refresh_token", T.StringType()),
        T.StructField("last_used", T.TimestampType()),
        T.StructField("expires_at", T.TimestampType()),
        T.StructField("is_active", T.BooleanType()),
        T.StructField("last_ip", T.StringType()),
    ]
)

#: ``system_config`` singleton (crud_settings.py:56 — one row keyed by a
#: fixed ``_id``; open fields as a string map).
SYSTEM_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType(), False),
        T.StructField("config", T.MapType(T.StringType(), T.StringType())),
    ]
)

CONFIG_DOCUMENT_ID = "main_config"


def keyed_set_upsert(
    existing: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Mongo ``update_one({keys}, {$set: doc}, upsert=True)`` as a set
    operation: rows of ``existing`` whose key has an update are replaced
    wholesale, unmatched updates insert (crud_suggested_questions.py:
    132-148, crud_device_tokens.py rotate path).  The update side
    broadcasts; the table never shuffles.

    The one-row-per-key table invariant is enforced: duplicate keys in
    one update batch are collapsed (``dropDuplicates`` — ARBITRARY
    winner, like a racing pair of ``update_one`` calls; dedupe upstream
    when the winner matters)."""
    updates = updates.dropDuplicates(list(keys))
    keep = existing.join(
        F.broadcast(updates.select(*keys).distinct()), keys, "left_anti"
    )
    return keep.unionByName(updates.select(*keep.columns))


def inc_upsert(
    existing: DataFrame,
    deltas: DataFrame,
    keys: list[str],
    inc_cols: list[str],
    max_cols: list[str] = (),
) -> DataFrame:
    """Mongo ``{$inc: counters}`` upsert algebra: matched keys ADD their
    delta counters (missing side counts as 0), unmatched keys insert.
    ``max_cols`` take the greatest non-null value (the last-used
    timestamp convention).  Full-outer join on the (small, keyed) table;
    correctness contract: applying increments batch-by-batch equals one
    aggregation over all events — the ``suggested_questions_lifecycle``
    query hash-checks exactly that."""
    e = existing.alias("e")
    d = deltas.alias("d")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
    joined = e.join(d, cond, "full_outer")
    out_cols: list[Column] = [
        F.coalesce(F.col(f"e.{k}"), F.col(f"d.{k}")).alias(k) for k in keys
    ]
    for c in inc_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"e.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
        )
    for c in max_cols:
        out_cols.append(F.greatest(F.col(f"e.{c}"), F.col(f"d.{c}")).alias(c))
    rest = [
        c
        for c in existing.columns
        if c not in set(keys) | set(inc_cols) | set(max_cols)
    ]
    for c in rest:
        out_cols.append(F.coalesce(F.col(f"e.{c}"), F.col(f"d.{c}")).alias(c))
    return joined.select(*out_cols)


def mark_question_used(
    questions_table: DataFrame, user_id: str, question_id: str, now
) -> DataFrame:
    """The positional array update ``{"questions.$.last_used_at": now,
    $inc: {"questions.$.use_count": 1}}`` (crud_suggested_questions.py:
    148-186) as a pure ``transform()`` projection — only the matched
    user's matched array element changes."""
    updated = F.transform(
        F.col("questions"),
        lambda q: F.when(
            q.getField("id") == F.lit(question_id),
            F.struct(
                q.getField("id").alias("id"),
                q.getField("question").alias("question"),
                # $inc on a missing counter creates it as 1 — a null
                # use_count must not null-poison the increment
                (
                    F.coalesce(q.getField("use_count"), F.lit(0)) + 1
                ).alias("use_count"),
                F.lit(now).cast("timestamp").alias("last_used_at"),
            ),
        ).otherwise(q),
    )
    return questions_table.withColumn(
        "questions",
        F.when(F.col("user_id") == F.lit(user_id), updated).otherwise(
            F.col("questions")
        ),
    )


def should_regenerate(
    questions: DataFrame,
    current_doc_counts: DataFrame,
    now,
    ratio: float = 1.2,
    max_age_days: int = 30,
) -> DataFrame:
    """``should_regenerate_questions`` (crud_suggested_questions.py:
    216-262) as a set-level plan: per user, regenerate when (a) no
    record, (b) doc count grew ≥ ``ratio``x (zero stored counts as
    full growth), or (c) the record is older than ``max_age_days``.
    ``current_doc_counts``: (user_id, doc_count)."""
    q = questions.select("user_id", "total_documents", "last_generated")
    j = current_doc_counts.join(q, "user_id", "left_outer")
    growth = F.when(
        F.coalesce(F.col("total_documents"), F.lit(0)) == 0, F.lit(True)
    ).otherwise(
        F.col("doc_count") / F.col("total_documents") >= F.lit(ratio)
    )
    stale = (
        F.unix_timestamp(F.lit(now).cast("timestamp"))
        - F.unix_timestamp(F.col("last_generated"))
    ) > max_age_days * 86400
    return j.select(
        "user_id",
        (
            F.col("last_generated").isNull() | growth | stale
        ).alias("regenerate"),
    )


def deactivate_tokens(
    tokens: DataFrame, device_ids: DataFrame
) -> DataFrame:
    """``is_active=False`` for the listed devices (crud_device_tokens.py
    deactivate path) — broadcast semi-membership flag, no shuffle.
    The id list is deduplicated so a device deactivated twice in one
    batch cannot duplicate its token row through the join."""
    flagged = tokens.join(
        F.broadcast(
            device_ids.select("device_id")
            .distinct()
            .withColumn("__hit", F.lit(True))
        ),
        "device_id",
        "left_outer",
    )
    return flagged.withColumn(
        "is_active",
        F.when(F.col("__hit"), F.lit(False)).otherwise(F.col("is_active")),
    ).drop("__hit")


def config_get(config: DataFrame, key: str) -> str | None:
    """Singleton point read (crud_settings.py:56): one-row bounded
    collect by construction."""
    row = (
        config.filter(F.col("_id") == CONFIG_DOCUMENT_ID)
        .select(F.element_at(F.col("config"), key).alias("v"))
        .first()
    )
    return None if row is None else row["v"]


def config_set(config: DataFrame, updates: dict[str, str]) -> DataFrame:
    """Singleton keyed merge: existing map + updates (updates win),
    inserting the singleton row if absent."""
    spark = config.sparkSession
    upd = spark.createDataFrame(
        [(CONFIG_DOCUMENT_ID, updates)], SYSTEM_CONFIG_SCHEMA
    )
    merged = (
        config.alias("e")
        .join(upd.alias("d"), "_id", "full_outer")
        .select(
            "_id",
            F.map_zip_with(
                F.coalesce(
                    F.col("e.config"),
                    F.expr("map()").cast(
                        SYSTEM_CONFIG_SCHEMA["config"].dataType.simpleString()
                    ),
                ),
                F.coalesce(
                    F.col("d.config"),
                    F.expr("map()").cast(
                        SYSTEM_CONFIG_SCHEMA["config"].dataType.simpleString()
                    ),
                ),
                lambda _k, e, d: F.coalesce(d, e),
            ).alias("config"),
        )
    )
    return merged
