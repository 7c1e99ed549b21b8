"""Query-time SCD Type 2 views over append-only tables.

The reference derives versioning at read time with window functions over the
raw appended rows (README.md:125-136; scrapers/vgsi/source.py:813-864). The
three canonical views, reproduced bit-for-bit:

- ``current``        W1: newest row per entity
                     (ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC) = 1)
- ``history``        W4: distinct consecutive versions
                     (LAG(row_hash) + version number, keep rows where the hash
                     changed or is the first)
- ``changed_since``  W5: CDC — rows after a cutoff whose hash differs from the
                     previous version (first inserts excluded)

Scale notes: every view shuffles by the entity key once (the window). At
100 TB the layout keeps scopes in separate directories so the shuffle is per
scope, and ``current`` is the candidate for a materialized snapshot refreshed
at compaction time — semantics identical, cost amortized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _window(key: str, order: str, desc: bool = False):
    ordering = F.col(order).desc() if desc else F.col(order).asc()
    return Window.partitionBy(key).orderBy(ordering)


def with_version_columns(
    df: DataFrame, key: str = "uuid", order: str = "scraped_at"
) -> DataFrame:
    """Add ``prev_hash`` (W2) and ``version`` (W3) over the entity window."""
    w = _window(key, order)
    return df.withColumns(
        {
            "prev_hash": F.lag("row_hash").over(w),
            "version": F.row_number().over(w),
        }
    )


def current(df: DataFrame, key: str = "uuid", order: str = "scraped_at") -> DataFrame:
    """Latest-state view (W1): the newest raw row per entity.

    Reference query (README.md:126-128):
    ``... QUALIFY ROW_NUMBER() OVER (PARTITION BY uuid ORDER BY scraped_at DESC) = 1``
    """
    w = _window(key, order, desc=True)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def history(
    df: DataFrame,
    entity: str | None = None,
    key: str = "uuid",
    order: str = "scraped_at",
) -> DataFrame:
    """Distinct-version history (W4), optionally for one entity.

    Reference get_property_history (scrapers/vgsi/source.py:813-837):
    consecutive identical hashes collapse; version numbers are assigned over
    the *raw* rows before collapsing (so re-scrapes of unchanged data keep
    their raw version index — parity with the reference SQL).
    """
    if entity is not None:
        # pushdown happens before the window; one entity's rows are few, so
        # a single partition serves both the window and the final sort with
        # one exchange instead of a hash exchange plus a sampled range sort
        df = df.filter(F.col(key) == entity).repartition(1)
    out = with_version_columns(df, key, order)
    return out.filter(
        (F.col("row_hash") != F.col("prev_hash")) | F.col("prev_hash").isNull()
    ).orderBy("version")


def changed_since(
    df: DataFrame, since, key: str = "uuid", order: str = "scraped_at"
) -> DataFrame:
    """CDC view (W5): changed versions at or after ``since``.

    Reference get_changed_properties (scrapers/vgsi/source.py:840-864): the
    window runs over the FULL history (prev_hash must see rows before the
    cutoff), then filters. First inserts (prev_hash NULL) excluded.
    """
    out = df.withColumn("prev_hash", F.lag("row_hash").over(_window(key, order)))
    return out.filter(
        (F.col(order) >= F.lit(since))
        & F.col("prev_hash").isNotNull()
        & (F.col("row_hash") != F.col("prev_hash"))
    ).orderBy(F.col(order).desc())


def as_of(
    df: DataFrame, ts, key: str = "uuid", order: str = "scraped_at"
) -> DataFrame:
    """Point-in-time view: the state of every entity AS OF ``ts``.

    ``current`` restricted to rows at/before the timestamp — the natural
    completion of the SCD2 triple (the reference implies it via its
    append-only model but never ships it). Entities first seen after ``ts``
    are absent, exactly as a query at that time would have seen.
    """
    return current(df.filter(F.col(order) <= F.lit(ts)), key=key, order=order)


def register_scd2_views(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str = "uuid",
    order: str = "scraped_at",
) -> None:
    """Expose the raw table and the current and history views as SQL temp
    views (``{name}_raw``, ``{name}_current``, ``{name}_history``).

    ``spark.sql(f"SELECT * FROM {name}_current")`` etc. — the SQL-text path
    the reference offers via DuckDB comes for free from Catalyst.
    """
    df.createOrReplaceTempView(f"{name}_raw")
    current(df, key, order).createOrReplaceTempView(f"{name}_current")
    history(df, key=key, order=order).createOrReplaceTempView(f"{name}_history")
