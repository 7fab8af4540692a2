"""Entity co-occurrence / adjacency-matrix operators (SURVEY §2.3 J3, §2.4 A8).

The reference's LINK app answers "which entities co-occur" two ways:
1. pre-materialized relation pair tokens `subjRef|objRef` on every concept
   document, aggregated by ES fielddata term aggs (main.py:624-633,
   es-mapping/concept.json:860-875);
2. an N×N adjacency-matrix aggregation over ≤500 entity filters
   (README.md:96-104).

Spark-first: (1) is a pair-string groupBy; (2) is a self-join on the
containing unit (publication / sentence) restricted to a broadcast filter
list, then groupBy(left, right) — optionally pivoted to matrix form.

Scale notes: the self-join key is the containing unit id, so the shuffle
is per-unit, not per-pair; the ≤500-entity filter is broadcast and applied
BEFORE the join (semi-join pushdown), so the joined relation is tiny even
on 570 M concept rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_counts(
    mentions: DataFrame,
    unit_col: str,
    entity_col: str,
    entity_filter: list[str] | None = None,
) -> DataFrame:
    """Adjacency-matrix counts: distinct (unit, entity) → self-join on unit
    → count per unordered entity pair (left < right).

    ``entity_filter`` (≤500 ids, README.md:101) is applied before the join
    — Catalyst turns the IN-list into a scan-level filter; no broadcast
    join is even needed.
    """
    m = mentions.select(
        F.col(unit_col).alias("unit"), F.col(entity_col).alias("entity")
    )
    if entity_filter is not None:
        m = m.filter(F.col("entity").isin(entity_filter))
    m = m.distinct()
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, (F.col("a.unit") == F.col("b.unit")) & (F.col("a.entity") < F.col("b.entity")))
        .groupBy(F.col("a.entity").alias("entity_a"), F.col("b.entity").alias("entity_b"))
        .agg(F.count(F.lit(1)).alias("n_units"))
    )


def adjacency_matrix(
    mentions: DataFrame,
    unit_col: str,
    entity_col: str,
    entities: list[str],
) -> DataFrame:
    """Pivot the pair counts into matrix form — one row per entity_a, one
    column per entity in ``entities`` (explicit pivot values keep the
    schema static and the pivot single-pass).

    Symmetrization is IN-ROW (each pair row explodes into both
    orientations), not a union of the counts subtree with its swap — a
    union's two branches each re-derive the whole
    distinct+self-join+agg pipeline (plan-audited at 500 entities: every
    Exchange appeared twice), doubling the dominant work; the explode is
    a free map-side 2× on the already-tiny pair table. The whole matrix
    is then: mentions → distinct → unit self-join → pair agg (one
    Exchange) → pivot agg (one Exchange on entity_a)."""
    counts = cooccurrence_counts(mentions, unit_col, entity_col, entities)
    sym = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("entity_a"), F.col("entity_b"), F.col("n_units")
                ),
                F.struct(
                    F.col("entity_b").alias("entity_a"),
                    F.col("entity_a").alias("entity_b"),
                    F.col("n_units"),
                ),
            )
        ).alias("_p")
    ).select("_p.*")
    return (
        sym.groupBy("entity_a")
        .pivot("entity_b", entities)
        .agg(F.coalesce(F.first("n_units"), F.lit(0)))
        .na.fill(0)
    )
