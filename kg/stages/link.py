"""B5 — entity linking (SURVEY.md §2 B5).

Spark-first: the entity dictionary (normalized variant surface →
canonical entity) is a few hundred rows, so exact linking is a
``broadcast`` hash join — JVM-side, codegen'd, no Python. Mentions
that miss the dictionary stay unlinked and flow to the minhash/CC
long-tail canonicalizer (C1–C4), which can still attach them to a
known entity when their cluster contains a linked member.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from kg import spec


def dictionary_df(spark: SparkSession) -> DataFrame:
    """The linking dictionary as a (norm, entity, entity_mtype) frame.

    Built from pandas, so the plan is a ``LocalTableScan`` on the
    driver: a list of tuples would plan as a PythonRDD scan, and
    every scan of it (canon's node probe, the driver naming step)
    would start one Python worker task per partition."""
    rows = [(n, c, m) for n, (c, m) in spec.linking_dictionary().items()]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["norm", "entity", "entity_mtype"]),
        "norm string, entity string, entity_mtype string")


def link_exact(df: DataFrame, dict_df: DataFrame, norm_col: str,
               out_col: str) -> DataFrame:
    """Left broadcast-join ``norm_col`` against the dictionary; adds
    ``out_col`` (nullable canonical entity) and ``out_col + '_score'``
    (1.0 exact / null)."""
    d = F.broadcast(dict_df.select(
        F.col("norm").alias(norm_col),
        F.col("entity").alias(out_col)))
    return (df.join(d, on=norm_col, how="left")
              .withColumn(f"{out_col}_score",
                          F.when(F.col(out_col).isNotNull(), F.lit(1.0))))


def link_instances(scored: DataFrame, dict_df: DataFrame) -> DataFrame:
    """T4 → T4 ⊕ (head_entity, tail_entity): two broadcast joins."""
    df = link_exact(scored, dict_df, "head_norm", "head_entity")
    return link_exact(df, dict_df, "tail_norm", "tail_entity")
