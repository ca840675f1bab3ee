"""Blocked entity linking (BASELINE.json north_star): link authority
nodes emitted by the mapping's relation blocks (persons/subjects/works,
SURVEY.md G5) against an authority DataFrame via MinHash/Jaccard
blocking + vectorized similarity scoring.

Shuffle discipline at 100 TB:
 - candidates come ONLY from the blocking equi-join (never a cross
   join); block keys are character-shingle MinHash bands;
 - skewed keys (popular dc:creator / dc:subject authorities) are
   SALTED: hot blocks are split into SALT_FACTOR sub-blocks on the big
   side and replicated on the small side, bounding any single reducer;
 - final scoring is an Arrow-vectorized pandas UDF (Jaccard on
   character trigrams) over candidate pairs only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..functions.exprs import fold_accents
from ..functions.textsem import py_replacecharacters
from ..vocab import RDF_TYPE


def mention_nodes(triples: DataFrame, label_preds: list[str]) -> DataFrame:
    """Extract linkable mentions from the triple stream: relation-block
    nodes with their type and best label (G5 output)."""
    labels = (
        triples.filter(F.col("pred").isin(label_preds))
        .groupBy("subj")
        .agg(F.min("obj").alias("label"))
    )
    types = (
        triples.filter(F.col("pred") == RDF_TYPE)
        .groupBy("subj")
        .agg(F.min("obj").alias("kind"))
    )
    return labels.join(types, "subj", "left").select(
        F.col("subj").alias("mention_uri"), "label", "kind"
    )


def _norm_label(c: Column) -> Column:
    """Accent-fold (urlize char map) -> lower -> keep [a-z0-9 ]; the
    pandas scoring UDF applies the identical normalization."""
    return F.regexp_replace(
        F.lower(fold_accents(F.trim(c))), r"[^a-z0-9 ]", ""
    )


def char_shingles(c: Column, n: int = 3) -> Column:
    norm = _norm_label(c)
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(padded, i + 1, n))
    )


def blocked(df: DataFrame, id_col: str, label_col: str,
            bands: int = 8, rows: int = 4) -> DataFrame:
    """(id, label, block) rows: MinHash-band block keys over character
    trigrams.  One explode pass hashes each shingle once; the band
    minima are MIN aggregates (map-side partial) — never re-inline the
    shingle pipeline per seed."""
    sh = df.select(
        F.col(id_col), F.col(label_col),
        F.explode(char_shingles(F.col(label_col))).alias("s"),
    )
    aggs = [
        F.min(F.xxhash64("s", F.lit(seed))).alias(f"mh{seed}")
        for seed in range(bands * rows)
    ]
    sig = sh.groupBy(id_col, label_col).agg(*aggs)
    band_arr = F.array(
        *[
            F.hash(
                F.array(*[F.col(f"mh{b * rows + r}") for r in range(rows)])
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        id_col, label_col, F.explode(band_arr).alias("block")
    )


@F.pandas_udf(DoubleType())
def trigram_jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) exact trigram Jaccard on candidate
    pairs — the reference's link_score extension point (SURVEY.md §2.11
    item 3).  Python only touches candidate pairs, never the corpus."""

    def tri(s: str) -> set:
        s = py_replacecharacters((s or "").strip(" ")).lower()
        s = " " + "".join(ch for ch in s if ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch == " ") + " "
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}  # noqa: E203

    out = []
    for x, y in zip(a, b):
        ta, tb = tri(x), tri(y)
        inter = len(ta & tb)
        union = len(ta | tb) or 1
        out.append(inter / union)
    return pd.Series(out)


def link_mentions(
    mentions: DataFrame,
    authorities: DataFrame,
    threshold: float = 0.7,
    bands: int = 8,
    salt_factor: int = 8,
    hot_block_min: int = 1000,
) -> DataFrame:
    """Blocked linking join:
    mentions(mention_uri, label) x authorities(auth_id, label[, kind])
    -> (mention_uri, auth_id, score) best match per mention.

    Hot blocks (> hot_block_min mentions — popular authorities) are
    salted: mention side gets a deterministic salt in [0, salt_factor),
    authority side is replicated across salts, so no reducer sees a
    whole hot block."""
    m = blocked(
        mentions.select("mention_uri", "label"), "mention_uri", "label",
        bands,
    ).withColumnRenamed("label", "m_label")
    a = blocked(
        authorities.select("auth_id", "label"), "auth_id", "label", bands
    ).withColumnRenamed("label", "a_label")

    # --- skew handling: find hot blocks, salt them ---------------------
    block_counts = m.groupBy("block").agg(F.count("*").alias("n"))
    hot = F.broadcast(
        block_counts.filter(F.col("n") >= hot_block_min).select("block")
    )
    m = m.join(hot.withColumn("is_hot", F.lit(True)), "block", "left")
    m = m.withColumn(
        "salt",
        F.when(
            F.col("is_hot"),
            F.pmod(F.xxhash64(F.col("mention_uri")), F.lit(salt_factor)),
        ).otherwise(F.lit(0)),
    ).drop("is_hot")
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(salt_factor - 1))
    ).alias("salt")
    a_hot = (
        a.join(hot, "block", "left_semi").select("auth_id", "a_label", "block")
        .select("auth_id", "a_label", "block", salts)
    )
    a_cold = a.join(hot, "block", "left_anti").withColumn("salt", F.lit(0))
    a_salted = a_cold.unionByName(a_hot)

    cand = (
        m.join(a_salted, ["block", "salt"])
        .select("mention_uri", "m_label", "auth_id", "a_label")
        .distinct()
    )
    scored = cand.withColumn(
        "score", trigram_jaccard_udf(F.col("m_label"), F.col("a_label"))
    ).filter(F.col("score") >= threshold)

    best = scored.groupBy("mention_uri").agg(
        F.max_by(
            F.struct(F.col("auth_id"), F.round("score", 4).alias("score")),
            F.struct(F.col("score"), F.col("auth_id")),
        ).alias("best")
    )
    return best.select(
        "mention_uri", F.col("best.auth_id").alias("auth_id"),
        F.col("best.score").alias("score"),
    )


def sameas_edges(links: DataFrame) -> DataFrame:
    """Linking output -> owl:sameAs edge list for canonicalization."""
    return links.select(
        F.col("mention_uri").alias("left_uri"),
        F.col("auth_id").alias("right_uri"),
    )
