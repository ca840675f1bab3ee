"""Blocked entity linking (BASELINE.json north_star): link authority
nodes emitted by the mapping's relation blocks (persons/subjects/works,
SURVEY.md G5) against an authority DataFrame via MinHash/Jaccard
blocking + vectorized similarity scoring.

Shuffle discipline at 100 TB:
 - candidates come ONLY from the blocking equi-join on (block, salt)
   (never a cross join); block keys are character-shingle MinHash bands
   (BANDS x ROWS);
 - skewed keys (popular dc:creator / dc:subject authorities) are
   SALTED with bounded replication: one broadcast table lists the hot
   blocks (>= HOT_BLOCK_MIN mentions) with their salt count.  A hot
   mention takes one of SALT_FACTOR salts, and only the small
   authority side is replicated, once per salt and only in hot blocks;
   every other row has salt 0 on both sides;
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

BANDS, ROWS = 8, 4  # MinHash bands per label, hashes per band
HOT_BLOCK_MIN = 1000  # mentions in one block that make it hot
SALT_FACTOR = 8  # sub-blocks per hot block


def mention_nodes(triples: DataFrame, label_preds: list[str]) -> DataFrame:
    """Extract linkable mentions from the triple stream: (mention_uri,
    label), the least label of every subject that has one (G5 output)."""
    return (
        triples.filter(F.col("pred").isin(label_preds))
        .groupBy(F.col("subj").alias("mention_uri"))
        .agg(F.min("obj").alias("label"))
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


def blocked(df: DataFrame, id_col: str, label_col: str) -> DataFrame:
    """(id, label, block) rows: MinHash-band block keys over character
    trigrams.  A label that normalizes to no [a-z0-9] has no block (it
    would share the blank trigram, and a Jaccard of 1.0, with every
    other such label).  One explode pass hashes each shingle once; the
    band minima are MIN aggregates (map-side partial) — never re-inline
    the shingle pipeline per seed."""
    sh = df.filter(_norm_label(F.col(label_col)).rlike("[a-z0-9]")).select(
        F.col(id_col), F.col(label_col),
        F.explode(char_shingles(F.col(label_col))).alias("s"),
    )
    aggs = [
        F.min(F.xxhash64("s", F.lit(seed))).alias(f"mh{seed}")
        for seed in range(BANDS * ROWS)
    ]
    sig = sh.groupBy(id_col, label_col).agg(*aggs)
    band_arr = F.array(
        *[
            F.hash(
                F.array(*[F.col(f"mh{b * ROWS + r}") for r in range(ROWS)])
            )
            for b in range(BANDS)
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
    mentions: DataFrame, authorities: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Blocked linking join:
    mentions(mention_uri, label) x authorities(auth_id, label)
    -> (mention_uri, auth_id, score) best match per mention.

    Each side is blocked once and left-joins one broadcast table of hot
    blocks (>= HOT_BLOCK_MIN mentions — popular authorities) and their
    salt count.  A mention takes salt xxhash64(uri) mod salts, an
    authority is replicated into salts 0..salts-1; a cold block has
    one salt, so no reducer sees a whole hot block and cold rows are
    never copied."""
    m = blocked(
        mentions.select("mention_uri", "label"), "mention_uri", "label"
    ).withColumnRenamed("label", "m_label")
    a = blocked(
        authorities.select("auth_id", "label"), "auth_id", "label"
    ).withColumnRenamed("label", "a_label")

    hot = F.broadcast(
        m.groupBy("block").count()
        .filter(F.col("count") >= HOT_BLOCK_MIN)
        .select("block", F.lit(SALT_FACTOR).alias("salts"))
    )
    salts = F.coalesce(F.col("salts"), F.lit(1))
    m = m.join(hot, "block", "left").select(
        "mention_uri", "m_label", "block",
        F.pmod(F.xxhash64("mention_uri"), salts).alias("salt"),
    )
    a = a.join(hot, "block", "left").select(
        "auth_id", "a_label", "block",
        F.explode(F.sequence(F.lit(0), salts - 1)).alias("salt"),
    )

    cand = (
        m.join(a, ["block", "salt"])
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
