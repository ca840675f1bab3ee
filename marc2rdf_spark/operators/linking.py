"""Blocked entity linking (BASELINE.json north_star): link authority
nodes emitted by the mapping's relation blocks (persons/subjects/works,
SURVEY.md G5) against an authority DataFrame via MinHash/Jaccard
blocking + trigram-Jaccard scoring, all in the JVM.

Shuffle discipline at 100 TB:
 - candidates come ONLY from the blocking equi-join on (block, salt)
   (never a cross join); block keys are character-shingle MinHash bands
   (BANDS x ROWS), each hash a per-row array_min over the trigram array
   (no explode, no aggregate);
 - skewed keys (popular dc:creator / dc:subject authorities) are
   SALTED with bounded replication: one broadcast table lists the hot
   blocks (>= HOT_BLOCK_MIN mentions) with their salt count.  A hot
   mention takes one of SALT_FACTOR salts, and only the small
   authority side is replicated, once per salt and only in hot blocks;
   every other row has salt 0 on both sides;
 - scoring is a Column Jaccard over the trigram arrays the blocker
   already built and carried through the join (the verify step of a
   similarity join), so no Python worker runs on the link path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import fold_accents

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
    """Accent-fold (urlize char map) -> lower -> keep [a-z0-9 ]."""
    return F.regexp_replace(
        F.lower(fold_accents(F.trim(c))), r"[^a-z0-9 ]", ""
    )


def char_shingles(c: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the space-padded normalized label.
    The padded label is bound once as a lambda variable, so the
    per-position lambda only slices it instead of re-folding the label
    for every n-gram."""

    def grams(padded: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(padded, i + 1, n))
        )

    padded = F.concat(F.lit(" "), _norm_label(c), F.lit(" "))
    return F.transform(F.array(padded), grams)[0]


def trigram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two ``char_shingles`` arrays (both distinct and
    never empty)."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def blocked(df: DataFrame, id_col: str, label_col: str) -> DataFrame:
    """(id, block, sh) rows: MinHash-band block keys over the label's
    character trigrams ``sh``, which are carried along for scoring.  A
    label that normalizes to no [a-z0-9] has no block (it would share
    the blank trigram, and a Jaccard of 1.0, with every other such
    label).  ``sh`` is projected once per row; each of the BANDS x ROWS
    minima is an array_min over it, so there is no explode and no
    aggregate (and no shuffle)."""
    sh = df.filter(_norm_label(F.col(label_col)).rlike("[a-z0-9]")).select(
        F.col(id_col), char_shingles(F.col(label_col)).alias("sh")
    )

    # a closure, not ``lambda s, seed=seed``: PySpark passes the element
    # index to a two-argument lambda
    def minhash(seed: int) -> Column:
        return F.array_min(
            F.transform("sh", lambda s: F.xxhash64(s, F.lit(seed)))
        )

    band_arr = F.array(
        *[
            F.hash(F.array(*[minhash(b * ROWS + r) for r in range(ROWS)]))
            for b in range(BANDS)
        ]
    )
    return sh.select(id_col, F.explode(band_arr).alias("block"), "sh")


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
    never copied.

    Every joined row is scored with ``trigram_jaccard`` on the carried
    trigram arrays, and the best match is max(struct(score, auth_id))
    per mention, kept if its score reaches ``threshold``.  That is
    exact: the argmax passes the threshold iff some candidate does, and
    then it is the row a filter-then-argmax would pick.  A pair that
    shares several bands joins once per band; max ignores the
    duplicates, so the candidates need no ``distinct``."""
    m = blocked(
        mentions.select("mention_uri", "label"), "mention_uri", "label"
    ).withColumnRenamed("sh", "m_sh")
    a = blocked(
        authorities.select("auth_id", "label"), "auth_id", "label"
    ).withColumnRenamed("sh", "a_sh")

    hot = F.broadcast(
        m.groupBy("block").count()
        .filter(F.col("count") >= HOT_BLOCK_MIN)
        .select("block", F.lit(SALT_FACTOR).alias("salts"))
    )
    salts = F.coalesce(F.col("salts"), F.lit(1))
    m = m.join(hot, "block", "left").select(
        "mention_uri", "m_sh", "block",
        F.pmod(F.xxhash64("mention_uri"), salts).alias("salt"),
    )
    a = a.join(hot, "block", "left").select(
        "auth_id", "a_sh", "block",
        F.explode(F.sequence(F.lit(0), salts - 1)).alias("salt"),
    )

    score = trigram_jaccard(F.col("m_sh"), F.col("a_sh"))
    best = (
        m.join(a, ["block", "salt"])
        .groupBy("mention_uri")
        .agg(F.max(F.struct(score.alias("score"), "auth_id")).alias("best"))
        .filter(F.col("best.score") >= threshold)
    )
    return best.select(
        "mention_uri", F.col("best.auth_id").alias("auth_id"),
        F.round("best.score", 4).alias("score"),
    )


def sameas_edges(links: DataFrame) -> DataFrame:
    """Linking output -> owl:sameAs edge list for canonicalization."""
    return links.select(
        F.col("mention_uri").alias("left_uri"),
        F.col("auth_id").alias("right_uri"),
    )
