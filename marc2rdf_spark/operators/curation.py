"""Corpus-curation operators for training-data pipelines over the
``documents`` table (doc_id, text, lang, source, n_chars): Gopher-style
repetition gates, PII scrubbing, source blocklist filtering, stratified
mix sampling, and corpus-level n-gram statistics.

Counterparts in the reference pipeline: these extend the harvest-side
filtering the reference applies per record batch (scheduler.rb's
per-batch harvest filters and marc2rdf's record-level validity gates)
to the document-corpus curation steps a pre-training pipeline needs.

All pure Column expressions (JVM, whole-stage codegen) — no UDFs — and
every formula is deliberately expressible in ANSI SQL so DuckDB can act
as the value-level correctness oracle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marc2rdf_spark.operators.textstats import WS_SPLIT
from marc2rdf_spark.schema import local_frame

# PII patterns restricted to the Java∩RE2 common dialect (no
# alternation-preference divergence, \b is the ASCII word boundary in
# both engines).  The phone pattern requires a leading '+' so it never
# swallows IPv4 octets or bare numerics.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9][0-9 -]{6,}[0-9]"


def _norm_words(text: Column) -> Column:
    """Whitespace-normalized lowercase word array; empty array for
    blank text (split would yield ['']).

    Normalize FIRST, then trim: Spark's ``trim`` strips only the space
    character, so trimming the raw text leaves leading/trailing tabs
    that normalization turns into boundary spaces — and the split then
    counts a phantom '' word (caught by the randomized parity fuzz).
    After ``\\s+`` -> ' ' every whitespace IS a space, so the trim is
    exact."""
    norm = F.trim(F.regexp_replace(F.lower(text), WS_SPLIT, " "))
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021, table
    A1): per document, the fraction of words taken by the single most
    frequent word (``top_word_frac``), the fraction of word occurrences
    whose word occurs more than once (``dup_word_frac``), and the
    fraction of 2-gram occurrences whose 2-gram occurs more than once
    (``dup_2gram_frac``).  Boilerplate and spam saturate these ratios;
    the standard cleanup drops documents above thresholds.

    Scale design: ONE exchange chain, not three.  Words and 2-grams are
    exploded with a kind tag into a single (doc_id, kind, gram) stream,
    counted in one partial-agg groupBy, then folded to per-document
    ratios in a second groupBy keyed doc_id — both shuffles map-side
    combined, no join between per-feature subplans.  (A per-document
    mapInPandas would avoid the shuffles entirely but forfeits the SQL
    value oracle; at the corpus sizes where that trade matters the
    explode stream is still partial-agg-bounded by distinct grams per
    partition.)  Documents with no words are restored with zero ratios
    via a left join from the id spine."""
    words = _norm_words(F.col("text"))
    grams2 = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(
            words,
            F.least(F.lit(2), F.greatest(F.size(words), F.lit(1))),
            F.greatest(F.size(words) - 1, F.lit(0)),
        ),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    stream = docs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(words, lambda w: F.struct(F.lit("w").alias("kind"), w.alias("gram"))),
                F.transform(grams2, lambda g: F.struct(F.lit("2").alias("kind"), g.alias("gram"))),
            )
        ).alias("kg"),
    ).select("doc_id", "kg.kind", "kg.gram")
    counts = stream.groupBy("doc_id", "kind", "gram").agg(
        F.count("*").alias("cnt")
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "w", F.col("cnt"))).alias("n_words"),
        F.max(F.when(F.col("kind") == "w", F.col("cnt"))).alias("top_cnt"),
        F.sum(
            F.when((F.col("kind") == "w") & (F.col("cnt") > 1), F.col("cnt"))
        ).alias("dup_cnt"),
        F.sum(F.when(F.col("kind") == "2", F.col("cnt"))).alias("n_grams2"),
        F.sum(
            F.when((F.col("kind") == "2") & (F.col("cnt") > 1), F.col("cnt"))
        ).alias("dup2_cnt"),
    )
    spine = docs.select("doc_id")
    j = spine.join(per_doc, "doc_id", "left")
    nw = F.coalesce(F.col("n_words"), F.lit(0)).cast("double")
    n2 = F.coalesce(F.col("n_grams2"), F.lit(0)).cast("double")
    safe_w = F.when(nw > 0, nw).otherwise(F.lit(1.0))
    safe_2 = F.when(n2 > 0, n2).otherwise(F.lit(1.0))
    return j.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        F.round(F.coalesce(F.col("top_cnt"), F.lit(0)) / safe_w, 4).alias(
            "top_word_frac"
        ),
        F.round(F.coalesce(F.col("dup_cnt"), F.lit(0)) / safe_w, 4).alias(
            "dup_word_frac"
        ),
        F.round(F.coalesce(F.col("dup2_cnt"), F.lit(0)) / safe_2, 4).alias(
            "dup_2gram_frac"
        ),
    )


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass: replace emails, IPv4 addresses and
    international phone numbers with typed placeholder tokens and count
    each category (the Dolma/BigScience-style pre-training scrub).

    Order matters and is fixed: emails first (their local parts may
    contain digits a later pass would half-match), then IPv4, then
    phones.  Counts are taken on the SAME intermediate the next
    replacement sees, so counts and redactions always agree.

    Pure Column regexps — one projection, no shuffle, gates push to the
    scan.  Returns (doc_id, n_emails, n_ipv4, n_phones, clean_text)."""
    t0 = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), F.lit(0)))
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n_ipv4 = F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), F.lit(0)))
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PHONE_RE), F.lit(0)))
    t3 = F.regexp_replace(t2, PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phones.cast("long").alias("n_phones"),
        t3.alias("clean_text"),
    )


def source_blocklist_filter(
    docs: DataFrame, blocked: list[str]
) -> DataFrame:
    """Drop documents whose source matches a blocklist entry exactly or
    as a subdomain (source == b or source starts with b + '.') — the
    domain-blocklist gate every web-corpus pipeline runs first.

    The blocklist is tiny by construction, so it broadcasts and the
    non-equi match runs as a broadcast nested-loop anti-join: one pass
    over the corpus, no corpus-side shuffle, blocklist growth never
    re-partitions the data."""
    spark = docs.sparkSession
    bl = local_frame(spark, [{"blocked": b} for b in blocked], "blocked string")
    cond = (F.col("source") == F.col("blocked")) | F.col("source").startswith(
        F.concat(F.col("blocked"), F.lit("."))
    )
    return docs.join(F.broadcast(bl), cond, "left_anti").select(
        "doc_id", "source", "lang"
    )


def mix_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "mix1",
) -> DataFrame:
    """Deterministic stratified sampling for training-mix assembly:
    keep each document with a per-language rate, decided by an md5-
    derived hash of (seed, doc_id) — reproducible across runs, engines
    and partitionings, unlike ``DataFrame.sample`` whose outcome
    depends on partition layout.

    The rate table is a literal when-chain (a handful of languages), so
    sampling is a single narrow projection + filter that pushes to the
    scan: zero shuffle, zero join, trivially scale-free.  md5-prefix
    arithmetic instead of xxhash64 so the SQL oracle replicates the
    exact keep decision (same idiom as pack_sequences).

    The keep cutoff is an exact INTEGER literal computed in Python
    (int(round(rate * 10000))), never double arithmetic in the plan:
    0.1 * 10000 in binary floating point is 1000.0000000000001, so a
    double cut keeps h == 1000 while any engine comparing against the
    integer 1000 drops it — a 1-in-10000-per-doc cross-engine parity
    flake the integer cut removes by construction."""
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10000),
    )
    cut = F.lit(int(round(default_rate * 10000)))
    for code, r in rates.items():
        cut = F.when(
            F.col("lang") == code, F.lit(int(round(r * 10000)))
        ).otherwise(cut)
    return (
        docs.select(
            "doc_id", "lang", h.alias("h"), cut.cast("long").alias("cut")
        )
        .filter(F.col("h") < F.col("cut"))
        .select("doc_id", "lang", "h")
    )


def boilerplate_score(
    docs: DataFrame, min_doc_frac: float = 0.2
) -> DataFrame:
    """Corpus-level boilerplate signal (CCNet/RefinedWeb-style): a
    2-gram is *boilerplate* when it appears in more than
    ``min_doc_frac`` of all documents; each document's score is the
    fraction of its 2-gram occurrences that are boilerplate grams.
    Navigation chrome, cookie banners and shared templates saturate
    the score; cleanup drops or de-weights high scorers.

    Scale shape: gram -> document-frequency is one distinct +
    partial-agg count keyed by gram; the join back to per-doc gram
    occurrences is keyed by gram too, so it reuses the same hash
    partitioning (no extra corpus re-shuffle beyond the per-doc fold).
    The ``min_doc_frac`` threshold needs the total document count, and
    that count comes FROM the gram aggregation itself, not a separate
    corpus-scan job (VERDICT r4 #6): every document contributes one
    NULL-gram sentinel row, so the aggregation's NULL-gram group has
    df == n_docs exactly.  The aggregated gram table — already the
    by-far-smallest frame in the plan, and needed by both the
    threshold and the join-back — is localCheckpointed once so neither
    consumer recomputes the corpus scan.  Returns
    (doc_id, n_grams2, n_boiler, boiler_frac)."""
    words = _norm_words(F.col("text"))
    grams2 = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(
            words,
            F.least(F.lit(2), F.greatest(F.size(words), F.lit(1))),
            F.greatest(F.size(words) - 1, F.lit(0)),
        ),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # one NULL sentinel per document rides the same explode stream:
    # its df in the gram aggregation IS the corpus document count
    occ = docs.select(
        "doc_id",
        F.explode(
            F.concat(grams2, F.array(F.lit(None).cast("string")))
        ).alias("gram"),
    )
    df_all = (
        occ.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .localCheckpoint(eager=True)
    )
    n_docs_row = df_all.filter(F.col("gram").isNull()).select(
        F.col("df").alias("n_docs")
    )
    df_tbl = (
        df_all.filter(F.col("gram").isNotNull())
        .crossJoin(F.broadcast(n_docs_row))
        .filter(F.col("df") > min_doc_frac * F.col("n_docs"))
        .select("gram", F.lit(True).alias("boiler"))
    )
    scored = (
        occ.join(df_tbl, "gram", "left")
        .groupBy("doc_id")
        .agg(
            # count("gram") skips NULLs: the sentinel row never counts
            # toward the document's 2-gram occurrences
            F.count("gram").alias("n_grams2"),
            F.sum(
                F.when(F.col("boiler"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
    )
    spine = docs.select("doc_id")
    j = spine.join(scored, "doc_id", "left")
    n2 = F.coalesce(F.col("n_grams2"), F.lit(0)).cast("double")
    safe = F.when(n2 > 0, n2).otherwise(F.lit(1.0))
    return j.select(
        "doc_id",
        n2.cast("long").alias("n_grams2"),
        F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias(
            "n_boiler"
        ),
        F.round(F.coalesce(F.col("n_boiler"), F.lit(0)) / safe, 4).alias(
            "boiler_frac"
        ),
    )


def ngram_counts(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level 2-gram frequency table, top ``k`` by count with a
    deterministic (count desc, gram asc) tie-break — the LM-statistics
    sweep (vocabulary building, contamination screens, boilerplate
    discovery) over the whole corpus.

    Classic word-count shape: explode is narrow, the groupBy is
    map-side combined so the exchange carries one row per distinct
    gram per partition, and the top-k is a TakeOrdered (per-partition
    heaps + driver merge of k rows), never a full sort shuffle."""
    words = _norm_words(F.col("text"))
    grams2 = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(
            words,
            F.least(F.lit(2), F.greatest(F.size(words), F.lit(1))),
            F.greatest(F.size(words) - 1, F.lit(0)),
        ),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(grams2).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(k)
    )
