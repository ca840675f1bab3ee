"""Unit tests for the corpus-curation operators (repetition gates,
PII scrubbing, blocklist filter, mix sampling, n-gram counts) —
hand-computed expectations on crafted rows, independent of the DuckDB
contract oracle."""


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_repetition_stats_hand_computed(spark):
    from marc2rdf_spark.operators.curation import repetition_stats

    docs = _docs(
        spark,
        [
            # words: a a a b -> top 3/4, dup 3/4; 2grams: "a a" x2,
            # "a b" x1 -> dup 2/3
            (1, "a a A  b", "en", "s"),
            (2, "", "en", "s"),  # no words: zeros, row restored
            (3, "x y z", "en", "s"),  # all unique: top 1/3, dup 0
        ],
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert len(got) == 3
    assert got[1].n_words == 4
    assert got[1].top_word_frac == 0.75
    assert got[1].dup_word_frac == 0.75
    assert got[1].dup_2gram_frac == round(2 / 3, 4)
    assert got[2].n_words == 0
    assert got[2].top_word_frac == 0.0
    assert got[2].dup_2gram_frac == 0.0
    assert got[3].top_word_frac == round(1 / 3, 4)
    assert got[3].dup_word_frac == 0.0


def test_pii_scrub_counts_and_order(spark):
    from marc2rdf_spark.operators.curation import pii_scrub

    docs = _docs(
        spark,
        [
            # email local part has digits: scrubbed as EMAIL first, so
            # the phone/ip passes never see them
            (1, "mail a1.b-c@x-y.example.org now", "en", "s"),
            (2, "host 10.0.255.7 and 1.2.3.4.", "en", "s"),
            (3, "call +47 22 11 22 33 now", "en", "s"),
            (4, "nothing to see", "en", "s"),
        ],
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (got[1].n_emails, got[1].n_ipv4, got[1].n_phones) == (1, 0, 0)
    assert got[1].clean_text == "mail <EMAIL> now"
    assert (got[2].n_emails, got[2].n_ipv4, got[2].n_phones) == (0, 2, 0)
    assert got[2].clean_text == "host <IP> and <IP>."
    assert got[3].n_phones == 1
    assert got[3].clean_text == "call <PHONE> now"
    assert (got[4].n_emails, got[4].n_ipv4, got[4].n_phones) == (0, 0, 0)
    assert got[4].clean_text == "nothing to see"


def test_source_blocklist_exact_and_subdomain(spark):
    from marc2rdf_spark.operators.curation import source_blocklist_filter

    docs = _docs(
        spark,
        [
            (1, "t", "en", "bad"),        # exact match: dropped
            (2, "t", "en", "bad.sub"),    # subdomain: dropped
            (3, "t", "en", "badly"),      # prefix but NOT subdomain: kept
            (4, "t", "en", "good"),       # kept
        ],
    )
    kept = {r.doc_id for r in source_blocklist_filter(docs, ["bad"]).collect()}
    assert kept == {3, 4}


def test_mix_sample_deterministic_and_stratified(spark):
    from marc2rdf_spark.operators.curation import mix_sample

    docs = _docs(
        spark,
        [(i, "t", "en" if i % 2 == 0 else "xx", "s") for i in range(200)],
    )
    a = sorted(r.doc_id for r in mix_sample(docs, {"en": 0.5}).collect())
    b = sorted(
        r.doc_id
        for r in mix_sample(docs.repartition(7), {"en": 0.5}).collect()
    )
    assert a == b  # partition-layout independent
    assert all(i % 2 == 0 for i in a)  # default rate 0 drops 'xx'
    assert 0 < len(a) < 100  # a real subsample of the 100 'en' docs
    # rate 1.0 keeps everything in the stratum
    full = mix_sample(docs, {"en": 1.0}).count()
    assert full == 100


def test_ngram_counts_topk_tiebreak(spark):
    from marc2rdf_spark.operators.curation import ngram_counts

    docs = _docs(
        spark,
        [(1, "b c a b", "en", "s"), (2, "a b c a", "en", "s")],
    )
    # 2-grams: doc1: "b c","c a","a b"; doc2: "a b","b c","c a"
    # -> all three grams have count 2; top-2 takes the 2 smallest grams
    got = [(r.gram, r.n) for r in ngram_counts(docs, k=2).collect()]
    assert got == [("a b", 2), ("b c", 2)]
