"""BERTopicSpark facade: the reference's end-to-end sanity test shape
(tests/test_bertopic.py:32-155) — fit, getters, transform, slices,
find_topics, merge/reduce, save/load roundtrip."""

import pytest
from pyspark.sql import functions as F

from bertopic_spark.model import BERTopicSpark


@pytest.fixture(scope="module")
def model(documents_df):
    return BERTopicSpark(class_cols=["lang"], top_n_words=10).fit(
        documents_df, text_col="text", id_col="doc_id")


def test_getters(model, documents_df):
    info = model.get_topic_info().collect()
    assert sum(r["count"] for r in info) == documents_df.count()
    assert all(r["label"] for r in info)
    topics = model.get_topics().collect()
    per = {}
    for r in topics:
        per.setdefault(r["lang"], []).append(r)
    assert all(len(v) == 10 for v in per.values())
    one = model.get_topic(lang=info[0]["lang"]).collect()
    assert len(one) == 10


def test_transform_self_assignment(model, documents_df):
    """Invariant: transforming the training docs mostly assigns the doc's
    own class (5 shared-vocab classes → not 100%, but a strong majority
    must map back; and every doc gets exactly one assignment)."""
    out = model.transform(documents_df, text_col="text", id_col="doc_id")
    rows = out.collect()
    assert len(rows) == documents_df.count()


def test_slices_mass(model, documents_df):
    per_source = model.topics_per_class("source", k=3)
    rows = per_source.collect()
    keys = {(r["lang"], r["source"]) for r in rows}
    want = {(r["lang"], r["source"]) for r in
            documents_df.select("lang", "source").distinct().collect()}
    assert keys == want


def test_topics_over_time(model, documents_df, spark):
    m2 = BERTopicSpark(class_cols=["lang"]).fit(
        documents_df.withColumn("slice", F.col("doc_id") % 3), "text", "doc_id")
    out = m2.topics_over_time("slice", k=2).collect()
    slices = {r["slice"] for r in out}
    assert slices == {0, 1, 2}


def test_find_topics(model):
    rows = model.find_topics("table scan merge", top_n=3).collect()
    assert 1 <= len(rows) <= 3
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_merge_reduce(spark, documents_df):
    d = documents_df.withColumn(
        "topic", (F.xxhash64("text") % 6 + 6) % 6)
    m = BERTopicSpark(class_cols=["topic"]).fit(d, "text", "doc_id")
    n0 = m.get_topic_info().count()
    assert n0 == 6
    m.merge_topics({5: 4})
    assert m.get_topic_info().count() == 5
    m.reduce_topics(3)
    assert m.get_topic_info().count() == 3


def test_save_load_roundtrip(model, spark, tmp_path):
    p = str(tmp_path / "model")
    model.save(p)
    loaded = BERTopicSpark.load(spark, p)
    a = {(r["lang"], r["rank"]): r["term"] for r in model.get_topics().collect()}
    b = {(r["lang"], r["rank"]): r["term"] for r in loaded.get_topics().collect()}
    assert a == b
    # frozen idf reused by transform after load
    out = loaded.find_topics("table scan").collect()
    assert out


def _decayed_resume(spark, documents_df, path):
    """(the unsaved model, the model saved and loaded at ``path``), each
    fitted on one third of the fixture, partial_fit with decay 0.5 on the
    second, then — after the save and load — on the last."""
    d = documents_df.select("doc_id", "lang", "text")
    parts = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    m = BERTopicSpark(class_cols=["lang"]).fit(parts[0], "text", "doc_id")
    m.partial_fit(parts[1], decay=0.5)
    m.save(path)
    loaded = BERTopicSpark.load(spark, path)
    for x in (m, loaded):
        x.partial_fit(parts[2], decay=0.5)
    return m, loaded


def test_save_load_keeps_the_decayed_counts(spark, documents_df, tmp_path):
    """save writes X as partial_fit left it (decayed) and load reads it
    back, so the loaded model's next partial_fit gives the float64 stats_
    and scores_ of the model that was never saved."""
    from collections import Counter

    m, loaded = _decayed_resume(spark, documents_df, str(tmp_path / "m"))

    def rows(d):
        return Counter(map(tuple, d.collect()))

    assert rows(loaded._state_x) == rows(m._state_x)
    assert rows(loaded.stats_) == rows(m.stats_)
    assert rows(loaded.scores_) == rows(m.scores_)


def test_save_load_on_a_uri_path(spark, documents_df, tmp_path, monkeypatch):
    """A file:// model path is written and read through its own
    filesystem — no ./file: directory — and loads the same model."""
    import os

    monkeypatch.chdir(tmp_path)
    uri = f"file://{tmp_path}/uri_model"
    m, loaded = _decayed_resume(spark, documents_df, uri)
    assert os.path.exists(f"{tmp_path}/uri_model/config.json")
    assert os.path.isdir(f"{tmp_path}/uri_model/x")
    assert not os.path.exists(f"{tmp_path}/file:")
    assert (sorted(map(tuple, loaded.get_topics().collect()))
            == sorted(map(tuple, m.get_topics().collect())))


def test_get_document_info(model, documents_df):
    out = model.get_document_info().collect()
    assert len(out) == documents_df.count()
    n_rep = sum(1 for r in out if r["representative_document"])
    assert 0 < n_rep <= 3 * model.get_topic_info().count()
    assert all(r["top_n_words"] and " - " in r["top_n_words"] for r in out)
    assert all(r["count"] > 0 and r["label"] for r in out)


def test_update_topics_grows_vocab(documents_df):
    """Reference invariant (test_representations.py:18-37): a larger
    ngram_range grows the vocabulary; assignments/topic set are frozen."""
    m = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    topics_before = {r["lang"] for r in m.get_topic_info().collect()}
    counts_before = {(r["lang"], r["count"]) for r in m.get_topic_info().collect()}
    v1 = m.scores_.select("term").distinct().count()
    m.update_topics(ngram_range=(1, 2))
    v2 = m.scores_.select("term").distinct().count()
    assert v2 > v1
    assert {r["lang"] for r in m.get_topic_info().collect()} == topics_before
    assert {(r["lang"], r["count"]) for r in m.get_topic_info().collect()} == counts_before


def _int_topic_model(documents_df, text_col="text"):
    d = documents_df.withColumn("topic", (F.col("doc_id") % 3).cast("long"))
    if text_col != "text":
        d = d.withColumn(text_col, F.col(text_col))
    return BERTopicSpark(class_cols=["topic"]).fit(d, text_col, "doc_id")


def test_merge_models_identical_collapses(documents_df):
    m1 = _int_topic_model(documents_df)
    m2 = _int_topic_model(documents_df)
    merged = BERTopicSpark.merge_models([m1, m2], min_similarity=0.9)
    got = sorted(r[0] for r in merged.scores_.select("topic").distinct().collect())
    assert got == [0, 1, 2]  # every topic matches itself at sim 1.0


def test_merge_models_disjoint_appends(documents_df):
    m1 = _int_topic_model(documents_df)
    alien = documents_df.withColumn(
        "text", F.regexp_replace(F.col("text"), "[a-zA-Z0-9]", "q"))
    m2 = _int_topic_model(alien)
    merged = BERTopicSpark.merge_models([m1, m2], min_similarity=0.9)
    got = sorted(r[0] for r in merged.scores_.select("topic").distinct().collect())
    assert got == [0, 1, 2, 3, 4, 5]  # no vocab overlap → all appended
    # base representations dominate: topic 0 rows identical to m1's
    base0 = {(r["term"], round(r["score"], 9)) for r in
             m1.scores_.filter(F.col("topic") == 0).collect()}
    mrg0 = {(r["term"], round(r["score"], 9)) for r in
            merged.scores_.filter(F.col("topic") == 0).collect()}
    assert base0 == mrg0


def test_hierarchical_topics_facade(documents_df):
    m = _int_topic_model(documents_df)
    tree = m.hierarchical_topics().collect()
    assert len(tree) == 2  # 3 topics -> 2 internal nodes


def test_topic_lineage_generations(documents_df, spark, tmp_path):
    """TopicMapper analog: per-remap provenance folds across generations
    (reference _bertopic.py:4887-5015) and survives save/load."""
    m = _int_topic_model(documents_df)
    m.merge_topics({2: 1})
    m.merge_topics({1: 0})
    assert m.get_mappings() == {1: 0, 2: 0}
    rows = [(r["generation"], r["old_topic"], r["new_topic"])
            for r in m.topic_lineage().orderBy("generation", "old_topic").collect()]
    assert rows == [(0, 2, 1), (1, 1, 0)]
    p = str(tmp_path / "lineage_model")
    m.save(p)
    m2 = BERTopicSpark.load(spark, p)
    assert m2.get_mappings() == {1: 0, 2: 0}
    assert m2.mappings_ == [{2: 1}, {1: 0}]


def test_fit_transform(documents_df):
    m = BERTopicSpark(class_cols=["lang"])
    out = m.fit_transform(documents_df, text_col="text", id_col="doc_id")
    assert out.count() == documents_df.count()
    assert set(out.columns) == {"doc_id", "lang"}
    assert m.scores_ is not None


def test_generate_topic_labels_and_topic_labels(model):
    labs = {r["lang"]: r["label"]
            for r in model.generate_topic_labels(nr_words=2, separator="-").collect()}
    for lang, lab in labs.items():
        assert lab.startswith(f"{lang}-")
        assert len(lab.split("-")) == 3  # prefix + 2 words
    short = {r["lang"]: r["label"] for r in model.generate_topic_labels(
        nr_words=3, topic_prefix=False, word_length=4).collect()}
    for lab in short.values():
        assert all(len(w) <= 4 for w in lab.split("_"))
    d = model.topic_labels_()
    assert set(d) == set(labs)
    for lang, lab in d.items():
        assert lab.startswith(f"{lang}_") and len(lab.split("_")) == 5


def test_set_topic_labels_roundtrip(documents_df, spark, tmp_path):
    m = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    m.set_topic_labels({"en": "the english topic"})
    info = {r["lang"]: r["custom_label"] for r in m.get_topic_info().collect()}
    assert info["en"] == "the english topic"
    assert m.topic_labels_()["en"] == "the english topic"
    p = str(tmp_path / "labelled")
    m.save(p)
    loaded = BERTopicSpark.load(spark, p)
    assert loaded.custom_labels_ == {"en": "the english topic"}


def test_delete_topics(documents_df):
    d = documents_df.withColumn("topic", (F.xxhash64("text") % 4 + 4) % 4)
    m = BERTopicSpark(class_cols=["topic"]).fit(d, "text", "doc_id")
    n_docs = d.count()
    m.delete_topics([2, 3])
    topics = {r["topic"] for r in m.scores_.select("topic").distinct().collect()}
    assert topics == {0, 1}
    # deleted docs live on under the outlier label
    assigned = m.doc_terms_.select("topic", "doc_id").distinct()
    assert assigned.count() == n_docs
    assert {r["topic"] for r in assigned.select("topic").distinct().collect()} == {-1, 0, 1}
    assert m.mappings_[-1] == {2: -1, 3: -1}


def test_approximate_distribution_facade(model):
    out = model.approximate_distribution(window=3, stride=1).groupBy("doc_id") \
        .agg(F.round(F.sum("weight"), 6).alias("s")).collect()
    assert all(abs(r["s"] - 1.0) < 1e-6 for r in out)


def test_reduce_outliers_facade(documents_df):
    d = documents_df.withColumn(
        "topic", F.when(F.col("doc_id") % 7 == 0, F.lit(-1))
                  .otherwise((F.xxhash64("text") % 3 + 3) % 3))
    m = BERTopicSpark(class_cols=["topic"]).fit(d, "text", "doc_id")
    out = m.reduce_outliers(strategy="ctfidf", threshold=0.0)
    assert out.count() == d.count()
    before = d.filter(F.col("topic") == -1).count()
    after = out.filter(F.col("topic") == -1).count()
    assert after < before


def test_partial_fit_matches_one_shot(documents_df):
    one = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    inc = BERTopicSpark(class_cols=["lang"])
    for i in range(3):
        inc.partial_fit(documents_df.filter(F.col("doc_id") % 3 == i),
                        text_col="text", id_col="doc_id")
    a = {(r["lang"], r["rank"]): r["term"] for r in one.get_topics().collect()}
    b = {(r["lang"], r["rank"]): r["term"] for r in inc.get_topics().collect()}
    assert a == b


def test_partial_fit_decay_shrinks_old_mass(documents_df):
    inc = BERTopicSpark(class_cols=["lang"])
    inc.partial_fit(documents_df.filter(F.col("doc_id") % 2 == 0),
                    text_col="text", id_col="doc_id")
    t0 = inc._state_x.agg(F.sum("tf")).collect()[0][0]
    inc.partial_fit(documents_df.filter(F.col("doc_id") % 2 == 1),
                    text_col="text", id_col="doc_id", decay=0.5)
    t1 = inc._state_x.agg(F.sum("tf")).collect()[0][0]
    # X <- 0.5*X + X_new exactly: recover new-batch mass and check identity
    from bertopic_spark.operators.postings import class_term_counts, doc_term_counts
    new_mass = class_term_counts(
        doc_term_counts(documents_df.filter(F.col("doc_id") % 2 == 1),
                        "text", ["lang", "doc_id"], inc.mode), ["lang"]
    ).agg(F.sum("tf")).collect()[0][0]
    assert abs(t1 - (0.5 * t0 + new_mass)) < 1e-6 * max(t1, 1.0)


def test_get_params(model):
    p = model.get_params()
    assert p["class_cols"] == ["lang"] and p["top_n_words"] == 10


def test_get_topic_tree(documents_df):
    m = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    hier = m.hierarchical_topics()
    tree = BERTopicSpark.get_topic_tree(hier)
    n_leaves = hier.count() + 1
    assert tree.count("■") == n_leaves
    assert tree.startswith(".\n")


def test_topics_over_time_nr_bins_matches_pd_cut(documents_df):
    """nr_bins binning must reproduce pandas pd.cut bin assignment
    (reference _bertopic.py:878-880) on a numeric timestamp column."""
    import pandas as pd

    d = documents_df.withColumn("ts", (F.col("doc_id") * 37 % 1000).cast("double"))
    m = BERTopicSpark(class_cols=["lang"]).fit(d, "text", "doc_id")
    out = m.topics_over_time("ts", k=1, nr_bins=4)
    got_bins = sorted({r["ts_bin"] for r in out.select("ts_bin").distinct().collect()})

    pdf = d.select("doc_id", "ts").toPandas()
    pdf["bin"] = pd.cut(pdf["ts"], bins=4)
    want_bins = sorted({round(iv.left, 6) for iv in pdf["bin"].unique()})
    assert got_bins == want_bins
    # and every doc lands in the same bin as pd.cut
    from bertopic_spark.model import _bin_timestamps
    spark_assign = {r["doc_id"]: r["ts_bin"] for r in
                    _bin_timestamps(d, "ts", 4)
                    .select("doc_id", "ts_bin").collect()}
    pdf["left"] = pdf["bin"].map(lambda iv: round(iv.left, 6))
    for _, row in pdf.iterrows():
        assert spark_assign[row["doc_id"]] == row["left"]
    assert len(got_bins) == 4


def test_seed_words_boost(documents_df):
    """Guided topics: a seeded term's idf doubles, so its score doubles
    and its rank can only improve (reference seed_topic_list path)."""
    base = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    t = base.get_topics().filter(F.col("rank") == 5).first()
    seeded = BERTopicSpark(class_cols=["lang"], seed_words=[t["term"]]).fit(
        documents_df, "text", "doc_id")
    s_base = base.scores_.filter(
        (F.col("lang") == t["lang"]) & (F.col("term") == t["term"])
    ).first()["score"]
    s_seed = seeded.scores_.filter(
        (F.col("lang") == t["lang"]) & (F.col("term") == t["term"])
    ).first()["score"]
    assert abs(s_seed - 2.0 * s_base) < 1e-12
    r_seed = seeded.get_topics().filter(
        (F.col("lang") == t["lang"]) & (F.col("term") == t["term"])
    ).first()["rank"]
    assert r_seed <= 5


def test_transform_distribution_soft_assignment(documents_df):
    """Soft assignment (reference calculate_probabilities=True): per-doc
    L1-normalized, argmax-consistent with transform(), and consumable by
    scatter_add_probabilities after a merge (A10 chain)."""
    from bertopic_spark.operators.distribution import scatter_add_probabilities

    d = documents_df.withColumn("topic", (F.col("doc_id") % 3).cast("long"))
    m = BERTopicSpark(class_cols=["topic"]).fit(d, "text", "doc_id")
    probs = m.transform_distribution(d)
    sums = probs.groupBy("doc_id").agg(F.sum("prob").alias("s")).collect()
    assert sums and all(abs(r["s"] - 1.0) < 1e-9 for r in sums)
    # argmax of the distribution == hard transform()
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("prob"), F.asc("topic"))
    soft_top = {r["doc_id"]: r["topic"] for r in
                probs.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1").collect()}
    hard = {r["doc_id"]: r["topic"] for r in m.transform(d).collect()}
    assert soft_top == hard
    # merge 2 → 1: mass folds, still a distribution, topic 2 gone
    merged = scatter_add_probabilities(probs, {2: 1}, "topic", "doc_id")
    assert merged.filter("topic = 2").count() == 0
    msums = merged.groupBy("doc_id").agg(F.sum("prob").alias("s")).collect()
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in msums)


def test_seed_topic_list_boost(documents_df):
    """Guided topics via seed_topic_list (_bertopic.py:4434-4446): listed
    words get EXACTLY 1.2× idf, and a word in BOTH seed_words and the
    flattened seed_topic_list gets 1.2 (the guided branch overrides)."""
    base = BERTopicSpark(class_cols=["lang"]).fit(documents_df, "text", "doc_id")
    lang0 = base.get_topics().select("lang").orderBy("lang").first()["lang"]
    rows = base.get_topics().filter(
        (F.col("lang") == lang0) & F.col("rank").isin(4, 5)
    ).orderBy("rank").collect()
    w_both, w_guided = rows[0]["term"], rows[1]["term"]

    def score_of(m, lang, term):
        return m.scores_.filter(
            (F.col("lang") == lang) & (F.col("term") == term)).first()["score"]

    guided = BERTopicSpark(
        class_cols=["lang"], seed_words=[w_both], seed_multiplier=2.0,
        seed_topic_list=[[w_both], [w_guided]],
    ).fit(documents_df, "text", "doc_id")
    for r in rows:
        s0 = score_of(base, r["lang"], r["term"])
        s1 = score_of(guided, r["lang"], r["term"])
        assert abs(s1 - 1.2 * s0) < 1e-12, r["term"]  # 1.2 even when in both

    only_list = BERTopicSpark(
        class_cols=["lang"], seed_topic_list=[[w_guided]],
    ).fit(documents_df, "text", "doc_id")
    s0 = score_of(base, rows[1]["lang"], w_guided)
    assert abs(score_of(only_list, rows[1]["lang"], w_guided) - 1.2 * s0) < 1e-12


def test_get_topic_aspects(model):
    for aspect in ("keybert", "pos", "mmr"):
        out = model.get_topic_aspects(aspect)
        rows = out.collect()
        assert rows, aspect
        langs = {r["lang"] for r in rows}
        assert len(langs) == 5, aspect
    with pytest.raises(ValueError):
        model.get_topic_aspects("nope")


def _with_edge_docs(documents_df):
    """The fixture corpus plus a document with a NULL class and one whose
    text yields no token."""
    spark = documents_df.sparkSession
    edge = spark.createDataFrame(
        [(100_000, None, "table scan merge null class"), (100_001, "es", "!! ?")],
        "doc_id long, lang string, text string")
    return documents_df.select("doc_id", "lang", "text").unionByName(edge)


@pytest.mark.parametrize("params", [
    {},
    {"bm25_weighting": True},
    {"reduce_frequent_words": True},
    {"seed_words": ["table", "merge"], "seed_topic_list": [["scan"], ["merge"]]},
    {"ngram_range": (1, 2)},
], ids=["default", "bm25", "reduce_frequent", "seeded", "ngram12"])
def test_fit_matches_the_per_document_route(documents_df, params):
    """fit counts X straight from the tokens; folding per-document counts
    up to classes gives the same integers, so stats_, scores_ and
    get_topics are the same float64 rows."""
    from collections import Counter

    from bertopic_spark.operators.ctfidf import ctfidf, term_stats, top_k_terms
    from bertopic_spark.operators.postings import class_term_counts, doc_term_counts

    df = _with_edge_docs(documents_df)
    m = BERTopicSpark(class_cols=["lang"], **params).fit(df, "text", "doc_id")
    x = class_term_counts(
        doc_term_counts(df, "text", ["lang", "doc_id"], m.mode, m.ngram_range),
        ["lang"])
    stats = term_stats(x, ["lang"], m.bm25_weighting, seed_words=m.seed_words,
                       seed_multiplier=m.seed_multiplier,
                       seed_topic_list=m.seed_topic_list)
    scores = ctfidf(x, ["lang"], m.bm25_weighting, m.reduce_frequent_words,
                    stats=stats)

    def rows(d):
        return Counter(map(tuple, d.collect()))

    got = rows(m.stats_)
    assert got == rows(stats)
    assert any(r[0] == "null" for r in got)  # the NULL class's X rows count
    assert rows(m.scores_) == rows(scores)
    # ... and the NULL class is scored like any other class
    null_terms = {r["term"] for r in m.scores_.filter(F.col("lang").isNull())
                  .collect()}
    assert {"table", "scan", "merge", "null", "class"} <= null_terms
    assert m.get_topics().filter(F.col("lang").isNull()).count() > 0
    assert rows(m.get_topics()) == rows(top_k_terms(scores, ["lang"], 10))


def test_refits_release_their_cached_relations(documents_df):
    """update_topics, merge_topics and partial_fit each replace X, stats_
    and scores_: afterwards as many persistent RDDs remain as after
    fit + get_topics, which leave the per-document counts unmaterialized."""
    spark = documents_df.sparkSession
    jsc = spark.sparkContext._jsc
    d = documents_df.select("doc_id", "text", (F.col("doc_id") % 5).alias("topic"))
    d.count()  # the fixture's own cache is materialized before counting

    def persistent():
        return jsc.getPersistentRDDs().size()

    n0 = persistent()
    m = BERTopicSpark(class_cols=["topic"]).fit(d.filter("doc_id < 400"),
                                                 "text", "doc_id")
    m.get_topics().collect()
    n1 = persistent()
    assert n1 - n0 == 3  # X, stats_, scores_; doc_terms_ is still lazy

    m.update_topics(bm25_weighting=True)
    m.get_topics().collect()
    m.merge_topics({1: 0})
    m.get_topics().collect()
    m.partial_fit(d.filter("doc_id >= 400"), "text", "doc_id")
    m.get_topics().collect()
    assert persistent() == n1
    assert sum(r["count"] for r in m.get_topic_info().collect()) == d.count()
