"""BERTopicSpark — the user-facing facade.

Mirrors the reference's method surface (``BERTopic`` in
``bertopic/_bertopic.py``) over the distributed operators, so a user of the
reference can switch with the same call shapes:

  model = BERTopicSpark(class_cols=["lang", "repo"])          # grouping key
  model.fit(corpus_df, text_col="content")                    # fit_transform
  model.get_topic_info() / get_topic(c) / get_topics()
  model.transform(new_docs)                                   # nearest class
  model.topics_over_time(slice_col) / topics_per_class(col)
  model.find_topics("query text")
  model.merge_topics({...}) / reduce_topics(k)
  model.get_representative_docs()
  model.save(dir) / BERTopicSpark.load(spark, dir)

Differences from the reference, by design (SURVEY §0): the class label is a
deterministic grouping key (the reference's own identity-cluster escape
hatch, ``cluster/_base.py:4-41``), not an HDBSCAN output — stages 1-3 of
the reference pipeline are pluggable no-ops. Everything returns DataFrames.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bertopic_spark.index.checkpoint import read_manifest, write_manifest
from bertopic_spark.operators.ctfidf import ctfidf, term_stats, top_k_terms
from bertopic_spark.operators.postings import class_term_counts, doc_term_counts


def _bin_timestamps(df: DataFrame, ts_col: str, nr_bins: int) -> DataFrame:
    """Equal-width right-closed binning labelled by left edge — pd.cut
    semantics (reference ``topics_over_time`` nr_bins path,
    `_bertopic.py:878-880`): one 1-row min/max agg + a narrow expression.
    Adds ``<ts_col>_bin``; numeric/epoch columns only."""
    mn, mx = df.agg(
        F.min(F.col(ts_col).cast("double")),
        F.max(F.col(ts_col).cast("double"))).collect()[0]
    if mn is None:
        raise ValueError(f"no non-null values in {ts_col!r} — cannot bin")
    width = (mx - mn) / nr_bins or 1.0
    x = F.col(ts_col).cast("double")
    b = F.least(
        F.greatest(F.ceil((x - F.lit(mn)) / F.lit(width)) - 1, F.lit(0)),
        F.lit(nr_bins - 1)).cast("long")
    left = F.when(b == 0, F.lit(mn - (mx - mn) * 0.001)) \
        .otherwise(F.lit(mn) + b * F.lit(width))
    return df.withColumn(f"{ts_col}_bin", F.round(left, 6))


class BERTopicSpark:
    def __init__(
        self,
        class_cols: Sequence[str] = ("topic",),
        mode: str = "ascii_code",
        ngram_range: tuple[int, int] = (1, 1),
        bm25_weighting: bool = False,
        reduce_frequent_words: bool = False,
        top_n_words: int = 10,
        seed_words: Sequence[str] | None = None,
        seed_multiplier: float = 2.0,
        seed_topic_list: Sequence[Sequence[str]] | None = None,
    ):
        self.class_cols = list(class_cols)
        self.mode = mode
        self.ngram_range = ngram_range
        self.bm25_weighting = bm25_weighting
        self.reduce_frequent_words = reduce_frequent_words
        self.top_n_words = top_n_words
        # guided topics (reference seed_topic_list → per-term idf boost,
        # _ctfidf.py:84-86 driven from _bertopic.py:4433-4446)
        self.seed_words = list(seed_words) if seed_words else None
        self.seed_multiplier = seed_multiplier
        # guided topics (reference seed_topic_list, _bertopic.py:4434-4446):
        # flattened per-topic seed lists, fixed 1.2 idf multiplier,
        # overriding seed_words for words in both
        self.seed_topic_list = ([list(s) for s in seed_topic_list]
                                if seed_topic_list else None)
        self.doc_terms_: DataFrame | None = None
        self.scores_: DataFrame | None = None   # c_tf_idf_ analog
        self.stats_: DataFrame | None = None    # idf diag analog
        self.doc_table_: DataFrame | None = None
        # TopicMapper analog (_bertopic.py:4887-5015): one dict per remap
        # generation, in application order — per-remap provenance.
        self.mappings_: list[dict[int, int]] = []
        self.custom_labels_: dict | None = None
        # the class×term counts X (class_cols..., term, tf) that stats_ and
        # scores_ weigh; partial_fit decays and accumulates it. _x_rdd is
        # the JVM RDD of X's current localCheckpoint (see _replace_x)
        self._state_x: DataFrame | None = None
        self._x_rdd = None
        # embedding-backend seam (X1): (id, vector) relation from fit()
        self.embeddings_: DataFrame | None = None
        self._vec_col = "embedding"
        # (class, count) sizes carried by an imported reference model
        # (no doc_terms_ exist there — see import_reference_model)
        self._imported_sizes: DataFrame | None = None
        self._id_col = "doc_id"
        self._text_col = "content"

    def _replace_x(self, x: DataFrame) -> DataFrame:
        """localCheckpoint(eager) ``x`` as the model's counts X
        (``_state_x``) and release the previous X's blocks.
        localCheckpoint pins its materialized blocks in executor storage
        with no public handle to free them (``clearCache`` does not), so a
        long incremental session would grow one pinned generation per
        batch. The checkpoint's plan is a ``LogicalRDD`` over exactly that
        RDD: the model keeps it and unpersists the prior generation only
        AFTER the new one is eagerly materialized (``x`` may be planned
        over the old blocks). Caches that the checkpoint job happened to
        fill (say, the caller's corpus) are not X's and stay."""
        out = x.localCheckpoint(eager=True)
        if self._x_rdd is not None:
            self._x_rdd.unpersist(False)
        self._x_rdd = out._jdf.queryExecution().logical().rdd()
        self._state_x = out
        return out

    # -- fit ---------------------------------------------------------------

    def fit(self, df: DataFrame, text_col: str = "content", id_col: str = "doc_id",
            embeddings: DataFrame | None = None, vec_col: str = "embedding"):
        """Stages 4-9 of the reference lifecycle (SURVEY §3.1) — tokenize,
        class-aggregate, weight, keep artifacts for every query method.

        X, the class×term count matrix, is counted straight from the
        tokens (one tokenize pass and one groupBy over (class, term), as
        the reference counts each class's concatenated documents,
        ``_bertopic.py:4203,4417-4424``), materialized once, and weighed by
        ``_weigh``: ``stats_`` and ``scores_`` both read that one X.
        ``doc_terms_``, the per-document counts, is a persisted but lazy
        relation: fit and ``get_topics`` never compute it; the methods that
        read it (``get_topic_info``, ``get_representative_docs``,
        ``topic_coherence``, ``reduce_topics``, ``save``, ...) fill it on
        first use.

        ``embeddings``: optional (id_col, vec_col) relation — the
        embedding-backend seam (reference threads ``backend/_base.py:5``
        through fit; this engine takes PRE-COMPUTED vectors, e.g.
        ``sources.multimodal.extract_features`` output or a real encoder
        run upstream). Stored for ``topic_embeddings()``, the
        ``reduce_outliers(strategy="embeddings")`` default, and the
        vector path of ``find_topics``."""
        self._text_col, self._id_col = text_col, id_col
        self.doc_table_ = df
        if embeddings is not None:
            # (id, vector) relation; if id_col is absent the FIRST column
            # is taken as the id (extract_features emits asset_id)
            eid = id_col if id_col in embeddings.columns else embeddings.columns[0]
            self.embeddings_ = embeddings.select(
                F.col(eid).alias(id_col), F.col(vec_col).alias(self._vec_col))
        if self.doc_terms_ is not None:
            self.doc_terms_.unpersist()
        self.doc_terms_ = doc_term_counts(
            df, text_col, [*self.class_cols, id_col], self.mode,
            self.ngram_range).persist()
        self._weigh(doc_term_counts(df, text_col, self.class_cols, self.mode,
                                    self.ngram_range))
        return self

    def _weigh(self, x: DataFrame) -> None:
        """Make ``x`` the model's class×term counts X and weigh it.

        X is materialized once, lineage cut (``_replace_x``, which
        releases the previous X after the new one exists). The previous
        ``stats_``/``scores_`` are released too; the new ones (df, idf and
        the scores of ``_ctfidf.py:54-115``) are persisted lazily over the
        one X."""
        self._replace_x(x)
        for d in (self.stats_, self.scores_):
            if d is not None:
                d.unpersist()
        self.stats_ = term_stats(self._state_x, self.class_cols,
                                 self.bm25_weighting,
                                 seed_words=self.seed_words,
                                 seed_multiplier=self.seed_multiplier,
                                 seed_topic_list=self.seed_topic_list).persist()
        self.scores_ = ctfidf(self._state_x, self.class_cols,
                              self.bm25_weighting, self.reduce_frequent_words,
                              stats=self.stats_).persist()

    def fit_transform(self, df: DataFrame, text_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
        """Reference ``fit_transform`` (`_bertopic.py:395-544`): fit, then
        return the doc→class assignment relation. With a deterministic
        grouping key the assignment is a projection of the input — no
        prediction pass needed (the reference's identity-cluster path)."""
        self.fit(df, text_col, id_col)
        return df.select(id_col, *self.class_cols)

    def _check_fitted(self):
        if self.scores_ is None:
            raise RuntimeError("call fit() first")

    # -- getters (reference: get_topics/get_topic/get_topic_info) -----------

    def get_topics(self, k: int | None = None) -> DataFrame:
        self._check_fitted()
        return top_k_terms(self.scores_, self.class_cols, k or self.top_n_words)

    def get_topic(self, **class_key) -> DataFrame:
        self._check_fitted()
        out = self.get_topics()
        for c, v in class_key.items():
            out = out.filter(F.col(c) == v)
        return out

    def get_topic_info(self) -> DataFrame:
        self._check_fitted()
        from bertopic_spark.operators.topics import topic_labels

        if self.doc_terms_ is not None:
            sizes = self.doc_terms_.select(*self.class_cols, self._id_col) \
                .distinct() \
                .groupBy(*self.class_cols).agg(F.count(F.lit(1)).alias("count"))
        elif self._imported_sizes is not None:
            sizes = self._imported_sizes  # reference-imported model
        else:
            raise RuntimeError("no doc_terms_ and no imported sizes")
        labels = topic_labels(self.get_topics(), self.class_cols)
        out = sizes.join(F.broadcast(labels), self.class_cols, "left")
        if self.custom_labels_ and len(self.class_cols) == 1:
            # reference appends CustomName when set_topic_labels was called
            m = F.create_map(*[F.lit(x) for kv in self.custom_labels_.items()
                               for x in kv])
            out = out.withColumn("custom_label", m[F.col(self.class_cols[0])])
        return out

    def get_topic_freq(self) -> DataFrame:
        self._check_fitted()
        return self.get_topic_info().select(*self.class_cols, "count")

    # -- visualization data relations (plotting layer is out of scope) ------

    def term_rank_data(self, k: int | None = None,
                       log_scale: bool = False) -> DataFrame:
        """Score-by-rank decline per topic — the data behind the
        reference's ``visualize_term_rank`` (`_bertopic.py:2925-2986`)."""
        self._check_fitted()
        from bertopic_spark.operators.viz import term_rank_curve

        return term_rank_curve(self.scores_, self.class_cols,
                               k or self.top_n_words, log_scale)

    def topic_map_data(self) -> DataFrame:
        """(class, x, y) deterministic 2-D intertopic map — the data behind
        the reference's ``visualize_topics`` (`_bertopic.py:2541-2594`),
        classical MDS over the topic-similarity relation instead of UMAP."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("topic_map_data needs a single class column")
        from bertopic_spark.operators.viz import topic_map_2d

        return topic_map_2d(self.scores_, self.class_cols[0])

    def document_map_data(self, embeddings: DataFrame,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          seed: int = 2026) -> DataFrame:
        """(id, x, y) deterministic 2-D document map — the data behind the
        reference's ``visualize_documents`` (`_bertopic.py:2596-2745`),
        a seeded random projection instead of per-doc UMAP (linear, one
        shuffle; see operators.viz.document_map_2d)."""
        from bertopic_spark.operators.viz import document_map_2d

        return document_map_2d(embeddings, id_col, vec_col, seed)

    # -- visualize_* parity layer -------------------------------------------
    # The reference's 13 visualize_* methods each compute a data relation
    # and hand it to plotly (presentation code, out of scope — SURVEY §0;
    # plotly is also absent from this container). These methods keep the
    # reference's CALL SHAPES and return that relation: everything the
    # figure draws, none of the drawing. A caller with plotly renders the
    # collected result with a few lines; at cluster scale the relation
    # stays distributed until then.

    def visualize_topics(self) -> DataFrame:
        """(class, x, y, count, label) — the intertopic-distance map
        (reference `_bertopic.py:2541-2594`; ``plotting/_topics.py`` draws
        circles at (x, y) sized by count). Coordinates are the
        deterministic classical-MDS ``topic_map_data``."""
        coords = self.topic_map_data()
        info = self.get_topic_info()
        return coords.join(F.broadcast(info), self.class_cols, "left")

    def visualize_heatmap(self) -> DataFrame:
        """(class_a, class_b, sim) upper triangle — the topic-similarity
        matrix behind ``visualize_heatmap`` (reference
        `_bertopic.py:3301-3360`). Pairs sharing no term are absent
        (cosine 0); the diagonal is identically 1."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("visualize_heatmap needs a single class column")
        from bertopic_spark.operators.topics import class_pair_distances

        c = self.class_cols[0]
        return class_pair_distances(self.scores_, c).select(
            F.col("_ca").alias(f"{c}_a"), F.col("_cb").alias(f"{c}_b"),
            (F.lit(1.0) - F.col("dist")).alias("sim"))

    def visualize_barchart(self, top_n_topics: int | None = None,
                           n_words: int = 5) -> DataFrame:
        """(class..., rank, term, score) — the per-topic top-word bars
        (reference `_bertopic.py:3362-3414`; ``plotting/_barchart.py``).
        ``top_n_topics`` keeps only the largest topics by size."""
        self._check_fitted()
        out = top_k_terms(self.scores_, self.class_cols, n_words)
        if top_n_topics is not None:
            top = (self.get_topic_freq()
                   .orderBy(F.desc("count"),
                            *[F.asc(c) for c in self.class_cols])
                   .limit(top_n_topics))
            out = out.join(F.broadcast(top.select(*self.class_cols)),
                           self.class_cols, "left_semi")
        return out.select(*self.class_cols, "rank", "term", "score")

    def visualize_term_rank(self, log_scale: bool = False) -> DataFrame:
        """Alias of ``term_rank_data`` under the reference's name
        (`_bertopic.py:2925-2986`)."""
        return self.term_rank_data(log_scale=log_scale)

    def visualize_hierarchy(self) -> DataFrame:
        """The linkage-tree relation behind ``visualize_hierarchy``
        (reference `_bertopic.py:3012-3078`; ``plotting/_hierarchy.py``
        draws the dendrogram from exactly these scipy-convention rows)."""
        return self.hierarchical_topics()

    def visualize_documents(self, embeddings: DataFrame | None = None) -> DataFrame:
        """(id, x, y, class..., label) — the document scatter behind
        ``visualize_documents`` (reference `_bertopic.py:2596-2745`).
        Coordinates are the seeded linear projection of the embedding
        column (``document_map_data``); ``embeddings`` defaults to the
        relation passed to ``fit``."""
        self._check_fitted()
        from bertopic_spark.operators.topics import topic_labels

        emb = embeddings if embeddings is not None else self.embeddings_
        if emb is None:
            raise ValueError(
                "visualize_documents needs an (id, vector) relation — pass "
                "embeddings= here or to fit()")
        coords = self.document_map_data(emb, self._id_col, self._vec_col)
        labels = topic_labels(self.get_topics(), self.class_cols)
        docs = self.doc_table_.select(self._id_col, *self.class_cols)
        return (coords.join(docs, self._id_col)
                .join(F.broadcast(labels), self.class_cols, "left"))

    def visualize_document_datamap(self, embeddings: DataFrame | None = None) -> DataFrame:
        """Same relation as ``visualize_documents`` — the reference's
        datamapplot variant (`_bertopic.py:2747-2843`) draws from the same
        (coords, topic, label) inputs."""
        return self.visualize_documents(embeddings)

    def visualize_hierarchical_documents(
            self, nr_levels: int = 10,
            embeddings: DataFrame | None = None) -> DataFrame:
        """(id, x, y, level, topic) — the per-level document scatter behind
        ``visualize_hierarchical_documents`` (reference
        `_bertopic.py:3080-3240`): at each of ``nr_levels`` cuts of the
        linkage tree, every doc carries the merged topic its fitted class
        belongs to (labelled by the cluster's smallest class, see
        ``operators.viz.hierarchy_level_assignments``). Levels are evenly
        spaced merge counts over 1..k−1, mirroring the reference's evenly
        spaced distance cuts."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError(
                "visualize_hierarchical_documents needs a single class column")
        from bertopic_spark.operators.viz import hierarchy_level_assignments

        c = self.class_cols[0]
        hier = self.hierarchical_topics()
        classes = sorted(
            r[0] for r in self.scores_.select(c).distinct().collect())
        k = len(classes)
        if k < 2:
            raise ValueError("need at least 2 topics for a hierarchy")
        levels = sorted({max(1, round(i * (k - 1) / nr_levels))
                         for i in range(1, nr_levels + 1)})
        assign = hierarchy_level_assignments(hier, k, levels)
        spark = self.scores_.sparkSession
        # leaf i = i-th smallest class value (hierarchical_topics numbering)
        leafmap = spark.createDataFrame(
            [(i, cv) for i, cv in enumerate(classes)],
            ["leaf", "_cls"]).withColumn(
                "_cls", F.col("_cls").cast(
                    self.scores_.schema[c].dataType))
        topicmap = leafmap.select(F.col("leaf").alias("topic_at_level"),
                                  F.col("_cls").alias("topic"))
        per_level = (assign.join(F.broadcast(leafmap), "leaf")
                     .join(F.broadcast(topicmap), "topic_at_level")
                     .select("level", F.col("_cls").alias(c), "topic"))
        docs = self.doc_table_.select(self._id_col, c)
        out = docs.join(F.broadcast(per_level), c).select(
            self._id_col, "level", "topic")
        emb = embeddings if embeddings is not None else self.embeddings_
        if emb is not None:
            coords = self.document_map_data(emb, self._id_col, self._vec_col)
            out = out.join(coords, self._id_col)
        return out

    def visualize_topics_over_time(self, topics_over_time: DataFrame,
                                   topics: Sequence | None = None,
                                   top_n_topics: int | None = None) -> DataFrame:
        """Filter the ``topics_over_time`` relation the way the reference
        plot does (`_bertopic.py:2845-2923`): an explicit topic list, or
        the ``top_n_topics`` largest by fitted size."""
        self._check_fitted()
        c = self.class_cols[0]
        if topics is not None:
            return topics_over_time.filter(F.col(c).isin(list(topics)))
        if top_n_topics is not None:
            top = (self.get_topic_freq()
                   .orderBy(F.desc("count"), F.asc(c)).limit(top_n_topics))
            return topics_over_time.join(
                F.broadcast(top.select(c)), [c], "left_semi")
        return topics_over_time

    def visualize_topics_per_class(self, topics_per_class: DataFrame,
                                   topics: Sequence | None = None,
                                   top_n_topics: int | None = None) -> DataFrame:
        """Filter the ``topics_per_class`` relation the way the reference
        plot does (`_bertopic.py:2988-3010`)."""
        return self.visualize_topics_over_time(
            topics_per_class, topics, top_n_topics)

    def visualize_distribution(self, probabilities: DataFrame,
                               min_probability: float = 0.015) -> DataFrame:
        """(id, class..., prob, label) — the per-doc probability bars
        behind ``visualize_distribution`` (reference
        `_bertopic.py:3242-3299`): the soft-assignment relation
        (``transform_distribution`` output) thresholded at
        ``min_probability``, labelled."""
        self._check_fitted()
        from bertopic_spark.operators.topics import topic_labels

        labels = topic_labels(self.get_topics(), self.class_cols)
        return (probabilities.filter(F.col("prob") >= min_probability)
                .join(F.broadcast(labels), self.class_cols, "left"))

    def visualize_approximate_distribution(
            self, df: DataFrame | None = None, window: int = 4,
            stride: int = 1, padding: bool = False) -> DataFrame:
        """Token-level topic weights — the relation behind the reference's
        token-highlight table (`_bertopic.py:3416-3472`), i.e.
        ``approximate_distribution(calculate_tokens=True)``."""
        return self.approximate_distribution(
            df, window, stride, padding, calculate_tokens=True)

    # -- topic-quality evaluation ---------------------------------------------
    # Not reference methods — the reference's documented evaluation workflow
    # scores a fitted model externally with gensim coherence / topic
    # diversity; here they are relational operators over the fitted state.

    def topic_coherence(self, measure: str = "u_mass",
                        k: int | None = None) -> DataFrame:
        """(class..., coherence) — u_mass (Mimno 2011) or c_npmi (Röder
        2015) coherence of each topic's top-k words against the fitted
        corpus. See ``operators.evaluation``."""
        self._check_fitted()
        from bertopic_spark.operators import evaluation as ev

        topk = top_k_terms(self.scores_, self.class_cols,
                           k or self.top_n_words)
        dt = self.doc_terms_.select(self._id_col, "term")
        if measure == "u_mass":
            return ev.umass_coherence(topk, dt, self.class_cols, self._id_col)
        if measure in ("npmi", "c_npmi"):
            return ev.npmi_coherence(topk, dt, self.class_cols, self._id_col)
        raise ValueError(f"unknown coherence measure {measure!r}")

    def topic_diversity(self, k: int | None = None) -> DataFrame:
        """One row — Dieng 2020 topic diversity of the fitted top-k words."""
        self._check_fitted()
        from bertopic_spark.operators.evaluation import topic_diversity

        return topic_diversity(
            top_k_terms(self.scores_, self.class_cols, k or self.top_n_words),
            self.class_cols)

    # -- query surface -------------------------------------------------------

    def transform(self, df: DataFrame, text_col: str | None = None,
                  id_col: str | None = None) -> DataFrame:
        """Assign each new doc to the nearest fitted class (reference
        reduced-model transform, _bertopic.py:611-619) via the inverted
        index with the FROZEN idf (``stats_``)."""
        self._check_fitted()
        from pyspark.sql import Window

        id_col = id_col or self._id_col
        sims = self._transform_sims(df, text_col, id_col)
        w = Window.partitionBy(id_col).orderBy(
            F.desc("sim"), *[F.asc(c) for c in self.class_cols])
        return (
            sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, *self.class_cols, "sim")
        )

    def _transform_sims(self, df: DataFrame, text_col: str | None,
                        id_col: str) -> DataFrame:
        """(id, class..., sim) — the pre-argmax similarity relation shared
        by ``transform`` (argmax) and ``transform_distribution`` (soft)."""
        text_col = text_col or self._text_col
        dt = doc_term_counts(df, text_col, [id_col], self.mode,
                             self.ngram_range, with_len=True)
        doc_w = dt.select(id_col, "term", (F.col("tf") / F.col("doc_len")).alias("w"))
        return (
            doc_w.join(self.scores_.select(*self.class_cols, "term", "score"), "term")
            .groupBy(id_col, *self.class_cols)
            .agg(F.sum(F.col("w") * F.col("score")).alias("sim"))
        )

    def transform_distribution(self, df: DataFrame, text_col: str | None = None,
                               id_col: str | None = None) -> DataFrame:
        """(id, class..., prob) — SOFT assignment: the full pre-argmax
        similarity distribution L1-normalized per doc (the reference's
        ``calculate_probabilities=True`` probabilities return,
        `_bertopic.py:545-647`). Feed the result to
        ``scatter_add_probabilities`` after merges (A10). Sparse long form:
        a (doc, class) with no shared scored term yields no row."""
        self._check_fitted()
        from pyspark.sql import Window

        id_col = id_col or self._id_col
        sims = self._transform_sims(df, text_col, id_col)
        tot = Window.partitionBy(id_col)
        return sims.withColumn(
            "prob", F.col("sim") / F.sum("sim").over(tot)
        ).select(id_col, *self.class_cols, "prob")

    def topic_embeddings(self) -> DataFrame:
        """(class, dim, mean_val, n) — long-form topic centroids over the
        embedding seam (reference ``topic_embeddings_``,
        `_bertopic.py:4334-4343`): per-class mean of the fitted (id, vector)
        relation. Long form shuffles (class, dim) pairs, never vectors."""
        self._check_fitted()
        if self.embeddings_ is None:
            raise ValueError("fit(..., embeddings=...) was not provided")
        if len(self.class_cols) != 1:
            raise ValueError("topic_embeddings needs a single class column")
        from bertopic_spark.operators.similarity import class_centroids

        tcol = self.class_cols[0]
        lab = self.doc_table_.select(self._id_col, tcol)
        emb = self.embeddings_.join(lab, self._id_col)
        return class_centroids(emb, label_col=tcol, vec_col=self._vec_col,
                               id_col=self._id_col)

    def find_topics(self, query: str | None = None, top_n: int = 5,
                    query_vec: Sequence[float] | None = None) -> DataFrame:
        """Term path (default): inverted-index cosine of the tokenized
        ``query`` against class c-TF-IDF vectors. Vector path
        (``query_vec``): cosine against the embedding-seam topic centroids
        (the reference embeds the query with its backend and cosines
        topic_embeddings_, `_bertopic.py:960-994`)."""
        self._check_fitted()
        if query_vec is not None:
            from pyspark.sql import Window

            cents = self.topic_embeddings()  # (class, dim, mean_val, n)
            tcol = self.class_cols[0]
            spark = cents.sparkSession
            q = spark.createDataFrame(
                [(i, float(v)) for i, v in enumerate(query_vec)],
                "dim int, qv double")
            qn = sum(float(v) ** 2 for v in query_vec) ** 0.5 or 1.0
            sims = (
                cents.join(F.broadcast(q), "dim")
                .groupBy(tcol)
                .agg((F.sum(F.col("mean_val") * F.col("qv"))
                      / (F.sqrt(F.sum(F.col("mean_val") ** 2)) * F.lit(qn))
                      ).alias("sim"))
            )
            w = Window.partitionBy().orderBy(F.desc("sim"), F.asc(tcol))
            return (sims.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= top_n))
        from bertopic_spark.operators.topics import find_topics

        return find_topics(self.scores_, query, self.class_cols, top_n, self.mode)

    def topics_per_class(self, slice_col: str, k: int | None = None) -> DataFrame:
        """Single-pass sliced re-aggregation with frozen idf (reference
        loops per slice, _bertopic.py:996-1016)."""
        self._check_fitted()
        x = doc_term_counts(self.doc_table_, self._text_col,
                            [*self.class_cols, slice_col], self.mode,
                            self.ngram_range)
        s = ctfidf(x, [*self.class_cols, slice_col], self.bm25_weighting,
                   self.reduce_frequent_words, stats=self.stats_)
        return top_k_terms(s, [*self.class_cols, slice_col], k or self.top_n_words)

    def topics_over_time(self, ts_col: str, k: int | None = None,
                         evolution_tuning: bool = True,
                         nr_bins: int | None = None) -> DataFrame:
        """Per-time-slice topic representations (reference
        ``topics_over_time``, `_bertopic.py:797-955`). ``nr_bins`` bins a
        numeric/epoch timestamp column into equal-width right-closed
        intervals labelled by their left edge — pd.cut semantics
        (`_bertopic.py:878-880`) — via one 1-row min/max agg + a narrow
        expression; no collect of the doc table."""
        self._check_fitted()
        from bertopic_spark.operators.topics import evolution_tuning as evo

        doc_table = self.doc_table_
        if nr_bins:
            doc_table = _bin_timestamps(doc_table, ts_col, nr_bins)
            ts_col = f"{ts_col}_bin"
        x = doc_term_counts(doc_table, self._text_col,
                            [ts_col, *self.class_cols], self.mode,
                            self.ngram_range)
        s = ctfidf(x, [ts_col, *self.class_cols], self.bm25_weighting,
                   self.reduce_frequent_words, stats=self.stats_)
        if evolution_tuning:
            s = evo(s, ts_col, self.class_cols)
        return top_k_terms(s, [ts_col, *self.class_cols], k or self.top_n_words)

    def get_representative_docs(self, n_docs: int = 3,
                                sample_cap: int = 500) -> DataFrame:
        self._check_fitted()
        from bertopic_spark.operators.topics import representative_docs

        return representative_docs(self.doc_terms_, self.scores_,
                                   self.class_cols, self._id_col, n_docs,
                                   sample_cap=sample_cap)

    def get_document_info(self, include_representative: bool = True,
                          sample_cap: int = 500) -> DataFrame:
        """Doc-level enrichment join (reference ``get_document_info``,
        `_bertopic.py:1734-1800`): every doc with its class size, label,
        top-words string, and representative-document flag. All dimension
        sides broadcast; the doc table is never shuffled."""
        self._check_fitted()
        info = self.get_topic_info()
        topw = (
            self.get_topics()
            .groupBy(*self.class_cols)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "term"))),
                    lambda s: s["term"],
                ), " - ").alias("top_n_words"))
        )
        out = (
            self.doc_table_.select(self._id_col, *self.class_cols)
            .join(F.broadcast(info), self.class_cols, "left")
            .join(F.broadcast(topw), self.class_cols, "left")
        )
        if include_representative:
            rep = self.get_representative_docs(sample_cap=sample_cap).select(
                *self.class_cols, self._id_col, F.lit(True).alias("_rep"))
            out = (
                out.join(F.broadcast(rep), [*self.class_cols, self._id_col], "left")
                .withColumn("representative_document",
                            F.coalesce("_rep", F.lit(False)))
                .drop("_rep")
            )
        return out

    def approximate_distribution(self, df: DataFrame | None = None,
                                 window: int = 4, stride: int = 1,
                                 padding: bool = False,
                                 calculate_tokens: bool = False) -> DataFrame:
        """Per-doc topic distribution over sliding token windows scored
        against the fitted c-TF-IDF (reference ``approximate_distribution``,
        `_bertopic.py:1204-1429`). ``df`` defaults to the fitted corpus.

        ``calculate_tokens=True`` returns the TOKEN-level relation instead
        (reference `_bertopic.py:1374-1404`): (id, token_pos, term, class...,
        weight), unnormalized, one row per token×class it scored under."""
        self._check_fitted()
        from bertopic_spark.operators.distribution import (
            approximate_distribution, approximate_distribution_tokens)

        op = (approximate_distribution_tokens if calculate_tokens
              else approximate_distribution)
        return op(
            df if df is not None else self.doc_table_, self.scores_,
            self.class_cols, self._text_col, self._id_col,
            window, stride, self.mode, padding)

    def reduce_outliers(self, strategy: str = "ctfidf",
                        threshold: float = 0.0, outlier_label: int = -1,
                        embeddings: DataFrame | None = None,
                        window: int = 4, stride: int = 1) -> DataFrame:
        """Re-assign outlier docs to their nearest non-outlier class
        (reference ``reduce_outliers``, `_bertopic.py:2380-2540`). Returns
        the full (id, topic) relation; apply it with ``update_topics`` by
        re-fitting on a corrected doc table if desired.

        strategy="embeddings" defaults to the seam vectors stored by
        ``fit(..., embeddings=...)`` — no manual join needed."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("reduce_outliers needs a single class column")
        from bertopic_spark.operators.outliers import reduce_outliers

        if embeddings is None and strategy == "embeddings":
            embeddings = self.embeddings_
        tcol = self.class_cols[0]
        return reduce_outliers(
            self.doc_table_.select(self._id_col, tcol, self._text_col),
            self.scores_.filter(F.col(tcol) != outlier_label),
            text_col=self._text_col, id_col=self._id_col, topic_col=tcol,
            strategy=strategy, threshold=threshold, mode=self.mode,
            outlier_label=outlier_label, window=window, stride=stride,
            embeddings=embeddings, vec_col=self._vec_col)

    def partial_fit(self, batch: DataFrame, text_col: str | None = None,
                    id_col: str | None = None, decay: float = 0.0):
        """Online learning (reference ``partial_fit``, `_bertopic.py:649-795`
        with OnlineCountVectorizer semantics): merge the batch's class-term
        counts into the accumulated state (optionally decayed), re-derive
        stats/scores. First call on an unfitted model behaves like ``fit``.

        State is held as a localCheckpoint-truncated DataFrame so lineage
        doesn't grow per batch (decay compounds across batches exactly as
        the reference's OnlineCountVectorizer); on a cluster this is the
        same shape as a MERGE INTO against a state table (see
        streaming/incremental.py for the durable variant)."""
        from bertopic_spark.streaming.incremental import decayed_update

        text_col = text_col or self._text_col
        id_col = id_col or self._id_col
        if self.scores_ is None:
            return self.fit(batch, text_col, id_col)
        # doc_terms_ and the doc-table-backed methods (topics_over_time,
        # get_document_info, approximate_distribution, reduce_outliers)
        # must see every batch, not just the first (ADVICE r2). Lazy
        # unions — each plan grows by one scan per batch, which is fine for
        # session-scale batch counts; the per-batch state X is checkpointed.
        old = self.doc_terms_
        self.doc_terms_ = old.unionByName(doc_term_counts(
            batch, text_col, [*self.class_cols, id_col], self.mode,
            self.ngram_range)).persist()
        old.unpersist()
        if self.doc_table_ is not None:  # a loaded model holds none
            self.doc_table_ = self.doc_table_.unionByName(
                batch.select(*self.doc_table_.columns))
        new = doc_term_counts(batch, text_col, self.class_cols, self.mode,
                              self.ngram_range)
        self._weigh(decayed_update(self._state_x, new, decay, None,
                                   self.class_cols))
        return self

    def hierarchical_topics(self) -> DataFrame:
        """Linkage tree over the fitted class vectors (reference
        `_bertopic.py:1035-1203`; single linkage — see operators.topics)."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("hierarchical_topics needs a single class column")
        from bertopic_spark.operators.topics import hierarchical_topics

        return hierarchical_topics(self.scores_, self.class_cols[0])

    @staticmethod
    def get_topic_tree(hier: DataFrame, names: DataFrame | None = None,
                       tight_layout: bool = False) -> str:
        """Printable tree from ``hierarchical_topics`` output (reference
        ``get_topic_tree``, `_bertopic.py:1872-1977`): box-drawing layout,
        ``■`` marks original leaf topics. ``names`` is an optional tiny
        (topic, label) relation for leaf names; defaults to the leaf id.
        The linkage table is k−1 rows by construction — driver-side string
        building is the right tool."""
        rows = sorted(hier.collect(), key=lambda r: r["parent_id"])
        if not rows:
            return ".\n"
        label = {}
        if names is not None:
            label = {r[0]: str(r[1])[:100] for r in names.collect()}
        tree = {r["parent_id"]: (r["child_left"], r["child_right"]) for r in rows}
        n_leaves = min(tree) if tree else 0  # internal ids start at k
        root = rows[-1]["parent_id"]
        width = 1 if tight_layout else 4
        out = [".\n"]

        def walk(node: int, indent: str, is_last: bool, is_root: bool):
            branch = "" if is_root else ("└─" if is_last else "├─")
            if node not in tree:  # leaf
                name = label.get(node, str(node))
                out.append(f"{indent}{branch}■──{name} ── Topic: {node}\n")
                return
            name = label.get(node, str(node))
            out.append(f"{indent}{branch}{name}\n")
            left, right = tree[node]
            ext = "" if is_root else (" " * width if is_last else "│" + " " * (width - 1))
            walk(left, indent + ext, False, False)
            walk(right, indent + ext, True, False)

        walk(root, "", True, True)
        return "".join(out)

    # -- labels (reference topic_labels_/set/generate, _bertopic.py:329,1979,2042)

    def topic_labels_(self) -> dict:
        """Default labels: '<id>_<w1>_<w2>_<w3>_<w4>' from the top-4 words
        (reference property at `_bertopic.py:329-348`). Custom labels, when
        set, win. The labels table is k rows — returned as a dict like the
        reference."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("topic_labels_ needs a single class column")
        from bertopic_spark.operators.topics import topic_labels

        out = {}
        for r in topic_labels(self.get_topics(), self.class_cols, 4).collect():
            out[r[0]] = f"{r[0]}_{r[1]}"
        if self.custom_labels_:
            out.update(self.custom_labels_)
        return out

    def set_topic_labels(self, labels: Mapping) -> None:
        """Reference ``set_topic_labels`` (`_bertopic.py:1979-2040`)."""
        self._check_fitted()
        self.custom_labels_ = dict(labels)

    def generate_topic_labels(self, nr_words: int = 3,
                              topic_prefix: bool = True,
                              word_length: int | None = None,
                              separator: str = "_") -> DataFrame:
        """(class..., label) in a user-defined format (reference
        ``generate_topic_labels``, `_bertopic.py:2042-2100`): top
        ``nr_words`` words, each optionally truncated to ``word_length``
        chars, joined by ``separator`` with an optional topic-id prefix."""
        self._check_fitted()
        topk = self.get_topics().filter(F.col("rank") <= nr_words)
        term = F.col("term")
        if word_length:
            term = F.substring(term, 1, word_length)
        agg = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", term.alias("term")))),
                lambda s: s["term"],
            ), separator).alias("label")
        out = topk.groupBy(*self.class_cols).agg(agg)
        if topic_prefix:
            out = out.withColumn(
                "label",
                F.concat_ws(separator, *[F.col(c).cast("string")
                                         for c in self.class_cols], F.col("label")))
        return out

    def get_topic_aspects(self, aspect: str = "keybert", **kw) -> DataFrame:
        """Alternative topic representations (the reference's
        ``topic_aspects_`` filled by the representation_model dict,
        `_bertopic.py:424-436,4515-4551`): re-rank the main candidates
        with the named fine-tuner — 'keybert' (cosine to the topic's mean
        word vector), 'pos' (pattern filter), 'mmr' (diversity)."""
        self._check_fitted()
        topk = self.get_topics()
        if aspect == "keybert":
            from bertopic_spark.operators.representation import keybert_rerank

            return keybert_rerank(topk, self.class_cols, **kw)
        if aspect == "pos":
            from bertopic_spark.operators.representation import pos_pattern_rerank

            return pos_pattern_rerank(topk, self.class_cols, **kw)
        if aspect == "mmr":
            from bertopic_spark.operators.topics import mmr_rerank

            return mmr_rerank(topk, self.class_cols, **kw)
        raise ValueError(f"unknown aspect {aspect!r}: use keybert|pos|mmr")

    def delete_topics(self, topics_to_delete: Sequence[int],
                      outlier_label: int = -1):
        """Map deleted topics' docs to the outlier label and drop their
        representation rows (reference ``delete_topics``,
        `_bertopic.py:2177-2311`: deleted topics → −1, c-TF-IDF updated).
        Recorded as a remap generation in ``mappings_``."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("delete_topics needs a single class column")
        tcol = self.class_cols[0]
        self.merge_topics({int(t): outlier_label for t in topics_to_delete})
        # the outlier class carries no representation (reference zeroes it)
        old = self.scores_
        self.scores_ = old.filter(F.col(tcol) != outlier_label).persist()
        old.unpersist()
        return self

    def get_params(self, deep: bool = False) -> dict:
        """Reference ``get_params`` (`_bertopic.py:3821`)."""
        return {
            "class_cols": list(self.class_cols), "mode": self.mode,
            "ngram_range": tuple(self.ngram_range),
            "bm25_weighting": self.bm25_weighting,
            "reduce_frequent_words": self.reduce_frequent_words,
            "top_n_words": self.top_n_words,
        }

    # -- maintenance ---------------------------------------------------------

    def update_topics(self, ngram_range: tuple[int, int] | None = None,
                      mode: str | None = None,
                      bm25_weighting: bool | None = None,
                      reduce_frequent_words: bool | None = None,
                      top_n_words: int | None = None):
        """Re-extract topic representations with new tokenizer/weighting
        params while keeping document↔class assignments frozen (reference
        ``update_topics``, `_bertopic.py:1488-1733`; test invariant: vocab
        grows with a larger ngram_range, topics_ preserved)."""
        self._check_fitted()
        if ngram_range is not None:
            self.ngram_range = tuple(ngram_range)
        if mode is not None:
            self.mode = mode
        if bm25_weighting is not None:
            self.bm25_weighting = bm25_weighting
        if reduce_frequent_words is not None:
            self.reduce_frequent_words = reduce_frequent_words
        if top_n_words is not None:
            self.top_n_words = top_n_words
        return self.fit(self.doc_table_, self._text_col, self._id_col)

    def merge_topics(self, mapping: Mapping[int, int]):
        """J2 + re-agg; only for a single integer class column."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("merge_topics needs a single class column")
        from bertopic_spark.operators.topics import remap_topics

        self.mappings_.append({int(k): int(v) for k, v in mapping.items()})
        tcol = self.class_cols[0]
        old = self.doc_terms_
        self.doc_terms_ = remap_topics(old, mapping, tcol).persist()
        old.unpersist()
        # a merged class's counts are the sum of its members' rows of X
        self._weigh(class_term_counts(remap_topics(self._state_x, mapping, tcol),
                                      self.class_cols))
        return self

    def reduce_topics(self, nr_topics: int | str,
                      distance_threshold: float = 0.1):
        """Merge topics down to ``nr_topics`` (reference `_bertopic.py:
        4565-4627`). ``nr_topics="auto"`` is the reference's
        `_auto_reduce_topics` (`_bertopic.py:4629-4672`, HDBSCAN over
        normalized c-TF-IDF rows) recast deterministically: cut the
        single-linkage tree at ``distance_threshold`` — every topic pair
        closer than the threshold merges (single-linkage components ARE
        the density-connected groups at that radius), each merged group
        labelled by its smallest topic id. The outlier topic (−1) never
        merges, matching the reference."""
        self._check_fitted()
        if len(self.class_cols) != 1:
            raise ValueError("reduce_topics needs a single class column")
        if nr_topics == "auto":
            c = self.class_cols[0]
            classes = sorted(r[0] for r in
                             self.scores_.select(c).distinct().collect())
            # the outlier topic never participates (reference
            # _auto_reduce_topics slices it off before clustering)
            classes = [x for x in classes if x != -1]
            if len(classes) < 2:
                return self
            from bertopic_spark.operators.topics import hierarchical_topics
            from bertopic_spark.operators.viz import hierarchy_level_assignments

            hier = hierarchical_topics(
                self.scores_.filter(F.col(c).isin(classes)), c)
            m = hier.filter(
                F.col("distance") <= float(distance_threshold)).count()
            if m == 0:
                return self
            assign = hierarchy_level_assignments(
                hier, len(classes), [m]).collect()
            mapping = {
                classes[r["leaf"]]: classes[r["topic_at_level"]]
                for r in assign if r["leaf"] != r["topic_at_level"]}
            if not mapping:
                return self
            return self.merge_topics(mapping)
        from bertopic_spark.operators.topics import reduce_topics_agglomerative

        mapping, _ = reduce_topics_agglomerative(
            self.doc_terms_, self.class_cols[0], nr_topics, self.bm25_weighting)
        return self.merge_topics(mapping)

    # -- remap provenance (TopicMapper analog, _bertopic.py:4887-5015) -------

    def topic_lineage(self) -> DataFrame:
        """(generation, old_topic, new_topic) — every remap ever applied,
        in order. Generation 0 is the first merge/reduce."""
        self._check_fitted()
        rows = [(g, int(o), int(n))
                for g, m in enumerate(self.mappings_)
                for o, n in sorted(m.items())]
        return self.scores_.sparkSession.createDataFrame(
            rows, "generation int, old_topic long, new_topic long")

    def get_mappings(self) -> dict[int, int]:
        """Original topic → current topic, folded across every generation
        (reference ``TopicMapper.get_mappings``, _bertopic.py:4923)."""
        origins: set[int] = set()
        for m in self.mappings_:
            origins.update(m)
        out = {}
        for t in sorted(origins):
            cur = t
            for m in self.mappings_:
                cur = m.get(cur, cur)
            out[t] = cur
        return out

    # -- persistence (S4/S5: parquet artifacts + json config) ----------------

    def save(self, path: str) -> None:
        """Write the model under ``path`` (a local path or a URI): scores_,
        stats_, doc_terms_, the class×term counts X as they are (decayed
        by ``partial_fit``, so the next ``partial_fit`` of the loaded
        model resumes from them) and ``config.json``, written through the
        path's own filesystem."""
        self._check_fitted()
        self.scores_.write.mode("overwrite").parquet(f"{path}/scores")
        self.stats_.write.mode("overwrite").parquet(f"{path}/stats")
        self.doc_terms_.write.mode("overwrite").parquet(f"{path}/doc_terms")
        self._state_x.write.mode("overwrite").parquet(f"{path}/x")
        write_manifest(path, {
                "class_cols": self.class_cols, "mode": self.mode,
                "ngram_range": list(self.ngram_range),
                "bm25_weighting": self.bm25_weighting,
                "reduce_frequent_words": self.reduce_frequent_words,
                "top_n_words": self.top_n_words,
                "id_col": self._id_col, "text_col": self._text_col,
                "mappings": [{str(k): v for k, v in m.items()}
                             for m in self.mappings_],
                "custom_labels": (
                    {str(k): v for k, v in self.custom_labels_.items()}
                    if self.custom_labels_ else None),
                "seed_words": self.seed_words,
                "seed_multiplier": self.seed_multiplier,
                "seed_topic_list": self.seed_topic_list,
            }, "config.json")

    @classmethod
    def import_reference_model(cls, spark: SparkSession, path: str,
                               topic_col: str = "topic") -> "BERTopicSpark":
        """One-way migration: load a reference-saved model directory
        (safetensors serialization — topics.json + ctfidf_config.json +
        ctfidf.safetensors CSR triplets + idf diag,
        `_bertopic.py:5097-5117`) into long-form state. Score-driven
        methods (get_topics / get_topic_info / find_topics / transform /
        hierarchy / merge) answer from the imported state; tf/df counts
        aren't stored by that format and import as NULL — call
        ``attach_corpus`` with the fitted documents to enable the
        count-reaggregation surfaces (topics_over_time, topics_per_class,
        partial_fit, update_topics)."""
        from bertopic_spark.sources.reference_model import load_reference_dir

        return load_reference_dir(spark, path, topic_col)

    def attach_corpus(self, docs: DataFrame, text_col: str = "content",
                      id_col: str = "doc_id"):
        """Reattach the fitted corpus to a reference-imported model —
        finishing S5. The reference's safetensors artifact
        (``_save_utils.py:318-399``) stores c-TF-IDF scores and the idf
        diag but never the class-term COUNTS, so every count-driven
        surface (topics_over_time / topics_per_class / partial_fit /
        update_topics) is un-derivable from the artifact alone; the
        corpus is the only faithful source. ``docs`` must carry the
        class column(s) — the reference holds doc→topic in ``topics_``
        and re-pairs by document order at load (`_bertopic.py:5103`);
        here the same assignment rides the table explicitly (join-safe
        under any partitioning, no order dependence).

        Rebuilds doc_terms_/_state_x from the corpus, backfills the NULL
        ``df``/``tf`` columns with corpus-derived counts, and keeps the
        IMPORTED idf and scores untouched — ``get_topics`` stays
        term-for-term, and the frozen-idf re-agg paths run unchanged.
        """
        self._check_fitted()
        missing = [c for c in self.class_cols if c not in docs.columns]
        if missing:
            raise ValueError(
                f"attach_corpus needs class column(s) {missing} on docs — "
                "the reference pairs topics_ with documents by order; "
                "attach them as a column")
        self._text_col, self._id_col = text_col, id_col
        self.doc_table_ = docs
        if self.doc_terms_ is not None:
            self.doc_terms_.unpersist()
        self.doc_terms_ = doc_term_counts(
            docs, text_col, [*self.class_cols, id_col], self.mode,
            self.ngram_range).persist()
        x = self._replace_x(doc_term_counts(
            docs, text_col, self.class_cols, self.mode, self.ngram_range))
        dfd = x.groupBy("term").agg(F.sum("tf").alias("df"))
        # Replace-then-reap, mirroring _replace_x: the new persisted
        # relations are eagerly materialized first (their plans read the
        # old ones), then the previous imported handles are unpersisted so
        # repeat attach calls in a long-lived session don't compound
        # pinned storage.
        old_stats, old_scores = self.stats_, self.scores_
        self.stats_ = (old_stats.drop("df")
                       .join(dfd, "term", "left")
                       .select("term", "df", "idf").persist())
        self.scores_ = (old_scores.drop("tf")
                        .join(x.select(*self.class_cols, "term", "tf"),
                              [*self.class_cols, "term"], "left")
                        .select(*self.class_cols, "term", "tf", "score")
                        .persist())
        self.stats_.count()
        self.scores_.count()
        old_stats.unpersist(False)
        old_scores.unpersist(False)
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "BERTopicSpark":
        """The model ``save`` wrote under ``path``, its X included."""
        cfg = read_manifest(path, "config.json")
        m = cls(
            class_cols=cfg["class_cols"], mode=cfg["mode"],
            ngram_range=tuple(cfg["ngram_range"]),
            bm25_weighting=cfg["bm25_weighting"],
            reduce_frequent_words=cfg["reduce_frequent_words"],
            top_n_words=cfg["top_n_words"],
            seed_words=cfg.get("seed_words"),
            seed_multiplier=cfg.get("seed_multiplier", 2.0),
            seed_topic_list=cfg.get("seed_topic_list"),
        )
        m._id_col, m._text_col = cfg["id_col"], cfg["text_col"]
        m.mappings_ = [{int(k): int(v) for k, v in mm.items()}
                       for mm in cfg.get("mappings", [])]
        cl = cfg.get("custom_labels")
        if cl:
            def _k(k):
                try:
                    return int(k)
                except ValueError:
                    return k
            m.custom_labels_ = {_k(k): v for k, v in cl.items()}
        m.scores_ = spark.read.parquet(f"{path}/scores")
        m.stats_ = spark.read.parquet(f"{path}/stats")
        m.doc_terms_ = spark.read.parquet(f"{path}/doc_terms")
        m._state_x = spark.read.parquet(f"{path}/x")
        return m

    # -- cross-model merge (J8; reference merge_models, _bertopic.py:3590-3729)

    @classmethod
    def merge_models(cls, models: Sequence["BERTopicSpark"],
                     min_similarity: float = 0.7) -> "BERTopicSpark":
        """Align topics across fitted models by c-TF-IDF cosine similarity:
        each later model's topic maps onto its best base topic when sim ≥
        ``min_similarity``, else is appended with a fresh id. The first
        model's representations dominate for matched topics — the reference
        behaves the same (it keeps the base embeddings/ctfidf rows).

        The per-pair similarity is a term join over the two (small)
        ``scores_`` relations — never dense; only the k_a×k_b argmax rows
        are collected. ``stats_`` stays the base model's (the merged model
        is a stitched representation, not a refit — call ``update_topics``
        for exact recomputed weights over the union).
        """
        if not models:
            raise ValueError("need at least one model")
        base, *rest = models
        base._check_fitted()
        if len(base.class_cols) != 1:
            raise ValueError("merge_models needs single-class-column models")
        tcol = base.class_cols[0]
        merged = cls(
            class_cols=base.class_cols, mode=base.mode,
            ngram_range=base.ngram_range, bm25_weighting=base.bm25_weighting,
            reduce_frequent_words=base.reduce_frequent_words,
            top_n_words=base.top_n_words,
        )
        merged._id_col, merged._text_col = base._id_col, base._text_col
        merged.doc_table_ = base.doc_table_
        merged.doc_terms_ = base.doc_terms_
        merged.scores_ = base.scores_
        merged.stats_ = base.stats_
        from pyspark.sql import Window as W

        for other in rest:
            other._check_fitted()
            l2m = W.partitionBy(tcol)
            mn = merged.scores_.withColumn(
                "_v", F.col("score") / F.sqrt(F.sum(F.col("score") ** 2).over(l2m)))
            on = other.scores_.withColumn(
                "_v", F.col("score") / F.sqrt(F.sum(F.col("score") ** 2).over(l2m)))
            sims = (
                on.select(F.col(tcol).alias("_ot"), "term", F.col("_v").alias("_vo"))
                .join(mn.select(F.col(tcol).alias("_mt"), "term", F.col("_v").alias("_vm")), "term")
                .groupBy("_ot", "_mt")
                .agg(F.round(F.sum(F.col("_vo") * F.col("_vm")), 6).alias("sim"))
            )
            w = W.partitionBy("_ot").orderBy(F.desc("sim"), F.asc("_mt"))
            best = {r["_ot"]: (r["_mt"], r["sim"]) for r in
                    sims.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).collect()}
            other_topics = sorted(
                r[0] for r in other.scores_.select(tcol).distinct().collect())
            max_id = merged.scores_.agg(F.max(tcol)).collect()[0][0]
            mapping, appended = {}, []
            for ot in other_topics:
                mt = best.get(ot)
                if mt is not None and mt[1] >= min_similarity:
                    mapping[ot] = mt[0]
                else:
                    max_id += 1
                    mapping[ot] = max_id
                    appended.append((ot, max_id))
            from bertopic_spark.operators.topics import remap_topics

            merged.doc_terms_ = merged.doc_terms_.unionByName(
                remap_topics(other.doc_terms_, mapping, tcol))
            if appended:
                app_map = dict(appended)
                new_rows = remap_topics(
                    other.scores_.filter(F.col(tcol).isin(list(app_map))),
                    app_map, tcol)
                merged.scores_ = merged.scores_.unionByName(new_rows)
        merged._state_x = class_term_counts(merged.doc_terms_, merged.class_cols)
        return merged
