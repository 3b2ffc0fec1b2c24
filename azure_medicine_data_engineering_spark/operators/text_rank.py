"""TF-IDF and BM25 relevance scoring over a document corpus.

Scale extension (no counterpart in the reference): the term-weighting
operators a training-data pipeline uses for quality filtering, relevance
ranking and near-dup candidate generation. Everything is built-in DataFrame
ops — tokenize/explode/groupBy/join — so the whole computation is JVM-side
and shuffles only on (term) and (doc_id), never materializing a dense
term-document matrix.

100 TB notes: the doc-frequency table is vocabulary-sized (millions of
rows, not billions) and broadcasts; per-doc term counts shuffle once on
doc_id. IDF uses the smoothed form ln((N+1)/(df+1)) + 1 so unseen terms
stay finite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.operators.text import tokens


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-(doc, term) counts plus per-doc length: one explode + one
    groupBy(doc_id, term) shuffle. The long (doc, term) frame is the sparse
    representation every downstream weighting joins against."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """Vocabulary-sized doc-frequency table from the (doc, term, tf) frame:
    one groupBy(term). Small enough to broadcast at any corpus size that
    fits a real vocabulary."""
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )


def tfidf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sparse TF-IDF weights: tf * (ln((N+1)/(df+1)) + 1). Returns
    (doc_id, term, tf, tfidf); join keys stay long-form sparse."""
    tf = term_frequencies(df, text_col, id_col)
    dfreq = doc_frequencies(tf)
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
        .select("doc_id", "term", "tf", "tfidf")
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k highest-TF-IDF terms per document (deterministic tie-break on
    term). The rank window partitions by doc_id — parallel across docs, no
    global sort."""
    # rank on the ROUNDED score: a last-ulp cross-engine difference in ln()
    # must not flip the ordering of two near-equal weights (CLAUDE.md
    # deterministic-tie-breaker convention)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_r"), F.asc("term")
    )
    return (
        tfidf(df, text_col, id_col)
        .withColumn("tfidf_r", F.round(F.col("tfidf").cast("double"), 4))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tfidf_r").alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms
    (Robertson/Spärck Jones; the standard lexical retrieval baseline).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan: token explode → filter to query terms (pushed before the
    shuffle, so only matching postings move) → per-doc agg; doc lengths
    and the global avg join in by broadcast. Scales as one postings-list
    shuffle regardless of corpus size."""
    doclen = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("double").alias("dl"),
    )
    stats = doclen.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    tf = term_frequencies(df, text_col, id_col).where(
        F.col("term").isin(query_terms)
    )
    dfreq = doc_frequencies(tf)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    # per-term contribs snap to the 1e-6 grid BEFORE the sum: the per-doc
    # sum is then an order-free BIGINT on both engines (a double sum of
    # per-term contribs has engine-dependent accumulation order). The
    # 4-decimal display value finalizes by HALF-UP INTEGER division to the
    # 1e-4 grid — rounding the double quotient instead hits the exact
    # .00005 grid boundary, which Spark (shortest-repr decimal) and DuckDB
    # (exact binary) round differently (observed at sf0.01).
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.round(F.col("contrib") * 1e6).cast("long")).alias("s_u"),
            F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
        )
        .select(
            "doc_id",
            (F.expr("(2 * s_u + 100) div 200").cast("double") / 1e4).alias("bm25"),
            "n_matched_terms",
        )
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache: bool = True,
) -> DataFrame:
    """Corpus-self unigram language-model quality proxy (the cheap tier of
    CCNet-style perplexity filtering, Wenzek et al. 2020: documents whose
    tokens are improbable under a background LM are likelier noise). The
    corpus's own unigram distribution is the model: P(tok) = corpus
    frequency / total tokens; each document scores its mean negative log
    probability (higher = more surprising = likelier junk or rare-domain).

    Returns ``(id, n_tokens, mean_neg_logprob)``.

    Engine-exactness: per-token log-probs are rounded into integer
    micro-units (ln·1e6, half-up) BEFORE the per-document sum, so the mean
    is an order-free integer sum divided by a count — double summation
    order can never flip the hash (same trick as the PQ distance tables).

    Scale: one token explode (persisted — vocabulary build and per-doc
    scoring both read it), one vocab aggregation keyed on token (hot tokens
    are one counter each), one token→vocab join (AQE broadcasts the vocab
    side when it fits, shuffles otherwise), one per-doc aggregation."""
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    if cache:
        # vocab build + per-doc scoring share it; released through the
        # output's _stage_caches, or caller-owned (cache=False)
        tok = tok.persist()
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lpu = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("total")) * 1e6)
        .cast("long")
        .alias("lpu"),
    )
    # mean via INTEGER division of the (positive) micro-unit sum: a double
    # division before rounding lands on .00005 ties at corpus scale where
    # Spark's and DuckDB's decimal rounding disagree; (-slpu) div n is exact
    # and order-free, and dividing the micro-grid integer by 1e6 afterwards
    # is an identity-round on both engines
    out = (
        tok.join(lpu, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lpu").alias("slpu"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.expr("(-slpu) div n_tokens").cast("double") / 1e6, 6
            ).alias("mean_neg_logprob"),
        )
    )
    out._stage_caches = [tok] if cache else []
    return out


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
    cache: bool = True,
) -> DataFrame:
    """Bigram conditional LM quality — one rung up the CCNet perplexity
    ladder from :func:`unigram_logprob_scores`: score each document by the
    mean negative log of ``P(w_i | w_{i-1})`` under the corpus's own
    add-k-smoothed bigram model. Junk with plausible unigrams but shuffled
    order (the failure mode unigram scoring cannot see) scores high.

    ``P(w|v) = (c(v,w) + k) / (c_prefix(v) + k·V)`` with V = the
    vocabulary of the SCORED corpus — distinct tokens over both bigram
    positions, derived from the persisted bigram frame rather than a
    second raw-table scan (every token of a ≥2-token doc appears in some
    bigram, so this is exact for the scoreable corpus; docs with < 2
    tokens have no bigrams, are omitted from scoring, and contribute no
    smoothing mass). The same micro-unit integer-sum trick keeps per-doc
    means order-free and engine-exact.

    Scale: one bigram explode (persisted — model build, vocabulary AND
    scoring all share it; the raw table is scanned exactly once), two
    count aggregations (bigram, prefix), one broadcast-joined scoring
    pass, one per-doc aggregation. The model is data-sized in the bigram
    vocabulary but every join is keyed — nothing is ever collected.
    """
    from azure_medicine_data_engineering_spark.operators.repetition import word_ngrams
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    toks = tokens(F.col(text_col))
    big = ensure_parallelism(df).select(
        F.col(id_col), F.explode(word_ngrams(toks, 2)).alias("bg")
    )
    if cache:
        # model build + scoring share it; released through the output's
        # _stage_caches, or caller-owned (cache=False)
        big = big.persist()
    bg_counts = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix = F.substring_index(F.col("bg"), " ", 1)
    pre_counts = (
        big.select(prefix.alias("pre"))
        .groupBy("pre")
        .agg(F.count(F.lit(1)).alias("c_pre"))
    )
    # V from the persisted bigram frame — both positions, unioned BEFORE
    # the distinct so a token appearing only as a prefix or only as a
    # final word still counts once; no second raw-table scan
    vocab_size = (
        big.select(prefix.alias("t"))
        .unionByName(big.select(F.substring_index(F.col("bg"), " ", -1).alias("t")))
        .agg(F.count_distinct("t").alias("V"))
    )
    model = (
        bg_counts.withColumn("pre", F.substring_index(F.col("bg"), " ", 1))
        .join(pre_counts, "pre")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("c_bg") + F.lit(float(k_smooth)))
                    / (F.col("c_pre") + F.lit(float(k_smooth)) * F.col("V"))
                )
                * 1e6
            )
            .cast("long")
            .alias("lpu"),
        )
    )
    # integer-division mean — see unigram_logprob_scores for the tie
    # rationale
    out = (
        big.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lpu").alias("slpu"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                F.expr("(-slpu) div n_bigrams").cast("double") / 1e6, 6
            ).alias("mean_neg_logprob"),
        )
    )
    out._stage_caches = [big] if cache else []
    return out


def dsir_importance_weights(
    df: DataFrame,
    target_pred: "Column",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    cache: bool = True,
) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how target-like its hashed bag-of-words is. Per hashed-unigram
    bucket b, fit add-1-smoothed bucket probabilities under the TARGET
    slice (rows where ``target_pred``) and the RAW corpus; a document's
    log importance weight is the sum over its token occurrences of
    ``ln(p_target[b] / p_raw[b])``.

    Engine-exactness: per-bucket log-ratios round half-away into integer
    micro-units (ln·1e6, the LM-scorer convention), so per-document
    weights are exact order-free BIGINT sums. The deterministic selection
    rule is top-k by weight with id tie-break (the paper resamples with
    Gumbel noise; a seeded variant can layer the md5-uniform trick on
    top — the weight computation is the operator, selection is policy).

    Returns ``(id, n_tokens, logw_u)`` — micro-unit integer log weight.

    Scale: one token explode (persisted — raw counts, target counts and
    per-doc scoring all read it), two n_buckets-sized aggregations, one
    broadcast bucket-table join, one per-doc aggregation. The bucket
    tables are fixed-size (D rows) regardless of corpus size — the whole
    point of hashed features."""
    from azure_medicine_data_engineering_spark.operators.dedup import _hash32
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    tok = ensure_parallelism(df).select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select(
        id_col, "_is_tgt", (_hash32(F.col("tok")) % n_buckets).alias("b")
    )
    if cache:
        tok = tok.persist()
    counts = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.col("_is_tgt").cast("int")).alias("c_t"),
    )
    tot = counts.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    )
    # fixed op sequence, mirrored literally in oracle SQL
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("c_t") + 1.0) / (F.col("t_t") + float(n_buckets)))
                / ((F.col("c_r") + 1.0) / (F.col("t_r") + float(n_buckets)))
            )
            * 1e6
        )
        .cast("long")
        .alias("lru"),
    )
    return (
        tok.join(lr, "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lru").cast("long").alias("logw_u"),
        )
    )


def hashed_linear_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    weight_salt: str = "w",
) -> DataFrame:
    """Serve a hashed linear text classifier (the fastText-style quality
    filter shape: CCNet / GPT-3 used exactly this to score documents
    against a high-quality reference class): logit(doc) = Σ over token
    occurrences of ``w[h(tok) % D]``, probability = sigmoid(mean logit).

    The weight table here is DERIVED (md5 of the salted bucket id mapped
    to integer milli-units in [-1000, 1000]) — the deployment seam where a
    trained model's weights load instead; the serving plumbing (broadcast
    D-row weight table, one token explode, keyed join, per-doc integer
    aggregation) is the production path and is what this operator tests.

    Engine-exactness: weights and logits are integer milli-units, so the
    per-doc sum is exact and order-free; the predicted label thresholds
    the raw integer sum at 0 (sign(sum) == sign(mean)); only the sigmoid
    probability touches doubles (identical op sequence both engines,
    display-rounded).

    Returns ``(id, n_tokens, logit_u, prob, label)``."""
    from azure_medicine_data_engineering_spark.operators.dedup import _hash32
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    spark = df.sparkSession
    weights = spark.range(n_buckets).select(
        F.col("id").alias("b"),
        (
            _hash32(F.concat(F.lit(weight_salt + "|"), F.col("id").cast("string")))
            % 2001
            - 1000
        )
        .cast("long")
        .alias("w_u"),
    )
    tok = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(id_col, (_hash32(F.col("tok")) % n_buckets).alias("b"))
    )
    scored = tok.join(F.broadcast(weights), "b").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("w_u").cast("long").alias("logit_u"),
    )
    mean_logit = F.col("logit_u") / (F.col("n_tokens") * 1000.0)
    return scored.select(
        id_col,
        "n_tokens",
        "logit_u",
        F.round(1.0 / (1.0 + F.exp(-mean_logit)), 4).alias("prob"),
        (F.col("logit_u") >= 0).alias("label"),
    )


def quality_quantile_gate(
    df: DataFrame,
    q: float = 0.75,
    group_col: str = "lang",
    text_col: str = "text",
    bins: int = 512,
    cache: bool = True,
) -> DataFrame:
    """Sketch-driven quality gating: keep each group's top (1−q) quality
    slice, with the per-group threshold read from the MERGEABLE fixed-bin
    histogram (functions/sketches.py:hist_counts/hist_quantiles) instead
    of an exact per-group percentile — the 100 TB way to run "keep the
    best quartile per language" without a distinct-values-sized
    percentile state (the CCNet head/middle/tail split is exactly this
    gate at q = 1/3, 2/3).

    Per group: ``(group, threshold, n_docs, n_kept, kept_frac)`` —
    threshold is the q-quantile bin's lower edge (4-dec display round,
    applied identically when gating), kept_frac in integer micro-units.

    Scale: one scoring pass (persisted for its two consumers — histogram
    build + gate; caller releases via ``out._stage_caches`` when
    ``cache``), a ≤bins-row-per-group histogram state, and a broadcast
    threshold join."""
    from azure_medicine_data_engineering_spark.functions.sketches import (
        hist_counts,
        hist_quantiles,
    )
    from azure_medicine_data_engineering_spark.operators.text import quality_score

    scored = df.select(
        F.col(group_col), quality_score(F.col(text_col)).alias("score")
    )
    if cache:
        scored = scored.persist()
    hist = hist_counts(scored, [group_col], "score", 0.0, 1.0, bins)
    thr = hist_quantiles(hist, [group_col], [q], 0.0, 1.0, bins).select(
        group_col, F.col("est_value").alias("threshold")
    )
    out = (
        scored.join(F.broadcast(thr), group_col)
        .groupBy(group_col)
        .agg(
            F.first("threshold").alias("threshold"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("score") >= F.col("threshold")).cast("long"))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            group_col,
            "threshold",
            "n_docs",
            "n_kept",
            (F.expr("n_kept * 1000000 div n_docs") / 1e6).alias("kept_frac"),
        )
    )
    out._stage_caches = [scored] if cache else []
    return out


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 8,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier — the
    calibration readout quoted next to AUC (a model can rank perfectly
    and still be miscalibrated): fixed-width probability bins, per bin
    the doc count, mean predicted probability and observed positive
    rate. Well-calibrated ⇔ mean_prob ≈ pos_rate per bin.

    Engine-exact: ``bin = floor(prob · n_bins)`` (clamped) on the
    display-rounded prob double is identical on both engines; the mean
    predicted probability accumulates on the 1e-4 integer grid and the
    positive rate is an integer micro division — order-free, no float
    sums. One keyed aggregation; bin-frame-sized state."""
    b = F.least(
        F.lit(n_bins - 1), F.floor(F.col(prob_col) * n_bins)
    ).cast("int")
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.round(F.col(prob_col) * 1e4).cast("long"))
            .cast("long")
            .alias("_sp_u"),
            F.sum(F.col(label_col).cast("long")).cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n_docs",
            (F.expr("_sp_u div n_docs") / 1e4).alias("mean_prob"),
            "n_pos",
            (F.expr("n_pos * 1000000 div n_docs") / 1e6).alias("pos_rate"),
        )
    )


ZIPF_SLOPE_EXPR = (
    "round((n * 1e0 * sxy - sx * 1e0 * sy) / (n * 1e0 * sxx - sx * 1e0 * sx), 4)"
)
ZIPF_INTERCEPT_EXPR = (
    "round((sy - ((n * 1e0 * sxy - sx * 1e0 * sy) / (n * 1e0 * sxx - sx * 1e0 * sx))"
    " * sx) / n, 4)"
)


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_k: int = 200
) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency distribution: OLS of
    ``ln(freq)`` on ``ln(rank)`` over the top-k tokens — natural language
    sits near slope −1, and a corpus whose slope drifts far from it
    (template spam, boilerplate floods, synthetic text) fails the
    linguistic sanity screen. Returns one row
    ``(n_top, slope, intercept)``.

    Engine-exact: the top-k ranking is ``orderBy+limit`` (per-partition
    heaps → TakeOrderedAndProject) with a (freq DESC, token ASC)
    tie-break, the rank window then runs over k rows only; ``ln`` values
    are rounded to the integer micro grid PER ROW before the moment sums,
    making the 5 sufficient statistics order-free BIGINTs; slope and
    intercept are shared expressions."""
    from pyspark.sql.window import Window

    from azure_medicine_data_engineering_spark.operators.text import tokens

    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "tok")
    top = (
        counts.orderBy(F.desc("freq"), "tok")
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    mic = top.select(
        F.expr("cast(round(ln(cast(rank as double)) * 1e6) as bigint)").alias("lx"),
        F.expr("cast(round(ln(cast(freq as double)) * 1e6) as bigint)").alias("ly"),
    )
    scal = mic.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("lx").cast("double") / 1e6).alias("sx"),
        (F.sum("ly").cast("double") / 1e6).alias("sy"),
        (F.sum(F.col("lx") * F.col("lx")).cast("double") / 1e12).alias("sxx"),
        (F.sum(F.col("lx") * F.col("ly")).cast("double") / 1e12).alias("sxy"),
    )
    return scal.select(
        F.col("n").alias("n_top"),
        F.expr(ZIPF_SLOPE_EXPR).alias("slope"),
        F.expr(ZIPF_INTERCEPT_EXPR).alias("intercept"),
    )


HEAPS_BETA_EXPR = ZIPF_SLOPE_EXPR  # same OLS slope over (sx, sy, sxx, sxy)
HEAPS_LNK_EXPR = ZIPF_INTERCEPT_EXPR


def heaps_law_fit(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", points: int = 10
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth ``V(T) ≈ K·T^β`` — Zipf's
    companion diagnostic (natural corpora sit near β ≈ 0.4–0.6; a corpus
    whose vocabulary grows linearly (β→1, e.g. serial-number floods) or
    saturates hard (β→0, template spam) fails the screen): vocabulary
    size at ``points`` corpus prefixes regressed log-log against tokens
    seen.

    Distributed WITHOUT any doc-grain ordering: prefix boundaries are
    VALUE-based id cuts ``d_k = min + (max−min)·k/points``; cumulative
    token counts bucket per doc and cumulate over the ``points``-row
    frame; vocabulary at each cut = tokens whose FIRST-occurrence doc id
    (one groupBy min) falls at or below it — again a ``points``-row
    cumulation. The log-log OLS rides the micro-grid integer moments of
    :func:`zipf_fit`. Returns one row ``(n_points, beta, ln_k)``."""
    from azure_medicine_data_engineering_spark.operators.text import tokens

    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col).alias("d"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).persist()  # two consumers: per-doc counts + first occurrences
    bounds = df.agg(
        F.min(F.col(id_col)).cast("long").alias("dmin"),
        F.max(F.col(id_col)).cast("long").alias("dmax"),
    )
    # bucket k of a doc id: smallest cut index covering it (1-based)
    bexpr = (
        "least(cast({p} as bigint), greatest(cast(1 as bigint), "
        "cast(ceil(({d} - dmin + 1) * {p} * 1e0 / (dmax - dmin + 1)) as bigint)))"
    )
    per_doc_tok = tok.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    tok_buckets = (
        per_doc_tok.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(bexpr.format(p=points, d="d")).alias("k"), "nt"
        )
        .groupBy("k")
        .agg(F.sum("nt").cast("long").alias("bt"))
    )
    first_occ = tok.groupBy("tok").agg(F.min("d").cast("long").alias("fd"))
    voc_buckets = (
        first_occ.crossJoin(F.broadcast(bounds))
        .select(F.expr(bexpr.format(p=points, d="fd")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("bv"))
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts = (
        tok_buckets.join(voc_buckets, "k", "full")
        .select(
            "k",
            F.coalesce("bt", F.lit(0)).alias("bt"),
            F.coalesce("bv", F.lit(0)).alias("bv"),
        )
        .select(
            "k",
            F.sum("bt").over(w).cast("long").alias("t_cum"),
            F.sum("bv").over(w).cast("long").alias("v_cum"),
        )
        .where((F.col("t_cum") > 0) & (F.col("v_cum") > 0))
    )
    mic = pts.select(
        F.expr("cast(round(ln(cast(t_cum as double)) * 1e6) as bigint)").alias("lx"),
        F.expr("cast(round(ln(cast(v_cum as double)) * 1e6) as bigint)").alias("ly"),
    )
    scal = mic.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("lx").cast("double") / 1e6).alias("sx"),
        (F.sum("ly").cast("double") / 1e6).alias("sy"),
        (F.sum(F.col("lx") * F.col("lx")).cast("double") / 1e12).alias("sxx"),
        (F.sum(F.col("lx") * F.col("ly")).cast("double") / 1e12).alias("sxy"),
    )
    return scal.select(
        F.col("n").alias("n_points"),
        F.expr(HEAPS_BETA_EXPR).alias("beta"),
        F.expr(HEAPS_LNK_EXPR).alias("ln_k"),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over the
    word co-occurrence graph — an undirected edge per ADJACENT word pair
    in the normalized token stream, weight = corpus-wide co-occurrence
    count. The unsupervised keyword extractor next to the frequency-
    weighted ones (:func:`tfidf_scores`, :func:`bm25_scores`): a word
    ranks high when it co-occurs with other high-ranking words, not
    merely when it is frequent.

    Reuses :func:`~azure_medicine_data_engineering_spark.operators.graph.pagerank`
    verbatim (undirectedness = both edge directions, so out-weight equals
    weighted degree). Returns the FULL (word, score) frame — vocabulary-
    sized, the scale-safe output; take a driver-side top-k only for
    display. Scale: edge building is one explode + one (src, dst) count
    shuffle (map-side combine; observed-bigram bounded, never vocab²);
    each PageRank round joins the persisted normalized edge frame
    against the vocabulary-sized rank frame."""
    from azure_medicine_data_engineering_spark.operators.graph import pagerank
    from azure_medicine_data_engineering_spark.operators.text import (
        normalized_text,
        tokens,
    )

    toks = df.select(tokens(normalized_text(F.col(text_col))).alias("ws"))
    adj = toks.select(
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i + 1).alias("a"),
                        F.element_at(F.col("ws"), i + 2).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    adj = adj.where(F.col("a") != F.col("b"))
    edges = (
        adj.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(adj.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(edges, iterations=iterations, damping=damping, weight="w")


def oov_rate_by_source(
    df: DataFrame,
    ref_source: str,
    vocab_k: int = 1000,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Out-of-vocabulary rate per source against the top-``vocab_k``
    reference vocabulary — the tokenizer-coverage audit a training-data
    mix runs before committing a vocab: a source whose OOV rate spikes
    will fragment into byte-fallback pieces and eat sequence budget.

    The reference vocabulary is the top-k tokens of ``ref_source`` by
    (count DESC, token ASC — deterministic tie-break); membership is one
    BROADCAST left join (vocab is k rows), and per-source rates are
    floor-division micro-ratios (integer-exact on both engines). The
    token stream is persisted once (vocab build + scoring pass).
    Returns ``(source, n_tokens, n_oov, oov_rate)``.
    """
    toks = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
        .persist()
    )
    vocab = (
        toks.where(F.col("source") == ref_source)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("w").asc())
        .limit(vocab_k)
        .select("w", F.lit(True).alias("_in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "w", "left")
    out = (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("_in_vocab").isNull().cast("long")).cast("long").alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.expr("n_oov * 1000000 div n_tokens") / 1e6).alias("oov_rate"),
        )
    )
    out._stage_caches = [toks]
    return out


def lexical_diversity_by_source(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio and hapax
    share — the cheap richness/templatedness signals a corpus datasheet
    quotes next to the Zipf/Heaps fits (a boilerplate-heavy source has
    LOW TTR; an OCR-noise source has a HIGH hapax share).

    One token explode → one (source, token) count — vocabulary-bounded
    state — then per-source type/token/hapax counts; the ratios are
    floor-division micro-ratios (integer-exact both engines). Returns
    ``(source, n_tokens, n_types, n_hapax, ttr, hapax_share)``.
    """
    wc = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.expr("n_types * 1000000 div n_tokens") / 1e6).alias("ttr"),
            (F.expr("n_hapax * 1000000 div n_types") / 1e6).alias("hapax_share"),
        )
    )


def bigram_conditional_entropy_by_source(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source bigram conditional entropy H(next | current) in nats —
    the predictability of a source's token stream (the corpus-statistics
    companion to :func:`lexical_diversity_by_source`: templated/boiler-
    plate sources read LOW — the next token is nearly determined; noisy
    or rich sources read HIGH, bounded above by H(unigram)).

    H(Y|X) = (Σ_xy c_xy·ln(c_x / c_xy)) / N over within-document
    adjacent token pairs: one explode of per-document bigram arrays
    (JVM ``transform``/``arrays_zip``, no UDF), one (source, cur, next)
    count — bigram-vocabulary-bounded state — a broadcast join to the
    (source, cur) margins, micro-grid ln terms (half-away ROUND),
    integer-division finalization to 1e-6. Returns
    ``(source, n_bigrams, h_cond)``.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    pairs = F.expr(
        "filter(arrays_zip(_t, slice(_t, 2, size(_t))), p -> p['1'] is not null)"
    )
    bg = (
        df.select(F.col(source_col).alias("source"), toks.alias("_t"))
        .where(F.size("_t") >= 2)
        .select("source", F.explode(pairs).alias("_p"))
        .select(
            "source", F.col("_p._t").alias("cur"), F.col("_p.1").alias("nxt")
        )
        .groupBy("source", "cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    marg = bg.groupBy("source", "cur").agg(F.sum("c").cast("long").alias("cx"))
    scal = (
        bg.join(F.broadcast(marg), ["source", "cur"])
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(
                F.round(
                    F.col("c") * (F.log(F.col("cx") * 1.0) - F.log(F.col("c") * 1.0)) * 1e6
                ).cast("long")
            ).cast("long").alias("h_u"),
        )
    )
    out = scal.select(
        "source",
        "n_bigrams",
        (F.expr("h_u div n_bigrams") / 1e6).alias("h_cond"),
    )
    out._stage_caches = [bg]
    return out


def dunning_keyness_top_terms(
    df: DataFrame,
    ref_source: str,
    k: int = 10,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Top-``k`` Dunning log-likelihood keywords of ``ref_source`` against
    the rest of the corpus (Dunning 1993 G² keyness — the standard
    corpus-linguistics answer to "which words make this slice
    DISTINCTIVE", far better calibrated than χ² or plain ratio on the
    rare tokens that dominate vocabulary):

        G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)),  E_a = (a+b)·Na/N, …

    with a/b the token's counts in the slice/rest. One token explode →
    one vocabulary-bounded (token, a, b) count; per-token G² snaps to
    the 1e-6 grid (half-away ROUND — a and b are exact integers, only
    ln is inexact) and the top-k takes a deterministic
    (g2_u DESC, token ASC) TakeOrderedAndProject. ``enriched`` marks
    over-represented tokens (a/Na > b/Nb). Returns
    ``(rank, token, a, b, g2, enriched)``.
    """
    toks = (
        df.select(
            (F.col(source_col) == ref_source).alias("_r"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    counts = (
        toks.groupBy("w")
        .agg(
            F.sum(F.col("_r").cast("long")).cast("long").alias("a"),
            F.sum((~F.col("_r")).cast("long")).cast("long").alias("b"),
        )
        .persist()
    )
    tot = counts.agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    # a·ln(a/E_a) with a=0 contributing 0 (lim x·ln x = 0), identically
    # CASE-guarded on both engines
    g2_u = (
        "cast(round(2e0 * ("
        "case when a > 0 then a * ln(a * 1e0 * (na + nb) / ((a + b) * 1e0 * na)) else 0e0 end"
        " + case when b > 0 then b * ln(b * 1e0 * (na + nb) / ((a + b) * 1e0 * nb)) else 0e0 end"
        ") * 1e6) as bigint)"
    )
    scored = (
        counts.alias("c")
        .crossJoin(F.broadcast(tot).alias("t"))
        .select(
            "c.w",
            "c.a",
            "c.b",
            F.expr(g2_u).alias("g2_u"),
            (
                F.col("c.a") * 1.0 / F.col("t.na")
                > F.col("c.b") * 1.0 / F.col("t.nb")
            ).alias("enriched"),
        )
    )
    w_rank = Window.orderBy(F.col("g2_u").desc(), F.col("w").asc())
    out = (
        scored.orderBy(F.col("g2_u").desc(), F.col("w").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .select(
            "rank",
            F.col("w").alias("token"),
            "a",
            "b",
            F.round(F.col("g2_u").cast("double") / 1e6, 4).alias("g2"),
            "enriched",
        )
    )
    out._stage_caches = [counts]
    return out


def ccnet_perplexity_buckets(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail routing (Wenzek et al. 2020): per corpus
    slice, cut the document NLL distribution at its exact terciles and
    report each bucket — LOW perplexity = ``head`` (cleanest third),
    then ``middle``, then ``tail``; CCNet trains on head+middle and
    audits the tail. Returns one row per ``(g, bucket)`` with
    ``(n_docs, nll_min, nll_max)`` on the 1e-6 integer NLL grid.

    Exactness: per-doc NLL is the micro-grid integer of
    :func:`unigram_logprob_scores` (order-free integer sums, integer
    division); tercile cut points are EXACT lower order statistics
    ``t_q = min{v : cum(v) ≥ ceil(q·n)}`` per slice — never a
    percentile sketch. Scale: one token explode + vocab join (persisted
    token frame), then everything is doc-grain and (slice, distinct-NLL)
    grain; per-slice cumulatives ride group-KEYED windows via
    :func:`rankstats.grouped_ranked_value_counts` (no single-partition
    exchange)."""
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    # NO persist on the token frame: it is fact × tokens sized — at the
    # 100× replica the cache fill OOMed a 12g heap (measured, round 11);
    # re-running the explode for the two consumers is cheap map-side
    # compute and the 100 TB story needs no executor-memory cache here
    tok = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(group_col).alias("g"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lpu = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("total")) * 1e6)
        .cast("long")
        .alias("lpu"),
    )
    # persist the DOC-grain frame (id, g, nll — small) so its three
    # consumers (rank frame, per-slice counts, final bucket join) run
    # the expensive token-grain join ONCE; the token frame itself stays
    # unpersisted (fact × tokens sized — the 100× OOM class)
    doc_nll = (
        tok.join(lpu, "tok")
        .groupBy(id_col, "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            # DECIMAL(38,0) accumulator per micro-grid sum convention
            F.sum(F.col("lpu").cast("decimal(38,0)")).alias("slpu"),
        )
        .selectExpr(id_col, "g", "(-slpu) div n_tokens AS nll")
        .persist()
    )
    # exact tercile cut points via the shared helper (round 12 — one
    # implementation of the order-statistic rule, used here and by the
    # router model delta)
    cuts = _exact_tercile_cuts(doc_nll.select("g", "nll"), "nll")
    bucket = (
        F.when(F.col("nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    out = (
        doc_nll.join(F.broadcast(cuts), "g")
        .select("g", "nll", bucket.alias("bucket"))
        .groupBy("g", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("nll").cast("long").alias("nll_min"),
            F.max("nll").cast("long").alias("nll_max"),
        )
    )
    out._stage_caches = [doc_nll] + list(getattr(cuts, "_stage_caches", []))
    return out


# ---------------------------------------------------------------------------
# Kneser-Ney trigram LM (round 12) — the CCNet router's published model
# class (Wenzek et al. 2020 score with a KN LM; the add-k bigram above is
# the engine's lower rung).
# ---------------------------------------------------------------------------

#: Interpolated absolute-discount KN (Chen & Goodman 1999), d = 0.75, as ONE
#: shared expression string (CLAUDE.md convention: all-integer state in,
#: one scalar expression out — interpolated verbatim into the DuckDB oracle
#: so both engines execute the identical IEEE op sequence). Inputs:
#:   c3  = trigram count c(a b c)
#:   cab = sum_c' c(a b c')            (trigram-interior context count)
#:   nab = N1+(a b .)                  (distinct continuations of (a, b))
#:   nbc = N1+(. b c)                  (distinct left-extensions of (b, c))
#:   nbb = N1+(. b .)                  (distinct (a, c) around b)
#:   nbl = |{c : N1+(. b c) > 0}|      (middle-level lambda numerator)
#:   n1c = N1+(. c)                    (continuation-unigram numerator)
#:   nal = N1+(. .)                    (distinct (b, c) pairs)
#: P(c|a,b) = [max(c3-d,0) + d*nab*P2] / cab
#: P2(c|b)  = [max(nbc-d,0) + d*nbl*P3] / nbb
#: P3(c)    = n1c / nal
KN_LP_EXPR = (
    "ln((greatest(c3 - 7.5e-1, 0e0) + 7.5e-1 * nab * "
    "((greatest(nbc - 7.5e-1, 0e0) + 7.5e-1 * nbl * (n1c * 1e0 / nal)) / nbb))"
    " / cab)"
)
KN_LPU_EXPR = f"CAST(ROUND(({KN_LP_EXPR}) * 1e6) AS BIGINT)"


def _kn3_score_table(t3: DataFrame) -> DataFrame:
    """The KN trigram score star ``(tri_k, lpu)`` from the persisted
    distinct-trigram model table (factored out in optimization round 15 —
    the doc-grain and by-group paths share one build). Every suffix table
    is a keyed groupBy of ``t3``; the single scalar broadcasts."""
    # disjoint key names per derived frame: every frame below shares t3's
    # lineage, and same-name attr reuse in self-lineage joins is the
    # analysis-time ambiguity CLAUDE.md warns about
    # Optimization round 16 (guide §2.4 / CLAUDE.md replay rule): ``bc``
    # feeds FOUR consumers (bb, c1, nal, the star join) and nothing
    # persisted sat between them, so its exchange+agg re-executed inside
    # every broadcast build. Persist the (model-grain, tiny) level once.
    # ``bb`` additionally derives from ``bc`` instead of re-scanning t3:
    # nbb = |{(a,c)}| per b = SUM over c of nbc; nbl = |{c}| per b =
    # COUNT of bc rows — exact integer identities on distinct-key grain.
    ab = t3.groupBy(
        F.col("a").alias("a1"), F.col("b").alias("b1")
    ).agg(
        F.sum("c3").cast("long").alias("cab"),
        F.count(F.lit(1)).cast("long").alias("nab"),
    )
    bc = (
        t3.groupBy(F.col("b").alias("b2"), F.col("c").alias("c2"))
        .agg(F.count(F.lit(1)).cast("long").alias("nbc"))
        .persist()
    )
    bb = bc.groupBy(F.col("b2").alias("b3")).agg(
        F.sum("nbc").cast("long").alias("nbb"),
        F.count(F.lit(1)).cast("long").alias("nbl"),
    )
    c1 = bc.groupBy(F.col("c2").alias("c4")).agg(
        F.count(F.lit(1)).cast("long").alias("n1c")
    )
    nal = bc.agg(F.count(F.lit(1)).cast("long").alias("nal"))
    out = (
        t3.join(ab, (F.col("a") == F.col("a1")) & (F.col("b") == F.col("b1")))
        .join(bc, (F.col("b") == F.col("b2")) & (F.col("c") == F.col("c2")))
        .join(bb, F.col("b") == F.col("b3"))
        .join(c1, F.col("c") == F.col("c4"))
        .crossJoin(F.broadcast(nal))
        .selectExpr("tri AS tri_k", f"{KN_LPU_EXPR} AS lpu")
    )
    out._stage_caches = [bc]
    return out


def kn_trigram_doc_nll(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DOC-grain Kneser-Ney trigram NLL frame ``(id, g, n_trigrams, slpu,
    nll)`` — the shared core of the router-delta comparison (``slpu``
    stays DECIMAL(38,0) so group re-aggregation sums the exact integers,
    not per-doc means). The persisted distinct-trigram model table rides
    ``_stage_caches``."""
    from azure_medicine_data_engineering_spark.operators.repetition import word_ngrams
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    tri = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(group_col).alias("g"),
        F.explode(word_ngrams(tokens(F.col(text_col)), 3)).alias("tri"),
    )
    # distinct-trigram model table: split once, persist (model grain)
    t3 = (
        tri.groupBy("tri")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .select(
            "tri",
            "c3",
            F.substring_index("tri", " ", 1).alias("a"),
            F.substring_index(F.substring_index("tri", " ", 2), " ", -1).alias("b"),
            F.substring_index("tri", " ", -1).alias("c"),
        )
        .persist()
    )
    lpu = _kn3_score_table(t3)
    out = (
        tri.join(lpu, tri.tri == lpu.tri_k)
        .groupBy(id_col, "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum(F.col("lpu").cast("decimal(38,0)")).alias("slpu"),
        )
        .selectExpr(
            id_col, "g", "n_trigrams", "slpu", "(-slpu) div n_trigrams AS nll"
        )
    )
    out._stage_caches = [t3, *getattr(lpu, "_stage_caches", [])]
    return out


def kn_trigram_logprob_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-slice corpus-self perplexity under an interpolated Kneser-Ney
    TRIGRAM LM — the CCNet router's published model class, two rungs above
    :func:`unigram_logprob_scores` (which cannot see order) and one above
    :func:`bigram_logprob_scores` (add-k smoothing; KN's continuation
    counts generalize far better on rare contexts). Trigram positions are
    document-interior (no BOS/EOS padding); docs under 3 tokens contribute
    nothing. Returns ``(g, n_docs, n_trigrams, nll_micro)`` with the NLL
    mean on the 1e-6 integer grid (micro-grid sum in DECIMAL(38,0),
    integer division — the repo's order-free, engine-exact mean).

    Scale: the DISTINCT-TRIGRAM model table is the LM's count table (at
    100 TB this is the frame a production run would materialize to
    parquet; every count CTE derives from it, never from a raw re-scan).
    All KN quantities (context sums, continuation counts) are keyed
    groupBys of that table; the single scalar (``nal``) broadcasts.

    Round-15 shape (mirrors the 5-gram family's ``_kn5_group_counts``):
    the score table attaches to per-``(g, tri)`` COUNTS, not positions —
    ``sum(cgt * lpu)`` equals the positional ``sum(lpu)`` exactly
    (integer micro-grid arithmetic, order-independent) — and ``n_docs``
    comes from a light no-explode scan (a doc contributes iff it has
    >= 3 tokens), so the corpus is tokenized ONCE instead of twice and
    the heavy join input shrinks from positions to model-x-group grain."""
    from azure_medicine_data_engineering_spark.operators.repetition import word_ngrams
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    gpt = (
        ensure_parallelism(df)
        .select(
            F.col(group_col).alias("g"),
            F.explode(word_ngrams(tokens(F.col(text_col)), 3)).alias("tri"),
        )
        .groupBy("g", "tri")
        .agg(F.count(F.lit(1)).cast("long").alias("cgt"))
        .persist()
    )
    # early-exit regex for ntok >= 3 (see _kn5_group_counts)
    ndocs = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(text_col).rlike(r"\S+(\s+\S+){2}").alias("ok"),
        )
        .groupBy("g")
        .agg(F.sum(F.col("ok").cast("long")).cast("long").alias("n_docs"))
    )
    t3 = (
        gpt.groupBy(F.col("tri").alias("tri0"))
        .agg(F.sum("cgt").cast("long").alias("c3"))
        .select(
            F.col("tri0").alias("tri"),
            "c3",
            F.substring_index("tri0", " ", 1).alias("a"),
            F.substring_index(F.substring_index("tri0", " ", 2), " ", -1).alias("b"),
            F.substring_index("tri0", " ", -1).alias("c"),
        )
        .persist()
    )
    lpu = _kn3_score_table(t3)
    out = (
        gpt.join(lpu, gpt.tri == lpu.tri_k)
        .groupBy("g")
        .agg(
            F.sum("cgt").cast("long").alias("n_trigrams"),
            F.sum(
                F.col("cgt").cast("decimal(38,0)")
                * F.col("lpu").cast("decimal(38,0)")
            ).alias("slpu"),
        )
        .join(F.broadcast(ndocs), "g")
        .selectExpr(
            "g",
            "n_docs",
            "n_trigrams",
            "(-slpu) div n_trigrams AS nll_micro",
        )
    )
    out._stage_caches = [gpt, t3, *getattr(lpu, "_stage_caches", [])]
    return out


def _exact_tercile_cuts(doc_frame: DataFrame, val_col: str) -> DataFrame:
    """Exact per-slice tercile cut points ``(g, t1, t2)`` over a doc-grain
    integer column — the ccnet_perplexity_buckets order-statistic rule
    (``t_q = min{v : cum(v) >= ceil(q*n)}``, never a sketch), on
    group-KEYED windows via ``rankstats.grouped_ranked_value_counts``."""
    from azure_medicine_data_engineering_spark.functions.rankstats import (
        grouped_ranked_value_counts,
    )

    ranked = grouped_ranked_value_counts(
        doc_frame.select("g", F.col(val_col).alias("v0")), "g", "v0"
    )
    cum = ranked.selectExpr("g", "v", "cnt_less + c_all AS cum")
    n_g = doc_frame.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        cum.join(F.broadcast(n_g), "g")
        .groupBy("g")
        .agg(
            F.min(F.when(F.expr("cum >= (1 * n + 2) div 3"), F.col("v"))).alias("t1"),
            F.min(F.when(F.expr("cum >= (2 * n + 2) div 3"), F.col("v"))).alias("t2"),
        )
    )
    out._stage_caches = list(getattr(ranked, "_stage_caches", []))
    return out


def ccnet_router_model_delta(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """How many routing decisions CHANGE when the CCNet router upgrades
    from the unigram score to the Kneser-Ney trigram (the round-12
    completion of the model-delta ask): both models score the SAME
    population (docs with >= 3 tokens — the KN-scoreable set), each
    model's head/middle/tail terciles are computed exactly over that
    population per slice, and the report counts per slice how many docs
    keep their bucket vs move — split by direction (``n_kn_stricter`` =
    KN routes the doc to a WORSE bucket than unigram; shuffled-order junk
    with plausible unigrams moves exactly this way). Returns
    ``(g, n_docs, n_same, n_kn_stricter, n_kn_looser)``.

    Scale: the KN side is :func:`kn_trigram_doc_nll` (one trigram-keyed
    join); the unigram side is one token-keyed join; the joined doc-grain
    population frame is persisted (small — id/g/two integers) because
    four consumers read it (two tercile builds, the bucket join, the
    final counts); tercile state is (slice, distinct-NLL) grain."""
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    kn_doc = kn_trigram_doc_nll(df, group_col, text_col, id_col)
    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lpu = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("total")) * 1e6)
        .cast("long")
        .alias("lpu"),
    )
    uni_doc = (
        tok.join(lpu, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("lpu").cast("decimal(38,0)")).alias("slpu_u"),
        )
        .selectExpr(id_col, "(-slpu_u) div n_tokens AS nu")
    )
    # eager checkpoint, NOT persist: pop feeds both unionByName branches
    # below, and the analyzer's attribute-id rewrite on the second branch
    # defeats cached-plan substitution for persisted frames (CLAUDE.md) —
    # a persist here replayed the full KN+unigram scoring lineage per
    # branch
    pop = (
        kn_doc.select(id_col, "g", F.col("nll").alias("nk"))
        .join(uni_doc, id_col)
        .localCheckpoint(eager=True)
    )
    # ONE tercile pass for BOTH models: stack (model|slice, value) rows
    # and run the bucketed rank machinery once — two separate builds
    # doubled the window stages for no reason (bench-profiled, round 12)
    stacked = pop.selectExpr("concat('k|', g) AS g", "nk AS v").unionByName(
        pop.selectExpr("concat('u|', g) AS g", "nu AS v")
    )
    cuts0 = _exact_tercile_cuts(stacked.select("g", F.col("v")), "v")
    cut_caches = list(getattr(cuts0, "_stage_caches", []))
    # two consumers (the k| and u| splits) — eager checkpoint the tiny
    # (2·slices)-row frame so the rank lineage runs once, not per branch
    cuts = cuts0.localCheckpoint(eager=True)

    def rank(val: str, t1: str, t2: str):
        return (
            F.when(F.col(val) <= F.col(t1), F.lit(0))
            .when(F.col(val) <= F.col(t2), F.lit(1))
            .otherwise(F.lit(2))
        )

    ck = cuts.where(F.col("g").startswith("k|")).select(
        F.expr("substring(g, 3)").alias("gk"),
        F.col("t1").alias("k1"),
        F.col("t2").alias("k2"),
    )
    cu = cuts.where(F.col("g").startswith("u|")).select(
        F.expr("substring(g, 3)").alias("gu"),
        F.col("t1").alias("u1"),
        F.col("t2").alias("u2"),
    )
    staged = (
        pop.join(F.broadcast(ck), pop.g == ck.gk)
        .join(F.broadcast(cu), pop.g == cu.gu)
        .select(
            "g",
            rank("nk", "k1", "k2").alias("rk"),
            rank("nu", "u1", "u2").alias("ru"),
        )
    )
    out = staged.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("rk") == F.col("ru")).cast("long")).cast("long").alias("n_same"),
        F.sum((F.col("rk") > F.col("ru")).cast("long")).cast("long").alias("n_kn_stricter"),
        F.sum((F.col("rk") < F.col("ru")).cast("long")).cast("long").alias("n_kn_looser"),
    )
    out._stage_caches = list(getattr(kn_doc, "_stage_caches", [])) + cut_caches
    return out


# ---------------------------------------------------------------------------
# Kneser-Ney 5-GRAM LM (round 13) — the order production CCNet actually
# ships (Wenzek et al. 2020 trains KenLM 5-grams; the trigram above is the
# two-rung teaching ladder). Same architecture, two more recursion levels.
# ---------------------------------------------------------------------------

#: Interpolated absolute-discount KN at order 5 (d = 0.75 at every level),
#: ONE shared expression string (identical IEEE op sequence both engines).
#: Inputs (all exact integers; suffix-table recursion — level-k counts are
#: row counts of the distinct suffix-(k)-gram table, Chen & Goodman):
#:   c5    = c(a b c d e)
#:   cabcd = sum_e' c(a b c d e')           nabcd = N1+(a b c d .)
#:   m4 = N1+(. b c d e)    w4 = N1+(. b c d .)    l4 = |{e: N1+(. b c d e)>0}|
#:   m3 = N1+(. c d e)*     w3 = N1+(. c d .)*     l3 = analogous   (* over d4)
#:   m2 = N1+(. d e)*       w2 = N1+(. d .)*       l2 = analogous   (* over d3)
#:   n1e = N1+(. e)         nal = N1+(. .)         (over d2)
KN5_LP_EXPR = (
    "ln((greatest(c5 - 7.5e-1, 0e0) + 7.5e-1 * nabcd * "
    "((greatest(m4 - 7.5e-1, 0e0) + 7.5e-1 * l4 * "
    "((greatest(m3 - 7.5e-1, 0e0) + 7.5e-1 * l3 * "
    "((greatest(m2 - 7.5e-1, 0e0) + 7.5e-1 * l2 * (n1e * 1e0 / nal)) / w2))"
    " / w3)) / w4)) / cabcd)"
)
KN5_LPU_EXPR = f"CAST(ROUND(({KN5_LP_EXPR}) * 1e6) AS BIGINT)"


def _kn5_score_table(g5: DataFrame) -> DataFrame:
    """The per-gram KN-5 score table ``(pg_k, lpu)`` from the persisted
    distinct-5-gram model table: five suffix-table groupBys of ``g5``
    (disjoint key names per derived frame — self-lineage join rule) star-
    joined back, plus the licensed 1-row ``nal`` scalar broadcast.

    Precondition: ``a``..``e`` are never NULL. The ``COUNT(1)`` identities
    below equal ``count_distinct`` only over non-NULL tokens
    (``count_distinct`` skips NULLs, ``COUNT(1)`` counts them). Both
    n-gram builders (:func:`kn_5gram_doc_nll`, :func:`_kn5_model_table`)
    meet it by construction: every part is a ``substring_index`` of a
    non-NULL 5-gram of whitespace tokens. It is not checked at runtime,
    which would add a job to every KN query."""
    # Optimization round 16 (guide §2.4 / CLAUDE.md replay rule): the
    # suffix levels feed 3-5 consumers each (the next level(s) down AND
    # the star join), and with nothing persisted between them each deeper
    # broadcast build re-executed every parent level's exchange+agg
    # (bcde ran ~6x, cde ~4x, de ~3x per query — visible as the repeated
    # Exchange/HashAggregate chains in plans/r15/*_after3.txt). Persist
    # each level once, and derive every level from the one ABOVE it —
    # exact integer identities on distinct-key grain:
    #   bcd.w4 = |g5 rows per (b,c,d)|           = SUM(m4)  over bcde
    #   bcd.l4 = |{e}| per (b,c,d) over g5       = COUNT(1) over bcde
    #   cd.w3  = |bcde rows per (c,d)|           = SUM(m3)  over cde
    #   cd.l3  = |{e}| per (c,d) over bcde       = COUNT(1) over cde
    #   dk.w2  = |cde rows per d|                = SUM(m2)  over de
    #   dk.l2  = |{e}| per d over cde            = COUNT(1) over de
    abcd = g5.groupBy(
        F.col("a").alias("a1"), F.col("b").alias("b1"),
        F.col("c").alias("c1"), F.col("d").alias("d1"),
    ).agg(
        F.sum("c5").cast("long").alias("cabcd"),
        F.count(F.lit(1)).cast("long").alias("nabcd"),
    )
    # d4 = distinct suffix 4-grams with their left-extension counts
    bcde = g5.groupBy(
        F.col("b").alias("b2"), F.col("c").alias("c2"),
        F.col("d").alias("d2"), F.col("e").alias("e2"),
    ).agg(F.count(F.lit(1)).cast("long").alias("m4")).persist()
    bcd = bcde.groupBy(
        F.col("b2").alias("b3"), F.col("c2").alias("c3k"),
        F.col("d2").alias("d3"),
    ).agg(
        F.sum("m4").cast("long").alias("w4"),
        F.count(F.lit(1)).cast("long").alias("l4"),
    )
    cde = bcde.groupBy(
        F.col("c2").alias("c4"), F.col("d2").alias("d4"), F.col("e2").alias("e4")
    ).agg(F.count(F.lit(1)).cast("long").alias("m3")).persist()
    cd = cde.groupBy(F.col("c4").alias("c5k"), F.col("d4").alias("d5")).agg(
        F.sum("m3").cast("long").alias("w3"),
        F.count(F.lit(1)).cast("long").alias("l3"),
    )
    de = cde.groupBy(F.col("d4").alias("d6"), F.col("e4").alias("e6")).agg(
        F.count(F.lit(1)).cast("long").alias("m2")
    ).persist()
    dk = de.groupBy(F.col("d6").alias("d7")).agg(
        F.sum("m2").cast("long").alias("w2"),
        F.count(F.lit(1)).cast("long").alias("l2"),
    )
    ek = de.groupBy(F.col("e6").alias("e8")).agg(
        F.count(F.lit(1)).cast("long").alias("n1e")
    )
    nal = de.agg(F.count(F.lit(1)).cast("long").alias("nal"))
    out = (
        g5.join(
            abcd,
            (F.col("a") == F.col("a1")) & (F.col("b") == F.col("b1"))
            & (F.col("c") == F.col("c1")) & (F.col("d") == F.col("d1")),
        )
        .join(
            bcde,
            (F.col("b") == F.col("b2")) & (F.col("c") == F.col("c2"))
            & (F.col("d") == F.col("d2")) & (F.col("e") == F.col("e2")),
        )
        .join(
            bcd,
            (F.col("b") == F.col("b3")) & (F.col("c") == F.col("c3k"))
            & (F.col("d") == F.col("d3")),
        )
        .join(
            cde,
            (F.col("c") == F.col("c4")) & (F.col("d") == F.col("d4"))
            & (F.col("e") == F.col("e4")),
        )
        .join(cd, (F.col("c") == F.col("c5k")) & (F.col("d") == F.col("d5")))
        .join(de, (F.col("d") == F.col("d6")) & (F.col("e") == F.col("e6")))
        .join(dk, F.col("d") == F.col("d7"))
        .join(ek, F.col("e") == F.col("e8"))
        .crossJoin(F.broadcast(nal))
        .selectExpr("pg AS pg_k", f"{KN5_LPU_EXPR} AS lpu")
    )
    out._stage_caches = [bcde, cde, de]
    return out


def kn_5gram_doc_nll(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DOC-grain Kneser-Ney 5-gram NLL frame ``(id, g, n_5grams, slpu,
    nll)`` — the order-5 sibling of :func:`kn_trigram_doc_nll` (same
    distinct-ngram model-table architecture: ONE persisted 5-gram table,
    every KN quantity a keyed groupBy of it or of its suffix tables —
    at 100 TB the model table is what a production run materializes).
    Docs under 5 tokens contribute nothing (document-interior positions,
    no padding)."""
    from azure_medicine_data_engineering_spark.operators.repetition import word_ngrams
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    pen = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(group_col).alias("g"),
        F.explode(word_ngrams(tokens(F.col(text_col)), 5)).alias("pg"),
    )

    def part(i: int) -> F.Column:
        if i == 1:
            return F.substring_index("pg", " ", 1)
        if i == 5:
            return F.substring_index("pg", " ", -1)
        return F.substring_index(F.substring_index("pg", " ", i), " ", -1)

    g5 = (
        pen.groupBy("pg")
        .agg(F.count(F.lit(1)).cast("long").alias("c5"))
        .select(
            "pg", "c5",
            part(1).alias("a"), part(2).alias("b"), part(3).alias("c"),
            part(4).alias("d"), part(5).alias("e"),
        )
        .persist()
    )
    lpu = _kn5_score_table(g5)
    out = (
        pen.join(lpu, pen.pg == lpu.pg_k)
        .groupBy(id_col, "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_5grams"),
            F.sum(F.col("lpu").cast("decimal(38,0)")).alias("slpu"),
        )
        .selectExpr(
            id_col, "g", "n_5grams", "slpu", "(-slpu) div n_5grams AS nll"
        )
    )
    out._stage_caches = [g5, *getattr(lpu, "_stage_caches", [])]
    return out


def _kn5_group_counts(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Shared corpus-side state for the BY-GROUP 5-gram queries
    (optimization round 15 — guide §8 "decide with small rows"): instead
    of joining the score table to every 5-gram POSITION (a corpus-grain
    shuffle, and a second tokenize+explode pass via lineage replay of the
    unpersisted ``pen``), collapse the corpus ONCE to

    - ``gpg``: per-``(g, pg)`` occurrence counts (persisted — one
      tokenize+explode pass total; model-x-group grain), and
    - ``ndocs``: per-group count of docs contributing >= 1 5-gram,
      computed from a light no-explode scan (a doc contributes iff it
      has >= 5 tokens).

    Per-group sums then attach at MODEL grain:
    ``sum(cgp * lpu) == sum over positions of lpu`` exactly (integer
    arithmetic on the micro grid, order-independent)."""
    from azure_medicine_data_engineering_spark.operators.repetition import word_ngrams
    from azure_medicine_data_engineering_spark.operators.text import tokens
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    gpg = (
        ensure_parallelism(df)
        .select(
            F.col(group_col).alias("g"),
            F.explode(word_ngrams(tokens(F.col(text_col)), 5)).alias("pg"),
        )
        .groupBy("g", "pg")
        .agg(F.count(F.lit(1)).cast("long").alias("cgp"))
        .persist()
    )
    # ntok >= 5 as an EARLY-EXIT regex instead of a full split+filter+size
    # tokenize pass (optimization round 15, guide §1.2): a doc has >= 5
    # whitespace tokens iff it contains 5 maximal \S runs — the rlike
    # stops at the first match (~the first five words) while the old
    # size(tokens(...)) materialized the whole token array per doc.
    ndocs = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(text_col).rlike(r"\S+(\s+\S+){4}").alias("ok"),
        )
        .groupBy("g")
        .agg(F.sum(F.col("ok").cast("long")).cast("long").alias("n_docs"))
    )
    return gpg, ndocs


def _kn5_model_table(gpg: DataFrame) -> DataFrame:
    """The persisted distinct-5-gram model table derived from the
    per-(g, pg) count frame by a second-level aggregation (two-level agg:
    the corpus is scanned once, by :func:`_kn5_group_counts`). Its
    ``a``..``e`` parts are non-NULL, the precondition of
    :func:`_kn5_score_table`'s ``COUNT(1)`` identities."""

    def part(i: int) -> F.Column:
        if i == 1:
            return F.substring_index("pg", " ", 1)
        if i == 5:
            return F.substring_index("pg", " ", -1)
        return F.substring_index(F.substring_index("pg", " ", i), " ", -1)

    return (
        gpg.groupBy("pg")
        .agg(F.sum("cgp").cast("long").alias("c5"))
        .select(
            "pg", "c5",
            part(1).alias("a"), part(2).alias("b"), part(3).alias("c"),
            part(4).alias("d"), part(5).alias("e"),
        )
        .persist()
    )


def kn_5gram_logprob_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-slice corpus-self perplexity under the interpolated KN 5-GRAM
    (the order production CCNet ships). Returns
    ``(g, n_docs, n_5grams, nll_micro)`` on the exact micro grid.

    Round-15 shape: the score table attaches to per-(g, pg) COUNTS, not
    positions (see :func:`_kn5_group_counts`) — exactly equal because
    every quantity is integer micro-grid state."""
    gpg, ndocs = _kn5_group_counts(df, group_col, text_col, id_col)
    g5 = _kn5_model_table(gpg)
    lpu = _kn5_score_table(g5)
    out = (
        gpg.join(lpu, gpg.pg == lpu.pg_k)
        .groupBy("g")
        .agg(
            F.sum("cgp").cast("long").alias("n_5grams"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu").cast("decimal(38,0)")
            ).alias("slpu"),
        )
        .join(F.broadcast(ndocs), "g")
        .selectExpr(
            "g", "n_docs", "n_5grams", "(-slpu) div n_5grams AS nll_micro"
        )
    )
    out._stage_caches = [gpg, g5, *getattr(lpu, "_stage_caches", [])]
    return out


# ---------------------------------------------------------------------------
# MODIFIED Kneser-Ney 5-gram (round 13) — the estimator KenLM (and hence
# the shipped CCNet models) actually uses: order-specific discounts
# D1/D2/D3+ estimated from each order's count-of-counts (Chen & Goodman
# 1999 eq. 26), instead of the single d = 0.75.
# ---------------------------------------------------------------------------


def _mkn_discount(n1: str, n2: str, n3: str, n4: str, which: int) -> str:
    """Discount D_<which> from count-of-count scalars, with the
    deterministic fixed-0.75 fallback when ANY nk is zero (exact-replica
    corpora multiply every count by k, emptying the 1..4 buckets — KenLM
    aborts there; the fallback keeps the statistic total and mirrored)."""
    guard = f"({n1} > 0 AND {n2} > 0 AND {n3} > 0 AND {n4} > 0)"
    y = f"({n1} * 1e0 / ({n1} + 2e0 * {n2}))"
    d = {
        1: f"(1e0 - 2e0 * {y} * {n2} / {n1})",
        2: f"(2e0 - 3e0 * {y} * {n3} / {n2})",
        3: f"(3e0 - 4e0 * {y} * {n4} / {n3})",
    }[which]
    return f"(CASE WHEN {guard} THEN {d} ELSE 7.5e-1 END)"


def _mkn_level(
    c: str, den: str, k1: str, k2: str, k3: str,
    d1: str, d2: str, d3: str, lower: str,
) -> str:
    """One mKN recursion level: discounted count + estimated backoff mass
    times the lower-order probability, over the context total. Discounts
    are clamped into the count via greatest(...) so a pathological D3 > c
    cannot go negative (C&G assume in-range discounts; the clamp is
    mirrored on both engines)."""
    dd = f"(CASE WHEN {c} = 1 THEN {d1} WHEN {c} = 2 THEN {d2} ELSE {d3} END)"
    gamma = f"({d1} * {k1} + {d2} * {k2} + {d3} * {k3})"
    return f"((greatest({c} - {dd}, 0e0) + {gamma} * ({lower})) / {den})"


def _mkn5_lp_expr() -> str:
    """The full modified-KN 5-gram log-prob as ONE shared expression over
    integer inputs (gram counts, context totals, per-context count-bucket
    tallies, global count-of-count scalars s{L}{k}) — interpolated
    verbatim into the DuckDB oracle."""
    levels = {
        5: tuple(_mkn_discount("s51", "s52", "s53", "s54", w) for w in (1, 2, 3)),
        4: tuple(_mkn_discount("s41", "s42", "s43", "s44", w) for w in (1, 2, 3)),
        3: tuple(_mkn_discount("s31", "s32", "s33", "s34", w) for w in (1, 2, 3)),
        2: tuple(_mkn_discount("s21", "s22", "s23", "s24", w) for w in (1, 2, 3)),
    }
    p1 = "(n1e * 1e0 / nal)"
    p2 = _mkn_level("m2", "w2", "kd1", "kd2", "kd3", *levels[2], p1)
    p3 = _mkn_level("m3", "w3", "kc1", "kc2", "kc3", *levels[3], p2)
    p4 = _mkn_level("m4", "w4", "kb1", "kb2", "kb3", *levels[4], p3)
    p5 = _mkn_level("c5", "cabcd", "ka1", "ka2", "ka3", *levels[5], p4)
    return f"ln({p5})"


MKN5_LP_EXPR = _mkn5_lp_expr()
MKN5_LPU_EXPR = f"CAST(ROUND(({MKN5_LP_EXPR}) * 1e6) AS BIGINT)"


def _mkn5_score_parts(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared mKN-5 build: returns ``(gpg, ndocs, g5, lpu)`` — the
    persisted per-(g, pg) corpus count frame + per-group doc counts
    (round-15 shape, :func:`_kn5_group_counts`), the persisted
    distinct-5-gram model table derived from it, and the per-gram score
    table ``(pg_k, lpu)`` under KenLM's estimator (order-specific
    D1/D2/D3+ from count-of-counts, per-context N1/N2/N3+ tallies, four
    1-row broadcast scalar frames)."""
    gpg, ndocs = _kn5_group_counts(df, group_col, text_col, id_col)
    g5 = _kn5_model_table(gpg)

    def buckets(cnt: str, p: str) -> list:
        return [
            F.sum((F.col(cnt) == 1).cast("long")).cast("long").alias(f"{p}1"),
            F.sum((F.col(cnt) == 2).cast("long")).cast("long").alias(f"{p}2"),
            F.sum((F.col(cnt) >= 3).cast("long")).cast("long").alias(f"{p}3"),
        ]

    def ccounts(frame: DataFrame, cnt: str, p: str) -> DataFrame:
        return frame.agg(
            *[
                F.sum((F.col(cnt) == k).cast("long")).cast("long").alias(f"{p}{k}")
                for k in (1, 2, 3, 4)
            ]
        )

    abcd = g5.groupBy(
        F.col("a").alias("a1"), F.col("b").alias("b1"),
        F.col("c").alias("c1"), F.col("d").alias("d1"),
    ).agg(
        F.sum("c5").cast("long").alias("cabcd"),
        *buckets("c5", "ka"),
    )
    # Optimization round 16: persist each suffix level — they feed 3-5
    # consumers each (next level(s), the count-of-count scalar, the star
    # join) and otherwise re-execute per consumer (see _kn5_score_table).
    bcde = g5.groupBy(
        F.col("b").alias("b2"), F.col("c").alias("c2"),
        F.col("d").alias("d2"), F.col("e").alias("e2"),
    ).agg(F.count(F.lit(1)).cast("long").alias("m4")).persist()
    bcd = bcde.groupBy(
        F.col("b2").alias("b3"), F.col("c2").alias("c3k"), F.col("d2").alias("d3")
    ).agg(F.sum("m4").cast("long").alias("w4"), *buckets("m4", "kb"))
    cde = bcde.groupBy(
        F.col("c2").alias("c4"), F.col("d2").alias("d4"), F.col("e2").alias("e4")
    ).agg(F.count(F.lit(1)).cast("long").alias("m3")).persist()
    cd = cde.groupBy(F.col("c4").alias("c5k"), F.col("d4").alias("d5")).agg(
        F.sum("m3").cast("long").alias("w3"), *buckets("m3", "kc")
    )
    de = cde.groupBy(F.col("d4").alias("d6"), F.col("e4").alias("e6")).agg(
        F.count(F.lit(1)).cast("long").alias("m2")
    ).persist()
    dk = de.groupBy(F.col("d6").alias("d7")).agg(
        F.sum("m2").cast("long").alias("w2"), *buckets("m2", "kd")
    )
    ek = de.groupBy(F.col("e6").alias("e8")).agg(
        F.count(F.lit(1)).cast("long").alias("n1e")
    )
    nal = de.agg(F.count(F.lit(1)).cast("long").alias("nal"))
    cc5 = ccounts(g5, "c5", "s5")
    cc4 = ccounts(bcde, "m4", "s4")
    cc3 = ccounts(cde, "m3", "s3")
    cc2 = ccounts(de, "m2", "s2")

    lpu = (
        g5.join(
            abcd,
            (F.col("a") == F.col("a1")) & (F.col("b") == F.col("b1"))
            & (F.col("c") == F.col("c1")) & (F.col("d") == F.col("d1")),
        )
        .join(
            bcde,
            (F.col("b") == F.col("b2")) & (F.col("c") == F.col("c2"))
            & (F.col("d") == F.col("d2")) & (F.col("e") == F.col("e2")),
        )
        .join(
            bcd,
            (F.col("b") == F.col("b3")) & (F.col("c") == F.col("c3k"))
            & (F.col("d") == F.col("d3")),
        )
        .join(
            cde,
            (F.col("c") == F.col("c4")) & (F.col("d") == F.col("d4"))
            & (F.col("e") == F.col("e4")),
        )
        .join(cd, (F.col("c") == F.col("c5k")) & (F.col("d") == F.col("d5")))
        .join(de, (F.col("d") == F.col("d6")) & (F.col("e") == F.col("e6")))
        .join(dk, F.col("d") == F.col("d7"))
        .join(ek, F.col("e") == F.col("e8"))
        .crossJoin(F.broadcast(nal))
        .crossJoin(F.broadcast(cc5))
        .crossJoin(F.broadcast(cc4))
        .crossJoin(F.broadcast(cc3))
        .crossJoin(F.broadcast(cc2))
        .selectExpr("pg AS pg_k", f"{MKN5_LPU_EXPR} AS lpu")
    )
    lpu._stage_caches = [bcde, cde, de]
    return gpg, ndocs, g5, lpu


def mkn_5gram_logprob_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-slice corpus-self perplexity under MODIFIED Kneser-Ney at
    order 5 — KenLM's estimator. Same model-table architecture as
    :func:`kn_5gram_doc_nll`, plus per-context count-bucket tallies
    (N1/N2/N3+ extensions) and four 1-row count-of-count scalar frames
    (one per order, broadcast — provably-scalar crossJoins). Returns
    ``(g, n_docs, n_5grams, nll_micro)``. Round-15 shape: score table
    attaches at (g, pg)-count grain (:func:`_kn5_group_counts`)."""
    gpg, ndocs, g5, lpu = _mkn5_score_parts(df, group_col, text_col, id_col)
    out = (
        gpg.join(lpu, gpg.pg == lpu.pg_k)
        .groupBy("g")
        .agg(
            F.sum("cgp").cast("long").alias("n_5grams"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu").cast("decimal(38,0)")
            ).alias("slpu"),
        )
        .join(F.broadcast(ndocs), "g")
        .selectExpr("g", "n_docs", "n_5grams", "(-slpu) div n_5grams AS nll_micro")
    )
    out._stage_caches = [gpg, g5, *getattr(lpu, "_stage_caches", [])]
    return out


def mkn_5gram_quantized_delta_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quantized-serving delta for the PRODUCTION estimator (round 14 —
    KenLM's ``-q 8`` on the modified-KN model): the per-gram mKN score
    table snapped to the 255-bin integer cache (`KN5_QUANT_EXPR_TPL`,
    zero float surface), reported per slice beside the full-precision
    scores: ``(g, n_docs, n_5grams, nll_mkn, nll_mkn_q8, n_model)``.
    The score table is persisted across its two consumers (min/max
    scalar + the count-grain join)."""
    gpg, ndocs, g5, lpu = _mkn5_score_parts(df, group_col, text_col, id_col)
    scored = lpu.selectExpr("pg_k", "lpu AS lpu_p").persist()
    mm = scored.agg(
        F.min("lpu_p").cast("long").alias("minu"),
        F.max("lpu_p").cast("long").alias("maxu"),
    )
    served = scored.crossJoin(F.broadcast(mm)).selectExpr(
        "pg_k", "lpu_p", f"{KN5_QUANT_EXPR} AS lpu_q"
    )
    n_model = g5.agg(F.count(F.lit(1)).cast("long").alias("n_model"))
    out = (
        gpg.join(served, gpg.pg == served.pg_k)
        .groupBy("g")
        .agg(
            F.sum("cgp").cast("long").alias("n_5grams"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu_p").cast("decimal(38,0)")
            ).alias("slp"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu_q").cast("decimal(38,0)")
            ).alias("slq"),
        )
        .join(F.broadcast(ndocs), "g")
        .crossJoin(F.broadcast(n_model))
        .selectExpr(
            "g", "n_docs", "n_5grams",
            "(-slp) div n_5grams AS nll_mkn",
            "(-slq) div n_5grams AS nll_mkn_q8",
            "n_model",
        )
    )
    out._stage_caches = [gpg, g5, scored, *getattr(lpu, "_stage_caches", [])]
    return out


def ccnet_router_order_delta(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Routing-decision delta for the ORDER upgrade trigram -> 5-gram
    (round 13 completes the router ladder: unigram -> KN3 was the
    round-12 delta; KN3 -> KN5 is the upgrade a production CCNet
    deployment actually evaluates). Both models score the SAME population
    (docs with >= 5 tokens — the 5-gram-scoreable set, a subset of the
    KN3 set, enforced by the inner doc join), exact per-slice terciles
    each via ONE stacked rank pass, and the report counts kept vs moved
    buckets per slice split by direction (``n_5g_stricter`` = the 5-gram
    routes the doc to a WORSE bucket — trigram-consistent chimeras move
    exactly this way). Returns
    ``(g, n_docs, n_same, n_5g_stricter, n_5g_looser)``."""
    d5 = kn_5gram_doc_nll(df, group_col, text_col, id_col)
    d3 = kn_trigram_doc_nll(df, group_col, text_col, id_col)
    pop = (
        d5.select(id_col, "g", F.col("nll").alias("n5"))
        .join(d3.select(id_col, F.col("nll").alias("n3")), id_col)
        .localCheckpoint(eager=True)
    )
    stacked = pop.selectExpr("concat('f|', g) AS g", "n5 AS v").unionByName(
        pop.selectExpr("concat('t|', g) AS g", "n3 AS v")
    )
    cuts0 = _exact_tercile_cuts(stacked.select("g", F.col("v")), "v")
    cut_caches = list(getattr(cuts0, "_stage_caches", []))
    cuts = cuts0.localCheckpoint(eager=True)

    def rank(val: str, t1: str, t2: str):
        return (
            F.when(F.col(val) <= F.col(t1), F.lit(0))
            .when(F.col(val) <= F.col(t2), F.lit(1))
            .otherwise(F.lit(2))
        )

    c5 = cuts.where(F.col("g").startswith("f|")).select(
        F.expr("substring(g, 3)").alias("gf"),
        F.col("t1").alias("f1"),
        F.col("t2").alias("f2"),
    )
    c3 = cuts.where(F.col("g").startswith("t|")).select(
        F.expr("substring(g, 3)").alias("gt"),
        F.col("t1").alias("t1k"),
        F.col("t2").alias("t2k"),
    )
    staged = (
        pop.join(F.broadcast(c5), pop.g == c5.gf)
        .join(F.broadcast(c3), pop.g == c3.gt)
        .select(
            "g",
            rank("n5", "f1", "f2").alias("r5"),
            rank("n3", "t1k", "t2k").alias("r3"),
        )
    )
    out = staged.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("r5") == F.col("r3")).cast("long")).cast("long").alias("n_same"),
        F.sum((F.col("r5") > F.col("r3")).cast("long")).cast("long").alias("n_5g_stricter"),
        F.sum((F.col("r5") < F.col("r3")).cast("long")).cast("long").alias("n_5g_looser"),
    )
    out._stage_caches = (
        list(getattr(d5, "_stage_caches", []))
        + list(getattr(d3, "_stage_caches", []))
        + cut_caches
    )
    return out


# ---------------------------------------------------------------------------
# Round 14: KN model PRUNING + QUANTIZED SERVING — KenLM's production step
# (`--prune` count thresholds, `-q` probability quantization): at 100 TB
# the 5-gram table is itself a big-data object, and what ships is a
# reduced, quantized artifact, not the raw counts.
# ---------------------------------------------------------------------------

#: Interpolated KN at order 5 evaluated against a REDUCED model table:
#: every level falls back to the next-lower continuation distribution when
#: its context is absent from the pruned model (guarded CASE per level —
#: on an unpruned model every guard is true and the arithmetic reduces to
#: KN5_LP_EXPR exactly). Stats suffixed `p` are the PRUNED model's,
#: coalesced to 0 on join miss; `nalp > 0` is a documented precondition
#: (an empty pruned model serves nothing). The unseen-token floor is
#: 0.5/nalp (half one continuation-type's mass).
_KN5P_P1 = "(CASE WHEN n1ep > 0 THEN n1ep * 1e0 / nalp ELSE 5e-1 / nalp END)"
_KN5P_P2 = (
    "(CASE WHEN w2p > 0 THEN (greatest(m2p - 7.5e-1, 0e0) + 7.5e-1 * l2p * "
    f"{_KN5P_P1}) / w2p ELSE {_KN5P_P1} END)"
)
_KN5P_P3 = (
    "(CASE WHEN w3p > 0 THEN (greatest(m3p - 7.5e-1, 0e0) + 7.5e-1 * l3p * "
    f"{_KN5P_P2}) / w3p ELSE {_KN5P_P2} END)"
)
_KN5P_P4 = (
    "(CASE WHEN w4p > 0 THEN (greatest(m4p - 7.5e-1, 0e0) + 7.5e-1 * l4p * "
    f"{_KN5P_P3}) / w4p ELSE {_KN5P_P3} END)"
)
KN5_PRUNED_LP_EXPR = (
    "ln(CASE WHEN cabcdp > 0 THEN (greatest(c5p - 7.5e-1, 0e0) + "
    f"7.5e-1 * nabcdp * {_KN5P_P4}) / cabcdp ELSE {_KN5P_P4} END)"
)
KN5_PRUNED_LPU_EXPR = f"CAST(ROUND(({KN5_PRUNED_LP_EXPR}) * 1e6) AS BIGINT)"

#: 8-bit quantized serving cache: per-gram log-prob micros snapped to 255
#: uniform bins over [minu, maxu] — integer round-half-up encode + decode
#: (positive shifted operands, so Spark `div` == DuckDB `//`); span 0
#: degenerates to minu. Shared verbatim by both engines.
KN5_QUANT_BINS = 255
#: template — floor division is spelled `div` in Spark SQL and `//` in
#: DuckDB ({d} placeholder); all operands are nonnegative integers, so the
#: quotients are exact on both engines (no float surface at all)
KN5_QUANT_EXPR_TPL = (
    "CAST(CASE WHEN maxu > minu THEN minu + "
    f"((2 * ((2 * (lpu_p - minu) * {KN5_QUANT_BINS} + (maxu - minu)) "
    f"{{d}} (2 * (maxu - minu))) * (maxu - minu) + {KN5_QUANT_BINS}) "
    f"{{d}} (2 * {KN5_QUANT_BINS})) "
    "ELSE minu END AS BIGINT)"
)
KN5_QUANT_EXPR = KN5_QUANT_EXPR_TPL.format(d="div")


def kn_5gram_pruned_delta_by_group(
    df: DataFrame,
    min_count: int = 2,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-slice perplexity decision table FULL vs PRUNED vs
    PRUNED+QUANTIZED — the report that says what shipping the reduced
    artifact costs: ``(g, n_docs, n_5grams, nll_full, nll_pruned,
    nll_pruned_q8, n_model_full, n_model_pruned)`` on the exact micro
    grid.

    Pruning semantics (documented, self-consistent): the served model
    keeps 5-grams with ``c5 >= min_count`` and REBUILDS every suffix
    table from the pruned top level (so backoff mass genuinely moves —
    the naive pin exercises exactly that); scoring falls back level by
    level via the guarded shared expression `KN5_PRUNED_LP_EXPR`.
    Quantization snaps the served per-gram score table to 255 uniform
    integer bins (`KN5_QUANT_EXPR`) — the 8-bit cache KenLM's ``-q 8``
    ships.

    Architecture: ONE persisted distinct-5-gram table; full and pruned
    chains are both keyed groupBys of it; the score build is model-grain
    keyed joins (never a corpus re-scan); the only single-row frames are
    the licensed scalar broadcasts (nal+nalp, min/max). Round-15 shape:
    score table attaches at (g, pg)-count grain
    (:func:`_kn5_group_counts`) instead of per corpus position.

    Optimization round 15 (guide §2.4 — two aggregations keyed the same
    way share one exchange): the pruned suffix chain is FUSED into the
    full chain as conditional aggregates. Every pruned table was a keyed
    groupBy over ``g5p = g5 WHERE c5 >= min_count`` (or over the previous
    pruned level, itself a filtered subset of the full level's input), so
    each pruned stat is exactly the full groupBy's aggregate restricted
    to the surviving rows — ``count(when(cond, 1))`` /
    ``count_distinct(when(cond, e))`` / ``sum(when(cond, c5))`` in the
    SAME groupBy. A context absent from the pruned model then carries
    stat 0 instead of being a join miss, which the scorer already defined
    as equivalent (the COALESCE(...,0) + ``> 0`` level guards in
    `KN5_PRUNED_LP_EXPR`). Plan effect: 18 groupBys + 17 joins + 2 scalar
    crossJoins collapse to 9 groupBys + 8 joins + 1 scalar crossJoin, and
    the per-gram pruned count needs no join at all
    (``when(c5 >= min_count, c5) else 0``)."""
    gpg, ndocs = _kn5_group_counts(df, group_col, text_col, id_col)
    g5 = _kn5_model_table(gpg)

    mc = int(min_count)
    kept = F.col("c5") >= mc  # the gram survives pruning

    def cnt_if(cond, alias: str) -> F.Column:
        return F.count(F.when(cond, F.lit(1))).cast("long").alias(alias)

    def sum_if(col: str, alias: str) -> F.Column:
        return F.sum(F.col(col)).cast("long").alias(alias)

    def cnt_pos(col: str, alias: str) -> F.Column:
        # |rows with col > 0| — the one-level-down image of cntd_if: a
        # distinct suffix key survives in the pruned chain iff its child
        # level carries >= 1 surviving row, and the child level's p-stat
        # IS that row count, so "distinct keys with a surviving row"
        # becomes "child rows with p-stat > 0" (exact, distinct grain).
        return F.count(F.when(F.col(col) > 0, F.lit(1))).cast("long").alias(alias)

    # one dual-stat suffix chain: full stats + pruned stats per key.
    # Optimization round 16 (same change as _kn5_score_table): persist
    # each level; bcd/cd/dk derive from the PERSISTED level above instead
    # of re-aggregating g5/bcde/cde per consumer —
    #   w4  = SUM(m4),  l4 = COUNT(1), w4p = SUM(m4p), l4p = |m4p>0| over bcde
    #   w3  = SUM(m3),  l3 = COUNT(1), w3p = SUM(m3p), l3p = |m3p>0| over cde
    #   w2  = SUM(m2),  l2 = COUNT(1), w2p = SUM(m2p), l2p = |m2p>0| over de
    # (each a restatement of the old g5/bcde/cde-grain aggregate at the
    # distinct-key grain one level down; cnt_if(kept) == SUM of child
    # kept-counts, cntd_if(kept, key) == COUNT of child keys with > 0.)
    abcd = g5.groupBy(
        F.col("a").alias("a1"), F.col("b").alias("b1"),
        F.col("c").alias("c1"), F.col("d").alias("d1"),
    ).agg(
        F.sum("c5").cast("long").alias("cabcd"),
        F.count(F.lit(1)).cast("long").alias("nabcd"),
        F.sum(F.when(kept, F.col("c5")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cabcdp"),
        cnt_if(kept, "nabcdp"),
    )
    bcde = g5.groupBy(
        F.col("b").alias("b2"), F.col("c").alias("c2"),
        F.col("d").alias("d2"), F.col("e").alias("e2"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("m4"),
        cnt_if(kept, "m4p"),
    ).persist()
    bcd = bcde.groupBy(
        F.col("b2").alias("b3"), F.col("c2").alias("c3"),
        F.col("d2").alias("d3"),
    ).agg(
        sum_if("m4", "w4"),
        F.count(F.lit(1)).cast("long").alias("l4"),
        sum_if("m4p", "w4p"),
        cnt_pos("m4p", "l4p"),
    )
    in_p4 = F.col("m4p") > 0  # the 4-gram suffix survives in the pruned model
    cde = bcde.groupBy(
        F.col("c2").alias("c4"), F.col("d2").alias("d4"), F.col("e2").alias("e4")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("m3"),
        cnt_if(in_p4, "m3p"),
    ).persist()
    cd = cde.groupBy(F.col("c4").alias("c5k"), F.col("d4").alias("d5")).agg(
        sum_if("m3", "w3"),
        F.count(F.lit(1)).cast("long").alias("l3"),
        sum_if("m3p", "w3p"),
        cnt_pos("m3p", "l3p"),
    )
    in_p3 = F.col("m3p") > 0
    de = cde.groupBy(F.col("d4").alias("d6"), F.col("e4").alias("e6")).agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        cnt_if(in_p3, "m2p"),
    ).persist()
    dk = de.groupBy(F.col("d6").alias("d7")).agg(
        sum_if("m2", "w2"),
        F.count(F.lit(1)).cast("long").alias("l2"),
        sum_if("m2p", "w2p"),
        cnt_pos("m2p", "l2p"),
    )
    in_p2 = F.col("m2p") > 0
    ek = de.groupBy(F.col("e6").alias("e8")).agg(
        F.count(F.lit(1)).cast("long").alias("n1e"),
        cnt_if(in_p2, "n1ep"),
    )
    nals = de.agg(
        F.count(F.lit(1)).cast("long").alias("nal"),
        cnt_if(in_p2, "nalp"),
    )

    def j(left: DataFrame, right: DataFrame, pairs) -> DataFrame:
        cond = None
        for lc, rc in pairs:
            this = F.col(lc) == F.col(rc)
            cond = this if cond is None else (cond & this)
        return left.join(right, cond)

    score = g5.withColumn(
        "c5p", F.when(kept, F.col("c5")).otherwise(F.lit(0)).cast("long")
    )
    score = j(score, abcd, [("a", "a1"), ("b", "b1"), ("c", "c1"), ("d", "d1")])
    score = j(score, bcde, [("b", "b2"), ("c", "c2"), ("d", "d2"), ("e", "e2")])
    score = j(score, bcd, [("b", "b3"), ("c", "c3"), ("d", "d3")])
    score = j(score, cde, [("c", "c4"), ("d", "d4"), ("e", "e4")])
    score = j(score, cd, [("c", "c5k"), ("d", "d5")])
    score = j(score, de, [("d", "d6"), ("e", "e6")])
    score = j(score, dk, [("d", "d7")])
    score = j(score, ek, [("e", "e8")])
    score = score.crossJoin(F.broadcast(nals))

    coalesced = score.selectExpr(
        "pg AS pg_k",
        f"{KN5_LPU_EXPR} AS lpu_f",
        f"{KN5_PRUNED_LPU_EXPR} AS lpu_p",
    )
    coalesced = coalesced.persist()

    minmax = coalesced.agg(
        F.min("lpu_p").cast("long").alias("minu"),
        F.max("lpu_p").cast("long").alias("maxu"),
    )
    served = coalesced.crossJoin(F.broadcast(minmax)).selectExpr(
        "pg_k", "lpu_f", "lpu_p", f"{KN5_QUANT_EXPR} AS lpu_q"
    )

    sizes = g5.agg(
        F.count(F.lit(1)).cast("long").alias("n_model_full"),
        F.sum((F.col("c5") >= min_count).cast("long"))
        .cast("long")
        .alias("n_model_pruned"),
    )
    out = (
        gpg.join(served, gpg.pg == served.pg_k)
        .groupBy("g")
        .agg(
            F.sum("cgp").cast("long").alias("n_5grams"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu_f").cast("decimal(38,0)")
            ).alias("slf"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu_p").cast("decimal(38,0)")
            ).alias("slp"),
            F.sum(
                F.col("cgp").cast("decimal(38,0)")
                * F.col("lpu_q").cast("decimal(38,0)")
            ).alias("slq"),
        )
        .join(F.broadcast(ndocs), "g")
        .crossJoin(F.broadcast(sizes))
        .selectExpr(
            "g", "n_docs", "n_5grams",
            "(-slf) div n_5grams AS nll_full",
            "(-slp) div n_5grams AS nll_pruned",
            "(-slq) div n_5grams AS nll_pruned_q8",
            "n_model_full", "n_model_pruned",
        )
    )
    out._stage_caches = [gpg, g5, coalesced, bcde, cde, de]
    return out
