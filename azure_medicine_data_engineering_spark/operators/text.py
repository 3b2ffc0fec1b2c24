"""Text-analysis operators for training-data pipelines (BASELINE.json scale
extensions; no counterpart in the reference — its text handling stops at
label normalization, ``HypothesisTestingPrediction.scala:107-115``).

All operators are pure Column expressions (JVM-side, whole-stage codegen;
no UDFs): tokenization, token/char statistics, quality scoring, n-gram
heuristic language ID, and document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.sources.readers import from_rows

#: Marker stopwords per language for the n-gram/stopword language heuristic.
#: Deliberately tiny: the mechanism (per-language marker hit counts + fixed
#: priority argmax) is the operator; swap in real lists for production.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "los", "que", "y"],
    "fr": ["le", "les", "des", "et", "du", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "zh": ["的", "是", "不", "了", "在"],
}

#: English stopwords for the quality score's stopword-ratio component.
QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: One token per letter run, digit run, or single punctuation mark — a cheap
#: subword proxy. Counting matches (not splitting with lookarounds) keeps the
#: pattern expressible in RE2 engines (DuckDB oracle) as well as Java regex.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate (see :data:`BPE_ISH_PATTERN`)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def avg_token_length(text: Column) -> Column:
    t = tokens(text)
    # long seed: an INT fold wraps for a single document over ~2^31 chars
    total = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return total / F.nullif(F.size(t), F.lit(0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    t = tokens(F.lower(text))
    sw = F.array(*[F.lit(w) for w in (stopwords or QUALITY_STOPWORDS)])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return hits / F.nullif(F.size(t), F.lit(0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.nullif(F.length(text), F.lit(0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation + stopword
    presence − punctuation excess. The formula is engine-defined; both the
    Spark and oracle sides compute it identically."""
    n = token_count(text)
    len_component = F.least(n / F.lit(100.0), F.lit(1.0))
    sw_component = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * 10.0, F.lit(1.0))
    return 0.5 * len_component + 0.4 * sw_component - 0.1 * punct_penalty


def marker_hits(text: Column, lang: str) -> Column:
    t = tokens(F.lower(text))
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(t, lambda x: F.array_contains(markers, x)))


def predict_language(text: Column) -> Column:
    """Stopword-count argmax with fixed priority order (en→es→fr→de→zh);
    'und' when no marker hits at all."""
    counts = {lang: marker_hits(text, lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alphanumerics → space,
    whitespace collapsed, trimmed."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9]+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text."""
    return F.md5(normalized_text(text))


#: PII categories → (RE2-safe pattern, replacement token). Ordered: the
#: email pattern must run before the bare-digit ones cannot touch it, and
#: 16-digit card runs before the shorter phone shape. No lookarounds (RE2 /
#: DuckDB compatible); plain Java regex on the Spark side matches the same
#: spans.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    ("card", r"\b\d{16}\b", "[CARD]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (regexp_count — one codegen pass)."""
    return {
        name: F.regexp_count(text, F.lit(pat)).cast("int")
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII span with its category token, in the fixed
    PII_PATTERNS order. Pure regexp_replace chain — JVM-side, no UDF; at
    100 TB this is a map-only pass over the text column."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document statistics table (one pass, all codegen)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).cast("int").alias("n_chars"),
        token_count(t).cast("int").alias("n_tokens"),
        F.round(avg_token_length(t).cast("double"), 4).alias("avg_token_len"),
        F.round(stopword_ratio(t).cast("double"), 4).alias("stopword_ratio"),
        F.round(punct_ratio(t).cast("double"), 4).alias("punct_ratio"),
        F.round(quality_score(t).cast("double"), 4).alias("quality"),
    )


def subword_vocab_candidates(
    df: DataFrame,
    top_k: int = 40,
    max_len: int = 4,
    text_col: str = "text",
    words_freq: DataFrame | None = None,
) -> DataFrame:
    """WordPiece-style subword vocabulary induction, round one: corpus-wide
    frequencies of every candidate unit — word-initial prefixes bare,
    word-internal substrings marked '##' (the continuing-piece convention)
    — weighted by word OCCURRENCES, then the top-k candidates. This is the
    counting pass a WordPiece/BPE trainer iterates; one round is the
    vocabulary seed (Schuster & Nakajima 2012; Wu et al. 2016).

    Scale: tokenize + piece fan-out are map-only array expressions; one
    hash aggregation on the piece string (map-side combined), then
    TakeOrderedAndProject for the top-k — never a full sort.

    ``words_freq`` (round 12): an optional pre-collapsed DISTINCT-word
    frequency frame ``(_w, f)`` of the raw whitespace tokens; the piece
    fan-out then runs per distinct word weighted by ``f`` — identical
    counts, and on low-entropy corpora (31 distinct words across 270k
    occurrences at sf0.1) the explode shrinks by four orders of
    magnitude. Callers composing several tokenizer families share ONE
    collapse (``tokenizer_family_report``)."""
    from pyspark.sql.window import Window

    pieces = F.expr(
        f"""
        concat(
          transform(sequence(1, least({max_len}, length(_w))),
                    L -> substr(_w, 1, L)),
          CASE WHEN length(_w) >= 2 THEN
            flatten(transform(sequence(2, length(_w)),
              s -> transform(sequence(1, least({max_len}, length(_w) - s + 1)),
                             L -> concat('##', substr(_w, s, L)))))
          ELSE CAST(array() AS ARRAY<STRING>) END
        )
        """
    )
    if words_freq is not None:
        counted = (
            words_freq.select(F.explode(pieces).alias("piece"), "f")
            .groupBy("piece")
            .agg(F.sum("f").cast("long").alias("cnt"))
        )
    else:
        counted = (
            df.select(F.explode(tokens(F.col(text_col))).alias("_w"))
            .select(F.explode(pieces).alias("piece"))
            .groupBy("piece")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
    w = Window.orderBy(F.desc("cnt"), "piece")
    return (
        counted.orderBy(F.desc("cnt"), "piece")
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def wordpiece_tokenize_stats(
    df: DataFrame,
    vocab: list[str],
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a WordPiece vocabulary (greedy longest-match, '##' continuation,
    whole-word [UNK] on any match failure — Wu et al. 2016's inference rule)
    and report per document ``(id, n_words, n_pieces, n_unk)``.

    The serving half of :func:`subword_vocab_candidates`: induce the vocab
    once, tokenize the corpus forever. The matcher is inherently a per-word
    sequential loop, so it runs as an Arrow-batched ``mapInPandas`` kernel —
    but ONLY over the DISTINCT word table (vocabulary-sized, not
    corpus-sized); per-document stats come from joining word results back
    to the exploded corpus and aggregating JVM-side. The vocab itself is a
    model artifact (closure-captured set, like the hashed-linear weight
    table). Deterministic: pure string matching, no floats."""
    words = wordpiece_word_pieces(
        df.select(F.explode(tokens(F.col(text_col))).alias("w")).distinct(),
        vocab,
        max_len,
    )
    exploded = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w"))
    return (
        exploded.join(words, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("w_pieces").cast("long").alias("n_pieces"),
            F.sum("w_unk").cast("long").alias("n_unk"),
        )
    )


def wordpiece_word_pieces(
    words_df: DataFrame, vocab: list[str], max_len: int = 4
) -> DataFrame:
    """Greedy longest-match WordPiece segmentation of a DISTINCT-word
    frame (column ``w``) -> ``(w, w_pieces, w_unk)`` — the Arrow kernel
    shared by :func:`wordpiece_tokenize_stats` and the composed tokenizer
    report (round 12). Whole-word [UNK] counts as one piece."""
    from collections.abc import Iterator

    import pandas as pd

    vocab_set = frozenset(vocab)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def tok(word: str) -> tuple[int, int]:
            pos, n = 0, 0
            size = len(word)
            while pos < size:
                for length in range(min(max_len, size - pos), 0, -1):
                    cand = ("##" if pos else "") + word[pos : pos + length]
                    if cand in vocab_set:
                        n += 1
                        pos += length
                        break
                else:
                    return 1, 1
            return n, 0

        for b in batches:
            res = [tok(w) for w in b["w"]]
            yield pd.DataFrame(
                {
                    "w": b["w"],
                    "w_pieces": [r[0] for r in res],
                    "w_unk": [r[1] for r in res],
                }
            )

    return words_df.select("w").mapInPandas(
        kernel, "w string, w_pieces long, w_unk long"
    )


def bpe_merge_train(
    df: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    batch_k: int = 1,
    words_freq: DataFrame | None = None,
) -> DataFrame:
    """BPE merge-loop tokenizer TRAINING (Sennrich et al. 2016): the
    iterative half of the subword story next to the counting pass
    (:func:`subword_vocab_candidates`) and greedy serving
    (:func:`wordpiece_tokenize_stats`); cross-language boundary analog in
    the reference: ``Hypothesis testing R.r:354-359`` (train small, serve
    distributed). Each round counts adjacent symbol pairs over the
    DISTINCT-WORD frequency table (overlapping pairs included, per the
    reference implementation's ``zip(word, word[1:])``), merges the
    globally most frequent pair (ties: count DESC, left ASC, right ASC —
    deterministic on the [a-z] alphabet), and rewrites every word's symbol
    sequence. Returns one row per merge:
    ``(merge_idx, left_sym, right_sym, pair_count)``.

    Engine-portable symbol encoding: a word's symbol sequence is the
    string ``|s1||s2||...|`` — every symbol owns BOTH its delimiters, so
    the merge rewrite is a single ``replace(s, '|a||b|', '|ab|')`` whose
    leftmost-non-overlapping semantics are identical in Spark and DuckDB
    (and are exactly BPE's simultaneous left-to-right merge), and no
    match can ever cross a symbol boundary. Words are lowercased and
    filtered to ``^[a-z]+$`` so ``|`` cannot collide with corpus bytes.

    Scale: the corpus collapses ONCE to the distinct-word table (hash
    aggregation); every round after that is (1) a map-side split+explode
    of that table, (2) one keyed pair-count shuffle with map-side
    combine, (3) a 1-row TakeOrderedAndProject argmax, (4) a map-only
    broadcast-join rewrite. Rounds are a fixed caller-chosen count, so
    the lineage is a finite DAG; each round's word frame is persisted
    (word-table-sized) and stashed on ``_stage_caches`` (caller-owned
    lifecycle, repo convention). At 100 TB the word table is the corpus
    vocabulary — millions of rows, not corpus-sized — which is what makes
    the per-round shuffles cheap.

    ``batch_k > 1`` enables BATCHED training (the standard parallel-BPE
    trick; round-5 verdict ask #4): each round collects the bounded
    top-``8*batch_k`` pair candidates (driver-side, <= a few hundred
    rows — NOT a data-sized collect), greedily selects up to ``batch_k``
    pairs whose symbol sets are mutually disjoint AND whose merged
    concatenations don't collide with any other selected pair's symbols
    or concat (so no selected rewrite can create or destroy another
    selected pair's occurrences), and applies them all in ONE chained
    leftmost-non-overlapping rewrite. This turns an ``n_merges``-round
    sequential loop (one Spark job per merge — unusable at 30k-merge
    production vocabs) into ``~n_merges/batch_k`` rounds. ``batch_k=1``
    reproduces the sequential path EXACTLY (pytest-pinned); for
    ``batch_k>1`` the selection can LEGALLY diverge from sequential BPE:
    after the round's #1 merge, sequential BPE re-counts and may find a
    brand-new pair involving the merged symbol that outranks the stale
    #2 — batched selection uses the round-start counts by construction
    (planted divergence case pinned in ``tests/test_bpe_batched.py``).
    Reported ``pair_count`` is the round-start count each pair was
    selected on. Lineage: each round ends in an eager ``localCheckpoint``
    (the word frame is vocabulary-sized), so analysis cost stays linear
    in rounds and the previous round's blocks are released on GC."""
    if batch_k > 1:
        return _bpe_merge_train_batched(df, n_merges, text_col, batch_k)
    if words_freq is not None:
        # round 12: optional pre-collapsed (_w, f) frame, already
        # lowercased and ^[a-z]+$-gated — shared-collapse composition
        # (tokenizer_family_report); identical results by construction
        words = words_freq.select(
            F.regexp_replace("_w", "(.)", r"|$1|").alias("s"), "f"
        )
    else:
        words = (
            df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"))
            .where(F.col("_w").rlike("^[a-z]+$"))
            .groupBy("_w")
            .agg(F.count(F.lit(1)).cast("long").alias("f"))
            .select(F.regexp_replace("_w", "(.)", r"|$1|").alias("s"), "f")
        )
    # Optimization round 15 (guide §5/§1.2): the 1-row argmax is COLLECTED
    # (bounded — vocab grain, the same class as the caller's own merges
    # collect), so the rewrite becomes a LAZY literal replace stacked on
    # the one eagerly-checkpointed word frame: ONE Spark job per round
    # instead of two full word-frame materializations (the old per-round
    # top + cur checkpoints). The 2^n analysis blowup the checkpoints
    # cured cannot recur: the argmax no longer feeds two plan branches —
    # it is driver state — and the plan grows by one replace per round
    # (linear). Results are bit-identical (same aggregation, same
    # deterministic tie-break, same replace semantics with the collected
    # values inlined as literals).
    spark = words.sparkSession
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for i in range(1, n_merges + 1):
        toks = cur.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\|\|").alias("l"),
            "f",
        )
        pairs = (
            toks.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - 1).alias("a"),
                        F.slice(F.col("l"), 2, F.size("l") - 1).alias("b"),
                    )
                ).alias("p"),
                "f",
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "f")
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((i, a, b, cnt))
        cur = cur.select(
            F.replace(
                F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ).alias("s"),
            "f",
        )
    out = from_rows(
        spark,
        merges,
        "merge_idx int, left_sym string, right_sym string, pair_count long",
    )
    out._stage_caches = []
    return out


def _bpe_merge_train_batched(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    batch_k: int,
) -> DataFrame:
    """Batched BPE merge-loop body (see :func:`bpe_merge_train` docstring
    for semantics and the non-interference proof sketch). Per round:
    ONE keyed pair-count shuffle + ONE bounded ``top-8*batch_k`` collect
    + ONE chained-replace map-only rewrite + an eager localCheckpoint.
    The collect is candidate-list-sized (hundreds of rows), never
    data-sized; per-round wall-clock is recorded on the result as
    ``_round_secs`` so runners can report scaling (SCALE.md)."""
    import time as _time

    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"))
        .where(F.col("_w").rlike("^[a-z]+$"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .select(F.regexp_replace("_w", "(.)", r"|$1|").alias("s"), "f")
    )
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    round_secs: list[float] = []
    while len(merges) < n_merges:
        t0 = _time.monotonic()
        k = min(batch_k, n_merges - len(merges))
        toks = cur.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\|\|").alias("l"),
            "f",
        )
        pairs = toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("l", 1, F.size("l") - 1).alias("a"),
                    F.slice(F.col("l"), 2, F.size("l") - 1).alias("b"),
                )
            ).alias("p"),
            "f",
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "f")
        cand = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(8 * batch_k)
            .collect()
        )
        if not cand:
            break
        # Greedy symbol-disjoint selection: a pick (a, b) reserves a, b,
        # and a+b; later candidates touching any reserved string are
        # skipped this round (they stay eligible next round). The first
        # candidate always passes (used starts empty), so every round
        # makes progress and batch_k=1 degenerates to the exact argmax.
        used: set[str] = set()
        picked: list[tuple[str, str, int]] = []
        for r in cand:
            if len(picked) >= k:
                break
            a, b, cnt = r["a"], r["b"], int(r["cnt"])
            if a in used or b in used or (a + b) in used:
                continue
            picked.append((a, b, cnt))
            used.update((a, b, a + b))
        for a, b, cnt in picked:
            merges.append((len(merges) + 1, a, b, cnt))
        col = F.col("s")
        for a, b, _cnt in picked:
            col = F.replace(
                col,
                F.concat(F.lit("|"), F.lit(a), F.lit("||"), F.lit(b), F.lit("|")),
                F.concat(F.lit("|"), F.lit(a + b), F.lit("|")),
            )
        cur = cur.select(col.alias("s"), "f").localCheckpoint(eager=True)
        round_secs.append(_time.monotonic() - t0)
    out = from_rows(
        spark, merges, "merge_idx int, left_sym string, right_sym string, pair_count long"
    )
    out._round_secs = round_secs
    out._stage_caches = [cur]
    return out


def bpe_tokenize_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a trained BPE merge table (:func:`bpe_merge_train`'s output
    collected as a model artifact, like the WordPiece vocab list):
    applying the merges IN TRAINING ORDER to a word's character sequence
    is exactly the original BPE tokenizer's inference rule (Sennrich et
    al. 2016), and with the ``|s1||s2|`` delimited encoding each merge is
    one boundary-safe literal ``replace`` — the whole tokenizer is a
    fixed chain of JVM string ops, no UDF, no per-row loop.

    Runs over the DISTINCT word table only (the serving discipline of
    :func:`wordpiece_tokenize_stats`); per-doc stats re-join the exploded
    corpus. Words outside the trained ``^[a-z]+$`` alphabet are excluded
    from both counts (the training-side filter, applied identically at
    serving). Returns ``(id, n_words, n_pieces)``."""
    enc: Column = F.regexp_replace("_w", "(.)", r"|$1|")
    for a, b in merges:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    n_pieces = F.size(F.split(F.regexp_replace(enc, r"^\||\|$", ""), r"\|\|"))
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"))
        .where(F.col("_w").rlike("^[a-z]+$"))
        .distinct()
        .select("_w", n_pieces.cast("long").alias("_np"))
    )
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("_w")
    ).where(F.col("_w").rlike("^[a-z]+$"))
    return (
        exploded.join(words, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_np").cast("long").alias("n_pieces"),
        )
    )


FLESCH_EXPR = (
    "case when w > 0 then round(206.835e0 - 1.015e0 * (w * 1e0 / s) "
    "- 84.6e0 * (y * 1e0 / w), 4) end"
)


def flesch_reading_ease(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease score per document — the readability gate a
    text-quality pipeline quotes next to the length/stopword heuristics
    (quality_score): ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)``. Counts are RE2-safe regexp counts (JVM-side,
    no UDF): sentences = ``[.!?]+`` runs clamped to >= 1, syllables = the
    standard vowel-group heuristic ``[aeiouy]+`` runs over the lowercased
    text (vowel runs never cross whitespace, so the text-level count
    equals the per-word sum). The score is one shared expression over
    three exact integers — engine-identical. Returns
    ``(id, n_words, n_sentences, n_syllables, flesch)``."""
    w = token_count(F.col(text_col)).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("long"),
    )
    y = F.regexp_count(F.lower(F.col(text_col)), F.lit("[aeiouy]+")).cast("long")
    return df.select(
        F.col(id_col),
        w.alias("w"),
        s.alias("s"),
        y.alias("y"),
    ).select(
        id_col,
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        F.expr(FLESCH_EXPR).alias("flesch"),
    )


def bpe_merge_train_by_group(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-GROUP BPE training — one merge table per language in a SINGLE
    unrolled loop (the multilingual reality: per-language tokenizers
    trained side by side): each round counts pairs keyed by (group, a, b),
    takes the per-group argmax with a GROUP-KEYED row_number window (never
    a global ordering), and rewrites each group's words with ITS pair via
    a group join (``replace`` with column arguments). The per-round
    argmax frame is |groups| rows, eagerly localCheckpoint-ed (the same
    2^n lineage cut as :func:`bpe_merge_train`). Returns one row per
    (group, merge): ``(g, merge_idx, left_sym, right_sym, pair_count)``.

    A group whose words run out of pairs simply stops emitting rows
    (inner joins drop it) — groups are independent."""
    from pyspark.sql.window import Window

    words = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"),
        )
        .where(F.col("_w").rlike("^[a-z]+$"))
        .groupBy("g", "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .select("g", F.regexp_replace("_w", "(.)", r"|$1|").alias("s"), "f")
    )
    # Optimization round 15 (guide §5/§1.2 — the Change-8 pattern at group
    # grain): the per-round argmax is |groups| rows (bounded), so it is
    # COLLECTED and the rewrite becomes a lazy per-group literal
    # when-chain stacked on the ONE checkpointed word frame — one Spark
    # job per round instead of a checkpoint + a persist-chain link whose
    # analysis cost grew per round. A group absent from the round's argmax
    # (no pairs left) is filtered out exactly like the old inner join.
    spark = words.sparkSession
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple[str, int, str, str, int]] = []
    w_rank = Window.partitionBy("g").orderBy(F.desc("cnt"), "a", "b")
    for i in range(1, n_merges + 1):
        toks = cur.select(
            "g",
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\|\|").alias("l"),
            "f",
        )
        pairs = (
            toks.select(
                "g",
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - 1).alias("a"),
                        F.slice(F.col("l"), 2, F.size("l") - 1).alias("b"),
                    )
                ).alias("p"),
                "f",
            )
            .select("g", F.col("p.a").alias("a"), F.col("p.b").alias("b"), "f")
        )
        top = (
            pairs.groupBy("g", "a", "b")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .withColumn("_rn", F.row_number().over(w_rank))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .collect()  # |groups|-row bounded collect
        )
        if not top:
            break
        for r in sorted(top, key=lambda r: r["g"]):
            merges.append(
                (r["g"], i, r["a"], r["b"], int(r["cnt"]))
            )
        rewrite = None
        for r in top:
            branch = F.replace(
                F.col("s"),
                F.lit(f"|{r['a']}||{r['b']}|"),
                F.lit(f"|{r['a']}{r['b']}|"),
            )
            cond = F.col("g") == F.lit(r["g"])
            rewrite = (
                F.when(cond, branch)
                if rewrite is None
                else rewrite.when(cond, branch)
            )
        cur = cur.where(
            F.col("g").isin([r["g"] for r in top])
        ).select("g", rewrite.alias("s"), "f")
    out = from_rows(
        spark,
        merges,
        "g string, merge_idx int, left_sym string, right_sym string,"
        " pair_count long",
    )
    out._stage_caches = []
    return out


#: Chao1 species-richness estimate from the count-of-counts frame:
#: vocab + F1^2 / (2 F2), the classic singleton/doubleton lower bound.
CHAO1_EXPR = (
    "round(vocab + case when f2 = 0 then 0e0 "
    "else f1 * 1e0 * f1 / (2e0 * f2) end, 4)"
)


def good_turing_ngram_mass(
    df: DataFrame, n: int = 4, text_col: str = "text"
) -> DataFrame:
    """Good-Turing unseen-mass and Chao1 vocabulary-richness estimates
    over the corpus n-gram distribution — the smoothing/coverage
    diagnostics behind Katz-style LM backoff and "how much of the
    n-gram space has this corpus actually seen" curation questions
    (extends the n-gram LM family, :mod:`text_rank`; no reference
    counterpart — its text handling stops at label normalization,
    ``HypothesisTestingPrediction.scala:107-115``).

    One shingle explode + one keyed count + ONE global aggregation to
    four integers: total n-gram tokens N, distinct V, singletons F1,
    doubletons F2. ``p0_unseen = F1/N`` (Good-Turing estimate of the
    probability mass on unseen n-grams) on the integer micro grid;
    ``chao1 = V + F1²/(2·F2)`` via the shared expression. Scale: the
    only shuffle is the n-gram count (map-side combine); the
    count-of-counts state is one row."""
    from azure_medicine_data_engineering_spark.operators import dedup

    counts = (
        df.select(F.explode(dedup.word_shingles(F.col(text_col), n)).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scal = counts.agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return scal.select(
        "n_grams",
        "vocab",
        "f1",
        "f2",
        (F.expr("f1 * 1000000 div n_grams") / 1e6).alias("p0_unseen"),
        F.expr(CHAO1_EXPR).alias("chao1"),
    )
